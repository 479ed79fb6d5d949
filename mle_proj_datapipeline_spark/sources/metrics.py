"""Managed-table locations of the engine's persisted artifacts.

Every persisted artifact — the lifecycle metrics store and model
registry (SURVEY.md §2 A7, L4; plans/lifecycle_queries.py), the ANN
indexes, the served count models and the graph snapshots — is a
snapshot table (sources/snapshots.py) pinned by
``snapshots.pinned_snapshot`` under the directory ``table_root``
names. The reference writes its metrics to Postgres and its promotions
to an MLflow registry; this container has neither server, so immutable
parquet + manifest commits give the same durable write→read-back
contract, plus time travel the reference lacks.
"""

from __future__ import annotations

import os


def warehouse_root() -> str:
    """Managed-table root: $SPARK_GRAFT_WAREHOUSE or <repo>/spark-warehouse."""
    env = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if env:
        return env
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(os.path.dirname(pkg_dir), "spark-warehouse")


def table_root(name: str, sf_dir: str) -> str:
    """Warehouse directory of table ``name`` for the corpus at
    ``sf_dir``, tagged by the corpus directory's name."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(warehouse_root(), f"{name}_{tag}")
