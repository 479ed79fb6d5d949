"""Docs stay truthful (VERDICT r2 item 9): the README's registry counts
must equal ``len(QUERIES)`` — one source of truth, so coverage claims
never drift from the code again."""

from __future__ import annotations

import os
import re

import __spark_entry__ as entrymod

README = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "README.md")


def test_readme_query_counts_match_registry():
    text = open(README).read()
    n = len(entrymod.queries())
    n_oracled = len(entrymod.oracle_sql())
    claimed = re.search(r"\((\d+) named queries\)", text)
    assert claimed, "README no longer states the query count"
    assert int(claimed.group(1)) == n, (
        f"README claims {claimed.group(1)} queries, registry has {n}"
    )
    claimed_reg = re.search(r"the (\d+) registered queries", text)
    assert claimed_reg and int(claimed_reg.group(1)) == n
    claimed_oracle = re.search(r"`oracle_sql\(\)` \((\d+) exact DuckDB twins", text)
    assert claimed_oracle and int(claimed_oracle.group(1)) == n_oracled


def test_bench_headline_names_resolve():
    """Every bench headline name must exist in the registry — a rename
    or missing plan-module import silently shrinks the bench otherwise
    (the round-3 failure mode for the TPC-H additions)."""
    import bench

    from mle_proj_datapipeline_spark.plans.registry import QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"headline names not in registry: {missing}"


def test_dedup_facade_not_imported_by_engine_code():
    """The dedup kernels live in split modules (hashing, minhash,
    simhash_ngram, cc, ...); engine modules must import the specific
    kernel module, never a ``dedup``/``similarity`` re-export facade, or
    one kernel edit re-couples every dedup query's staleness closure
    through the facade. The facades were deleted, so none may return."""
    import pathlib

    pkg = pathlib.Path("mle_proj_datapipeline_spark")
    facades = [f for f in ("dedup", "similarity") if (pkg / "operators" / f"{f}.py").exists()]
    assert not facades, f"re-export facade reintroduced: {facades}"
    offenders = []
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        for facade in ("dedup", "similarity"):
            if (
                f"operators.{facade} import" in src
                or f"operators import {facade}" in src
            ):
                offenders.append(str(py))
    assert not offenders, f"import the split kernel, not the facade: {offenders}"


def test_customers_without_orders_is_date_bounded():
    """Round-9 fold-back of the round-8 hotfix_r8 overlay: the
    registration lives in plans/relational.py again and must keep the
    date-bounded oracle — the pure anti-join form proves 0 == 0 at
    every test SF (VERDICT r7 Next #2)."""
    import __spark_entry__ as entrymod
    from mle_proj_datapipeline_spark.plans.registry import ORACLES, QUERIES

    assert entrymod  # plan modules imported, registry populated
    fn = QUERIES["customers_without_orders"]
    assert fn.__module__ == "mle_proj_datapipeline_spark.plans.relational"
    # the oracle must be the date-bounded twin, not the vacuous form
    assert "2000-01-01" in ORACLES["customers_without_orders"]
