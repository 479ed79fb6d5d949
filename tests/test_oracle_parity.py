"""Every registered query with an oracle must match DuckDB at sf0.01 —
the same gate the driver runs (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE
from tests.oracle_harness import compare, duck_connection


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


ORACLED = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    compare(q(spark, SF_ORACLE), duck, sql, name=name)


def test_all_queries_have_entries():
    qs = entrymod.queries()
    assert qs, "query registry is empty"
    missing = set(entrymod.oracle_sql()) - set(qs)
    assert not missing, f"oracles without queries: {missing}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.schema.fieldNames()


def test_every_query_runs_at_smallest_sf(spark):
    """Small-data robustness: every registered query must EXECUTE at
    sf0.001 (50-500 rows/table) — percentile breakpoints over tiny
    groups, empty LSH buckets, single-member clusters, and short
    series are exactly where operators crash first. Row counts are
    not asserted (that is the oracle's job at sf0.01); completing the
    plan without error is."""
    failures = []
    qs = entrymod.queries()
    for name in sorted(qs):
        try:
            qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as ex:  # collect all, report together
            failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
    assert not failures, "\n".join(failures)


def test_rotation_computed_once_and_unchanged():
    """``queries()`` and ``oracle_sql()`` share one memoised rotation per
    process, and it is the order an uncached ``_coverage_order`` gives."""
    from mle_proj_datapipeline_spark.plans.registry import QUERIES

    names = list(entrymod.queries())
    misses = entrymod._rotation.cache_info().misses
    assert list(entrymod.oracle_sql()) == [n for n in names if n in entrymod.ORACLES]
    assert list(entrymod.queries()) == names
    assert entrymod._rotation.cache_info().misses == misses
    assert names == entrymod._coverage_order(list(QUERIES))


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_heaps_vocab_growth_null_and_empty_text_buckets(spark, tmp_path, ansi):
    """heaps_vocab_growth against its oracle on a documents table where
    one 50-doc bucket holds only NULL text and another only empty
    strings, with ANSI on and off: under ANSI off ``size(NULL)`` is -1,
    which must not deflate the NULL bucket's token total."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    for name in os.listdir(SF_SMOKE):
        if name != "documents.parquet":
            os.symlink(os.path.join(SF_SMOKE, name), sf_dir / name)
    docs = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    doc_id = docs.column("doc_id")
    in_null = pc.and_(pc.greater_equal(doc_id, 100), pc.less(doc_id, 150))
    in_empty = pc.and_(pc.greater_equal(doc_id, 200), pc.less(doc_id, 250))
    text = pc.if_else(in_null, pa.scalar(None, pa.string()), docs.column("text"))
    text = pc.if_else(in_empty, pa.scalar("", pa.string()), text)
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
    pq.write_table(docs, sf_dir / "documents.parquet")

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    con = duck_connection(str(sf_dir))
    try:
        df = entrymod.queries()["heaps_vocab_growth"](spark, str(sf_dir))
        compare(df, con, entrymod.oracle_sql()["heaps_vocab_growth"], "heaps_vocab_growth")
        rows = {r["docs_seen"]: r["tokens_seen"] for r in df.collect()}
    finally:
        con.close()
        spark.conf.set("spark.sql.ansi.enabled", prev)
    # the NULL bucket adds no tokens; the empty-string bucket adds one per doc
    assert rows[150] == rows[100]
    assert rows[250] - rows[200] == 50
