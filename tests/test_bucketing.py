"""Bucketed-table co-located join: writing both sides bucketed on the
join key must remove the shuffle (no Exchange above either scan) —
the 100 TB strategy for repeated feature⨝label joins. Plus: pinned
imputation stats apply unchanged across incremental batches."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mle_proj_datapipeline_spark.operators.impute import (
    ImputeSpec,
    fit_impute_stats,
    impute,
)
from mle_proj_datapipeline_spark.sources.catalog import load_table
from tests.conftest import SF_ORACLE


def test_bucketed_join_has_no_exchange(spark):
    # managed tables land in the default warehouse (./spark-warehouse,
    # gitignored); dropped at the end
    o = load_table(spark, SF_ORACLE, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, SF_ORACLE, "customer")

    for name, df, key in [("b_orders", o, "o_custkey"), ("b_customer", c, "c_custkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(name)

    bo, bc = spark.table("b_orders"), spark.table("b_customer")
    joined = bo.join(bc, bo.o_custkey == bc.c_custkey).groupBy("c_mktsegment").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total")
    )
    # disable broadcast so the join strategy decision is about shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        for name in ("b_orders", "b_customer"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    assert "SortMergeJoin" in plan, plan
    # co-located: no shuffle below the join — in the plan tree, the
    # join's subtree is everything from the SortMergeJoin line to the
    # end of the tree block (the final groupBy's Exchange sits above it)
    tree = plan.split("== Physical Plan ==")[1].split("\n\n")[0]
    join_subtree = tree[tree.index("SortMergeJoin"):]
    assert "Exchange" not in join_subtree, plan
    assert "Bucketed: true" in plan, plan


def test_pinned_impute_stats_stable_across_batches(spark):
    """Fit stats on a reference window; applying them to a later batch
    must not recompute (a batch with different nulls gets the SAME
    fills)."""
    d = load_table(spark, SF_ORACLE, "documents")
    ref = d.filter(F.col("doc_id") % 2 == 0).withColumn(
        "lang", F.when(F.col("doc_id") % 7 == 0, None).otherwise(F.col("lang"))
    )
    later = d.filter(F.col("doc_id") % 2 == 1).withColumn(
        "lang", F.when(F.col("doc_id") % 3 == 0, None).otherwise(F.col("lang"))
    )
    spec = ImputeSpec(mode_cols=["lang"], flag_cols=["lang"])
    stats = fit_impute_stats(ref, spec)
    out = impute(later, spec, stats=stats).cache()
    assert out.filter(F.col("lang").isNull()).count() == 0
    filled = out.filter(F.col("lang_missing") == 1).select("lang").distinct().collect()
    assert {r["lang"] for r in filled} == {stats["lang"]}


def test_bucketed_band_self_join_has_no_exchange(spark):
    """The dedup candidate join, co-located: persist the banded MinHash
    signature frame as a table bucketed on the band key — the self-join
    that generates candidate pairs then needs NO Exchange on either
    side. This is the repeated-dedup-runs strategy at 100 TB: pay the
    bucketed write once, run every subsequent candidate generation
    shuffle-free."""
    from mle_proj_datapipeline_spark.operators.minhash import minhash_signature_table

    docs = load_table(spark, SF_ORACLE, "documents")
    banded = (
        minhash_signature_table(docs, "doc_id", "text")
        .select("doc", F.explode("bands").alias("b"))
        .select("doc", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))
    )
    spark.sql("DROP TABLE IF EXISTS b_bands")
    banded.write.bucketBy(8, "band_idx", "band_key").sortBy(
        "band_idx", "band_key"
    ).mode("overwrite").saveAsTable("b_bands")

    t = spark.table("b_bands")
    a = t.select(F.col("doc").alias("id_a"), "band_idx", "band_key")
    b = t.select(F.col("doc").alias("id_b"), "band_idx", "band_key")
    cand = a.join(b, ["band_idx", "band_key"]).filter(F.col("id_a") < F.col("id_b"))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = cand._sc._jvm.PythonSQLUtils.explainString(
            cand._jdf.queryExecution(), "formatted"
        )
        n_cand = cand.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_bands")

    assert "SortMergeJoin" in plan, plan
    tree = plan.split("== Physical Plan ==")[1].split("\n\n")[0]
    join_subtree = tree[tree.index("SortMergeJoin"):]
    assert "Exchange" not in join_subtree, plan
    assert "Bucketed: true" in plan, plan
    assert n_cand > 0
