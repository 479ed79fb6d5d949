"""Streaming drift monitoring: the weekly PSI series as an INCREMENTAL
foreachBatch job against PINNED baseline breakpoints.

The reference runs drift as a weekly Airflow task over the full history
(dags/dag.py:77, utils/model_operations.py:161-179 compute one PSI pair
per run). The batch twin here is plans/profile_queries.weekly_psi_drift
(whole trajectory, one job). This module is the production monitoring
shape for arriving data: breakpoints are fixed ONCE from the baseline
(training) week, and each micro-batch of new orders only buckets its own
rows and merges (week, bucket) counts into a tiny persisted panel — the
PSI series is then a fold over that panel, never a rescan of history.

Exactly-once: each batch's counts land under a batch_id-keyed partition
with dynamic overwrite, so a replayed batch (foreachBatch is
at-least-once on retry) overwrites its own partition instead of
double-counting.

Scale: per-batch work is a narrow bucketing map + a (week, bucket)
partial-agg — batch-sized, not history-sized; the counts panel grows by
weeks × 10 rows and the PSI fold reads only the panel. State lives in
files, not executor memory, so the monitor survives restarts for free.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from mle_proj_datapipeline_spark.plans.profile_queries import PSI_EPS, PSI_QS
from mle_proj_datapipeline_spark.sources.readers import read_parquet
from mle_proj_datapipeline_spark.streaming.weekly import file_stream


def week_of_order(col: str = "o_orderdate"):
    return F.date_format(F.date_trunc("week", F.col(col)), "yyyy-MM-dd")


def baseline_breakpoints(
    orders: DataFrame, ts_col: str = "o_orderdate", val_col: str = "o_totalprice"
) -> tuple[str, list[float]]:
    """Pin (baseline_week, decile breakpoints) from the baseline (first)
    week — computed once at deployment time, the way the reference fixes
    its expected distribution at training time. Returns driver-held
    scalars (1 row, 9 doubles) that every subsequent micro-batch
    broadcasts.

    Setup cost: two passes over the HISTORICAL frame, but both are
    column-pruned by Catalyst — the min-week aggregate reads only the
    date column, the percentile reads (date, value) for one week."""
    wko = orders.select(
        week_of_order(ts_col).alias("wk"), F.col(val_col).alias("v")
    )
    bwk_row = wko.agg(F.min("wk").alias("bwk")).first()
    bwk = bwk_row["bwk"]
    bps_row = (
        wko.filter(F.col("wk") == bwk)
        .agg(F.percentile(F.col("v"), F.array(*[F.lit(q) for q in PSI_QS])).alias("bps"))
        .first()
    )
    return bwk, [float(x) for x in bps_row["bps"]]


def baseline_expected_fracs(
    orders: DataFrame,
    baseline_week: str,
    breakpoints: list[float],
    ts_col: str = "o_orderdate",
    val_col: str = "o_totalprice",
) -> list[float]:
    """Pin the baseline week's per-bucket fractions (10 clamped doubles,
    driver-held) at deployment time. REQUIRED for the realistic deploy
    where training data is NOT re-streamed through the monitor: without
    pinned expected fractions, psi_from_counts can only derive them from
    the counts panel, which works iff the baseline week's rows flowed
    through the stream."""
    counts = week_bucket_counts(
        orders.filter(week_of_order(ts_col) == baseline_week),
        breakpoints,
        ts_col,
        val_col,
    ).collect()
    total = sum(r["n"] for r in counts)
    by_bucket = {r["bucket"]: r["n"] for r in counts}
    return [
        max(by_bucket.get(b, 0) / total, PSI_EPS) for b in range(len(PSI_QS) + 1)
    ]


def week_bucket_counts(
    orders: DataFrame,
    breakpoints: list[float],
    ts_col: str = "o_orderdate",
    val_col: str = "o_totalprice",
) -> DataFrame:
    """(wk, bucket, n) for ``orders`` against the PINNED breakpoints —
    the shared bucketing map both the batch arm and every micro-batch
    run (identical expressions = stream==batch parity by construction)."""
    bps = F.array(*[F.lit(b) for b in breakpoints])
    bucket = F.size(F.filter(bps, lambda b: F.col("v") > b))
    return (
        orders.select(week_of_order(ts_col).alias("wk"), F.col(val_col).alias("v"))
        .select("wk", bucket.alias("bucket"))
        .groupBy("wk", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_batch_counts(
    batch_df: DataFrame, batch_id: int, counts_dir: str, breakpoints: list[float]
) -> None:
    """foreachBatch body: bucket the batch and commit its (wk, bucket)
    partial counts under a batch_id partition. Idempotent on replay —
    a retried batch dynamically overwrites its OWN partition only."""
    (
        week_bucket_counts(batch_df, breakpoints)
        .withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(counts_dir)
    )


def incremental_psi_counts(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    counts_dir: str,
    checkpoint_dir: str,
    breakpoints: list[float],
    timeout_s: int = 120,
) -> None:
    """One AvailableNow maintenance pass: new order files → their
    (week, bucket) partial counts merged into the counts panel, exactly
    once per file (checkpointed source + idempotent batch commits).
    Raises on timeout instead of returning a silently-partial panel —
    the unfinished query is stopped so it can't race a subsequent
    psi_series read (its processed batches are checkpointed; the next
    pass resumes exactly where it stopped)."""
    q = (
        file_stream(spark, source_dir, schema)
        .writeStream.foreachBatch(
            lambda b, i: merge_batch_counts(b, i, counts_dir, breakpoints)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"PSI maintenance pass over {source_dir} exceeded {timeout_s}s; "
            "stopped — completed batches are checkpointed, re-run to resume"
        )


def psi_series(
    spark: SparkSession,
    counts_dir: str,
    baseline_week: str,
    expected_fracs: list[float] | None = None,
) -> DataFrame:
    """The PSI trajectory from the maintained counts panel: merge the
    per-batch partials (sum over batch_id), then fold — weeks × 10 rows
    regardless of history size. Pass ``expected_fracs``
    (baseline_expected_fracs) when the baseline week's rows do NOT flow
    through the stream — the realistic deploy, where training data is
    historical and only new data lands in the monitor."""
    cnt = (
        read_parquet(spark, counts_dir)
        .groupBy("wk", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    return psi_from_counts(cnt, baseline_week, expected_fracs)


def psi_from_counts(
    cnt: DataFrame,
    baseline_week: str,
    expected_fracs: list[float] | None = None,
) -> DataFrame:
    """PSI fold over a merged (wk, bucket, n) frame: fill the
    (week × bucket) spine, clamp empty buckets, score each week against
    the baseline fractions — the same fold as the batch
    weekly_psi_drift query, shared by the streaming panel and the
    batch arm of the parity test.

    Baseline fractions come from ``expected_fracs`` (pinned,
    driver-held) when given; otherwise they are derived from the panel's
    own baseline-week rows — which REQUIRES those rows to be present
    (enforced: a missing baseline raises instead of returning null PSI
    for every week)."""
    from pyspark.sql import Window

    tot = cnt.groupBy("wk").agg(F.sum("n").alias("t"))
    spine = tot.select(
        "wk", "t", F.explode(F.sequence(F.lit(0), F.lit(len(PSI_QS)))).alias("bucket")
    )
    frac = spine.join(cnt, ["wk", "bucket"], "left").select(
        "wk",
        "bucket",
        F.greatest(
            F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("t"),
            F.lit(PSI_EPS),
        ).alias("f"),
    )
    if expected_fracs is not None:
        ef_arr = F.array(*[F.lit(float(x)) for x in expected_fracs])
        scored = frac.withColumn(
            "ef", F.element_at(ef_arr, F.col("bucket").cast("int") + 1)
        )
    else:
        if cnt.filter(F.col("wk") == baseline_week).limit(1).count() == 0:
            raise ValueError(
                f"baseline week {baseline_week} has no rows in the counts "
                "panel; pass expected_fracs (baseline_expected_fracs) when "
                "the baseline is not streamed through the monitor"
            )
        wb = Window.partitionBy("bucket")
        scored = frac.withColumn(
            "ef", F.max(F.when(F.col("wk") == baseline_week, F.col("f"))).over(wb)
        )
    return (
        scored.filter(F.col("wk") != baseline_week)
        .groupBy("wk")
        .agg(
            F.round(
                F.sum((F.col("f") - F.col("ef")) * F.log(F.col("f") / F.col("ef"))), 4
            ).alias("psi")
        )
    )
