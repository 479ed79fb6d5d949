"""Incremental Markov transition-matrix maintenance.

Batch twin: plans/stats_queries.event_transition_matrix
(oracle-gated). Pair counts merge by plain SUM, so per-batch partials
commit idempotently like the CM sketch (streaming/sketch.py) — but
unlike the sketch, transitions SPAN batch boundaries: the first event
of a user in batch k pairs with that user's LAST event from batches
< k. That boundary state is itself a relation:

    state_root/
      pairs/batch_id=K/   partial (prev, next, c) counts of batch K
      last/batch_id=K/    FULL last-event-per-user snapshot AFTER K

A batch computes its pairs against the newest ``last`` snapshot with
batch_id < K (never its own), so a REPLAYED batch K reads exactly the
state it read the first time and dynamically overwrites only its own
partitions — deterministic, idempotent, exactly-once end to end.

Ordering contract: event time must not regress across batches per user
(file waves arrive in event-time order — the same no-late-arrivals
horizon the drift twin pins; within a batch any order is fine, the
window sorts). A late cross-batch event would pair against a newer
predecessor than the batch form would — that is the documented
divergence, bounded by the source's lateness, not silent corruption.

Scale: per batch, one shuffle on user_id (window) + one partial-agg
pair count; the ``last`` snapshot is |users| rows. Snapshots accrete
one partition per batch — compact by keeping only the newest (older
ones exist solely for replay determinism of in-flight batches).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import StructType

from mle_proj_datapipeline_spark.sources.readers import read_parquet
from mle_proj_datapipeline_spark.streaming.weekly import file_stream


def _latest_snapshot(spark: SparkSession, last_dir: str, before: int) -> DataFrame | None:
    """Newest full last-event snapshot with batch_id < ``before``.

    Only a genuinely ABSENT state directory (no committed batch_id=*
    partition) means "first batch". Any read error on existing state —
    corrupt footer, permission, transient IO — must PROPAGATE so the
    streaming batch fails and replays: swallowing it would silently
    drop every cross-boundary pair AND rewrite the last-event snapshot
    from only this batch's users, permanently corrupting future counts
    (ADVICE r5). Existence is checked through the session's Hadoop
    FileSystem (ADVICE r6): a local os.path probe would read committed
    hdfs://-or-s3a:// state as absent and trigger exactly that
    corruption on any non-local state root."""
    from mle_proj_datapipeline_spark.sources.snapshots import list_subdirs

    if not any(n.startswith("batch_id=") for n in list_subdirs(spark, last_dir)):
        return None  # first batch: no state committed yet
    snaps = read_parquet(spark, last_dir)
    ids = [r["batch_id"] for r in snaps.select("batch_id").distinct().collect()]
    prior = [i for i in ids if i < before]
    if not prior:
        return None
    return snaps.filter(F.col("batch_id") == max(prior)).drop("batch_id")


def merge_batch_transitions(
    batch_df: DataFrame, batch_id: int, state_root: str
) -> None:
    """foreachBatch body: count this batch's transitions (including the
    cross-boundary pair per user) and roll the last-event snapshot."""
    spark = batch_df.sparkSession
    ev = batch_df.select("user_id", "ts", "event_id", "event_type")
    prev = _latest_snapshot(spark, f"{state_root}/last", int(batch_id))
    if prev is not None:
        virt = prev.withColumn("__virtual", F.lit(1))
        unioned = ev.withColumn("__virtual", F.lit(0)).unionByName(virt)
    else:
        unioned = ev.withColumn("__virtual", F.lit(0))

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        unioned.withColumn("prev", F.lag("event_type").over(w))
        .filter((F.col("__virtual") == 0) & F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    (
        pairs.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{state_root}/pairs")
    )

    last = (
        unioned.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "event_type")
    )
    (
        last.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{state_root}/last")
    )


def incremental_transitions(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    state_root: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
) -> None:
    """One AvailableNow maintenance pass: new event files → their pair
    partials + rolled snapshot, exactly once per file."""
    q = (
        file_stream(spark, source_dir, schema)
        .writeStream.foreachBatch(
            lambda b, i: merge_batch_transitions(b, i, state_root)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"transition maintenance pass over {source_dir} exceeded "
            f"{timeout_s}s; completed batches are checkpointed, re-run to "
            "resume"
        )


def served_matrix(spark: SparkSession, state_root: str) -> DataFrame:
    """The maintained matrix: merge per-batch pair partials and
    row-normalize — |event_types|² rows regardless of batch count."""
    t = (
        read_parquet(spark, f"{state_root}/pairs")
        .groupBy("prev", "next")
        .agg(F.sum("c").alias("c"))
    )
    wp = Window.partitionBy("prev")
    return t.select(
        "prev", "next", "c",
        F.round(F.col("c").cast("double") / F.sum("c").over(wp), 4).alias("p"),
    )
