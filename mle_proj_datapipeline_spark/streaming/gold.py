"""Streaming gold layer: incremental feature/label-store maintenance.

The reference rebuilds gold once a week after four FileSensors fire
(dags/dag.py:110-140, 202-213). Here the same semantics are a
checkpointed file-source stream per silver table: when new silver
partitions land, exactly the affected ``snapshot_week`` gold partitions
are recomputed and dynamically overwritten — incremental view
maintenance at partition granularity.

Cross-source alignment (the part Airflow did with sensors): a week
enters gold only when ALL four silver tables have that week's partition
("complete weeks"). Weeks that arrive out of order across sources are
deferred and self-heal: every maintenance pass also rebuilds any
complete week still missing from gold, so whichever source lands last
triggers the build.

Scale design (100 TB):
- Completeness checks read only partition VALUES (directory listing via
  the partition column — no data scan).
- A maintenance pass touches only the target weeks: silver reads are
  partition-pruned `isin` filters, writes are dynamic partition
  overwrite, so cost is O(changed weeks), never O(history).
- Encoding dictionaries (``emp_title_top``) are caller-pinned, fixing
  the reference's per-batch StringIndexer drift (SURVEY §4.2): every
  incremental build emits the same gold schema.
- The four AvailableNow streams are run serially — one writer per gold
  partition at a time. On a cluster with concurrent arrivals, put a
  transactional table format under the gold root or route all four
  sources through one maintenance queue.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException

from mle_proj_datapipeline_spark.plans.medallion import (
    gold_feature_store,
    gold_label_store,
    week_of,
)
from mle_proj_datapipeline_spark.sources.readers import read_parquet
from mle_proj_datapipeline_spark.streaming.weekly import file_stream

SILVER_TABLES = ("credit_history", "demographic", "financial", "loan_terms")


def partition_weeks(spark: SparkSession, path: str) -> set[str]:
    """snapshot_week partition values under ``path`` (empty if the table
    doesn't exist yet). Selecting only the partition column keeps this a
    directory-listing job — no parquet data pages are read."""
    try:
        return {
            r["wk"]
            for r in read_parquet(spark, path)
            .select(F.col("snapshot_week").cast("string").alias("wk"))
            .distinct()
            .collect()
        }
    except AnalysisException:
        return set()


def maintain_gold(
    spark: SparkSession,
    silver_root: str,
    gold_root: str,
    emp_title_top: list[str],
    touched_weeks: set[str] | None = None,
) -> list[str]:
    """Rebuild gold feature/label partitions for every COMPLETE week that
    is either newly touched (revised silver data) or missing from gold
    (deferred arrival now complete). Returns the weeks rebuilt."""
    avail = [partition_weeks(spark, f"{silver_root}/{t}") for t in SILVER_TABLES]
    complete = set.intersection(*avail) if avail else set()
    # A week counts as built only when BOTH gold tables have it: a crash
    # between the feature_store and label_store writes must leave the
    # week in `target` so the next pass backfills the missing half.
    have = partition_weeks(spark, f"{gold_root}/feature_store") & partition_weeks(
        spark, f"{gold_root}/label_store"
    )
    target = sorted((complete - have) | (set(touched_weeks or ()) & complete))
    if not target:
        return []

    silvers: dict[str, DataFrame] = {
        t: read_parquet(spark, f"{silver_root}/{t}").filter(
            F.col("snapshot_week").cast("string").isin(target)
        )
        for t in SILVER_TABLES
    }
    labels = gold_label_store(silvers["loan_terms"]).withColumn(
        "snapshot_week", week_of(F.col("snapshot_date"))
    )
    features = gold_feature_store(
        silvers["credit_history"].drop("snapshot_week"),
        silvers["demographic"].drop("snapshot_week"),
        silvers["financial"].drop("snapshot_week"),
        silvers["loan_terms"],
        emp_title_top=emp_title_top,
    )
    for df, name in ((features, "feature_store"), (labels, "label_store")):
        df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
            "snapshot_week"
        ).parquet(f"{gold_root}/{name}")
    return target


def incremental_gold(
    spark: SparkSession,
    silver_root: str,
    gold_root: str,
    checkpoint_root: str,
    emp_title_top: list[str],
    timeout_s: int = 120,
) -> list[str]:
    """Run one AvailableNow maintenance pass per silver table: new silver
    files → affected/completed weeks rebuilt in gold, exactly once per
    file (per-table checkpoints). Serial execution = single writer.
    Returns all weeks rebuilt across the four passes."""
    rebuilt: list[str] = []

    for t in SILVER_TABLES:
        schema = read_parquet(spark, f"{silver_root}/{t}").schema

        def process(batch_df: DataFrame, batch_id: int) -> None:
            weeks = {
                r["wk"]
                for r in batch_df.select(
                    F.col("snapshot_week").cast("string").alias("wk")
                )
                .distinct()
                .collect()
            }
            rebuilt.extend(
                maintain_gold(spark, silver_root, gold_root, emp_title_top, weeks)
            )

        q = (
            file_stream(spark, f"{silver_root}/{t}", schema)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", f"{checkpoint_root}/{t}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
    return rebuilt
