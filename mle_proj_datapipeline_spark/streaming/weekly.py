"""Structured Streaming form of the reference's Airflow-driven weekly
micro-batch machinery (SURVEY.md §2.K):

| reference mechanism                          | here                       |
|----------------------------------------------|----------------------------|
| FileSensor gating (dags/dag.py:110-140)      | file-source stream         |
| strict sequential weeks / depends_on_past    | checkpointed micro-batches |
| idempotent weekly re-runs                    | dynamic partition overwrite |"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory — the engine's
    FileSensor: new files are discovered and processed exactly once
    (checkpointed), no polling DAG."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(source_dir)


def incremental_silver(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType,
    transform,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming medallion edge: raw weekly files land, each micro-batch
    runs the silver ``transform`` and overwrites exactly the
    snapshot_week partitions present in that batch (dynamic partition
    overwrite). This is the reference's FileSensor → bronze → silver
    Airflow chain (dags/dag.py:110-198) as ONE checkpointed stream:
    arrival gating, exactly-once, and idempotent weekly re-runs all come
    from the engine, not the orchestrator.

    ``transform`` is the same batch function used by plans/medallion.py
    (batch/stream parity by construction — same code, not a rewrite).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df)
        # Explicit writer-level dynamic overwrite: never rely on the
        # ambient session conf (an external driver's session may lack it,
        # and a static overwrite would delete every previously written
        # week instead of just this batch's partitions).
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("snapshot_week").parquet(out_dir)

    return (
        file_stream(spark, landing_dir, schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
