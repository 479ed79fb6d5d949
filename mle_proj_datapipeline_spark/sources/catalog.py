"""Table catalog over a scale-factor directory of parquet tables.

Replaces the reference's filename-encoded partition discovery
(reference: utils/weekly_evaluation.py:343-375 enumerates
``*_week_YYYY_MM_DD`` dirs by regex; utils/model_operations.py:29-35
hand-builds 50 paths). Spark's catalog + Hive partitioning does this
natively; here the testdata is one parquet per table, so the catalog is a
thin loader + view registrar.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.sources.readers import file_listing, read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown reach the
    parquet reader automatically because we return the lazy scan.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark 4 rejects
    (PARQUET_TYPE_ILLEGAL); we read nanos as long and convert to a
    microsecond timestamp with exact integer division (`div`, not `/` —
    double division loses precision above 2^53 ns).

    The scan is ``readers.read_parquet``: the footer schema is inferred
    on the first load of a table and remembered, keyed on the path and
    the inference confs, beside the table's file state (path, size,
    mtime per file). Later loads of unchanged files declare that schema
    and run no job; a changed file state or conf infers again."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def source_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of a source table's files (path, size, mtime
    per file, from ``readers.file_listing``) — NO data scan; the
    staleness key for a persisted index or derived snapshot. Source
    parquet can be regenerated in place between runs, so state keyed
    on geometry alone would silently serve the OLD corpus.

    Plain local paths stat through the OS (no JVM round-trip, and
    byte-stable with the pre-round-9 fingerprint format, so upgrading
    does not invalidate existing snapshots). Paths with a URI scheme
    (hdfs://, s3a://, file://) list through the session's Hadoop
    FileSystem — before round 9 they hashed to a constant, so
    fingerprint-pinned snapshots never invalidated (ADVICE r7 #2)."""
    import hashlib

    parts = file_listing(os.path.join(sf_dir, f"{table}.parquet"))
    return hashlib.md5("|".join(parts).encode()).hexdigest()
