"""Schema-declared readers.

The reference reads CSV with ``inferSchema=True`` (reference:
utils/silver_credit_history.py:7 et al.) — a two-pass scan that is
unacceptable at 100 TB and yields drift-prone types. Every engine read
declares a StructType; malformed rows route to a permissive-mode corrupt
column instead of failing the job. Parquet carries its schema in the
file footers: ``read_parquet`` infers it once per file state and then
declares the remembered StructType.
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")

# Session confs under which the same parquet files infer to different
# schemas; a remembered schema is served only under the values it was
# inferred with.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# Inferred parquet schemas kept by read_parquet, least recently used
# dropped first: (paths, conf values) -> (file state, schema).
_SCHEMA_MEMORY_SIZE = 256
_schemas: OrderedDict = OrderedDict()
_schemas_lock = threading.Lock()


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    permissive: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """CSV scan with a declared schema (never inferSchema).

    ``permissive`` adds a corrupt-record column so bad rows are kept and
    quarantinable — at 100 TB a single bad row must not kill a stage.
    """
    read_schema = (
        StructType(list(schema.fields) + [StructField(corrupt_col, StringType(), True)])
        if permissive
        else schema
    )
    reader = spark.read.schema(read_schema)
    reader = reader.option("header", str(header).lower())
    if permissive:
        reader = reader.option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", corrupt_col)
    else:
        reader = reader.option("mode", "FAILFAST")
    return reader.csv(path)


def _hadoop_file_listing(path: str, spark: SparkSession | None) -> list[str]:
    """``path:size:mtime_ms`` per file under a schemed ``path``
    (recursive, sorted), through the session's Hadoop FileSystem — the
    same listing every other storage-layer operation uses (the
    snapshots.list_subdirs pattern), so hdfs:// and s3a:// paths are
    keyed by real file state. Raises when no SparkSession is active: a
    constant listing would pin persisted state to stale sources (silent
    stale serving), strictly worse than failing."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"file_listing({path!r}): path has a URI scheme but no "
            "SparkSession is active to list it through the Hadoop "
            "FileSystem; refusing to return a constant listing"
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    parts = []
    it = fs.listFiles(jpath, True)  # recursive; yields files only
    while it.hasNext():
        st = it.next()
        parts.append(
            f"{st.getPath().toString()}:{st.getLen()}:{st.getModificationTime()}"
        )
    return sorted(parts)


def file_listing(path: str, spark: SparkSession | None = None) -> list[str]:
    """File state under ``path``: ``path:size:mtime`` per file
    (recursive, sorted), ``[]`` when nothing is there — no data is read.
    The one listing behind ``catalog.source_fingerprint`` and
    ``read_parquet``'s schema memory.

    Plain local paths stat through the OS (mtime in ns). ``file:/abs``
    — how Hadoop prints a local file, and so how snapshot manifests
    list their files — is the local path ``/abs``. Paths with a
    ``scheme://`` (hdfs://, s3a://, file://) list through the Hadoop
    FileSystem of ``spark`` or the active session (mtime in ms)."""
    if _URI_SCHEME.match(path):
        return _hadoop_file_listing(path, spark)
    if path.startswith("file:"):
        path = path[len("file:"):]
    parts = []
    if os.path.isdir(path):
        for dirpath, _, names in sorted(os.walk(path)):
            for n in sorted(names):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{path}:{st.st_size}:{st.st_mtime_ns}")
    return parts


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """The engine's parquet scan. Prefer ONE partitioned root + a
    partition predicate over enumerating paths (reference anti-pattern:
    utils/model_operations.py:33-35 passes 50 explicit weekly paths) —
    partition pruning then happens in the optimizer, not in Python.

    A bare parquet read runs one footer-inference job. This reader
    remembers the schema Spark inferred, keyed on the path tuple and
    the session's values of the inference confs (``_INFERENCE_CONFS``:
    nanosAsLong, binaryAsString, int96AsTimestamp, inferTimestampNTZ,
    caseSensitive, mergeSchema, partition type inference), next to the
    file state of those paths (``file_listing``: path, size and mtime
    per file). A read with the same key and the same file state scans
    with the remembered schema and runs no job. It infers again — and
    replaces the entry — when any file is added, removed, resized or
    touched, or when a conf differs. A path whose listing is empty
    (missing, a glob, or a form the listing cannot resolve) is never
    served from memory. The memory is an LRU of
    ``_SCHEMA_MEMORY_SIZE`` entries."""
    key = (paths, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    listings = [file_listing(p, spark) for p in paths]
    state = tuple(tuple(x) for x in listings) if paths and all(listings) else None
    with _schemas_lock:
        hit = _schemas.get(key)
        schema = hit[1] if hit is not None and hit[0] == state else None
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    if state is not None:
        with _schemas_lock:
            _schemas[key] = (state, df.schema)
            _schemas.move_to_end(key)
            while len(_schemas) > _SCHEMA_MEMORY_SIZE:
                _schemas.popitem(last=False)
    return df


def footer_stats(
    spark: SparkSession,
    path: str,
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Metadata-only table stats: COUNT(*) plus MIN/MAX of the given
    columns served from parquet FOOTER statistics via DSv2 aggregate
    pushdown — the scan reads row-group metadata, not data pages, so at
    100 TB this answers in seconds regardless of table size.

    The v2 reader and ``spark.sql.parquet.aggregatePushdown`` are
    enabled only for the duration of this call (the session-wide default
    stays the v1 reader, whose plan shapes the rest of the engine is
    guarded against); the one-row result is materialized inside that
    window via an eager ``localCheckpoint``, then the confs are
    restored. The call FAILS LOUDLY if the optimizer could not push the aggregate (e.g. a
    timestamp column, a filter, or a non-parquet source) — silently
    falling back to a full scan would defeat the point.
    """
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame

    conf_keys = {
        "spark.sql.sources.useV1SourceList": "",
        "spark.sql.parquet.aggregatePushdown": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in conf_keys}
    for k, v in conf_keys.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(path)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
        aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
        out = df.agg(*aggs)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"
        )
        if "PushedAggregation: [COUNT" not in plan:
            raise ValueError(
                f"footer_stats: aggregate was not pushed to the parquet "
                f"footer for {path} (unsupported column type or source); "
                f"use a plain agg instead of silently full-scanning"
            )
        try:
            return materialize_frame(out)
        except Exception as exc:  # zero-row-group file: no footer stats
            # Spark's pushdown reader throws AT EXECUTION on a parquet
            # file with no row groups ("No min/max found") — an empty
            # table genuinely has no footer statistics to serve
            # (empty-table fuzz find, round 7). Fall back to the plain
            # aggregate for THIS declared case only (count 0, NULL
            # min/max — the relation the SQL oracle produces); every
            # other failure keeps the loud contract above.
            if "No min/max found" not in str(exc):
                raise
            spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
            return materialize_frame(spark.read.parquet(path).agg(*aggs))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
