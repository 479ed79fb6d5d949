"""SparkSession factory with scale-oriented defaults.

The reference creates a new SparkSession per Airflow task with fixed 4g
memory (reference: utils/process_silver_tables.py:31,
utils/LightGBM_training_run.py:38-42), which prevents any cross-stage plan
fusion. Here: one long-lived session, AQE on, dynamic partition overwrite,
UTC session time, Arrow transfers.

Scale notes (100 TB design point):
- AQE handles runtime partition coalescing, skew-join splitting, and
  sort-merge→broadcast conversion; we enable all three.
- ``spark.sql.shuffle.partitions`` is a *default*; at cluster scale AQE
  coalesces from an intentionally-high initial number. Locally we size it
  to the core count so tests don't schedule thousands of empty tasks.
- ``maxPartitionBytes`` 128m keeps scan partitions executor-memory-sized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "mle_proj_datapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Safe to call repeatedly: an already-active session is returned
    unchanged. ``builder.getOrCreate()`` would re-apply this builder's
    confs to it — a caller like ``cli.main`` would then reset the
    owner's ``spark.sql.shuffle.partitions`` (and so AQE's skew
    decisions) behind its back. When the driver hands us an existing
    session (``__spark_entry__.entry``), we never call this; engine
    code must work on any session.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    par = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{par}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


_SIZE_SUFFIX = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def parse_byte_size(value: str) -> int:
    """Parse a Spark byte-size conf string: bare bytes ('134217728') or a
    k/m/g/t suffix with optional trailing 'b' ('128m', '1gb', '512kb')."""
    v = value.strip().lower()
    if v.endswith("b"):
        v = v[:-1]
    mult = 1
    if v and v[-1] in _SIZE_SUFFIX:
        mult = _SIZE_SUFFIX[v[-1]]
        v = v[:-1]
    return int(v) * mult


def ensure_parallelism(df, min_partitions: int | None = None):
    """Repartition iff the input would scan with fewer partitions than
    the target.

    Small single-file parquet scans (the local testdata) arrive as ONE
    partition — compute-heavy narrow work (hashing, shingling, vector
    folds) would then run on one core. At cluster scale inputs already
    have ≥ target partitions, so this is a no-op (no gratuitous shuffle
    of 100 TB).

    The scan-partition estimate comes from file metadata
    (bytes / maxPartitionBytes, floored at the file count) — ~10 ms vs
    ~100 ms for the ``df.rdd`` probe, and no RDD-conversion plan work.
    Falls back to the exact RDD partition count for non-file inputs."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        files = [f[len("file:"):] if f.startswith("file:") else f for f in df.inputFiles()]
        if not files:  # non-file source (e.g. createDataFrame) — exact probe
            raise ValueError("no input files")
        total = sum(os.path.getsize(f) for f in files)
        mpb = parse_byte_size(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        est = max(len(files), total // mpb)
    except (OSError, ValueError):
        est = df.rdd.getNumPartitions()
    if est < target:
        return df.repartition(target)
    return df


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-created session.

    Used from ``__spark_entry__`` where the driver owns session creation.
    Only sets runtime-settable confs (never memory/master).
    """
    runtime = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    for k, v in runtime.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable on this session — non-fatal
            pass
    return spark
