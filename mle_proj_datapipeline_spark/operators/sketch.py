"""Count-Min sketch as a RELATION.

The sketch is a (j, bucket, cell_n) frame of d×w cells over the
cross-engine H31 hash family (operators/hashing.h31) — not opaque bits, so
it hash-verifies against a SQL oracle, merges by plain SUM (map-side
combinable, batch or streaming), and point estimates are a broadcast
join + MIN. Used by plans/rollup_queries.cm_sketch_heavy_hitters
(batch, oracle-gated) and streaming/sketch.py (incremental maintenance).

At 100 TB: raw rows collapse to per-key counts first (one partial-agg
shuffle — the explode factor then applies to |keys|, not |rows|), the
cell table is bounded at d×w regardless of data size, and cells from
any partitioning of the data (micro-batches, partitions, clusters) sum
to the cells of the union — the mergeability that makes the sketch a
streaming-safe monitor.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from mle_proj_datapipeline_spark.operators.hashing import h31

CM_DEPTH = 3
CM_WIDTH = 256


def cm_bucket(j_col: Column, key_col: Column, width: int = CM_WIDTH) -> Column:
    """Row j's bucket for a key: H31('j|key') mod width — the same
    family the SQL oracle builds, so cells are bit-identical across
    engines."""
    return (
        h31(F.concat(j_col.cast("string"), F.lit("|"), key_col.cast("string"))) % width
    )


def cm_cells_from_counts(
    counts: DataFrame,
    key_col: str = "key",
    n_col: str = "n",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """(j, bucket, cell_n) cells from a per-key count frame.

    NULL is not a key: it would hash to a NULL bucket — a cell no
    point query can ever join back to, silently swallowing its counts
    (NULL-key fuzz find, round 7) — so NULL keys are excluded by
    contract here and in every sketch oracle."""
    j = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
    return (
        counts.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("key"), F.col(n_col).alias("n"), j)
        .select("j", cm_bucket(F.col("j"), F.col("key"), width).alias("bucket"), "n")
        .groupBy("j", "bucket")
        .agg(F.sum("n").alias("cell_n"))
    )


def cm_cells(
    df: DataFrame, key_col: str, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> DataFrame:
    """(j, bucket, cell_n) cells from RAW rows: per-key pre-aggregate,
    then fold into cells. Partial cells from disjoint row sets merge by
    ``groupBy(j, bucket).sum(cell_n)`` into the cells of the union."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("n"))
    return cm_cells_from_counts(counts, depth=depth, width=width)


def cm_estimate(
    cells: DataFrame,
    keys: DataFrame,
    key_col: str = "key",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point-estimate each key in ``keys``: min over its d cells —
    always ≥ the true count. ``cells`` is d×w (broadcast class)."""
    j = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
    return (
        keys.select(F.col(key_col).alias("key"), j)
        .withColumn("bucket", cm_bucket(F.col("j"), F.col("key"), width))
        .join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("key")
        .agg(F.min("cell_n").alias("cm_est"))
    )
