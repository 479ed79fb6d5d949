"""Count-Min sketch state kept as mergeable per-batch partials.

The batch twin is plans/rollup_queries.cm_sketch_heavy_hitters
(oracle-gated); the sketch core is operators/sketch.py. Because cells
merge by plain SUM, the state is just: each batch commits its own
partial cells under a batch_id partition (idempotent on replay — a
retried batch dynamically overwrites ITS OWN partition only), and the
served sketch is ``groupBy(j, bucket).sum`` over the partials. No state
store is needed: the cells directory IS the state. ``compact_cells``
folds history into a committed watermarked base snapshot
(streaming/compaction.py — atomic, crash-safe), bounding state at
O(d×w) + live deltas instead of batches × d × w.

plans/served_queries.py writes the partials: it folds the whole orders
table as batch 0 with one call to ``merge_batch_cells`` and rebuilds
from scratch when the table's files change.

tests/test_streaming.py proves partials==batch: cells folded from two
batches equal cm_cells over their union, and the heavy-hitter
estimates served from the folded sketch equal the batch query's.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.operators import sketch


def merge_batch_cells(
    batch_df: DataFrame, batch_id: int, cells_dir: str, key_col: str
) -> None:
    """Fold the batch's rows into partial CM cells and commit them
    under a batch_id partition (a retried batch overwrites only its
    own partition)."""
    (
        sketch.cm_cells(batch_df, key_col)
        .withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(cells_dir)
    )


def served_cells(spark: SparkSession, cells_dir: str) -> DataFrame:
    """The maintained sketch: merge the compact base (if any) plus the
    per-batch partials above its watermark — d×w rows regardless of how
    many batches have landed or how recently compaction ran."""
    from mle_proj_datapipeline_spark.streaming.compaction import served_state

    # empty_schema: zero maintained batches (empty source) serve the
    # empty sketch — every point estimate over it is then absent, the
    # same answer the batch twin gives on the empty table.
    return served_state(
        spark, cells_dir, ["j", "bucket"], "cell_n",
        empty_schema="j int, bucket bigint, cell_n bigint",
    )


def compact_cells(spark: SparkSession, cells_dir: str) -> int:
    """Fold the per-batch partials into one committed d×w base snapshot
    (streaming/compaction.py — atomic, watermarked, crash-safe) so
    serving cost stays O(d×w), not O(batches × d×w). Pair with
    ``gc_cells`` to reclaim the folded partitions."""
    from mle_proj_datapipeline_spark.streaming.compaction import compact_state

    return compact_state(spark, cells_dir, ["j", "bucket"], "cell_n")


def gc_cells(spark: SparkSession, cells_dir: str) -> list[int]:
    """Delete folded partial partitions (lazy space reclamation)."""
    from mle_proj_datapipeline_spark.streaming.compaction import gc_state

    return gc_state(spark, cells_dir)
