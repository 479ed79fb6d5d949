"""Changelog compaction for SUM-mergeable streaming state.

The incremental count twins (streaming/sketch.py cells, streaming/lm.py
unigram/bigram counts) maintain state as per-batch partial partitions
(``batch_id=K`` dirs, committed idempotently by foreachBatch). That
layout is append-cheap but grows with batch COUNT: serving merges every
partial ever written. This module folds history into a bounded base:

- ``compact_state`` sums all partials at or below the current max
  batch_id into ONE committed snapshot (sources/snapshots.py — atomic
  manifest rename), recording the folded-through batch id as the
  snapshot's watermark. Crash-safe by construction: either the new
  snapshot+watermark commits or the previous state keeps serving;
  there is no window where a reader can double-count.
- ``served_state`` is the single read path: base snapshot (if any) +
  partials ABOVE the watermark, merged by one partial-aggregated
  groupBy-SUM. Folded partials still on disk are excluded by the
  watermark filter, so compaction and GC never race a reader.
- ``gc_state`` lazily deletes folded partial partitions (idempotent;
  pure space reclamation — correctness never depends on it running).

Watermark contract: foreachBatch batch ids are checkpointed and
strictly increasing, so ``batch_id > watermark`` cleanly separates
folded history from live deltas — including a batch REPLAYED after
compaction (its dynamic-overwrite partition rewrite lands above the
watermark only if it was never folded; a replay of a folded batch
cannot happen because the checkpoint already recorded it committed).

At 100 TB: state size is bounded by |keys| (vocabulary / d×w cells),
not by stream lifetime; each compaction costs one scan of the live
partials + the base — O(state), never O(history).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.sources.readers import local_frame, read_parquet
from mle_proj_datapipeline_spark.sources.snapshots import (
    delete_dir,
    expire,
    history,
    list_subdirs,
    read_snapshot,
    write_snapshot,
)

KEEP_COMPACT_VERSIONS = 3


def compacted_root(partials_dir: str) -> str:
    """The compact snapshot lives BESIDE the partials directory (inside
    it would corrupt the partitioned parquet layout readers scan)."""
    return partials_dir.rstrip("/") + "_compact"


def _watermark_and_base(
    spark: SparkSession, partials_dir: str
) -> tuple[int, DataFrame | None]:
    root = compacted_root(partials_dir)
    snaps = history(spark, root)
    if not snaps:
        return -1, None
    wm = int((snaps[-1].get("meta") or {})["folded_through"])
    return wm, read_snapshot(spark, root)


def _partial_ids(spark: SparkSession, partials_dir: str) -> list[int]:
    """Committed batch ids, listed through the Hadoop FileSystem (ADVICE
    r6 — an os.listdir here would read non-local state as empty)."""
    out = []
    for entry in list_subdirs(spark, partials_dir):
        if entry.startswith("batch_id="):
            try:
                out.append(int(entry.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def served_state(
    spark: SparkSession,
    partials_dir: str,
    key_cols: list[str],
    val_col: str,
    empty_schema: str | None = None,
) -> DataFrame:
    """The maintained state: compact base (if committed) + partials
    above its watermark, merged by one groupBy-SUM — |keys| rows out
    regardless of batch count or compaction schedule.

    ``empty_schema`` (a DDL string) declares that NO committed state is
    a legitimate answer — a maintenance pass over an empty/fully-filtered
    corpus commits zero batch partials, and the served model is then the
    empty relation with that schema (empty-table fuzz find, round 7).
    Without it, missing state stays a hard error, because for a direct
    caller it usually means the maintenance pass never ran.

    Both reads go through ``readers.read_parquet`` (the base via
    ``read_snapshot``), keyed on the path and the inference confs: the
    partials root's schema is inferred once and served from memory
    while its file state (path, size, mtime of every file) is
    unchanged. A new ``batch_id=`` partition, a GC'd one or a new
    compaction commit changes that state and infers again."""
    wm, base = _watermark_and_base(spark, partials_dir)
    cols = [*key_cols, val_col]
    frames = []
    if any(bid > wm for bid in _partial_ids(spark, partials_dir)):
        frames.append(
            read_parquet(spark, partials_dir)
            .filter(F.col("batch_id") > wm)
            .select(*cols)
        )
    if base is not None:
        frames.append(base.select(*cols))
    if not frames:
        if empty_schema is not None:
            return local_frame(spark, [], empty_schema)
        raise FileNotFoundError(
            f"no streaming state under {partials_dir} (no partials, no "
            "compact snapshot) — run the maintenance pass first"
        )
    merged = frames[0]
    for f in frames[1:]:
        merged = merged.unionByName(f)
    return merged.groupBy(*key_cols).agg(F.sum(val_col).alias(val_col))


def compact_state(
    spark: SparkSession,
    partials_dir: str,
    key_cols: list[str],
    val_col: str,
) -> int:
    """Fold every live partial into the committed base; returns the new
    snapshot version, or -1 when there is nothing new to fold. The
    commit is atomic (manifest rename), so a crash mid-compaction
    leaves the previous watermark serving — never a double count."""
    wm, base = _watermark_and_base(spark, partials_dir)
    live_ids = [bid for bid in _partial_ids(spark, partials_dir) if bid > wm]
    if not live_ids:
        return -1
    # Build the fold inline, bounded to exactly the batch ids listed
    # above — NOT via served_state, which re-lists the partials dir at
    # Spark execution time. A batch committed between the two listings
    # would be folded into the base without folded_through covering it,
    # and every later served_state would add it again (permanent double
    # count). Bounding by (wm, max(live_ids)] makes the fold and the
    # recorded watermark describe the same file set.
    folded_through = max(live_ids)
    cols = [*key_cols, val_col]
    merged = (
        read_parquet(spark, partials_dir)
        .filter((F.col("batch_id") > wm) & (F.col("batch_id") <= folded_through))
        .select(*cols)
    )
    if base is not None:
        merged = merged.unionByName(base.select(*cols))
    merged = merged.groupBy(*key_cols).agg(F.sum(val_col).alias(val_col))
    root = compacted_root(partials_dir)
    v = write_snapshot(
        merged,
        root,
        mode="overwrite",
        meta={"folded_through": folded_through},
    )
    # Each fold is a full logical rewrite — old versions are only
    # useful for brief time travel; cap them like the metrics store.
    expire(spark, root, keep_last=KEEP_COMPACT_VERSIONS)
    return v


def gc_state(spark: SparkSession, partials_dir: str) -> list[int]:
    """Delete partial partitions already folded into the committed
    base. Idempotent, lazy, and safe at any point: served_state's
    watermark filter already excludes them."""
    wm, _ = _watermark_and_base(spark, partials_dir)
    removed = []
    for bid in _partial_ids(spark, partials_dir):
        if bid <= wm:
            delete_dir(spark, f"{partials_dir.rstrip('/')}/batch_id={bid}")
            removed.append(bid)
    return removed
