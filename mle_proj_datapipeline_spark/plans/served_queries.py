"""Serve-path queries answered from PERSISTED count state.

The count twins (streaming/lm.py, streaming/sketch.py) keep mergeable
count state as per-batch partials; these queries complete the
fit-once/serve-many story the ANN family already has
(ann_lsh_indexed_top1 / ann_ivf_indexed_topk): the registered query
ENSURES the state exists for the requested corpus — folding the whole
source table into it as one batch (``batch_id=0``) only when the state
is absent or the source files changed (the same file-stat fingerprint
pinning the LSH index uses) — and then answers purely from the
committed state.

Each serves under the SAME oracle as its build-path sibling, because
serving from maintained counts must be bit-identical to the one-shot
batch computation (counts merge by plain SUM).

Scale: steady state never touches the source table's count pass — the
served model is a groupBy-SUM over bounded state partitions
(vocabulary-sized for the LM, d×w for the sketch), broadcast onto the
scoring scan. The rebuild trigger is a file-stat fingerprint (no data
scan); a fingerprint change rebuilds the state from scratch with one
batch fold, so no stream, checkpoint or file log is involved.
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# Build-path siblings must be registered first so their oracles can be
# shared verbatim (ORACLES lookups below happen at import time).
import mle_proj_datapipeline_spark.plans.featurize_queries  # noqa: F401
import mle_proj_datapipeline_spark.plans.rollup_queries  # noqa: F401
from mle_proj_datapipeline_spark.plans.registry import ORACLES, register
from mle_proj_datapipeline_spark.sources.catalog import load_table, source_fingerprint
from mle_proj_datapipeline_spark.sources.metrics import warehouse_root


def _ensure_count_state(
    spark: SparkSession, sf_dir: str, table: str, name: str, build
) -> str:
    """Fingerprint-pinned count state under the warehouse: fold the
    source table into state (``build(source_df, state)``) only when the
    committed state is absent or the table's files changed; return the
    state directory. A fingerprint change rebuilds from scratch: the
    old state is deleted and the whole table is folded again as batch
    0."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    root = os.path.join(warehouse_root(), f"{name}_{tag}")
    meta_path = os.path.join(root, "meta.json")
    want = {"source": source_fingerprint(sf_dir, table)}
    have = None
    if os.path.exists(meta_path):
        try:
            with open(meta_path) as f:
                have = json.load(f)
        except (OSError, json.JSONDecodeError):
            have = None
    state = os.path.join(root, "state")
    if have != want:
        if os.path.exists(root):
            shutil.rmtree(root)
        os.makedirs(root, exist_ok=True)
        build(load_table(spark, sf_dir, table), state)
        with open(meta_path, "w") as f:
            json.dump(want, f)
    return state


@register("bigram_lm_scores_served", oracle=ORACLES["bigram_lm_doc_scores"])
def bigram_lm_scores_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scores served from the PERSISTED count state
    (streaming/lm.py) instead of retraining in-query: the corpus is
    folded once per fingerprint into batch-0 unigram/bigram partials; serving merges them (two
    vocabulary-sized groupBy-SUMs) and scores every document with the
    identical smoothed arithmetic. Same oracle as
    ``bigram_lm_doc_scores`` — counts summed over batch partials MUST
    equal the one-shot batch counts. ``bigram_lm_doc_scores``
    stays registered as the train-path measurement."""
    from mle_proj_datapipeline_spark.streaming import lm

    state = _ensure_count_state(
        spark,
        sf_dir,
        "documents",
        "lm_counts",
        lambda df, st: lm.merge_batch_counts(df, 0, st),
    )
    uni, big = lm.served_counts(spark, state)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return lm.score_docs(docs, uni, big)


@register("cm_heavy_hitters_served", oracle=ORACLES["cm_sketch_heavy_hitters"])
def cm_heavy_hitters_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter estimates served from the PERSISTED
    sketch (streaming/sketch.py): orders are folded once per
    fingerprint into batch-0 d×w cell partials; serving merges them (one
    bounded groupBy-SUM) and answers the top-10 point queries against
    the maintained sketch. The exact counts ride along from one scan of
    orders — they are part of the output contract (estimate vs truth) —
    but the ESTIMATES come only from the persisted state. Same oracle
    as ``cm_sketch_heavy_hitters``: cells merge by SUM, so maintained
    == one-shot."""
    from mle_proj_datapipeline_spark.operators import sketch
    from mle_proj_datapipeline_spark.streaming import sketch as stream_sketch

    state = _ensure_count_state(
        spark,
        sf_dir,
        "orders",
        "cm_cells",
        lambda df, st: stream_sketch.merge_batch_cells(df, 0, st, "o_custkey"),
    )
    cells = stream_sketch.served_cells(spark, state)
    o = load_table(spark, sf_dir, "orders")
    # NULL is not a key — same contract as the batch twin and the
    # sketch operator itself (operators/sketch.cm_cells_from_counts).
    counts = (
        o.filter(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # r12 (guide §2.4): top10 feeds both the sketch point-queries and the
    # exact-count join — without a lineage cut the orders scan + groupBy
    # + top-k ran twice. Cut at the 10-row frame.
    from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame

    top10 = materialize_frame(
        counts.orderBy(F.col("n").desc(), F.col("key").asc()).limit(10)
    )
    return (
        sketch.cm_estimate(cells, top10)
        .join(F.broadcast(top10), "key")
        .select(
            F.col("key").alias("o_custkey"),
            F.col("n").alias("exact_n"),
            "cm_est",
        )
    )
