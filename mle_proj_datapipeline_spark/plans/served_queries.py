"""Serve-path queries answered from PERSISTED count models.

The count models — the bigram LM's unigram/bigram relations
(streaming/lm.lm_counts) and the Count-Min sketch's d×w cells
(operators/sketch.cm_cells) — complete the fit-once/serve-many story
the ANN family already has (ann_lsh_indexed_top1 /
ann_ivf_indexed_topk): each registered query pins its model as a
snapshot keyed on the source table's file-stat fingerprint
(``snapshots.pinned_snapshot``, the same primitive the graph edge and
rank snapshots use), built from the whole table only when the pinned
version is absent or the source files changed, and then answers from
the committed model.

Each serves under the SAME oracle as its build-path sibling, because
serving from persisted counts must be bit-identical to the one-shot
batch computation.

Scale: steady state never touches the source table's count pass — the
served model is a scan of a bounded snapshot (vocabulary-sized for the
LM, d×w for the sketch), broadcast onto the scoring scan. The rebuild
trigger is a file-stat fingerprint (no data scan); a fingerprint
change commits a fresh model atomically, so no stream, checkpoint or
changelog is involved.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# Build-path siblings must be registered first so their oracles can be
# shared verbatim (ORACLES lookups below happen at import time).
import mle_proj_datapipeline_spark.plans.featurize_queries  # noqa: F401
import mle_proj_datapipeline_spark.plans.rollup_queries  # noqa: F401
from mle_proj_datapipeline_spark.plans.registry import ORACLES, register
from mle_proj_datapipeline_spark.sources.catalog import load_table, source_fingerprint
from mle_proj_datapipeline_spark.sources.metrics import table_root
from mle_proj_datapipeline_spark.sources.snapshots import pinned_snapshot


@register("bigram_lm_scores_served", oracle=ORACLES["bigram_lm_doc_scores"])
def bigram_lm_scores_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scores served from the PERSISTED count model
    (streaming/lm.py) instead of retraining in-query: the corpus's
    unigram and bigram counts are pinned once per fingerprint as two
    vocabulary-sized snapshots, and every document is scored against
    them with the identical smoothed arithmetic. Same oracle as
    ``bigram_lm_doc_scores`` — the persisted counts ARE the one-shot
    batch counts. ``bigram_lm_doc_scores`` stays registered as the
    train-path measurement."""
    from mle_proj_datapipeline_spark.streaming import lm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    key = source_fingerprint(sf_dir, "documents")
    uni = pinned_snapshot(
        spark, table_root("lm_unigrams", sf_dir), key, lambda: lm.lm_counts(docs)[0]
    )
    big = pinned_snapshot(
        spark, table_root("lm_bigrams", sf_dir), key, lambda: lm.lm_counts(docs)[1]
    )
    return lm.score_docs(docs, uni, big)


@register("cm_heavy_hitters_served", oracle=ORACLES["cm_sketch_heavy_hitters"])
def cm_heavy_hitters_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter estimates served from the PERSISTED
    sketch: the d×w cells of orders are pinned once per fingerprint,
    and the top-10 point queries are answered against them. The exact
    counts ride along from one scan of orders — they are part of the
    output contract (estimate vs truth) — but the ESTIMATES come only
    from the persisted cells. Same oracle as
    ``cm_sketch_heavy_hitters``: the persisted cells ARE the one-shot
    cells."""
    from mle_proj_datapipeline_spark.operators import sketch
    from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame

    o = load_table(spark, sf_dir, "orders")
    cells = pinned_snapshot(
        spark,
        table_root("cm_sketch", sf_dir),
        source_fingerprint(sf_dir, "orders"),
        lambda: sketch.cm_cells(o, "o_custkey"),
    )
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
