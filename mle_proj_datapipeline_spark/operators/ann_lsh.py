"""Random-hyperplane LSH approximate nearest neighbor: the banded
signature projection and the candidate rerank over it. Vector
primitives live in operators/veclib.py.

Scale design (100 TB): sign-bit bucket per vector, exact rerank within
bucket — one shuffle on bucket id, no cross join. The persisted index
(plans/llm_ann_queries.ann_lsh_indexed_top1) is ``lsh_signatures``
pinned by ``snapshots.pinned_snapshot`` under the corpus fingerprint
and geometry.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from mle_proj_datapipeline_spark.operators.veclib import (
    BANDS,
    PLANES_PER_BAND,
    cosine,
    hyperplanes,
    plane_bucket,
    planes_per_band_for,
)
from mle_proj_datapipeline_spark.session import ensure_parallelism
from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame


def lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = BANDS,
    planes_per_band: int | None = PLANES_PER_BAND,
    k: int = 1,
    snapshot_root: str | None = None,
) -> DataFrame:
    """Multi-band hyperplane LSH top-k: each vector gets ``bands``
    independent sign-bit bucket keys (``planes_per_band`` planes each);
    candidate pairs are the union over bands of same-bucket pairs, then
    an exact cosine rerank picks top-k per query.

    Scale shape (the fix for the fixed-256-bucket geometry):
    - bucket count per band is 2^planes_per_band; pass
      ``planes_per_band=None`` to size it from the corpus
      (planes_per_band_for) so expected bucket size stays constant as
      the corpus grows — within-bucket work stays linear overall.
    - candidate generation shuffles (band, key, id) only — ids, not
      vectors; the distinct-pair dedup collapses multi-band hits before
      any vector is fetched.
    - rerank fetches vectors by two hash joins on id (broadcast when the
      pair set is small), so vector payloads cross the wire once per
      surviving pair side, not once per band.
    - multi-band recall: a true neighbor is missed only if it disagrees
      with the query in EVERY band (P_miss = Π_b (1 - p^planes); more
      bands → higher recall at constant per-band cost).
    """
    base = materialize_frame(
        lsh_signatures(df, id_col, vec_col, bands, planes_per_band), snapshot_root
    )
    return lsh_rerank(base, bands, k)


def lsh_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = BANDS,
    planes_per_band: int | None = PLANES_PER_BAND,
) -> DataFrame:
    """The banded signature table (vid, v, bk0..bk{bands-1}): each
    vector with its ``bands`` sign-bit bucket keys. It is the map-side
    cost of LSH — the in-query path (lsh_topk) pays it per call, the
    persisted index pays it once per corpus and geometry."""
    one = df.select(id_col, vec_col)
    if planes_per_band is None:
        planes_per_band = planes_per_band_for(one.count())
    all_planes = hyperplanes(bands * planes_per_band)
    band_cols = [
        plane_bucket(
            F.col(vec_col), all_planes[b * planes_per_band : (b + 1) * planes_per_band]
        ).alias(f"bk{b}")
        for b in range(bands)
    ]
    return ensure_parallelism(one).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), *band_cols
    )


def lsh_rerank(base: DataFrame, bands: int, k: int) -> DataFrame:
    """Candidate generation + exact rerank over a banded signature table
    (lsh_signatures) — shared by the in-query path (lsh_topk) and the
    persisted-index serve path (ann_lsh_indexed_top1)."""
    sig = base.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"bk{b}").alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("vid", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))
    a = sig.select(F.col("vid").alias("query_id"), "band", "key")
    b_ = sig.select(F.col("vid").alias("neighbor_id"), "band", "key")
    pairs = (
        a.join(b_, ["band", "key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    if k == 1:
        # Multi-band duplicate pairs score identically, and the rank-1
        # window keeps exactly one row per query regardless — the
        # distinct's whole shuffle is redundant for top-1. (For k>1 a
        # duplicate could occupy two of the k slots, so dedup stays.)
        pass
    else:
        pairs = pairs.distinct()

    qv = base.select(F.col("vid").alias("query_id"), F.col("v").alias("qv"))
    cv = base.select(F.col("vid").alias("neighbor_id"), F.col("v").alias("cv"))
    scored = (
        pairs.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    out = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    if k == 1:
        return out.select("query_id", "neighbor_id", "cosine")
    return out.select("query_id", "neighbor_id", "cosine", "rk")


def lsh_top1(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Approximate nearest neighbor per vector — multi-band hyperplane
    LSH (lsh_topk, k=1). Kept as the named top-1 entry point."""
    return lsh_topk(df, id_col, vec_col, k=1)
