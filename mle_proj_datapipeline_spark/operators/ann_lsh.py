"""Random-hyperplane LSH approximate nearest neighbor: banded bucket
top-k and the persisted-index serve paths. Vector primitives live in
operators/veclib.py.

Scale design (100 TB): sign-bit bucket per vector, exact rerank within
bucket — one shuffle on bucket id, no cross join; the persisted index
pins its geometry + corpus fingerprint in the snapshot manifest.
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
from mle_proj_datapipeline_spark.sources.snapshots import (
    history,
    materialize_frame,
    read_snapshot,
    write_snapshot,
)


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
    base = materialize_frame(
        ensure_parallelism(one).select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), *band_cols
        ),
        snapshot_root,
    )

    return _lsh_rerank(base, bands, k)


def _lsh_rerank(base: DataFrame, bands: int, k: int) -> DataFrame:
    """Candidate generation + exact rerank over a banded signature table
    (vid, v, bk0..bk{bands-1}) — shared by the in-query path (lsh_topk)
    and the persisted-index serve path (lsh_index_topk)."""
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


def lsh_index_build(
    df: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = BANDS,
    planes_per_band: int | None = PLANES_PER_BAND,
    meta_extra: dict | None = None,
) -> int:
    """Build and PERSIST the multi-band LSH index: the banded signature
    table (vid, v, per-band bucket keys) committed as a snapshot, with
    the geometry recorded in manifest meta so a reader (or a rebuild
    check) can detect a stale index after a geometry change. The
    signature computation — the map-side cost lsh_topk pays on every
    call — is paid once here; serving only runs candidate join +
    rerank. Returns the committed version."""
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
    base = ensure_parallelism(one).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), *band_cols
    )
    return write_snapshot(
        base,
        f"{root}/signatures",
        meta={"bands": bands, "planes_per_band": planes_per_band, **(meta_extra or {})},
    )


def lsh_index_geometry(spark, root: str) -> dict | None:
    """Geometry meta of the committed LSH index, or None if absent."""
    snaps = history(spark, f"{root}/signatures")
    return snaps[-1].get("meta") if snaps else None


def lsh_index_topk(spark, root: str, k: int = 1) -> DataFrame:
    """Serve LSH ANN top-k from the PERSISTED signature index
    (lsh_index_build): zero signature work — candidates and rerank run
    straight off the committed banded table, identical results to
    lsh_topk over the same corpus/geometry (same oracle)."""
    meta = lsh_index_geometry(spark, root)
    if meta is None:
        raise FileNotFoundError(f"no LSH index committed under {root}")
    # Materialize the committed signature table once per serve call: the
    # rerank consumes it three times (band explode, query vectors,
    # candidate vectors) and re-scanning even a small parquet snapshot
    # 3× costs more than one localCheckpoint of it — and gives AQE
    # exact sizes for the rerank's broadcast decisions.
    base = materialize_frame(read_snapshot(spark, f"{root}/signatures"))
    return _lsh_rerank(base, int(meta["bands"]), k)


def lsh_top1(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    snapshot_root: str | None = None,
) -> DataFrame:
    """Approximate nearest neighbor per vector — multi-band hyperplane
    LSH (lsh_topk, k=1). Kept as the named top-1 entry point."""
    return lsh_topk(df, id_col, vec_col, k=1, snapshot_root=snapshot_root)
