"""MinHash + LSH near-duplicate detection kernels (geometry constants and
the H31 primitive live in operators/hashing.py).

Scale design (100 TB):
- Shingling + signatures are narrow per-row map work (no shuffle).
- LSH banding turns the quadratic all-pairs problem into an equi-join on
  (band_idx, band_key): one shuffle, AQE-skew-splittable, carrying ids
  only — the corpus text never enters the band shuffle. Candidate
  verification touches only same-bucket pairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from mle_proj_datapipeline_spark.operators.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_A,
    MINHASH_B,
    NUM_HASHES,
    P31,
    jaccard,
    word_shingles,
)
from mle_proj_datapipeline_spark.session import ensure_parallelism
from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame


def minhash_signature(shingles_col: str) -> Column:
    """Length-NUM_HASHES signature: min_i over hashed shingles.

    A single fold over the shingle array computes every permutation's
    running minimum — each shingle is md5-hashed exactly once. (Building
    the signature as NUM_HASHES separate array_min expressions would let
    Catalyst's CollapseProject inline and re-hash the array per
    permutation.) Takes a column NAME."""
    a_arr = "array(" + ",".join(f"{a}L" for a in MINHASH_A) + ")"
    b_arr = "array(" + ",".join(f"{b}L" for b in MINHASH_B) + ")"
    hs = (
        f"transform({shingles_col}, "
        f"s -> cast(conv(substring(md5(s),1,15),16,10) as bigint) % {P31})"
    )
    return F.expr(
        f"aggregate({hs}, array_repeat(cast({P31} as bigint), {NUM_HASHES}), "
        f"(acc, x) -> transform(sequence(0, {NUM_HASHES - 1}), "
        f"i -> least(element_at(acc, i+1), "
        f"(element_at({a_arr}, i+1) * x + element_at({b_arr}, i+1)) % {P31})))"
    )


def lsh_band_keys(shingles_col: str) -> Column:
    """Array of LSH_BANDS (band_idx, band_key) structs for explode+join.

    The signature is bound ONCE via a single-element-array fold — slicing
    a signature subexpression per band would recompute it per band."""
    sig = minhash_signature(shingles_col)

    def bands_from(g: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.array_join(
                        F.transform(
                            F.slice(g, b * LSH_ROWS + 1, LSH_ROWS), lambda v: v.cast("string")
                        ),
                        "_",
                    ).alias("band_key"),
                )
                for b in range(LSH_BANDS)
            ]
        )

    return F.aggregate(
        F.array(sig),
        F.expr("cast(null as array<struct<band_idx:int,band_key:string>>)"),
        lambda acc, g: bands_from(g),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    snapshot_root: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    shingle → signature → band explode → equi-self-join on
    (band_idx, band_key) *carrying ids only* → distinct candidate pairs →
    join back to the shingle table → exact Jaccard verification. Keeping
    the (large) shingle arrays out of the band join/distinct shuffles is
    the difference between shuffling ids and shuffling the corpus.

    The shingle+signature table is computed ONCE (one lineage cut)
    instead of re-running the md5 folds for each of the four plan arms
    that read it (band sides a/b, verify sides x/y) — ~1.5× on the
    measured corpus. Default storage is ``localCheckpoint``
    (executor-local); pass ``snapshot_root`` to persist the signature
    table as a real snapshot version instead — the 100 TB path, where
    an executor loss must not invalidate hours of signature computation
    (result-identical, tested).
    """
    base = materialize_frame(
        minhash_signature_table(df, id_col, text_col, shingle_k), snapshot_root
    )
    banded = base.select("doc", F.explode("bands").alias("band")).select(
        "doc", "band.band_idx", "band.band_key"
    )

    a = banded.select(F.col("doc").alias("id_a"), "band_idx", "band_key")
    b = banded.select(F.col("doc").alias("id_b"), "band_idx", "band_key")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    x = base.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    y = base.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signature_table(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int = 3
) -> DataFrame:
    """The (doc, shingles, band-keys) base frame minhash_lsh_pairs
    builds internally — exposed so it can be persisted as a snapshot
    table."""
    return (
        ensure_parallelism(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("doc"),
            word_shingles(F.col(text_col), shingle_k).alias("sh"),
        )
        .withColumn("bands", lsh_band_keys("sh"))
    )
