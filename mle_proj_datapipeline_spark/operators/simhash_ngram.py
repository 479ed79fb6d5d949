"""SimHash and blocked n-gram-Jaccard near-duplicate kernels (geometry
constants and the H31 primitive live in operators/hashing.py).

Scale design (100 TB): fingerprints are narrow per-row JVM folds (one
md5 per token); candidate generation is block-keyed equi-self-join —
pigeonhole 15-bit simhash blocks, or composite (prefix, length-band)
blocks with a hard ``max_block`` skew cap for the exact-Jaccard form.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from mle_proj_datapipeline_spark.operators.hashing import (
    LEN_BAND_WIDTH,
    SIMHASH_BITS,
    SIMHASH_BLOCK_BITS,
    SIMHASH_BLOCKS,
    jaccard,
    word_shingles,
)
from mle_proj_datapipeline_spark.session import ensure_parallelism
from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    block_expr: Column | None = None,
    len_band_width: int | None = LEN_BAND_WIDTH,
    max_block: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs within blocks.

    Default block key is COMPOSITE: (first-k-token prefix, token-count
    band of ``len_band_width``). The prefix alone has unbounded skew — a
    boilerplate prefix ("the quick …" across a scraped corpus) collects
    a hot block whose within-block join is quadratic. The length band
    splits such a block by size, and near-dups can't straddle many
    bands: Jaccard ≥ 0.5 forces |A|/|B| ∈ [0.5, 2], so same-length-ish
    docs land together (boundary-adjacent pairs are the documented
    recall cost of any blocking key).

    ``max_block`` is the hard skew guard: blocks still exceeding the cap
    are DROPPED (not exploded) — at corpus scale an over-cap block is
    template/boilerplate text whose pairs belong to exact dedup, and a
    single hot block must never hold the job hostage. The cap is part of
    the operator's declared semantics (the SQL oracle applies the same
    HAVING), not a silent truncation.

    The block key is computed from the raw token sequence, not the
    distinct shingle array — distinct-array order is engine-specific."""
    toks = F.split(F.col(text_col), " ")
    if block_expr is not None:
        block = block_expr
    else:
        prefix = F.array_join(F.slice(toks, 1, shingle_k), " ")
        if len_band_width:
            block = F.concat_ws(
                "|",
                prefix,
                F.floor(F.size(toks) / F.lit(float(len_band_width))).cast("long").cast("string"),
            )
        else:
            block = prefix
    blocked = materialize_frame(  # shingle once, not once per self-join side
        ensure_parallelism(df.select(id_col, text_col)).select(
            F.col(id_col).alias("doc"),
            word_shingles(F.col(text_col), shingle_k).alias("sh"),
            block.alias("blk"),
        )
    )
    if max_block:
        wb = Window.partitionBy("blk")
        blocked = (
            blocked.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= max_block)
            .drop("__bn")
        )
    a = blocked.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"), "blk")
    b = blocked.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _simhash_hof(text_col: str, bits: int = SIMHASH_BITS) -> Column:
    """The production fold (r13 re-adjudication): per token, a
    ``bits``-wide vote-accumulator array rebuild — CodegenFallback,
    ~|tokens|·bits interpreted lambda dispatches plus one array
    allocation per token per row. Slower per-core than the NumPy
    kernel in isolation, but under the driver's full-bench methodology
    the Arrow boundary + Python-worker scheduling cost MORE at sf0.1
    row counts: the r12 driver read 1.2 → 2.1 s for the kernel, and
    the r13 alternated 3-pair full-bench A/B (environment-normalized
    by a per-run 68-query index) confirmed HOF ≈6% faster — HOF
    {1.34, 1.36, 1.43} vs kernel {1.40, 1.44, 1.50} normalized
    seconds. JVM-only also keeps the fingerprint path free of the
    Python boundary at cluster scale (guide §4.1)."""
    votes = (
        "aggregate("
        f"transform(split({text_col}, ' '), t -> cast(conv(substring(md5(t),1,15),16,10) as bigint)), "
        f"array_repeat(0L, {bits}), "
        f"(acc, x) -> transform(sequence(0, {bits - 1}), "
        "j -> element_at(acc, j+1) + IF((shiftright(x, j) & 1) = 1, 1L, -1L)))"
    )
    # Bind the votes array ONCE via a 1-element-array fold — inlining it
    # into the per-bit lambda would re-run the whole token fold per bit.
    return F.expr(
        f"aggregate(array({votes}), 0L, (acc, v) -> acc + "
        f"aggregate(transform(sequence(0, {bits - 1}), "
        "j -> IF(element_at(v, j+1) > 0, shiftleft(1L, j), 0L)), "
        "0L, (a, b) -> a + b))"
    )


def simhash(text_col: str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint over word-token hashes (with multiplicity):
    bit j = 1 iff Σ_tokens (±1 by bit j of H60(token)) > 0.

    Delegates to the JVM HOF fold — the r12 NumPy-kernel variant
    (bit-identical; the A/B is in AB_SIMHASH_r13.json) was REVERTED
    in r13: the driver read it 1.2 → 2.1 s and the r13
    alternated full-bench A/B confirmed the loss under driver
    methodology (see ``_simhash_hof``). Takes a column NAME."""
    return _simhash_hof(text_col, bits)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming via block LSH:
    fingerprints within hamming d ≤ SIMHASH_BLOCKS-1 share at least one
    of the 15-bit blocks (pigeonhole), so candidates = equi-join per
    block. 15-bit keys (32k values) keep buckets sparse.

    The 60-bit fingerprint fold is computed once (one lineage cut), not
    once per self-join side (see minhash_lsh_pairs)."""
    base = materialize_frame(
        ensure_parallelism(df.select(id_col, text_col)).select(
            F.col(id_col).alias("doc"), simhash(text_col).alias("fp")
        )
    )
    blocks = base.select(
        "doc",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk_idx"),
                        F.shiftright(F.col("fp"), SIMHASH_BLOCK_BITS * k)
                        .bitwiseAND(F.lit((1 << SIMHASH_BLOCK_BITS) - 1))
                        .alias("blk_key"),
                    )
                    for k in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("blk"),
    ).select("doc", "fp", "blk.blk_idx", "blk.blk_key")
    a = blocks.select(F.col("doc").alias("id_a"), F.col("fp").alias("fp_a"), "blk_idx", "blk_key")
    b = blocks.select(F.col("doc").alias("id_b"), F.col("fp").alias("fp_b"), "blk_idx", "blk_key")
    return (
        a.join(b, ["blk_idx", "blk_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
