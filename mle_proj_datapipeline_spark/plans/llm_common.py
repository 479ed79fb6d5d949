"""Shared cross-engine SQL fragments for the LLM-pipeline query
family (plans/llm_dedup_queries, llm_ann_queries, llm_text_queries,
llm_corpus_queries; SURVEY.md §7 phase 6).

Oracle SQL is *generated* from the same constants the Spark operators
use (hash multipliers, LSH geometry, hyperplanes), so both engines build
byte-identical hash families. See operators/hashing.py for the H31
cross-engine hash primitive.
"""

from __future__ import annotations

from mle_proj_datapipeline_spark.operators import hashing as dd
from mle_proj_datapipeline_spark.operators import veclib as sim

P = dd.P31

# ---- shared DuckDB SQL fragments (generated from module constants) -------

# distinct word-3-gram shingles of `text` (matches operators/hashing.word_shingles).
# The single-element outer list_transform is a LET BINDING: it evaluates
# string_split(text,' ') ONCE per row and closes over it as __toks —
# with the split inlined in the per-shingle lambda, DuckDB re-split the
# whole text for every shingle index, turning a 40k-token document into
# O(tokens x bytes) work (~17 min for five 300 KB docs; long-docs fuzz
# find, round 9). Same result, linear cost.
_SH = (
    "list_transform([string_split(text,' ')], __toks -> "
    "list_distinct(list_transform("
    "range(1, greatest(len(__toks)-2, 1)+1), "
    "i -> array_to_string(list_slice(__toks, i, i+2), ' '))))[1]"
)
# H31 of an expression e
def _h31(e: str) -> str:
    return f"(('0x'||substr(md5({e}),1,15))::BIGINT % {P})"


_SIG = (
    "["
    + ", ".join(
        f"list_min(list_transform(hs, x -> ({a}*x + {b}) % {P}))"
        for a, b in zip(dd.MINHASH_A, dd.MINHASH_B)
    )
    + "]"
)

_JACCARD = (
    "CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(x.sh, y.sh)))"
)

# 60-bit SimHash over H60 token hashes (full 15-hex-digit md5 prefix, no
# modulus) — matches operators/simhash_ngram.simhash bit-for-bit.
_SIMHASH_FP = (
    f"CAST(list_sum(list_transform(range(0, {dd.SIMHASH_BITS}), j -> "
    "CASE WHEN list_sum(list_transform(hs, x -> "
    "CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
    "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)"
)


def _dot_planes_sql(vec: str = "embedding", planes: list[list[float]] | None = None) -> list[str]:
    """One double-fold dot product per hyperplane, same order as Spark."""
    outs = []
    for p in planes if planes is not None else sim.hyperplanes():
        lits = "[" + ", ".join(repr(v) for v in p) + "]"
        outs.append(
            f"list_reduce(list_transform(range(1, {sim.EMB_DIM + 1}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({lits})[i]), (acc, v) -> acc + v)"
        )
    return outs


def _bucket_sql(planes: list[list[float]] | None = None, vec: str = "embedding") -> str:
    """Sign-bit bucket id over ``planes`` — DuckDB twin of
    sim.plane_bucket for an arbitrary plane slice (multi-band LSH)."""
    return (
        "("
        + " + ".join(
            f"CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END"
            for j, d in enumerate(_dot_planes_sql(vec, planes))
        )
        + ")"
    )


_BUCKET = _bucket_sql()

_COSINE = (
    "list_reduce(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (acc, v) -> acc + v)"
    " / (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (acc, v) -> acc + v))"
    " * sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (acc, v) -> acc + v)))"
)
