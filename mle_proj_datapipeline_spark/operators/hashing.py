"""Cross-engine-deterministic hash primitives and dedup geometry
constants — the stable leaf of the dedup operator family (kept apart from
the kernels so a kernel edit no longer re-stales every query that
only needs ``h31``).

All hashing is built from one primitive —
``H31(s) = int(md5(s)[:15 hex], 16) % (2^31-1)`` — computable
identically in Spark (conv/substring/md5), DuckDB (hex-literal cast),
and Python (hashlib), so every dedup query has an exact SQL oracle.

Everything here is either a pure constant or a narrow per-row JVM
expression (no shuffle). Constants live HERE (not beside their kernels) because
the oracle-SQL builders need them without importing kernel code.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column

P31 = (1 << 31) - 1  # Mersenne prime 2^31-1: modmul products stay < 2^62

# MinHash family h_i(x) = (A[i]*x + B[i]) mod P31 — fixed odd multipliers /
# offsets, embedded verbatim in the SQL oracles. 16 hashes = 4 bands × 4 rows
# → LSH S-curve threshold (1/4)^(1/4) ≈ 0.71.
NUM_HASHES = 16
LSH_BANDS = 4
LSH_ROWS = NUM_HASHES // LSH_BANDS
MINHASH_A = [2 * i + 3 for i in range(1, NUM_HASHES + 1)]
MINHASH_B = [7919 * i + 104729 for i in range(NUM_HASHES)]

# SimHash geometry: the md5-derived token hash carries 60 usable bits
# (15 hex digits), split into 4 blocks of 15 bits for pigeonhole candidate
# generation (guarantees recall for hamming ≤ 3).
SIMHASH_BITS = 60
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = 15

LEN_BAND_WIDTH = 16  # tokens per length band in the composite block key


def h31_py(s: str) -> int:
    """Python twin of the Spark/DuckDB H31 hash (for plane generation)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P31


def h31(c: Column | str) -> Column:
    """31-bit md5-derived hash, identical across Spark/DuckDB/Python."""
    col = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % F.lit(P31)


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-grams. 1-based slice matches DuckDB list_slice."""
    col = F.col(text) if isinstance(text, str) else text
    toks = F.split(col, " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over distinct-element arrays, double division parity."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))
