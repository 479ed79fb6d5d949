"""Vector primitives for similarity search over embedding columns
(array<float>): deterministic hyperplane/centroid seeds, double-
precision ordered folds (dot/norm/cosine — bit-identical to the DuckDB
oracle's list_reduce), sign-bit plane buckets, IVF cell assignment /
multi-probe selection, the exact brute-force top-k baseline, and the
corpus-sized LSH geometry rule. Stable leaf of the ANN family.

No MLlib (per engine policy — MLlib LSH .fit() is batch-dependent, like
the reference's per-batch StringIndexer anti-pattern SURVEY §4.2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from mle_proj_datapipeline_spark.operators.hashing import h31_py
from mle_proj_datapipeline_spark.session import ensure_parallelism

EMB_DIM = 64
NUM_PLANES = 8  # 2^8 = 256 buckets (single-band legacy geometry)
BANDS = 2  # multi-band LSH: union of per-band bucket candidates
PLANES_PER_BAND = 8  # 2^b buckets per band; scale with corpus (planes_per_band_for)


def hyperplanes(num_planes: int = NUM_PLANES, dim: int = EMB_DIM) -> list[list[float]]:
    """Deterministic pseudo-random planes in [-1, 1], identical in any
    engine that can compute H31 (md5-derived)."""
    return [
        [(h31_py(f"p{j}_{d}") % 2001 - 1000) / 1000.0 for d in range(dim)]
        for j in range(num_planes)
    ]


def dot_double(a: Column, b: Column) -> Column:
    """Ordered double-precision fold — deterministic across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_double(a: Column) -> Column:
    return F.sqrt(dot_double(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot_double(a, b) / (norm_double(a) * norm_double(b))


def plane_bucket(vec: Column | str, planes: list[list[float]] | None = None) -> Column:
    """Sign-bit bucket id: bit j = 1 iff dot(vec, plane_j) >= 0.

    Generated as ONE parsed SQL expression instead of ~8×64 Column
    objects — expression-tree construction over Py4J dominated wall
    clock for wide literal trees (1.3 s → ~10 ms at dim 64 × 8 planes)."""
    planes = planes or hyperplanes()
    v = vec if isinstance(vec, str) else vec._jc.toString()
    terms = []
    for j, p in enumerate(planes):
        lits = ", ".join(f"{x!r}D" for x in p)
        dot = (
            f"aggregate(zip_with({v}, array({lits}), "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"IF({dot} >= 0, {1 << j}, 0)")
    return F.expr("(" + " + ".join(terms) + ")")


NUM_CELLS = 8
NUM_PROBES = 2


def ivf_centroids(num_cells: int = NUM_CELLS, dim: int = EMB_DIM) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids (same H31 recipe as the
    hyperplanes). A production IVF would k-means these; a fixed pseudo-
    random codebook exercises the identical plan shape and keeps the SQL
    oracle exact."""
    return [
        [(h31_py(f"c{k}_{d}") % 2001 - 1000) / 1000.0 for d in range(dim)]
        for k in range(num_cells)
    ]


def _dist_sq_sql(vec: str, centroid: list[float], round_to: int | None = None) -> str:
    lits = ", ".join(f"{x!r}D" for x in centroid)
    expr = (
        f"aggregate(zip_with({vec}, array({lits}), "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )
    if round_to is not None:
        expr = f"round({expr}, {round_to})"
    return expr


def ivf_cell(
    vec: str,
    centroids: list[list[float]] | None = None,
    round_to: int | None = None,
) -> Column:
    """1-based id of the nearest centroid (L2; ties → lowest id).
    ``round_to`` rounds each distance first — pass the trainer's grid so
    assignment matches an oracle that argmins over rounded distances."""
    cs = centroids or ivf_centroids()
    d_arr = "array(" + ", ".join(_dist_sq_sql(vec, c, round_to) for c in cs) + ")"
    return F.expr(f"array_position({d_arr}, array_min({d_arr}))").cast("int")


def ivf_min_dist(
    vec: str,
    centroids: list[list[float]] | None = None,
    round_to: int | None = None,
) -> Column:
    """Squared L2 distance to the nearest centroid (the inertia term)."""
    cs = centroids or ivf_centroids()
    d_arr = "array(" + ", ".join(_dist_sq_sql(vec, c, round_to) for c in cs) + ")"
    return F.expr(f"array_min({d_arr})")


def ivf_probes(
    vec: str,
    centroids: list[list[float]] | None = None,
    n_probes: int = NUM_PROBES,
    round_to: int | None = None,
) -> Column:
    """Ids of the ``n_probes`` nearest cells (dist asc, id asc) — the
    query-side probe list. Struct array_sort is lexicographic in both
    Spark and DuckDB, so tie order is cross-engine identical."""
    cs = centroids or ivf_centroids()
    d_arr = "array(" + ", ".join(_dist_sq_sql(vec, c, round_to) for c in cs) + ")"
    return F.expr(
        f"transform(slice(array_sort(transform(sequence(1, {len(cs)}), "
        f"k -> struct(element_at({d_arr}, k) AS dist, k AS idx))), 1, {n_probes}), "
        "s -> CAST(s.idx AS INT))"
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact top-k neighbors per query (cosine DESC, neighbor id ASC).

    The query side is broadcast — at scale this is |C| passes of narrow
    map work + a per-query top-k (TakeOrdered per group), no shuffle of
    the candidate set."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = ensure_parallelism(candidates.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def planes_per_band_for(n_rows: int, target_bucket: int = 64) -> int:
    """Plane count per band sized to the corpus: 2^b buckets per band so
    the EXPECTED bucket holds ~``target_bucket`` vectors. The within-
    bucket rerank is then O(n · target_bucket) total instead of
    O((n/2^b)²) per bucket with a fixed b — the knob that keeps
    bucketed ANN linear as the corpus grows 100×."""
    import math

    return max(4, math.ceil(math.log2(max(2, n_rows / max(1, target_bucket)))))


def valid_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = EMB_DIM,
    require_nonzero: bool = True,
) -> DataFrame:
    """Declared dirty-input contract for embedding consumers (found by
    the mutated-table fuzz harness, round 7): a 100 TB corpus WILL
    carry NULL vectors (failed encoder calls), wrong-length vectors
    (mixed model versions), and all-zero vectors (padding / dead docs).

    - NULL / wrong-length rows are dropped for every consumer — they
      have no coordinates in the declared space (under ANSI mode they
      crash NumPy folds and silently skew JVM aggregates otherwise).
    - ``require_nonzero=True`` (similarity/clustering family) also
      drops all-zero vectors: a zero vector has no direction, so
      cosine against it is a 0/0 — ANSI division error on the Spark
      side, engine-dependent garbage elsewhere. Moment queries
      (covariance, drift) keep zeros: they carry real mass.

    Every embedding oracle spells out this WHERE clause verbatim, so
    the contract is parity-tested, not an implementation accident.
    Narrow map-side filter — pushes to the scan, no shuffle."""
    cond = F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    if require_nonzero:
        cond = cond & F.exists(F.col(vec_col), lambda x: x != F.lit(0.0))
    return df.filter(cond)
