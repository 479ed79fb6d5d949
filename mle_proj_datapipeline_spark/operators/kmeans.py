"""Distributed k-means (Lloyd's) over embedding columns — trains the
IVF codebook served by operators/ann_ivf.py. Cell-assignment
primitives live in operators/veclib.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from mle_proj_datapipeline_spark.operators.veclib import (
    ivf_cell,
    ivf_centroids,
    ivf_min_dist,
)
from mle_proj_datapipeline_spark.session import ensure_parallelism


def kmeans_fit(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_centroids: list[list[float]] | None = None,
    iterations: int = 2,
    round_to: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Distributed Lloyd's k-means over an embedding column — the real
    coarse-quantizer trainer the IVF family defers to (closes the
    "fixed pseudo-random codebook" gap flagged in round 1).

    Same design as Spark's own MLlib KMeans: the codebook
    (k·dim doubles — a bounded driver-side dictionary, NOT data) lives
    on the driver and is compiled into a closed-form nearest-cell
    expression each iteration, so
      assign:  pure map work over the vectors — no join, no shuffle,
               whole-stage codegen,
      update:  one posexplode + per-(cell, dim) mean — the only shuffle
               per iteration, partial-aggregated map-side,
    and each iteration ends with one bounded collect of the new k·dim
    means.

    Determinism/oracle parity: H31-derived init, fixed iteration count,
    centroid means and distances rounded to ``round_to`` decimals each
    step (both engines round identically, so ulp noise can't flip an
    argmin; exact ties break by cell ASC). A cell that loses all its
    vectors drops out of the codebook, exactly as a GROUP BY update
    loses it. Returns ``(assignment, centroids)``: the final (vec_id,
    cell, dist_sq) assignment and the (cell, i, m) codebook rows it was
    computed against."""
    init = init_centroids or ivf_centroids()
    base = ensure_parallelism(vecs.select(id_col, vec_col))
    cells = list(range(1, len(init) + 1))
    book = [list(map(float, c)) for c in init]

    def cell_col() -> Column:
        arr = F.array(*[F.lit(c) for c in cells])
        return F.element_at(arr, ivf_cell(vec_col, book, round_to=round_to))

    for _ in range(iterations - 1):
        upd = (
            base.select(
                cell_col().alias("cell"), F.posexplode(vec_col).alias("i0", "v0")
            )
            .select("cell", (F.col("i0") + 1).alias("i"), F.col("v0").cast("double").alias("v"))
            .groupBy("cell", "i")
            .agg(F.round(F.avg("v"), round_to).alias("m"))
            .collect()
        )
        if not upd:
            # Zero vectors reached the update (empty input after the
            # dirty-vector filter): every cell "lost its vectors" at
            # once — keep the current codebook instead of compiling
            # an empty one, and the assignment below is simply empty
            # (empty-table fuzz find, round 7).
            break
        cells = sorted({r["cell"] for r in upd})
        pos = {c: p for p, c in enumerate(cells)}
        dim = max(r["i"] for r in upd)
        book = [[0.0] * dim for _ in cells]
        for r in upd:
            book[pos[r["cell"]]][r["i"] - 1] = float(r["m"])
    assigned = base.select(
        F.col(id_col).alias("vid"),
        cell_col().alias("cell"),
        ivf_min_dist(vec_col, book, round_to=round_to).alias("dist_sq"),
    )
    cent = vecs.sparkSession.createDataFrame(
        [
            (cell, i + 1, m)
            for ci, cell in enumerate(cells)
            for i, m in enumerate(book[ci])
        ],
        "cell int, i int, m double",
    )
    return assigned, cent


def kmeans_iterate(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_centroids: list[list[float]] | None = None,
    iterations: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Assignment-only view of ``kmeans_fit`` (kept as the stable
    operator surface; see kmeans_fit for the full contract)."""
    assigned, _ = kmeans_fit(
        vecs, id_col, vec_col, init_centroids, iterations, round_to
    )
    return assigned
