"""IVF (inverted-file) approximate nearest neighbor: multi-probe
search over a fixed or a trained codebook, and the persisted index.
Cell-assignment primitives live in operators/veclib.py, codebook
training in operators/kmeans.py.

Scale design (100 TB): the codebook is driver-held k·dim (broadcast);
search shuffles once on cell id; the persisted index is one snapshot
table holding the codebook and the cell assignment together, pinned by
``snapshots.pinned_snapshot`` under the corpus fingerprint and the
training parameters.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Row, Window

from mle_proj_datapipeline_spark.operators.kmeans import kmeans_fit
from mle_proj_datapipeline_spark.operators.veclib import (
    NUM_PROBES,
    cosine,
    ivf_cell,
    ivf_probes,
)
from mle_proj_datapipeline_spark.session import ensure_parallelism


def _probe_rerank(
    cands: DataFrame,
    queries: DataFrame,
    probes: Column,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact top-k within the probed cells, shared by every IVF path:
    each query explodes its probed cell ids (``probes``, an array
    column over ``queries``), the broadcast queries equi-join the
    candidates (neighbor_id, cv, cell) on cell, and cosine ranks the
    pairs (ties by neighbor id)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probes).alias("cell"),
    )
    scored = (
        cands.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def _codebook(
    book_rows: list[Row], vec_col: str, n_probes: int, round_to: int
) -> tuple[list[list[float]], Column, Column]:
    """Compile trained (cell, i, m) codebook rows into the driver-held
    k·dim matrix, the array of its cell ids, and the probe-list
    expression over ``vec_col``. A cell that lost every vector drops
    out of the trained codebook, so expression indices are positions in
    the SURVIVING-cell list — the cell-id array maps them back to real
    cell ids."""
    cells = sorted({r["cell"] for r in book_rows})
    dim = max(r["i"] for r in book_rows)
    pos = {c: p for p, c in enumerate(cells)}
    book: list[list[float]] = [[0.0] * dim for _ in cells]
    for r in book_rows:
        book[pos[r["cell"]]][r["i"] - 1] = float(r["m"])
    cell_ids = F.array(*[F.lit(c) for c in cells])
    probes = F.transform(
        ivf_probes(vec_col, book, n_probes=n_probes, round_to=round_to),
        lambda p: F.element_at(cell_ids, p),
    )
    return book, cell_ids, probes


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """IVF approximate top-k: candidates are indexed once by nearest-
    centroid cell; each query probes its NUM_PROBES nearest cells and
    reranks exactly within them.

    Scale shape: the cell index is a narrow per-row map over the corpus
    (build once, partition by cell); the probe join is an equi-join on
    cell id — per-query work is |probed cells| not |corpus|, and the
    shuffle key is the (small-cardinality, controllably-balanced) cell
    id rather than an all-pairs cross."""
    c = ensure_parallelism(candidates.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        ivf_cell(vec_col).alias("cell"),
    )
    return _probe_rerank(c, queries, ivf_probes(vec_col), id_col, vec_col, k)


def ivf_trained_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    iterations: int = 2,
    n_probes: int = NUM_PROBES,
    round_to: int = 6,
) -> DataFrame:
    """IVF ANN over a TRAINED codebook: the coarse quantizer comes from
    ``kmeans_fit`` (distributed Lloyd's from the deterministic H31
    init), not the fixed pseudo-random centroids — candidate cells ARE
    the final k-means assignment, and query probe lists are computed
    against the same trained centroid rows.

    Scale shape: training is the distributed kmeans_fit passes; the
    trained codebook (k·dim doubles — bounded, the dictionary-collect
    class) is then pulled to the driver and compiled into the same
    closed-form nearest-cell expression ivf_topk uses, so assigning the
    FULL corpus is pure map work: no join, no shuffle, whole-stage
    codegen. That is the 100 TB shape — only training touches shuffles;
    the persisted index (ivf_index) pays that training once per corpus.
    Distances round to the trainer's grid pre-argmin so the assignment
    is exactly the oracle's (rounded-dist, lowest-cell-tie) one."""
    _, cent = kmeans_fit(
        candidates, id_col, vec_col, iterations=iterations, round_to=round_to
    )
    # kmeans_fit's final assignment is lazy and never consumed —
    # only the (cell, i, m) codebook rows are evaluated here.
    book, cell_ids, probes = _codebook(cent.collect(), vec_col, n_probes, round_to)
    c = ensure_parallelism(candidates.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(cell_ids, ivf_cell(vec_col, book, round_to=round_to)).alias("cell"),
    )
    return _probe_rerank(c, queries, probes, id_col, vec_col, k)


def ivf_index(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """The persisted IVF index as ONE table from one ``kmeans_fit``
    call: codebook rows (cell, i, m) with a null vid, and assignment
    rows (vid, cell, v — the vector itself, so serving needs no join
    back to the corpus). Pinned as one snapshot, both halves land in
    one atomic commit, so a reader can never score probe lists against
    centroids from another training run than the assignment's. The two
    halves come from separate union children, so they sit in separate
    files and the codebook read (``vid IS NULL``) skips the assignment
    row groups on their null counts."""
    assigned, cent = kmeans_fit(
        vecs, id_col, vec_col, iterations=iterations, round_to=round_to
    )
    one = vecs.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    return (
        assigned.select("vid", "cell")
        .join(one, "vid")
        .unionByName(cent, allowMissingColumns=True)
    )


def ivf_index_topk(
    queries: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probes: int = NUM_PROBES,
    round_to: int = 6,
) -> DataFrame:
    """Serve ANN top-k from a persisted IVF index (``ivf_index``): zero
    training work — the codebook rows (k·dim, bounded) collect to the
    driver and compile into the closed-form probe expression;
    candidates are the committed assignment rows. Identical results to
    ivf_trained_topk for the same corpus and parameters (same oracle)."""
    book_rows = index.filter(F.col("vid").isNull()).select("cell", "i", "m").collect()
    _, _, probes = _codebook(book_rows, vec_col, n_probes, round_to)
    cands = index.filter(F.col("vid").isNotNull()).select(
        F.col("vid").alias("neighbor_id"), F.col("v").alias("cv"), "cell"
    )
    return _probe_rerank(cands, queries, probes, id_col, vec_col, k)
