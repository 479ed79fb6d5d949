"""IVF (inverted-file) approximate nearest neighbor: multi-probe
search, trained codebooks, and the persisted-index serve paths.
Cell-assignment primitives live in operators/veclib.py, codebook
training in operators/kmeans.py.

Scale design (100 TB): the codebook is driver-held k·dim (broadcast);
search shuffles once on cell id; the persisted index is a snapshot
table keyed by cell, appended map-only per batch.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from mle_proj_datapipeline_spark.operators.kmeans import kmeans_fit
from mle_proj_datapipeline_spark.operators.veclib import (
    NUM_PROBES,
    cosine,
    ivf_cell,
    ivf_probes,
)
from mle_proj_datapipeline_spark.session import ensure_parallelism


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
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(ivf_probes(vec_col)).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
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
    codegen. That is the 100 TB shape — only training touches shuffles,
    and at that scale codebook + assignment would persist as snapshot
    tables and be reused across query batches rather than retrained.
    Distances round to the trainer's grid pre-argmin so the assignment
    is exactly the oracle's (rounded-dist, lowest-cell-tie) one."""
    _, cent = kmeans_fit(
        candidates, id_col, vec_col, iterations=iterations, round_to=round_to
    )
    # kmeans_fit's final assignment is lazy and never consumed —
    # only the (cell, i, m) codebook rows are evaluated here.
    book_rows = cent.collect()
    # A cell that lost every vector drops out of the trained codebook, so
    # expression indices are positions in the SURVIVING-cell list — map
    # them back to real cell ids explicitly.
    cells = sorted({r["cell"] for r in book_rows})
    dim = max(r["i"] for r in book_rows)
    pos = {c: p for p, c in enumerate(cells)}
    book: list[list[float]] = [[0.0] * dim for _ in cells]
    for r in book_rows:
        book[pos[r["cell"]]][r["i"] - 1] = float(r["m"])
    cell_ids = F.array(*[F.lit(c) for c in cells])

    c = ensure_parallelism(candidates.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(cell_ids, ivf_cell(vec_col, book, round_to=round_to)).alias("cell"),
    )
    qp = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            F.transform(
                ivf_probes(vec_col, book, n_probes=n_probes, round_to=round_to),
                lambda p: F.element_at(cell_ids, p),
            )
        ).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(qp), "cell")
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


def ivf_index_build(
    vecs: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
    round_to: int = 6,
) -> int:
    """Build and PERSIST an IVF index: train the coarse quantizer
    (kmeans_fit) and commit two snapshot tables under ``root`` —
    ``codebook`` (cell, i, m) and ``assignment`` (vid, cell, v: the
    vector itself, so the query path is self-contained, no join back to
    the corpus). This is the 100 TB usage pattern the in-query trainer
    only simulates: pay training once, serve every subsequent query
    batch from the committed index. Returns the codebook version.

    Commit pairing: the codebook commits FIRST and the assignment
    records its version in meta — readers pin that pair, so a crash
    between the two commits (or a reader racing a rebuild) can never
    score probe lists against centroids from a different training run
    than the assignment was built with."""
    from mle_proj_datapipeline_spark.sources.snapshots import write_snapshot

    assigned, cent = kmeans_fit(
        vecs, id_col, vec_col, iterations=iterations, round_to=round_to
    )
    one = vecs.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    vcb = write_snapshot(cent, f"{root}/codebook")
    write_snapshot(
        assigned.select("vid", "cell").join(one, "vid"),
        f"{root}/assignment",
        meta={"codebook_version": vcb},
    )
    return vcb


def _pinned_codebook(
    spark, root: str
) -> tuple[list[list[float]], list[int], int | None]:
    """Load the codebook version the LATEST assignment commit was built
    with (``codebook_version`` in the assignment manifest's meta) —
    never the bare latest codebook, which may belong to an in-flight
    rebuild that has committed its codebook but not yet its assignment.
    Returns (book, cells, pinned_version) with book rows ordered like
    ``cells`` — one history read serves both the book and the pin."""
    from mle_proj_datapipeline_spark.sources.snapshots import history, read_snapshot

    snaps = history(spark, f"{root}/assignment")
    pinned = snaps[-1].get("meta", {}).get("codebook_version") if snaps else None
    book_rows = read_snapshot(spark, f"{root}/codebook", version=pinned).collect()
    cells = sorted({r["cell"] for r in book_rows})
    dim = max(r["i"] for r in book_rows)
    pos = {c: p for p, c in enumerate(cells)}
    book: list[list[float]] = [[0.0] * dim for _ in cells]
    for r in book_rows:
        book[pos[r["cell"]]][r["i"] - 1] = float(r["m"])
    return book, cells, pinned


def ivf_index_topk(
    spark,
    queries: DataFrame,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probes: int = NUM_PROBES,
    round_to: int = 6,
) -> DataFrame:
    """Serve ANN top-k from a PERSISTED IVF index (ivf_index_build):
    zero training work — the codebook snapshot (k·dim rows, bounded)
    collects to the driver and compiles into the closed-form probe
    expression; candidates come straight off the committed assignment
    table, pre-partitioned by cell. Identical results to
    ivf_trained_topk for the same corpus/params (tested + same oracle).
    The codebook is the one PINNED by the assignment commit
    (_pinned_codebook), so a racing rebuild can't mismatch the pair."""
    from mle_proj_datapipeline_spark.sources.snapshots import read_snapshot

    book, cells, _ = _pinned_codebook(spark, root)
    cell_ids = F.array(*[F.lit(c) for c in cells])

    c = read_snapshot(spark, f"{root}/assignment").select(
        F.col("vid").alias("neighbor_id"), F.col("v").alias("cv"), "cell"
    )
    qp = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            F.transform(
                ivf_probes(vec_col, book, n_probes=n_probes, round_to=round_to),
                lambda p: F.element_at(cell_ids, p),
            )
        ).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(qp), "cell")
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
