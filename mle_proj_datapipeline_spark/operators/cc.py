"""Connected-components kernels: min-label propagation and alternating
large-star/small-star rounds. Turns near-dup PAIRS (MinHash/SimHash output) into
near-dup CLUSTERS — the form a training-data pipeline actually consumes
(keep one canonical doc per cluster).

Scale design (100 TB): each round is one equi-join shuffle + one
partial-aggregated groupBy; node-sized frames are broadcast-hinted
below a declared gate (checkpointed frames carry no stats); graphs
below ``driver_max_edges`` skip the round loop for a driver union-find
(operators/cc_local.py — same canonical labels).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    broadcast_nodes_max: int = 1_000_000,
    driver_max_edges: int = 100_000,
) -> DataFrame:
    """Connected components over an undirected pair list by min-label
    propagation: every node repeatedly takes the smallest component id
    among itself and its neighbors until a fixpoint. Returns
    ``(node, comp)`` with ``comp`` = smallest node id in the component.

    This turns near-dup PAIRS (MinHash/SimHash output) into near-dup
    CLUSTERS — the form a training-data pipeline actually consumes
    (keep one canonical doc per cluster).

    Scale design (100 TB):
    - Each round is one equi-join shuffle + one partial-aggregated
      groupBy on node id — no driver materialization; the per-round
      convergence probe is ``limit(1).count()`` (stops at first diff).
    - ``localCheckpoint`` truncates lineage so the physical plan stays
      constant-size across rounds instead of doubling.
    - Rounds are bounded by component diameter. LSH near-dup graphs are
      unions of near-cliques (bucket co-membership), so 2-3 rounds in
      practice; for adversarial chain graphs swap in alternating
      large-star/small-star (same join primitive, O(log^2 n) rounds).
    """
    # Materialize the input pair list ONCE before anything consumes it
    # twice: the symmetrizing union below references the pair plan in
    # BOTH branches, so without this cut the caller's full candidate-
    # generation subtree (MinHash shingle/sig/band work) executes twice
    # inside one job (r12 — the same double-eval the star kernel fixed
    # in round 12 prep; guide §2.4). The cut is pair-list-sized.
    raw = materialize_frame(pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    # Small-graph arm: below the gate, per-round shuffle/checkpoint
    # overhead dwarfs the work — one driver union-find replaces the
    # whole iteration (operators/cc_local.py; same canonical labels).
    # Fast gate: raw pair rows bound unique pairs from above, so
    # raw_count ≤ cap proves the graph small WITHOUT building the
    # symmetrized frame at all (union-find needs neither orientation
    # nor dedup — r12: saves the sym shuffle + materialization on the
    # arm where they are pure overhead). Above the fast gate, the exact
    # unique-pair count still decides (ADVICE r7 semantics: the gate
    # counts UNDIRECTED pairs incl. self-loops, never 2x directed rows).
    from mle_proj_datapipeline_spark.operators.cc_local import union_find_labels

    if driver_max_edges and raw.count() <= driver_max_edges:
        return union_find_labels(raw, "a", "b")
    edges = materialize_frame(
        raw.union(raw.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .dropDuplicates(["a", "b"])
    )
    if (
        driver_max_edges
        and edges.filter(F.col("a") <= F.col("b")).count() <= driver_max_edges
    ):
        return union_find_labels(edges, "a", "b")
    labels = materialize_frame(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    # Label/min frames are node-sized; checkpointed frames carry no
    # size stats, so without a hint Catalyst reshuffles the EDGE list
    # against them every round. One |V| count decides: small graphs
    # broadcast the node-keyed side of every per-round join (edges are
    # materialized once, never reshuffled), big graphs keep plain
    # shuffle joins — identical results either way.
    small_graph = labels.count() <= broadcast_nodes_max

    def hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_graph else df

    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                hint(labels.select(F.col("node").alias("b"), F.col("comp").alias("bc"))),
                "b",
            )
            .groupBy("a")
            .agg(F.min("bc").alias("nbr_comp"))
            .select(F.col("a").alias("node"), "nbr_comp")
        )
        updated = materialize_frame(
            labels.join(hint(nbr_min), "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
            )
        )
        changed = (
            updated.join(hint(labels.select("node", F.col("comp").alias("old"))), "node")
            .filter(F.col("comp") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            break
    return labels


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    stats: dict | None = None,
    snapshot_root: str | None = None,
    broadcast_nodes_max: int = 1_000_000,
    driver_max_edges: int = 100_000,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond" — public algorithm): converges in O(log² n) rounds on ANY
    graph shape, including the long chains where plain min-label
    propagation needs O(diameter) rounds.

    large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u}).
    small-star(u): connect every neighbor v < u, and u itself, to m.
    At the fixpoint the edge set is a union of stars centered on each
    component's minimum node; labels read off as min(neighbor ∪ self).

    Per round: one groupBy-min on node (map-side combinable) + one
    equi-join + distinct — same primitives as the label-prop kernel, so
    the 100 TB shuffle story is unchanged; only the ROUND COUNT bound
    improves. ``stats['rounds']`` reports rounds used (tested ≤ ~log² n
    on an adversarial path graph). Returns (node, comp).

    ``snapshot_root``: per-round edge sets commit to the snapshot layer
    instead of executor-local ``localCheckpoint`` — the durable path
    for long cluster runs (a lost executor costs one round, not the
    whole iteration history); result-identical (tested)."""

    def cut(df: DataFrame, tag: str, rnd: int) -> DataFrame:
        root = f"{snapshot_root}/{tag}_r{rnd}" if snapshot_root else None
        return materialize_frame(df, root)

    def sym(e: DataFrame) -> DataFrame:
        return (
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(["u", "v"])
        )

    def mins_of(e: DataFrame) -> DataFrame:
        return e.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))

    # Materialize the input pair list ONCE before deriving nodes and
    # edges: both are separate actions, and without this cut each one
    # re-evaluates the full upstream pair plan (round-12 falsification:
    # customer_golden_records paid its whole SymSpell candidate stage
    # twice — 325 s vs ~140 s single-pass on the sparse-name probe).
    # The cut is output-sized (the pair list), never the corpus.
    raw = cut(pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")), "raw", 0)
    # Small-graph arm, fast gate (r12): raw pair rows bound unique
    # pairs from above, so raw_count ≤ cap proves the graph small
    # WITHOUT building the node or symmetrized-edge frames — the driver
    # union-find consumes the raw list directly (orientation, dups and
    # self-loops are all immaterial to it, and self-loop-only nodes
    # stay in its node universe, so singletons need no re-join). Two
    # shuffles + two materializations disappear on the arm where they
    # were pure overhead. Above the fast gate the exact symmetrized
    # count still decides (ADVICE r7 semantics: the gate counts unique
    # input pairs, never 2x directed rows).
    from mle_proj_datapipeline_spark.operators.cc_local import union_find_labels

    if driver_max_edges and raw.count() <= driver_max_edges:
        if stats is not None:
            stats["rounds"] = 0
            stats["mode"] = "driver-union-find"
        return union_find_labels(raw, "u", "v")
    nodes = cut(
        raw.select("u").union(raw.select(F.col("v").alias("u"))).distinct(), "nodes", 0
    )
    edges = cut(sym(raw), "edges", 0)
    edge_count = edges.count()
    # ``sym`` drops self-loops and keeps both orientations, so
    # edge_count is exactly 2x the unique input pairs.
    if driver_max_edges and edge_count // 2 <= driver_max_edges:
        if stats is not None:
            stats["rounds"] = 0
            stats["mode"] = "driver-union-find"
        lbl = union_find_labels(edges, "u", "v").withColumnRenamed("node", "u")
        return nodes.join(lbl, "u", "left").select(
            F.col("u").alias("node"), F.coalesce("comp", F.col("u")).alias("comp")
        )
    if stats is not None:
        stats["mode"] = "star"
    # Per-round min frames are node-sized; materialized frames carry no
    # size stats, so hint them (same gate as connected_components) to
    # keep the edge set from reshuffling every round on small graphs.
    small_graph = nodes.count() <= broadcast_nodes_max

    def hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_graph else df

    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star
        m = mins_of(edges)
        j = edges.join(hint(m), "u")
        large = cut(
            sym(
                j.filter(F.col("v") > F.col("u")).select(
                    F.col("v").alias("u"), F.col("m").alias("v")
                )
            ),
            "large",
            rounds,
        )
        # small-star
        m2 = mins_of(large)
        j2 = large.join(hint(m2), "u")
        small = cut(
            sym(
                j2.filter(F.col("v") < F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .unionByName(m2.select("u", F.col("m").alias("v")))
            ),
            "small",
            rounds,
        )
        # One count per round (the previous round's count is carried);
        # the exact exceptAll probe runs only when counts already agree.
        small_count = small.count()
        unchanged = (
            small_count == edge_count
            and small.exceptAll(edges).limit(1).count() == 0
        )
        edges, edge_count = small, small_count
        if unchanged:
            break
    if stats is not None:
        stats["rounds"] = rounds
    labels = edges.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("comp"))
    # Nodes seen only in self-loops never enter the (self-loop-free)
    # edge set — they are their own singleton component.
    return nodes.join(labels, "u", "left").select(
        F.col("u").alias("node"), F.coalesce("comp", F.col("u")).alias("comp")
    )
