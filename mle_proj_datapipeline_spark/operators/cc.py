"""Connected components by alternating large-star/small-star rounds.
Turns near-dup PAIRS (MinHash/SimHash output) into near-dup CLUSTERS —
the form a training-data pipeline actually consumes (keep one canonical
doc per cluster).

Scale design (100 TB): each round is one partial-aggregated groupBy-min
+ one equi-join + distinct; node-sized frames are broadcast-hinted
below a declared gate (checkpointed frames carry no stats); graphs
below ``driver_max_edges`` skip the round loop for a driver union-find
(operators/cc_local.py — same canonical labels).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from mle_proj_datapipeline_spark.operators.cc_local import (
    DRIVER_MAX_EDGES,
    union_find_labels,
)
from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    stats: dict | None = None,
    snapshot_root: str | None = None,
    broadcast_nodes_max: int = 1_000_000,
    driver_max_edges: int = DRIVER_MAX_EDGES,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond" — public algorithm): converges in O(log² n) rounds on ANY
    graph shape, including long chains, where min-label propagation
    would need O(diameter) rounds.

    large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u}).
    small-star(u): connect every neighbor v < u, and u itself, to m.
    At the fixpoint the edge set is a union of stars centered on each
    component's minimum node; labels read off as min(neighbor ∪ self).

    Per round: one groupBy-min on node (map-side combinable) + one
    equi-join + distinct. ``stats['rounds']`` reports rounds used
    (tested ≤ ~log² n on an adversarial path graph) and
    ``stats['mode']`` the arm taken. Returns (node, comp), comp = the
    smallest node id of the component.

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
    # size stats, so hint them to keep the edge set from reshuffling
    # every round on small graphs.
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
