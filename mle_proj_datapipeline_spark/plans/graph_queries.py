"""Graph analytics: PageRank, triangle counting, association-rule mining.

Split from the round-5 analytics module so the per-file freshness
clock tracks one family (the VERDICT r4 item-2 discipline): an edit
here stales only this family's driver rows.

Edge builds share operators/graph.cooccurrence_pairs — ONE
groupBy(container) → bounded in-row pair fan-out with a DECLARED
per-container cap (``MAX_COOCCUR_SET``, VERDICT r5 item 3): only the
cap-many smallest members of a container participate, so one hot
container can never materialize an unbounded struct fan-out in a
single task. The SQL oracles encode the identical cap (row_number ≤
cap per container), so the cap is contract, not truncation; at every
test SF orders hold ≤7 suppliers/parts, far under the cap.

Float parity follows the registry convention (rounding at fixed grids,
integer-exact arithmetic wherever midpoints can land on rounding
boundaries); determinism via total-order tiebreaks and the H31
cross-engine hash."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.operators.graph import (
    MAX_COOCCUR_SET,
    cooccurrence_pairs,
)
from mle_proj_datapipeline_spark.plans.llm_common import _h31  # noqa: F401
from mle_proj_datapipeline_spark.plans.registry import register
from mle_proj_datapipeline_spark.sources.catalog import load_table


def _kept_cte(val: str) -> str:
    """DuckDB twin of the cooccurrence cap: per order, only the
    ``MAX_COOCCUR_SET`` smallest ``val`` members participate in pair
    fan-out (matches sort_array + slice on the Spark side)."""
    return f"""li AS (SELECT DISTINCT l_orderkey, {val} FROM lineitem),
    kept AS (
        SELECT l_orderkey, {val} FROM (
            SELECT l_orderkey, {val},
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY {val}) AS rn
            FROM li)
        WHERE rn <= {MAX_COOCCUR_SET})"""


# --------------------------------------------------------------------------
# Graph centrality: PageRank over the supplier co-occurrence graph
# --------------------------------------------------------------------------
_PR_ITERS = 5
_PR_DAMPING = 0.85


def _pagerank_oracle() -> str:
    """Unrolled power iteration as chained CTEs — the oracle runs the
    exact recurrence the Spark operator runs (teleport 0.15/n, damping
    0.85, symmetric co-occurrence edges from the capped per-order sets,
    |V| = non-isolated nodes)."""
    stages = []
    for k in range(1, _PR_ITERS + 1):
        stages.append(f"""
    c{k} AS (
        SELECT e.dst AS node, sum(p.r / deg.deg) AS m
        FROM e JOIN r{k - 1} p ON e.src = p.node JOIN deg ON deg.src = e.src
        GROUP BY e.dst),
    r{k} AS (
        SELECT v.node, 0.15 / nn.n + 0.85 * coalesce(c{k}.m, 0) AS r
        FROM v CROSS JOIN nn LEFT JOIN c{k} ON c{k}.node = v.node)""")
    return f"""
    WITH {_kept_cte("l_suppkey")},
    e AS (
        SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
        FROM kept a JOIN kept b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
    v AS (SELECT DISTINCT src AS node FROM e),
    nn AS (SELECT count(*) AS n FROM v),
    r0 AS (SELECT node, 1.0 / nn.n AS r FROM v CROSS JOIN nn),
    {",".join(stages)}
    SELECT node AS s_suppkey, round(r, 6) AS pr FROM r{_PR_ITERS}
    """


@register("supplier_pagerank", oracle=_pagerank_oracle())
def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier co-purchase graph (suppliers are
    linked when they fulfil lines of the same order) — link-graph
    importance as a corpus/source-quality prior, the graph-centrality
    sibling of ``neardup_clusters``'s connected components.

    Edge build: operators/graph.cooccurrence_pairs — one shuffle to
    per-order sets, bounded in-row pair fan-out under the declared
    MAX_COOCCUR_SET cap (VERDICT r5 item 3), never all-pairs across
    orders. Both orientations are emitted for every unordered pair, so
    the graph is symmetric by construction and the pagerank dangling
    guard is safely skipped (validate=False).
    Iteration: see operators/graph.pagerank (one shuffle per round,
    partial aggregation, checkpointed lineage).

    Float parity: teleport is 1-0.85 computed in binary vs the
    oracle's 0.15 decimal literal — ≤1 ulp apart, invisible at the
    6dp output rounding."""
    from mle_proj_datapipeline_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = cooccurrence_pairs(li, "l_orderkey", "l_suppkey", directed=False)
    # symmetric=True: both orientations emitted above, so the iteration
    # drops the per-round node-frame join + broadcast build (r12 — the
    # teleport left-join is an identity on symmetric graphs).
    ranks = pagerank(
        edges,
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
        validate=False,
        symmetric=True,
    )
    return ranks.select(
        F.col("node").alias("s_suppkey"), F.round("r", 6).alias("pr")
    )


# --------------------------------------------------------------------------
# Association rules: part co-purchase support / confidence / lift
# --------------------------------------------------------------------------
@register(
    "part_association_rules",
    oracle=f"""
    WITH {_kept_cte("l_partkey")},
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    item AS (SELECT l_partkey, count(*) AS ci FROM kept GROUP BY 1),
    pair AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS cp
        FROM kept a JOIN kept b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
    scored AS (
        SELECT pa, pb, cp,
               round(CAST(cp AS DOUBLE) / n.n_orders, 6) AS support,
               round(CAST(cp AS DOUBLE) / ia.ci, 4) AS confidence,
               round(CAST(cp AS DOUBLE) * n.n_orders / (ia.ci * ib.ci), 4) AS lift
        FROM pair
        JOIN item ia ON ia.l_partkey = pair.pa
        JOIN item ib ON ib.l_partkey = pair.pb
        CROSS JOIN n
        WHERE cp >= 2)
    SELECT pa, pb, cp, support, confidence, lift
    FROM scored ORDER BY lift DESC, pa, pb LIMIT 20
    """,
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over parts co-ordered in the
    same order: support, confidence P(b|a), and lift — the classic
    co-occurrence mining family (frequent-pair flavor, min support 2).

    Scale: pair generation is the capped per-order fan-out
    (cooccurrence_pairs, oriented); item counts come from the SAME
    capped sets so confidence/lift denominators and pair numerators
    see one consistent basket definition; final top-20 by
    (lift, pa, pb) is TakeOrderedAndProject. A min-support HAVING
    keeps the pair relation bounded long before ranking — the Apriori
    pruning step, expressed relationally."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .dropDuplicates()
    )
    # r12 (guide §2.4): the scalar n_orders, the two item-count sides,
    # and the basket build each re-evaluated the lineitem scan + dedup —
    # four evaluations of the same subtree. Cut once at the per-order
    # basket frame; n_orders is then count(key) over it (kept has one
    # row per distinct l_orderkey; count(col) skips a NULL group exactly
    # as countDistinct did), and the tiny item frame is cut so its two
    # broadcast sides share one evaluation.
    from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame

    kept = materialize_frame(
        li.groupBy("l_orderkey").agg(
            F.slice(F.sort_array(F.collect_set("l_partkey")), 1, MAX_COOCCUR_SET).alias("ss")
        )
    )
    n = kept.agg(F.count("l_orderkey").alias("n_orders"))
    item = materialize_frame(
        kept.select(F.explode("ss").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("ci"))
    )
    # Pair supports come from the shared persisted edge snapshot (w =
    # co-occurrence count under the same cap) — the heavy fan-out is
    # built once per corpus fingerprint, not per invocation.
    pair = (
        ensure_cooccurrence_edges(spark, sf_dir, "l_partkey", "cooccur_part")
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("pa"),
            F.col("dst").alias("pb"),
            F.col("w").alias("cp"),
        )
        .filter(F.col("cp") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("ci").alias("cia"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("ci").alias("cib"))
    return (
        pair.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa", "pb", "cp",
            F.round(F.col("cp").cast("double") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("cp").cast("double") / F.col("cia"), 4).alias("confidence"),
            F.round(
                F.col("cp").cast("double") * F.col("n_orders")
                / (F.col("cia") * F.col("cib")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "pa", "pb")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Graph: triangle count on the supplier co-purchase graph
# --------------------------------------------------------------------------
@register(
    "supplier_triangles",
    oracle=f"""
    WITH {_kept_cte("l_suppkey")},
    e AS (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM kept a JOIN kept b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e2.u = e1.v
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT a AS node FROM tri UNION ALL
              SELECT b FROM tri UNION ALL
              SELECT c FROM tri)
        GROUP BY node)
    SELECT node AS s_suppkey, n_triangles
    FROM per_node ORDER BY n_triangles DESC, node LIMIT 25
    """,
)
def supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the supplier co-purchase graph —
    the clustering-coefficient numerator, the standard community-
    density metric next to PageRank (importance) and connected
    components (membership).

    Scale (round 10 — the docstring's own "at production scale" note,
    now implemented): edges are oriented by DEGREE rank (degree, id)
    instead of id — the standard degree-ordered node-iterator. Wedges
    fan out from each edge's LOW-rank endpoint, so the wedge count is
    Σ C(outdeg,2) with outdeg ≤ O(√m): hubs receive edges instead of
    fanning them out and the worst case drops from Σ deg² to O(m^1.5).
    Every triangle is still enumerated exactly once as the rank-sorted
    (a,b,c) and each credits all three corners — per-node counts are
    IDENTICAL to the id-oriented form; the oracle is unchanged.

    Honest measurement (synth sf1 probe): 487 s vs 429 s id-oriented —
    NO win there, because the synthetic co-purchase graph is dense and
    REGULAR (uniform TPC-H keys, no hubs), where both orientations
    yield the same wedge volume; that volume is inherent to exact
    per-node enumeration. The orientation buys worst-case protection
    on skewed graphs (the 100 TB case that matters), not a regular-
    graph speedup; dense-regular cost reduction would require
    approximate counting (edge-sampled wedge checks), out of contract
    for an oracle-gated exact query."""
    from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame

    eb = ensure_cooccurrence_edges(spark, sf_dir, "l_suppkey", "cooccur_supp")
    deg = eb.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Node-cardinality gate for the degree-join hints (ADVICE r11): the
    # per-node degree table is |V|-sized, and an unconditional broadcast
    # would ship an unbounded relation to every executor at 100 TB
    # scale. Same declared cap as the CC/pagerank kernels; over it,
    # AQE picks the join strategy on real stats.
    small_graph = deg.count() <= 1_000_000

    def hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_graph else df

    ranked = eb.join(hint(deg), "src").join(
        hint(deg.select(F.col("src").alias("dst"), F.col("deg").alias("deg_dst"))),
        "dst",
    )
    # both orientations exist in eb: keep the one pointing up-rank
    e = materialize_frame(
        ranked.filter(
            (F.col("deg") < F.col("deg_dst"))
            | ((F.col("deg") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
        )
        .select(
            F.col("src").alias("u"),
            F.col("dst").alias("v"),
            F.col("deg_dst").alias("rv"),
        )
    )
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(
            (F.col("e1.rv") < F.col("e2.rv"))
            | ((F.col("e1.rv") == F.col("e2.rv")) & (F.col("e1.v") < F.col("e2.v")))
        )
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
        )
    )
    # rank(b) < rank(c), so a closing edge is oriented b -> c
    tri = wedge.join(
        e.select(F.col("u").alias("b"), F.col("v").alias("c")), ["b", "c"]
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "node")
        .limit(25)
        .select(F.col("node").alias("s_suppkey"), "n_triangles")
    )


# --------------------------------------------------------------------------
# Shared persisted edge store + serve-path PageRank (VERDICT r6 item 3)
# --------------------------------------------------------------------------
def ensure_cooccurrence_edges(
    spark: SparkSession, sf_dir: str, val_col: str, name: str
) -> DataFrame:
    """Fingerprint-pinned WEIGHTED co-occurrence edge snapshot, shared
    by the whole graph family (VERDICT r6 item 3: pagerank, triangles,
    and association rules each rebuilt the same capped pair fan-out
    from lineitem per invocation).

    Returns (src, dst, w) with both orientations of every unordered
    pair and w = number of orders whose capped set contains both — the
    one relation every family member derives from: pagerank drops w,
    triangles/rules filter src < dst (w IS the pair support). Built
    once per (corpus fingerprint, cap) through the snapshot layer's
    atomic commit; steady state is one manifest read + a parquet scan
    of the |E|-sized snapshot, no lineitem pass. Same pinning
    discipline as the LSH/IVF indexes and the served count models
    (plans/served_queries.py)."""
    import os

    from mle_proj_datapipeline_spark.sources.catalog import source_fingerprint
    from mle_proj_datapipeline_spark.sources.metrics import warehouse_root
    from mle_proj_datapipeline_spark.sources.snapshots import (
        expire,
        history,
        read_snapshot,
        write_snapshot,
    )

    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    root = os.path.join(warehouse_root(), f"{name}_{tag}")
    want = f"{source_fingerprint(sf_dir, 'lineitem')}|cap={MAX_COOCCUR_SET}"
    snaps = history(spark, root)
    if snaps and (snaps[-1].get("meta") or {}).get("source") == want:
        return read_snapshot(spark, root)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", val_col)
    edges = (
        cooccurrence_pairs(li, "l_orderkey", val_col, directed=False)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    write_snapshot(edges, root, mode="overwrite", meta={"source": want})
    expire(spark, root, keep_last=2)
    return read_snapshot(spark, root)


def ensure_pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-pinned RANK snapshot: the power iteration is the
    train step of this serve pair, so its output — the |V|-row rank
    vector, the artifact a ranking service ships — is committed once
    per (corpus fingerprint, cap, iterations, damping) and steady
    state is one manifest read + a |V|-row parquet scan (r13, VERDICT
    r12 item 6: the serve path was re-running all five iterations per
    invocation, ~3 s warm for an artifact that never changes between
    corpus versions). Same pinning discipline as the LSH/IVF indexes
    and the bigram count state; any input or hyper-parameter change
    misses the fingerprint and retrains through the edge snapshot."""
    import os

    from mle_proj_datapipeline_spark.operators.graph import pagerank
    from mle_proj_datapipeline_spark.sources.catalog import source_fingerprint
    from mle_proj_datapipeline_spark.sources.metrics import warehouse_root
    from mle_proj_datapipeline_spark.sources.snapshots import (
        expire,
        history,
        read_snapshot,
        write_snapshot,
    )

    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    root = os.path.join(warehouse_root(), f"pagerank_supp_{tag}")
    want = (
        f"{source_fingerprint(sf_dir, 'lineitem')}|cap={MAX_COOCCUR_SET}"
        f"|it={_PR_ITERS}|d={_PR_DAMPING}"
    )
    snaps = history(spark, root)
    if snaps and (snaps[-1].get("meta") or {}).get("source") == want:
        return read_snapshot(spark, root)
    edges = ensure_cooccurrence_edges(spark, sf_dir, "l_suppkey", "cooccur_supp")
    # symmetric (both orientations persisted) + distinct by construction
    # (the snapshot aggregates on (src, dst)): the train pass skips the
    # defensive |E| dedup shuffle and the per-round node-frame join (r12).
    ranks = pagerank(
        edges,
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
        validate=False,
        symmetric=True,
        assume_distinct=True,
    )
    write_snapshot(ranks, root, mode="overwrite", meta={"source": want})
    expire(spark, root, keep_last=2)
    return read_snapshot(spark, root)


@register("supplier_pagerank_served", oracle=_pagerank_oracle())
def supplier_pagerank_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank served from the PERSISTED rank snapshot
    (ensure_pagerank_ranks): training — the edge build and the five
    power-iteration rounds — happens once per corpus fingerprint
    behind the snapshot layer's atomic commit; steady state never
    touches lineitem OR the edge list. Same oracle as
    ``supplier_pagerank``, because the committed rank vector is
    exactly what the build path computes (full precision persisted,
    rounding applied at serve time); ``supplier_pagerank`` stays
    registered as the build-path measurement (the discipline of
    bigram_lm_scores_served / ann_lsh_indexed_top1)."""
    ranks = ensure_pagerank_ranks(spark, sf_dir)
    return ranks.select(
        F.col("node").alias("s_suppkey"), F.round("r", 6).alias("pr")
    )
