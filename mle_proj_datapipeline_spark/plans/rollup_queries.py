"""Multi-dimensional aggregation and summary-sketch queries (SURVEY.md
§2 D-family extensions): CUBE / GROUPING SETS, exact and HLL++ distinct
cardinalities, explicit-list pivot, native unpivot, footer-served table
stats (DSv2 aggregate pushdown), and Count-Min heavy hitters.

Split from plans/extension_queries.py (round 6) so the per-file
freshness clock tracks one family: an edit here stales only these
driver rows (the VERDICT r4 item-2 / r5 item-2 discipline).

Oracle SQL is generated from the same constants the Spark side uses
(H31 hash family) — see plans/llm_common.py for the convention.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.plans.registry import register
from mle_proj_datapipeline_spark.sources.catalog import load_table
from mle_proj_datapipeline_spark.plans.llm_common import _h31

# --------------------------------------------------------------------------
# CUBE totals (D extension, sibling of revenue_rollup)
# --------------------------------------------------------------------------
@register(
    "order_priority_cube",
    oracle="""
    SELECT o_orderpriority AS priority, o_orderstatus AS status,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    HAVING count(*) > 0
    """,
)
def order_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all 4 grouping sets in one Expand +
    one shuffle — no self-union of separate aggregations.

    Declared contract (empty-table fuzz find, round 7): grouping sets
    describe OBSERVED rows — an empty relation cubes to the empty
    relation. Spark's Expand-based cube natively does this; ANSI (and
    DuckDB) emit a count-0 grand-total row for the () set, so the
    oracle pins the contract with ``HAVING count(*) > 0`` (a no-op on
    any non-empty input, where every grouping-set row covers ≥1 row)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
            "o_totalprice",
        )
        .cube("priority", "status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# GROUPING SETS with grouping_id (D extension, completes rollup/cube family)
# --------------------------------------------------------------------------
@register(
    "priority_grouping_sets",
    oracle="""
    SELECT o_orderpriority AS priority, o_orderstatus AS status,
           GROUPING(o_orderpriority, o_orderstatus) AS gid,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
    HAVING count(*) > 0
    """,
)
def priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (detail, per-priority subtotal, grand
    total) in one Expand + one shuffle, with ``grouping_id()`` as the
    explicit set marker so subtotal NULLs are distinguishable from data
    NULLs. Completes the rollup/cube/grouping-sets family. Same
    observed-rows empty contract as ``order_priority_cube`` (the
    HAVING in the oracle pins it; no-op on non-empty input)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
            "o_totalprice",
        )
        .groupingSets([["priority", "status"], ["priority"], []], "priority", "status")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# Exact distinct cardinalities (D extension: distinct-count family)
# --------------------------------------------------------------------------
@register(
    "order_cardinalities",
    oracle="""
    SELECT count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderpriority) AS n_priorities,
           count(DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE)) AS n_months,
           count(*) AS n_orders
    FROM orders
    """,
)
def order_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact distinct counts in one job (Expand-based
    count-distinct; Catalyst plans partial aggregation per distinct set).
    At 100 TB swap for approx_count_distinct (HLL++) — approximate
    variant exercised in tests, not oracle-gated (HLL sketches differ
    across engines)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.countDistinct(F.date_trunc("month", "o_orderdate").cast("date")).alias("n_months"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Unpivot / melt (I4-adjacent reshape; Spark 3.4 unpivot operator)
# --------------------------------------------------------------------------
@register(
    "part_attr_melt",
    oracle="""
    WITH u AS (
        UNPIVOT (SELECT p_brand,
                        CAST(p_size AS DOUBLE) AS p_size,
                        p_retailprice
                 FROM part)
        ON p_size, p_retailprice INTO NAME attr VALUE val)
    SELECT p_brand, attr, count(*) AS n, round(avg(val), 4) AS avg_val
    FROM u GROUP BY p_brand, attr
    """,
)
def part_attr_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the native unpivot operator (zero-copy
    Expand, no self-union of N projections) + per-attribute rollup."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_brand",
            F.col("p_size").cast("double").alias("p_size"),
            "p_retailprice",
        )
        .unpivot(["p_brand"], ["p_size", "p_retailprice"], "attr", "val")
        .groupBy("p_brand", "attr")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("val"), 4).alias("avg_val"))
    )


# --------------------------------------------------------------------------
# Pivot (D extension; inverse of part_attr_melt)
# --------------------------------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@register(
    "nation_segment_pivot",
    oracle=f"""
    SELECT c_nationkey,
           {', '.join(f'''count(*) FILTER (WHERE c_mktsegment = '{s}') AS {s.lower()}''' for s in _SEGMENTS)},
           count(*) AS total
    FROM customer GROUP BY c_nationkey
    """,
)
def nation_segment_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot with an EXPLICIT value list — one aggregation
    pass, no second distinct-values job (pivot without the list runs a
    hidden collect), and a schema that cannot drift across batches
    (same determinism rule as the OHE encoder)."""
    c = load_table(spark, sf_dir, "customer")
    counts = [
        F.count(F.when(F.col("c_mktsegment") == s, 1)).alias(s.lower()) for s in _SEGMENTS
    ]
    return c.groupBy("c_nationkey").agg(*counts, F.count(F.lit(1)).alias("total"))


# --------------------------------------------------------------------------
# Approximate-sketch path (HLL++) — the declared 100 TB variant of
# order_cardinalities, registered as a first-class query WITH an exact
# oracle: the HLL estimates themselves are engine-specific bits, so the
# query's CONTRACT is (exact counts, estimates-within-rsd-bounds flag).
# The sketches still run — a broken HLL path flips ``hll_within_bounds``
# and the hash compare fails — but every output column is predictable
# by ANSI SQL. tests/test_extensions.py additionally gates the raw
# relative error.
# --------------------------------------------------------------------------
@register(
    "approx_order_cardinalities",
    oracle="""
    SELECT count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderpriority) AS n_priorities,
           count(DISTINCT date_trunc('month', o_orderdate)) AS n_months,
           count(*) AS n_orders,
           TRUE AS hll_within_bounds
    FROM orders
    """,
)
def approx_order_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct counts (rsd=0.01) — mergeable one-pass sketches,
    the plan that replaces exact Expand-based count-distinct at 100 TB
    (exact distinct needs a full shuffle per distinct set; sketches
    combine map-side and merge in O(sketch) per partition). The exact
    twins run beside the sketches so the oracle can hash-match — but as
    three SEPARATE single-column aggregates broadcast-joined back onto
    the one-row sketch result, NOT as co-aggregated distinct sets:
    multiple countDistincts in one Aggregate force Catalyst's
    RewriteDistinctAggregates Expand (×4 replication of every scanned
    row plus a per-distinct-set shuffle — measured 34–48 s at sf1,
    round-10 census). Each split twin instead prunes the scan to ONE
    column and two-phase partial-aggregates it; the sketch pass itself
    stays a single Expand-free scan. The emitted columns are the exact
    counts plus a bounds flag asserting every estimate lands within 5×
    the configured rsd (0.01 → ±5 %, far beyond 3σ)."""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", "o_orderdate").cast("date")
    sketch = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("e_customers"),
        F.approx_count_distinct("o_orderpriority", rsd=0.01).alias("e_priorities"),
        F.approx_count_distinct(month, rsd=0.01).alias("e_months"),
    )
    # One-row exact twins: single distinct set each → two-phase hash
    # aggregate over a one-column pruned scan, no Expand anywhere.
    ex_cust = o.agg(F.countDistinct("o_custkey").alias("n_customers"))
    ex_prio = o.agg(F.countDistinct("o_orderpriority").alias("n_priorities"))
    ex_month = o.agg(F.countDistinct(month).alias("n_months"))
    agg = (
        sketch.crossJoin(F.broadcast(ex_cust))
        .crossJoin(F.broadcast(ex_prio))
        .crossJoin(F.broadcast(ex_month))
    )

    def within(est: str, exact: str) -> F.Column:
        # exact=0 (empty table) has no relative error: within-bounds
        # means the sketch also says 0 (empty-table fuzz find, round 7
        # — the bare division is an ANSI 0/0 crash there)
        return F.when(F.col(exact) == 0, F.col(est) == 0).otherwise(
            F.abs(F.col(est) - F.col(exact)) / F.col(exact) <= F.lit(0.05)
        )

    return agg.select(
        "n_customers",
        "n_priorities",
        "n_months",
        "n_orders",
        (
            within("e_customers", "n_customers")
            & within("e_priorities", "n_priorities")
            & within("e_months", "n_months")
        ).alias("hll_within_bounds"),
    )


# --------------------------------------------------------------------------
# Footer-served table stats — DSv2 aggregate pushdown: COUNT/MIN/MAX
# answered from parquet row-group metadata, zero data pages read.
# --------------------------------------------------------------------------
@register(
    "orders_footer_stats",
    oracle="""
    SELECT count(*) AS n_rows,
           min(o_totalprice) AS min_o_totalprice,
           max(o_totalprice) AS max_o_totalprice,
           min(o_custkey) AS min_o_custkey,
           max(o_custkey) AS max_o_custkey
    FROM orders
    """,
)
def orders_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-level COUNT/MIN/MAX served from parquet FOOTER statistics
    (DSv2 aggregate pushdown — the plan shows ``PushedAggregation`` and
    reads row-group metadata, not data pages). At 100 TB this is the
    difference between seconds and a full-table scan for the stats
    queries every pipeline health check runs. ``footer_stats`` fails
    loudly if pushdown silently degrades (e.g. a column type the footer
    can't serve), and restores the session's v1-reader default after
    materializing the one-row result."""
    import os

    from mle_proj_datapipeline_spark.sources.readers import footer_stats

    return footer_stats(
        spark,
        os.path.join(sf_dir, "orders.parquet"),
        min_cols=("o_totalprice", "o_custkey"),
        max_cols=("o_totalprice", "o_custkey"),
    )


# --------------------------------------------------------------------------
# Count-Min sketch heavy hitters — the frequency-estimation sibling of
# the HLL cardinality path. The sketch is a RELATION (d×w cells), built
# with the cross-engine H31 hash family, so unlike HLL bits the whole
# sketch AND its point estimates are hash-verified against the oracle.
# --------------------------------------------------------------------------
from mle_proj_datapipeline_spark.operators.sketch import CM_DEPTH, CM_WIDTH


def _cm_bucket_sql(j: str, key: str) -> str:
    e = f"CAST({j} AS VARCHAR) || '|' || CAST({key} AS VARCHAR)"
    return f"({_h31(e)} % {CM_WIDTH})"


@register(
    "cm_sketch_heavy_hitters",
    oracle=f"""
    WITH counts AS (
        SELECT o_custkey AS key, count(*) AS n FROM orders
        WHERE o_custkey IS NOT NULL GROUP BY o_custkey),
    cells AS (
        SELECT t.j AS j, {_cm_bucket_sql('t.j', 'counts.key')} AS bucket,
               CAST(sum(n) AS BIGINT) AS cell_n
        FROM counts, range(0, {CM_DEPTH}) t(j)
        GROUP BY 1, 2),
    top10 AS (SELECT key, n FROM counts ORDER BY n DESC, key ASC LIMIT 10)
    SELECT t.key AS o_custkey, CAST(t.n AS BIGINT) AS exact_n,
           min(c.cell_n) AS cm_est
    FROM top10 t, range(0, {CM_DEPTH}) r(j)
    JOIN cells c ON c.j = r.j AND c.bucket = {_cm_bucket_sql('r.j', 't.key')}
    GROUP BY t.key, t.n
    """,
)
def cm_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation for the top-10 customers by
    order count: per-key counts fold into a CM_DEPTH×CM_WIDTH (3×256)
    cell relation (bucket = H31(j|key) mod width), and each heavy
    hitter's estimate is the min over its CM_DEPTH cells — always ≥ the
    exact count, so the (exact, estimate) pair exposes collision error
    and the oracle hash-verifies both.

    Scale shape: ONE scan of orders (the per-key aggregate is
    materialized and feeds sketch, top-k, and estimation), the sketch is
    a bounded d×w relation built by partial-aggregated sums of the
    per-key counts (NOT of raw rows — the explode factor applies to
    |keys|, not |orders|), and estimation joins the broadcast-sized cell
    table. At 100 TB the cells merge map-side exactly like any
    combinable aggregate; point queries are O(d) lookups."""
    from mle_proj_datapipeline_spark.operators import sketch
    from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame

    o = load_table(spark, sf_dir, "orders")
    # NULL is not a key (see operators/sketch.cm_cells_from_counts):
    # filtered before the materialize so sketch, top-k, and estimation
    # all see the same keyed relation — mirrored in the oracle.
    counts = materialize_frame(
        o.filter(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cells = sketch.cm_cells_from_counts(counts)
    top10 = counts.orderBy(F.col("n").desc(), F.col("key").asc()).limit(10)
    return (
        sketch.cm_estimate(cells, top10)
        .join(F.broadcast(top10), "key")
        .select(
            F.col("key").alias("o_custkey"),
            F.col("n").alias("exact_n"),
            "cm_est",
        )
    )

