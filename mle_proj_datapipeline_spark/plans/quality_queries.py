"""Data-quality / warehouse-audit query family (north-star extension).

The reference pipeline trusts its inputs (reference
utils/process_silver_tables.py applies recodes but never validates
them); a 100 TB training-data pipeline cannot. This module adds the
audit layer a production lake runs before and after every ingest:

- ``table_quality_report`` — Deequ-style constraint metrics (not-null,
  uniqueness, value-range, referential integrity) computed in one scan
  per table.
- ``scd2_priority_history`` — slowly-changing-dimension (type 2) build:
  collapse a change log into validity intervals (gaps-and-islands).
- ``variant_event_props`` — semi-structured shredding through Spark 4's
  VARIANT type (parse_json → variant_get typed paths).
- ``ks_drift_totalprice`` — two-sample Kolmogorov–Smirnov drift stat
  over a bounded histogram (the binned-CDF trick keeps the global
  window tiny at any scale).
- ``key_skew_profile`` — join-key skew diagnostic (heavy-hitter counts
  vs median) that informs salting / AQE-skew decisions.
- ``stratified_group_sample`` — deterministic fixed-quota-per-stratum
  sample (reservoir semantics without RNG: content-hash order).

Oracle SQL follows the registry conventions (round() parity wrappers,
total-order tiebreaks).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from mle_proj_datapipeline_spark.plans.registry import register
from mle_proj_datapipeline_spark.sources.catalog import load_table

# --------------------------------------------------------------------------
# Deequ-style data-quality report
# --------------------------------------------------------------------------

_QR_NOT_NULL_COLS = (
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

_QR_ORACLE_PARTS = []
for _c in _QR_NOT_NULL_COLS:
    _QR_ORACLE_PARTS.append(
        f"""SELECT 'not_null' AS check_name, '{_c}' AS column_name,
            n AS n_rows, n - nn_{_c} AS n_violations,
            round(CAST(n - nn_{_c} AS DOUBLE) / n, 4) AS violation_ratio
        FROM o"""
    )
_QR_ORACLE_PARTS.append(
    """SELECT 'unique' AS check_name, 'o_orderkey' AS column_name,
        n AS n_rows, nn_key - nd_key AS n_violations,
        round(CAST(nn_key - nd_key AS DOUBLE) / n, 4) AS violation_ratio
    FROM o"""
)
_QR_ORACLE_PARTS.append(
    """SELECT 'min_range' AS check_name, 'o_totalprice' AS column_name,
        n AS n_rows, n_nonpos AS n_violations,
        round(CAST(n_nonpos AS DOUBLE) / n, 4) AS violation_ratio
    FROM o"""
)
_QR_ORACLE_PARTS.append(
    """SELECT 'ref_integrity' AS check_name,
        'lineitem.l_orderkey' AS column_name,
        ln AS n_rows, orph AS n_violations,
        round(CAST(orph AS DOUBLE) / ln, 4) AS violation_ratio
    FROM l"""
)

_QR_ORACLE = (
    """
    WITH o AS (SELECT count(*) AS n,
    """
    + ",\n".join(
        f"count({c}) AS nn_{c}, count(DISTINCT {c}) AS nd_{c}" for c in _QR_NOT_NULL_COLS
    )
    + """,
        count(o_orderkey) AS nn_key, count(DISTINCT o_orderkey) AS nd_key,
        count(*) FILTER (WHERE o_totalprice <= 0) AS n_nonpos
        FROM orders),
    l AS (SELECT CAST(count(*) AS BIGINT) AS ln,
                 CAST(count(*) FILTER (WHERE l_orderkey NOT IN
                     (SELECT o_orderkey FROM orders)) AS BIGINT) AS orph
          FROM lineitem)
    """
    + "\nUNION ALL\n".join(_QR_ORACLE_PARTS)
)


@register("table_quality_report", oracle=_QR_ORACLE)
def table_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-check report over the orders/lineitem pair, Deequ
    style: not-null completeness per column, key uniqueness, value
    range, and cross-table referential integrity — the gate a lake runs
    on every ingested partition before it is published.

    Scale: ALL per-column metrics come from ONE orders scan (a single
    multi-aggregate job; the count-distincts share the scan via
    Expand), and referential integrity is one left-anti join
    (shuffle on the join key, AQE-skew-splittable) — never one job per
    constraint. Output is a tiny long-format relation
    (check, column, n_rows, n_violations, ratio)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _QR_NOT_NULL_COLS:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
    aggs += [
        F.count(F.col("o_orderkey")).alias("nn_key"),
        F.count_if(F.col("o_totalprice") <= 0).alias("n_nonpos"),
    ]
    # r12 (guide §2.2): mixing the countDistinct into the scalar agg made
    # Spark key the WHOLE pass on o_orderkey — a full |orders| shuffle
    # carrying eight count buffers per key. Split the distinct count to
    # its own one-column scan (the approx_order_cardinalities twin-split,
    # r11): the main agg is then a pure scalar partial-agg (one row per
    # partition crosses the wire) and the distinct pass shuffles
    # map-side-deduped keys only.
    nd = o.select("o_orderkey").agg(
        F.countDistinct(F.col("o_orderkey")).alias("nd_key")
    )
    row = o.agg(*aggs).crossJoin(F.broadcast(nd))

    def check(name: str, column: str, viol):  # noqa: ANN001 - Column expr
        return F.struct(
            F.lit(name).alias("check_name"),
            F.lit(column).alias("column_name"),
            F.col("n").alias("n_rows"),
            viol.cast("long").alias("n_violations"),
            # try_divide: an EMPTY table still gets its report rows
            # (n_rows=0, ratio NULL) — DuckDB's x/0 is NULL, ANSI
            # Spark's crashes (empty-table fuzz find, round 7)
            F.round(F.try_divide(viol.cast("double"), F.col("n")), 4).alias(
                "violation_ratio"
            ),
        )

    checks = [
        check("not_null", c, F.col("n") - F.col(f"nn_{c}")) for c in _QR_NOT_NULL_COLS
    ]
    checks.append(check("unique", "o_orderkey", F.col("nn_key") - F.col("nd_key")))
    checks.append(check("min_range", "o_totalprice", F.col("n_nonpos")))
    order_checks = row.select(F.explode(F.array(*checks)).alias("r")).select("r.*")

    orph = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orph"))
    )
    ref = (
        li.agg(F.count(F.lit(1)).alias("ln"))
        .crossJoin(F.broadcast(orph))
        .select(
            F.lit("ref_integrity").alias("check_name"),
            F.lit("lineitem.l_orderkey").alias("column_name"),
            F.col("ln").alias("n_rows"),
            F.col("orph").cast("long").alias("n_violations"),
            F.round(F.try_divide(F.col("orph").cast("double"), F.col("ln")), 4).alias(
                "violation_ratio"
            ),
        )
    )
    return order_checks.unionByName(ref)


# --------------------------------------------------------------------------
# SCD Type-2 dimension build (gaps-and-islands run compression)
# --------------------------------------------------------------------------

_SCD2_ORACLE = """
    WITH r AS (
        SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
               CASE WHEN lag(o_orderpriority) OVER w
                         IS DISTINCT FROM o_orderpriority
                    THEN 1 ELSE 0 END AS chg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
        SELECT *, sum(chg) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS run_id
        FROM r
    ),
    seg AS (
        SELECT o_custkey, run_id, o_orderpriority AS priority,
               strftime(CAST(min(o_orderdate) AS DATE), '%Y-%m-%d')
                   AS valid_from,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM runs GROUP BY o_custkey, run_id, o_orderpriority
    )
    SELECT o_custkey, priority, valid_from,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
               AS valid_to,
           n_orders
    FROM seg
"""


@register("scd2_priority_history", oracle=_SCD2_ORACLE)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from a change log:
    collapse each customer's order-priority sequence into validity
    intervals [valid_from, valid_to) with the classic gaps-and-islands
    pattern — lag() marks change points, a running sum numbers the
    runs, a group-by collapses each run, lead() closes the interval
    (NULL valid_to = current version).

    Scale: ONE shuffle on the dimension key serves the change-point
    window, the run group-by, and the interval window (all partitioned
    by o_custkey — Spark reuses the partitioning); no self-joins, no
    per-entity iteration. This is how a 100 TB lake keeps dimension
    history without a mutable store."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    lagp = F.lag("o_orderpriority").over(w)
    # Null-DISTINCT change detection (IS DISTINCT FROM): with a plain
    # != a NULL attribute row merged into the previous run, and the
    # run group-by then split it back out into a run_id TIE whose
    # lead() order is engine-dependent (NULL-fuzz find). Null-safe
    # equality makes NULL its own dimension state — the first row
    # still opens a run (lag NULL is distinct from any value), and a
    # run of NULLs stays one run.
    runs = o.withColumn(
        "chg",
        F.when(~lagp.eqNullSafe(F.col("o_orderpriority")), 1).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    seg = runs.groupBy("o_custkey", "run_id", "o_orderpriority").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("run_id")
    return seg.select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority"),
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_orders",
    )


# --------------------------------------------------------------------------
# Semi-structured shredding via Spark 4 VARIANT
# --------------------------------------------------------------------------

_VARIANT_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4)
               AS avg_k,
           min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY event_type
"""


@register("variant_event_props", oracle=_VARIANT_ORACLE)
def variant_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured event properties through Spark 4's VARIANT type:
    ``parse_json`` builds the binary variant once, ``variant_get``
    extracts a typed path. Unlike from_json-with-declared-schema (the
    I5 path, json_event_props), VARIANT needs NO upfront schema — the
    lake pattern for payloads whose shape drifts across producers.

    Scale: variant encoding/shredding is JVM-side and columnar; the
    aggregate is an ordinary partial-agg groupBy on a low-cardinality
    key. At 100 TB the win is storing variant ONCE instead of
    re-parsing JSON text per query."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov drift over a binned CDF
# --------------------------------------------------------------------------

_KS_ORACLE = """
    WITH t AS (
        SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS bin,
               CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END AS a,
               CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END AS b
        FROM orders WHERE year(o_orderdate) IN (1997, 1998)
          AND o_totalprice IS NOT NULL),
    c AS (SELECT bin, sum(a) AS na, sum(b) AS nb FROM t GROUP BY bin),
    cum AS (SELECT bin,
                   sum(na) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS ca,
                   sum(nb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cb
            FROM c),
    tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb
            FROM c)
    SELECT round(max(abs(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)), 4)
               AS ks_stat,
           max(ta) AS n_a, max(tb) AS n_b
    FROM cum CROSS JOIN tot
"""


@register("ks_drift_totalprice", oracle=_KS_ORACLE)
def ks_drift_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between the 1997
    and 1998 order-value distributions — the threshold-free sibling of
    PSI (operators/psi.py): D = max |CDF_a − CDF_b|.

    Scale: the exact KS needs a global sort of both samples; instead we
    bin values first (floor(price/1000) — the standard binned-KS
    approximation, error ≤ the bin's CDF mass), so the cumulative
    window runs over the BOUNDED bin spine (~hundreds of rows), never a
    data-sized global sort. One groupBy shuffle on bin; totals ride a
    broadcast scalar cross-join."""
    # A NULL price has no bin — and the engines disagree on where a
    # NULL bin sorts in the cumulative window (NULL-fuzz find), so the
    # filter is the declared contract, mirrored in the oracle.
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    yr = F.year("o_orderdate")
    t = o.filter(yr.isin(1997, 1998)).select(
        F.floor(F.col("o_totalprice") / 1000).alias("bin"),
        F.when(yr == 1997, 1).otherwise(0).alias("a"),
        F.when(yr == 1998, 1).otherwise(0).alias("b"),
    )
    c = t.groupBy("bin").agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    # r12 (guide §2.4): totals used to ride a broadcast scalar cross-join
    # that re-evaluated the scan + bin groupBy a second time. Whole-frame
    # window totals share the cumulative window's single sort over the
    # bounded bin spine — one scan, one shuffle, no join.
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = c.select(
        "bin",
        F.sum("na").over(wcum).alias("ca"),
        F.sum("nb").over(wcum).alias("cb"),
        F.sum("na").over(wtot).alias("ta"),
        F.sum("nb").over(wtot).alias("tb"),
    )
    return (
        cum
        .agg(
            # try_divide: one sample empty (ta or tb = 0) makes the KS
            # CDF 0/0 — the oracle's x/0 is NULL, and ANSI `/` must not
            # crash (singleton-fact fuzz find, round 8).
            F.round(
                F.max(
                    F.abs(
                        F.try_divide(F.col("ca").cast("double"), F.col("ta"))
                        - F.try_divide(F.col("cb").cast("double"), F.col("tb"))
                    )
                ),
                4,
            ).alias("ks_stat"),
            F.max("ta").alias("n_a"),
            F.max("tb").alias("n_b"),
        )
    )


# --------------------------------------------------------------------------
# Join-key skew diagnostic
# --------------------------------------------------------------------------

_SKEW_ORACLE = """
    WITH c AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
               FROM lineitem GROUP BY l_suppkey),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, max(cnt) AS max_cnt,
                 percentile_cont(0.5) WITHIN GROUP (ORDER BY cnt) AS p50,
                 percentile_cont(0.99) WITHIN GROUP (ORDER BY cnt) AS p99
          FROM c)
    SELECT n_keys, max_cnt,
           round(p50, 4) AS p50_cnt, round(p99, 4) AS p99_cnt,
           round(CAST(max_cnt AS DOUBLE) / p50, 4) AS skew_ratio,
           (SELECT CAST(count(*) AS BIGINT) FROM c, s WHERE cnt > 2 * p50)
               AS n_heavy
    FROM s
"""


@register("key_skew_profile", oracle=_SKEW_ORACLE)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for lineitem.l_suppkey: per-key counts,
    their median / p99 / max, the max-to-median skew ratio, and the
    number of heavy keys (> 2× median). This is the profiling step that
    decides whether a planned join needs a salted key or can rely on AQE
    skew splitting.

    Scale: one partial-agg groupBy shuffle on the key produces the
    per-key counts; every later aggregate runs over the counts relation
    (|distinct keys| rows, not |rows|). The exact percentile over counts
    is fine at that cardinality; percentile_approx is the drop-in when
    even the key set is huge."""
    li = load_table(spark, sf_dir, "lineitem")
    # r12 (guide §2.4): the counts relation feeds THREE consumers (the
    # summary agg, the heavy-key filter, and the final select) — without
    # a lineage cut the lineitem scan + groupBy executed three times.
    # Cut once at the |distinct keys|-sized profile relation.
    from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame

    c = materialize_frame(
        li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    )
    s = c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.expr("percentile(cnt, 0.5)").alias("p50"),
        F.expr("percentile(cnt, 0.99)").alias("p99"),
    )
    heavy = (
        c.crossJoin(F.broadcast(s.select("p50")))
        .filter(F.col("cnt") > 2 * F.col("p50"))
        .agg(F.count(F.lit(1)).alias("n_heavy"))
    )
    return (
        s.crossJoin(F.broadcast(heavy))
        .select(
            "n_keys",
            "max_cnt",
            F.round("p50", 4).alias("p50_cnt"),
            F.round("p99", 4).alias("p99_cnt"),
            F.round(F.col("max_cnt").cast("double") / F.col("p50"), 4).alias(
                "skew_ratio"
            ),
            "n_heavy",
        )
    )


# --------------------------------------------------------------------------
# Deterministic fixed-quota-per-stratum sample
# --------------------------------------------------------------------------

_STRAT_ORACLE = """
    SELECT doc_id, lang, source, rn FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY lang, source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents) t
    WHERE rn <= 2
"""


@register("stratified_group_sample", oracle=_STRAT_ORACLE)
def stratified_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-quota-per-stratum sample (2 docs per (lang, source)) with
    reservoir semantics but NO RNG: rank by the content hash of the id
    and keep the first k. Re-runs, re-partitions, and engine changes
    all reproduce the same sample — the property rand()-based reservoir
    sampling lacks (SURVEY §2 J4/J5's determinism requirement, applied
    per stratum).

    Scale: one shuffle on the stratum key; WindowGroupLimit prunes each
    partition to k rows before the final rank, so state per stratum is
    O(k) not O(stratum size)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 2)
    )


# --------------------------------------------------------------------------
# Privacy audit: k-anonymity + l-diversity over quasi-identifiers
# --------------------------------------------------------------------------
@register(
    "k_anonymity_report",
    oracle="""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               count(*) AS n,
               count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END)
                   AS l_div
        FROM customer GROUP BY 1, 2)
    SELECT count(*) AS qi_groups,
           CAST(min(n) AS BIGINT) AS k_anonymity,
           CAST(min(l_div) AS BIGINT) AS l_diversity,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_in_lt5,
           round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
                 / sum(n), 4) AS frac_rows_lt5
    FROM g
    """,
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before a data release: k-anonymity (smallest
    quasi-identifier group — here (nation, market segment)) and
    l-diversity (fewest distinct sensitive values within any group,
    sensitive = account-balance sign), plus the re-identification risk
    mass (rows in groups below k=5). The governance sibling of the PII
    scrub: scrubbing removes direct identifiers, this measures whether
    the REMAINING columns still single people out.

    Plan shape: one scan → partial-aggregated groupBy on the QI tuple →
    a second aggregation over the (small) group relation to one row.
    At 100 TB the QI-group relation is |QI cardinality|, not row count."""
    c = load_table(spark, sf_dir, "customer")
    g = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(
                F.when(F.col("c_acctbal") < 0, "neg").otherwise("pos")
            ).alias("l_div"),
        )
    )
    lt5 = F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(F.lit(0)))
    return g.agg(
        F.count(F.lit(1)).alias("qi_groups"),
        F.min("n").cast("bigint").alias("k_anonymity"),
        F.min("l_div").cast("bigint").alias("l_diversity"),
        lt5.cast("bigint").alias("rows_in_lt5"),
        F.round(lt5.cast("double") / F.sum("n"), 4).alias("frac_rows_lt5"),
    )
