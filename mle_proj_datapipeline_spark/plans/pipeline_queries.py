"""Pipeline-semantics queries: imputation (SURVEY §2.C), scalar-function
families (§2.I), JSON extraction (§2.I5), weekly/tumbling windows and
sessionization (§2.K batch-equivalents), and the as-of join (§2.E4).

The testdata has no NULLs, so imputation queries synthesize them
deterministically (nullif / CASE) in BOTH engines before exercising the
engine's impute operators.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from mle_proj_datapipeline_spark.operators.impute import (
    ImputeSpec,
    compute_means,
    impute,
)
from mle_proj_datapipeline_spark.functions.core import seconds_between
from mle_proj_datapipeline_spark.operators.joins import asof_join
from mle_proj_datapipeline_spark.plans.registry import register
from mle_proj_datapipeline_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# C2: mode imputation, single-pass, deterministic ties (count DESC, value ASC)
# --------------------------------------------------------------------------
@register(
    "impute_mode_lang",
    oracle="""
    WITH d AS (SELECT nullif(lang, 'zh') AS lang_n FROM documents),
    m AS (SELECT lang_n AS v FROM d WHERE lang_n IS NOT NULL
          GROUP BY lang_n ORDER BY count(*) DESC, lang_n ASC LIMIT 1)
    SELECT coalesce(lang_n, (SELECT v FROM m)) AS lang_imputed, count(*) AS n
    FROM d GROUP BY 1
    """,
)
def impute_mode_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode fill via the engine's one-aggregate ``mode`` with its
    (count DESC, value ASC) tie-break (operators/impute.py) — vs the
    reference's per-column groupBy loop
    (utils/silver_credit_history.py:31-37)."""
    d = load_table(spark, sf_dir, "documents").select(
        F.nullif(F.col("lang"), F.lit("zh")).alias("lang_n")
    )
    filled = impute(d, ImputeSpec(mode_cols=["lang_n"]))
    return filled.groupBy(F.col("lang_n").alias("lang_imputed")).agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# C3+C4: mean imputation + missing-indicator flags
# --------------------------------------------------------------------------
@register(
    "impute_mean_acctbal",
    oracle="""
    WITH d AS (
        SELECT c_mktsegment,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_n
        FROM customer),
    f AS (
        SELECT c_mktsegment,
               CASE WHEN bal_n IS NULL THEN 1 ELSE 0 END AS bal_missing,
               coalesce(bal_n,
                        (SELECT floor(avg(bal_n) * 100 + 0.5) / 100 FROM d)) AS bal_filled
        FROM d)
    SELECT c_mktsegment AS segment,
           CAST(sum(bal_missing) AS BIGINT)        AS n_missing,
           round(sum(bal_filled), 2) / count(*)    AS avg_bal
    FROM f GROUP BY c_mktsegment
    """,
)
def impute_mean_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean fill + {col}_missing flag (utils/silver_financial.py:14-21),
    one agg job for the mean, one projection for flag+fill."""
    d = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("bal_n"),
    )
    import math

    # compute_means drops undefined means (all values NULL), so .get():
    # with no fill value the coalesce is a no-op and avg_bal degrades to
    # NULL per segment, exactly the oracle's coalesce(bal_n, NULL)
    # (all-NULL-measure fuzz find, round 8 — the [] lookup was a
    # KeyError crash).
    mean = compute_means(d, ["bal_n"]).get("bal_n")
    # Non-finite mean (a NaN/Inf-poisoned column): math.floor would
    # raise, and the oracle's floor(x*100+0.5)/100 is x itself for
    # non-finite x — fill with the mean as-is so the poisoned-input
    # behavior matches the oracle instead of crashing (NaN/Inf fuzz
    # exploration, round 9).
    if mean is None:
        fill = None
    elif math.isfinite(mean):
        fill = math.floor(mean * 100 + 0.5) / 100
    else:
        fill = mean
    constants = {} if fill is None else {"bal_n": fill}
    filled = impute(d, ImputeSpec(constants=constants, flag_cols=["bal_n"]))
    return filled.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.sum("bal_n_missing").alias("n_missing"),
        (F.round(F.sum("bal_n"), 2) / F.count(F.lit(1))).alias("avg_bal"),
    )


# --------------------------------------------------------------------------
# I1: string functions (trim/upper/contains/length — silver_demographic.py:19,
# gold_feature_store.py:107) without dialect-sensitive regex
# --------------------------------------------------------------------------
@register(
    "doc_string_profile",
    oracle="""
    SELECT upper(substr(source, 1, 3)) AS src_prefix,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) AS BIGINT) AS n_spark_docs,
           CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS DOUBLE) / count(*) AS avg_tokens,
           count(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY 1
    """,
)
def doc_string_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tokens = F.length("text") - F.length(F.regexp_replace("text", " ", "")) + F.lit(1)
    return (
        d.groupBy(F.upper(F.substring("source", 1, 3)).alias("src_prefix"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("text").contains("spark").cast("long")).alias("n_spark_docs"),
            (F.sum(tokens).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


# --------------------------------------------------------------------------
# I5: JSON extraction (reference stores JSONB maps,
# utils/model_inference_utils.py:114-115)
# --------------------------------------------------------------------------
@register(
    "json_event_props",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def json_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / F.count(k)).alias("avg_k"),
    )


# --------------------------------------------------------------------------
# I2: date part extraction / calendar bucketing (to_date/trunc/months —
# silver_credit_history.py:22, gold_feature_store.py:65-73)
# --------------------------------------------------------------------------
@register(
    "orders_by_month",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)    AS yr,
           CAST(month(o_orderdate) AS INT)   AS mth,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1, 2, 3, 4
    """,
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mth"),
            F.quarter("o_orderdate").alias("qtr"),
            F.date_format(F.last_day(F.col("o_orderdate").cast("date")), "yyyy-MM-dd").alias("month_end"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# K: tumbling window over event time (batch equivalent of the weekly
# micro-batch, utils/process_bronze_tables.py:50-69)
# --------------------------------------------------------------------------
@register(
    "hourly_event_stats",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window tumbling agg — identical code runs under Structured
    Streaming with a watermark (streaming/ module)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# K: gap-based sessionization (session_window batch equivalent)
# --------------------------------------------------------------------------
@register(
    "user_sessions",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
    f AS (
        SELECT user_id, event_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('second', prev_ts, ts) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM e),
    s AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM f),
    g AS (
        SELECT user_id, session_id, count(*) AS n_events,
               date_diff('second', min(ts), max(ts)) AS dur_secs
        FROM s GROUP BY user_id, session_id)
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(n_events) AS DOUBLE) / count(*) AS avg_session_events,
           CAST(sum(dur_secs) AS DOUBLE) / count(*) AS avg_session_secs
    FROM g GROUP BY user_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessions via lag + cumulative flag-sum — the batch twin
    of Structured Streaming's session_window. Single shuffle on user_id;
    both windows and the first groupBy reuse that clustering."""
    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    secs = seconds_between(F.col("ts"), F.lag("ts").over(wo))
    sessions = (
        e.withColumn(
            "is_new",
            F.when(secs.isNull() | (secs > 1800), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn("session_id", F.sum("is_new").over(wc))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            seconds_between(F.max("ts"), F.min("ts")).alias("dur_secs"),
        )
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        (F.sum("n_events").cast("double") / F.count(F.lit(1))).alias("avg_session_events"),
        (F.sum("dur_secs").cast("double") / F.count(F.lit(1))).alias("avg_session_secs"),
    )


# --------------------------------------------------------------------------
# K: native session_window in BATCH (the built-in operator itself)
# --------------------------------------------------------------------------
@register(
    "session_window_stats",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
    f AS (
        SELECT user_id, ts, value,
               CASE WHEN prev_ts IS NULL
                         OR ts > prev_ts + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM e),
    s AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM f)
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via the BUILT-IN ``session_window`` operator in
    batch mode (user_sessions hand-rolls the same islands with lag +
    flag-sum; this exercises the native operator Structured Streaming
    shares, so batch and stream sessionization run ONE code path).
    Semantics pinned by the oracle: an event extends the session iff
    ts ≤ last_ts + gap (exact microsecond arithmetic — the data has
    sub-second timestamps), session_end = last event + gap. One shuffle
    on (user_id, window-merge); no windows, no self-join."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# E4: as-of join (temporal alignment generalized)
# --------------------------------------------------------------------------
@register(
    "asof_purchase_click",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click')
    SELECT p.user_id AS user_id,
           count(*) AS n_purchases,
           count(c.click_ts) AS n_matched,
           CAST(sum(date_diff('second', c.click_ts, p.ts)) AS DOUBLE) / count(c.click_ts) AS avg_gap_secs
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
    GROUP BY p.user_id
    """,
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine as-of join (operators/joins.py union+window plan) vs
    DuckDB's native ASOF JOIN as the oracle: for each purchase, the most
    recent prior click by the same user."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("ts").alias("click_payload_ts")
    )
    joined = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts"
    )
    gap = seconds_between("ts", "click_payload_ts")
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count("click_payload_ts").alias("n_matched"),
        (F.sum(gap).cast("double") / F.count("click_payload_ts")).alias("avg_gap_secs"),
    )


# --------------------------------------------------------------------------
# Event funnel: staged conversion with strict temporal ordering
# --------------------------------------------------------------------------
@register(
    "event_funnel",
    oracle="""
    WITH stage AS (
        SELECT user_id,
               min(ts) FILTER (WHERE event_type = 'view') AS t_view,
               min(ts) FILTER (WHERE event_type = 'click') AS t_click,
               min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
        FROM events GROUP BY user_id)
    SELECT count(*) AS n_users,
           count(*) FILTER (WHERE t_view IS NOT NULL) AS viewed,
           count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view)
               AS clicked_after_view,
           count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                              AND t_purchase > t_click) AS purchased_after_click
    FROM stage
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged conversion funnel (view → click → purchase, strictly
    ordered in event time) — ONE groupBy(user) with conditional-min
    stage timestamps, one scalar aggregate. The naive form is a 3-way
    self-join of the events table; this shape scans once and shuffles
    user-sized rows, not event-sized."""
    e = load_table(spark, sf_dir, "events")
    stage = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return stage.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(viewed, 1)).alias("viewed"),
        F.count(F.when(clicked, 1)).alias("clicked_after_view"),
        F.count(F.when(purchased, 1)).alias("purchased_after_click"),
    )


# --------------------------------------------------------------------------
# Interval (temporal-proximity) join: all clicks within 1h before purchase
# --------------------------------------------------------------------------
@register(
    "purchase_click_window_pairs",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click')
    SELECT p.user_id AS user_id, count(*) AS n_pairs,
           round(CAST(sum(date_diff('second', c.click_ts, p.ts)) AS DOUBLE) / count(*), 4)
             AS avg_gap_secs
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.click_ts <= p.ts
     AND c.click_ts >= p.ts - INTERVAL 1 HOUR
    GROUP BY p.user_id
    """,
)
def purchase_click_window_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL click→purchase attributions within a 1-hour window
    (operators/joins.temporal_proximity_join). The same operator runs
    unchanged as a watermarked stream-stream interval join
    (tests/test_streaming.py::test_stream_stream_interval_join asserts
    batch parity)."""
    from mle_proj_datapipeline_spark.operators.joins import temporal_proximity_join

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = e.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("click_ts"))
    pairs = temporal_proximity_join(p, c, on=["user_id"], left_ts="ts", right_ts="click_ts")
    gap = seconds_between("ts", "click_ts")
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum(gap).cast("double") / F.count(F.lit(1)), 4).alias("avg_gap_secs"),
    )


# --------------------------------------------------------------------------
# Cohort retention matrix: first-activity-week cohorts × week offsets
# --------------------------------------------------------------------------
@register(
    "cohort_retention",
    oracle="""
    WITH w AS (
        SELECT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk
        FROM events GROUP BY 1, 2),
    f AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY user_id)
    SELECT f.cohort,
           CAST(date_diff('day', CAST(f.cohort AS DATE), CAST(w.wk AS DATE)) // 7 AS INT)
               AS week_offset,
           count(DISTINCT w.user_id) AS n_users
    FROM w JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted in every later week they return — the triangle matrix every
    growth dashboard draws.

    Scale: (user, week) activity pairs are pre-deduped with a
    partial-agg groupBy (shuffle carries distinct pairs, not raw
    events); the cohort is a window min over the user-keyed pair frame
    (one events scan — no aggregate-and-join-back, which re-evaluated
    the scan); offsets are pure arithmetic. The final distinct count is
    exact for oracle parity — at 100 TB swap approx_count_distinct
    exactly as the stats family documents."""
    e = load_table(spark, sf_dir, "events")
    w = (
        e.select(
            "user_id",
            F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias("wk"),
        )
        .groupBy("user_id", "wk")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    # r12 (guide §2.4): the cohort table was a per-user min AGGREGATE of
    # the pair frame joined back on — which re-evaluated the whole
    # scan + dedup subtree (two events scans) and paid a join. A window
    # min over the distinct-pair frame is the same value with one
    # evaluation: the extra exchange carries |distinct pairs|, the scan
    # runs once, the join disappears.
    from pyspark.sql import Window

    wu = Window.partitionBy("user_id")
    return (
        w.withColumn("cohort", F.min("wk").over(wu))
        .select(
            "cohort",
            F.floor(
                F.datediff(F.col("wk").cast("date"), F.col("cohort").cast("date")) / 7
            ).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "point_in_time_features",
    oracle="""
    WITH ev AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events),
    hist AS (
        SELECT user_id, ts, event_id,
               CAST(count(*) OVER w AS BIGINT) AS cum_n,
               floor((200 * sum(vc) OVER w + count(*) OVER w)
                     / (2.0 * count(*) OVER w)) / 10000.0 AS cum_avg
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    labels AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase')
    SELECT l.event_id, l.user_id,
           epoch_us(l.ts) AS label_ts_us,
           h.cum_n, h.cum_avg
    FROM labels l ASOF LEFT JOIN hist h
      ON l.user_id = h.user_id AND h.ts < l.ts
    """,
)
def point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join — the feature-store primitive
    that prevents label leakage: each label event (purchases) is joined
    to the feature snapshot built from events STRICTLY BEFORE its
    timestamp (running count and mean of the user's activity), never at
    or after it. This generalizes the reference's 50-week "features
    as-of the training week" alignment (utils/model_operations.py
    window assembly) to event-time granularity.

    Implementation: a cumulative window materializes a feature snapshot
    at every event, then operators/joins.asof_join (backward,
    allow_exact_matches=False — the leakage guard) picks the latest
    snapshot before each label. The DuckDB oracle is a native ASOF LEFT
    JOIN with a strict inequality, proving engine-independence of the
    semantics including the no-leakage tie rule.

    Scale: ONE shuffle on user_id serves both the snapshot window and
    the tagged-union as-of merge (same partitioning); no range
    explosion, no per-label subquery. State per user is the snapshot
    row, not the history."""
    from mle_proj_datapipeline_spark.operators.joins import asof_join
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Cumulative mean in EXACT integer arithmetic (registry float-parity
    # convention, strengthened): values go to integer cents, the
    # windowed SUM is exact regardless of accumulation order (DuckDB's
    # segment tree vs Spark's running frame), and the 4-decimal mean is
    # half-up integer division — floor((200·sum + n) / 2n) — so neither
    # engine ever rounds a float at a .5 boundary. Magnitudes stay far
    # below 2^53, so the final double division is bit-equal too.
    vc = F.round(F.col("value") * 100).cast("long")
    cnt = F.count(F.lit(1)).over(w)
    avg_e4 = F.floor(
        (F.lit(200) * F.sum("vc").over(w) + cnt) / (F.lit(2.0) * cnt)
    )
    hist = ev.withColumn("vc", vc).select(
        "user_id",
        "ts",
        cnt.alias("cum_n"),
        (avg_e4 / F.lit(10000.0)).alias("cum_avg"),
    )
    labels = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        labels,
        hist,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        direction="backward",
        allow_exact_matches=False,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("label_ts_us"),
        "cum_n",
        "cum_avg",
    )


# --------------------------------------------------------------------------
# E4 extension: nearest-direction as-of join with tolerance
# --------------------------------------------------------------------------
@register(
    "asof_nearest_click",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click')
    SELECT p.user_id AS user_id,
           count(*) AS n_purchases,
           count(m.mts) AS n_matched,
           round(CAST(sum(abs(date_diff('second', m.mts, p.ts))) AS DOUBLE)
                 / count(m.mts), 4) AS avg_abs_gap_secs
    FROM p LEFT JOIN LATERAL (
        SELECT c.click_ts AS mts
        FROM c
        WHERE c.user_id = p.user_id
          AND abs(date_diff('second', c.click_ts, p.ts)) <= 600
        ORDER BY abs(date_diff('second', c.click_ts, p.ts)), c.click_ts
        LIMIT 1) m ON TRUE
    GROUP BY p.user_id
    """,
)
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_asof(direction='nearest', tolerance=600s) as an engine
    query: each purchase matched to its closest click EITHER side
    within 10 minutes, distance ties resolving backward (pandas
    semantics; validated against pandas in tests/test_joins.py). The
    oracle is a correlated LATERAL top-1 — quadratic per user and
    fine for an oracle, while the engine path stays the union+window
    plan (one shuffle, no row multiplication; see operators/joins.py
    _asof_nearest)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("ts").alias("matched_ts")
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        direction="nearest",
        tolerance_s=600,
    )
    gap = F.abs(seconds_between("ts", "matched_ts"))
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count("matched_ts").alias("n_matched"),
        F.round(F.sum(gap).cast("double") / F.count("matched_ts"), 4).alias(
            "avg_abs_gap_secs"
        ),
    )
