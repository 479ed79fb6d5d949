"""Lifecycle queries (SURVEY.md §2 L): the retraining trigger as an
oracle-backed query, plus model-selection analytics.

The trigger (reference utils/dag_functions.py:61-99) is a stateful fold —
decision t depends on decisions < t — so its oracle is a recursive CTE
rather than a window function. Weekly metric rows are derived
deterministically from the orders table (model = order priority, metric =
hash-derived in [0.860, 0.955]) so both trigger arms (metric < 0.87, >= 90
days stale) fire on the test data.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.operators.hashing import P31, h31
from mle_proj_datapipeline_spark.plans.registry import register
from mle_proj_datapipeline_spark.sources.catalog import load_table, source_fingerprint
from mle_proj_datapipeline_spark.sources.metrics import table_root
from mle_proj_datapipeline_spark.sources.snapshots import pinned_snapshot
from mle_proj_datapipeline_spark.streaming.lifecycle import (
    F1_THRESHOLD,
    STALE_DAYS,
    decide_batch,
)

_H31_SQL = "(('0x'||substr(md5(model || '|' || week),1,15))::BIGINT % {p})".format(p=P31)


def weekly_model_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (model, week, metric) panel from orders: one row per
    priority × week, metric = 0.86 + (H31(model|week) % 20) / 200.

    A NULL priority is not a model: it would crash the stateful
    retraining fold (None group key) and hash differently per engine
    (concat_ws skips NULLs, SQL `||` propagates them) — excluded here
    and in every lifecycle oracle (NULL-fuzz find, round 7)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
    )
    wk = F.date_format(F.date_trunc("week", F.col("o_orderdate")), "yyyy-MM-dd")
    base = (
        o.select(F.col("o_orderpriority").alias("model"), wk.alias("week"))
        .groupBy("model", "week")
        .agg(F.count(F.lit(1)).alias("n"))
        .drop("n")
    )
    metric = F.round(
        F.lit(0.86) + (h31(F.concat_ws("|", "model", "week")) % 20) / F.lit(200.0), 4
    )
    return base.withColumn("metric", metric)


def _stored(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The lifecycle stores' write → read-back (SURVEY §2 A7/L4): the
    reference writes weekly metrics to Postgres and promotions to an
    MLflow registry, then queries them back. Here each store is a
    managed snapshot table ``name`` holding ``build()``, pinned to the
    orders fingerprint — built and committed once per orders version,
    and every call returns the READ-BACK table, never the in-flight
    plan. A crashed refresh can never serve a half-written panel: the
    commit is atomic and the previous version keeps serving."""
    return pinned_snapshot(
        spark, table_root(name, sf_dir), source_fingerprint(sf_dir, "orders"), build
    )


def _stored_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (model, week, metric) panel (weekly_model_metrics)."""
    return _stored(
        spark, sf_dir, "metrics_store", lambda: weekly_model_metrics(spark, sf_dir)
    )


@register(
    "retraining_trigger",
    oracle=f"""
    WITH RECURSIVE w AS (
        SELECT model, week,
               round(0.86 + ({_H31_SQL} % 20) / 200.0, 4) AS metric,
               row_number() OVER (PARTITION BY model ORDER BY week) AS idx
        FROM (
            SELECT DISTINCT o_orderpriority AS model,
                   strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week
            FROM orders WHERE o_orderpriority IS NOT NULL)
    ),
    rec AS (
        SELECT model, week, metric, idx, 'init' AS reason, CAST(week AS DATE) AS last_retrain
        FROM w WHERE idx = 1
        UNION ALL
        SELECT w.model, w.week, w.metric, w.idx,
               CASE WHEN w.metric < {F1_THRESHOLD} THEN 'low_f1'
                    WHEN date_diff('day', r.last_retrain, CAST(w.week AS DATE)) >= {STALE_DAYS}
                        THEN 'stale'
                    ELSE 'none' END,
               CASE WHEN w.metric < {F1_THRESHOLD}
                         OR date_diff('day', r.last_retrain, CAST(w.week AS DATE)) >= {STALE_DAYS}
                    THEN CAST(w.week AS DATE) ELSE r.last_retrain END
        FROM rec r JOIN w ON w.model = r.model AND w.idx = r.idx + 1
    )
    SELECT model, week, metric, reason FROM rec
    """,
)
def retraining_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retrain/no-retrain decisions per model — the reference's
    `check_retraining_trigger` as a distributed stateful fold
    (applyInPandas per model; streaming twin in streaming/lifecycle.py).
    The oracle is a recursive CTE: decision t depends on decision t-1.

    A7 round-trip: the metric panel is PERSISTED to the managed metrics
    table and read back before the fold — the reference's Postgres
    write (model_inference_utils.py:97-143) → query
    (query_model_performance.py) flow, not an in-memory shortcut."""
    return decide_batch(_stored_panel(spark, sf_dir))


@register(
    "best_model_per_week",
    oracle=f"""
    WITH w AS (
        SELECT model, week,
               round(0.86 + ({_H31_SQL} % 20) / 200.0, 4) AS metric
        FROM (
            SELECT DISTINCT o_orderpriority AS model,
                   strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week
            FROM orders WHERE o_orderpriority IS NOT NULL)
    ),
    ranked AS (
        SELECT week, model, metric,
               row_number() OVER (PARTITION BY week ORDER BY metric DESC, model ASC) AS rk
        FROM w)
    SELECT week, model AS best_model, metric AS best_metric
    FROM ranked WHERE rk = 1
    """,
)
def best_model_per_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection (reference query_model_performance.py:147-166 /
    dag_functions.py:234-306): rank-1 model per week over the same metric
    panel — CTE + ROW_NUMBER shape, deterministic tiebreak."""
    from pyspark.sql import Window

    m = _stored_panel(spark, sf_dir)
    w = Window.partitionBy("week").orderBy(F.desc("metric"), F.asc("model"))
    return (
        m.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("week", F.col("model").alias("best_model"), F.col("metric").alias("best_metric"))
    )


_H31_MODEL_SQL = "(('0x'||substr(md5(model),1,15))::BIGINT % {p})".format(p=P31)


@register(
    "production_model",
    oracle=f"""
    WITH w AS (
        SELECT model, week,
               round(0.86 + ({_H31_SQL} % 20) / 200.0, 4) AS metric
        FROM (
            SELECT DISTINCT o_orderpriority AS model,
                   strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week
            FROM orders WHERE o_orderpriority IS NOT NULL)
    ),
    ranked AS (
        SELECT week, model, metric,
               row_number() OVER (PARTITION BY week ORDER BY metric DESC, model ASC) AS rk
        FROM w),
    best AS (SELECT week, model, metric FROM ranked WHERE rk = 1)
    SELECT week,
           model AS prod_model,
           CAST(row_number() OVER (ORDER BY week) AS INT) AS version,
           metric AS prod_metric,
           'depth=' || CAST(3 + {_H31_MODEL_SQL} % 6 AS VARCHAR)
               || ';lr=0.0' || CAST(1 + {_H31_MODEL_SQL} % 9 AS VARCHAR) AS params,
           CASE WHEN week = (SELECT max(week) FROM best)
                THEN 'Production' ELSE 'Archived' END AS stage
    FROM best
    """,
)
def production_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-registry promotion flow (SURVEY §2 L4; reference
    dags/dag_functions.py:309-361 initial + :794-848 weekly): each week
    the best model is registered as the next VERSION and promoted to
    Production, archiving its predecessor. The registry (version, params,
    stage) is PERSISTED as a snapshot table and the query returns the
    read-back table — an MLflow-registry equivalent with time travel.
    ``params`` are the deterministic hyper-parameters logged at
    registration (hash-derived here; the slot a real trainer fills)."""
    from pyspark.sql import Window

    def build() -> DataFrame:
        m = _stored_panel(spark, sf_dir)
        per_week = Window.partitionBy("week").orderBy(F.desc("metric"), F.asc("model"))
        best = (
            m.withColumn("rk", F.row_number().over(per_week))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )
        hp = h31(F.col("model"))
        return best.select(
            "week",
            F.col("model").alias("prod_model"),
            F.row_number().over(Window.orderBy("week")).alias("version"),
            F.col("metric").alias("prod_metric"),
            F.concat(
                F.lit("depth="),
                (F.lit(3) + hp % 6).cast("string"),
                F.lit(";lr=0.0"),
                (F.lit(1) + hp % 9).cast("string"),
            ).alias("params"),
            F.when(
                F.col("week") == F.max("week").over(Window.partitionBy()),
                F.lit("Production"),
            ).otherwise(F.lit("Archived")).alias("stage"),
        )

    return _stored(spark, sf_dir, "model_registry", build)


GRADES = list("ABCDEFG")

_H31_GRADE_SQL = (
    "(('0x'||substr(md5(model || '|' || week || '|' || grade),1,15))::BIGINT % {p})".format(p=P31)
)


@register(
    "grade_f1_breakdown",
    oracle=f"""
    WITH w AS (
        SELECT DISTINCT o_orderpriority AS model,
               strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week
        FROM orders WHERE o_orderpriority IS NOT NULL),
    g AS (
        SELECT model, week, grade
        FROM w, UNNEST(['A','B','C','D','E','F','G']) AS t(grade)),
    f AS (
        SELECT model, week, grade,
               round(0.80 + ({_H31_GRADE_SQL} % 30) / 200.0, 4) AS f1
        FROM g)
    SELECT model, grade,
           round(avg(f1), 4) AS avg_f1,
           min(f1) AS min_f1,
           max(f1) AS max_f1,
           count(*) AS n_weeks
    FROM f GROUP BY model, grade
    """,
)
def grade_f1_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-grade F1 panel (reference utils/model_inference_utils.py:114-115
    persists per-grade F1 + prediction distributions as Postgres JSONB).
    The panel's per-grade map is serialized to a JSON column (the JSONB
    twin), PERSISTED to its own snapshot table, read back, re-typed with
    ``from_json`` to MapType(String,Double), exploded, and aggregated —
    write → JSONB round-trip → map query, end to end under the oracle.

    Scale: panel is models × weeks rows (tiny); the explode fans out by a
    constant 7; one shuffle on (model, grade)."""
    def build() -> DataFrame:
        base = weekly_model_metrics(spark, sf_dir).drop("metric")
        entries: list = []
        for g in GRADES:
            entries.append(F.lit(g))
            entries.append(
                F.round(
                    F.lit(0.80)
                    + (h31(F.concat_ws("|", F.col("model"), F.col("week"), F.lit(g))) % 30)
                    / F.lit(200.0),
                    4,
                )
            )
        return base.withColumn("grade_f1_json", F.to_json(F.create_map(*entries)))

    stored = _stored(spark, sf_dir, "grade_metrics_store", build)
    typed = stored.withColumn(
        "grade_f1", F.from_json("grade_f1_json", "map<string,double>")
    )
    exploded = typed.select(
        "model", "week", F.explode("grade_f1").alias("grade", "f1")
    )
    return exploded.groupBy("model", "grade").agg(
        F.round(F.avg("f1"), 4).alias("avg_f1"),
        F.min("f1").alias("min_f1"),
        F.max("f1").alias("max_f1"),
        F.count(F.lit(1)).alias("n_weeks"),
    )


@register(
    "metrics_time_travel",
    oracle=f"""
    WITH w AS (
        SELECT model, week,
               round(0.86 + ({_H31_SQL} % 20) / 200.0, 4) AS metric
        FROM (
            SELECT DISTINCT o_orderpriority AS model,
                   strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week
            FROM orders WHERE o_orderpriority IS NOT NULL)),
    cut AS (SELECT min(week) AS lo, max(week) AS hi FROM w)
    SELECT model, week, metric FROM w, cut WHERE week < hi
    """,
)
def metrics_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot TIME TRAVEL under the hard correctness gate: commit the
    metrics panel twice — v1 missing the final week, v2 complete — then
    read **version 1** back. The result must be exactly the panel minus
    the last week, proving historical versions stay readable and
    byte-stable after later commits (the lakehouse property the
    reference's overwrite-in-place sinks lose).

    Scale: version resolution reads one manifest; the v1 read scans
    only v1's files — time travel costs no extra I/O over a plain read."""
    import os
    import shutil
    import tempfile

    from mle_proj_datapipeline_spark.sources.snapshots import (
        read_snapshot,
        write_snapshot,
    )

    panel = weekly_model_metrics(spark, sf_dir)
    last = panel.agg(F.max("week").alias("hi"))
    v1 = panel.join(F.broadcast(last), panel.week < F.col("hi")).select(
        "model", "week", "metric"
    )
    root = os.path.join(
        tempfile.gettempdir(), f"mt_travel_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    shutil.rmtree(root, ignore_errors=True)
    write_snapshot(v1, root, mode="overwrite")
    write_snapshot(panel, root, mode="overwrite")
    return read_snapshot(spark, root, version=1)


# --------------------------------------------------------------------------
# J9 closure: eval metrics COMPUTED from a raw predictions relation
# --------------------------------------------------------------------------
def _h_sql(e: str) -> str:
    return f"(('0x'||substr(md5({e}),1,15))::BIGINT % {P31})"


_G_LIST = "[" + ", ".join(f"'{g}'" for g in GRADES) + "]"
_H_TRUE = _h_sql("'true|' || CAST(o_orderkey AS VARCHAR)")
_H_FLIP = _h_sql("'flip|' || CAST(o_orderkey AS VARCHAR)")
_H_PRED = _h_sql("'pred|' || CAST(o_orderkey AS VARCHAR)")
_YT = f"({_G_LIST})[({_H_TRUE} % 7) + 1]"
_YP = (
    f"CASE WHEN {_H_FLIP} % 10 < 7 THEN {_YT} "
    f"ELSE ({_G_LIST})[({_H_PRED} % 7) + 1] END"
)


@register(
    "prediction_metrics",
    oracle=f"""
    WITH p AS (
        SELECT {_YT} AS y_true, {_YP} AS y_pred FROM orders),
    cm AS (SELECT y_true, y_pred, count(*) AS n FROM p GROUP BY 1, 2),
    cls AS (
        SELECT grade,
               CAST(sum(n_true) AS BIGINT) AS n_true,
               CAST(sum(n_pred) AS BIGINT) AS n_pred,
               CAST(sum(tp) AS BIGINT) AS tp
        FROM (
            SELECT y_true AS grade, n AS n_true, 0 AS n_pred,
                   CASE WHEN y_true = y_pred THEN n ELSE 0 END AS tp
            FROM cm
            UNION ALL
            SELECT y_pred, 0, n, 0 FROM cm)
        GROUP BY grade),
    f AS (
        SELECT grade, n_true, n_pred, tp,
               round(CASE WHEN n_pred = 0 THEN 0.0
                          ELSE CAST(tp AS DOUBLE) / n_pred END, 4) AS prec,
               round(CASE WHEN n_true = 0 THEN 0.0
                          ELSE CAST(tp AS DOUBLE) / n_true END, 4) AS rec,
               round(CASE WHEN n_true + n_pred = 0 THEN 0.0
                          ELSE 2.0 * tp / (n_true + n_pred) END, 4) AS f1
        FROM cls)
    SELECT grade, n_true, n_pred, tp, prec, rec, f1,
           round(CAST(sum(tp) OVER () AS DOUBLE) / sum(n_true) OVER (), 4) AS accuracy,
           round(avg(f1) OVER (), 4) AS macro_f1,
           round(sum(f1 * n_true) OVER () / sum(n_true) OVER (), 4) AS weighted_f1
    FROM f
    """,
)
def prediction_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification eval metrics COMPUTED from a raw (y_true, y_pred)
    predictions relation — accuracy, macro-F1, weighted-F1, and
    per-grade precision/recall/F1 as one confusion-matrix groupBy query
    (reference utils/model_inference_utils.py:71-94 /
    utils/weekly_evaluation.py:238-285 compute exactly these via
    sklearn's accuracy_score/f1_score on a collected frame; this owns
    the computation natively, so scoring 10^9 predictions never leaves
    the cluster). Predictions are derived deterministically from orders
    (hash-assigned true grade; prediction agrees ~70% of the time), so
    both engines build the identical relation.

    Per-class identities used (exact, no intermediate divisions):
    precision = tp/n_pred, recall = tp/n_true,
    F1 = 2*tp/(n_true + n_pred); macro/weighted folds run over the
    ROUNDED per-grade F1 in both engines so float parity holds.

    Scale: ONE scan of orders -> map-side-combinable groupBy on
    (y_true, y_pred) -> |grades|^2 rows; the per-class split explodes
    each cm row into its true-side and pred-side contribution (one pass,
    no self-join), and the overall metrics attach via windows over the
    7-row class frame."""
    o = load_table(spark, sf_dir, "orders")
    garr = F.array(*[F.lit(g) for g in GRADES])
    okey = F.col("o_orderkey").cast("string")
    yt = F.element_at(garr, (h31(F.concat(F.lit("true|"), okey)) % 7 + 1).cast("int"))
    keep = h31(F.concat(F.lit("flip|"), okey)) % 10 < 7
    yp_alt = F.element_at(garr, (h31(F.concat(F.lit("pred|"), okey)) % 7 + 1).cast("int"))
    preds = o.select(
        yt.alias("y_true"), F.when(keep, yt).otherwise(yp_alt).alias("y_pred")
    )
    cm = preds.groupBy("y_true", "y_pred").agg(F.count(F.lit(1)).alias("n"))
    contrib = cm.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("y_true").alias("grade"),
                    F.col("n").alias("n_true"),
                    F.lit(0).cast("long").alias("n_pred"),
                    F.when(F.col("y_true") == F.col("y_pred"), F.col("n"))
                    .otherwise(F.lit(0))
                    .cast("long")
                    .alias("tp"),
                ),
                F.struct(
                    F.col("y_pred").alias("grade"),
                    F.lit(0).cast("long").alias("n_true"),
                    F.col("n").alias("n_pred"),
                    F.lit(0).cast("long").alias("tp"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    cls = contrib.groupBy("grade").agg(
        F.sum("n_true").alias("n_true"),
        F.sum("n_pred").alias("n_pred"),
        F.sum("tp").alias("tp"),
    )
    div = lambda num, den: F.round(  # noqa: E731
        F.when(den == 0, F.lit(0.0)).otherwise(num.cast("double") / den), 4
    )
    f = cls.select(
        "grade",
        "n_true",
        "n_pred",
        "tp",
        div(F.col("tp"), F.col("n_pred")).alias("prec"),
        div(F.col("tp"), F.col("n_true")).alias("rec"),
        div(F.lit(2.0) * F.col("tp"), F.col("n_true") + F.col("n_pred")).alias("f1"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy()  # 7-row class frame — not a data-sized window
    return f.select(
        "*",
        F.round(F.sum("tp").over(w).cast("double") / F.sum("n_true").over(w), 4).alias(
            "accuracy"
        ),
        F.round(F.avg("f1").over(w), 4).alias("macro_f1"),
        F.round(
            F.sum(F.col("f1") * F.col("n_true")).over(w) / F.sum("n_true").over(w), 4
        ).alias("weighted_f1"),
    )


# --------------------------------------------------------------------------
# J9 depth: threshold-free eval — ROC-AUC + calibration from raw scores
# --------------------------------------------------------------------------
_H_Y = _h_sql("'y|' || CAST(o_orderkey AS VARCHAR)")
_H_S = _h_sql("'s|' || CAST(o_orderkey AS VARCHAR)")
# 20% positives; score = noise on a 0.001 grid + 0.3 lift for positives,
# so AUC is well above 0.5 and score TIES exist across rows (the
# midrank/tie handling is load-bearing, not decorative).
_Y_SQL = f"CASE WHEN {_H_Y} % 5 = 0 THEN 1 ELSE 0 END"
_SCORE_SQL = f"round(({_H_S} % 700) / 1000.0 + 0.3 * ({_Y_SQL}), 3)"


@register(
    "roc_auc_from_scores",
    oracle=f"""
    WITH p AS (SELECT {_Y_SQL} AS y, {_SCORE_SQL} AS score FROM orders),
    h AS (
        SELECT score,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(count(*) - sum(y) AS BIGINT) AS n_neg
        FROM p GROUP BY score),
    c AS (
        SELECT score, n_pos, n_neg,
               COALESCE(sum(n_neg) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_neg_below
        FROM h)
    SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
           CAST(sum(n_neg) AS BIGINT) AS n_neg,
           round(sum(n_pos * (cum_neg_below + 0.5 * n_neg))
                 / (sum(n_pos) * sum(n_neg)), 4) AS auc,
           round(2 * sum(n_pos * (cum_neg_below + 0.5 * n_neg))
                 / (sum(n_pos) * sum(n_neg)) - 1, 4) AS gini
    FROM c
    """,
)
def roc_auc_from_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC and Gini computed natively from a raw (y, score)
    relation — the threshold-free companion of prediction_metrics
    (the reference's model comparison relies on sklearn-side scoring;
    this keeps 10^9 scored rows on the cluster).

    Method: histogram AUC. Scores aggregate to a per-score-value
    (n_pos, n_neg) histogram first; AUC = sum over score values of
    n_pos * (negatives strictly below + half the tied negatives),
    normalized by n_pos * n_neg — the Mann-Whitney U identity with
    EXACT tie midranks. All terms are integers and half-integers, so
    the fold is float-exact in both engines.

    Scale: one scan -> map-side-combinable groupBy on the score value
    (bounded by the score grid, here 1e-3 -> ≤ ~1000 rows); the
    cumulative window runs over the tiny histogram, never the data. A
    global sort of raw rows (the textbook rank-sum formulation) is
    exactly what this shape avoids."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    okey = F.col("o_orderkey").cast("string")
    y = F.when(h31(F.concat(F.lit("y|"), okey)) % 5 == 0, F.lit(1)).otherwise(F.lit(0))
    score = F.round(
        (h31(F.concat(F.lit("s|"), okey)) % 700) / F.lit(1000.0)
        + F.lit(0.3) * y,
        3,
    )
    p = o.select(y.alias("y"), score.alias("score"))
    h = p.groupBy("score").agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
    )
    # The histogram is score-grid-sized (tiny) — a single ordered window
    # over it is deliberate, not a data-sized global sort.
    wc = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = h.withColumn("cum_neg_below", F.coalesce(F.sum("n_neg").over(wc), F.lit(0)))
    num = F.sum(F.col("n_pos") * (F.col("cum_neg_below") + 0.5 * F.col("n_neg")))
    den = F.sum("n_pos") * F.sum("n_neg")
    # try_divide: an all-positive (or all-negative) sample has
    # n_pos·n_neg = 0 — AUC is undefined, the oracle's x/0 is NULL, and
    # ANSI `/` must not crash (singleton-fact fuzz find, round 8).
    return c.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.round(F.try_divide(num, den), 4).alias("auc"),
        F.round(F.try_divide(F.lit(2) * num, den) - 1, 4).alias("gini"),
    )


@register(
    "score_calibration_bins",
    oracle=f"""
    WITH p AS (SELECT {_Y_SQL} AS y, {_SCORE_SQL} AS score FROM orders),
    b AS (
        SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin, y, score
        FROM p)
    SELECT bin,
           count(*) AS n,
           round(avg(score), 4) AS mean_score,
           round(CAST(sum(y) AS DOUBLE) / count(*), 4) AS pos_rate,
           round(avg(score) - CAST(sum(y) AS DOUBLE) / count(*), 4) AS gap
    FROM b GROUP BY bin
    """,
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability-diagram) bins from raw scores: decile
    bins of the score, mean predicted score vs observed positive rate
    and their gap — the monitoring panel that tells you a model's
    probabilities drifted even when AUC holds. One scan, one
    partial-agg groupBy on a 10-value key."""
    o = load_table(spark, sf_dir, "orders")
    okey = F.col("o_orderkey").cast("string")
    y = F.when(h31(F.concat(F.lit("y|"), okey)) % 5 == 0, F.lit(1)).otherwise(F.lit(0))
    score = F.round(
        (h31(F.concat(F.lit("s|"), okey)) % 700) / F.lit(1000.0)
        + F.lit(0.3) * y,
        3,
    )
    b = o.select(
        F.least(F.floor(score * 10), F.lit(9)).cast("long").alias("bin"),
        y.alias("y"),
        score.alias("score"),
    )
    pos_rate = F.sum("y").cast("double") / F.count(F.lit(1))
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("score"), 4).alias("mean_score"),
        F.round(pos_rate, 4).alias("pos_rate"),
        F.round(F.avg("score") - pos_rate, 4).alias("gap"),
    )


@register(
    "pr_auc_from_scores",
    oracle=f"""
    WITH p AS (SELECT {_Y_SQL} AS y, {_SCORE_SQL} AS score FROM orders),
    h AS (
        SELECT score,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(count(*) - sum(y) AS BIGINT) AS n_neg
        FROM p GROUP BY score),
    c AS (
        SELECT score, n_pos, n_neg,
               sum(n_pos) OVER (ORDER BY score DESC
                   ROWS UNBOUNDED PRECEDING) AS ctp,
               sum(n_pos + n_neg) OVER (ORDER BY score DESC
                   ROWS UNBOUNDED PRECEDING) AS call
        FROM h),
    t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp_all,
                 CAST(sum(n_neg) AS BIGINT) AS tn_all
          FROM h)
    SELECT max(tp_all) AS n_pos, max(tn_all) AS n_neg,
           round(CAST(max(tp_all) AS DOUBLE)
                 / (max(tp_all) + max(tn_all)), 4) AS prevalence,
           round(sum((CAST(n_pos AS DOUBLE) / tp_all)
                     * (CAST(ctp AS DOUBLE) / call)), 4) AS pr_auc
    FROM c CROSS JOIN t
    """,
)
def pr_auc_from_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC) from the same raw (y, score) relation
    as roc_auc_from_scores — the metric that stays informative under
    the class imbalance typical of quality/toxicity filters, where
    ROC-AUC saturates. AP = Σ_thresholds Δrecall × precision, with all
    rows tied at a score treated as one threshold block (the
    step-interpolation sklearn's average_precision_score uses).

    Scale: identical shape to the ROC query — one partial-agg groupBy
    collapses the data to the score-grid histogram (≤ ~1000 rows), the
    DESC cumulative window and the AP fold run over that tiny frame,
    and totals ride a broadcast scalar cross-join. The data is scanned
    once and never globally sorted."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    okey = F.col("o_orderkey").cast("string")
    y = F.when(h31(F.concat(F.lit("y|"), okey)) % 5 == 0, F.lit(1)).otherwise(F.lit(0))
    score = F.round(
        (h31(F.concat(F.lit("s|"), okey)) % 700) / F.lit(1000.0)
        + F.lit(0.3) * y,
        3,
    )
    p = o.select(y.alias("y"), score.alias("score"))
    h = p.groupBy("score").agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
    )
    # r12 (guide §2.4): the totals used to ride a broadcast scalar
    # cross-join computed from a SECOND evaluation of h — the whole
    # scan + histogram groupBy ran twice. Whole-frame window totals
    # share the cumulative window's single sort over the tiny
    # histogram, so the data is scanned and aggregated exactly once.
    wc = Window.orderBy(F.desc("score")).rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = h.select(
        "score",
        "n_pos",
        "n_neg",
        F.sum("n_pos").over(wc).alias("ctp"),
        F.sum(F.col("n_pos") + F.col("n_neg")).over(wc).alias("call"),
        F.sum("n_pos").over(wt).cast("long").alias("tp_all"),
        F.sum("n_neg").over(wt).cast("long").alias("tn_all"),
    )
    term = (F.col("n_pos").cast("double") / F.col("tp_all")) * (
        F.col("ctp").cast("double") / F.col("call")
    )
    return (
        c
        .agg(
            F.max("tp_all").alias("n_pos"),
            F.max("tn_all").alias("n_neg"),
            F.round(
                F.max("tp_all").cast("double")
                / (F.max("tp_all") + F.max("tn_all")),
                4,
            ).alias("prevalence"),
            F.round(F.sum(term), 4).alias("pr_auc"),
        )
    )


@register(
    "lift_gain_deciles",
    oracle=f"""
    WITH p AS (SELECT {_Y_SQL} AS y, {_SCORE_SQL} AS score FROM orders),
    h AS (
        SELECT score, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
        FROM p GROUP BY score),
    c AS (
        SELECT score, n, n_pos,
               COALESCE(sum(n) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM h),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                 CAST(sum(n_pos) AS BIGINT) AS np FROM h),
    d AS (
        SELECT least(CAST(floor(cum_before * 10.0 / nn) AS BIGINT), 9) + 1
                   AS decile,
               n, n_pos
        FROM c CROSS JOIN t),
    g AS (
        SELECT decile, CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(n_pos) AS BIGINT) AS n_pos
        FROM d GROUP BY decile)
    SELECT decile, n, n_pos,
           round(CAST(sum(n_pos) OVER w AS DOUBLE) / np, 4) AS cum_gain,
           round((CAST(sum(n_pos) OVER w AS DOUBLE) / sum(n) OVER w)
                 / (CAST(np AS DOUBLE) / nn), 4) AS cum_lift
    FROM g CROSS JOIN t
    WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    """,
)
def lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift by score decile — the targeting-curve
    companion of the ROC/PR/calibration family: decile 1 = highest
    scores; cum_gain = share of all positives captured so far, cum_lift
    = how many times better than random targeting that capture is.

    Deciles are derived from the SCORE-GRID HISTOGRAM, not ntile over
    raw rows: each score value maps to floor(rows_above × 10 / N) — a
    whole score-group lands in one decile, so the result is independent
    of row order and partitioning, and no data-sized global sort ever
    runs (the textbook ntile(10) formulation is exactly the shape this
    avoids). One scan → partial-agg histogram (≤ ~1000 rows); every
    window runs over the histogram or the 10-row decile frame; totals
    ride a broadcast scalar cross-join."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    okey = F.col("o_orderkey").cast("string")
    y = F.when(h31(F.concat(F.lit("y|"), okey)) % 5 == 0, F.lit(1)).otherwise(F.lit(0))
    score = F.round(
        (h31(F.concat(F.lit("s|"), okey)) % 700) / F.lit(1000.0)
        + F.lit(0.3) * y,
        3,
    )
    p = o.select(y.alias("y"), score.alias("score"))
    h = p.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    # r12 (guide §2.4): the (nn, np) totals rode a broadcast scalar
    # cross-join that re-evaluated the whole scan + histogram groupBy —
    # TWICE (decile assignment and the final gain/lift select), so the
    # orders scan ran three times. Whole-frame window totals share the
    # cumulative window's single sort over the tiny histogram and carry
    # through as constant columns: one scan, one histogram, zero joins.
    wb = Window.orderBy(F.desc("score")).rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = h.select(
        "n",
        "n_pos",
        F.coalesce(F.sum("n").over(wb), F.lit(0)).alias("cum_before"),
        F.sum("n").over(wt).cast("long").alias("nn"),
        F.sum("n_pos").over(wt).cast("long").alias("np"),
    )
    d = c.select(
        (
            F.least(
                F.floor(F.col("cum_before") * 10.0 / F.col("nn")), F.lit(9)
            ).cast("long")
            + 1
        ).alias("decile"),
        "n",
        "n_pos",
        "nn",
        "np",
    )
    g = d.groupBy("decile").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.max("nn").alias("nn"),
        F.max("np").alias("np"),
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        "decile",
        "n",
        "n_pos",
        F.round(F.sum("n_pos").over(wd).cast("double") / F.col("np"), 4).alias(
            "cum_gain"
        ),
        F.round(
            (F.sum("n_pos").over(wd).cast("double") / F.sum("n").over(wd))
            / (F.col("np").cast("double") / F.col("nn")),
            4,
        ).alias("cum_lift"),
    )


@register(
    "agreement_metrics",
    oracle=f"""
    WITH p AS (
        SELECT {_YT} AS y_true, {_YP} AS y_pred FROM orders),
    cm AS (SELECT y_true, y_pred, count(*) AS n FROM p GROUP BY 1, 2),
    cls AS (
        SELECT grade,
               CAST(sum(n_true) AS BIGINT) AS n_true,
               CAST(sum(n_pred) AS BIGINT) AS n_pred,
               CAST(sum(tp) AS BIGINT) AS tp
        FROM (
            SELECT y_true AS grade, n AS n_true, 0 AS n_pred,
                   CASE WHEN y_true = y_pred THEN n ELSE 0 END AS tp
            FROM cm
            UNION ALL
            SELECT y_pred, 0, n, 0 FROM cm)
        GROUP BY grade),
    t AS (
        SELECT CAST(sum(n_true) AS BIGINT) AS s,
               CAST(sum(tp) AS BIGINT) AS c,
               CAST(sum(n_true * n_pred) AS BIGINT) AS spt,
               CAST(sum(n_pred * n_pred) AS BIGINT) AS sp2,
               CAST(sum(n_true * n_true) AS BIGINT) AS st2
        FROM cls)
    SELECT s AS n,
           round(CAST(c AS DOUBLE) / s, 4) AS accuracy,
           round(CAST(c * s - spt AS DOUBLE) / (s * s - spt), 4) AS kappa,
           round(CAST(c * s - spt AS DOUBLE)
                 / sqrt(CAST(s * s - sp2 AS DOUBLE) * (s * s - st2)), 4)
               AS mcc
    FROM t
    """,
)
def agreement_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement from the same raw predictions relation
    as prediction_metrics: Cohen's kappa ((po − pe)/(1 − pe), algebra
    reduced to the integer identity (c·s − Σp·t)/(s² − Σp·t)) and the
    multiclass Matthews correlation (Gorodkin's R_k) — the two metrics
    that stay honest under class imbalance where accuracy and even F1
    inflate.

    Every term (c, s, Σp·t, Σp², Σt²) is an exact integer from the
    |grades|-row class frame, so both engines compute identical doubles
    in the final divisions — no rounding-order hazard.

    Scale: identical shape to prediction_metrics — one scan, one
    map-side-combinable groupBy to the confusion matrix, everything
    after runs on ≤ |grades|² rows."""
    o = load_table(spark, sf_dir, "orders")
    garr = F.array(*[F.lit(g) for g in GRADES])
    okey = F.col("o_orderkey").cast("string")
    yt = F.element_at(garr, (h31(F.concat(F.lit("true|"), okey)) % 7 + 1).cast("int"))
    keep = h31(F.concat(F.lit("flip|"), okey)) % 10 < 7
    yp_alt = F.element_at(garr, (h31(F.concat(F.lit("pred|"), okey)) % 7 + 1).cast("int"))
    preds = o.select(
        yt.alias("y_true"), F.when(keep, yt).otherwise(yp_alt).alias("y_pred")
    )
    cm = preds.groupBy("y_true", "y_pred").agg(F.count(F.lit(1)).alias("n"))
    contrib = cm.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("y_true").alias("grade"),
                    F.col("n").alias("n_true"),
                    F.lit(0).cast("long").alias("n_pred"),
                    F.when(F.col("y_true") == F.col("y_pred"), F.col("n"))
                    .otherwise(F.lit(0))
                    .cast("long")
                    .alias("tp"),
                ),
                F.struct(
                    F.col("y_pred").alias("grade"),
                    F.lit(0).cast("long").alias("n_true"),
                    F.col("n").alias("n_pred"),
                    F.lit(0).cast("long").alias("tp"),
                ),
            )
        ).alias("c")
    ).select("c.*")
    cls = contrib.groupBy("grade").agg(
        F.sum("n_true").alias("n_true"),
        F.sum("n_pred").alias("n_pred"),
        F.sum("tp").alias("tp"),
    )
    t = cls.agg(
        F.sum("n_true").alias("s"),
        F.sum("tp").alias("c"),
        F.sum(F.col("n_true") * F.col("n_pred")).alias("spt"),
        F.sum(F.col("n_pred") * F.col("n_pred")).alias("sp2"),
        F.sum(F.col("n_true") * F.col("n_true")).alias("st2"),
    )
    s, c = F.col("s"), F.col("c")
    spt, sp2, st2 = F.col("spt"), F.col("sp2"), F.col("st2")
    num = (c * s - spt).cast("double")
    # try_divide: a single-prediction (or marginal-degenerate) frame has
    # s² = Σp·t, so kappa/mcc are 0/0 — the oracle's x/0 is NULL, and
    # ANSI `/` must not crash (singleton-fact fuzz find, round 8).
    return t.select(
        s.alias("n"),
        F.round(F.try_divide(c.cast("double"), s), 4).alias("accuracy"),
        F.round(F.try_divide(num, s * s - spt), 4).alias("kappa"),
        F.round(
            F.try_divide(num, F.sqrt((s * s - sp2).cast("double") * (s * s - st2))), 4
        ).alias("mcc"),
    )
