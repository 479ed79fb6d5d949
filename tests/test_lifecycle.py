"""Lifecycle operator tests: the decision fold resumes from saved state
(a stateful streaming wrapper agrees with the batch fold, across
micro-batches too); retraining-decision properties hold, the metrics
store and model registry round-trip, and the recursive-CTE oracle
matches the applyInPandas fold."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import StringType, StructField, StructType

from mle_proj_datapipeline_spark.plans.lifecycle_queries import weekly_model_metrics
from mle_proj_datapipeline_spark.streaming import weekly as W
from mle_proj_datapipeline_spark.streaming.lifecycle import (
    DECISION_SCHEMA,
    STALE_DAYS,
    _fold,
    decide_batch,
)
from tests.conftest import SF_SMOKE
from tests.test_streaming import run_to_memory


@pytest.fixture(scope="module")
def metrics_pdf(spark):
    return weekly_model_metrics(spark, SF_SMOKE).toPandas()


def _decisions_dict(rows):
    return {(r["model"], r["week"]): r["reason"] for r in rows}


def _decide_stream(metrics_stream):
    """The decision fold as an ``applyInPandasWithState`` operator: the
    per-model GroupState holds the last retrain date, and each
    micro-batch folds its rows in week order from the saved state."""

    def run(key, pdfs, state):
        (model,) = key
        last = pd.Timestamp(state.get[0]) if state.exists and state.get[0] else None
        rows = pd.concat(list(pdfs), ignore_index=True)
        out, last = _fold(model, rows, last)
        state.update((last.strftime("%Y-%m-%d") if last is not None else None,))
        yield out

    return metrics_stream.groupBy("model").applyInPandasWithState(
        run,
        outputStructType=DECISION_SCHEMA,
        stateStructType=StructType([StructField("last_retrain", StringType(), True)]),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def test_stream_equals_batch(spark, metrics_pdf, tmp_path_factory):
    """One micro-batch: streaming decisions == batch decisions."""
    land = str(tmp_path_factory.mktemp("metrics_land"))
    metrics = spark.createDataFrame(metrics_pdf)
    metrics.coalesce(1).write.mode("overwrite").parquet(land)
    stream = W.file_stream(spark, land, metrics.schema)
    q = run_to_memory(_decide_stream(stream), "lifecycle_mem", output_mode="append")
    q.awaitTermination(120)
    got = _decisions_dict(spark.table("lifecycle_mem").collect())
    want = _decisions_dict(decide_batch(metrics).collect())
    assert got == want and len(got) > 0


def test_state_carries_across_microbatches(spark, metrics_pdf, tmp_path_factory):
    """Split the panel at a week boundary into two files, force one file
    per trigger: decisions in batch 2 must depend on state from batch 1
    (identical to the single-batch run)."""
    land = str(tmp_path_factory.mktemp("metrics_land2"))
    metrics = spark.createDataFrame(metrics_pdf)
    cut = sorted(metrics_pdf["week"].unique())[len(metrics_pdf["week"].unique()) // 2]
    early = metrics.filter(metrics.week < cut).coalesce(1)
    late = metrics.filter(metrics.week >= cut).coalesce(1)
    early.write.mode("overwrite").parquet(land + "/b1")
    late.write.mode("overwrite").parquet(land + "/b2")
    stream = W.file_stream(
        spark, land + "/*", metrics.schema, max_files_per_trigger=1
    )
    q = run_to_memory(_decide_stream(stream), "lifecycle_mem2", output_mode="append")
    q.awaitTermination(180)
    got = _decisions_dict(spark.table("lifecycle_mem2").collect())
    want = _decisions_dict(decide_batch(metrics).collect())
    assert got == want and len(got) > 0


def test_decision_properties(spark, metrics_pdf):
    """Every arm fires on the panel; retrains are never > STALE_DAYS
    apart; 'stale' implies the gap actually reached STALE_DAYS."""
    rows = decide_batch(
        weekly_model_metrics(spark, SF_SMOKE).sparkSession.createDataFrame(metrics_pdf)
    ).toPandas()
    assert set(rows["reason"].unique()) >= {"init", "low_f1", "none"}
    for model, grp in rows.sort_values("week").groupby("model"):
        last = None
        for _, r in grp.iterrows():
            wk = pd.Timestamp(r["week"])
            if last is not None:
                # the trigger can never let the clock exceed the stale
                # bound without firing
                assert r["reason"] != "none" or (wk - last).days < STALE_DAYS
                if r["reason"] == "stale":
                    assert (wk - last).days >= STALE_DAYS
            if r["reason"] != "none":
                last = wk


def test_metrics_store_roundtrip(spark, tmp_path_factory, monkeypatch):
    """A7: lifecycle queries read the PERSISTED metrics table — the
    panel must survive a write→read-back through the snapshot store,
    version history stays bounded, and a refresh replaces the panel."""
    import os

    from mle_proj_datapipeline_spark.sources import metrics as M
    from mle_proj_datapipeline_spark.sources.snapshots import history

    wh = str(tmp_path_factory.mktemp("warehouse"))
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", wh)

    panel = spark.createDataFrame(
        [("m1", "2024-01-07", 0.91), ("m2", "2024-01-07", 0.88)],
        "model string, week string, metric double",
    )
    got = M.stored_metrics(spark, "/root/testdata/sf0.001", panel)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in panel.collect()}
    root = os.path.join(wh, "metrics_store_sf0.001")
    assert os.path.isdir(root)

    # refresh several times: logical table is replaced, history bounded
    for _ in range(M.KEEP_VERSIONS + 2):
        M.stored_metrics(spark, "/root/testdata/sf0.001", panel.limit(1))
    assert M.read_metrics(spark, root).count() == 1
    assert len(history(spark, root)) <= M.KEEP_VERSIONS


def test_production_model_registry_roundtrip(spark, tmp_path_factory, monkeypatch):
    """L4: production_model returns the read-back registry snapshot —
    exactly one Production row (the latest week), versions are dense
    1..n in week order."""
    from mle_proj_datapipeline_spark.plans.lifecycle_queries import production_model

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path_factory.mktemp("wh2")))
    rows = production_model(spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert sum(r["stage"] == "Production" for r in rows) == 1
    by_week = sorted(rows, key=lambda r: r["week"])
    assert [r["version"] for r in by_week] == list(range(1, len(rows) + 1))
    assert max(by_week, key=lambda r: r["week"])["stage"] == "Production"
    assert all(r["params"].startswith("depth=") for r in rows)


def test_recursive_cte_matches_applyinpandas_fold(spark):
    """Spark 4 recursive-CTE surface: the retraining fold expressed
    natively as WITH RECURSIVE ... UNION ALL (one recursion level per
    week index — acyclic, so UNION ALL terminates) must reproduce
    decide_batch's applyInPandas fold row-for-row. Truncated to the
    first ~60 weeks per model so recursion depth stays under the
    engine's level limit; the applyInPandas fold stays the scale path
    (depth-independent, one shuffle on model)."""
    from mle_proj_datapipeline_spark.streaming.lifecycle import F1_THRESHOLD

    panel = weekly_model_metrics(spark, SF_SMOKE).filter("week < '1996-02-01'")
    panel.createOrReplaceTempView("trigger_panel_v")
    got_df = spark.sql(f"""
        WITH RECURSIVE w AS (
            SELECT model, week, metric,
                   row_number() OVER (PARTITION BY model ORDER BY week) AS idx
            FROM trigger_panel_v),
        rec AS (
            SELECT model, week, metric, idx, 'init' AS reason,
                   CAST(week AS DATE) AS last_retrain
            FROM w WHERE idx = 1
            UNION ALL
            SELECT w.model, w.week, w.metric, w.idx,
                   CASE WHEN w.metric < {F1_THRESHOLD} THEN 'low_f1'
                        WHEN datediff(CAST(w.week AS DATE), r.last_retrain)
                                 >= {STALE_DAYS} THEN 'stale'
                        ELSE 'none' END,
                   CASE WHEN w.metric < {F1_THRESHOLD}
                             OR datediff(CAST(w.week AS DATE), r.last_retrain)
                                    >= {STALE_DAYS}
                        THEN CAST(w.week AS DATE) ELSE r.last_retrain END
            FROM rec r JOIN w ON w.model = r.model AND w.idx = r.idx + 1)
        SELECT model, week, metric, reason FROM rec
    """)
    got = _decisions_dict(got_df.collect())
    want = _decisions_dict(decide_batch(panel).collect())
    assert got == want and len(got) > 0
    # both trigger arms actually exercised in the truncated panel
    assert {"low_f1", "init"} <= set(got_df.toPandas()["reason"])
