"""Stateful ML-lifecycle operators: the retraining trigger.

Reference semantics (utils/dag_functions.py:61-99 `check_retraining_trigger`
+ last-retrain JSON at :72-99,831-844): every week, retrain iff
macro_f1 < 0.87 OR >= 90 days elapsed since the last retrain; retraining
resets the clock. That is a per-model ordered fold over weekly metric rows
— the one operator in the reference whose state cannot be expressed as a
window function (each decision depends on *prior decisions*, not prior
rows).

Two faithful forms, sharing one decision function:
- ``decide_batch``: per-group ordered fold via ``applyInPandas`` (groups
  are (model)-sized — bounded by #weeks, never by data volume).
- SQL oracle: a recursive CTE (see plans/lifecycle_queries.py) — proof
  the fold is deterministic and engine-independent.

Scale: state is one date per model (KB total); the metric input is an
aggregate (models × weeks), so this operator is never data-volume bound.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

F1_THRESHOLD = 0.87
STALE_DAYS = 90

DECISION_SCHEMA = StructType(
    [
        StructField("model", StringType(), False),
        StructField("week", StringType(), False),
        StructField("metric", DoubleType(), False),
        StructField("reason", StringType(), False),
    ]
)


def _decide(last_retrain: pd.Timestamp | None, week: pd.Timestamp, metric: float) -> str:
    """One week's decision. Precedence: first-ever week always trains
    ('init'); then the metric gate; then the staleness clock."""
    if last_retrain is None:
        return "init"
    if metric < F1_THRESHOLD:
        return "low_f1"
    if (week - last_retrain).days >= STALE_DAYS:
        return "stale"
    return "none"


def _fold(
    model: str, rows: pd.DataFrame, last_retrain: pd.Timestamp | None
) -> tuple[pd.DataFrame, pd.Timestamp | None]:
    """Ordered fold over one model's (week, metric) rows."""
    rows = rows.sort_values("week")
    out: list[dict[str, Any]] = []
    for week_s, metric in zip(rows["week"], rows["metric"]):
        week = pd.Timestamp(week_s)
        reason = _decide(last_retrain, week, metric)
        if reason != "none":
            last_retrain = week
        out.append(
            {"model": model, "week": week_s, "metric": metric, "reason": reason}
        )
    return pd.DataFrame(out, columns=[f.name for f in DECISION_SCHEMA]), last_retrain


def decide_batch(metrics: DataFrame) -> DataFrame:
    """Batch retraining decisions. ``metrics``: (model string, week
    'yyyy-MM-dd' string, metric double), one row per model-week."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out, _ = _fold(pdf["model"].iloc[0], pdf, None)
        return out

    return metrics.groupBy("model").applyInPandas(run, DECISION_SCHEMA)

