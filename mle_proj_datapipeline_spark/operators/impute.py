"""Declarative null-imputation operator family (SURVEY.md §2.C).

The reference's imputation surface:
- constant fill 0/−1/999/"MISSING"  (utils/silver_credit_history.py:40-49,
  utils/silver_financial.py:23-38, utils/silver_demographic.py:20-23)
- per-column mode fill in a Python loop — one groupBy + one driver action
  PER COLUMN, i.e. 9 shuffles for 9 columns
  (utils/silver_credit_history.py:31-37; anti-pattern SURVEY §4.1)
- mean fill (utils/silver_financial.py:20-21)
- missing-indicator flags (utils/silver_credit_history.py:19,
  utils/silver_financial.py:15-17)

Engine design: ONE aggregate for every mean and mode of a spec — the
modes through Spark's ``mode`` aggregate with its deterministic
tie-break — then a single projection applies every fill + flag. Mode
tie-break is defined as (count DESC, string value ASC) — the reference
leaves ties nondeterministic (SURVEY §7 "what's hard").

Scale: ``mode`` keeps a per-column value→count map per partition and
merges the maps in one shuffle — at 100 TB this is one shuffle of
pre-aggregated (value, count) maps, versus N full shuffles in the
reference. The final merge runs in one task, so its memory is the mode
columns' distinct values: right for the low-cardinality categorical
columns a mode fills, wrong for an id-like column.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import chain
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


@dataclass
class ImputeSpec:
    """What to fill where. All strategies apply in one pass."""

    constants: dict[str, Any] = field(default_factory=dict)
    mean_cols: list[str] = field(default_factory=list)
    mode_cols: list[str] = field(default_factory=list)
    flag_cols: list[str] = field(default_factory=list)  # adds {col}_missing 0/1


def add_missing_flags(df: DataFrame, cols: list[str], suffix: str = "_missing") -> DataFrame:
    """{col}_missing ∈ {0,1} (utils/silver_credit_history.py:19)."""
    return df.withColumns(
        {c + suffix: F.when(F.col(c).isNull(), F.lit(1)).otherwise(F.lit(0)) for c in cols}
    )


def _agg_stats(
    df: DataFrame, mean_cols: list[str], mode_cols: list[str]
) -> tuple[dict[str, float], dict[str, str]]:
    """Means and modes of ``df`` in one aggregate; columns whose statistic
    is null (all-null input) are left out."""
    exprs = [F.avg(c) for c in mean_cols] + [
        F.mode(F.col(c).cast("string"), True) for c in mode_cols
    ]
    if not exprs:
        return {}, {}
    row = df.agg(*[e.alias(f"_{i}") for i, e in enumerate(exprs)]).first()
    means, modes = row[: len(mean_cols)], row[len(mean_cols) :]
    return (
        {c: v for c, v in zip(mean_cols, means) if v is not None},
        {c: v for c, v in zip(mode_cols, modes) if v is not None},
    )


def compute_modes(df: DataFrame, cols: list[str]) -> dict[str, str]:
    """Per-column mode for all ``cols`` in one aggregate: ``mode`` with
    its deterministic tie-break, i.e. (count DESC, string value ASC);
    nulls are ignored. Returns string-typed modes; caller casts back."""
    return _agg_stats(df, [], cols)[1]


def compute_means(df: DataFrame, cols: list[str]) -> dict[str, float]:
    """All means in one multi-aggregate job (vs one job per column)."""
    return _agg_stats(df, cols, [])[0]


def fit_impute_stats(df: DataFrame, spec: ImputeSpec) -> dict[str, Any]:
    """Compute the data-dependent fill values (modes + means) once, as a
    pinnable stats dict, in one aggregate. The imputation analogue of the
    global category dictionary (operators/encode.py): per-batch
    statistics drift across incremental runs — a week with unusual nulls
    would silently shift every fill — so streaming/weekly pipelines fit
    stats on a reference window and apply them to every batch (persist as
    a tiny JSON/table next to the checkpoint)."""
    means, modes = _agg_stats(df, spec.mean_cols, spec.mode_cols)
    return {**means, **modes}


def impute(
    df: DataFrame, spec: ImputeSpec, stats: dict[str, Any] | None = None
) -> DataFrame:
    """Apply the full spec: flags first (they must see original nulls),
    then every fill in one projection. Pass ``stats`` (from
    ``fit_impute_stats`` on a reference window) to pin mode/mean fills
    across incremental batches; omit it for whole-dataset batch runs."""
    out = add_missing_flags(df, spec.flag_cols)
    if stats is None:
        stats = fit_impute_stats(df, spec)
    dtypes = dict(df.dtypes)
    fills: dict[str, F.Column] = {}
    for c, v in chain(spec.constants.items(), stats.items()):
        if c in dtypes:
            fills[c] = F.coalesce(F.col(c), F.lit(v).cast(dtypes[c]))
    return out.withColumns(fills)
