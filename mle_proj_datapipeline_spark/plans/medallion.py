"""The medallion pipeline (bronze → silver → gold) — the reference's
end-to-end weekly dataflow (dags/dag.py:144-213) as ONE lazy Spark plan
per layer, one long-lived session, Hive-partitioned storage.

Layer semantics (with reference citations):
- bronze: CSV landing → week-filtered rows → parquet partitioned by
  snapshot_week (replaces pandas 5,000-row chunking,
  utils/process_bronze_tables.py:19-133).
- silver: per-table cleaning — drops, missing flags, constant/mean/mode
  fills (single-pass, SURVEY §4.1 fix), recodes, date parsing
  (utils/silver_*.py).
- gold: label store (id, snapshot_date, grade non-null;
  utils/gold_label_store.py:40-42) and feature store (4-way left join on
  member_id+snapshot_date, deterministic encodings, keyed dedup, numeric
  matrix keyed by id; utils/gold_feature_store.py:288-353).

Differences from the reference, by design:
- week encoded as a PARTITION COLUMN (snapshot_week), not a filename —
  readers get partition pruning for free.
- encodings are dictionary/declared-category driven — identical columns
  every week (vs per-batch StringIndexer fit, SURVEY §4.2).
- one aggregate for all mode and mean fills of a table (vs one groupBy
  per column).

Execution of one run (``run_pipeline``): the four silver tables are
independent, so each table's build (its imputation stats actions), write
and read-back is one task, and the four tasks run concurrently on a
thread pool; then the label-store write runs concurrently with the
feature store's top-k and write. Every task keeps the caller's job
group, local properties and tags, so each job stays attributed to the
run. Read-backs carry the schema the write fixed, so no footer-inference
job runs. If a task fails, the others still finish, and the first error
in table order is raised: the tables that finished hold this run's
partitions, the failed one holds the previous run's (or a partial write
of this one). Every write is a per-table dynamic partition overwrite, so
rerunning the week repairs it.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import DateType, StructField, StructType
from pyspark.util import inheritable_thread_target

from mle_proj_datapipeline_spark.functions.core import (
    binary_flag,
    grade_to_ordinal,
    normalize_category,
    parse_emp_length,
    to_date_mmm_yyyy,
    whole_months_between,
)
from mle_proj_datapipeline_spark.operators.encode import one_hot, top_k_categories
from mle_proj_datapipeline_spark.operators.impute import ImputeSpec, impute

# Fixed OHE category contracts (schema-stable across weeks; the data's
# category space is closed for these columns).
VERIFICATION_CATS = ["Not Verified", "Source Verified", "Verified"]
HOME_CATS = ["MORTGAGE", "OWN", "RENT"]
APP_TYPE_CATS = ["Individual", "Joint App"]
STATE_CATS = ["CA", "NY", "TX", "FL", "WA", "IL", "MA", "GA", "OH", "PA"]


def week_of(col: F.Column) -> F.Column:
    """Sunday-anchored week label (the reference's Sunday..Saturday
    window, utils/process_bronze_tables.py:53-54). Spark date_trunc weeks
    are Monday-anchored, so shift by one day both ways."""
    return F.date_format(
        F.date_add(F.date_trunc("week", F.date_add(col, 1)).cast("date"), -1), "yyyy-MM-dd"
    )


def to_bronze(df: DataFrame, week_start: str | None = None) -> DataFrame:
    """Bronze = raw rows + snapshot_week partition column; optionally
    restricted to one week (the incremental path)."""
    out = df.withColumn("snapshot_week", week_of(F.col("snapshot_date")))
    if week_start:
        out = out.filter(F.col("snapshot_week") == week_start)
    return out


def silver_credit_history(df: DataFrame) -> DataFrame:
    """utils/silver_credit_history.py: drop red-flag cols, mort_acc flag
    + 0-fill, mode-fill family (ONE job), -1-fill family, parse
    'MMM-yyyy' → months-since feature."""
    out = df.drop("last_credit_pull_d", "mths_since_last_record")
    out = out.withColumn(
        "earliest_cr_line_date", to_date_mmm_yyyy("earliest_cr_line")
    ).withColumn(
        "months_since_earliest_cr_line",
        F.coalesce(
            whole_months_between(F.col("snapshot_date"), F.col("earliest_cr_line_date")),
            F.lit(-1),
        ),
    ).drop("earliest_cr_line", "earliest_cr_line_date")
    spec = ImputeSpec(
        constants={"mort_acc": 0, "mths_since_last_delinq": -1, "inq_last_12m": -1, "num_tl_30dpd": -1},
        mode_cols=["inq_last_6mths", "pub_rec", "delinq_2yrs"],
        flag_cols=["mort_acc"],
    )
    return impute(out, spec)


def silver_demographic(df: DataFrame) -> DataFrame:
    """utils/silver_demographic.py: drops, trim/upper + MISSING for
    home_ownership, constant fills."""
    out = df.drop("annual_inc_joint", "verification_status_joint")
    out = out.withColumn("home_ownership", normalize_category("home_ownership"))
    return impute(out, ImputeSpec(constants={"annual_inc": 0.0}, flag_cols=["annual_inc"]))


def silver_financial(df: DataFrame) -> DataFrame:
    """utils/silver_financial.py: drops, missing flags for util columns,
    mean-fill dti, zero fills, -1 fills — all in one pass."""
    out = df.drop("dti_joint")
    spec = ImputeSpec(
        constants={"all_util": 0.0, "il_util": 0.0, "bc_util": 0.0, "revol_bal": 0.0,
                   "open_acc": 0, "total_bal_il": -1.0, "mo_sin_old_il_acct": -1},
        mean_cols=["dti"],
        flag_cols=["all_util", "il_util", "bc_util"],
    )
    return impute(out, spec)


def silver_loan_terms(df: DataFrame) -> DataFrame:
    """utils/silver_loan_terms.py: drops + the four y/n-style recodes;
    term '→ 36/60' parse (gold_loan_terms.py:14 moved up a layer so gold
    stays purely relational)."""
    return (
        df.drop("url", "out_prncp")
        .withColumn("pymnt_plan_flag", binary_flag("pymnt_plan", "y"))
        .withColumn("debt_settlement", binary_flag("debt_settlement_flag", "Y"))
        .withColumn("listed_whole", binary_flag("initial_list_status", "w"))
        .withColumn("direct_pay", binary_flag("disbursement_method", "DirectPay"))
        .withColumn(
            "term_months",
            F.coalesce(F.nullif(F.regexp_extract("term", r"(\d+)", 1), F.lit("")).cast("int"), F.lit(-1)),
        )
        .drop("pymnt_plan", "debt_settlement_flag", "initial_list_status", "disbursement_method", "term")
    )


def gold_label_store(loan_terms_silver: DataFrame) -> DataFrame:
    """(id, snapshot_date, grade) with grade non-null
    (utils/gold_label_store.py:40-42)."""
    return loan_terms_silver.select("id", "snapshot_date", "grade").filter(
        F.col("grade").isNotNull()
    )


def gold_feature_store(
    credit: DataFrame,
    demo: DataFrame,
    fin: DataFrame,
    loans: DataFrame,
    emp_title_top: list[str] | None = None,
) -> DataFrame:
    """Wide numeric matrix keyed by loan id
    (utils/gold_feature_store.py:288-353, re-designed):

    - emp_title → top-10+OTHER OHE with a DETERMINISTIC category list
      (caller-supplied for cross-batch stability, else computed
      count-DESC/value-ASC from this input)
    - declared-category OHE for verification_status / home_ownership /
      application_type; emp_length native parse; grade → ordinal
    - 4-way LEFT join on (member_id, snapshot_date) — loans is the spine
    - dimension tables deduped to one row per (member_id, snapshot_date)
      BEFORE the join with a total-order tiebreak (row-content hash), so
      the output is deterministic even when a source carries duplicate
      member rows — an arbitrary-pick here would make incremental
      per-week builds disagree with full rebuilds
    - keyed dedup on id (window keep-first) — never full-row distinct
    """

    def one_per_member_week(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("member_id", "snapshot_date").orderBy(
            F.md5(F.to_json(F.struct(*df.columns)))
        )
        return df.withColumn("__dk", F.row_number().over(w)).filter(F.col("__dk") == 1).drop("__dk")

    demo, fin, credit = map(one_per_member_week, (demo, fin, credit))
    emp_cats = emp_title_top or top_k_categories(demo, "emp_title", 10)
    d = demo.withColumn("emp_title", normalize_category("emp_title"))
    d = one_hot(d, "emp_title", [c.strip().upper() for c in emp_cats], prefix="emp")
    d = one_hot(d, "verification_status", VERIFICATION_CATS, prefix="verif")
    d = one_hot(d, "home_ownership", HOME_CATS, prefix="home")
    d = one_hot(d, "application_type", APP_TYPE_CATS, prefix="app")
    d = one_hot(d, "addr_state", STATE_CATS, prefix="state")
    d = d.withColumn("emp_length_years", parse_emp_length("emp_length")).drop(
        "emp_title", "emp_length", "verification_status", "home_ownership",
        "application_type", "addr_state", "zip_code",
    )

    lo = loans.withColumn("grade_ordinal", grade_to_ordinal("grade")).drop(
        "sub_grade", "issue_d", "purpose"
    )

    keys = ["member_id", "snapshot_date"]
    joined = (
        lo.join(d, keys, "left")
        .join(fin, keys, "left")
        .join(credit, keys, "left")
        .filter(F.col("grade").isNotNull())  # gold_feature_store.py:334
    )
    w = Window.partitionBy("id").orderBy(
        "snapshot_date", F.md5(F.to_json(F.struct(*joined.columns)))
    )
    deduped = joined.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") == 1)
    return deduped.drop("__rk", "member_id", "grade")  # keep id + snapshot_week lineage


SILVER_TABLES = {
    "credit_history": silver_credit_history,
    "demographic": silver_demographic,
    "financial": silver_financial,
    "loan_terms": silver_loan_terms,
}


def _run_concurrently(spark: SparkSession, tasks: list[Callable[[], Any]]) -> list[Any]:
    """Run independent ``tasks`` on a thread pool, each keeping the
    caller's job group, local properties and tags. Every task runs to
    its end; then the first error in task order is raised."""
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in tasks]
    return [f.result() for f in futures]


def _write_store(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` as snapshot_week-partitioned parquet with dynamic
    partition overwrite, and read the store back with the schema the
    write fixed: the written fields made nullable, snapshot_week last as
    a DATE (what footer inference returns, without its job)."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("snapshot_week").parquet(path)
    fields = [f for f in df.schema.fields if f.name != "snapshot_week"]
    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in fields]
        + [StructField("snapshot_week", DateType(), True)]
    )
    return spark.read.schema(schema).parquet(path)


def run_pipeline(
    spark: SparkSession,
    bronze: dict[str, DataFrame],
    out_dir: str,
    week_start: str | None = None,
) -> dict[str, DataFrame]:
    """One incremental (or full) run: bronze dict of raw frames → silver
    → gold, written as snapshot_week-partitioned parquet with dynamic
    partition overwrite (idempotent weekly re-runs,
    utils/process_silver_tables.py:85 semantics)."""

    def silver_task(name: str) -> Callable[[], DataFrame]:
        build = SILVER_TABLES[name]
        return lambda: _write_store(
            spark, build(to_bronze(bronze[name], week_start)), f"{out_dir}/silver/{name}"
        )

    silvers = dict(zip(SILVER_TABLES, _run_concurrently(spark, [silver_task(n) for n in SILVER_TABLES])))

    labels = gold_label_store(silvers["loan_terms"]).withColumn(
        "snapshot_week", week_of(F.col("snapshot_date"))
    )

    def features() -> DataFrame:
        fs = gold_feature_store(
            silvers["credit_history"].drop("snapshot_week"),
            silvers["demographic"].drop("snapshot_week"),
            silvers["financial"].drop("snapshot_week"),
            silvers["loan_terms"],
        )
        return _write_store(spark, fs, f"{out_dir}/gold/feature_store")

    label_store, feature_store = _run_concurrently(
        spark, [lambda: _write_store(spark, labels, f"{out_dir}/gold/label_store"), features]
    )
    return {
        "label_store": label_store,
        "feature_store": feature_store,
        **{f"silver_{n}": df for n, df in silvers.items()},
    }


def training_frame(
    spark: SparkSession,
    warehouse: str,
    end_week: str,
    n_weeks: int = 50,
) -> DataFrame:
    """Feature ⨝ label training window — the reference's
    load_data_for_training (utils/model_operations.py:16-56) without the
    50-path enumeration or the 12-week chunked toPandas loop: one
    partition-pruned read per store (weeks are partition keys, so the
    BETWEEN predicate prunes at planning time), one inner join on id.

    The window is (end_week - n_weeks, end_week]: training reads weeks
    t-50..t-1 relative to a run at week t (utils/dag_functions.py:554-578
    leak-avoidance semantics). Returns the lazy frame — the ML boundary
    decides between Arrow toPandas (fits-in-driver) or mapInPandas
    (per-partition batch scoring)."""
    import datetime as dt

    end = dt.date.fromisoformat(end_week)
    start = end - dt.timedelta(weeks=n_weeks)
    features = spark.read.parquet(f"{warehouse}/gold/feature_store")
    labels = spark.read.parquet(f"{warehouse}/gold/label_store")

    def in_window(df: DataFrame) -> DataFrame:
        wk = F.col("snapshot_week").cast("string")
        return df.filter((wk > str(start)) & (wk <= str(end)))

    from mle_proj_datapipeline_spark.functions.core import binary_target

    return (
        in_window(features)
        .join(in_window(labels).select("id", "grade"), "id", "inner")
        .withColumn("target", binary_target("grade"))
    )
