"""Golden tests for the medallion pipeline (SURVEY.md §5.2): imputation
semantics incl. deterministic mode ties, flags, encoding determinism,
label/feature store contracts, weekly partitioning + idempotent
overwrite, and partition pruning."""

from __future__ import annotations

import collections

import pyspark.sql.functions as F
import pytest

from mle_proj_datapipeline_spark.plans import medallion as M
from tests.fixtures import WEEKS, gen_domain_tables


@pytest.fixture(scope="module")
def domain(spark):
    pdfs = gen_domain_tables()
    from mle_proj_datapipeline_spark.schemas import DOMAIN_TABLES

    return {
        name: spark.createDataFrame(pdf, schema=DOMAIN_TABLES[name])
        for name, pdf in pdfs.items()
    }


@pytest.fixture(scope="module")
def pipeline_out(spark, domain, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("medallion"))
    results = M.run_pipeline(spark, domain, out)
    return out, results


def test_silver_imputation_no_nulls(pipeline_out):
    _, r = pipeline_out
    ch = r["silver_credit_history"]
    for c in ["mort_acc", "inq_last_6mths", "pub_rec", "delinq_2yrs",
              "mths_since_last_delinq", "months_since_earliest_cr_line"]:
        assert ch.filter(F.col(c).isNull()).count() == 0, c
    fin = r["silver_financial"]
    for c in ["dti", "all_util", "il_util", "bc_util", "revol_bal", "total_bal_il"]:
        assert fin.filter(F.col(c).isNull()).count() == 0, c


def test_missing_flags_match_original_nulls(spark, domain, pipeline_out):
    _, r = pipeline_out
    orig_nulls = domain["credit_history"].filter(F.col("mort_acc").isNull()).count()
    flagged = r["silver_credit_history"].filter(F.col("mort_acc_missing") == 1).count()
    assert flagged == orig_nulls


def test_mode_fill_deterministic_tiebreak(spark, domain, pipeline_out):
    """Mode = (count DESC, value ASC) — recompute expected in pandas."""
    _, r = pipeline_out
    pdf = domain["credit_history"].select("pub_rec").toPandas()
    counts = collections.Counter(pdf["pub_rec"].dropna().astype(int))
    expected_mode = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    orig_nulls = domain["credit_history"].filter(F.col("pub_rec").isNull()).count()
    got = r["silver_credit_history"].filter(F.col("pub_rec") == expected_mode).count()
    base = domain["credit_history"].filter(F.col("pub_rec") == expected_mode).count()
    assert got == base + orig_nulls


def test_silver_drops_and_recodes(pipeline_out):
    _, r = pipeline_out
    ch_cols = set(r["silver_credit_history"].columns)
    assert "last_credit_pull_d" not in ch_cols and "mths_since_last_record" not in ch_cols
    lt = r["silver_loan_terms"]
    assert set(["pymnt_plan_flag", "debt_settlement", "listed_whole", "direct_pay", "term_months"]) <= set(lt.columns)
    assert "url" not in lt.columns
    assert lt.filter(~F.col("term_months").isin(36, 60)).count() == 0


def test_label_store_contract(pipeline_out):
    _, r = pipeline_out
    ls = r["label_store"]
    assert set(ls.columns) == {"id", "snapshot_date", "grade", "snapshot_week"}
    assert ls.filter(F.col("grade").isNull()).count() == 0


def test_feature_store_numeric_and_unique(pipeline_out):
    _, r = pipeline_out
    fs = r["feature_store"]
    assert fs.select("id").distinct().count() == fs.count()  # keyed dedup
    non_numeric = [
        f.name
        for f in fs.schema.fields
        if f.name not in ("id", "snapshot_date", "snapshot_week")
        and f.dataType.typeName() in ("string",)
    ]
    assert not non_numeric, f"string cols leaked into feature store: {non_numeric}"
    assert "member_id" not in fs.columns and "grade" not in fs.columns


def test_feature_store_ohe_fixed_width(spark, domain):
    """Same category contract ⇒ same columns, regardless of input weeks
    (the reference's per-batch fit drifts; SURVEY §4.2)."""
    lt = domain["loan_terms"]
    half = {k: v.filter(F.col("snapshot_date") < F.lit(str(WEEKS[4]))) for k, v in domain.items()}
    cats = ["ENGINEER", "TEACHER", "NURSE"]
    fs_full = M.gold_feature_store(
        M.silver_credit_history(domain["credit_history"]),
        M.silver_demographic(domain["demographic"]),
        M.silver_financial(domain["financial"]),
        M.silver_loan_terms(lt),
        emp_title_top=cats,
    )
    fs_half = M.gold_feature_store(
        M.silver_credit_history(half["credit_history"]),
        M.silver_demographic(half["demographic"]),
        M.silver_financial(half["financial"]),
        M.silver_loan_terms(half["loan_terms"]),
        emp_title_top=cats,
    )
    assert fs_full.columns == fs_half.columns


def test_incremental_week_idempotent(spark, domain, tmp_path_factory):
    """Re-running one week overwrites only that week's partition
    (dynamic partition overwrite), and reruns are idempotent."""
    out = str(tmp_path_factory.mktemp("incr"))
    M.run_pipeline(spark, domain, out)
    all_rows = spark.read.parquet(f"{out}/gold/label_store").count()
    week = str(WEEKS[2])
    M.run_pipeline(spark, domain, out, week_start=week)  # rerun week 3 only
    again = spark.read.parquet(f"{out}/gold/label_store").count()
    assert again == all_rows


# Jobs of one incremental week on the fixture domain: a footer-inference
# job per read-back or a multi-job mode fit would push a week past it.
WEEK_JOB_BUDGET = 20


def test_week_job_budget_attribution_and_schemas(spark, domain, tmp_path_factory):
    """An incremental week stays within its job budget, every job it
    submits — from any of its worker threads — is attributed to the
    caller's job group, and every returned frame carries exactly the
    schema a plain read of its store infers."""
    out = str(tmp_path_factory.mktemp("budget"))
    M.run_pipeline(spark, domain, out, week_start=str(WEEKS[0]))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job(group: str) -> int:
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return tracker.getJobIdsForGroup(group)[-1]

    before = marker_job("budget:before")
    sc.setJobGroup("budget:week", "medallion week 2")
    try:
        r = M.run_pipeline(spark, domain, out, week_start=str(WEEKS[1]))
        after = marker_job("budget:after")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    week_jobs = set(tracker.getJobIdsForGroup("budget:week"))
    assert week_jobs == set(range(before + 1, after))
    assert len(week_jobs) <= WEEK_JOB_BUDGET

    paths = {
        "label_store": f"{out}/gold/label_store",
        "feature_store": f"{out}/gold/feature_store",
        **{f"silver_{n}": f"{out}/silver/{n}" for n in M.SILVER_TABLES},
    }
    assert set(r) == set(paths)
    for name, path in paths.items():
        assert r[name].schema == spark.read.parquet(path).schema, name


def test_concurrent_tasks_all_finish_then_first_error_raised(spark):
    """A failing table task does not cancel the others, and the error
    raised is the first in task order."""
    done = []

    def ok(i):
        return lambda: done.append(i) or i

    def fail(msg):
        def task():
            done.append(msg)
            raise ValueError(msg)

        return task

    assert M._run_concurrently(spark, [ok(0), ok(1)]) == [0, 1]
    done.clear()
    with pytest.raises(ValueError, match="first"):
        M._run_concurrently(spark, [ok(0), fail("first"), ok(2), fail("second")])
    assert sorted(map(str, done)) == ["0", "2", "first", "second"]


def test_partition_pruning(spark, domain, tmp_path_factory, pipeline_out):
    out, _ = pipeline_out
    ls = spark.read.parquet(f"{out}/gold/label_store")
    pruned = ls.filter(F.col("snapshot_week") == str(WEEKS[0]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the week predicate must land in PartitionFilters (metadata-only
    # pruning), NOT in PushedFilters/post-scan Filter
    assert "PartitionFilters" in plan and "snapshot_week" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    wk0 = pruned.count()
    assert 0 < wk0 < ls.count()


def test_training_frame_window_and_join(spark, domain, tmp_path_factory, pipeline_out):
    """Partition-pruned 50-week read + inner feature-label join: rows
    carry a numeric-only feature matrix plus the grade label, and only
    weeks inside (end-n, end] appear."""
    from mle_proj_datapipeline_spark.plans.medallion import training_frame

    wh = pipeline_out[0]
    tf = training_frame(spark, wh, end_week="2024-02-04", n_weeks=3).cache()
    assert tf.count() > 0
    weeks = {str(r["snapshot_week"]) for r in tf.select("snapshot_week").distinct().collect()}
    assert weeks <= {"2024-01-21", "2024-01-28", "2024-02-04"}
    assert "grade" in tf.columns and "id" in tf.columns
    # every id is labeled exactly once (inner join against deduped stores)
    assert tf.groupBy("id").count().filter("count > 1").count() == 0
    # J7 binary target (reference model_operations.py:96): D..G -> 1
    import pyspark.sql.functions as F

    bad = tf.filter(
        (F.col("grade").isin("D", "E", "F", "G") & (F.col("target") != 1))
        | (~F.col("grade").isin("D", "E", "F", "G") & (F.col("target") != 0))
    )
    assert bad.count() == 0 and "target" in tf.columns
