"""End-to-end CLI test: fixture tables → CSV files → one command →
warehouse with partitioned silver/gold + JSON report (the reference's
whole DAG run, dags/dag.py:73-380, as a single process)."""

from __future__ import annotations

import json

import pytest

from mle_proj_datapipeline_spark.cli import main
from tests.fixtures import gen_domain_tables


@pytest.fixture(scope="module")
def source_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("csv_src")
    for name, pdf in gen_domain_tables().items():
        pdf.to_csv(d / f"{name}.csv", index=False)
    # one corrupt row to exercise quarantine
    with open(d / "financial.csv", "a") as f:
        f.write('bad,row,with,too,many,columns,entirely,unparseable,x,y,z,w,q,r,s,t\n')
    return str(d)


def test_cli_full_run(spark, source_dir, tmp_path_factory, capsys):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    rc = main(["--source-dir", source_dir, "--warehouse", wh])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["feature_store_rows"] > 0
    assert report["label_store_rows"] > 0
    assert report["quarantined_rows"]["financial"] == 1
    # warehouse layout: partitioned silver + gold stores readable
    fs = spark.read.parquet(f"{wh}/gold/feature_store")
    assert "snapshot_week" in fs.columns
    assert fs.count() == report["feature_store_rows"]


def test_cli_single_week_idempotent(spark, source_dir, tmp_path_factory, capsys):
    wh = str(tmp_path_factory.mktemp("warehouse2"))
    week = "2024-01-14"
    for _ in range(2):  # re-running one week must be idempotent
        rc = main(["--source-dir", source_dir, "--warehouse", wh, "--week", week])
        assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    fs = spark.read.parquet(f"{wh}/gold/feature_store")
    assert fs.count() == report["feature_store_rows"] > 0
    weeks = {str(r["snapshot_week"]) for r in fs.select("snapshot_week").distinct().collect()}
    assert weeks == {week}


def test_get_spark_returns_active_session_unchanged(spark):
    """``get_spark`` on a running session hands it back as is: the CLI's
    call must not re-apply its builder confs (shuffle partitions sized
    to the core count) over the owner's — the fixture's 8 partitions
    are what AQE's skew split on the LSH band join relies on."""
    from mle_proj_datapipeline_spark.session import get_spark

    assert get_spark(app_name="weekly_pipeline") is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
