"""Differential fuzzing of the STREAMING twins (VERDICT r6 item 5).

The batch registry is fuzz-covered by tests/test_oracle_fuzz.py, but the
stream==batch parity tests ran only on clean fixtures. Here the SAME
seeded mutated tables (row-sampled + injected edge-case rows: empty
docs, exact duplicates, tied event timestamps) are fed through the
AvailableNow maintenance stream in waves, and the model folded from
its partials must equal the batch computation over the mutated corpus;
the CM-sketch cells of the mutated orders must merge by SUM and survive
a crash mid-rebuild of their pinned snapshot.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from tests.test_oracle_fuzz import _mutate
from tests.test_streaming import fold_lm_partials

SEED, RATE = 11, 60


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_fuzz_sf"))
    _mutate(SEED, out, RATE)
    return out


def test_lm_serve_equals_batch_on_mutated_corpus(spark, fuzz_dir, tmp_path_factory):
    """LM maintenance over the mutated documents (two waves) must fold
    into a model whose scores are identical to the one-shot batch query
    on the same mutated corpus — including the injected empty /
    single-token / duplicate docs."""
    from mle_proj_datapipeline_spark.plans.featurize_queries import (
        bigram_lm_doc_scores,
    )
    from mle_proj_datapipeline_spark.streaming import lm as LM

    docs = spark.read.parquet(f"{fuzz_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    land = str(tmp_path_factory.mktemp("flm_land"))
    state = str(tmp_path_factory.mktemp("flm_state"))
    ck = str(tmp_path_factory.mktemp("flm_ck"))

    docs.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(land)
    schema = spark.read.parquet(land).schema
    LM.incremental_lm_counts(spark, land, schema, state, ck)
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(land)
    LM.incremental_lm_counts(spark, land, schema, state, ck)

    uni, big = fold_lm_partials(spark, state)
    got = sorted(
        (r["doc_id"], r["n_bigrams"], str(r["avg_logprob"]))
        for r in LM.score_docs(docs, uni, big).collect()
    )
    want = sorted(
        (r["doc_id"], r["n_bigrams"], str(r["avg_logprob"]))
        for r in bigram_lm_doc_scores(spark, fuzz_dir).collect()
    )
    assert got == want and got


def test_cm_sketch_serve_equals_batch_on_mutated_orders(
    spark, fuzz_dir, tmp_path_factory, monkeypatch
):
    """The CM cells of the mutated orders' two halves, summed, must equal
    the cells of the union; pinned as a snapshot, a CRASH in a rebuild
    (write_snapshot dies before the manifest commit) must leave the
    previously pinned cells serving until a later rebuild lands."""
    from mle_proj_datapipeline_spark.operators import sketch as SK
    from mle_proj_datapipeline_spark.sources import snapshots as S

    orders = spark.read.parquet(f"{fuzz_dir}/orders.parquet")
    root = str(tmp_path_factory.mktemp("fcm_state")) + "/cells"
    even = SK.cm_cells(orders.filter(F.col("o_orderkey") % 2 == 0), "o_custkey")
    odd = SK.cm_cells(orders.filter(F.col("o_orderkey") % 2 == 1), "o_custkey")

    def cells_rows(df):
        return sorted(
            (r["j"], r["bucket"], r["cell_n"]) for r in df.collect()
        )

    want = cells_rows(SK.cm_cells(orders, "o_custkey"))
    summed = (
        even.unionByName(odd).groupBy("j", "bucket").agg(F.sum("cell_n").alias("cell_n"))
    )
    assert cells_rows(summed) == want
    assert cells_rows(
        S.pinned_snapshot(spark, root, "union", lambda: SK.cm_cells(orders, "o_custkey"))
    ) == want

    def boom(*a, **k):
        raise OSError("injected crash before snapshot commit")

    with monkeypatch.context() as m:
        m.setattr(S, "write_snapshot", boom)
        with pytest.raises(OSError):
            S.pinned_snapshot(spark, root, "even", lambda: even)
    # the crashed rebuild committed nothing: the union cells still serve
    assert cells_rows(S.pinned_snapshot(spark, root, "union", lambda: even)) == want
    assert cells_rows(S.pinned_snapshot(spark, root, "even", lambda: even)) == cells_rows(even)


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_FUZZ_ALL"),
    reason="second-seed sweep: set SPARK_GRAFT_FUZZ_ALL=1",
)
def test_lm_serve_equals_batch_on_near_empty_mutation(spark, tmp_path_factory):
    """Opt-in second seed at rate 8: near-empty corpus through the LM
    maintenance stream — the serve path must agree with batch even when
    most waves carry a handful of rows."""
    from mle_proj_datapipeline_spark.plans.featurize_queries import (
        bigram_lm_doc_scores,
    )
    from mle_proj_datapipeline_spark.streaming import lm as LM

    out = str(tmp_path_factory.mktemp("fuzz_sparse_sf"))
    _mutate(3, out, 8)
    docs = spark.read.parquet(f"{out}/documents.parquet").select("doc_id", "text")
    land = str(tmp_path_factory.mktemp("flm2_land"))
    state = str(tmp_path_factory.mktemp("flm2_state"))
    ck = str(tmp_path_factory.mktemp("flm2_ck"))

    docs.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(land)
    schema = spark.read.parquet(land).schema
    LM.incremental_lm_counts(spark, land, schema, state, ck)
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(land)
    LM.incremental_lm_counts(spark, land, schema, state, ck)

    uni, big = fold_lm_partials(spark, state)
    got = sorted(
        (r["doc_id"], r["n_bigrams"], str(r["avg_logprob"]))
        for r in LM.score_docs(docs, uni, big).collect()
    )
    want = sorted(
        (r["doc_id"], r["n_bigrams"], str(r["avg_logprob"]))
        for r in bigram_lm_doc_scores(spark, out).collect()
    )
    assert got == want and got
