"""Structured Streaming tests: batch operators run unchanged on file
streams and emit the batch result; count models built from per-batch
partials (CM-sketch cells, LM counts) agree with the batch queries, and
the served count models build without a stream."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mle_proj_datapipeline_spark.sources.catalog import load_table
from mle_proj_datapipeline_spark.streaming import weekly as W
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Landing dir: the events table re-written as several files (ns→µs
    already handled by the catalog load)."""
    d = str(tmp_path_factory.mktemp("landing"))
    load_table(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def _schema(spark, events_dir):
    return spark.read.parquet(events_dir).schema


def ensure_event_time(df, ts_col):
    """Watermarks require TIMESTAMP; parquet written with naive
    ``timestamp[us]`` (the driver testdata) reads back as TIMESTAMP_NTZ,
    which ``withWatermark`` rejects. Cast NTZ → TIMESTAMP only when the
    column is NTZ (sessions pin UTC, so the cast is the identity on the
    epoch line)."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def run_to_memory(df, name, output_mode="complete"):
    """Run ``df`` to a memory sink named ``name`` over the files
    available now."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def test_stream_stream_interval_join(spark, events_dir):
    """The temporal-proximity join runs unchanged on two watermarked
    streams (Spark's stream-stream join with a range condition) and
    produces exactly the batch result."""
    from mle_proj_datapipeline_spark.operators.joins import temporal_proximity_join

    schema = _schema(spark, events_dir)

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
        c = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts")
        )
        return p, c

    sp, sc = split(W.file_stream(spark, events_dir, schema))
    joined = temporal_proximity_join(
        ensure_event_time(sp, "ts").withWatermark("ts", "2 hours"),
        ensure_event_time(sc, "click_ts").withWatermark("click_ts", "2 hours"),
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
    )
    run_to_memory(joined, "ss_join_mem", output_mode="append").awaitTermination(120)

    bp, bc = split(spark.read.parquet(events_dir))
    batch = temporal_proximity_join(bp, bc, on=["user_id"], left_ts="ts", right_ts="click_ts")

    def rows(df):
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    got = rows(spark.sql("SELECT * FROM ss_join_mem"))
    assert got == rows(batch) and len(got) > 0


def test_pii_scrub_stream_equals_batch(spark, tmp_path_factory):
    """The corpus-op family is batch/stream unified: the SAME scrub
    projection (plans/llm_corpus_queries.pii_scrub_frame) runs on a file
    stream and must emit exactly the batch result."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.plans.llm_corpus_queries import pii_scrub_frame
    from mle_proj_datapipeline_spark.sources.catalog import load_table
    from mle_proj_datapipeline_spark.streaming.weekly import file_stream

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    land = str(tmp_path_factory.mktemp("pii_land"))
    docs.write.mode("overwrite").parquet(land)

    stream = file_stream(spark, land, docs.schema)
    q = run_to_memory(pii_scrub_frame(stream), "pii_stream", output_mode="append")
    q.awaitTermination(120)

    got = {tuple(r) for r in spark.table("pii_stream").collect()}
    want = {tuple(r) for r in pii_scrub_frame(docs).collect()}
    assert got == want and got


def test_streaming_cm_sketch_equals_batch(spark):
    """CM-sketch cells merge by SUM (operators/sketch.py): the cells of
    orders split into two batches, summed per cell, must be EXACTLY the
    cells of cm_cells over the union (mergeability, tested not
    asserted), and heavy-hitter estimates from the summed sketch must
    equal the oracle-gated batch query's."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.operators import sketch as SK
    from mle_proj_datapipeline_spark.plans.rollup_queries import (
        cm_sketch_heavy_hitters,
    )
    from mle_proj_datapipeline_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")

    cut = orders.agg(F.expr("percentile(o_orderkey, 0.5)")).collect()[0][0]
    wave1 = SK.cm_cells(orders.filter(F.col("o_orderkey") <= cut), "o_custkey")
    wave2 = SK.cm_cells(orders.filter(F.col("o_orderkey") > cut), "o_custkey")
    summed = (
        wave1.unionByName(wave2)
        .groupBy("j", "bucket")
        .agg(F.sum("cell_n").alias("cell_n"))
    )

    def cells_rows(df):
        return sorted((r["j"], r["bucket"], r["cell_n"]) for r in df.collect())

    got = cells_rows(summed)
    want = cells_rows(SK.cm_cells(orders, "o_custkey"))
    assert got == want and got != cells_rows(wave1)

    # Serving: estimates from the summed sketch == the oracle-gated
    # batch query (same top-10 keys, same min-over-cells estimates).
    top10 = (
        orders.groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(10)
    )
    served = {r["key"]: r["cm_est"] for r in SK.cm_estimate(summed, top10).collect()}
    batch = {
        r["o_custkey"]: r["cm_est"] for r in cm_sketch_heavy_hitters(spark, sf).collect()
    }
    assert served == batch and len(served) == 10


def fold_lm_partials(spark, state):
    """The LM model of every committed ``merge_batch_counts`` partial
    under ``state``: per-key SUM over the batch partitions."""
    from mle_proj_datapipeline_spark.sources.readers import read_parquet

    uni = read_parquet(spark, f"{state}/uni").groupBy("term").agg(F.sum("c1").alias("c1"))
    big = (
        read_parquet(spark, f"{state}/big")
        .groupBy("w1", "w2")
        .agg(F.sum("c2").alias("c2"))
    )
    return uni, big


def test_streaming_lm_counts_equal_batch(spark, tmp_path_factory):
    """Streaming bigram-LM twin: documents in two waves through the
    incremental count maintenance must yield a served model whose doc
    scores EXACTLY equal the batch bigram_lm_doc_scores over the full
    corpus, and replay with no new files must change nothing."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.plans.featurize_queries import (
        bigram_lm_doc_scores,
    )
    from mle_proj_datapipeline_spark.sources.catalog import load_table
    from mle_proj_datapipeline_spark.streaming import lm as LM

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")

    land = str(tmp_path_factory.mktemp("lm_land"))
    state = str(tmp_path_factory.mktemp("lm_state"))
    ck = str(tmp_path_factory.mktemp("lm_ck"))

    docs.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(land)
    schema = spark.read.parquet(land).schema
    LM.incremental_lm_counts(spark, land, schema, state, ck)
    uni1, _ = fold_lm_partials(spark, state)
    n_terms_wave1 = uni1.count()

    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(land)
    LM.incremental_lm_counts(spark, land, schema, state, ck)
    uni, big = fold_lm_partials(spark, state)
    assert uni.count() >= n_terms_wave1

    got = sorted(
        (r["doc_id"], r["n_bigrams"], str(r["avg_logprob"]))
        for r in LM.score_docs(docs, uni, big).collect()
    )
    want = sorted(
        (r["doc_id"], r["n_bigrams"], str(r["avg_logprob"]))
        for r in bigram_lm_doc_scores(spark, sf).collect()
    )
    assert got == want and got

    # replay: nothing changes
    LM.incremental_lm_counts(spark, land, schema, state, ck)
    uni2, big2 = fold_lm_partials(spark, state)
    got2 = sorted(
        (r["doc_id"], r["n_bigrams"], str(r["avg_logprob"]))
        for r in LM.score_docs(docs, uni2, big2).collect()
    )
    assert got2 == got


def test_lm_scores_out_of_corpus_docs_with_smoothing(spark, tmp_path_factory):
    """Scoring a document OUTSIDE the training corpus: unseen bigrams
    must get the add-one-smoothed probability (not silently drop), so
    n_bigrams counts every bigram in the doc (ADVICE r5)."""
    import math

    from mle_proj_datapipeline_spark.streaming import lm as LM

    train = spark.createDataFrame(
        [(0, "a b a b"), (1, "b c")], "doc_id LONG, text STRING"
    )
    uni, big = LM.lm_counts(train)
    # vocabulary = {a, b, c}; "x y" has two unseen tokens, one unseen bigram
    out = spark.createDataFrame([(9, "x y")], "doc_id LONG, text STRING")
    row = LM.score_docs(out, uni, big).collect()[0]
    assert row["n_bigrams"] == 1
    # unseen w1: ln((0+1)/(0+3))
    assert abs(row["avg_logprob"] - round(math.log(1.0 / 3.0), 4)) < 1e-9
    # mixed doc: "a b x" -> (a,b) seen (c2=2, c1(a)=2), (b,x) unseen w2 (c1(b)=3)
    mixed = spark.createDataFrame([(10, "a b x")], "doc_id LONG, text STRING")
    row2 = LM.score_docs(mixed, uni, big).collect()[0]
    want = (math.log(3.0 / 5.0) + math.log(1.0 / 6.0)) / 2
    assert row2["n_bigrams"] == 2
    assert abs(row2["avg_logprob"] - round(want, 4)) < 1e-4


def test_served_build_starts_no_stream(spark, tmp_path_factory, monkeypatch):
    """A cold served build commits its count models as pinned
    snapshots: no streaming query starts, and no checkpoint directory or
    batch partition is left."""
    import os

    from pyspark.sql.streaming import StreamingQueryListener

    from mle_proj_datapipeline_spark.plans import served_queries as SQ

    class Starts(StreamingQueryListener):
        def __init__(self):
            self.started = []

        def onQueryStarted(self, event):
            self.started.append(event.id)

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    wh = str(tmp_path_factory.mktemp("served_nostream"))
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", wh)
    sf = SF_SMOKE
    listener = Starts()
    spark.streams.addListener(listener)
    try:
        SQ.bigram_lm_scores_served(spark, sf).count()
        SQ.cm_heavy_hitters_served(spark, sf).count()
    finally:
        spark.streams.removeListener(listener)
    assert listener.started == []
    assert not spark.streams.active
    tag = os.path.basename(sf)
    roots = {f"lm_unigrams_{tag}", f"lm_bigrams_{tag}", f"cm_sketch_{tag}"}
    assert set(os.listdir(wh)) == roots
    for root in roots:
        dirs = {d for _, ds, _ in os.walk(os.path.join(wh, root)) for d in ds}
        assert {"_snapshots", "data"} <= dirs
        assert "ck" not in dirs and not any(d.startswith("batch_id=") for d in dirs)
