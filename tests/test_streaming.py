"""Structured Streaming tests: batch operators run unchanged on file
streams and emit the batch result; the incremental sketch and LM
maintenance and their compaction agree with the batch queries."""

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


def test_streaming_cm_sketch_equals_batch(spark, tmp_path_factory):
    """Streaming CM-sketch twin: orders arriving in two waves through
    the incremental foreachBatch maintenance must yield EXACTLY the
    cells of cm_cells over the union (mergeability, tested not
    asserted), heavy-hitter estimates served from the maintained sketch
    must equal the oracle-gated batch query's, and a replayed pass with
    no new files must not change the cells (idempotent batch commits)."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.operators import sketch as SK
    from mle_proj_datapipeline_spark.plans.rollup_queries import (
        cm_sketch_heavy_hitters,
    )
    from mle_proj_datapipeline_spark.sources.catalog import load_table
    from mle_proj_datapipeline_spark.streaming import sketch as SS

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")

    land = str(tmp_path_factory.mktemp("cm_land"))
    cells_dir = str(tmp_path_factory.mktemp("cm_cells"))
    ck = str(tmp_path_factory.mktemp("cm_ck"))

    cut = orders.agg(F.expr("percentile(o_orderkey, 0.5)")).collect()[0][0]
    orders.filter(F.col("o_orderkey") <= cut).write.mode("append").parquet(land)
    schema = spark.read.parquet(land).schema

    def cells_rows(df):
        return sorted((r["j"], r["bucket"], r["cell_n"]) for r in df.collect())

    SS.incremental_cm_cells(spark, land, schema, cells_dir, ck, "o_custkey")
    wave1_cells = cells_rows(SS.served_cells(spark, cells_dir))
    assert wave1_cells

    orders.filter(F.col("o_orderkey") > cut).write.mode("append").parquet(land)
    SS.incremental_cm_cells(spark, land, schema, cells_dir, ck, "o_custkey")
    got = cells_rows(SS.served_cells(spark, cells_dir))

    # Mergeability: maintained cells == cells of the union, computed flat.
    want = cells_rows(SK.cm_cells(orders, "o_custkey"))
    assert got == want and got != wave1_cells

    # Serving: estimates from the maintained sketch == the oracle-gated
    # batch query (same top-10 keys, same min-over-cells estimates).
    top10 = (
        orders.groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(10)
    )
    served = {
        r["key"]: r["cm_est"]
        for r in SK.cm_estimate(SS.served_cells(spark, cells_dir), top10).collect()
    }
    batch = {
        r["o_custkey"]: r["cm_est"] for r in cm_sketch_heavy_hitters(spark, sf).collect()
    }
    assert served == batch and len(served) == 10

    # Replay with no new files: cells unchanged.
    SS.incremental_cm_cells(spark, land, schema, cells_dir, ck, "o_custkey")
    assert cells_rows(SS.served_cells(spark, cells_dir)) == got


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
    uni1, _ = LM.served_counts(spark, state)
    n_terms_wave1 = uni1.count()

    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(land)
    LM.incremental_lm_counts(spark, land, schema, state, ck)
    uni, big = LM.served_counts(spark, state)
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
    uni2, big2 = LM.served_counts(spark, state)
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
    tok = LM._tok(train)
    uni = (
        tok.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    big = (
        tok.select(F.explode(F.arrays_zip(
            F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
            F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
        )).alias("p"))
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
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


def test_served_queries_pin_state_and_rebuild_on_source_change(
    spark, tmp_path_factory, monkeypatch
):
    """The serve-path queries (plans/served_queries.py) must build their
    streaming state ONCE per corpus fingerprint: a second call serves
    from the committed state without touching the maintenance stream,
    and a corrupt/mismatched meta triggers a full rebuild (state + file
    log wiped together)."""
    import json
    import os

    from mle_proj_datapipeline_spark.plans import served_queries as SQ

    wh = str(tmp_path_factory.mktemp("served_wh"))
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", wh)
    sf = "/root/testdata/sf0.001"

    calls = []

    def run_pass(src, schema, state, ck):
        calls.append(src)
        from mle_proj_datapipeline_spark.streaming import lm as LM

        LM.incremental_lm_counts(spark, src, schema, state, ck)

    s1 = SQ._ensure_stream_state(spark, sf, "documents", "lm_counts", run_pass)
    assert len(calls) == 1 and os.path.isdir(s1)
    # fresh fingerprint: second call is a pure serve, no stream run
    s2 = SQ._ensure_stream_state(spark, sf, "documents", "lm_counts", run_pass)
    assert s2 == s1 and len(calls) == 1
    # corrupt meta == unknown provenance -> rebuild from scratch
    meta = os.path.join(os.path.dirname(s1), "meta.json")
    with open(meta, "w") as f:
        json.dump({"source": "stale"}, f)
    SQ._ensure_stream_state(spark, sf, "documents", "lm_counts", run_pass)
    assert len(calls) == 2
    with open(meta) as f:
        assert json.load(f)["source"] != "stale"


def test_cm_compaction_preserves_serving_and_watermark(spark, tmp_path_factory):
    """Changelog compaction (streaming/compaction.py): folding the
    per-batch cell partials into the committed base must not change
    served estimates at ANY point — right after compaction (folded
    partials still on disk are excluded by the watermark, never double
    counted), after GC reclaims them, and after new batches land above
    the watermark."""
    import os

    from mle_proj_datapipeline_spark.operators import sketch as SK
    from mle_proj_datapipeline_spark.streaming import sketch as SS

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    land = str(tmp_path_factory.mktemp("cmc_land"))
    cells_dir = str(tmp_path_factory.mktemp("cmc_cells")) + "/cells"
    ck = str(tmp_path_factory.mktemp("cmc_ck"))

    def rows(df):
        return sorted((r["j"], r["bucket"], r["cell_n"]) for r in df.collect())

    cut = orders.agg(F.expr("percentile(o_orderkey, 0.5)")).collect()[0][0]
    wave1 = orders.filter(F.col("o_orderkey") <= cut)
    wave1.write.mode("append").parquet(land)
    schema = spark.read.parquet(land).schema

    SS.incremental_cm_cells(spark, land, schema, cells_dir, ck, "o_custkey")
    want1 = rows(SK.cm_cells(wave1, "o_custkey"))
    assert rows(SS.served_cells(spark, cells_dir)) == want1

    # compact: partials still on disk, watermark excludes them
    v = SS.compact_cells(spark, cells_dir)
    assert v >= 0
    assert any(e.startswith("batch_id=") for e in os.listdir(cells_dir))
    assert rows(SS.served_cells(spark, cells_dir)) == want1
    # nothing new to fold -> no-op
    assert SS.compact_cells(spark, cells_dir) == -1

    # GC reclaims folded partitions; serving unchanged (base only)
    removed = SS.gc_cells(spark, cells_dir)
    assert removed and not any(
        e.startswith("batch_id=") for e in os.listdir(cells_dir)
    )
    assert rows(SS.served_cells(spark, cells_dir)) == want1

    # new batches land ABOVE the watermark and merge with the base
    orders.filter(F.col("o_orderkey") > cut).write.mode("append").parquet(land)
    SS.incremental_cm_cells(spark, land, schema, cells_dir, ck, "o_custkey")
    want_all = rows(SK.cm_cells(orders, "o_custkey"))
    assert rows(SS.served_cells(spark, cells_dir)) == want_all

    # second compaction folds the deltas into the base
    assert SS.compact_cells(spark, cells_dir) > v
    SS.gc_cells(spark, cells_dir)
    assert rows(SS.served_cells(spark, cells_dir)) == want_all


def test_lm_compaction_preserves_model_scores(spark, tmp_path_factory):
    """LM count compaction: scores served from the compacted model must
    be bit-identical to the batch-trained twin across fold + GC + new
    data."""
    from mle_proj_datapipeline_spark.plans.featurize_queries import (
        bigram_lm_doc_scores,
    )
    from mle_proj_datapipeline_spark.streaming import lm as LM

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    land = str(tmp_path_factory.mktemp("lmc_land"))
    state = str(tmp_path_factory.mktemp("lmc_state")) + "/state"
    ck = str(tmp_path_factory.mktemp("lmc_ck"))

    docs.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(land)
    schema = spark.read.parquet(land).schema
    LM.incremental_lm_counts(spark, land, schema, state, ck)
    LM.compact_counts(spark, state)
    LM.gc_counts(spark, state)

    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(land)
    LM.incremental_lm_counts(spark, land, schema, state, ck)

    uni, big = LM.served_counts(spark, state)
    got = sorted(
        (r["doc_id"], r["n_bigrams"], str(r["avg_logprob"]))
        for r in LM.score_docs(docs, uni, big).collect()
    )
    want = sorted(
        (r["doc_id"], r["n_bigrams"], str(r["avg_logprob"]))
        for r in bigram_lm_doc_scores(spark, sf).collect()
    )
    assert got == want and got


def test_compaction_invariant_under_random_schedules(spark, tmp_path_factory):
    """served_state is invariant under ANY interleaving of appends,
    folds, and GCs: for a randomized (seeded) schedule of partial-batch
    commits with compaction/GC injected at arbitrary points, the served
    counts always equal the plain sum over everything committed so
    far."""
    import random

    from mle_proj_datapipeline_spark.streaming import compaction as C

    rng = random.Random(6)
    for trial in range(3):
        root = str(tmp_path_factory.mktemp(f"cmp_rand_{trial}")) + "/parts"
        truth: dict[int, int] = {}
        bid = 0
        for _ in range(rng.randint(3, 6)):
            # commit a partial batch of (key, n) counts
            rows = [(rng.randint(0, 4), rng.randint(1, 5)) for _ in range(rng.randint(1, 8))]
            for k, n in rows:
                truth[k] = truth.get(k, 0) + n
            (
                spark.createDataFrame(rows, "key INT, n BIGINT")
                .groupBy("key").agg(F.sum("n").alias("n"))
                .withColumn("batch_id", F.lit(bid))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(root)
            )
            bid += 1
            action = rng.random()
            if action < 0.4:
                C.compact_state(spark, root, ["key"], "n")
            if action < 0.2:
                C.gc_state(spark, root)
            got = {
                r["key"]: r["n"]
                for r in C.served_state(spark, root, ["key"], "n").collect()
            }
            assert got == truth, f"trial {trial} after batch {bid}: {got} != {truth}"


def test_compaction_fold_bounded_to_listed_batches(spark, tmp_path, monkeypatch):
    """ADVICE r6 (medium): a batch committed BETWEEN compact_state's
    partial listing and the fold's execution must not be folded into
    the base (folded_through wouldn't cover it, so every later
    served_state would add it again — a permanent double count).
    Simulated deterministically by patching _partial_ids to return a
    stale listing while the directory really holds one more batch."""
    from mle_proj_datapipeline_spark.streaming import compaction as C

    root = str(tmp_path / "parts")

    def commit(bid: int, rows):
        (
            spark.createDataFrame(rows, "key INT, n BIGINT")
            .withColumn("batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(root)
        )

    commit(0, [(1, 10)])
    commit(1, [(1, 5)])
    # Batch 2 lands "concurrently": visible to Spark's scan at fold
    # execution time, but NOT in the listing compact_state acted on.
    real_ids = C._partial_ids(spark, root)
    commit(2, [(1, 7)])
    monkeypatch.setattr(C, "_partial_ids", lambda _s, _d: real_ids)
    assert C.compact_state(spark, root, ["key"], "n") >= 0
    monkeypatch.undo()

    served = {r["key"]: r["n"] for r in C.served_state(spark, root, ["key"], "n").collect()}
    assert served == {1: 22}, f"late batch double-counted or lost: {served}"
    # And after folding batch 2 too, still exactly once.
    C.compact_state(spark, root, ["key"], "n")
    served = {r["key"]: r["n"] for r in C.served_state(spark, root, ["key"], "n").collect()}
    assert served == {1: 22}
