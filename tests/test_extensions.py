"""Extension-operator tests beyond the oracle gate: approximate
distinct counts (HLL++ — not oracle-gated since sketches differ across
engines) and hash-sampling properties."""

from __future__ import annotations

import pyspark.sql.functions as F

from mle_proj_datapipeline_spark.sources.catalog import load_table
from tests.conftest import SF_ORACLE


def test_approx_count_distinct_within_rsd(spark):
    """HLL++ estimate within 3x the default rsd (5%) of the exact count
    — the 100 TB stand-in for the exact distinct in order_cardinalities."""
    o = load_table(spark, SF_ORACLE, "orders")
    row = o.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey").alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.15


def test_hash_sample_is_stable_under_repartition(spark):
    """Content-hash sampling must select the same rows regardless of
    physical layout (the property seeded df.sample lacks)."""
    from mle_proj_datapipeline_spark.plans.matching_queries import orders_hash_sample

    a = {r["o_orderkey"] for r in orders_hash_sample(spark, SF_ORACLE).collect()}
    o = load_table(spark, SF_ORACLE, "orders").repartition(7)
    from mle_proj_datapipeline_spark.operators.hashing import h31
    from mle_proj_datapipeline_spark.plans.matching_queries import _RATES

    rate = F.lit(0)
    for k, v in _RATES.items():
        rate = F.when(F.col("o_orderpriority") == k, F.lit(v)).otherwise(rate)
    b = {
        r["o_orderkey"]
        for r in o.filter(h31(F.col("o_orderkey").cast("string")) % 100 < rate)
        .select("o_orderkey")
        .collect()
    }
    assert a == b and len(a) > 0


def test_connected_components_chain_and_islands(spark):
    """Connected components must produce the transitive closure: a
    4-node chain collapses to one component even though no pair spans
    it, and disjoint islands keep distinct ids."""
    from mle_proj_datapipeline_spark.operators.cc import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    got = {(r["node"], r["comp"]) for r in connected_components(pairs).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


def test_percentile_approx_error_bound(spark):
    """The documented 100 TB percentile path (percentile_approx) must
    land within its accuracy contract of the exact quantiles the oracle
    verifies: with accuracy A, rank error <= n/A."""
    o = load_table(spark, SF_ORACLE, "customer")
    n = o.count()
    accuracy = 1000
    exact, approx = (
        o.agg(
            F.expr(f"percentile(c_acctbal, array(0.25, 0.5, 0.75))").alias("q")
        ).first()["q"],
        o.agg(
            F.expr(
                f"percentile_approx(c_acctbal, array(0.25, 0.5, 0.75), {accuracy})"
            ).alias("q")
        ).first()["q"],
    )
    vals = sorted(r["c_acctbal"] for r in o.select("c_acctbal").collect())
    max_rank_err = max(2, (2 * n) // accuracy)
    for e, a in zip(exact, approx):
        import bisect

        re_, ra = bisect.bisect_left(vals, e), bisect.bisect_left(vals, a)
        assert abs(re_ - ra) <= max_rank_err, f"rank error {abs(re_ - ra)} > {max_rank_err}"


def test_packing_conserves_tokens_and_pack_ids(spark):
    """context_window_packing invariants: token totals are conserved
    (no doc dropped or double-packed) and pack ids are dense from 0
    per source."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.plans.llm_corpus_queries import context_window_packing
    from mle_proj_datapipeline_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    packs = context_window_packing(spark, sf).cache()
    docs = load_table(spark, sf, "documents")

    total_tokens = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0]["t"]
    assert packs.agg(F.sum("total_tokens")).collect()[0][0] == total_tokens
    assert packs.agg(F.sum("n_docs")).collect()[0][0] == docs.count()

    for r in packs.groupBy("source").agg(
        F.min("pack_id").alias("lo"),
        F.max("pack_id").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect():
        assert r["lo"] == 0 and r["n"] == r["hi"] + 1  # dense 0..hi


def test_decontamination_flags_only_real_overlap(spark):
    """Containment is in (0, 1]; a pure containment (benchmark doc
    cloned into train) must be flagged at 1.0."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.plans.llm_corpus_queries import benchmark_decontamination

    rows = benchmark_decontamination(spark, "/root/testdata/sf0.01").collect()
    assert all(0 < r["containment"] <= 1.0 for r in rows)
    assert all(r["bench_id"] % 50 == 0 and r["train_id"] % 50 != 0 for r in rows)


def test_approx_cardinalities_within_rsd(spark):
    """The sketch query's contract: exact columns equal the exact twin,
    and the in-query HLL bounds flag holds (the raw estimates are also
    re-derived here and checked at ~3x rsd directly)."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.plans.rollup_queries import (
        approx_order_cardinalities,
        order_cardinalities,
    )
    from mle_proj_datapipeline_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    exact = order_cardinalities(spark, sf).collect()[0]
    got = approx_order_cardinalities(spark, sf).collect()[0]
    for col in ["n_customers", "n_priorities", "n_months", "n_orders"]:
        assert got[col] == exact[col], f"{col}: {got[col]} vs exact {exact[col]}"
    assert got["hll_within_bounds"] is True
    # Raw estimate error bound, independent of the query's 5% flag.
    est = (
        load_table(spark, sf, "orders")
        .agg(F.approx_count_distinct("o_custkey", rsd=0.01).alias("e"))
        .collect()[0]["e"]
    )
    assert abs(est - exact["n_customers"]) / exact["n_customers"] <= 0.03


def test_quality_keep_agrees_with_repetition_query(spark):
    """Two independent implementations of the Gopher rules — the
    explode+groupBy batch query and an expression-only per-doc variant
    (array_distinct for the distinct count, one fold for the top count)
    — must produce identical ttr/top_ratio/keep per doc."""
    from mle_proj_datapipeline_spark.plans.llm_text_queries import doc_repetition_quality

    toks = F.split(F.col("text"), " ")
    total = F.size(toks)
    top = F.expr(
        "aggregate(array_distinct(split(text, ' ')), 0, (acc, t) -> "
        "greatest(acc, size(filter(split(text, ' '), x -> x = t))))"
    )
    ttr = F.size(F.array_distinct(toks)).cast("double") / total
    top_ratio = top.cast("double") / total
    expr_only = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id",
        F.round(ttr, 4).alias("ttr"),
        F.round(top_ratio, 4).alias("top_ratio"),
        ((ttr >= 0.3) & (top_ratio <= 0.2)).alias("keep"),
    )
    batch = {
        r["doc_id"]: (r["ttr"], r["top_ratio"], r["keep"])
        for r in doc_repetition_quality(spark, SF_ORACLE).collect()
    }
    stream_style = {
        r["doc_id"]: (r["ttr"], r["top_ratio"], 1 if r["keep"] else 0)
        for r in expr_only.collect()
    }
    assert stream_style == batch


def test_covariance_gramian_matches_explode_and_dispatch(spark):
    """The two physical covariance strategies (d² JVM explode vs
    per-partition NumPy Gramian over mapInPandas) must produce the same
    matrix on the same data, and the auto dispatch must select the
    Gramian arm above GRAMIAN_DIM_THRESHOLD (VERDICT r5 item 4)."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.operators.linalg import (
        GRAMIAN_DIM_THRESHOLD,
        covariance,
    )
    from mle_proj_datapipeline_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").repartition(5)
    a = {
        (r["i"], r["j"]): r["c"]
        for r in covariance(emb, "embedding", dim=64, method="explode").collect()
    }
    b = {
        (r["i"], r["j"]): r["c"]
        for r in covariance(emb, "embedding", dim=64, method="gramian").collect()
    }
    assert set(a) == set(b) and len(a) == 64 * 64
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)
    # symmetry of the mirrored Gramian output
    assert all(abs(b[(i, j)] - b[(j, i)]) < 1e-15 for (i, j) in b)

    # upper_only halves the frame and matches the full matrix
    up = {
        (r["i"], r["j"]): r["c"]
        for r in covariance(
            emb, "embedding", dim=64, method="gramian", upper_only=True
        ).collect()
    }
    assert set(up) == {k for k in b if k[0] <= k[1]}

    # dispatch: above the threshold the plan crosses the Arrow boundary
    big_d = GRAMIAN_DIM_THRESHOLD + 1
    fake = spark.range(20).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(big_d)),
            lambda i: (F.col("id") + i).cast("double") % 7,
        ).alias("v")
    )
    auto_plan = covariance(fake, "v", dim=big_d)._jdf.queryExecution().analyzed().toString()
    assert "MapInPandas" in auto_plan
    small_plan = covariance(fake, "v", dim=64)._jdf.queryExecution().analyzed().toString()
    assert "MapInPandas" not in small_plan and "Generate" in small_plan


def test_cooccurrence_edge_snapshot_builds_once_per_fingerprint(
    spark, tmp_path_factory, monkeypatch
):
    """The graph family's shared edge store (VERDICT r6 item 3) must
    build the capped pair fan-out ONCE per (lineitem fingerprint, cap):
    a second call reads the committed snapshot without re-pairing, the
    three family queries agree with the inline build, and a changed
    fingerprint triggers exactly one rebuild."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.operators import graph as G
    from mle_proj_datapipeline_spark.plans import graph_queries as GQ

    wh = str(tmp_path_factory.mktemp("edges_wh"))
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", wh)
    sf = "/root/testdata/sf0.001"

    calls = []
    real = G.cooccurrence_pairs

    def counting(*a, **k):
        calls.append(a)
        return real(*a, **k)

    monkeypatch.setattr(GQ, "cooccurrence_pairs", counting)

    e1 = GQ.ensure_cooccurrence_edges(spark, sf, "l_suppkey", "cooccur_supp")
    assert len(calls) == 1
    e2 = GQ.ensure_cooccurrence_edges(spark, sf, "l_suppkey", "cooccur_supp")
    assert len(calls) == 1  # pure serve, no re-pairing

    # snapshot relation == inline build (weighted, symmetric)
    from mle_proj_datapipeline_spark.sources.catalog import load_table

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    want = sorted(
        (r["src"], r["dst"], r["w"])
        for r in real(li, "l_orderkey", "l_suppkey", directed=False)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    got = sorted((r["src"], r["dst"], r["w"]) for r in e2.collect())
    assert got == want and got

    # stale fingerprint -> exactly one rebuild
    import glob
    import json as _json
    import os

    snap_dir = glob.glob(os.path.join(wh, "cooccur_supp_*", "_snapshots", "*.json"))
    assert snap_dir
    for mp in snap_dir:
        with open(mp) as fh:
            m = _json.load(fh)
        m["meta"]["source"] = "stale"
        with open(mp, "w") as fh:
            _json.dump(m, fh)
        # drop the Hadoop LocalFS checksum sidecar — the out-of-band
        # edit above would otherwise read back as a ChecksumException
        crc = os.path.join(os.path.dirname(mp), f".{os.path.basename(mp)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    GQ.ensure_cooccurrence_edges(spark, sf, "l_suppkey", "cooccur_supp")
    assert len(calls) == 2


def test_pagerank_rank_snapshot_trains_once_and_serves_identical(
    spark, tmp_path_factory, monkeypatch
):
    """r13 (VERDICT r12 item 6): ``supplier_pagerank_served`` serves the
    committed RANK snapshot — the power iteration runs once per
    (corpus fingerprint, cap, iters, damping); a second invocation is a
    pure snapshot read (no retrain), and served values equal the
    build path's at the output grid."""
    from mle_proj_datapipeline_spark.operators import graph as G
    from mle_proj_datapipeline_spark.plans import graph_queries as GQ
    from mle_proj_datapipeline_spark.plans.registry import QUERIES

    wh = str(tmp_path_factory.mktemp("ranks_wh"))
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", wh)
    sf = "/root/testdata/sf0.001"

    calls = []
    real = G.pagerank

    def counting(*a, **k):
        calls.append(a)
        return real(*a, **k)

    monkeypatch.setattr(G, "pagerank", counting)

    GQ.ensure_pagerank_ranks(spark, sf)
    assert len(calls) == 1
    served = QUERIES["supplier_pagerank_served"](spark, sf)
    got = sorted((r["s_suppkey"], r["pr"]) for r in served.collect())
    assert len(calls) == 1  # steady state: no retrain, no iteration

    build = QUERIES["supplier_pagerank"](spark, sf)
    want = sorted((r["s_suppkey"], r["pr"]) for r in build.collect())
    assert got == want and got
