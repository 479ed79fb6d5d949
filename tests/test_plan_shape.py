"""Physical-plan regression tests: the scale properties the engine
promises (SURVEY.md §4) must be visible in the executed plan, not just
asserted in docstrings.

These guard against silent regressions that correctness tests cannot see:
a dropped broadcast hint (sort-merge join of a 25-row dim), a widened
read schema (full-width 100 TB scan for a 4-column query), a
candidate-join rewrite that degenerates into a nested-loop cross join.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = entrymod.queries()[name](spark, SF_ORACLE)
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def read_schema_widths(plan: str) -> list[int]:
    """Column counts of every parquet ReadSchema in the plan."""
    widths = []
    for line in plan.splitlines():
        if line.startswith("ReadSchema:"):
            widths.append(line.count(":"))  # struct<a:t,b:t,...> → fields+1
    return widths


def test_dim_joins_broadcast(spark):
    """nation/region/supplier dims must broadcast — a shuffle join of a
    25-row table against lineitem is the canonical 100 TB mistake."""
    for q in ["nation_revenue", "revenue_rollup", "top_supplier_per_nation_week"]:
        plan = plan_of(spark, q)
        assert "BroadcastHashJoin" in plan, f"{q}: no broadcast join\n{plan}"
        assert "SortMergeJoin" not in plan, f"{q}: dim join fell back to SMJ\n{plan}"


def test_no_nested_loop_in_candidate_joins(spark):
    """Every pair-generation join (LSH bands, simhash blocks, plane
    buckets, jaccard blocks) must be an equi-join, never a cross/NL join."""
    for q in [
        "minhash_lsh_neardups",
        "simhash_neardups",
        "ngram_jaccard_neardups",
        "embedding_cosine_neardups",
        "ann_lsh_top1",
        "ann_ivf_topk",
    ]:
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, f"{q}: cartesian product\n{plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{q}: BNLJ\n{plan}"


def test_brute_force_broadcasts_queries(spark):
    """ann_cosine_topk: the small query side must broadcast (candidate
    set never shuffles); the only allowed non-equi join is this one."""
    plan = plan_of(spark, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_column_pruning_reaches_scan(spark):
    """pricing_summary touches 7 of lineitem's 16 columns — the scan
    must read only those (column pruning through agg + projection)."""
    plan = plan_of(spark, "pricing_summary")
    widths = read_schema_widths(plan)
    assert widths and max(widths) <= 8, f"scan not pruned: {widths}\n{plan}"


def test_filter_pushdown_reaches_scan(spark):
    """ann_cosine_topk's vec_id < 50 must appear in PushedFilters."""
    plan = plan_of(spark, "ann_cosine_topk")
    assert "PushedFilters:" in plan
    pushed = [ln for ln in plan.splitlines() if ln.startswith("PushedFilters:")]
    assert any("LessThan(vec_id,50)" in ln for ln in pushed), "\n".join(pushed)


def test_aggregations_stay_in_codegen(spark):
    """Headline aggregations must run inside whole-stage codegen. AQE
    defers codegen until execution, so inspect the static plan (AQE off
    only for this explain — it changes nothing about codegen eligibility)."""
    for q in ["pricing_summary", "segment_order_stats", "doc_token_stats"]:
        # Build first (query wrappers re-enable AQE), then explain with
        # AQE off so the static plan materializes its codegen stages.
        df = entrymod.queries()[q](spark, SF_ORACLE)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "codegen"
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert "WholeStageCodegen subtrees" in plan and "Found 0" not in plan, (
            f"{q}: no WholeStageCodegen span\n{plan[:2000]}"
        )


def test_semi_join_for_in_subquery(spark):
    """recent_week_event_stats: IN (subquery) shape must plan as a
    broadcast left-semi join, not a shuffle."""
    plan = plan_of(spark, "recent_week_event_stats")
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin LeftSemi" in plan or "BroadcastExchange" in plan, plan


@pytest.mark.parametrize("q", ["pricing_summary", "nation_revenue"])
def test_partial_aggregation_before_shuffle(spark, q):
    """Map-side combine: a HashAggregate must appear below the Exchange
    (partial) and above it (final) — one full-data shuffle, pre-reduced."""
    plan = plan_of(spark, q, mode="simple")
    first_agg = plan.find("HashAggregate")
    exchange = plan.find("Exchange", first_agg)
    second_agg = plan.find("HashAggregate", exchange)
    assert -1 not in (first_agg, exchange, second_agg), plan


def test_canonical_corpus_antijoin_broadcasts(spark):
    """dedup_canonical_corpus: the dropped-id set must broadcast into the
    anti-join — the corpus itself never shuffles for the final filter."""
    plan = plan_of(spark, "dedup_canonical_corpus")
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan
    ), f"anti-join not broadcast\n{plan}"
    assert "CartesianProduct" not in plan


def test_spine_and_interval_join_shapes(spark):
    """Calendar spine and interval join must not degenerate: the spine's
    bounds row feeds explode (no cartesian against facts); the interval
    join is an equi-join on user_id with the range as a post-filter."""
    for q in ["weekly_revenue_spine", "purchase_click_window_pairs"]:
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, f"{q}: cartesian\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan_of(spark, "purchase_click_window_pairs")


def test_grouping_sets_single_expand(spark):
    """ROLLUP/CUBE/GROUPING SETS ride ONE Expand + one aggregation, not a
    union of per-set aggregations."""
    for q in ["revenue_rollup", "order_priority_cube", "priority_grouping_sets"]:
        plan = plan_of(spark, q)
        assert plan.count("Expand") >= 1, f"{q}: no Expand\n{plan}"
        assert "Union" not in plan, f"{q}: planned as self-union\n{plan}"


def test_new_corpus_ops_plan_shapes(spark):
    """Round-2 operators keep their promised shapes: packing and
    repetition are pure equi-shuffle plans (no joins at all beyond the
    scan), pii scrub is narrow map work with a pruned scan, and the
    banded ANN rerank stays equi-join only."""
    # pii_scrub_stats: no exchange at all — narrow map work end to end.
    plan = plan_of(spark, "pii_scrub_stats")
    assert "Exchange" not in plan, f"pii scrub should not shuffle\n{plan}"
    widths = read_schema_widths(plan)
    assert widths and max(widths) <= 3, f"scan not pruned: {widths}"

    # doc_repetition_quality: both aggregations partial before shuffle.
    simple = plan_of(spark, "doc_repetition_quality", mode="simple")
    first_agg = simple.find("HashAggregate")
    exchange = simple.find("Exchange", first_agg)
    second_agg = simple.find("HashAggregate", exchange)
    assert -1 not in (first_agg, exchange, second_agg), simple

    # context_window_packing: window + agg, no join operators.
    plan = plan_of(spark, "context_window_packing")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"):
        assert bad not in plan, f"packing grew a {bad}\n{plan}"

    # production_model / image_meta_extract: no cartesian anywhere.
    for q in ["production_model", "image_meta_extract"]:
        assert "CartesianProduct" not in plan_of(spark, q), q


def test_shipping_priority_shape(spark):
    """TPC-H Q3 shape: the segment-filtered customer side must broadcast,
    the top-10 must be a TakeOrdered (no global sort), and both date
    filters must reach the scans."""
    plan = plan_of(spark, "shipping_priority")
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    pushed = [ln for ln in plan.splitlines() if ln.startswith("PushedFilters:")]
    assert any("o_orderdate" in ln for ln in pushed), "\n".join(pushed)
    assert any("l_shipdate" in ln for ln in pushed), "\n".join(pushed)


def test_kmeans_and_decon_plan_shapes(spark):
    """The round-2 heavy hitters keep equi-join-only plans: k-means
    assignment joins on dim, decontamination on shingle, centroids on
    dim with the 64-row global side broadcast."""
    for q in ["kmeans_embedding_cells", "benchmark_decontamination", "label_embedding_centroids"]:
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, f"{q}\n{plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{q}\n{plan}"
    assert "BroadcastHashJoin" in plan_of(spark, "label_embedding_centroids")


def test_kmeans_assign_is_joinless_map_work(spark):
    """The k-means assign stage compiles the driver-held codebook into a
    closed-form nearest-cell expression (MLlib's design): the quantizer
    query's final plan must contain NO join of any kind — assignment is
    scan → project → aggregate. A join on dim index (only `dim` distinct
    keys, k× row replication) is the regression this guards against."""
    plan = plan_of(spark, "kmeans_embedding_cells")
    for op in ["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "CartesianProduct"]:
        assert op not in plan, f"kmeans_embedding_cells: unexpected {op}\n{plan}"

    # Semantic dedup rides the same assignment: scan → project →
    # min_by aggregate (SortAggregate — struct-ordered min_by has no
    # codegen path, but partial agg still runs map-side), no join of
    # any kind.
    plan = plan_of(spark, "semantic_dedup_medoids")
    for op in ["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "CartesianProduct"]:
        assert op not in plan, f"semantic_dedup_medoids: unexpected {op}\n{plan}"
    assert "partial_min_by" in plan, f"map-side partial agg missing\n{plan}"

    # Trained IVF: the only joins are the broadcast probe/rerank joins.
    plan = plan_of(spark, "ann_ivf_trained_topk")
    assert "BroadcastHashJoin" in plan, f"probe join not broadcast\n{plan}"
    assert "SortMergeJoin" not in plan, f"shuffle join in trained IVF\n{plan}"
    assert "CartesianProduct" not in plan, plan


def test_ivf_trained_no_cartesian(spark):
    plan = plan_of(spark, "ann_ivf_trained_topk")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_shapes_no_cartesian(spark):
    """Q4..Q22-shaped queries: no cartesian products anywhere; the only
    BroadcastNestedLoopJoin allowed is a 1-row broadcast scalar join
    (Q11/Q15/Q22 threshold joins)."""
    scalar_bnlj_ok = {
        "part_value_concentration",
        "top_quarter_supplier",
        "idle_customer_balance",
        "excess_volume_suppliers",
    }
    for q in [
        "priority_delivery_check",
        "nation_trade_volume",
        "nation_market_share",
        "part_profit_by_nation",
        "returned_item_customers",
        "part_value_concentration",
        "promo_revenue_share",
        "top_quarter_supplier",
        "brand_small_quantity_revenue",
        "disjunctive_brand_revenue",
        "late_shipping_suppliers",
        "idle_customer_balance",
        "min_cost_supplier_per_part",
        "local_supplier_volume",
        "returnflag_priority_counts",
        "customer_order_distribution",
        "part_supplier_variety",
        "excess_volume_suppliers",
    ]:
        plan = plan_of(spark, q)
        assert "CartesianProduct" not in plan, f"{q}\n{plan}"
        if q not in scalar_bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, f"{q}\n{plan}"


def test_tpch_dim_joins_broadcast(spark):
    """The nation/supplier dim sides of the Q7/Q8/Q9/Q10 shapes must
    broadcast; Q4's EXISTS must plan as a semi join, not a subquery."""
    for q in [
        "nation_trade_volume",
        "nation_market_share",
        "part_profit_by_nation",
        "returned_item_customers",
        "late_shipping_suppliers",
        "min_cost_supplier_per_part",
        "local_supplier_volume",
        "part_supplier_variety",
        "excess_volume_suppliers",
    ]:
        assert "BroadcastHashJoin" in plan_of(spark, q), q
    assert "LeftSemi" in plan_of(spark, "priority_delivery_check")
    assert "LeftAnti" in plan_of(spark, "part_supplier_variety")


def test_q10_take_ordered_and_pushdown(spark):
    """Q10 shape: top-20 plans as TakeOrderedAndProject; the returnflag
    and orderdate filters reach the parquet scans."""
    plan = plan_of(spark, "returned_item_customers")
    assert "TakeOrderedAndProject" in plan, plan
    pushed = [ln for ln in plan.splitlines() if ln.startswith("PushedFilters:")]
    assert any("l_returnflag" in ln for ln in pushed), "\n".join(pushed)
    assert any("o_orderdate" in ln for ln in pushed), "\n".join(pushed)


def test_corpus_build_single_scan(spark):
    """The capstone pipeline (filter → quality → dedup → chunk → agg)
    must stay ONE fused lineage: exactly one scan of documents, pruned
    to the 4 needed columns, with the lang filter pushed down — the
    whole point vs the reference's four materialized intermediates."""
    import re

    plan = plan_of(spark, "corpus_build_pipeline")
    # formatted explain lists each operator twice (tree + detail); count
    # detail headers only.
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 1, f"expected 1 documents scan, found {n_scans}\n{plan}"
    widths = read_schema_widths(plan)  # fields+1 per the helper
    assert widths and max(widths) <= 5, f"unpruned read schema {widths}\n{plan}"
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters:")[1].split("]")[0], (
        f"lang filter not pushed to scan\n{plan}"
    )


def test_weekly_psi_drift_single_scan(spark):
    """weekly_psi_drift scans orders exactly ONCE (VERDICT r4 item 4 —
    the old shape fed five subtrees from the same projection = five
    scans): the (wk, v) projection materializes via localCheckpoint at
    build time, so the FINAL plan must contain NO parquet scan at all —
    every consumer reads the checkpointed blocks."""
    import re

    plan = plan_of(spark, "weekly_psi_drift")
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 0, f"expected 0 parquet scans in final plan, found {n_scans}\n{plan}"


def test_no_cartesian_product_in_any_registered_query(spark):
    """Blanket guard over the ENTIRE registry: no query may plan a
    CartesianProduct, ever — the per-family guards above catch specific
    regressions, this catches the next query someone registers with an
    accidental unconstrained join."""
    failures = []
    for name in sorted(entrymod.queries()):
        try:
            plan = plan_of(spark, name, mode="simple")
        except Exception as ex:  # pragma: no cover
            failures.append(f"{name}: explain failed: {ex}")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in plan")
    assert not failures, "\n".join(failures)


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Runtime bloom-filter join pruning (Spark's runtime filter
    optimizer) must inject a might_contain filter on the big (probe)
    side when the build side carries a selective filter and the probe
    side is a shuffle join. Locally the 10 GiB application-side gate
    suppresses it — the whole point is 100 TB behavior — so the test
    lowers the gate to 0 and pins the optimizer contract; at cluster
    scale the default gate passes and the same plan appears untouched."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        sel = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
        j = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy()
            .agg(F.sum("l_extendedprice"))
        )
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple"
        )
        assert "might_contain" in plan.lower() or "bloomfilter" in plan.lower(), plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _hash_exchanges(plan: str) -> int:
    """Shuffle-exchange operator count in a formatted plan (broadcast
    exchanges print as BroadcastExchange and are excluded)."""
    import re

    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_map_only_queries_have_no_shuffle(spark):
    """pps_orders_sample and embedding_int8_quantize are declared
    map-only (pure filter / pure array HOFs): any Exchange in their
    plans is a regression."""
    for q in ["pps_orders_sample", "embedding_int8_quantize"]:
        plan = plan_of(spark, q)
        assert "Exchange" not in plan, f"{q}: unexpected shuffle\n{plan}"


def test_uniform_k_sample_is_take_ordered(spark):
    """ORDER BY hash LIMIT k must plan as TakeOrderedAndProject
    (per-partition top-k), never a global Sort."""
    plan = plan_of(spark, "uniform_k_sample")
    assert "TakeOrderedAndProject" in plan, plan


def test_single_exchange_window_agg_queries(spark):
    """mad_outlier_stats: the two window medians and the final groupBy
    all ride ONE hash exchange on n_name (the nation dim arrives by
    broadcast, which is not a shuffle)."""
    plan = plan_of(spark, "mad_outlier_stats")
    shuffles = _hash_exchanges(plan)
    assert shuffles == 1, f"expected 1 hash exchange, saw {shuffles}\n{plan}"


def test_target_encode_no_row_shuffle(spark):
    """target_encode_priority: category stats and the prior must attach
    by BROADCAST join — the row stream itself never shuffles (a window
    over a 5-value category would concentrate rows into <=5 partitions;
    an unpartitioned prior window into ONE). Since r12 the prior rides a
    whole-frame window over the <=5-row category-stats frame (broadcast
    side), so a Window IS allowed there — but never over the row stream
    (its input must not carry o_orderkey)."""
    import re

    plan = plan_of(spark, "target_encode_priority")
    assert "BroadcastHashJoin" in plan, plan
    # the only hash exchanges allowed are the tiny category aggregations
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "o_orderkey" not in line, f"row stream shuffled:\n{plan}"
    # an unpartitioned window over the row stream would plan an
    # Exchange SinglePartition — never acceptable on row-stream
    # cardinality (ADVICE r12: the o_orderkey grep alone is blind to a
    # projected/renamed row stream)
    assert "Exchange SinglePartition" not in plan, plan
    # any Window node must consume the category frame, not order rows —
    # and the r12 plan is EXPECTED to carry the prior's whole-frame
    # window, so an empty scan here means the block parse went vacuous
    # (ADVICE r12), not that the plan got leaner.
    windows = [
        b for b in re.split(r"\n\(\d+\) ", plan) if b.startswith("Window")
    ]
    assert windows, f"expected the prior's Window block, parse vacuous?\n{plan}"
    for block in windows:
        assert "o_orderkey" not in block, f"window over row stream:\n{plan}"


def test_feature_hashing_single_aggregation_shuffle(spark):
    """feature_hashing_doc_vectors: no vocabulary join — exactly one
    hash exchange (the (doc,bucket) aggregation), no Join operator."""
    plan = plan_of(spark, "feature_hashing_doc_vectors")
    assert "Join" not in plan, plan
    shuffles = _hash_exchanges(plan)
    assert shuffles == 1, f"expected 1 hash exchange, saw {shuffles}\n{plan}"


def test_pagerank_iterations_broadcast_not_sortmerge(spark):
    """The stats-loss gate (round 6): on a small graph every iteration
    join (edges x ranks, nodes x contribs, edges x deg) must be a
    BroadcastHashJoin — checkpointed frames carry no size stats, so
    without the explicit hint Catalyst sort-merge-reshuffles the edge
    list every round. The identity checkpointer keeps the full
    iteration lineage visible for the assertion; forcing the gate off
    (broadcast_nodes_max=0) must produce identical ranks through plain
    shuffle joins."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(a, b) for a, b in [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)]],
        "src LONG, dst LONG",
    )
    r = pagerank(edges, iterations=2, validate=False, checkpointer=lambda df: df)
    plan = r._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5  # deg + 2x(ranks, contribs)

    got = {row["node"]: round(row["r"], 9) for row in r.collect()}
    forced = pagerank(edges, iterations=2, validate=False, broadcast_nodes_max=0)
    assert {row["node"]: round(row["r"], 9) for row in forced.collect()} == got


def test_decontamination_single_shingle_pass(spark):
    """benchmark_decontamination materializes its capped shingle
    relation once (round 6 — the un-materialized form ran the explode +
    DF-cap window three times, 0 ReusedExchange): the train/bench/sizes
    consumers must all read checkpointed blocks, so the final plan
    carries NO documents scan and NO window operator."""
    import re

    plan = plan_of(spark, "benchmark_decontamination")
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 0, f"expected 0 parquet scans, found {n_scans}"
    assert "Window" not in plan


def test_bigram_lm_single_tokenize_pass(spark):
    """bigram_lm_doc_scores materializes the bigram stream AND the
    unigram count table once (round 6): every consumer reads
    checkpointed blocks, so the final plan carries no Generate (both
    explodes ran at build time) and no parquet scan."""
    import re

    plan = plan_of(spark, "bigram_lm_doc_scores")
    gens = len(re.findall(r"^\(\d+\) Generate", plan, re.M))
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert gens == 0, f"expected 0 Generate, found {gens}\n{plan}"
    assert n_scans == 0, f"expected 0 parquet scans, found {n_scans}"


def test_feature_store_build_plan_shape(spark):
    """The medallion composite must keep its scale contract: nation dim
    and the 1-row global-mean frame broadcast (never SMJ'd against the
    customer spine), partial aggregation precedes both silver roll-up
    shuffles, and no cartesian product sneaks in via the scalar cross
    join."""
    plan = plan_of(spark, "feature_store_build")
    assert "BroadcastHashJoin" in plan, f"dims not broadcast\n{plan}"
    assert "CartesianProduct" not in plan, f"cartesian product\n{plan}"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        f"1-row global mean not broadcast\n{plan}"
    )
    # both silver aggregates partial-aggregate before their shuffle
    assert plan.count("HashAggregate") >= 4, f"missing partial aggs\n{plan}"


def test_hotfix_anti_join_pushes_date_and_prunes(spark):
    """customers_without_orders (plans/relational.py, folded back from
    the round-8 overlay): the date bound must reach the orders scan as a
    pushed filter — at 100 TB the predicate prunes the anti-join's build
    side before the shuffle — and the orders ReadSchema must stay at the
    two needed columns."""
    plan = plan_of(spark, "customers_without_orders")
    pushed = [ln for ln in plan.splitlines() if ln.startswith("PushedFilters:")]
    assert any("o_orderdate" in ln for ln in pushed), plan
    assert "LeftAnti" in plan, plan
    # orders side reads only o_custkey + o_orderdate (2 fields -> 3 colons)
    assert min(read_schema_widths(plan)) <= 3, plan


def test_approx_cardinalities_no_expand(spark):
    """approx_order_cardinalities (r11 rewrite): the three exact
    countDistinct twins must run as SEPARATE single-distinct-set
    aggregates broadcast-joined back — co-aggregating them triggers
    Catalyst's RewriteDistinctAggregates Expand (×4 row replication of
    the orders scan plus a shuffle per distinct set; 34–48 s at sf1 in
    the round-10 census). The sketch pass itself is Expand-free."""
    plan = plan_of(spark, "approx_order_cardinalities")
    assert "Expand" not in plan, f"distinct-aggregate Expand is back\n{plan}"
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastExchange") >= 3, (
        f"exact twins must broadcast back onto the sketch row\n{plan}"
    )


def test_golden_records_no_block_self_join(spark):
    """customer_golden_records (r12 rebuild): candidates must come from
    SymSpell deletion-variant BUCKETS — content-keyed, ONE groupBy
    shuffle + in-bucket HOF pair expansion — not a (nation,
    name-length) block self-join (Θ(Σ block²): 499 s on 60k-entity
    blocks at the round-10 sf1 census) and not the r11 variant
    self-join (double generation + output-independent constant:
    139.6 s on the sparse falsification set, FALSIFY_r12.json). The
    CC stage localCheckpoints, so the final plan starts from
    ExistingRDD scans; the candidate stage is gated on the symspell
    operator's own plan (exactly what the query feeds into CC):
    Generate(explode) of the deletion array into a collect_list
    aggregate, with an equi-join present only as the oversize-bucket
    fallback arm."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.operators.symspell import symspell_pairs

    c = spark.read.parquet(f"{SF_ORACLE}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey", F.length("c_name").alias("ln")
    )
    pairs = symspell_pairs(c, "c_custkey", "c_name", block_cols=("c_nationkey", "ln"))
    pplan = pairs._sc._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted"
    )
    assert "Generate" in pplan, f"deletion-variant explode missing\n{pplan}"
    assert "CartesianProduct" not in pplan, pplan
    assert "BroadcastNestedLoopJoin" not in pplan, pplan
    # primary path: ONE shuffle — collect_list bucket aggregate
    # (ObjectHashAggregate) feeding the C(k,2) HOF expansion
    assert "collect_list" in pplan, f"bucket aggregate missing\n{pplan}"
    # fallback arm for oversize buckets stays a keyed hash join, never
    # a nested loop (gated above)
    assert any(
        j in pplan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), pplan
    # and the final composed query stays cartesian-free
    plan = plan_of(spark, "customer_golden_records")
    assert "CartesianProduct" not in plan, plan


def test_pagerank_symmetric_arm_identical_and_leaner(spark, monkeypatch):
    """r12 optimization: on a symmetric edge list (both orientations
    present) the per-round teleport left-join back onto the node frame
    is an identity, so ``symmetric=True`` drops it — ranks must be
    bit-identical to the default arm, and the full iteration plan (via
    the identity checkpointer) must carry exactly one join per round
    (edges x ranks) plus the one-time degree join, with no left joins
    at all. The driver arm's gate is set to 0 so the distributed
    rounds run."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.operators import cc_local
    from mle_proj_datapipeline_spark.operators.graph import pagerank

    monkeypatch.setattr(cc_local, "PAGERANK_DRIVER_MAX_EDGES", 0)

    # symmetric 4-node graph with unequal degrees (star + chord)
    und = [(1, 2), (1, 3), (1, 4), (2, 3)]
    both = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(both, "src LONG, dst LONG")

    base = {
        r["node"]: r["r"]
        for r in pagerank(edges, iterations=3, validate=False).collect()
    }
    sym = pagerank(
        edges, iterations=3, validate=False, symmetric=True,
        checkpointer=lambda df: df,
    )
    assert {r["node"]: r["r"] for r in sym.collect()} == base

    # Plan inspection on a FRESH (un-executed) build: the INITIAL
    # adaptive plan prints the whole 3-round lineage, whereas after
    # execution AQE elides materialized stages and hides earlier
    # rounds' joins.
    sym_p = pagerank(
        edges, iterations=3, validate=False, symmetric=True,
        checkpointer=lambda df: df,
    )
    plan = sym_p._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    # the teleport left-join is gone entirely...
    assert "LeftOuter" not in plan
    # ...and (r13) so is the pre-loop degree join onto the edges — deg
    # rides the rank frame, so the unrolled plan carries EXACTLY one
    # join per round (edges x broadcast ranks) and nothing else.
    assert plan.count("BroadcastHashJoin") == 3, plan
    ref = pagerank(
        edges, iterations=3, validate=False, checkpointer=lambda df: df
    )
    ref_plan = ref._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in ref_plan  # the join the symmetric arm removes
    assert plan.count("BroadcastHashJoin") < ref_plan.count("BroadcastHashJoin")

    # assume_distinct: result-identical when the input IS distinct
    nodup = pagerank(
        edges, iterations=3, validate=False, symmetric=True,
        assume_distinct=True,
    )
    assert {r["node"]: r["r"] for r in nodup.collect()} == base
