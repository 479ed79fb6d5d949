"""Matching, merge, and deterministic-sampling queries (SURVEY.md §2
E/J4 extensions): embedding-cosine near-dup (LSH-bucketed), blocked
edit-distance fuzzy pairs, bucketed range join, MERGE-INTO upsert,
content-hash stratified sampling, and the entity-resolution capstone
(blocked match → connected components → survivorship).

Split from plans/extension_queries.py (round 6) so the per-file
freshness clock tracks one family: an edit here stales only these
driver rows (the VERDICT r4 item-2 / r5 item-2 discipline).

Oracle SQL is generated from the same constants the Spark side uses
(H31 hash, hyperplanes) — see plans/llm_common.py for the convention.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.plans.registry import register
from mle_proj_datapipeline_spark.sources.catalog import load_table
from mle_proj_datapipeline_spark.operators import veclib as sim
from mle_proj_datapipeline_spark.plans.llm_common import _BUCKET, _COSINE, _h31
# --------------------------------------------------------------------------
# Dedup: embedding-cosine near-dup (LSH-bucketed candidates)
# --------------------------------------------------------------------------
@register(
    "embedding_cosine_neardups",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding, {_BUCKET} AS bucket FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64 AND list_bool_or([x <> 0 for x in embedding])) embeddings),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_COSINE}, 4) AS cosine
        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.2
    """,
)
def embedding_cosine_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs: hyperplane-LSH bucket join
    (one shuffle, no cross join) + exact double-precision cosine filter.
    The 100 TB semantic-dedup path: candidates only within a bucket, so
    work is Σ bucket² not N²."""
    emb = sim.valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    base = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        sim.plane_bucket(F.col("embedding")).alias("bucket"),
    )
    a = base.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), "bucket")
    b = base.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(sim.cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cosine") >= 0.2)
        .select("id_a", "id_b", "cosine")
    )

# --------------------------------------------------------------------------
# Sampling: deterministic stratified Bernoulli via content hash (J4/J5)
# --------------------------------------------------------------------------
_RATES = {"1-URGENT": 20, "2-HIGH": 20, "3-MEDIUM": 10, "4-NOT SPECIFIED": 5, "5-LOW": 5}


@register(
    "orders_hash_sample",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE {_h31('CAST(o_orderkey AS VARCHAR)')} % 100 < CASE o_orderpriority
        {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _RATES.items())}
        ELSE 0 END
    """,
)
def orders_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Bernoulli sample (sampleBy semantics, reference
    model_operations.py:79-85 / stratified split LightGBM_training_run.py:117)
    made deterministic: keep iff H31(key) mod 100 < rate(stratum).
    Content-hash sampling is reproducible across runs, engines, and
    cluster sizes — `df.sample(seed=)` is not (partition-dependent)."""
    o = load_table(spark, sf_dir, "orders")
    from mle_proj_datapipeline_spark.operators.hashing import h31

    rate = F.lit(0)
    for k, v in _RATES.items():
        rate = F.when(F.col("o_orderpriority") == k, F.lit(v)).otherwise(rate)
    keep = h31(F.col("o_orderkey").cast("string")) % 100 < rate
    return o.filter(keep).select("o_orderkey", "o_orderpriority")


# --------------------------------------------------------------------------
# Fuzzy matching: blocked edit-distance near-dup profile
# --------------------------------------------------------------------------
@register(
    "fuzzy_name_pairs",
    oracle="""
    WITH b AS (SELECT c_custkey, c_name, c_nationkey, length(c_name) AS ln FROM customer),
    pairs AS (
        SELECT x.c_nationkey AS nation_key,
               levenshtein(x.c_name, y.c_name) AS dist
        FROM b x JOIN b y
          ON x.c_nationkey = y.c_nationkey AND x.ln = y.ln
         AND x.c_custkey < y.c_custkey)
    SELECT nation_key, count(*) AS n_fuzzy_pairs, min(dist) AS min_dist
    FROM pairs WHERE dist <= 2
    GROUP BY nation_key
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate profile — the fuzzy sibling of the
    n-gram Jaccard dedup. Candidates come from SymSpell
    deletion-neighborhood blocking (operators/symspell.py, r12 rebuild:
    ONE groupBy shuffle on the hashed variant key + in-bucket pair
    expansion): buckets are keyed by string CONTENT (shared
    <=2-deletion variants), so bucket sizes track edit-neighborhood
    density instead of attribute frequency — the legacy (nation,
    name-length) key is Theta(sum block^2) and measured 60k-entity
    blocks at the round-10 sf1 census; the r11 variant self-join paid
    an output-independent constant the round-12 sparse-name probe
    exposed (139.6 s -> 13.3 s warm, FALSIFY_r12.json). The pair SET
    is unchanged (superset theorem + exact levenshtein verify; nation
    and name-length equality stay in the bucket key), so the oracle is
    untouched."""
    from mle_proj_datapipeline_spark.operators.symspell import symspell_pairs

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", F.length("c_name").alias("ln")
    )
    return (
        symspell_pairs(c, "c_custkey", "c_name", block_cols=("c_nationkey", "ln"))
        .select(F.col("c_nationkey").alias("nation_key"), "dist")
        .groupBy("nation_key")
        .agg(F.count(F.lit(1)).alias("n_fuzzy_pairs"), F.min("dist").alias("min_dist"))
    )


# --------------------------------------------------------------------------
# Range join (E-family extension) via bucketed equi-join
# --------------------------------------------------------------------------
@register(
    "suppliers_in_customer_band",
    oracle="""
    WITH band AS (
        SELECT c_nationkey AS nationkey,
               min(c_acctbal) AS lo, max(c_acctbal) AS hi
        FROM customer GROUP BY c_nationkey)
    SELECT b.nationkey, count(*) AS n_suppliers,
           round(sum(s.s_acctbal), 2) AS total_bal
    FROM supplier s JOIN band b
      ON s.s_nationkey = b.nationkey
     AND s.s_acctbal >= b.lo AND s.s_acctbal <= b.hi
    GROUP BY b.nationkey
    """,
)
def suppliers_in_customer_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval (range) join executed as a bucketed equi-join
    (operators/joins.range_join_bucketed): intervals explode to the
    integer buckets they span, the join shuffles on (key, bucket), the
    exact range predicate filters after — a hash join where Spark would
    otherwise pick BroadcastNestedLoopJoin."""
    from mle_proj_datapipeline_spark.operators.joins import range_join_bucketed

    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), "s_acctbal"
    )
    band = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    joined = range_join_bucketed(
        s, band, left_point="s_acctbal", right_lo="lo", right_hi="hi",
        bucket_width=2000.0, on=["nationkey"],
    )
    return joined.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


# --------------------------------------------------------------------------
# MERGE / upsert (lake-format MERGE INTO semantics without Delta)
# --------------------------------------------------------------------------
@register(
    "orders_merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 3 = 0),
    target AS (
        SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
               'O' AS o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0)
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM updates
    UNION ALL
    SELECT t.o_orderkey, t.o_totalprice, t.o_orderstatus
    FROM target t ANTI JOIN updates u ON t.o_orderkey = u.o_orderkey
    """,
)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (operators/joins.merge_upsert): updates win
    on key collision, unmatched target rows survive — broadcast anti
    join + unionByName. Target/update sets are deterministic slices of
    orders (mod-2 stale snapshot vs mod-3 fresh rows)."""
    from mle_proj_datapipeline_spark.operators.joins import merge_upsert

    o = load_table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    target = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        F.lit("O").alias("o_orderstatus"),
    )
    return merge_upsert(target, updates, ["o_orderkey"])


# --------------------------------------------------------------------------
# Entity-resolution capstone: blocked fuzzy match -> clusters -> golden
# records (survivorship)
# --------------------------------------------------------------------------
@register(
    "customer_golden_records",
    oracle="""
    WITH RECURSIVE b AS (
        SELECT c_custkey, c_name, c_acctbal, c_nationkey,
               length(c_name) AS ln
        FROM customer),
    pairs AS (
        SELECT x.c_custkey AS pa, y.c_custkey AS pb
        FROM b x JOIN b y
          ON x.c_nationkey = y.c_nationkey AND x.ln = y.ln
         AND x.c_custkey < y.c_custkey
        WHERE levenshtein(x.c_name, y.c_name) <= 2),
    edges AS (
        SELECT pa AS a, pb AS e FROM pairs
        UNION SELECT pb, pa FROM pairs),
    reach(src, node) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.src, g.e FROM reach r JOIN edges g ON r.node = g.a),
    comp AS (SELECT src AS member, MIN(node) AS cluster_id
             FROM reach GROUP BY src),
    enr AS (
        SELECT comp.cluster_id, c.c_custkey, c.c_name, c.c_acctbal
        FROM comp JOIN customer c ON c.c_custkey = comp.member),
    agg AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
               round(sum(c_acctbal), 2) AS total_acctbal
        FROM enr GROUP BY cluster_id),
    surv AS (
        SELECT cluster_id, c_custkey AS survivor_key,
               c_name AS survivor_name
        FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                  ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
              FROM enr) t
        WHERE rn = 1)
    SELECT agg.cluster_id, n_members, total_acctbal,
           survivor_key, survivor_name
    FROM agg JOIN surv ON agg.cluster_id = surv.cluster_id
    """,
)
def customer_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution capstone: SymSpell deletion-neighborhood
    blocked edit-distance matching (operators/symspell.py — candidates
    bounded near the true-pair count on ANY name distribution, exact
    levenshtein verify restores the precise d<=2 pair set), transitive
    closure via alternating large-star/small-star connected components,
    then SURVIVORSHIP per cluster: the member with the highest account
    balance (tie -> lowest key) becomes the golden record, with member
    count and merged balance. The recursive-CTE oracle recomputes
    closure + survivorship end to end over the SAME pair definition
    (same nation, same name length, levenshtein <= 2) — the blocker is
    an exact candidate generator, so the oracle is unchanged.

    Scale: the three stages are the engine's proven primitives — the
    candidate stage is ONE groupBy shuffle on content-keyed deletion
    buckets (r12 rebuild; the round-10 census showed the legacy
    (nation, name-length) key degrading to Θ(Σ block²) = 499 s on
    60k-entity blocks at synth sf1, and the r11 variant self-join
    carried an output-independent constant — 325.5 s on the round-12
    sparse probe, 15.5 s warm after the rebuild + the CC raw-pair
    materialization fix, FALSIFY_r12.json), CC runs O(log² n) rounds
    with executor-local per-round cuts (no snapshot root) over a pair
    list materialized ONCE, and survivorship is one window + one groupBy on the cluster
    id."""
    from mle_proj_datapipeline_spark.operators.cc import connected_components
    from mle_proj_datapipeline_spark.operators.symspell import symspell_pairs
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey",
        F.length("c_name").alias("ln"),
    )
    pairs = symspell_pairs(
        c, "c_custkey", "c_name", block_cols=("c_nationkey", "ln")
    ).select("id_a", "id_b")
    comps = connected_components(pairs)
    enr = comps.join(
        c.select("c_custkey", "c_name", "c_acctbal"),
        comps.node == F.col("c_custkey"),
    ).select(F.col("comp").alias("cluster_id"), "c_custkey", "c_name", "c_acctbal")
    agg = enr.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    surv = (
        enr.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("c_custkey").alias("survivor_key"),
            F.col("c_name").alias("survivor_name"),
        )
    )
    return agg.join(surv, "cluster_id")
