"""Skew realism for the LSH band join (VERDICT r4 item 6).

The 100 TB claim of operators/minhash.minhash_lsh_pairs rests on the band
equi-join staying bucketed: a boilerplate-heavy corpus concentrates one
(band_idx, band_key) bucket, and that bucket's shuffle partition must be
SPLIT across tasks by AQE skew-join handling — not serialized through
one straggler. This test builds exactly that corpus (one hot band >>10x
the median bucket), drops the AQE skew thresholds to test-data scale,
and asserts the executed adaptive plan actually applied the skew split
(``skew=true`` on the join) while producing the exact expected pairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mle_proj_datapipeline_spark.operators import minhash as dd

# AQE skew-join only fires on shuffle joins with realistic thresholds;
# scale them down to fixture size. autoBroadcastJoinThreshold=-1 keeps
# the band join a sort-merge join (at 100 TB neither side broadcasts).
_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@pytest.fixture()
def skew_session(spark):
    old = {}
    for k, v in _SKEW_CONFS.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _boilerplate_corpus(spark, n_hot: int, n_cold: int):
    """n_hot docs sharing ONE text (all land in the same band buckets —
    the pathological boilerplate block) + n_cold unique docs."""
    hot_text = "the quick brown fox jumps over the lazy dog again and again"
    hot = spark.range(n_hot).select(
        F.col("id").alias("doc_id"), F.lit(hot_text).alias("text")
    )
    cold = spark.range(n_hot, n_hot + n_cold).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("unique document body number "),
            F.col("id").cast("string"),
            F.lit(" with words that never repeat across documents "),
            F.md5(F.col("id").cast("string")),
        ).alias("text"),
    )
    return hot.unionByName(cold)


def test_lsh_band_join_skew_is_split(skew_session):
    """One boilerplate-hot band (400 identical docs vs 1-doc median
    buckets) must trigger AQE's skew-join split on the band equi-join:
    the executed plan carries ``skew=true`` and the result is still the
    exact C(400,2) duplicate pairs — the hot bucket was parallelized,
    not corrupted and not serialized through one task."""
    spark = skew_session
    n_hot = 400
    docs = _boilerplate_corpus(spark, n_hot=n_hot, n_cold=300)
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.5)
    rows = pairs.collect()

    # Correctness under skew handling: identical docs pair exhaustively
    # (jaccard 1.0), unique docs pair with nothing.
    assert len(rows) == n_hot * (n_hot - 1) // 2
    assert all(r["jaccard"] == 1.0 and r["id_a"] < r["id_b"] < n_hot for r in rows)

    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:2000]
    assert "skew=true" in plan, (
        "AQE did not split the hot band bucket — the band join would "
        "serialize boilerplate blocks through one task at scale\n" + plan[:4000]
    )


def test_lsh_band_join_no_false_skew_on_uniform(skew_session):
    """Control: a uniform corpus under the same aggressive thresholds
    still yields the right answer (no pairs across unique docs) — the
    skew machinery is load-bearing only when a hot block exists."""
    spark = skew_session
    docs = _boilerplate_corpus(spark, n_hot=2, n_cold=400)
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.5)
    rows = pairs.collect()
    assert len(rows) == 1  # just the two hot docs pairing with each other
    assert rows[0]["id_a"] == 0 and rows[0]["id_b"] == 1


def test_cooccurrence_fanout_capped_on_hot_container(spark):
    """One hot container (600 members) must fan out to at most
    MAX_COOCCUR_SET² in-row pair structs — the declared cap of
    operators/graph.cooccurrence_pairs (VERDICT r5 item 3) — while
    normal-sized containers keep their exact full fan-out. The capped
    participant set is the deterministic smallest-ids slice, matching
    the oracles' row_number ≤ cap semantics."""
    from mle_proj_datapipeline_spark.operators.graph import (
        MAX_COOCCUR_SET,
        cooccurrence_pairs,
    )

    hot = spark.range(600).select(
        F.lit(0).alias("k"), F.col("id").alias("v")
    )
    cold = spark.range(3).select(
        F.lit(1).alias("k"), (F.col("id") + 1000).alias("v")
    )
    df = hot.unionByName(cold)

    both = cooccurrence_pairs(df, "k", "v", directed=False)
    rows = both.collect()
    hot_pairs = [(r["src"], r["dst"]) for r in rows if r["src"] < 1000]
    cold_pairs = [(r["src"], r["dst"]) for r in rows if r["src"] >= 1000]
    # hot: capped at the 64 smallest members -> 64*63 directed pairs
    assert len(hot_pairs) == MAX_COOCCUR_SET * (MAX_COOCCUR_SET - 1)
    assert max(max(p) for p in hot_pairs) == MAX_COOCCUR_SET - 1
    # symmetric emission: (a,b) present iff (b,a) present
    assert set(hot_pairs) == {(b, a) for a, b in hot_pairs}
    # cold: 3 members, full fan-out 3*2
    assert len(cold_pairs) == 6

    oriented = cooccurrence_pairs(df, "k", "v", directed=True)
    o = [(r["src"], r["dst"]) for r in oriented.collect() if r["src"] < 1000]
    assert len(o) == MAX_COOCCUR_SET * (MAX_COOCCUR_SET - 1) // 2
    assert all(a < b for a, b in o)
