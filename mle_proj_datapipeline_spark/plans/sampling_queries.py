"""Sampling estimators: Poisson PPS with Horvitz-Thomson weights, exactly-k uniform hash samples.

Split from the round-5 analytics module so the per-file freshness
clock tracks one family (the VERDICT r4 item-2 discipline): an edit
here stales only this family's driver rows.

Float parity follows the registry convention (rounding at fixed grids,
integer-exact arithmetic wherever midpoints can land on rounding
boundaries); determinism via total-order tiebreaks and the H31
cross-engine hash."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.plans.llm_common import _h31  # noqa: F401
from mle_proj_datapipeline_spark.plans.registry import register
from mle_proj_datapipeline_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# J4 extension: Poisson PPS sample + Horvitz–Thompson weights
# --------------------------------------------------------------------------
_PPS_MOD = 1_000_000


@register(
    "pps_orders_sample",
    oracle=f"""
    SELECT o_orderkey,
           round(o_totalprice, 2) AS o_totalprice,
           round({_PPS_MOD}.0 / CAST(floor(o_totalprice) AS BIGINT), 4) AS ht_weight
    FROM orders
    WHERE {_h31('CAST(o_orderkey AS VARCHAR)')} % {_PPS_MOD}
          < CAST(floor(o_totalprice) AS BIGINT)
    """,
)
def pps_orders_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size Bernoulli (Poisson) sample of
    orders: row i is kept iff H31(key) mod 1e6 < floor(weight_i), i.e.
    with inclusion probability p_i = floor(w_i)/1e6, and carries its
    Horvitz–Thompson weight 1/p_i so any downstream SUM(x·ht_weight)
    is an unbiased estimate of the population total.

    All-integer inclusion arithmetic — bit-identical across engines and
    cluster layouts, unlike ``df.sample(seed=)`` (partition-dependent,
    reference utils/model_operations.py:79-85). Map-only: no shuffle,
    filter evaluated at the scan."""
    from mle_proj_datapipeline_spark.operators.hashing import h31

    o = load_table(spark, sf_dir, "orders")
    w_int = F.floor(F.col("o_totalprice")).cast("bigint")
    keep = h31(F.col("o_orderkey").cast("string")) % _PPS_MOD < w_int
    return o.filter(keep).select(
        "o_orderkey",
        F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
        F.round(F.lit(float(_PPS_MOD)) / w_int, 4).alias("ht_weight"),
    )


# --------------------------------------------------------------------------
# J4 extension: fixed-size uniform sample as TakeOrdered (no global sort)
# --------------------------------------------------------------------------
@register(
    "uniform_k_sample",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority
    FROM orders
    ORDER BY {_h31('CAST(o_orderkey AS VARCHAR)')}, o_orderkey
    LIMIT 500
    """,
)
def uniform_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform sample: order by content hash, take k. A
    fixed-SIZE complement to the fixed-RATE ``orders_hash_sample`` —
    reservoir-sampling semantics without RNG state. Spark plans
    ORDER BY+LIMIT as TakeOrderedAndProject: each partition keeps its
    local top-500 by hash, the driver merges 500·P candidate rows —
    no global sort, no full shuffle, scale-safe at any corpus size."""
    from mle_proj_datapipeline_spark.operators.hashing import h31

    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderpriority")
        .orderBy(h31(F.col("o_orderkey").cast("string")), F.col("o_orderkey"))
        .limit(500)
    )
