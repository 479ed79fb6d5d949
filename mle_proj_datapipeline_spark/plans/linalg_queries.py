"""Distributed linear algebra + embedding analytics: covariance, PCA power iteration, int8 quantization audit, per-dimension drift.

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

from mle_proj_datapipeline_spark.operators.veclib import valid_embeddings
from mle_proj_datapipeline_spark.plans.registry import register
from mle_proj_datapipeline_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# Distributed linear algebra: covariance matrix + PCA power iteration
# --------------------------------------------------------------------------
_EMB_D = 64
_POWER_ITERS = 8

_COV_CTE = f"""
    x AS (
        SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS ed
        FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64) embeddings),
    cells AS (
        SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
               avg(ed[i + 1] * ed[j + 1]) AS exy,
               avg(ed[i + 1]) AS ex, avg(ed[j + 1]) AS ey
        FROM x
        CROSS JOIN range(0, {_EMB_D}) t1(i) CROSS JOIN range(0, {_EMB_D}) t2(j)
        GROUP BY 1, 2),
    cov AS MATERIALIZED (SELECT i, j, exy - ex * ey AS c FROM cells)"""


@register(
    "embedding_covariance",
    oracle=f"""
    WITH {_COV_CTE}
    SELECT i, j, round(c, 6) + 0 AS cov FROM cov WHERE i <= j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding columns — the
    E[xy] − E[x]E[y] moment aggregation that PCA whitening, Mahalanobis
    scoring, and feature-decorrelation all start from.

    Plan shape: ONE scan through operators/linalg.covariance, which
    dispatches between two physical strategies on the declared
    dimension (VERDICT r5 item 4): the d² nested-posexplode partial
    aggregation (JVM codegen — chosen here, d=64) and the
    per-partition NumPy Gramian over mapInPandas for large d (one BLAS
    XᵀX per task, no n·d² cell materialization). Both shuffle
    O(#partitions · d²) moment rows independent of row count;
    tests/test_extensions assert the two arms agree and that the
    dispatch selects the Gramian above the threshold."""
    from mle_proj_datapipeline_spark.operators.linalg import covariance

    emb = valid_embeddings(load_table(spark, sf_dir, "embeddings"), require_nonzero=False)
    cov = covariance(emb, "embedding", dim=_EMB_D, upper_only=True)
    return cov.select(
        "i", "j", (F.round(F.col("c"), 6) + F.lit(0.0)).alias("cov")
    )


def _power_iteration_oracle() -> str:
    """Unrolled power iteration v ← C·v / ‖C·v‖ as chained CTEs, from
    the exact uniform start vector 1/8 (= 1/√64, exact in binary).

    cov and every u{k} are MATERIALIZED: each v{k} references u{k}
    twice (value + norm), so with DuckDB's default CTE inlining the
    whole chain re-evaluates doubly per iteration — the n·d² cells
    scan ran 2^8 ≈ 256 times (~257 s at sf0.001, found round 9).
    Materialization pins each 64-row step once; identical results."""
    stages = []
    for k in range(1, _POWER_ITERS + 1):
        stages.append(f"""
    u{k} AS MATERIALIZED (
        SELECT cov.i AS j, sum(cov.c * v{k - 1}.v) AS u
        FROM cov JOIN v{k - 1} ON cov.j = v{k - 1}.j
        GROUP BY cov.i),
    n{k} AS (SELECT sqrt(sum(u * u)) AS nrm FROM u{k}),
    v{k} AS (SELECT j, u / nrm AS v FROM u{k} CROSS JOIN n{k})""")
    return f"""
    WITH {_COV_CTE},
    v0 AS (SELECT CAST(j AS INTEGER) AS j, 0.125 AS v FROM range(0, {_EMB_D}) t(j)),
    {",".join(stages)},
    ray AS (
        SELECT sum(v{_POWER_ITERS}.v * u) AS eigval
        FROM u{_POWER_ITERS} JOIN v{_POWER_ITERS} USING (j)
        CROSS JOIN n{_POWER_ITERS})
    SELECT j AS dim, round(v, 5) + 0 AS loading, round(eigval, 6) + 0 AS eigval
    FROM v{_POWER_ITERS} CROSS JOIN ray
    """


@register("embedding_pca_power", oracle=_power_iteration_oracle())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud by power
    iteration v ← C·v/‖C·v‖ over the covariance of the full corpus.
    Returns (dim, loading, eigval) with the Rayleigh-quotient
    eigenvalue λ = vᵀCv (= ‖u‖ after normalize since v is unit).

    Scale design: the DATA-sized work is the ONE distributed
    covariance pass (see embedding_covariance); its output is
    d²-bounded at any corpus scale, so the spectral solve runs on the
    driver below the declared-dim gate (operators/linalg.top_eigvec —
    the k-means-codebook privilege; distributed matvec rounds above
    it, same recurrence, tested to agree). The deterministic uniform
    start (1/√d, exact in binary) and fixed iteration count make both
    engines run the identical recurrence — sign and value are
    reproducible, unlike RNG-seeded solvers."""
    from mle_proj_datapipeline_spark.operators.linalg import covariance, top_eigvec

    emb = valid_embeddings(load_table(spark, sf_dir, "embeddings"), require_nonzero=False)
    cov = covariance(emb, "embedding")
    return top_eigvec(cov, _EMB_D, iterations=_POWER_ITERS).select(
        F.col("j").alias("dim"),
        (F.round("v", 5) + F.lit(0.0)).alias("loading"),
        (F.round("eigval", 6) + F.lit(0.0)).alias("eigval"),
    )
# --------------------------------------------------------------------------
# Model-serving prep: per-vector int8 quantization with error audit
# --------------------------------------------------------------------------
@register(
    "embedding_int8_quantize",
    oracle="""
    WITH x AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS ed
        FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64) embeddings),
    s AS (
        SELECT vec_id, ed,
               list_reduce(list_transform(ed, v -> abs(v)),
                           (a, b) -> greatest(a, b)) / 127 AS scale
        FROM x),
    e AS (
        SELECT vec_id, scale,
               list_transform(ed, v -> abs(round(v / scale) * scale - v)) AS errs
        FROM s WHERE scale > 0)
    SELECT vec_id,
           round(scale, 8) AS scale,
           round(list_reduce(errs, (a, b) -> greatest(a, b)), 8) AS max_abs_err,
           round(list_reduce(errs, (a, b) -> a + b) / len(errs), 8) AS mean_abs_err
    FROM e
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization audit — the compression
    step before shipping an embedding table to a serving store:
    scale = max|x|/127, q = round(x/scale), and the reconstruction
    error |q·scale − x| summarized per vector. Pure JVM higher-order
    functions over the array column — no explode, no shuffle at all
    (map-only); error folds run in array order so both engines sum
    identically (the customer_value_ewma determinism convention)."""
    emb = valid_embeddings(load_table(spark, sf_dir, "embeddings"), require_nonzero=False)
    ed = F.col("embedding").cast("array<double>")
    scale = (
        F.aggregate(
            F.transform(ed, lambda v: F.abs(v)),
            F.lit(0.0),
            lambda a, b: F.greatest(a, b),
        )
        / 127
    )
    errs = F.transform(
        F.col("ed"),
        lambda v: F.abs(F.round(v / F.col("scale")) * F.col("scale") - v),
    )
    return (
        emb.select("vec_id", ed.alias("ed"), scale.alias("scale"))
        .filter(F.col("scale") > 0)
        .withColumn("errs", errs.cast("array<double>"))
        .select(
            "vec_id",
            F.round("scale", 8).alias("scale"),
            F.round(
                F.aggregate(
                    F.col("errs"), F.lit(0.0), lambda a, b: F.greatest(a, b)
                ),
                8,
            ).alias("max_abs_err"),
            F.round(
                F.aggregate(F.col("errs"), F.lit(0.0), lambda a, b: a + b)
                / F.size("errs"),
                8,
            ).alias("mean_abs_err"),
        )
    )
# --------------------------------------------------------------------------
# Embedding drift: per-dimension standardized mean difference by label
# --------------------------------------------------------------------------
@register(
    "embedding_dim_drift",
    oracle="""
    WITH x AS (
        SELECT label, CAST(i AS INTEGER) AS dim,
               CAST(embedding[i + 1] AS DOUBLE) AS v
        FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64) embeddings CROSS JOIN range(0, 64) t(i)),
    g AS (
        SELECT label, dim, count(*) AS n,
               sum(v) / count(*) AS m,
               sum(v * v) / count(*) - (sum(v) / count(*)) ** 2 AS var
        FROM x GROUP BY 1, 2),
    a AS (
        SELECT dim,
               sum(n * m) / sum(n) AS gm,
               sum(n * (var + m * m)) / sum(n)
                   - (sum(n * m) / sum(n)) ** 2 AS gvar
        FROM g GROUP BY 1)
    SELECT g.label, g.dim,
           round(g.m, 6) AS mean_v,
           round(g.m - a.gm, 6) + 0 AS mean_shift,
           round((g.m - a.gm) / sqrt(a.gvar), 4) + 0 AS smd
    FROM g JOIN a USING (dim)
    """,
)
def embedding_dim_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension drift of each label's embedding distribution
    against the global: mean shift and standardized mean difference
    (SMD = (μ_label − μ_all)/σ_all) — the per-feature drift panel for
    embedding spaces, where PSI-style binning is impractical at d=64+.

    Variances come from explicit moment algebra (E[x²]−E[x]², and the
    global from the label-level moments via the law of total variance)
    rather than the engines' stddev kernels, so both sides compute the
    SAME arithmetic. One explode pass → (label×dim)-sized frames."""
    emb = valid_embeddings(load_table(spark, sf_dir, "embeddings"), require_nonzero=False)
    x = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    # r12 (guide §2.4): the label-level moment frame feeds both the
    # global roll-up and the final join — uncut, the explode + groupBy
    # over the whole embedding corpus ran twice. Cut at the
    # (labels×dims)-sized frame.
    from mle_proj_datapipeline_spark.sources.snapshots import materialize_frame

    g = materialize_frame(
        x.groupBy("label", "dim").agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("v") / F.count(F.lit(1))).alias("m"),
            (
                F.sum(F.col("v") * F.col("v")) / F.count(F.lit(1))
                - (F.sum("v") / F.count(F.lit(1))) * (F.sum("v") / F.count(F.lit(1)))
            ).alias("var"),
        )
    )
    a = g.groupBy("dim").agg(
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        (
            F.sum(F.col("n") * (F.col("var") + F.col("m") * F.col("m"))) / F.sum("n")
            - (F.sum(F.col("n") * F.col("m")) / F.sum("n"))
            * (F.sum(F.col("n") * F.col("m")) / F.sum("n"))
        ).alias("gvar"),
    )
    return g.join(F.broadcast(a), "dim").select(
        "label",
        "dim",
        F.round("m", 6).alias("mean_v"),
        (F.round(F.col("m") - F.col("gm"), 6) + F.lit(0.0)).alias("mean_shift"),
        # try_divide: a single-vector corpus has σ_all = 0, so SMD is
        # 0/0 — the oracle's x/0 is NULL, and ANSI `/` must not crash
        # (singleton-fact fuzz find, round 8).
        (
            F.round(F.try_divide(F.col("m") - F.col("gm"), F.sqrt("gvar")), 4)
            + F.lit(0.0)
        ).alias("smd"),
    )
