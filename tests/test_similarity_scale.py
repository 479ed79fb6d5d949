"""Scale-geometry guarantees for multi-band hyperplane LSH
(operators/veclib.py, operators/ann_lsh.py): bucket sizes stay bounded
as plane count scales with the corpus, the corpus-sizing helper
behaves, and the durable snapshot-materialized path is result-identical
to the localCheckpoint path."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from mle_proj_datapipeline_spark.operators import ann_ivf, ann_lsh, kmeans, veclib


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(512, veclib.EMB_DIM))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(512)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>").cache()


def _max_bucket(df, planes_per_band: int) -> int:
    planes = veclib.hyperplanes(planes_per_band)
    bucketed = df.select(veclib.plane_bucket(F.col("embedding"), planes).alias("bk"))
    return bucketed.groupBy("bk").count().agg(F.max("count")).collect()[0][0]


def test_planes_per_band_for_scales_with_corpus():
    # expected bucket size constant => plane count grows with log(n)
    assert veclib.planes_per_band_for(1_000, target_bucket=64) < veclib.planes_per_band_for(
        1_000_000, target_bucket=64
    )
    # 1M rows / 64-target: 2^b buckets with b = ceil(log2(1M/64)) = 14
    assert veclib.planes_per_band_for(1_000_000, target_bucket=64) == 14
    assert veclib.planes_per_band_for(10, target_bucket=64) >= 4  # floor


def test_bucket_bound_shrinks_with_plane_count(vectors):
    """The round-1 scale defect: fixed plane count => bucket occupancy
    grows linearly with corpus. With corpus-sized planes the max bucket
    must be far below the corpus and strictly below the coarse
    geometry's."""
    n = vectors.count()
    coarse = _max_bucket(vectors, 2)  # 4 buckets — the pathological end
    sized = _max_bucket(vectors, veclib.planes_per_band_for(n, target_bucket=16))
    assert sized < coarse
    assert sized <= n // 4  # no bucket holds a quadratic-join-sized chunk


def test_lsh_topk_snapshot_path_identical(vectors, tmp_path):
    """Durable materialization (snapshot table instead of
    localCheckpoint) must not change a single result row."""
    local = {tuple(r) for r in ann_lsh.lsh_topk(vectors).collect()}
    durable = {
        tuple(r)
        for r in ann_lsh.lsh_topk(
            vectors, snapshot_root=str(tmp_path / "lsh_base")
        ).collect()
    }
    assert local == durable and local


def test_lsh_topk_autosized_runs(vectors):
    """planes_per_band=None sizes the geometry from the corpus count and
    still produces top-1 rows with the exact-rerank contract (cosine in
    [-1, 1], no self-pairs)."""
    rows = ann_lsh.lsh_topk(vectors, planes_per_band=None).collect()
    assert rows
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    assert all(-1.000001 <= r["cosine"] <= 1.000001 for r in rows)


def test_minhash_snapshot_path_identical(spark, tmp_path):
    """Durable signature materialization (snapshot table instead of
    localCheckpoint) must return the identical near-dup pair set."""
    from mle_proj_datapipeline_spark.operators.minhash import minhash_lsh_pairs
    from mle_proj_datapipeline_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    local = {tuple(r) for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    durable = {
        tuple(r)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", snapshot_root=str(tmp_path / "sigs")
        ).collect()
    }
    assert local == durable and local


def test_kmeans_inertia_monotone(spark):
    """Lloyd's guarantee: total inertia is non-increasing per iteration
    (up to the declared 1e-6 rounding grid)."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def inertia(iters: int) -> float:
        return (
            kmeans.kmeans_iterate(emb, iterations=iters)
            .agg(F.sum("dist_sq"))
            .collect()[0][0]
        )

    i1, i2, i3 = inertia(1), inertia(2), inertia(3)
    assert i2 <= i1 + 1e-3
    assert i3 <= i2 + 1e-3
    assert i2 < i1  # the first update must actually improve on H31 init


def test_ivf_index_reuse_serves_without_training(spark, tmp_path_factory):
    """The persisted IVF index is the pay-training-once artifact: build
    commits codebook + assignment snapshots; every later query batch is
    served from the index alone — identical results to the in-query
    trainer, and the serving plan contains no training operators (no
    posexplode of the corpus, no avg-update aggregate)."""
    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    root = str(tmp_path_factory.mktemp("ivfidx"))
    ann_ivf.ivf_index_build(emb, root)

    q1 = emb.filter(F.col("vec_id") < 20)
    q2 = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))
    served = ann_ivf.ivf_index_topk(spark, q1, root, k=3)
    trained = ann_ivf.ivf_trained_topk(q1, emb, k=3)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, trained.collect()))

    # Second batch: index reused, no training in the serving plan.
    out2 = ann_ivf.ivf_index_topk(spark, q2, root, k=3)
    plan = out2._sc._jvm.PythonSQLUtils.explainString(
        out2._jdf.queryExecution(), "formatted"
    )
    assert "posexplode" not in plan and "Generate explode(posexplode" not in plan
    assert out2.count() > 0


def test_lsh_indexed_rebuilds_on_source_change(spark, tmp_path_factory, monkeypatch):
    """The persisted LSH index must be keyed on the SOURCE FILES, not
    geometry alone: the warehouse outlives testdata regeneration between
    rounds, so an index that only checks (bands, planes_per_band) would
    silently serve neighbors for the OLD corpus. Overwriting the source
    table must force a rebuild; an unchanged source must serve the
    committed index (same snapshot version)."""
    import random

    import pyspark.sql.functions as F

    from mle_proj_datapipeline_spark.plans.llm_ann_queries import ann_lsh_indexed_top1
    from mle_proj_datapipeline_spark.sources.snapshots import history

    wh = str(tmp_path_factory.mktemp("wh"))
    sf_dir = str(tmp_path_factory.mktemp("sf_custom"))
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", wh)

    rng = random.Random(7)

    def corpus(id0: int):
        rows = [
            (id0 + i, [rng.uniform(-1, 1) for _ in range(veclib.EMB_DIM)], "a")
            for i in range(40)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        ).withColumn("embedding", F.col("embedding").cast("array<float>"))

    corpus(0).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")
    r1 = {r["query_id"] for r in ann_lsh_indexed_top1(spark, sf_dir).collect()}
    assert r1 and max(r1) < 1000
    v1 = history(spark, f"{wh}/lsh_index_{sf_dir.rsplit('/', 1)[-1]}/signatures")[-1][
        "version"
    ]

    # Unchanged source: serve, don't rebuild (no new snapshot version).
    ann_lsh_indexed_top1(spark, sf_dir).collect()
    assert (
        history(spark, f"{wh}/lsh_index_{sf_dir.rsplit('/', 1)[-1]}/signatures")[-1][
            "version"
        ]
        == v1
    )

    # Regenerated source (new ids): MUST rebuild and serve the new corpus.
    corpus(1000).coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/embeddings.parquet"
    )
    r2 = {r["query_id"] for r in ann_lsh_indexed_top1(spark, sf_dir).collect()}
    assert r2 and min(r2) >= 1000, "index served the stale corpus after regeneration"
