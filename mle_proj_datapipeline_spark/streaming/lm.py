"""Incremental bigram-LM count maintenance.

Batch twin: plans/featurize_queries.bigram_lm_doc_scores (oracle-gated).
The LM "model" is two count relations — unigrams (term, c1) and bigrams
(w1, w2, c2) — and both merge by plain SUM, so the streaming form is
the CM-sketch pattern (streaming/sketch.py): each micro-batch commits
its partial counts under a batch_id partition (idempotent dynamic
overwrite on replay), and the served model is a groupBy-SUM over the
partials. Bigrams are INTRA-document, so there is no cross-batch
boundary state.

This is incremental tokenizer/LM-statistics training for a growing
corpus: counts stay mergeable forever, vocabulary size |V| is a
count(*) over the served unigram relation, and any document set can be
scored against the model as of ANY batch — the quality gate keeps
re-scoring with fresher statistics at zero retraining cost.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from mle_proj_datapipeline_spark.streaming.weekly import file_stream


def _tok(df: DataFrame) -> DataFrame:
    return df.select("doc_id", F.split("text", " ").alias("t"))


def merge_batch_counts(batch_df: DataFrame, batch_id: int, state_root: str) -> None:
    """foreachBatch body: commit this batch's unigram/bigram partials."""
    tok = _tok(batch_df)
    uni = (
        tok.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    pairs = F.arrays_zip(
        F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
        F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
    )
    big = (
        tok.select(F.explode(pairs).alias("p"))
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    for name, df in (("uni", uni), ("big", big)):
        (
            df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{state_root}/{name}")
        )


def incremental_lm_counts(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    state_root: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
) -> None:
    """One AvailableNow maintenance pass over new document files."""
    q = (
        file_stream(spark, source_dir, schema)
        .writeStream.foreachBatch(
            lambda b, i: merge_batch_counts(b, i, state_root)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"LM-count maintenance pass over {source_dir} exceeded "
            f"{timeout_s}s; completed batches are checkpointed, re-run to resume"
        )


def served_counts(spark: SparkSession, state_root: str) -> tuple[DataFrame, DataFrame]:
    """The maintained model: merged (term, c1) and (w1, w2, c2) —
    compact base (if any) plus the partials above its watermark."""
    from mle_proj_datapipeline_spark.streaming.compaction import served_state

    # empty_schema: a maintenance pass over an empty corpus commits no
    # partials — the served model is then the empty vocabulary, and
    # scoring any docs against it degrades per the smoothing contract.
    uni = served_state(
        spark, f"{state_root}/uni", ["term"], "c1",
        empty_schema="term string, c1 bigint",
    )
    big = served_state(
        spark, f"{state_root}/big", ["w1", "w2"], "c2",
        empty_schema="w1 string, w2 string, c2 bigint",
    )
    return uni, big


def compact_counts(spark: SparkSession, state_root: str) -> tuple[int, int]:
    """Fold both count changelogs into committed vocabulary-sized base
    snapshots (streaming/compaction.py — atomic, watermarked) so model
    size is bounded by |V| / |bigram vocab|, not by stream lifetime.
    Returns the (uni, big) snapshot versions (-1 = nothing to fold)."""
    from mle_proj_datapipeline_spark.streaming.compaction import compact_state

    return (
        compact_state(spark, f"{state_root}/uni", ["term"], "c1"),
        compact_state(spark, f"{state_root}/big", ["w1", "w2"], "c2"),
    )


def gc_counts(spark: SparkSession, state_root: str) -> tuple[list[int], list[int]]:
    """Delete folded partial partitions of both changelogs."""
    from mle_proj_datapipeline_spark.streaming.compaction import gc_state

    return (
        gc_state(spark, f"{state_root}/uni"),
        gc_state(spark, f"{state_root}/big"),
    )


def score_docs(docs: DataFrame, uni: DataFrame, big: DataFrame) -> DataFrame:
    """Score documents against the maintained model — identical
    arithmetic to the batch query (add-one-smoothed mean log
    P(w2|w1)); counts broadcast, bigrams zipped in-row.

    Out-of-corpus documents are first-class (ADVICE r5): bigrams and
    predecessors unseen in the counts LEFT-join to zero, so add-one
    smoothing applies uniformly — an unseen pair scores
    ln((0+1)/(c1+|V|)), an unseen predecessor ln(1/(0+|V|)) — and
    ``n_bigrams`` counts every bigram in the document, not just the
    ones the model has seen. On the training corpus itself every
    bigram is present, so this is bit-identical to the oracle-gated
    batch query (inner == left there)."""
    tok = _tok(docs)
    vsz = uni.agg(F.count(F.lit(1)).alias("vsz"))
    pairs = F.arrays_zip(
        F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
        F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
    )
    b = tok.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.0").alias("w1"), F.col("p.1").alias("w2")
    )
    return (
        b.join(F.broadcast(big), ["w1", "w2"], "left")
        .join(F.broadcast(uni.withColumnRenamed("term", "w1")), "w1", "left")
        .crossJoin(F.broadcast(vsz))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("vsz"))
                    )
                ),
                4,
            ).alias("avg_logprob"),
        )
    )
