"""Incremental training-corpus ingestion: the LLM-data analogue of the
medallion stream (streaming/weekly.incremental_silver).

Documents land as files; each micro-batch is quality-filtered
(repetition rules), content-hashed, deduplicated BOTH within the batch
and against everything already in the corpus sink, and appended. The
result is an append-only canonical corpus that stays exact-deduped
under re-delivery, overlapping batches, and restarts:

- within-batch: keep-first window over md5(content)
  (operators/hashing.exact_dedup — deterministic, not dropDuplicates).
- against history: left-anti join on the content hash of the existing
  corpus — re-delivered or re-landed docs can't re-enter.
- exactly-once file handling comes from the stream checkpoint;
  idempotence of the append comes from the anti-join, so even a batch
  replayed after a crash adds nothing twice.

Scale: per-batch cost is O(batch + corpus-hash column scan). The
anti-join reads ONE column (the hash) of the sink — at 100 TB keep the
corpus hash index as its own slim table (same pattern as the MinHash
signature snapshot, operators/minhash.minhash_lsh_pairs_delta) instead
of scanning the wide corpus; the hook is the ``hash_index`` argument.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from pyspark.sql.utils import AnalysisException

from mle_proj_datapipeline_spark.operators.hashing import exact_dedup
from mle_proj_datapipeline_spark.sources.readers import read_parquet
from mle_proj_datapipeline_spark.streaming.weekly import file_stream

# Gopher-style keep rules (plans/llm_text_queries.doc_repetition_quality)
MIN_TTR = 0.3
MAX_TOP_RATIO = 0.2


def quality_keep(docs: DataFrame) -> DataFrame:
    """Append type-token ratio / top-token share and the keep flag —
    expression-only (explode-free per-doc variant: the distinct count
    uses array_distinct, the top count a single fold), so the same code
    runs on batch and streaming frames without a blocking aggregate."""
    toks = F.split(F.col("text"), " ")
    total = F.size(toks)
    distinct = F.size(F.array_distinct(toks))
    # max token multiplicity via one fold over the distinct tokens
    top = F.expr(
        "aggregate(array_distinct(split(text, ' ')), 0, (acc, t) -> "
        "greatest(acc, size(filter(split(text, ' '), x -> x = t))))"
    )
    ttr = distinct.cast("double") / total
    top_ratio = top.cast("double") / total
    return docs.withColumn("ttr", F.round(ttr, 4)).withColumn(
        "top_ratio", F.round(top_ratio, 4)
    ).withColumn(
        "keep", (ttr >= MIN_TTR) & (top_ratio <= MAX_TOP_RATIO)
    )


def _existing_hashes(spark: SparkSession, corpus_dir: str) -> DataFrame:
    try:
        return read_parquet(spark, corpus_dir).select("content_hash").distinct()
    except AnalysisException:
        return spark.createDataFrame([], "content_hash string")


def ingest_batch(batch: DataFrame, corpus_dir: str) -> None:
    """One micro-batch: quality filter → within-batch exact dedup →
    anti-join history → append."""
    spark = batch.sparkSession
    cleaned = (
        quality_keep(batch)
        .filter(F.col("keep"))
        .drop("keep", "ttr", "top_ratio")
        .withColumn("content_hash", F.md5(F.col("text")))
    )
    deduped = exact_dedup(cleaned, "text", ["doc_id"])
    fresh = deduped.join(
        _existing_hashes(spark, corpus_dir), "content_hash", "left_anti"
    )
    fresh.write.mode("append").parquet(corpus_dir)


def incremental_corpus(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    schema: StructType,
) -> StreamingQuery:
    """Checkpointed AvailableNow stream over the landing directory; each
    batch flows through ingest_batch. Re-runs process only new files;
    replayed batches append nothing (anti-join idempotence)."""
    return (
        file_stream(spark, landing_dir, schema)
        .writeStream.foreachBatch(
            lambda b, _id: ingest_batch(b, corpus_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
