"""Dedup query family: MinHash+LSH, SimHash, blocked n-gram Jaccard,
exact content-hash dedup, connected-component clustering, and the
canonical-corpus capstone (SURVEY.md §7 phase 6; split from
llm_queries.py so the per-file freshness clock tracks one family).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mle_proj_datapipeline_spark.operators import cc as _cc
from mle_proj_datapipeline_spark.operators import hashing as _hs
from mle_proj_datapipeline_spark.operators import minhash as _mh
from mle_proj_datapipeline_spark.operators import simhash_ngram as _sn
from mle_proj_datapipeline_spark.plans.llm_common import (
    _JACCARD,
    _SH,
    _SIG,
    _SIMHASH_FP,
    _h31,
)
from mle_proj_datapipeline_spark.plans.registry import register
from mle_proj_datapipeline_spark.sources.catalog import load_table

# --------------------------------------------------------------------------
# Dedup: MinHash + LSH banding
# --------------------------------------------------------------------------
@register(
    "minhash_lsh_neardups",
    oracle=f"""
    WITH d AS MATERIALIZED (SELECT doc_id, {_SH} AS sh FROM documents),
    h AS MATERIALIZED (SELECT doc_id, sh, list_transform(sh, s -> {_h31('s')}) AS hs FROM d),
    sig AS MATERIALIZED (SELECT doc_id, {_SIG} AS sig FROM h),
    bands AS (
        SELECT doc_id, t.b AS band_idx,
               array_to_string(list_slice(sig, t.b*{_hs.LSH_ROWS}+1, t.b*{_hs.LSH_ROWS}+{_hs.LSH_ROWS}), '_') AS band_key
        FROM sig, range(0, {_hs.LSH_BANDS}) t(b)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, {_JACCARD} AS jaccard
    FROM cand JOIN d x ON x.doc_id = cand.id_a JOIN d y ON y.doc_id = cand.id_b
    WHERE {_JACCARD} >= 0.5
    """,
)
def minhash_lsh_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4×4) candidate pairs, exact-Jaccard verified at
    ≥0.5. The scale path for near-dedup at 100 TB: linear shingling, one
    band-bucket shuffle, verification only within buckets."""
    docs = load_table(spark, sf_dir, "documents")
    return _mh.minhash_lsh_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.5)


# --------------------------------------------------------------------------
# Dedup: near-dup pairs -> connected-component clusters
# --------------------------------------------------------------------------
@register(
    "neardup_clusters",
    oracle=f"""
    WITH RECURSIVE d AS MATERIALIZED (SELECT doc_id, {_SH} AS sh FROM documents),
    h AS MATERIALIZED (SELECT doc_id, sh, list_transform(sh, s -> {_h31("s")}) AS hs FROM d),
    sig AS MATERIALIZED (SELECT doc_id, {_SIG} AS sig FROM h),
    bands AS (
        SELECT doc_id, t.b AS band_idx,
               array_to_string(list_slice(sig, t.b*{_hs.LSH_ROWS}+1, t.b*{_hs.LSH_ROWS}+{_hs.LSH_ROWS}), '_') AS band_key
        FROM sig, range(0, {_hs.LSH_BANDS}) t(b)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    pairs AS (
        SELECT id_a, id_b
        FROM cand JOIN d x ON x.doc_id = cand.id_a JOIN d y ON y.doc_id = cand.id_b
        WHERE {_JACCARD} >= 0.5),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach(src, node) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a)
    SELECT src AS doc_id, MIN(node) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs folded into clusters via alternating
    large-star/small-star rounds (operators/cc.connected_components,
    O(log² n) rounds on any graph shape, chains included);
    cluster_id = smallest doc_id in the component. The oracle computes
    the same transitive closure with a recursive CTE. This is the
    consumable dedup artifact: keep one canonical doc per cluster_id."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _mh.minhash_lsh_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.5)
    comps = _cc.connected_components(pairs)
    return comps.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))


# --------------------------------------------------------------------------
# Dedup: blocked exact n-gram Jaccard
# --------------------------------------------------------------------------
@register(
    "ngram_jaccard_neardups",
    oracle=f"""
    WITH d AS MATERIALIZED (
        SELECT doc_id, {_SH} AS sh,
               array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')
                 || '|' ||
                 CAST(CAST(floor(len(string_split(text, ' ')) / {float(_hs.LEN_BAND_WIDTH)}) AS BIGINT) AS VARCHAR)
                 AS b
        FROM documents),
    keep AS (SELECT b FROM d GROUP BY b HAVING count(*) <= 64),
    dk AS (SELECT d.* FROM d JOIN keep USING (b))
    SELECT x.doc_id AS id_a, y.doc_id AS id_b, {_JACCARD} AS jaccard
    FROM dk x JOIN dk y ON x.b = y.b AND x.doc_id < y.doc_id
    WHERE {_JACCARD} >= 0.5
    """,
)
def ngram_jaccard_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard within COMPOSITE (prefix, length-band)
    blocks with a 64-doc block cap — the non-probabilistic sibling of
    MinHash LSH. The composite key + cap bound per-block join cost, so a
    boilerplate prefix can't go quadratic at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    return _sn.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5, max_block=64
    )


# --------------------------------------------------------------------------
# Dedup: SimHash with byte-block LSH
# --------------------------------------------------------------------------
@register(
    "simhash_neardups",
    oracle=f"""
    WITH t AS MATERIALIZED (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              tok -> ('0x'||substr(md5(tok),1,15))::BIGINT) AS hs
        FROM documents),
    fp AS MATERIALIZED (SELECT doc_id, {_SIMHASH_FP} AS fp FROM t),
    blocks AS (
        SELECT doc_id, fp, k.b AS blk_idx,
               (fp >> ({_hs.SIMHASH_BLOCK_BITS}*k.b)) & {(1 << _hs.SIMHASH_BLOCK_BITS) - 1} AS blk_key
        FROM fp, range(0, {_hs.SIMHASH_BLOCKS}) k(b)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, a.fp AS fp_a, b.doc_id AS id_b, b.fp AS fp_b
        FROM blocks a JOIN blocks b
          ON a.blk_idx = b.blk_idx AND a.blk_key = b.blk_key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, bit_count(xor(fp_a, fp_b)) AS hamming
    FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 2
    """,
)
def simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dups (hamming ≤ 2) with pigeonhole byte-block
    candidate generation."""
    docs = load_table(spark, sf_dir, "documents")
    return _sn.simhash_pairs(docs, "doc_id", "text", max_hamming=2)


# --------------------------------------------------------------------------
# Dedup: exact keep-first on a content key
# --------------------------------------------------------------------------
@register(
    "exact_dedup_prefix",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ') AS pfx
        FROM documents)
    SELECT min(doc_id) AS keep_id, count(*) AS group_sz
    FROM d GROUP BY md5(pfx)
    """,
)
def exact_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a content hash (first-10-token prefix): keyed
    group, min-id keep-first — one shuffle, no full-row distinct."""
    docs = load_table(spark, sf_dir, "documents")
    pfx = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " ")
    return (
        docs.select("doc_id", F.md5(pfx).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("group_sz"))
        .drop("h")
    )


# --------------------------------------------------------------------------
# Dedup capstone: the deduplicated corpus itself (one canonical per cluster)
# --------------------------------------------------------------------------
@register(
    "dedup_canonical_corpus",
    oracle=f"""
    WITH RECURSIVE d AS MATERIALIZED (SELECT doc_id, {_SH} AS sh FROM documents),
    h AS MATERIALIZED (SELECT doc_id, sh, list_transform(sh, s -> {_h31("s")}) AS hs FROM d),
    sig AS MATERIALIZED (SELECT doc_id, {_SIG} AS sig FROM h),
    bands AS (
        SELECT doc_id, t.b AS band_idx,
               array_to_string(list_slice(sig, t.b*{_hs.LSH_ROWS}+1, t.b*{_hs.LSH_ROWS}+{_hs.LSH_ROWS}), '_') AS band_key
        FROM sig, range(0, {_hs.LSH_BANDS}) t(b)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    pairs AS (
        SELECT id_a, id_b
        FROM cand JOIN d x ON x.doc_id = cand.id_a JOIN d y ON y.doc_id = cand.id_b
        WHERE {_JACCARD} >= 0.5),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
    reach(src, node) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
    clusters AS (
        SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
    dropped AS (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
)
def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of the near-dup pipeline: the corpus with every
    near-duplicate cluster collapsed to its canonical (smallest-id)
    member — pairs → connected components → anti-join of non-canonical
    members against the corpus. At 100 TB the dropped-id set is tiny
    relative to the corpus and broadcasts; the corpus itself never
    shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _mh.minhash_lsh_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.5)
    comps = _cc.connected_components(pairs)
    dropped = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(F.broadcast(dropped), "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )

