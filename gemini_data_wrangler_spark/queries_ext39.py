"""Round-2 extensions, batch 39: range similarity search and
out-of-vocabulary rate.

Scale notes:
- RANGE SEARCH completes the similarity query surface (top-k answers
  "best k", range answers "everything above τ" — the dedup/recall
  shape): broadcast queries, one shuffle-free candidate scan, row-local
  threshold. Above broadcast scale the LSH/IVF tiers bound candidates
  exactly as they do for top-k.
- OOV RATE: vocabulary is a top-k frequency table (broadcast); the
  per-doc rate is one anti-membership aggregate over exploded tokens —
  the coverage stat that decides a tokenizer's vocab size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Range similarity search (all neighbors above a cosine threshold)
# ---------------------------------------------------------------------------
_RANGE_QUERY_IDS = (0, 1, 2, 3, 4)
_RANGE_TAU = 0.35

@register(
    "similarity_range_search",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id IN {str(tuple(_RANGE_QUERY_IDS))}
    )
    SELECT q.query_id, e.vec_id,
           round(
             list_sum(list_transform(list_zip(q.qv, e.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) AS sim
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id != q.query_id
      AND round(
             list_sum(list_transform(list_zip(q.qv, e.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           6) >= {_RANGE_TAU}
    """,
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (ε-neighborhood) similarity search: every candidate with
    cosine ≥ {_RANGE_TAU} to each query vector — the query shape behind
    "find ALL near-duplicates of this document" where top-k would
    truncate. Broadcast queries + shuffle-free candidate scan + JVM
    vector math, same plan skeleton as `similarity_cosine_topk` minus
    the ranking window; the LSH/IVF tiers bound candidates at scale."""
    from gemini_data_wrangler_spark.functions.vectors import cosine_similarity

    emb = sf_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(*_RANGE_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_q")
    )
    cand = emb.select("vec_id", F.col("embedding").alias("_v"))
    sim = F.round(cosine_similarity(F.col("_q"), F.col("_v")), 6)
    return (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= _RANGE_TAU)
        .select("query_id", "vec_id", "sim")
    )


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate against a top-k vocabulary
# ---------------------------------------------------------------------------
_OOV_VOCAB_K = 30

@register(
    "vocab_oov_rate",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
      FROM documents
    ), vocab AS (
      SELECT t FROM (
        SELECT t, count(*) AS c FROM w GROUP BY t
        ORDER BY c DESC, t ASC LIMIT {_OOV_VOCAB_K}
      )
    )
    SELECT w.doc_id,
           count(*) AS n_tokens,
           count(*) FILTER (WHERE vocab.t IS NULL) AS n_oov,
           round(count(*) FILTER (WHERE vocab.t IS NULL)
                 / CAST(count(*) AS DOUBLE), 6) AS oov_rate
    FROM w LEFT JOIN vocab ON w.t = vocab.t
    GROUP BY w.doc_id
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-
    {_OOV_VOCAB_K} vocabulary — the coverage statistic that sizes a
    tokenizer's vocab (pairs with `vocab_encode_docs` / the BPE
    fertility accounting). Vocabulary = one TakeOrderedAndProject over
    word counts, broadcast back; the per-doc rate is one aggregated
    left-join membership pass over exploded tokens."""
    docs = sf_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("t")
    )
    vocab = (
        w.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("t").asc())
        .limit(_OOV_VOCAB_K)
        .select("t", F.lit(True).alias("_in"))
    )
    return (
        w.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("_in").isNull(), 1)).alias("n_oov"),
            F.round(
                F.count(F.when(F.col("_in").isNull(), 1))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )
