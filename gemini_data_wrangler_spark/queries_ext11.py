"""Round-2 extensions, batch 11: corpus-hygiene operators a large-scale
training-data pipeline runs between crawl and tokenizer.

- Boilerplate-span detection (C4-style): find word bigrams repeated across
  a large fraction of the corpus (navigation chrome, license footers,
  cookie banners) and score every document by how much of it is such
  boilerplate. Reference analogue: the engine's TEXT stage family
  (SURVEY.md §2 extensions); no single reference file — this is the
  repeated-line removal step of C4/RefinedWeb re-expressed over
  whitespace tokens because the synthetic corpus has no newlines.
- Inverted-index build: term -> (document frequency, collection
  frequency, capped posting list). The capped posting list is computed
  scale-correctly: doc ids are ranked per term BEFORE the list aggregate,
  so no executor ever materializes an unbounded posting array.
- Deterministic output sharding: content-addressed shard assignment +
  within-shard position via md5, the engine-portable way to produce a
  reproducible globally-shuffled training order (same property as the
  md5 sampling family in queries_ext3).

All three are pure JVM expression pipelines — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) for every adjacent word pair. Whole-stage-codegen
    expression: split -> transform(sequence) -> explode, no shuffle."""
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    grams = words.select(
        "doc_id",
        F.explode(
            F.when(F.size("w") < 2, F.array().cast("array<string>")).otherwise(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                )
            )
        ).alias("gram"),
    )
    return grams


@register(
    "text_boilerplate_bigrams",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] AS gram
      FROM words, LATERAL unnest(range(1, len(w))) AS t(i)
    ),
    gram_df AS (
      SELECT gram, count(DISTINCT doc_id) AS df FROM grams GROUP BY gram
    ),
    total AS (SELECT count(*) AS n_docs FROM documents)
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(*) FILTER (d.df * 20 >= (SELECT n_docs FROM total))
             AS n_boilerplate,
           count(*) FILTER (d.df * 20 >= (SELECT n_docs FROM total))
             / count(*) AS boilerplate_ratio
    FROM grams g JOIN gram_df d USING (gram)
    GROUP BY g.doc_id
    """,
)
def text_boilerplate_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate score: a bigram is boilerplate when it
    appears in >= 5% of all documents (integer-arithmetic threshold
    ``df * 20 >= n_docs`` so both engines compare exact integers, never a
    decimal-vs-double 0.05).

    Scale shape: one explode (map-side), one gram-level aggregation
    (map-side combine collapses each partition to its distinct grams
    before the exchange), one gram-keyed shuffle join back, one doc-level
    aggregation. The gram-frequency table is corpus-vocabulary-sized, not
    corpus-sized, and the threshold scalar is a broadcast single-row
    cross join — nothing ever lands on the driver."""
    docs = sf_table(spark, sf_dir, "documents")
    grams = _doc_bigrams(docs)
    gram_df = grams.groupBy("gram").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        grams.join(gram_df, "gram")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("df") * 20 >= F.col("n_docs"), 1).otherwise(0)
            ).alias("n_boilerplate"),
        )
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_boilerplate",
        (F.col("n_boilerplate") / F.col("n_grams")).alias("boilerplate_ratio"),
    )


@register(
    "text_inverted_index",
    """
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    stats AS (
      SELECT term,
             count(DISTINCT doc_id) AS df,
             count(*) AS cf
      FROM tokens GROUP BY term
    ),
    ranked AS (
      SELECT term, doc_id,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM (SELECT DISTINCT term, doc_id FROM tokens)
    ),
    postings AS (
      SELECT term,
             array_to_string(list_sort(list(doc_id)), ',') AS posting_head
      FROM ranked WHERE rn <= 100 GROUP BY term
    )
    SELECT s.term, s.df, s.cf, p.posting_head
    FROM stats s JOIN postings p USING (term)
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """term -> (df, cf, first-100 posting list). The posting head is
    rank-capped BEFORE aggregation (row_number <= 100 per term), so the
    per-term state during the list aggregate is bounded at 100 ids even
    when a stopword occurs in every document of a 100 TB corpus; df/cf
    come from a separate full aggregation with map-side combine. Both
    aggregations shuffle on the term key; the final stats-postings join
    is vocabulary-sized."""
    docs = sf_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    stats = tokens.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df"), F.count("*").alias("cf")
    )
    pairs = tokens.select("term", "doc_id").distinct()
    ranked = pairs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    )
    postings = (
        ranked.filter(F.col("rn") <= 100)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("posting_head")
        )
    )
    return stats.join(postings, "term").select("term", "df", "cf", "posting_head")


@register(
    "shard_assignment",
    """
    WITH hashed AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    )
    SELECT doc_id,
           strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS shard,
           row_number() OVER (
             PARTITION BY substr(h, 1, 1) ORDER BY h, doc_id
           ) AS pos
    FROM hashed
    """,
)
def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed 16-way shard assignment + within-shard position:
    shard = first md5 hex nibble, position = rank by full md5. Gives a
    reproducible global shuffle of the training corpus that is identical
    on every engine and every cluster size (seeded shuffles are not).
    One hash expression at the scan, one shard-keyed window — writing the
    output is then ``df.repartition(16, "shard").sortWithinPartitions
    ("pos")``, a single exchange. 16 shards here for oracle compactness;
    production uses more nibbles (256/4096-way) the same way."""
    docs = sf_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    return hashed.select(
        "doc_id",
        F.expr("locate(substr(h, 1, 1), '0123456789abcdef') - 1").alias(
            "shard"
        ),
        F.row_number()
        .over(
            Window.partitionBy(F.substring("h", 1, 1)).orderBy("h", "doc_id")
        )
        .alias("pos"),
    )
