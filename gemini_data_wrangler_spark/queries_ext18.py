"""Round-2 extensions, batch 18: classifier evaluation (confusion matrix,
NDCG), embedding-space class statistics, bounded-window event dedup, and
dedup survivorship merge.

Scale notes:
- The confusion matrix is one groupBy over (actual, predicted) — the
  evaluation table every heuristic classifier (language-ID here) ships
  with; shares are normalized by a window over the tiny matrix.
- Embedding label stats need two passes (centroid, then distance to it):
  both are partial-aggregated shuffles keyed by (label[, dim]); the
  centroid table is broadcast back. This is the cluster-quality profile
  run after k-means / before SemDeDup.
- Window dedup is the batch mirror of streaming
  `dropDuplicatesWithinWatermark`: one lag window per (user, type) —
  bounded state, no self-join.
- Survivorship merges each near-dup cluster to one canonical record
  (min id, max length, member count, union of sources) — the step after
  `dedup_keep_best` picks a winner; one groupBy over the component table.
- NDCG reduces ANN ranking QUALITY (not just set recall) to a
  driver-gated boolean, complementing the recall gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (heuristic prediction vs labeled lang)
# ---------------------------------------------------------------------------
def _confusion_oracle() -> str:
    from gemini_data_wrangler_spark.functions.text import language_id_oracle_sql

    return f"""
    WITH pred AS (
      SELECT lang AS actual, {language_id_oracle_sql("text")} AS predicted
      FROM documents
    )
    SELECT actual, predicted, count(*) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (PARTITION BY actual), 6) AS share
    FROM pred GROUP BY actual, predicted
    """


@register("langid_confusion", _confusion_oracle())
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword language-ID heuristic against the
    labeled `lang` column: (actual, predicted) counts + per-actual share.
    One groupBy over derived keys; the normalizing window runs over the
    |langs|² matrix. The standard acceptance gate before swapping a
    classifier into the corpus pipeline."""
    from gemini_data_wrangler_spark.functions.text import language_id

    docs = sf_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("actual"), language_id(F.col("text")).alias("predicted")
    )
    c = pred.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("actual")
    return c.select(
        "actual",
        "predicted",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# Per-label embedding statistics (centroid norm, dispersion)
# ---------------------------------------------------------------------------
@register(
    "embedding_label_stats",
    """
    WITH dims AS (
      SELECT label, vec_id, j, CAST(embedding[j] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS j) t
    ), cent AS (
      SELECT label, j, avg(x) AS c FROM dims GROUP BY label, j
    ), dist AS (
      SELECT d.label, d.vec_id, sqrt(sum((d.x - c.c) * (d.x - c.c))) AS dc
      FROM dims d JOIN cent c ON d.label = c.label AND d.j = c.j
      GROUP BY d.label, d.vec_id
    ), cnorm AS (
      SELECT label, sqrt(sum(c * c)) AS centroid_norm FROM cent GROUP BY label
    )
    SELECT dist.label, count(*) AS n_vectors,
           round(any_value(centroid_norm), 6) AS centroid_norm,
           round(avg(dc), 6) AS avg_dist_to_centroid,
           round(max(dc), 6) AS max_dist_to_centroid
    FROM dist JOIN cnorm ON dist.label = cnorm.label
    GROUP BY dist.label
    """,
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding geometry: centroid norm and mean/max distance to
    centroid — the cluster-quality profile run before semantic dedup or
    after k-means. Two partial-aggregated passes (per-(label,dim) means,
    then per-vector distances against the broadcast centroid table);
    everything keyed, nothing driver-side."""
    emb = sf_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "j0", "x"
        ),
    )
    cent = dims.groupBy("label", "j0").agg(F.avg("x").alias("c"))
    dist = (
        dims.join(F.broadcast(cent), ["label", "j0"])
        .groupBy("label", "vec_id")
        .agg(F.sqrt(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))).alias("dc"))
    )
    cnorm = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("centroid_norm"))
    return (
        dist.join(F.broadcast(cnorm), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.any_value("centroid_norm"), 6).alias("centroid_norm"),
            F.round(F.avg("dc"), 6).alias("avg_dist_to_centroid"),
            F.round(F.max("dc"), 6).alias("max_dist_to_centroid"),
        )
    )


# ---------------------------------------------------------------------------
# Bounded-window event dedup (batch mirror of dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------
_DEDUP_WINDOW_S = 300


@register(
    "events_dedup_window",
    f"""
    WITH lagged AS (
      SELECT event_id, user_id, event_type, ts,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_id, user_id, event_type, ts,
           (gap_us IS NOT NULL AND gap_us < {_DEDUP_WINDOW_S} * 1000000)
             AS is_dup
    FROM lagged
    """,
)
def events_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window dedup: an event is a duplicate when the SAME
    (user, type) fired within the previous 300 s — the batch mirror of
    streaming `dropDuplicatesWithinWatermark` (same bounded-state
    semantics: one prior timestamp per key). One lag window, no
    self-join; the filter is `WHERE NOT is_dup`."""
    events = sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        (gap.isNotNull() & (gap < _DEDUP_WINDOW_S * 1_000_000)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Dedup survivorship: merge each near-dup cluster to one canonical record
# ---------------------------------------------------------------------------
def _survivorship_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import (
        connected_components_oracle_sql,
        ngram_jaccard_oracle_sql,
    )

    closure = connected_components_oracle_sql(
        ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    )
    return f"""
    WITH comp AS ({closure})
    SELECT c.cluster_id,
           min(d.doc_id) AS canonical_id,
           count(*) AS n_members,
           max(d.n_chars) AS max_chars,
           array_to_string(list_sort(list(DISTINCT d.source)), '|') AS sources
    FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    GROUP BY c.cluster_id
    """


@register("dedup_survivorship", _survivorship_oracle())
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge: collapse every near-dup cluster to one
    canonical record — smallest id as the stable key, longest member's
    size, member count, and the UNION of sources (provenance kept for
    licensing/attribution). One groupBy over the component table joined
    to the docs; the step after `dedup_keep_best` chooses the winner."""
    from gemini_data_wrangler_spark.operators.dedup import connected_components
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    docs = sf_table(spark, sf_dir, "documents")
    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    comp = connected_components(pairs)
    return (
        comp.join(docs, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max("n_chars").alias("max_chars"),
            F.array_join(F.sort_array(F.collect_set("source")), "|").alias(
                "sources"
            ),
        )
    )


# ---------------------------------------------------------------------------
# NDCG gate for ANN ranking quality
# ---------------------------------------------------------------------------
def _ndcg_oracle() -> str:
    from gemini_data_wrangler_spark.queries_ext import _ANN_QUERY_IDS

    return (
        "SELECT vec_id AS query_id, TRUE AS ndcg_ok FROM embeddings "
        "WHERE vec_id IN ({ids})"
    ).format(ids=", ".join(str(i) for i in _ANN_QUERY_IDS))


@register("similarity_ndcg_check", _ndcg_oracle())
def similarity_ndcg_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the LSH ranking against exact cosine, floored at 0.8 per
    query — ranking QUALITY, not just set recall (a method that returns
    the right 10 in the wrong order scores < 1 here). Relevance of a
    candidate is (11 − exact_rank) for exact-top-10 members else 0; DCG
    discounts by log2(position+1); IDCG comes from the exact ranking
    itself. Pinned-TRUE oracle like the recall gates.
    Both rankings come from the session-shared lists (round 7): the
    exact side from `ann_exact_topk`, the LSH side from the
    `approx_topk_list` the `similarity_lsh_topk` publisher builds with
    identical parameters — no re-scan, no re-search."""
    from gemini_data_wrangler_spark.shared_builds import ann_exact_topk, approx_topk_list

    exact = ann_exact_topk(spark, sf_dir, reuse=True, k=10).select(
        "query_id", "vec_id", (11 - F.col("rank")).cast("double").alias("rel")
    )
    approx = approx_topk_list(spark, sf_dir, "lsh", reuse=True).select(
        "query_id", "vec_id", "rank"
    )
    disc = lambda r: F.log2(r.cast("double") + 1)  # noqa: E731
    dcg = (
        approx.join(exact, ["query_id", "vec_id"], "left")
        .withColumn("g", F.coalesce("rel", F.lit(0.0)) / disc(F.col("rank")))
        .groupBy("query_id")
        .agg(F.sum("g").alias("dcg"))
    )
    idcg = (
        exact.withColumn("r", F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "vec_id")
        ))
        .withColumn("g", F.col("rel") / disc(F.col("r")))
        .groupBy("query_id")
        .agg(F.sum("g").alias("idcg"))
    )
    return (
        idcg.join(dcg, "query_id", "left")
        .select(
            "query_id",
            ((F.coalesce("dcg", F.lit(0.0)) / F.col("idcg")) >= 0.8).alias("ndcg_ok"),
        )
    )
