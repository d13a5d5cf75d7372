"""Round-2 extensions, batch 67: mutual-kNN graph, QQ decile drift
comparison, hapax-legomena vocabulary richness.

Scale notes:
- MUTUAL-kNN runs on the tiled numpy-prune + JVM-exact-rescore kernel
  (`operators/similarity.py::knn_directed`): no full-table broadcast, no
  driver materialization, O(n·k·blocks) candidates out of the O(n²)
  space, numpy only prunes (per-tile local top-k is a guaranteed
  superset of global top-k). Beyond the exact tier the same mutual
  filter runs over LSH/IVF candidates.
- QQ deciles are two grouped exact-percentile aggregates over a
  2-source filter — constant output, fully partial-aggregated.
- HAPAX is the word-frequency table (token-domain-sized, the same
  reduction as `text_zipf_fit`) folded to per-source richness ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Mutual-kNN graph over embeddings
# ---------------------------------------------------------------------------
_KNN_K = 5


def _mutual_knn_oracle() -> str:
    return f"""
    WITH scored AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             round(
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
             6) AS sim
      FROM embeddings a CROSS JOIN embeddings b
      WHERE a.vec_id != b.vec_id
    ), ranked AS (
      SELECT u, v, sim,
             row_number() OVER (PARTITION BY u ORDER BY sim DESC, v ASC) AS rk
      FROM scored
    )
    SELECT r1.u AS vec_u, r1.v AS vec_v, r1.sim,
           r1.rk AS rank_uv, r2.rk AS rank_vu
    FROM ranked r1 JOIN ranked r2 ON r1.u = r2.v AND r1.v = r2.u
    WHERE r1.rk <= {_KNN_K} AND r2.rk <= {_KNN_K} AND r1.u < r1.v
    """


@register("similarity_mutual_knn", _mutual_knn_oracle())
def similarity_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN edge list (k=5): (u,v) kept iff each is in the
    other's exact top-5 by cosine — the sparsified similarity graph
    density clustering starts from (mutuality drops the hub edges plain
    kNN keeps). Exact everywhere: tiled numpy prunes the n² space to
    per-tile local top-k supersets, the JVM fold re-scores candidates,
    rounded ranking decides — so the brute-force SQL oracle matches
    hash-for-hash. PUBLISHER of the shared directed-kNN memo
    (shared_builds.knn_table): always rebuilds; kNN components and the
    kNN-density outlier screen reuse the checkpointed table."""
    from gemini_data_wrangler_spark.operators.similarity import mutual_knn_edges
    from gemini_data_wrangler_spark.shared_builds import knn_table

    emb = sf_table(spark, sf_dir, "embeddings")
    knn = knn_table(spark, sf_dir, reuse=False, k=_KNN_K)
    return mutual_knn_edges(emb, k=_KNN_K, knn=knn)


# ---------------------------------------------------------------------------
# QQ decile comparison between two sources (distribution drift, readable)
# ---------------------------------------------------------------------------
_QQ_A, _QQ_B = "src0", "src1"


@register(
    "stats_qq_deciles",
    f"""
    WITH qa AS (
      SELECT quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM documents WHERE source = '{_QQ_A}'
    ), qb AS (
      SELECT quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM documents WHERE source = '{_QQ_B}'
    ), idx AS (SELECT unnest(generate_series(1, 9)) AS i)
    SELECT i / 10.0 AS p,
           round(qa.qs[i], 6) AS q_a,
           round(qb.qs[i], 6) AS q_b,
           round(qb.qs[i] - qa.qs[i], 6) + 0.0 AS qq_gap
    FROM idx, qa, qb
    """,
)
def stats_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ plot at the deciles: exact p10..p90 of document length for two
    sources side by side, plus the gap — the READABLE drift diagnostic
    (KS says "distributions differ", the QQ table says WHERE: head,
    body, or tail). Two percentile aggregates over a filtered scan,
    constant 9-row output."""
    docs = sf_table(spark, sf_dir, "documents")
    ps = [round(0.1 * i, 1) for i in range(1, 10)]
    qa = docs.filter(F.col("source") == _QQ_A).agg(
        F.expr(f"percentile(n_chars, array({', '.join(map(str, ps))}))").alias("qs")
    )
    qb = docs.filter(F.col("source") == _QQ_B).agg(
        F.expr(f"percentile(n_chars, array({', '.join(map(str, ps))}))").alias("qs")
    )
    spine = spark.range(1, 10).select((F.col("id") / 10.0).alias("p"), F.col("id").alias("i"))
    return (
        spine.crossJoin(F.broadcast(qa.select(F.col("qs").alias("_qa"))))
        .crossJoin(F.broadcast(qb.select(F.col("qs").alias("_qb"))))
        .select(
            "p",
            F.round(F.element_at("_qa", F.col("i").cast("int")), 6).alias("q_a"),
            F.round(F.element_at("_qb", F.col("i").cast("int")), 6).alias("q_b"),
            (
                F.round(
                    F.element_at("_qb", F.col("i").cast("int"))
                    - F.element_at("_qa", F.col("i").cast("int")),
                    6,
                )
                + 0.0
            ).alias("qq_gap"),
        )
    )


# ---------------------------------------------------------------------------
# Hapax legomena / vocabulary richness per source
# ---------------------------------------------------------------------------
@register(
    "text_hapax_ratio",
    r"""
    WITH tok AS (
      SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
      FROM documents
    ), wf AS (
      SELECT source, t, count(*) AS c FROM tok GROUP BY source, t
    )
    SELECT source,
           sum(c) AS n_tokens,
           count(*) AS vocab,
           sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
             AS hapax_ratio,
           round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS type_token_ratio
    FROM wf GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena share and type-token ratio per source: the
    vocabulary-richness fingerprint (natural text runs ~40-60% hapax;
    template/boilerplate-heavy sources collapse far below — a cheap
    synthetic-text detector that complements `text_zipf_fit`'s slope).
    Explode → word-frequency table (token-domain-sized) → per-source
    constant reduction."""
    docs = sf_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("t")
    )
    wf = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    return wf.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_ratio"),
        F.round(F.count(F.lit(1)) / F.sum("c").cast("double"), 6).alias(
            "type_token_ratio"
        ),
    )
