"""Round-2 extensions, batch 64: average precision (PR-AUC), Spearman
rank correlation, Adamic–Adar link prediction.

Scale notes:
- AVERAGE PRECISION reuses the distinct-score histogram sweep from
  `quality_score_auc` (batch 44): group by score, one ordered window
  over |distinct scores| rows, constant reduction. Ranked-retrieval
  evaluation without a per-row global sort.
- SPEARMAN is Pearson on tie-averaged ranks. Ranks come from one
  partitioned window per variable (rank() + (tie-1)/2), then a single
  corr() aggregate — two sorts bounded by the group's rows, zero
  driver-side state.
- ADAMIC–ADAR enumerates wedges of the near-dup graph (adjacency
  self-join on the common neighbor). Wedge count is Σ deg(w)²; the
  near-dup graph is degree-bounded by construction (LSH bands cap
  fan-out), and a hub cap (drop w with deg > cap before the join) is
  the documented escape hatch for adversarial hubs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Average precision (area under the precision-recall curve, step-wise)
# ---------------------------------------------------------------------------
def _ap_oracle() -> str:
    from gemini_data_wrangler_spark.queries_ext44 import _SCORED_SQL

    return f"""
    WITH scored AS ({_SCORED_SQL}),
    by_score AS (
      SELECT score, sum(pos) AS np_s, count(*) - sum(pos) AS nf_s
      FROM scored GROUP BY score
    ), sweep AS (
      SELECT score, np_s, nf_s,
             sum(np_s) OVER (ORDER BY score DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp_cum,
             sum(np_s + nf_s) OVER (ORDER BY score DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_cum
      FROM by_score
    )
    SELECT round(sum(np_s * tp_cum / CAST(n_cum AS DOUBLE))
                 / sum(np_s), 6) AS average_precision,
           sum(np_s) AS n_pos,
           sum(nf_s) AS n_neg
    FROM sweep
    """


@register("quality_pr_auc", _ap_oracle())
def quality_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (step-interpolated PR-AUC) of the stopword
    quality score as a retriever of lang='en' docs: descend distinct
    scores, precision-at-threshold weighted by the recall gained there
    (AP = Σ ΔR·P). ROC-AUC (`quality_score_auc`) is prevalence-blind;
    AP is the metric that matters when positives are rare — exactly the
    regime of "find the 0.1% high-quality docs in a crawl". Same
    |distinct scores| histogram sweep; no per-row ranking."""
    from gemini_data_wrangler_spark.queries_ext44 import _scored

    s = _scored(spark, sf_dir)
    by_score = s.groupBy("score").agg(
        F.sum("pos").alias("np_s"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("nf_s"),
    )
    # Distributed prefix sums (`two_level_cumsum`, descending via
    # negated key, block = score/64 value buckets) — the threshold sweep
    # stays hash-partitioned as the distinct-score histogram grows.
    from gemini_data_wrangler_spark.operators.window import two_level_cumsum

    sweep = two_level_cumsum(
        by_score,
        key=-F.col("score"),
        tiebreaks=[],
        block=F.floor(-F.col("score") * 64).cast("long"),
        sums={
            "tp_cum": F.col("np_s"),
            "n_cum": F.col("np_s") + F.col("nf_s"),
        },
    )
    return sweep.agg(
        F.round(
            F.sum(
                F.col("np_s") * F.col("tp_cum") / F.col("n_cum").cast("double")
            )
            / F.sum("np_s"),
            6,
        ).alias("average_precision"),
        F.sum("np_s").alias("n_pos"),
        F.sum("nf_s").alias("n_neg"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation per group (tie-averaged ranks)
# ---------------------------------------------------------------------------
@register(
    "stats_spearman_corr",
    r"""
    WITH v AS (
      SELECT lang AS grp, n_chars AS x,
             len(regexp_split_to_array(trim(text), '\s+')) AS y
      FROM documents
    ), r AS (
      SELECT grp,
             rank() OVER (PARTITION BY grp ORDER BY x)
               + (count(*) OVER (PARTITION BY grp, x) - 1) / 2.0 AS rx,
             rank() OVER (PARTITION BY grp ORDER BY y)
               + (count(*) OVER (PARTITION BY grp, y) - 1) / 2.0 AS ry
      FROM v
    )
    SELECT grp, count(*) AS n, round(corr(rx, ry), 6) AS spearman_rho
    FROM r GROUP BY grp
    """,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between character count and token count
    per language: Pearson on tie-averaged ranks (rank() + (ties-1)/2 —
    the textbook midrank), the monotone-association measure that
    `profile_correlation_matrix`'s Pearson misses whenever the
    relationship is nonlinear. One window pair per variable inside each
    group partition, then a single corr() aggregate."""
    docs = sf_table(spark, sf_dir, "documents")
    v = docs.select(
        F.col("lang").alias("grp"),
        F.col("n_chars").alias("x"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("y"),
    )

    def midrank(col: str) -> F.Column:
        return F.rank().over(Window.partitionBy("grp").orderBy(col)) + (
            F.count(F.lit(1)).over(Window.partitionBy("grp", col)) - 1
        ) / 2.0

    r = v.select("grp", midrank("x").alias("rx"), midrank("y").alias("ry"))
    return r.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("rx", "ry"), 6).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction over the near-dup graph
# ---------------------------------------------------------------------------
def _aa_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import ngram_jaccard_oracle_sql

    pairs = ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    return f"""
    WITH pairs AS ({pairs}),
    adj AS (
      SELECT doc_a AS u, doc_b AS w FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT u AS node, count(*) AS degree FROM adj GROUP BY u),
    wedge AS (
      SELECT a1.u AS u, a2.w AS v, a1.w AS mid
      FROM adj a1 JOIN adj a2 ON a1.w = a2.u AND a1.u < a2.w
    ),
    scored AS (
      SELECT wedge.u, wedge.v,
             count(*) AS n_common,
             round(sum(1.0 / ln(deg.degree)), 6) AS aa_score
      FROM wedge JOIN deg ON wedge.mid = deg.node
      GROUP BY wedge.u, wedge.v
    )
    SELECT s.u AS doc_u, s.v AS doc_v, s.n_common, s.aa_score
    FROM scored s
    LEFT JOIN pairs p ON s.u = p.doc_a AND s.v = p.doc_b
    WHERE p.doc_a IS NULL
    """


@register("graph_adamic_adar", _aa_oracle())
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the near-dup graph: for every
    non-adjacent pair sharing ≥1 neighbor, Σ 1/ln(deg(common)) — rare
    shared neighbors count more. The dedup-pipeline use: pairs the
    verifier REJECTED but AA scores highly are the borderline cluster
    bridges worth a second, more expensive look. Adjacency self-join on
    the wedge midpoint (Σ deg² work, LSH-bounded degrees), degree table
    broadcast back, anti-join strips existing edges."""
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    # Shared eager-checkpointed pair memo: referenced five times below
    # (both union branches, both wedge sides, the anti-join) — every
    # branch replays checkpoint blocks instead of the LSH pipeline.
    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    adj = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("w")
    ).union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("w")))
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
    a1 = adj.alias("a1")
    a2 = adj.select(F.col("u").alias("mid"), F.col("w").alias("v")).alias("a2")
    wedge = a1.join(a2, (F.col("a1.w") == F.col("a2.mid")) & (F.col("a1.u") < F.col("a2.v"))).select(
        F.col("a1.u").alias("u"), F.col("a2.v").alias("v"), F.col("a1.w").alias("mid")
    )
    scored = (
        wedge.join(F.broadcast(deg), F.col("mid") == F.col("node"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(1.0 / F.log(F.col("degree"))), 6).alias("aa_score"),
        )
    )
    return (
        scored.join(
            pairs,
            (scored["u"] == pairs["doc_a"]) & (scored["v"] == pairs["doc_b"]),
            "left_anti",
        )
        .select(
            F.col("u").alias("doc_u"),
            F.col("v").alias("doc_v"),
            "n_common",
            "aa_score",
        )
    )
