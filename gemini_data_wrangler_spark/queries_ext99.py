"""Round-2 extensions, batch 99: Lorenz curve and the per-source
near-duplication report.

Scale notes:
- LORENZ: cumulative balance share per population decile — exact
  integer-cents prefix sums over the deterministic ntile deciles (the
  same two-level machinery as the Gini/Atkinson family it completes).
- NEAR-DUP RATE: the per-source curation report a 100 TB pipeline
  publishes after dedup — what fraction of each source's documents
  participates in at least one verified near-dup pair. Membership is a
  semi-join of the doc table against the (LSH-candidate, exact-verified)
  pair set; per-source ratios are integer-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Lorenz curve of positive account balances
# ---------------------------------------------------------------------------
@register(
    "agg_lorenz_curve",
    """
    WITH pos AS MATERIALIZED (
      SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer WHERE c_acctbal > 0
    ), d AS (
      SELECT decile, count(*) AS n, sum(cents) AS cents FROM pos GROUP BY decile
    )
    SELECT decile, n,
           round(sum(cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                 * 1.0 / sum(cents) OVER (), 6) AS cum_share,
           round(cents * 1.0 / sum(cents) OVER (), 6) AS decile_share
    FROM d
    """,
)
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of positive account balances: cumulative share of
    total balance held by the bottom k deciles (deterministic ntile,
    integer-cents sums — exact parity). The distributional picture the
    Gini/Atkinson scalars summarize; a curve hugging the diagonal means
    equality.

    Scale: the decile assignment is the distributed two-level rank
    (`two_level_rank`, block = floor(acctbal) — order-preserving value
    buckets) + the closed-form `ntile_from_rank`, so no customer-sized
    single-task window; only the 10-row decile table sees ordered
    windows."""
    from gemini_data_wrangler_spark.operators.window import (
        ntile_from_rank,
        two_level_rank,
    )

    cust = sf_table(spark, sf_dir, "customer")
    filt = cust.filter(F.col("c_acctbal") > 0)
    n_tot = filt.agg(F.count(F.lit(1)).alias("_n"))
    ranked = two_level_rank(
        filt,
        key=F.col("c_acctbal"),
        tiebreaks=[F.col("c_custkey")],
        block=F.floor("c_acctbal").cast("long"),
    )
    pos = ranked.crossJoin(F.broadcast(n_tot)).select(
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        ntile_from_rank(F.col("_grank"), F.col("_n"), 10).alias("decile"),
    )
    d = pos.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return d.select(
        "decile",
        "n",
        F.round(
            F.sum("cents").over(wc) * 1.0 / F.sum("cents").over(wall), 6
        ).alias("cum_share"),
        F.round(F.col("cents") * 1.0 / F.sum("cents").over(wall), 6).alias(
            "decile_share"
        ),
    )


# ---------------------------------------------------------------------------
# Per-source near-duplication report
# ---------------------------------------------------------------------------
def _neardup_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import ngram_jaccard_oracle_sql

    pairs = ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    members AS MATERIALIZED (
      SELECT DISTINCT doc FROM (
        SELECT doc_a AS doc FROM pairs UNION ALL SELECT doc_b FROM pairs
      )
    )
    SELECT d.source, count(*) AS n_docs,
           sum(CASE WHEN m.doc IS NOT NULL THEN 1 ELSE 0 END) AS n_neardup,
           round(sum(CASE WHEN m.doc IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS neardup_rate
    FROM documents d LEFT JOIN members m ON m.doc = d.doc_id
    GROUP BY d.source
    """


@register("corpus_neardup_by_source", _neardup_oracle())
def corpus_neardup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-duplication report: the fraction of each source's
    documents that participates in at least one verified near-dup pair
    (LSH candidates + exact jaccard >= 0.8). Membership is one semi-ish
    left join of the doc table against the bounded pair-participant set;
    ratios are integer-exact. The curation scoreboard that tells a
    pipeline WHICH feeds to clean first."""
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    docs = sf_table(spark, sf_dir, "documents")
    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    members = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
        .withColumn("_m", F.lit(1))
    )
    joined = docs.join(F.broadcast(members), docs["doc_id"] == members["doc"], "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("_m").isNotNull(), 1).otherwise(0)).alias("n_neardup"),
        F.round(
            F.sum(F.when(F.col("_m").isNotNull(), 1).otherwise(0)) * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("neardup_rate"),
    )


# ---------------------------------------------------------------------------
# Theil T inequality index
# ---------------------------------------------------------------------------
@register(
    "agg_theil_index",
    """
    WITH pos AS (SELECT c_acctbal AS v FROM customer WHERE c_acctbal > 0)
    SELECT count(*) AS n,
           round(avg(v), 4) AS mean_balance,
           round(avg(v / (SELECT avg(v) FROM pos)
                     * ln(v / (SELECT avg(v) FROM pos))), 6) AS theil_t
    FROM pos
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index over positive account balances: E[(v/mu) ln(v/mu)]
    — the entropy-based inequality measure that, unlike Gini, decomposes
    additively across subgroups. Two cheap aggregates (the mean, then
    one normalized-log pass); completes the Gini / Atkinson / Lorenz
    inequality family."""
    cust = sf_table(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).select(F.col("c_acctbal").alias("v"))
    mu = pos.agg(F.avg("v").alias("mu"))
    j = pos.crossJoin(F.broadcast(mu))
    r = F.col("v") / F.col("mu")
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v"), 4).alias("mean_balance"),
        F.round(F.avg(r * F.log(r)), 6).alias("theil_t"),
    )
