"""Round-2 extensions, batch 100: rank-biased overlap between period
top-k lists.

Scale notes: RBO (Webber et al. 2010) is the top-weighted similarity
between two rankings — the metric for "how much did the leaderboard
actually change" that plain set overlap and Kendall both get wrong for
truncated lists. The rankings themselves are one grouped revenue pass
per period (map-side partial sums) + a bounded window; the RBO sum is
|depths| x |brands| arithmetic on the bounded rank tables, with exact
integer prefix-overlap counts so the truncated RBO value is
deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


_RBO_P = 0.9
_RBO_K = 20
_RBO_SPLIT = "1996-01-01"  # period boundary on l_shipdate


@register(
    "rec_rank_biased_overlap",
    f"""
    WITH rev AS MATERIALIZED (
      SELECT p.p_brand,
             CASE WHEN CAST(l.l_shipdate AS DATE) < DATE '{_RBO_SPLIT}'
                  THEN 0 ELSE 1 END AS period,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ), ranked AS MATERIALIZED (
      SELECT p_brand, period,
             row_number() OVER (PARTITION BY period
                                ORDER BY cents DESC, p_brand) AS rk
      FROM rev
    ), depths AS (SELECT unnest(range(1, {_RBO_K + 1})) AS d),
    ov AS (
      SELECT dep.d, count(*) AS agree
      FROM depths dep
      JOIN ranked a ON a.period = 0 AND a.rk <= dep.d
      JOIN ranked b ON b.period = 1 AND b.rk <= dep.d AND b.p_brand = a.p_brand
      GROUP BY dep.d
    )
    SELECT {_RBO_K} AS depth,
           round((1.0 - {_RBO_P}) * sum(power({_RBO_P}, d - 1)
                   * COALESCE(agree, 0) * 1.0 / d), 6) AS rbo_min,
           round(sum(CASE WHEN d = {_RBO_K} THEN agree ELSE 0 END) * 1.0
                 / {_RBO_K}, 6) AS overlap_at_k
    FROM depths LEFT JOIN ov USING (d)
    """,
)
def rec_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p={_RBO_P}, truncated at depth {_RBO_K})
    between the brand revenue leaderboards of the two shipping periods:
    RBO_min = (1-p) * sum p^(d-1) * |A_d intersect B_d| / d — the
    top-weighted ranking-stability metric. Revenue sums run in exact
    integer cents (deterministic ranks, ties to brand name); prefix
    overlaps are integer counts over bounded rank tables."""
    li = sf_table(spark, sf_dir, "lineitem")
    part = sf_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li["l_partkey"] == F.col("p_partkey"))
        .groupBy(
            "p_brand",
            F.when(F.to_date("l_shipdate") < _RBO_SPLIT, 0).otherwise(1).alias("period"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents")
        )
    )
    w = Window.partitionBy("period").orderBy(F.desc("cents"), F.asc("p_brand"))
    # eager: period-0 and period-1 branches both scan the ranking
    ranked = rev.withColumn("rk", F.row_number().over(w)).localCheckpoint()
    depths = li.sparkSession.range(1, _RBO_K + 1).select(
        F.col("id").cast("int").alias("d")
    )
    a = ranked.filter(F.col("period") == 0).select(
        F.col("p_brand"), F.col("rk").alias("ra")
    )
    b = ranked.filter(F.col("period") == 1).select(
        F.col("p_brand"), F.col("rk").alias("rb")
    )
    both = a.join(b, "p_brand")
    ov = (
        depths.join(
            both, (F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")), "left"
        )
        .groupBy("d")
        .agg(F.count(F.col("p_brand")).alias("agree"))
    )
    term = F.pow(F.lit(_RBO_P), F.col("d") - 1) * F.col("agree") / F.col("d")
    return ov.agg(
        F.lit(_RBO_K).alias("depth"),
        F.round((1.0 - _RBO_P) * F.sum(term), 6).alias("rbo_min"),
        F.round(
            F.sum(F.when(F.col("d") == _RBO_K, F.col("agree")).otherwise(0)) * 1.0
            / _RBO_K,
            6,
        ).alias("overlap_at_k"),
    )
