"""Scale-pattern operators, round 5 — weighted reservoir sampling,
incremental aggregate-state maintenance, and Pareto skyline.

All north-star scope (the reference's stage algebra — SURVEY.md §2.1 —
has none of these), all with exact DuckDB oracles.

Scale shapes:
- Weighted sampling (Efraimidis–Spirakis A-ES): per-row key ln(u)/w with
  CONTENT-ADDRESSED u (md5 of the row key → uniform), then a global top-k
  (TakeOrderedAndProject: per-partition heaps + a k-row driver merge, no
  global sort). Content addressing makes the sample identical on any
  engine, any cluster size, any run — seeded RNG cannot cross engines.
- Incremental agg: keep mergeable state (sum, count) per group; a late
  batch re-aggregates ONLY its own rows and the states merge — the 100 TB
  win is never rescanning the base table. Merged result provably equals
  the full recompute (the oracle IS the full recompute; the measure is an
  integer-valued double so the re-associated sum is exact).
- Skyline: per-price min date, then a two-level distributed prefix-min
  over descending price (coarse range buckets in parallel + a tiny
  bucket-mins cumsum broadcast back) — no quadratic dominance join, no
  single-task global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Weighted reservoir sample (A-ES, content-addressed)
# ---------------------------------------------------------------------------
_WRS_K = 100


@register(
    "sample_weighted_reservoir",
    f"""
    SELECT o_orderkey, o_totalprice
    FROM (
      SELECT o_orderkey, o_totalprice,
             ln((CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                      AS BIGINT) + 1) / 4294967296.0) / o_totalprice AS key
      FROM orders
    )
    ORDER BY key DESC, o_orderkey
    LIMIT {_WRS_K}
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} weighted sample of orders, weight = o_totalprice: A-ES keys
    u^(1/w) compared in log space (ln(u)/w), u derived from md5(o_orderkey)
    so every engine draws the SAME sample."""
    o = sf_table(spark, sf_dir, "orders")
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + 1
    ) / F.lit(4294967296.0)
    key = F.log(u) / F.col("o_totalprice")
    return (
        o.select("o_orderkey", "o_totalprice", key.alias("_key"))
        .orderBy(F.col("_key").desc(), "o_orderkey")
        .limit(_WRS_K)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (mergeable partial states)
# ---------------------------------------------------------------------------
@register(
    "incremental_agg_merge",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS qty_sum,
           count(*) AS n_items,
           sum(l_quantity) / count(*) AS avg_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group stats maintained incrementally: a base state (shipdate <
    1997) merged with a late-batch state (the rest) by summing the
    mergeable (sum, count) pairs — equal to the full recompute, which is
    exactly what the oracle runs."""
    li = sf_table(spark, sf_dir, "lineitem")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity").alias("_s"), F.count(F.lit(1)).alias("_n")
        )

    base = state(li.filter(F.col("l_shipdate") < "1997-01-01"))
    delta = state(li.filter(F.col("l_shipdate") >= "1997-01-01"))
    return (
        base.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("_s").alias("qty_sum"), F.sum("_n").alias("n_items"))
        .select(
            "l_returnflag",
            "l_linestatus",
            "qty_sum",
            "n_items",
            (F.col("qty_sum") / F.col("n_items")).alias("avg_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto skyline (max price, min date) via distributed prefix-min
# ---------------------------------------------------------------------------
_SKY_COARSE = 10_000.0


@register(
    "skyline_price_date",
    """
    WITH pts AS (SELECT DISTINCT o_totalprice AS p, o_orderdate AS d FROM orders),
    md AS (SELECT p, min(d) AS d FROM pts GROUP BY p),
    w AS (
      SELECT p, d, min(d) OVER (
        ORDER BY p DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
      ) AS m
      FROM md
    )
    SELECT p AS o_totalprice, d AS o_orderdate
    FROM w WHERE m IS NULL OR d < m
    """,
)
def skyline_price_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal (highest price, earliest date) order points: the
    skyline operator. A point survives iff its date beats the min date of
    every strictly-higher price — one per-price aggregate + a two-level
    distributed prefix-min over descending price."""
    pts = (
        sf_table(spark, sf_dir, "orders")
        .select(F.col("o_totalprice").alias("p"), F.col("o_orderdate").alias("d"))
        .groupBy("p")
        .agg(F.min("d").alias("d"))
        .withColumn("_coarse", F.floor(F.col("p") / _SKY_COARSE))
    )
    # prefix-min of d over prices DESC, exclusive — two-level: within-bucket
    # running min (parallel) + min over all strictly-higher coarse buckets
    # (tiny table, broadcast back).
    in_bucket = Window.partitionBy("_coarse").orderBy(F.col("p").desc())
    local = pts.withColumn(
        "_lm",
        F.min("d").over(in_bucket.rowsBetween(Window.unboundedPreceding, -1)),
    )
    bucket_mins = pts.groupBy("_coarse").agg(F.min("d").alias("_bm"))
    higher = bucket_mins.withColumn(
        "_hm",
        F.min("_bm").over(
            Window.orderBy(F.col("_coarse").desc()).rowsBetween(
                Window.unboundedPreceding, -1
            )
        ),
    ).select("_coarse", "_hm")
    return (
        local.join(F.broadcast(higher), "_coarse")
        .withColumn("_m", F.least(F.col("_lm"), F.col("_hm")))
        .filter(F.col("_m").isNull() | (F.col("d") < F.col("_m")))
        .select(F.col("p").alias("o_totalprice"), F.col("d").alias("o_orderdate"))
    )
