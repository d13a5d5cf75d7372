"""Round-2 extensions, batch 59: partition modularity, Poisson
dispersion index.

Scale notes:
- MODULARITY scores the dedup clustering the engine already produces:
  Q = Σ_c [m_c/m − (d_c/2m)²] over the near-dup graph — one equi-join
  of edges against the cluster labels plus two bounded aggregates
  (per-cluster internal-edge and degree sums). Linear in edges, the
  same pair kernel every dedup query shares.
- DISPERSION INDEX is a two-level aggregate over the bounded
  (type × hour) grid — the overdispersion screen that says whether
  per-hour counts are Poisson-like (index ≈ 1) or bursty (≫ 1),
  which decides if `events_burst_detection`'s thresholds are even
  meaningful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Modularity of the near-dup clustering
# ---------------------------------------------------------------------------
def _modularity_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import (
        connected_components_oracle_sql,
        ngram_jaccard_oracle_sql,
    )

    pairs = ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    cc = connected_components_oracle_sql("SELECT doc_a, doc_b FROM pairs")
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    comp AS ({cc}),
    m AS (SELECT count(*) AS m FROM pairs),
    internal AS (
      SELECT ca.cluster_id, count(*) AS mc
      FROM pairs p
      JOIN comp ca ON p.doc_a = ca.doc_id
      JOIN comp cb ON p.doc_b = cb.doc_id AND ca.cluster_id = cb.cluster_id
      GROUP BY ca.cluster_id
    ), deg AS (
      SELECT c.cluster_id, count(*) AS dc FROM (
        SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs
      ) e JOIN comp c ON e.doc_id = c.doc_id
      GROUP BY c.cluster_id
    )
    SELECT (SELECT count(*) FROM internal) AS n_clusters,
           (SELECT m FROM m) AS n_edges,
           round(sum(CAST(i.mc AS DOUBLE) / m.m
                     - power(CAST(d.dc AS DOUBLE) / (2 * m.m), 2)), 6) AS modularity
    FROM internal i JOIN deg d ON i.cluster_id = d.cluster_id CROSS JOIN m
    """


@register("graph_modularity", _modularity_oracle())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the connected-component dedup clustering
    over the near-dup graph: Σ_c [m_c/m − (d_c/2m)²] — how much denser
    the clusters are than a degree-preserving random rewiring (CC
    partitions score near the 1 − Σ(d_c/2m)² ceiling because every
    edge is internal by construction; Q collapsing toward 0 would mean
    the graph is one giant blob and the threshold needs raising). One
    label join over the shared pair kernel + two cluster-bounded
    aggregates."""
    from gemini_data_wrangler_spark.operators.dedup import connected_components
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    # Shared eager-checkpointed pair memo: CC + internal + deg branches
    # all replay its blocks.
    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    comp = connected_components(pairs)
    ca = comp.select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("_ca"))
    cb = comp.select(F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("_cb"))
    internal = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("mc"))
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .join(comp, "doc_id")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("dc"))
    )
    m = pairs.agg(F.count(F.lit(1)).alias("m"))
    joined = internal.join(deg, "cluster_id").crossJoin(F.broadcast(m))
    return joined.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.first("m").alias("n_edges"),
        F.round(
            F.sum(
                F.col("mc").cast("double") / F.col("m")
                - F.pow(F.col("dc").cast("double") / (2 * F.col("m")), 2)
            ),
            6,
        ).alias("modularity"),
    )


# ---------------------------------------------------------------------------
# Poisson dispersion index of per-hour event counts
# ---------------------------------------------------------------------------
@register(
    "events_dispersion_index",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           count(*) AS n_hours,
           round(avg(CAST(n AS DOUBLE)), 6) AS mean_per_hour,
           round(var_samp(CAST(n AS DOUBLE)), 6) AS var_per_hour,
           round(var_samp(CAST(n AS DOUBLE)) / avg(CAST(n AS DOUBLE)), 6)
             AS dispersion_index,
           (var_samp(CAST(n AS DOUBLE)) / avg(CAST(n AS DOUBLE))
              BETWEEN 1 - 4 * sqrt(2.0 / (count(*) - 1))
                  AND 1 + 4 * sqrt(2.0 / (count(*) - 1))) AS poisson_like
    FROM hourly GROUP BY event_type
    """,
)
def events_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion (variance-to-mean) index of per-hour event
    counts per type: ≈ 1 for a Poisson arrival process (the
    `poisson_like` gate allows 4σ of the χ²-based sampling noise,
    σ ≈ √(2/(n−1))), ≫ 1 means bursty/overdispersed arrivals — the
    pre-check that decides whether rate thresholds
    (`events_burst_detection`) and exponential interarrival models
    (`events_interarrival_stats`) are valid at all. Two bounded
    aggregates over the (type × hour) grid."""
    events = sf_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    nd = F.col("n").cast("double")
    di = F.var_samp(nd) / F.avg(nd)
    band = 4 * F.sqrt(2.0 / (F.count(F.lit(1)) - 1))
    return hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(F.avg(nd), 6).alias("mean_per_hour"),
        F.round(F.var_samp(nd), 6).alias("var_per_hour"),
        F.round(di, 6).alias("dispersion_index"),
        di.between(1 - band, 1 + band).alias("poisson_like"),
    )
