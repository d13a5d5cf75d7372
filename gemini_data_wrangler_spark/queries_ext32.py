"""Round-2 extensions, batch 32: cross-table referential integrity,
freshness lag, and embedding centroid-outlier screening.

Scale notes:
- REFERENTIAL INTEGRITY: each relationship is one left-anti join on the
  FK (broadcast when the parent key set is dim-sized, shuffle hash
  otherwise — Catalyst's call); counts are map-side combined. The
  release gate that catches a partial parent load before training data
  ships with dangling keys.
- FRESHNESS: max(ts) per source is a scan-local aggregate; the lag
  compares to the freshest source — the staleness page every ingestion
  dashboard leads with.
- EMBEDDING OUTLIERS: reuses the per-(label,dim) centroid shape from
  `embedding_label_stats`; the 3σ screen is one more grouped pass. At
  100 TB the centroid table is (labels × dims) rows — always broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Referential integrity across the star schema
# ---------------------------------------------------------------------------
@register(
    "dq_referential_integrity",
    """
    SELECT * FROM (
      SELECT 'orders->customer' AS relationship,
             (SELECT count(*) FROM orders) AS n_child,
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) AS n_orphans
      UNION ALL
      SELECT 'lineitem->orders',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'customer->nation',
             (SELECT count(*) FROM customer),
             (SELECT count(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM nation n
                                WHERE n.n_nationkey = c.c_nationkey))
      UNION ALL
      SELECT 'lineitem->part',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey))
    )
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over the star schema's FK edges:
    orphan counts per relationship via left-anti joins (zero on a clean
    load — the value IS the assertion; a partial parent-table load shows
    up as a nonzero orphan count before anything joins silently to
    null). Each edge is one anti join + one count, keyed and
    broadcast-friendly."""
    t = {n: sf_table(spark, sf_dir, n) for n in
         ("orders", "lineitem", "customer", "nation", "part")}
    edges = [
        ("orders->customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        ("lineitem->orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        ("customer->nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
        ("lineitem->part", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
    ]
    # One lazy union instead of 8 sequential driver-blocking count jobs
    # (round 7): each edge contributes a 1-row (count × orphan-count)
    # branch; a single downstream action computes all branches, and the
    # independent subtrees' stages overlap instead of running one
    # scheduler round-trip at a time (guide §2.6).
    parts = []
    for name, child, fk, parent, pk in edges:
        n_child = child.agg(F.count(F.lit(1)).alias("n_child"))
        n_orphans = (
            child.join(parent.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        parts.append(
            n_child.crossJoin(n_orphans).select(
                F.lit(name).alias("relationship"),
                F.col("n_child").cast("long"),
                F.col("n_orphans").cast("long"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# Freshness lag per time-bearing source
# ---------------------------------------------------------------------------
_FRESH_SLA_DAYS = 7

@register(
    "dq_freshness_lag",
    f"""
    WITH src AS (
      SELECT 'orders' AS source, max(CAST(o_orderdate AS DATE)) AS latest
      FROM orders
      UNION ALL
      SELECT 'events', max(CAST(ts AS DATE)) FROM events
    ), anchor AS (SELECT max(latest) AS freshest FROM src)
    SELECT source, latest,
           date_diff('day', latest, (SELECT freshest FROM anchor)) AS lag_days,
           date_diff('day', latest, (SELECT freshest FROM anchor))
             <= {_FRESH_SLA_DAYS} AS within_sla
    FROM src
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness lag per time-bearing source: each source's latest
    day versus the freshest source, flagged against a
    {_FRESH_SLA_DAYS}-day SLA — the staleness read that catches a
    silently-stalled ingestion before a training snapshot is cut.
    One scan-local max per source."""
    orders = sf_table(spark, sf_dir, "orders")
    events = sf_table(spark, sf_dir, "events")
    src = orders.agg(
        F.lit("orders").alias("source"),
        F.max(F.to_date("o_orderdate")).alias("latest"),
    ).unionAll(
        events.agg(
            F.lit("events").alias("source"), F.max(F.to_date("ts")).alias("latest")
        )
    )
    anchor = src.agg(F.max("latest").alias("freshest"))
    lag = F.datediff("freshest", "latest")
    return src.crossJoin(F.broadcast(anchor)).select(
        "source",
        "latest",
        lag.alias("lag_days"),
        (lag <= _FRESH_SLA_DAYS).alias("within_sla"),
    )


# ---------------------------------------------------------------------------
# Embedding centroid outliers (3σ distance screen per label)
# ---------------------------------------------------------------------------
@register(
    "embedding_centroid_outliers",
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
    ), stats AS (
      SELECT label, avg(dc) AS mu, stddev_samp(dc) AS sd FROM dist GROUP BY label
    )
    SELECT d.label, d.vec_id, round(d.dc, 6) AS dist_to_centroid,
           round((d.dc - s.mu) / s.sd, 6) AS z
    FROM dist d JOIN stats s ON d.label = s.label
    WHERE d.dc > s.mu + 2.5 * s.sd
    """,
)
def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: vectors farther than 2.5σ from
    their class centroid — mislabeled or corrupted points that poison
    class-conditional sampling and SemDeDup blocking. Same
    per-(label,dim) centroid pass as `embedding_label_stats`, one extra
    per-label moment pass, then a row-local screen; the centroid and
    stats tables are broadcast-sized at any corpus scale."""
    emb = sf_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        "vec_id",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("j0", "x"),
    )
    cent = dims.groupBy("label", "j0").agg(F.avg("x").alias("c"))
    dist = (
        dims.join(F.broadcast(cent), ["label", "j0"])
        .groupBy("label", "vec_id")
        .agg(
            F.sqrt(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
            ).alias("dc")
        )
    )
    stats = dist.groupBy("label").agg(
        F.avg("dc").alias("mu"), F.stddev_samp("dc").alias("sd")
    )
    return (
        dist.join(F.broadcast(stats), "label")
        .filter(F.col("dc") > F.col("mu") + 2.5 * F.col("sd"))
        .select(
            "label",
            "vec_id",
            F.round("dc", 6).alias("dist_to_centroid"),
            F.round((F.col("dc") - F.col("mu")) / F.col("sd"), 6).alias("z"),
        )
    )
