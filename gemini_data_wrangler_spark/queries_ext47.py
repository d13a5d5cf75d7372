"""Round-2 extensions, batch 47: DBSCAN density clustering over
embeddings, Theil–Sen robust trend slopes.

Scale notes:
- DBSCAN composes three primitives the engine already runs at scale:
  the ε-neighbor pair set (exact verified cosine — tiled block matmul
  below `TILED_MAX_ROWS`, LSH bucketing above), a degree aggregate for
  core-point selection, and min-label connected components over the
  core-core subgraph. Border assignment is one more equi-join. Every
  stage is linear in pairs; nothing materializes n².
- THEIL–SEN is quadratic ONLY within each entity's own points (pairwise
  slopes via a per-key self-join — the same bounded-block shape as the
  fuzzy verify), then an exact median per entity. Robust to the outlier
  orders that drag the OLS slope (`customer_trend_slopes`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# DBSCAN over the embedding ε-neighbor graph
# ---------------------------------------------------------------------------
_DB_TAU = 0.35   # cosine threshold: neighbors have sim >= tau
_DB_MINPTS = 3   # neighbors (excluding self) required for a core point

_COS_SQL = """
    round(
      list_sum(list_transform(list_zip(a.embedding, b.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
    6)
"""


def _dbscan_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import (
        connected_components_oracle_sql,
    )

    core_edges = f"""
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN core ca ON p.doc_a = ca.vec_id
      JOIN core cb ON p.doc_b = cb.vec_id
    """
    cc = connected_components_oracle_sql(core_edges)
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_COS_SQL} >= {_DB_TAU}
    ), deg AS (
      SELECT vec_id, count(*) AS degree FROM (
        SELECT doc_a AS vec_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY vec_id
    ), core AS (
      SELECT vec_id FROM deg WHERE degree >= {_DB_MINPTS}
    ), cc AS ({cc}),
    singleton_core AS (
      -- core points with no core neighbor form their own cluster
      SELECT c.vec_id AS doc_id, c.vec_id AS cluster_id FROM core c
      WHERE c.vec_id NOT IN (SELECT doc_id FROM cc)
    ), core_clusters AS (
      SELECT doc_id, cluster_id FROM cc UNION ALL
      SELECT doc_id, cluster_id FROM singleton_core
    ), border AS (
      SELECT nc.vec_id, min(k.cluster_id) AS cluster_id
      FROM deg nc
      JOIN (SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs) e ON e.u = nc.vec_id
      JOIN core_clusters k ON k.doc_id = e.v
      WHERE nc.vec_id NOT IN (SELECT vec_id FROM core)
      GROUP BY nc.vec_id
    )
    SELECT e.vec_id,
           CASE WHEN c.doc_id IS NOT NULL THEN 'core'
                WHEN b.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(c.cluster_id, b.cluster_id) AS cluster_id
    FROM embeddings e
    LEFT JOIN core_clusters c ON c.doc_id = e.vec_id
    LEFT JOIN border b ON b.vec_id = e.vec_id
    """


@register("embedding_dbscan", _dbscan_oracle())
def embedding_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the embedding ε-neighborhood graph (cosine ≥
    {_DB_TAU} ⇔ distance ≤ ε, minPts = {_DB_MINPTS}): core points have ≥
    minPts neighbors, clusters are connected components of the core-core
    subgraph (min reachable id as the stable label), border points
    attach to the smallest adjacent core cluster, the rest is noise —
    the density clustering that, unlike k-means, needs no k and leaves
    outliers OUT (`embedding_centroid_outliers` is the complementary
    screen). Pair generation routes through the engine's exact tiled /
    LSH kernel; everything after is degree counting, min-label
    propagation, and equi-joins — linear in the pair set."""
    from gemini_data_wrangler_spark.functions.vectors import cosine_similarity
    from gemini_data_wrangler_spark.operators.dedup import connected_components
    from gemini_data_wrangler_spark.operators.similarity import (
        cosine_pair_candidates,
    )

    emb = sf_table(spark, sf_dir, "embeddings")
    cand = cosine_pair_candidates(
        emb, "vec_id", "embedding", threshold=_DB_TAU, block_rows=500
    )
    vec = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    )
    pairs = (
        cand.join(vec.select(F.col("vec_id").alias("doc_a"), F.col("_v").alias("_va")), "doc_a")
        .join(vec.select(F.col("vec_id").alias("doc_b"), F.col("_v").alias("_vb")), "doc_b")
        .withColumn("_s", F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("_s") >= _DB_TAU)
        .select("doc_a", "doc_b")
        # eager localCheckpoint: deg/core_edges/edges branches are scheduled
        # concurrently and a lazy persist lets each recompute the ε-graph.
        .localCheckpoint()
    )
    deg = (
        pairs.select(F.col("doc_a").alias("vec_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    core = (
        deg.filter(F.col("degree") >= _DB_MINPTS).select("vec_id").localCheckpoint()
    )
    core_edges = (
        pairs.join(core.select(F.col("vec_id").alias("doc_a")), "doc_a")
        .join(core.select(F.col("vec_id").alias("doc_b")), "doc_b")
    )
    cc = connected_components(core_edges)
    # Core points with no core-core edge: singleton clusters of themselves.
    core_clusters = cc.unionByName(
        core.join(cc.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti")
        .select(F.col("vec_id").alias("doc_id"), F.col("vec_id").alias("cluster_id"))
    ).localCheckpoint()
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    border = (
        deg.join(core, "vec_id", "left_anti")
        .select("vec_id")
        .join(edges, F.col("vec_id") == F.col("u"))
        .join(
            core_clusters.select(
                F.col("doc_id").alias("v"), F.col("cluster_id").alias("_k")
            ),
            "v",
        )
        .groupBy("vec_id")
        .agg(F.min("_k").alias("cluster_id"))
    )
    out = (
        emb.select("vec_id")
        .join(
            core_clusters.select(
                F.col("doc_id").alias("vec_id"),
                F.col("cluster_id").alias("_core_cl"),
            ),
            "vec_id",
            "left",
        )
        .join(
            border.select("vec_id", F.col("cluster_id").alias("_bord_cl")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.when(F.col("_core_cl").isNotNull(), "core")
            .when(F.col("_bord_cl").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("_core_cl", "_bord_cl").alias("cluster_id"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Theil–Sen robust trend slope per customer
# ---------------------------------------------------------------------------
_TS_MIN_ORDERS = 10


@register(
    "customer_theil_sen_slopes",
    f"""
    WITH pts AS (
      SELECT o_custkey,
             CAST(date_diff('day', DATE '1995-01-01',
                  CAST(date_trunc('day', o_orderdate) AS DATE)) AS DOUBLE) AS x,
             o_totalprice AS y,
             o_orderkey AS k
      FROM orders
    ), big AS (
      SELECT o_custkey FROM pts GROUP BY o_custkey
      HAVING count(*) >= {_TS_MIN_ORDERS}
    ), slopes AS (
      SELECT a.o_custkey AS o_custkey, (b.y - a.y) / (b.x - a.x) AS s
      FROM pts a
      JOIN pts b ON a.o_custkey = b.o_custkey AND a.k < b.k AND a.x <> b.x
      JOIN big ON a.o_custkey = big.o_custkey
    )
    SELECT o_custkey, count(*) AS n_pairs,
           round(median(s), 6) AS theil_sen_slope
    FROM slopes GROUP BY o_custkey
    ORDER BY theil_sen_slope DESC, o_custkey LIMIT 20
    """,
)
def customer_theil_sen_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen trend slope per customer (median of all pairwise
    slopes), top-20 upward movers among customers with ≥
    {_TS_MIN_ORDERS} orders — the robust counterpart of
    `customer_trend_slopes`: one wild order shifts the OLS slope
    arbitrarily but moves the pairwise-slope median by at most one
    rank. The self-join is quadratic only WITHIN each customer's own
    orders (per-key block, same bounded shape as the fuzzy verify);
    the median is exact per entity."""
    orders = sf_table(spark, sf_dir, "orders")
    x = F.datediff(
        F.to_date(F.date_trunc("day", "o_orderdate")), F.lit("1995-01-01").cast("date")
    ).cast("double")
    pts = orders.select(
        "o_custkey", x.alias("x"), F.col("o_totalprice").alias("y"),
        F.col("o_orderkey").alias("k"),
    )
    big = (
        pts.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= _TS_MIN_ORDERS)
        .select("o_custkey")
    )
    a = pts.join(big, "o_custkey")
    b = a.select(
        "o_custkey", F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("k").alias("k2")
    )
    slopes = (
        a.join(b, "o_custkey")
        .filter((F.col("k") < F.col("k2")) & (F.col("x") != F.col("x2")))
        .select(
            "o_custkey",
            ((F.col("y2") - F.col("y")) / (F.col("x2") - F.col("x"))).alias("s"),
        )
    )
    return (
        slopes.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.median("s"), 6).alias("theil_sen_slope"),
        )
        .orderBy(F.col("theil_sen_slope").desc(), F.col("o_custkey").asc())
        .limit(20)
    )
