"""Round-2 extensions, batch 78: multi-seed closeness centrality and
CUPED variance reduction.

Scale notes:
- CLOSENESS runs ONE multi-source BFS: the frontier carries (seed,
  node) pairs, so 5 seeds cost one loop whose rounds = max seed
  eccentricity, not 5 sequential traversals. Per-round joins key on
  the node; localCheckpoint truncates lineage. Closeness is the
  harmonic-free classic (n−1)/Σd over each seed's reach set.
- CUPED is two grouped aggregates: per-user pre/post rollup (shuffle
  by user), then the global moment row (θ = cov/var from raw sums)
  broadcast back over the per-arm rollup. The θ estimate and adjusted
  means use single closed-form divisions, rounded where unordered FP
  sums feed them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Closeness centrality from 5 seed suppliers (multi-source BFS)
# ---------------------------------------------------------------------------
_CLO_TOPK = 2000
_CLO_MAX_HOPS = 20
_CLO_SEEDS = 5  # the 5 smallest suppliers in the edge set


def _closeness_oracle() -> str:
    return f"""
    WITH RECURSIVE e0 AS MATERIALIZED (
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
      co AS (SELECT a.s AS sa, b.s AS sb, count(*) AS c
             FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s GROUP BY a.s, b.s),
      ranked AS (SELECT sa, sb, row_number() OVER (ORDER BY c DESC, sa, sb) AS r
                 FROM co)
      SELECT sa AS src, sb AS dst FROM ranked WHERE r <= {_CLO_TOPK}
    ),
    edges AS MATERIALIZED (
      SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
    ),
    seeds AS MATERIALIZED (
      SELECT src AS seed FROM (
        SELECT DISTINCT src FROM edges ORDER BY src LIMIT {_CLO_SEEDS}
      )
    ),
    bfs AS (
      SELECT seed, seed AS node, 0 AS hops FROM seeds
      UNION
      SELECT b.seed, e.dst, b.hops + 1
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.hops < {_CLO_MAX_HOPS}
    ),
    dist AS (
      SELECT seed, node, min(hops) AS hops FROM bfs GROUP BY seed, node
    )
    SELECT seed,
           count(*) - 1 AS n_reachable,
           sum(hops) AS total_hops,
           round((count(*) - 1) * 1.0 / sum(hops), 6) AS closeness
    FROM dist WHERE hops > 0 OR node = seed
    GROUP BY seed
    """


@register("graph_closeness_seeds", _closeness_oracle())
def graph_closeness_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality (n_reachable−1)/Σ hops for the 5 smallest
    suppliers in the co-order graph, via ONE multi-source BFS whose
    frontier carries (seed, node) pairs — 5 traversals for the price of
    one loop (`operators/graphs.py::multi_bfs_hops`, auto-routed: under
    the 500k-edge bound the whole walk runs driver-side in one collect,
    past it the distributed (seed, node)-keyed Pregel loop — round-6
    verdict asks #2/#3). The edge build is the SAME memoized top-2000
    co-order list `graph_bfs_hops` publishes (queries_ext75), so the
    lineitem self-join is priced once per session, not once per graph
    query. The closing division/round stays JVM-side on exact integer
    (count, hop-sum) inputs, so the compared doubles are reproducible.
    Oracle: recursive CTE with the seed threaded through the recursion +
    min-hops rollup."""
    from gemini_data_wrangler_spark.operators.graphs import multi_bfs_hops
    from gemini_data_wrangler_spark.queries_ext75 import _BFS_TOPK, _co_order_edges

    # The shared memo is only valid while both queries budget the same
    # top-K edge set (the oracles hard-code it independently).
    assert _BFS_TOPK == _CLO_TOPK, "co-order edge budgets diverged"
    edges = _co_order_edges(spark, sf_dir, reuse=True)
    seeds = [
        r[0]
        for r in edges.select(F.explode(F.array("src", "dst")).alias("n"))
        .distinct()
        .orderBy("n")
        .limit(_CLO_SEEDS)
        .collect()
    ]
    visited = multi_bfs_hops(edges, seeds, max_iter=_CLO_MAX_HOPS)
    return (
        visited.groupBy("seed")
        .agg(
            (F.count(F.lit(1)) - 1).alias("n_reachable"),
            F.sum("hops").alias("total_hops"),
            F.round(
                (F.count(F.lit(1)) - 1) * F.lit(1.0) / F.sum("hops"), 6
            ).alias("closeness"),
        )
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction on a hash-assigned A/B split
# ---------------------------------------------------------------------------
_CUPED_SPLIT = "2024-01-16"


@register(
    "ab_cuped_adjustment",
    f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(('0x' || substring(md5('AB' || CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS arm,
             sum(CASE WHEN ts <  TIMESTAMP '{_CUPED_SPLIT}' THEN value ELSE 0 END)
               AS pre,
             sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}' THEN value ELSE 0 END)
               AS post
      FROM events GROUP BY user_id
    ),
    theta AS (
      SELECT count(*) AS n, sum(pre) AS sx, sum(post) AS sy,
             sum(pre * pre) AS sxx, sum(pre * post) AS sxy,
             (sum(pre * post) - sum(pre) * sum(post) / count(*))
               / (sum(pre * pre) - sum(pre) * sum(pre) / count(*)) AS th
      FROM per_user
    )
    SELECT u.arm,
           count(*) AS n_users,
           round(avg(u.post), 4) AS mean_post,
           round(avg(u.post - t.th * (u.pre - t.sx / t.n)), 4) AS mean_cuped,
           round(t.th, 4) AS theta
    FROM per_user u CROSS JOIN theta t
    GROUP BY u.arm, t.th
    """,
)
def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013): adjust each user's post-period value by
    θ·(pre − mean(pre)) with θ = cov(pre, post)/var(pre) — the standard
    experiment variance-reduction. The A/B arm is a content-hash bit
    (reproducible cross-engine); θ comes from one global moment row
    broadcast over the per-arm rollup. Two grouped aggregates total."""
    events = sf_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("AB"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    # Staged once (round 7): the events-wide per-user rollup feeds BOTH
    # the theta moment row and the per-arm aggregate — unpersisted, the
    # full events scan + groupBy ran twice.
    per_user = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0)).alias("pre"),
        F.sum(F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0)).alias(
            "post"
        ),
    ).select(arm.alias("arm"), "pre", "post").localCheckpoint()
    theta = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").alias("sx"),
        F.sum("post").alias("sy"),
        F.sum(F.col("pre") * F.col("pre")).alias("sxx"),
        F.sum(F.col("pre") * F.col("post")).alias("sxy"),
    ).select(
        "n",
        "sx",
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("th"),
    )
    return (
        per_user.crossJoin(F.broadcast(theta))
        .groupBy("arm", "th")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("post"), 4).alias("mean_post"),
            F.round(
                F.avg(
                    F.col("post")
                    - F.col("th") * (F.col("pre") - F.col("sx") / F.col("n"))
                ),
                4,
            ).alias("mean_cuped"),
        )
        .select(
            "arm",
            "n_users",
            "mean_post",
            "mean_cuped",
            F.round("th", 4).alias("theta"),
        )
    )
