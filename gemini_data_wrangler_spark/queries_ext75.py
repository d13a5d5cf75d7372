"""Round-2 extensions, batch 75: interval merging (sweepline islands),
local-DP randomized response, distributed BFS hop distances.

Scale notes:
- INTERVAL MERGE is the sort-based sweepline: per customer, an interval
  starts a new island when its start exceeds the running max end of
  everything before it — one ordered window pass + one grouped rollup,
  no self-joins, any number of overlapping intervals.
- RANDOMIZED RESPONSE flips each respondent's bit with a CONTENT-HASH
  coin (md5→uniform), so the "randomization" is reproducible on any
  engine — the cross-engine-testable form of local differential
  privacy; the debias is the standard (p̂ − (1−p))/(2p − 1) estimator
  computed from one aggregate row.
- BFS joins the FRONTIER (not the visited set) against the edge list
  each round with an anti-join to drop re-discoveries — rounds = seed
  eccentricity, the Pregel BFS shape. The oracle is a DuckDB recursive
  CTE bounded at 20 hops + min(hops) rollup: a genuinely independent
  formulation of the same reachability semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.session import session_memo
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Merge overlapping per-customer service intervals
# ---------------------------------------------------------------------------
@register(
    "ops_interval_merge",
    """
    WITH iv AS (
      SELECT o.o_custkey AS ck, o.o_orderdate AS s,
             greatest(max(l.l_shipdate), o.o_orderdate) AS e
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
    ),
    flagged AS (
      SELECT ck, s, e,
             CASE WHEN s > max(e) OVER (
                    PARTITION BY ck ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT ck, s, e,
             sum(new_island) OVER (
               PARTITION BY ck ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT ck, island, min(s) AS ms, max(e) AS me
      FROM islands GROUP BY ck, island
    )
    SELECT ck AS o_custkey,
           count(*) AS n_merged_intervals,
           sum(datediff('day', ms, me) + 1) AS covered_days
    FROM merged GROUP BY ck
    """,
)
def ops_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coalesce each customer's overlapping order service windows
    ([orderdate, last ship date]) into maximal covered intervals — the
    sweepline islands pattern (new island ⟺ start > running max end of
    all PRIOR intervals). Reports merged-interval count and total
    covered days per customer; one window pass + one rollup, no
    interval self-join at any cardinality."""
    orders = sf_table(spark, sf_dir, "orders")
    li = sf_table(spark, sf_dir, "lineitem")
    # Aggregate BEFORE the join (round 7, guide §2.3): the per-order max
    # ship date needs only lineitem — pre-reducing 4×: fewer rows enter
    # the join, and the post-join groupBy disappears entirely.
    last_ship = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.max("l_shipdate").alias("_ls")
    )
    iv = (
        orders.join(last_ship, orders["o_orderkey"] == last_ship["ok"])
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("o_orderdate").alias("s"),
            F.greatest(F.col("_ls"), F.col("o_orderdate")).alias("e"),
        )
    )
    w = Window.partitionBy("ck").orderBy("s", "e")
    prior_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.select(
        "ck",
        "s",
        "e",
        F.when(F.col("s") > prior_max_e, 1).otherwise(0).alias("new_island"),
    )
    island = F.sum("new_island").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        flagged.select("ck", "s", "e", island.alias("island"))
        .groupBy("ck", "island")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
    )
    return (
        merged.groupBy(F.col("ck").alias("o_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_merged_intervals"),
            F.sum(F.datediff("me", "ms") + 1).alias("covered_days"),
        )
    )


# ---------------------------------------------------------------------------
# Local-DP randomized response with a reproducible content-hash coin
# ---------------------------------------------------------------------------
_RR_P = 0.75  # probability of reporting the TRUE bit


@register(
    "privacy_randomized_response",
    f"""
    WITH resp AS (
      SELECT (c_mktsegment = 'BUILDING') AS truth,
             CAST(('0x' || substring(md5('RR' || CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) / 4294967296.0 < {_RR_P} AS keep
      FROM customer
    ),
    agg AS (
      SELECT count(*) AS n,
             count(*) FILTER (WHERE (keep AND truth) OR (NOT keep AND NOT truth))
               AS n_yes
      FROM resp
    )
    SELECT n, n_yes,
           round(n_yes * 1.0 / n, 6) AS perturbed_rate,
           round((n_yes * 1.0 / n - (1 - {_RR_P})) / (2 * {_RR_P} - 1), 6)
             AS debiased_rate
    FROM agg
    """,
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner randomized response over "is segment BUILDING": report the
    truth with p = {0.75}, the complement otherwise, then debias with
    π̂ = (p̂ − (1−p))/(2p − 1). The coin is md5(key)→uniform, so the
    mechanism is exactly reproducible cross-engine (the testable stand-in
    for a secure RNG — swap the coin column for one in production).
    Plan: one scan + one aggregate row, no shuffle beyond the
    partial-agg combine."""
    cust = sf_table(spark, sf_dir, "customer")
    coin = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("RR"), F.col("c_custkey").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    resp = cust.select(
        (F.col("c_mktsegment") == "BUILDING").alias("truth"),
        (coin < _RR_P).alias("keep"),
    )
    reported_yes = (F.col("keep") & F.col("truth")) | (~F.col("keep") & ~F.col("truth"))
    agg = resp.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(reported_yes, 1)).alias("n_yes"),
    )
    p_hat = F.col("n_yes") * F.lit(1.0) / F.col("n")
    return agg.select(
        "n",
        "n_yes",
        F.round(p_hat, 6).alias("perturbed_rate"),
        F.round((p_hat - (1 - _RR_P)) / (2 * _RR_P - 1), 6).alias("debiased_rate"),
    )


# ---------------------------------------------------------------------------
# BFS hop distance over the supplier co-order graph
# ---------------------------------------------------------------------------
_BFS_TOPK = 2000
_BFS_MAX_HOPS = 20


def _bfs_oracle() -> str:
    return f"""
    WITH RECURSIVE e0 AS MATERIALIZED (
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
      co AS (SELECT a.s AS sa, b.s AS sb, count(*) AS c
             FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s GROUP BY a.s, b.s),
      ranked AS (SELECT sa, sb, row_number() OVER (ORDER BY c DESC, sa, sb) AS r
                 FROM co)
      SELECT sa AS src, sb AS dst FROM ranked WHERE r <= {_BFS_TOPK}
    ),
    edges AS MATERIALIZED (
      SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
    ),
    seed AS (SELECT min(src) AS s FROM edges),
    bfs AS (
      SELECT s AS node, 0 AS hops FROM seed
      UNION
      SELECT e.dst, b.hops + 1
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.hops < {_BFS_MAX_HOPS}
    )
    SELECT node, min(hops) AS hops FROM bfs GROUP BY node
    """


# Session-scoped memo for the checkpointed top-K co-order edge list: the
# expensive part of every supplier-graph query is the lineitem self-join +
# co-order aggregation UPSTREAM of the (tiny) edge budget, and
# `graph_bfs_hops`, `graph_bfs_hops_distributed`, and
# `graph_closeness_seeds` (queries_ext78) all traverse the IDENTICAL
# 2000-edge graph (round-6 verdict ask #3 — the kNN-graph-memo pattern).
# The `graph_bfs_hops` publisher always builds fresh (its bench timing
# stays an honest price of the full pipeline); siblings reuse the latest
# build (shared_builds contract); the checkpointed frame is _BFS_TOPK rows.
def _co_order_edges(spark: SparkSession, sf_dir: str, reuse: bool) -> DataFrame:
    def build() -> DataFrame:
        li = sf_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
        a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sa"))
        b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sb"))
        co = (
            a.join(b, "ok")
            .filter(F.col("sa") < F.col("sb"))
            .groupBy("sa", "sb")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # Top-K edge budget via orderBy+limit (TakeOrderedAndProject) — no
        # pair-table-sized single-task window. Lazy checkpoint: the first
        # consumer action materializes it, after which every reuse (and
        # every re-reference within one query) reads the checkpoint blocks
        # instead of recomputing the co-order aggregation.
        return (
            co.orderBy(F.col("c").desc(), F.col("sa").asc(), F.col("sb").asc())
            .limit(_BFS_TOPK)
            .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
            .localCheckpoint(eager=False)
        )

    return session_memo(spark, "co_order_edges", (sf_dir, _BFS_TOPK), build, reuse)


def _bfs_query(spark: SparkSession, sf_dir: str, route: str, reuse: bool) -> DataFrame:
    from gemini_data_wrangler_spark.operators.graphs import bfs_hops

    edges = _co_order_edges(spark, sf_dir, reuse=reuse)
    seed = edges.agg(F.min("src")).collect()[0][0]
    return bfs_hops(edges, seed, max_iter=_BFS_MAX_HOPS, route=route)


@register("graph_bfs_hops", _bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the smallest supplier in the fixed-budget
    co-order graph to every reachable supplier — BFS by frontier
    expansion (`operators/graphs.py::bfs_hops`). Auto-routed (round-6
    verdict ask #2): a graph under the 500k-edge bound runs the whole
    walk driver-side in one collect (zero jobs per round — this was the
    most expensive bench query at 15-25 distributed rounds × scheduler
    overhead), while bigger graphs take the distributed Pregel loop
    (recorded separately by `graph_bfs_hops_distributed`). The oracle is
    a DuckDB RECURSIVE CTE (level-deduped, min-hops rollup): two
    independent formulations of unweighted SSSP must produce identical
    distance tables."""
    return _bfs_query(spark, sf_dir, route="auto", reuse=False)


@register("graph_bfs_hops_distributed", _bfs_oracle())
def graph_bfs_hops_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forced-distributed BFS — the 100 TB code path (frontier-expansion
    Pregel loop) under its own recorded bench row (`scale_path`), with
    the same oracle as the auto-routed query so route equivalence is
    driver-checked every round, not just test-pinned. Reuses the
    memoized edge build: the row prices the LOOP, which is what the
    route changes."""
    return _bfs_query(spark, sf_dir, route="distributed", reuse=True)
