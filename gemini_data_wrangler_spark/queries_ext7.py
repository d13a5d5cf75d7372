"""Scale-pattern operators, round 4 — graph triangle counting, binned
interval-overlap join, merge-upsert (SCD latest-wins), bloom-prefiltered
join, and an exact DISTRIBUTED equi-depth histogram.

Each is a named scale pattern the reference app cannot express (its stage
algebra is LOAD/JOIN/UNION/FILTER/GROUP/AGGREGATE/SELECT/SORT/CUSTOM —
SURVEY.md §2.1); north-star scope. All five have exact DuckDB oracles.

Scale shapes:
- Triangle count: degree-ordered orientation caps the wedge-join blowup at
  m^1.5 (see ``operators/graphs.triangle_stats``); the co-occurrence edge
  build is one per-order self-join (order width ≤ ~7 suppliers) + a top-k.
- Interval overlap: bucketing by interval length turns the inequality join
  into an equi-join on (key, time_bucket) — Spark shuffles on equi keys
  instead of falling back to broadcast-nested-loop (the classic binned
  range-join; each fixed-length interval spans ≤ 2 buckets so the explode
  is ≤ 2×).
- Merge-upsert: union-all + one row_number shuffle on the key — no full
  outer join, batches compose n-way, and the shuffle key is the upsert key
  so AQE handles skewed hot keys.
- Bloom prefilter: the build side's bit SET (not its key set) is
  broadcast; the probe side drops non-matching rows map-side BEFORE any
  shuffle/join. False positives are removed by the exact join that
  follows, so the result is identical to the plain join — the bloom is
  pure bandwidth savings, the point at 100 TB.
- Equi-depth histogram: exact NTILE semantics WITHOUT a global one-task
  sort — per-value counts, a two-level distributed prefix sum over the
  value histogram (coarse range buckets in parallel + a tiny bucket-totals
  cumsum broadcast back), then each value maps to the ntile buckets its
  rank range spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import load_sf_tables, sf_table


# ---------------------------------------------------------------------------
# Triangle counting on the supplier co-order graph
# ---------------------------------------------------------------------------
_TRI_TOPK = 2000  # edge budget: top pairs by co-order count, determin. ties


@register(
    "graph_triangle_count",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
    co AS (
      SELECT x.sk AS a, y.sk AS b, count(*) AS c
      FROM li x JOIN li y ON x.ok = y.ok AND x.sk < y.sk
      GROUP BY 1, 2
    ),
    e AS (SELECT a, b FROM co ORDER BY c DESC, a, b LIMIT {_TRI_TOPK}),
    deg AS (
      SELECT n, count(*) AS d
      FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
      GROUP BY n
    ),
    agg AS (
      SELECT count(*) AS n_nodes,
             CAST(sum(d) / 2 AS BIGINT) AS n_edges,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0 THEN (3.0 * n_triangles) / n_wedges ELSE 0.0 END
             AS clustering
    FROM agg, tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles + clustering coefficient of the supplier co-order graph
    (edge = two suppliers filling the same order; top-k edges by
    co-occurrence count with deterministic (count desc, a, b) ties, so the
    graph stays in a fixed budget at any SF)."""
    from gemini_data_wrangler_spark.operators.graphs import triangle_stats
    from gemini_data_wrangler_spark.queries_ext75 import _BFS_TOPK, _co_order_edges

    # Identical edge build (top-K co-order pairs, (c desc, a, b) ties) as
    # the `graph_bfs_hops` publisher — reuse the session memo instead of
    # re-paying the lineitem self-join. Valid only while the budgets agree
    # (each oracle hard-codes its own build).
    assert _BFS_TOPK == _TRI_TOPK, "co-order edge budgets diverged"
    edges = _co_order_edges(spark, sf_dir, reuse=True)
    return triangle_stats(edges).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0, (3.0 * F.col("n_triangles")) / F.col("n_wedges")
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


# ---------------------------------------------------------------------------
# Binned interval-overlap join (per-customer order windows)
# ---------------------------------------------------------------------------
_IV_DAYS = 7
_IV_BUCKET_S = _IV_DAYS * 86400  # bucket width == interval length → ≤2 buckets


@register(
    "join_interval_overlap",
    f"""
    WITH iv AS (
      SELECT o_custkey AS c, o_orderkey AS k, o_orderdate AS s,
             o_orderdate + INTERVAL {_IV_DAYS} DAY AS e
      FROM orders
    )
    SELECT a.c AS o_custkey, a.k AS okey_a, b.k AS okey_b,
           date_diff('day', CAST(greatest(a.s, b.s) AS DATE),
                     CAST(least(a.e, b.e) AS DATE)) AS overlap_days
    FROM iv a JOIN iv b
      ON a.c = b.c AND a.k < b.k AND a.s <= b.e AND b.s <= a.e
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs of orders by the same customer whose 7-day windows
    overlap, with the overlap length in days. Equi-join on
    (customer, time bucket) — never an inequality-only join."""
    iv = (
        sf_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c"),
            F.col("o_orderkey").alias("k"),
            F.col("o_orderdate").alias("s"),
            (F.col("o_orderdate") + F.expr(f"INTERVAL {_IV_DAYS} DAYS")).alias("e"),
        )
        .withColumn("_b0", F.floor(F.unix_timestamp("s") / _IV_BUCKET_S))
        .withColumn("_b1", F.floor(F.unix_timestamp("e") / _IV_BUCKET_S))
        .withColumn("_b", F.explode(F.sequence("_b0", "_b1")))
        # Round-7 staged this frame for the two self-join sides; the
        # round-8 persist-vs-not A/B (3 interleaved min-of-2 runs) reads
        # 1.21 s without vs 2.13 s with — the cache write costs more than
        # the second orders scan+explode it saves, so the persist is gone
        # (verdict ask #6; guide §5: cache only when recompute is dearer
        # than the memory/churn the cache creates).
    )
    a = iv.select("c", "_b", F.col("k").alias("okey_a"), F.col("s").alias("_sa"), F.col("e").alias("_ea"))
    b = iv.select("c", "_b", F.col("k").alias("okey_b"), F.col("s").alias("_sb"), F.col("e").alias("_eb"))
    return (
        a.join(b, ["c", "_b"])
        .filter(
            (F.col("okey_a") < F.col("okey_b"))
            & (F.col("_sa") <= F.col("_eb"))
            & (F.col("_sb") <= F.col("_ea"))
        )
        # the same pair can meet in both buckets an interval spans → dedupe
        .select(
            F.col("c").alias("o_custkey"),
            "okey_a",
            "okey_b",
            F.datediff(
                F.least("_ea", "_eb").cast("date"), F.greatest("_sa", "_sb").cast("date")
            )
            .cast("bigint")
            .alias("overlap_days"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Merge-upsert: latest-version-wins (MERGE INTO / SCD snapshot apply)
# ---------------------------------------------------------------------------
@register(
    "merge_upsert_latest",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version FROM orders
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
             2 AS version
      FROM orders WHERE o_orderkey % 10 = 3
    ),
    ins AS (
      SELECT o_orderkey + 20000000 AS o_orderkey, 'N' AS o_orderstatus,
             o_totalprice, 2 AS version
      FROM orders WHERE o_orderkey % 1000 = 7
    ),
    u AS (
      SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice, version
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_orderkey ORDER BY version DESC
      ) AS rn FROM u
    ) WHERE rn = 1
    """,
)
def merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an update batch (status flip, 10% of keys) and an insert batch
    (new keys) onto the orders snapshot, latest version wins. Union-all +
    one row_number shuffle on the merge key — the scalable MERGE shape."""
    o = sf_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit(1).alias("version")
    )
    upd = (
        o.filter(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
            F.lit(2).alias("version"),
        )
    )
    ins = (
        o.filter(F.col("o_orderkey") % 1000 == 7)
        .select(
            (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            "o_totalprice",
            F.lit(2).alias("version"),
        )
    )
    merged = base.unionByName(upd).unionByName(ins)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered join (hand-rolled bloom in pure expressions)
# ---------------------------------------------------------------------------
_BLOOM_M = 1 << 17  # bits


@register(
    "join_bloom_prefilter",
    """
    SELECT p_brand,
           sum(l_extendedprice * (1 - l_discount)) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size >= 48
    GROUP BY p_brand
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by brand for large parts, with the fact side pre-filtered by
    a 2-hash bloom bit set built from the dim side. The trailing exact join
    removes bloom false positives, so the result equals the plain join."""
    t = load_sf_tables(spark, sf_dir)
    dim = t["part"].filter(F.col("p_size") >= 48)

    def h(col: str, seed: int) -> F.Column:
        return F.pmod(F.xxhash64(F.col(col), F.lit(seed)), F.lit(_BLOOM_M))

    bits = (
        dim.select(
            F.explode(F.array(h("p_partkey", 1), h("p_partkey", 2))).alias("_bit")
        )
        .distinct()
    )
    fact = t["lineitem"]
    for seed in (1, 2):
        fact = fact.join(
            F.broadcast(bits),
            h("l_partkey", seed) == F.col("_bit"),
            "left_semi",
        )
    return (
        fact.join(F.broadcast(dim), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Exact distributed equi-depth histogram (NTILE without a global sort)
# ---------------------------------------------------------------------------
_EQD_K = 10
_EQD_COARSE = 10_000.0  # value-range width of a coarse prefix-sum bucket


@register(
    "histogram_equidepth",
    f"""
    SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS cnt,
           min(x) AS lo, max(x) AS hi
    FROM (
      SELECT ntile({_EQD_K}) OVER (ORDER BY o_totalprice) AS bucket,
             o_totalprice AS x
      FROM orders
    )
    GROUP BY bucket
    """,
)
def histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NTILE(10) bucket stats over o_totalprice — see
    :func:`equidepth_histogram`."""
    t = sf_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x")
    )
    return equidepth_histogram(t, "x", _EQD_K, _EQD_COARSE)


def equidepth_histogram(
    t: DataFrame, col: str, k: int = 10, coarse_width: float = 10_000.0
) -> DataFrame:
    """Exact NTILE(k) bucket stats (count/min/max) over a numeric column,
    computed without a single-task global window: per-value counts →
    two-level distributed prefix sum (coarse value-range buckets in
    parallel; the tiny bucket-totals running sum is broadcast back) → each
    distinct value maps to the ntile buckets its global rank range [s, e]
    spans. Tie-safe: bucket counts are fixed by NTILE and boundary values
    appear in every bucket their rank range touches, so min/max/count
    match any engine's tie order."""
    t = t.select(F.col(col).alias("x"))
    n = t.count()
    q, r = divmod(n, k)
    big = q + 1

    # Staged once (round 7): the per-value counts feed BOTH the in-coarse
    # window and the coarse totals — unpersisted, the value groupBy re-ran
    # twice.
    hist = t.groupBy("x").agg(F.count(F.lit(1)).alias("_cnt")).withColumn(
        "_coarse", F.floor(F.col("x") / coarse_width)
    ).persist()
    in_coarse = Window.partitionBy("_coarse").orderBy("x")
    local = hist.withColumn(
        "_local_end", F.sum("_cnt").over(in_coarse.rowsBetween(Window.unboundedPreceding, 0))
    )
    totals = hist.groupBy("_coarse").agg(F.sum("_cnt").alias("_tot"))
    offsets = totals.withColumn(
        "_off",
        F.coalesce(
            F.sum("_tot").over(
                Window.orderBy("_coarse").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_coarse", "_off")
    ranked = local.join(F.broadcast(offsets), "_coarse").select(
        "x",
        "_cnt",
        (F.col("_off") + F.col("_local_end")).alias("_e"),
        (F.col("_off") + F.col("_local_end") - F.col("_cnt") + 1).alias("_s"),
    )

    # q == 0 (n < k) means every row is its own bucket; the otherwise-branch
    # is then unreachable but must still be evaluable (ANSI div-by-zero).
    qd = q or 1

    def bucket_of(p: F.Column) -> F.Column:
        return (
            F.when(p <= r * big, F.floor((p - 1) / big))
            .otherwise(r + F.floor((p - r * big - 1) / qd))
            + 1
        ).cast("bigint")

    def bucket_start(b: F.Column) -> F.Column:
        return F.when(b <= r, (b - 1) * big + 1).otherwise(r * big + (b - 1 - r) * q + 1)

    def bucket_size(b: F.Column) -> F.Column:
        return F.when(b <= r, F.lit(big)).otherwise(F.lit(q))

    bcol = F.col("_bucket")
    per_bucket = (
        ranked.withColumn(
            "_bucket", F.explode(F.sequence(bucket_of(F.col("_s")), bucket_of(F.col("_e"))))
        )
        .withColumn("_bs", bucket_start(bcol))
        .withColumn("_be", F.col("_bs") + bucket_size(bcol) - 1)
        .withColumn(
            "_in",
            F.least(F.col("_e"), F.col("_be")) - F.greatest(F.col("_s"), F.col("_bs")) + 1,
        )
    )
    return (
        per_bucket.groupBy(F.col("_bucket").alias("bucket"))
        .agg(
            F.sum("_in").alias("cnt"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )
        .orderBy("bucket")
    )
