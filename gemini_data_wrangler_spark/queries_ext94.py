"""Round-2 extensions, batch 94: rich-club coefficient, minimum
detectable effect curve, and empirical tail dependence.

Scale notes:
- RICH CLUB: phi(k) = observed / possible edges among nodes of degree
  > k — the "do hubs preferentially interconnect" diagnostic. Degrees
  come from the near-dup pair set (one grouped count); each k-level is
  an integer edge count within the degree-filtered vertex set (semi-
  joins against the bounded hub table). Integer-exact.
- MDE CURVE: the experiment-planning table — for each cumulative day of
  the 50/50 split, the minimum detectable conversion delta at
  alpha=0.05 / power=0.80 is (z_a + z_b) * sqrt(2 p(1-p) / n). Daily
  cumulative integer counts (prefix sums over the bounded day axis) and
  fixed z constants: exact parity, no inverse-CDF dependence.
- TAIL DEPENDENCE: lambda_U(q) = P(Y > F_Y^-1(q) | X > F_X^-1(q)) at
  q=0.9 between order price and line count — rank thresholds from exact
  percentiles, then integer joint-exceedance counts. The copula-level
  dependence a correlation coefficient cannot see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Rich-club coefficient on the near-dup graph
# ---------------------------------------------------------------------------
_RC_LEVELS = [1, 2, 3, 4]


def _rc_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import ngram_jaccard_oracle_sql

    pairs = ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    levels = " UNION ALL ".join(f"SELECT {k} AS k" for k in _RC_LEVELS)
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    deg AS MATERIALIZED (
      SELECT node, count(*) AS degree FROM (
        SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY node
    ), levels AS ({levels}),
    clubs AS (
      SELECT l.k, count(*) AS n_nodes
      FROM levels l JOIN deg d ON d.degree > l.k GROUP BY l.k
    ), club_edges AS (
      SELECT l.k, count(*) AS m
      FROM levels l
      JOIN pairs p ON TRUE
      JOIN deg da ON da.node = p.doc_a AND da.degree > l.k
      JOIN deg db ON db.node = p.doc_b AND db.degree > l.k
      GROUP BY l.k
    )
    SELECT c.k, c.n_nodes,
           COALESCE(e.m, 0) AS n_edges,
           round(CAST(COALESCE(e.m, 0) AS DOUBLE)
                 / NULLIF(c.n_nodes * (c.n_nodes - 1) / 2, 0), 6) AS phi
    FROM clubs c LEFT JOIN club_edges e ON e.k = c.k
    WHERE c.n_nodes >= 2
    """


@register("graph_rich_club", _rc_oracle())
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) of the near-dup graph for k in
    {_RC_LEVELS}: the edge density among nodes of degree > k — rising
    phi(k) means hub documents preferentially interlink (a template-farm
    signature). Degrees from one grouped count over the LSH-exact pair
    set; per-level edge counts by semi-filtering both endpoints against
    the bounded hub table. Integer-exact."""
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    docs = sf_table(spark, sf_dir, "documents")
    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint()  # eager: clubs + both club_edges sides scan it
    )
    levels = docs.sparkSession.createDataFrame([(k,) for k in _RC_LEVELS], "k int")
    clubs = (
        levels.join(deg, deg["degree"] > levels["k"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    da = deg.select(F.col("node").alias("doc_a"), F.col("degree").alias("dga"))
    db = deg.select(F.col("node").alias("doc_b"), F.col("degree").alias("dgb"))
    club_edges = (
        levels.crossJoin(pairs.join(da, "doc_a").join(db, "doc_b"))
        .filter((F.col("dga") > F.col("k")) & (F.col("dgb") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    return (
        clubs.join(club_edges, "k", "left")
        .filter(F.col("n_nodes") >= 2)
        .select(
            "k",
            "n_nodes",
            F.coalesce("m", F.lit(0)).alias("n_edges"),
            F.round(
                F.coalesce("m", F.lit(0)).cast("double")
                / (F.col("n_nodes") * (F.col("n_nodes") - 1) / 2),
                6,
            ).alias("phi"),
        )
    )


# ---------------------------------------------------------------------------
# Minimum detectable effect curve
# ---------------------------------------------------------------------------
_MDE_ZA = 1.959963984540054  # z_{0.975}
_MDE_ZB = 0.8416212335729143  # z_{0.80}


@register(
    "ab_mde_curve",
    f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n_d,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k_d
      FROM events GROUP BY CAST(ts AS DATE)
    ), cum AS (
      SELECT day,
             sum(n_d) OVER w AS n, sum(k_d) OVER w AS k
      FROM daily WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    )
    SELECT day, n, k,
           round(CAST(k AS DOUBLE) / n, 6) AS base_rate,
           round(({_MDE_ZA} + {_MDE_ZB})
                 * sqrt(2.0 * (CAST(k AS DOUBLE)/n) * (1.0 - CAST(k AS DOUBLE)/n)
                        / (n / 2.0)), 6) AS mde_abs
    FROM cum WHERE k > 0 AND k < n
    """,
)
def ab_mde_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-planning curve: for each cumulative day of event
    accrual, the minimum detectable absolute lift in the per-event
    purchase rate at alpha=0.05 (two-sided) / power=0.80 under a 50/50
    split — (z_a+z_b)*sqrt(2 p(1-p)/(n/2)). Integer cumulative counts
    over the bounded day axis and fixed z constants: no inverse-CDF
    evaluation, exact parity. The first table every experimentation
    platform shows before launch."""
    events = sf_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_d"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k_d"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("n_d").over(w).alias("n"),
        F.sum("k_d").over(w).alias("k"),
    ).filter((F.col("k") > 0) & (F.col("k") < F.col("n")))
    p = F.col("k").cast("double") / F.col("n")
    return cum.select(
        "day",
        "n",
        "k",
        F.round(p, 6).alias("base_rate"),
        F.round(
            (_MDE_ZA + _MDE_ZB)
            * F.sqrt(2.0 * p * (1.0 - p) / (F.col("n") / 2.0)),
            6,
        ).alias("mde_abs"),
    )


# ---------------------------------------------------------------------------
# Empirical upper-tail dependence between order price and line count
# ---------------------------------------------------------------------------
_TD_Q = 0.9


@register(
    "stats_tail_dependence",
    f"""
    WITH o AS MATERIALIZED (
      SELECT o.o_orderkey, o.o_totalprice AS x, count(*) AS y
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice
    ), th AS (
      SELECT quantile_cont(x, {_TD_Q}) AS tx, quantile_cont(y, {_TD_Q}) AS ty
      FROM o
    )
    SELECT count(*) AS n,
           sum(CASE WHEN o.x > th.tx THEN 1 ELSE 0 END) AS n_x_tail,
           sum(CASE WHEN o.x > th.tx AND o.y > th.ty THEN 1 ELSE 0 END) AS n_joint,
           round(CAST(sum(CASE WHEN o.x > th.tx AND o.y > th.ty THEN 1 ELSE 0 END) AS DOUBLE)
                 / NULLIF(sum(CASE WHEN o.x > th.tx THEN 1 ELSE 0 END), 0), 6)
             AS lambda_upper,
           round(1.0 - {_TD_Q}, 6) AS independence_baseline
    FROM o CROSS JOIN th
    """,
)
def stats_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence at q={_TD_Q} between order value
    and line count: P(Y in its top decile | X in its top decile). Under
    independence this equals 1-q; a ratio above (below) the baseline is
    upper-tail co-movement (anti-dependence) that a correlation
    coefficient cannot see. Exact percentile thresholds (one pass) then
    integer joint-exceedance counts."""
    orders = sf_table(spark, sf_dir, "orders")
    lineitem = sf_table(spark, sf_dir, "lineitem")
    o = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(orders["o_orderkey"], F.col("o_totalprice").alias("x"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    th = o.agg(
        F.expr(f"percentile(x, {_TD_Q})").alias("tx"),
        F.expr(f"percentile(y, {_TD_Q})").alias("ty"),
    )
    j = o.crossJoin(F.broadcast(th))
    x_tail = F.when(F.col("x") > F.col("tx"), 1).otherwise(0)
    joint = F.when((F.col("x") > F.col("tx")) & (F.col("y") > F.col("ty")), 1).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x_tail).alias("n_x_tail"),
        F.sum(joint).alias("n_joint"),
        F.round(
            F.sum(joint).cast("double") / F.sum(x_tail), 6
        ).alias("lambda_upper"),
        F.round(F.lit(1.0 - _TD_Q), 6).alias("independence_baseline"),
    )
