"""Round-2 extensions, batch 88: isotonic (PAV) calibration via the
minimax identity on bounded bins, and the log-rank test.

Scale notes:
- ISOTONIC REGRESSION is inherently sequential as PAV, but on the
  BOUNDED percentile-bin grid it has a closed relational form: the
  minimax identity fit_i = max_{a<=i} min_{b>=i} mean(y over bins a..b)
  (Robertson-Wright-Dykstra Thm 1.4.4). With prefix sums, every (a, b)
  interval mean is O(1), so the fit is two bounded joins over the
  |bins|^2 interval table — data-size-independent after the one grouped
  binning pass, and every number is a ratio of integer sums -> exact
  cross-engine parity. This yields the isotonic calibration map that
  Platt's sigmoid cannot express when the empirical curve is non-sigmoid.
- LOG-RANK is the standard nonparametric companion to Cox: per distinct
  event time, observed-vs-expected events in the treatment arm under the
  hypergeometric null, summed over the bounded duration axis (reverse
  cumulative risk sets, same grid as `customer_cox_hazard`), chi-square
  via the shared Abramowitz-Stegun normal polynomial. Integer counts
  end to end until the final ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Isotonic calibration on percentile bins (minimax identity)
# ---------------------------------------------------------------------------
_ISO_BINS = 50


@register(
    "quality_isotonic_calibration",
    f"""
    WITH scored AS MATERIALIZED (
      SELECT o_totalprice AS score,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             ntile({_ISO_BINS}) OVER (ORDER BY o_totalprice, o_orderkey) AS b
      FROM orders
    ), bins AS MATERIALIZED (
      SELECT b, count(*) AS n, sum(y) AS k FROM scored GROUP BY b
    ), pre AS MATERIALIZED (
      SELECT b,
             sum(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cn,
             sum(k) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS ck
      FROM bins
    ), intervals AS MATERIALIZED (
      -- mean of y over bins a..b, O(1) via prefix sums
      SELECT a.b AS lo, z.b AS hi,
             CAST(z.ck - COALESCE(p.ck, 0) AS DOUBLE)
               / (z.cn - COALESCE(p.cn, 0)) AS m
      FROM pre a
      JOIN pre z ON z.b >= a.b
      LEFT JOIN pre p ON p.b = a.b - 1
    ), inner_min AS MATERIALIZED (
      -- for each (i, a <= i): min over b >= i of mean(a..b)
      SELECT g.b AS i, iv.lo AS a, min(iv.m) AS mn
      FROM bins g JOIN intervals iv ON iv.lo <= g.b AND iv.hi >= g.b
      GROUP BY g.b, iv.lo
    ), fit AS MATERIALIZED (
      SELECT i AS b, max(mn) AS iso FROM inner_min GROUP BY i
    )
    SELECT f.b AS bin, bi.n, bi.k,
           round(CAST(bi.k AS DOUBLE) / bi.n, 6) AS raw_rate,
           round(f.iso, 6) AS iso_rate
    FROM fit f JOIN bins bi ON bi.b = f.b
    """,
)
def quality_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the completion rate over {_ISO_BINS}
    score-percentile bins using the PAV minimax identity fit_i =
    max_a<=i min_b>=i mean(a..b): one grouped binning pass, then bounded
    |bins|^2 interval arithmetic on prefix sums — every value a ratio of
    integer sums (exact parity), and the output is the stepwise
    monotone calibration map. The relational restatement of an
    'inherently sequential' algorithm via its closed-form identity."""
    from gemini_data_wrangler_spark.operators.window import distributed_ntile

    orders = sf_table(spark, sf_dir, "orders")
    # Percentile bins via distributed two-level rank + closed-form ntile
    # (block = floor(price)) — no orders-sized single-task window.
    scored = distributed_ntile(
        orders.select(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
            "o_totalprice",
            "o_orderkey",
        ),
        _ISO_BINS,
        F.col("o_totalprice"),
        [F.col("o_orderkey")],
        F.floor("o_totalprice").cast("long"),
        "b",
    ).select("y", "b")
    # Staged at the RIGHT node (round 7): `bins` feeds three subtrees
    # (pre, the interval spine g, the final join) — with only `pre`
    # checkpointed, the whole distributed_ntile pipeline re-ran for the
    # other two. Checkpointing the |bins|-row frame itself (eager) runs
    # the ntile pass once; pre is then a tiny window over those blocks.
    bins = scored.groupBy("b").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("k")
    ).localCheckpoint()
    wp = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "b", F.sum("n").over(wp).alias("cn"), F.sum("k").over(wp).alias("ck")
    )
    a = pre.select(F.col("b").alias("lo"))
    z = pre.select(F.col("b").alias("hi"), F.col("cn").alias("cnh"), F.col("ck").alias("ckh"))
    p = pre.select((F.col("b") + 1).alias("lo"), F.col("cn").alias("cnp"), F.col("ck").alias("ckp"))
    intervals = (
        a.join(z, F.col("hi") >= F.col("lo"))
        .join(p, "lo", "left")
        .select(
            "lo",
            "hi",
            (
                (F.col("ckh") - F.coalesce("ckp", F.lit(0))).cast("double")
                / (F.col("cnh") - F.coalesce("cnp", F.lit(0)))
            ).alias("m"),
        )
    )
    g = bins.select(F.col("b").alias("i"))
    inner_min = (
        g.join(intervals, (F.col("lo") <= F.col("i")) & (F.col("hi") >= F.col("i")))
        .groupBy("i", "lo")
        .agg(F.min("m").alias("mn"))
    )
    fit = inner_min.groupBy(F.col("i").alias("b")).agg(F.max("mn").alias("iso"))
    return fit.join(bins, "b").select(
        F.col("b").alias("bin"),
        "n",
        "k",
        F.round(F.col("k").cast("double") / F.col("n"), 6).alias("raw_rate"),
        F.round("iso", 6).alias("iso_rate"),
    )


# ---------------------------------------------------------------------------
# Log-rank test on the order-completion survival grid
# ---------------------------------------------------------------------------
def _qnorm(z: str) -> str:
    t = f"(1.0 / (1.0 + 0.2316419 * {z}))"
    phi = f"(0.3989422804014327 * exp(-0.5 * {z} * {z}))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * (1.781477937"
        f" + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    return f"({phi} * {poly})"


@register(
    "customer_logrank_test",
    f"""
    WITH subj AS MATERIALIZED (
      SELECT date_diff('day', CAST(o.o_orderdate AS DATE), s.ship) AS t,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS x,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
      FROM orders o
      JOIN (SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS ship
            FROM lineitem GROUP BY l_orderkey) s ON s.l_orderkey = o.o_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ), grid0 AS MATERIALIZED (
      SELECT t,
             sum(CASE WHEN x = 1 THEN ev ELSE 0 END) AS d1,
             sum(ev) AS d, sum(x) AS n1, count(*) AS n
      FROM subj GROUP BY t
    ), grid AS MATERIALIZED (
      SELECT t, d, d1,
             sum(n) OVER (ORDER BY t DESC) AS r,
             sum(n1) OVER (ORDER BY t DESC) AS r1
      FROM grid0
    ), terms AS (
      SELECT sum(d1) AS o1,
             sum(CAST(d AS DOUBLE) * r1 / r) AS e1,
             sum(CAST(d AS DOUBLE) * r1 / r * (r - r1) / r * (r - d) / (r - 1)) AS v
      FROM grid WHERE d > 0 AND r > 1
    )
    SELECT o1 AS observed_treated,
           round(e1, 4) AS expected_treated,
           round((o1 - e1) * (o1 - e1) / v, 4) AS chi2,
           round(2.0 * {_qnorm('(abs(o1 - e1) / sqrt(v))')}, 6) AS p_value
    FROM terms
    """,
)
def customer_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test for the BUILDING segment's completion-time curve vs
    the rest: per distinct duration, observed vs hypergeometric-expected
    treated events given the risk sets (the same reverse-cumulative grid
    as `customer_cox_hazard`), chi-square from the summed O-E and
    variance, p-value through the shared normal-CDF polynomial. Counts
    stay integer until the final ratios, so parity is exact."""
    orders = sf_table(spark, sf_dir, "orders")
    lineitem = sf_table(spark, sf_dir, "lineitem")
    customer = sf_table(spark, sf_dir, "customer")
    ship = lineitem.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("ship")
    )
    subj = (
        orders.join(ship, orders["o_orderkey"] == ship["l_orderkey"])
        .join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .select(
            F.datediff("ship", F.to_date("o_orderdate")).alias("t"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("x"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ev"),
        )
    )
    grid0 = subj.groupBy("t").agg(
        F.sum(F.when(F.col("x") == 1, F.col("ev")).otherwise(0)).alias("d1"),
        F.sum("ev").alias("d"),
        F.sum("x").alias("n1"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    grid = grid0.select(
        "t",
        "d",
        "d1",
        F.sum("n").over(w).alias("r"),
        F.sum("n1").over(w).alias("r1"),
    )
    dd = F.col("d").cast("double")
    terms = grid.filter((F.col("d") > 0) & (F.col("r") > 1)).agg(
        F.sum("d1").alias("o1"),
        F.sum(dd * F.col("r1") / F.col("r")).alias("e1"),
        F.sum(
            dd
            * F.col("r1")
            / F.col("r")
            * (F.col("r") - F.col("r1"))
            / F.col("r")
            * (F.col("r") - F.col("d"))
            / (F.col("r") - 1)
        ).alias("v"),
    )
    z = F.abs(F.col("o1") - F.col("e1")) / F.sqrt(F.col("v"))
    return terms.select(
        F.col("o1").alias("observed_treated"),
        F.round("e1", 4).alias("expected_treated"),
        F.round((F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v"), 4).alias(
            "chi2"
        ),
        F.round(2.0 * F.expr(_qnorm("(abs(o1 - e1) / sqrt(v))")), 6).alias("p_value"),
    )
