"""Round-2 extensions, batch 58: Chow structural-break test and
Wald–Wolfowitz runs test.

Scale notes: both run over the bounded DAILY aggregate (partial-
aggregated map-side), so raw-row cardinality never reaches the
statistics. The Chow test's three regressions are regr_* sufficient-
statistic aggregates (one pass each over the day axis); the runs test
is one lag window plus counting. Both engines consume identical cent-
rounded inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


_DAILY_SQL = """
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             round(sum(o_totalprice), 2) AS x
      FROM orders GROUP BY 1
"""

# Fixed candidate breakpoint (midpoint of the corpus date range); the
# CUSUM query estimates the break location, the Chow test judges its
# significance — pinning the date keeps the two queries independent.
_CHOW_BREAK = "1998-04-01"


@register(
    "timeseries_chow_test",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    pts AS (
      SELECT x AS y, CAST(date_diff('day', DATE '1995-01-01', d) AS DOUBLE) AS t,
             (d < DATE '{_CHOW_BREAK}') AS pre
      FROM daily
    ), seg AS (
      SELECT
        count(*) FILTER (WHERE pre) AS n1,
        count(*) FILTER (WHERE NOT pre) AS n2,
        regr_syy(y, t) FILTER (WHERE pre)
          - power(regr_sxy(y, t) FILTER (WHERE pre), 2)
            / regr_sxx(y, t) FILTER (WHERE pre) AS ssr1,
        regr_syy(y, t) FILTER (WHERE NOT pre)
          - power(regr_sxy(y, t) FILTER (WHERE NOT pre), 2)
            / regr_sxx(y, t) FILTER (WHERE NOT pre) AS ssr2,
        regr_syy(y, t) - power(regr_sxy(y, t), 2) / regr_sxx(y, t) AS ssr_pooled
      FROM pts
    )
    SELECT n1 AS n_pre, n2 AS n_post,
           round((ssr1 + ssr2) / ssr_pooled, 6) AS ssr_ratio,
           round(((ssr_pooled - ssr1 - ssr2) / 2)
                 / ((ssr1 + ssr2) / (n1 + n2 - 4)), 6) AS chow_f
    FROM seg
    """,
)
def timeseries_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test at {_CHOW_BREAK}: fit the daily-sales
    trend line pooled and separately on each side of the candidate
    break, and form F = ((SSR_p − SSR₁ − SSR₂)/k) / ((SSR₁+SSR₂)/(n−2k))
    with k = 2 (intercept + slope) — large F ⇒ the two regimes have
    genuinely different lines (the significance judgment for the break
    `timeseries_changepoint_cusum` locates). SSR comes from regr_*
    sufficient statistics (SSR = Syy − Sxy²/Sxx), so each regression is
    one partial-aggregated pass over the bounded day axis."""
    orders = sf_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("x"))
    pts = daily.select(
        F.col("x").alias("y"),
        F.datediff("d", F.lit("1995-01-01").cast("date")).cast("double").alias("t"),
        (F.col("d") < F.lit(_CHOW_BREAK).cast("date")).alias("pre"),
    )

    def ssr(cond) -> F.Column:
        syy = F.expr(f"regr_syy(y, t) FILTER (WHERE {cond})")
        sxy = F.expr(f"regr_sxy(y, t) FILTER (WHERE {cond})")
        sxx = F.expr(f"regr_sxx(y, t) FILTER (WHERE {cond})")
        return syy - F.pow(sxy, 2) / sxx

    seg = pts.agg(
        F.count(F.when(F.col("pre"), 1)).alias("n1"),
        F.count(F.when(~F.col("pre"), 1)).alias("n2"),
        ssr("pre").alias("ssr1"),
        ssr("NOT pre").alias("ssr2"),
        (
            F.expr("regr_syy(y, t)")
            - F.pow(F.expr("regr_sxy(y, t)"), 2) / F.expr("regr_sxx(y, t)")
        ).alias("ssr_pooled"),
    )
    # Raw SSRs are ~1e15 and reduction-order ulps break byte equality;
    # the scale-free ratio (and F itself) round-6 match across engines.
    return seg.select(
        F.col("n1").alias("n_pre"),
        F.col("n2").alias("n_post"),
        F.round((F.col("ssr1") + F.col("ssr2")) / F.col("ssr_pooled"), 6).alias(
            "ssr_ratio"
        ),
        F.round(
            ((F.col("ssr_pooled") - F.col("ssr1") - F.col("ssr2")) / 2)
            / ((F.col("ssr1") + F.col("ssr2")) / (F.col("n1") + F.col("n2") - 4)),
            6,
        ).alias("chow_f"),
    )


@register(
    "timeseries_runs_test",
    f"""
    WITH daily AS ({_DAILY_SQL}),
    med AS (SELECT median(x) AS m FROM daily),
    signs AS (
      SELECT d, CASE WHEN x > m THEN 1 ELSE 0 END AS s
      FROM daily CROSS JOIN med WHERE x <> m
    ), runs AS (
      SELECT s, CASE WHEN lag(s) OVER (ORDER BY d) IS DISTINCT FROM s
                     THEN 1 ELSE 0 END AS new_run
      FROM signs
    ), agg AS (
      SELECT sum(new_run) AS r,
             count(*) FILTER (WHERE s = 1) AS n1,
             count(*) FILTER (WHERE s = 0) AS n0
      FROM runs
    )
    SELECT r AS n_runs, n1 AS n_above, n0 AS n_below,
           round(2.0 * n1 * n0 / (n1 + n0) + 1, 6) AS expected_runs,
           round((r - (2.0 * n1 * n0 / (n1 + n0) + 1))
                 / sqrt(2.0 * n1 * n0 * (2.0 * n1 * n0 - n1 - n0)
                        / (power(CAST(n1 + n0 AS DOUBLE), 2) * (n1 + n0 - 1))), 6)
             AS z_score
    FROM agg
    """,
)
def timeseries_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on daily sales vs the series median:
    count maximal runs of above/below-median days and standardize
    against the randomness expectation E[R] = 2n₁n₀/(n₁+n₀)+1 — too
    FEW runs ⇒ positive serial dependence (trending/level shifts), too
    MANY ⇒ oscillation; |z| ≲ 2 is consistent with independence. The
    nonparametric cousin of `timeseries_acf` (no moments assumed).
    Exact-median filter drops ties so both engines count identical
    signs; one lag window over the bounded day axis."""
    orders = sf_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("x"))
    med = daily.agg(F.expr("percentile(x, 0.5)").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("x") != F.col("m"))
        .select("d", F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    w = Window.orderBy("d")
    runs = signs.select(
        "s",
        F.when(
            ~F.lag("s").over(w).eqNullSafe(F.col("s")), 1
        ).otherwise(0).alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").alias("r"),
        F.count(F.when(F.col("s") == 1, 1)).alias("n1"),
        F.count(F.when(F.col("s") == 0, 1)).alias("n0"),
    )
    er = 2.0 * F.col("n1") * F.col("n0") / (F.col("n1") + F.col("n0")) + 1
    n = (F.col("n1") + F.col("n0")).cast("double")
    var = (
        2.0
        * F.col("n1")
        * F.col("n0")
        * (2.0 * F.col("n1") * F.col("n0") - F.col("n1") - F.col("n0"))
        / (F.pow(n, 2) * (n - 1))
    )
    return agg.select(
        F.col("r").alias("n_runs"),
        F.col("n1").alias("n_above"),
        F.col("n0").alias("n_below"),
        F.round(er, 6).alias("expected_runs"),
        F.round((F.col("r") - er) / F.sqrt(var), 6).alias("z_score"),
    )
