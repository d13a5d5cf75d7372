"""Round-2 extensions, batch 85: always-valid sequential testing (mSPRT)
and beta-binomial empirical-Bayes shrinkage.

Scale notes:
- mSPRT (Johari et al., "Peeking at A/B tests"): the always-valid
  p-value process that lets an experimenter stop whenever. The data
  reduce to the DAILY cumulative conversion counts per arm (one grouped
  count + a prefix-sum window over the bounded day axis — integer
  cumulatives, exact cross-engine). The mixture likelihood ratio and
  the running-minimum p-value are then row-local arithmetic on the day
  table. At 100 TB the per-day grouped count is the only data-scale
  pass; the sequential math never touches raw rows.
- EMPIRICAL BAYES (beta-binomial, method-of-moments): per-part return
  rates shrunk toward the corpus prior — the standard fix for
  small-sample league tables. Per-part (n, k) is one grouped count; the
  MoM prior (alpha, beta) comes from corpus-level sums; the posterior
  mean (k+alpha)/(n+alpha+beta) is row-local. Every input is an integer
  sum, so both engines compute identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# mSPRT always-valid sequential monitoring of a 50/50 user split
# ---------------------------------------------------------------------------
_MSPRT_TAU2 = 1.0  # mixture prior variance on the (count-scale) effect


@register(
    "ab_msprt_always_valid",
    f"""
    WITH u AS MATERIALIZED (
      SELECT user_id,
             CAST(min(CAST(ts AS DATE)) AS DATE) AS first_day,
             count(*) FILTER (WHERE event_type = 'purchase') AS m,
             CAST(list_sum(list_transform(range(1, 9), i ->
                  (strpos('0123456789abcdef',
                          substring(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
                  * power(16, 8 - i))) AS BIGINT) % 2 AS arm
      FROM events GROUP BY user_id
    ), daily AS (
      SELECT first_day AS day,
             count(*) FILTER (WHERE arm = 0) AS na_d,
             sum(m) FILTER (WHERE arm = 0) AS sa_d,
             sum(m * m) FILTER (WHERE arm = 0) AS qa_d,
             count(*) FILTER (WHERE arm = 1) AS nb_d,
             sum(m) FILTER (WHERE arm = 1) AS sb_d,
             sum(m * m) FILTER (WHERE arm = 1) AS qb_d
      FROM u GROUP BY first_day
    ), cum AS MATERIALIZED (
      SELECT day,
             sum(na_d) OVER w AS na, sum(COALESCE(sa_d, 0)) OVER w AS sa,
             sum(COALESCE(qa_d, 0)) OVER w AS qa,
             sum(nb_d) OVER w AS nb, sum(COALESCE(sb_d, 0)) OVER w AS sb,
             sum(COALESCE(qb_d, 0)) OVER w AS qb
      FROM daily WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ), lr AS MATERIALIZED (
      SELECT day, na, nb,
             CAST(sa AS DOUBLE)/na - CAST(sb AS DOUBLE)/nb AS delta,
             ((qa - CAST(sa AS DOUBLE)*sa/na) + (qb - CAST(sb AS DOUBLE)*sb/nb))
               / (na + nb - 2) * (1.0/na + 1.0/nb) AS se2
      FROM cum
      WHERE na > 1 AND nb > 1
        AND (qa - CAST(sa AS DOUBLE)*sa/na) + (qb - CAST(sb AS DOUBLE)*sb/nb) > 0
    ), lam AS MATERIALIZED (
      SELECT day, na, nb, delta,
             sqrt(se2 / (se2 + {_MSPRT_TAU2}))
               * exp(delta*delta*{_MSPRT_TAU2} / (2.0*se2*(se2 + {_MSPRT_TAU2}))) AS l
      FROM lr
    )
    SELECT day, na, nb, round(delta, 6) AS delta,
           round(least(1.0, 1.0 / max(l) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)), 6)
             AS always_valid_p
    FROM lam
    """,
)
def ab_msprt_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid p-value trajectory (mixture SPRT) for the
    purchases-per-user difference between the md5-hash 50/50 arms, by
    user first-seen day: cumulative integer count/sum/sum-of-squares per
    day (prefix-sum window over the bounded day axis — exact integers,
    so both engines derive identical means and pooled variances), the
    normal-mixture likelihood ratio per day, and p_t =
    1 / running-max(Lambda) — monotone non-increasing, so stopping at
    any peek preserves the type-I guarantee. The only data-scale pass is
    the per-user then per-day grouped count."""
    events = sf_table(spark, sf_dir, "events")
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 2
    )
    u = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("m"),
    ).withColumn("arm", arm)
    daily = u.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("na_d"),
        F.sum(F.when(F.col("arm") == 0, F.col("m")).otherwise(0)).alias("sa_d"),
        F.sum(F.when(F.col("arm") == 0, F.col("m") * F.col("m")).otherwise(0)).alias("qa_d"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("nb_d"),
        F.sum(F.when(F.col("arm") == 1, F.col("m")).otherwise(0)).alias("sb_d"),
        F.sum(F.when(F.col("arm") == 1, F.col("m") * F.col("m")).otherwise(0)).alias("qb_d"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("na_d").over(w).alias("na"),
        F.sum("sa_d").over(w).alias("sa"),
        F.sum("qa_d").over(w).alias("qa"),
        F.sum("nb_d").over(w).alias("nb"),
        F.sum("sb_d").over(w).alias("sb"),
        F.sum("qb_d").over(w).alias("qb"),
    )
    # Division-free positivity guard (ssw * na * nb > 0): predicate
    # reordering must never evaluate a division on na = 0 rows under ANSI.
    ga = F.col("qa").cast("double") * F.col("na") - F.col("sa").cast("double") * F.col("sa")
    gb = F.col("qb").cast("double") * F.col("nb") - F.col("sb").cast("double") * F.col("sb")
    cum = cum.filter(
        (F.col("na") > 1)
        & (F.col("nb") > 1)
        & (ga * F.col("nb") + gb * F.col("na") > 0)
    )
    ssw = (
        F.col("qa") - F.col("sa").cast("double") * F.col("sa") / F.col("na")
    ) + (F.col("qb") - F.col("sb").cast("double") * F.col("sb") / F.col("nb"))
    lr = cum.select(
        "day",
        "na",
        "nb",
        (F.col("sa").cast("double") / F.col("na") - F.col("sb").cast("double") / F.col("nb")).alias(
            "delta"
        ),
        (
            ssw / (F.col("na") + F.col("nb") - 2)
            * (1.0 / F.col("na") + 1.0 / F.col("nb"))
        ).alias("se2"),
    )
    lam = lr.select(
        "day",
        "na",
        "nb",
        "delta",
        (
            F.sqrt(F.col("se2") / (F.col("se2") + _MSPRT_TAU2))
            * F.exp(
                F.col("delta")
                * F.col("delta")
                * _MSPRT_TAU2
                / (2.0 * F.col("se2") * (F.col("se2") + _MSPRT_TAU2))
            )
        ).alias("l"),
    )
    return lam.select(
        "day",
        "na",
        "nb",
        F.round("delta", 6).alias("delta"),
        F.round(F.least(F.lit(1.0), 1.0 / F.max("l").over(w)), 6).alias(
            "always_valid_p"
        ),
    )


# ---------------------------------------------------------------------------
# Beta-binomial empirical-Bayes shrinkage of per-part return rates
# ---------------------------------------------------------------------------
_EB_TOP = 25
_EB_MIN_N = 5


@register(
    "stats_eb_shrunk_return_rates",
    f"""
    WITH pp AS MATERIALIZED (
      SELECT l_partkey, count(*) AS n,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS k
      FROM lineitem GROUP BY l_partkey
    ), elig AS MATERIALIZED (SELECT * FROM pp WHERE n >= {_EB_MIN_N}),
    mom AS (
      SELECT avg(CAST(k AS DOUBLE)/n) AS mu,
             avg((CAST(k AS DOUBLE)/n) * (CAST(k AS DOUBLE)/n)) AS m2,
             avg(1.0/n) AS invn
      FROM elig
    ), prior AS (
      -- method-of-moments for the beta prior: match mean and the
      -- between-part variance after removing binomial sampling noise
      SELECT mu,
             greatest(m2 - mu*mu - mu*(1.0-mu)*invn, 1e-6) AS var_true
      FROM mom
    ), ab AS (
      SELECT mu, var_true,
             mu * (mu*(1.0-mu)/var_true - 1.0) AS alpha,
             (1.0-mu) * (mu*(1.0-mu)/var_true - 1.0) AS beta
      FROM prior
    )
    SELECT l_partkey, n, k,
           round(CAST(k AS DOUBLE)/n, 6) AS raw_rate,
           round((k + alpha) / (n + alpha + beta), 6) AS shrunk_rate,
           round(alpha, 4) AS alpha, round(beta, 4) AS beta
    FROM elig CROSS JOIN ab
    ORDER BY (k + alpha) / (n + alpha + beta) DESC, l_partkey ASC
    LIMIT {_EB_TOP}
    """,
)
def stats_eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_EB_TOP} parts by empirical-Bayes-shrunk return rate:
    per-part (n, k) in one grouped count, a method-of-moments
    beta-binomial prior from corpus-level averages (between-part variance
    = raw variance minus the average binomial noise), and the posterior
    mean (k+alpha)/(n+alpha+beta) row-locally — the league-table
    estimator that stops 3-of-3 parts outranking 400-of-1000 ones.
    TakeOrderedAndProject keeps the top-k distributed."""
    li = sf_table(spark, sf_dir, "lineitem")
    pp = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("k"),
    )
    # eager: the moment aggregate and the per-row posterior both scan it
    elig = pp.filter(F.col("n") >= _EB_MIN_N).localCheckpoint()
    rate = F.col("k").cast("double") / F.col("n")
    mom = elig.agg(
        F.avg(rate).alias("mu"),
        F.avg(rate * rate).alias("m2"),
        F.avg(1.0 / F.col("n")).alias("invn"),
    )
    prior = mom.select(
        "mu",
        F.greatest(
            F.col("m2") - F.col("mu") * F.col("mu")
            - F.col("mu") * (1.0 - F.col("mu")) * F.col("invn"),
            F.lit(1e-6),
        ).alias("var_true"),
    )
    ab = prior.select(
        "mu",
        (F.col("mu") * (F.col("mu") * (1.0 - F.col("mu")) / F.col("var_true") - 1.0)).alias(
            "alpha"
        ),
        (
            (1.0 - F.col("mu"))
            * (F.col("mu") * (1.0 - F.col("mu")) / F.col("var_true") - 1.0)
        ).alias("beta"),
    )
    shrunk = (F.col("k") + F.col("alpha")) / (F.col("n") + F.col("alpha") + F.col("beta"))
    return (
        elig.crossJoin(F.broadcast(ab))
        .orderBy(shrunk.desc(), F.asc("l_partkey"))
        .limit(_EB_TOP)
        .select(
            "l_partkey",
            "n",
            "k",
            F.round(rate, 6).alias("raw_rate"),
            F.round(shrunk, 6).alias("shrunk_rate"),
            F.round("alpha", 4).alias("alpha"),
            F.round("beta", 4).alias("beta"),
        )
    )
