"""Round-2 extensions, batch 46: Neyman-allocation stratified sampling,
log-likelihood-ratio collocations, autocorrelation function, Cramér's V.

Scale notes:
- NEYMAN ALLOCATION is two passes: per-stratum sufficient statistics
  (count, stddev) in one hash aggregate, then a broadcast of the
  per-stratum rates back over the scan with a content-hash uniform
  draw — the allocation math never touches row scale, and the sample
  is reproducible on any engine (md5-derived u, threshold rounded so
  last-ulp stddev differences cannot flip a draw).
- COLLOCATION LLR (Dunning's G²) joins bigram counts against the two
  positional unigram margins — all equi-joins on token keys, linear in
  distinct bigrams, TakeOrderedAndProject for the top-k.
- ACF runs over the bounded daily aggregate: one window pass computes
  all lag columns, one aggregate produces every lag's correlation
  simultaneously (same one-scan shape as the correlation matrix).
- CRAMÉR'S V is a domain-bounded contingency aggregate — chi² over the
  joint cells, constant-size arithmetic after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling (allocation ∝ N_h · S_h)
# ---------------------------------------------------------------------------
_NEYMAN_N = 2000


@register(
    "sample_neyman_allocation",
    f"""
    WITH s AS (
      SELECT o_orderpriority AS stratum, count(*) AS nh,
             stddev_samp(o_totalprice) AS sh
      FROM orders GROUP BY 1
    ), a AS (
      SELECT stratum, nh, sh,
             round(least({_NEYMAN_N} * nh * sh / (SELECT sum(nh * sh) FROM s) / nh,
                         1.0), 6) AS rate
      FROM s
    )
    SELECT a.stratum, a.nh,
           round(a.sh, 2) AS stddev,
           round(a.rate * a.nh, 2) AS allocated,
           count(*) FILTER (WHERE
             CAST(('0x' || substring(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 < a.rate) AS n_sampled
    FROM orders o JOIN a ON o.o_orderpriority = a.stratum
    GROUP BY a.stratum, a.nh, a.sh, a.rate
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sample of orders by priority:
    stratum h gets n·N_h·S_h/ΣN_hS_h of the {_NEYMAN_N}-row budget —
    minimum-variance allocation for estimating the mean of
    o_totalprice (high-variance strata are oversampled vs proportional
    allocation). Membership is a reproducible content-hash draw
    (md5→uniform, same trick as `sample_deterministic_hash`); the rate
    is rounded to 6 places on both engines so stddev reduction-order
    ulps cannot flip a draw. Returns the allocation audit per stratum."""
    orders = sf_table(spark, sf_dir, "orders")
    s = orders.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).alias("nh"), F.stddev_samp("o_totalprice").alias("sh")
    )
    tot = s.agg(F.sum(F.col("nh") * F.col("sh")).alias("t"))
    a = s.crossJoin(F.broadcast(tot)).withColumn(
        "rate",
        F.round(
            F.least(
                F.lit(_NEYMAN_N) * F.col("nh") * F.col("sh") / F.col("t") / F.col("nh"),
                F.lit(1.0),
            ),
            6,
        ),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        / F.lit(4294967296.0)
    )
    return (
        orders.join(
            F.broadcast(a), orders["o_orderpriority"] == a["stratum"]
        )
        .groupBy("stratum", "nh", "sh", "rate")
        .agg(F.count(F.when(u < F.col("rate"), 1)).alias("n_sampled"))
        .select(
            "stratum",
            "nh",
            F.round("sh", 2).alias("stddev"),
            F.round(F.col("rate") * F.col("nh"), 2).alias("allocated"),
            "n_sampled",
        )
    )


# ---------------------------------------------------------------------------
# Collocation mining: Dunning's log-likelihood ratio (G²) for bigrams
# ---------------------------------------------------------------------------
_LLR_TOP = 15

# G² term helper: O·ln(O/E) with the 0·ln(0) = 0 convention.
_LLR_TERM = "CASE WHEN {o} > 0 THEN {o} * ln({o} / ({e})) ELSE 0 END"


def _llr_oracle() -> str:
    t = _LLR_TERM
    e = "(CAST({m1} AS DOUBLE) * {m2} / n)"
    terms = " + ".join(
        t.format(o=o, e=e.format(m1=m1, m2=m2))
        for o, m1, m2 in [
            ("k11", "c1", "c2"),
            ("k12", "c1", "(n - c2)"),
            ("k21", "(n - c1)", "c2"),
            ("k22", "(n - c1)", "(n - c2)"),
        ]
    )
    return rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
      FROM documents
    ), bg AS (
      SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
             i -> {{'w1': ws[i], 'w2': ws[i+1]}})) AS s
      FROM w WHERE len(ws) >= 2
    ), pairs AS (
      SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS k11 FROM bg GROUP BY 1, 2
    ), m1 AS (SELECT w1, sum(k11) AS c1 FROM pairs GROUP BY w1),
    m2 AS (SELECT w2, sum(k11) AS c2 FROM pairs GROUP BY w2),
    tot AS (SELECT sum(k11) AS n FROM pairs),
    full_t AS (
      SELECT p.w1, p.w2, k11, c1 - k11 AS k12, c2 - k11 AS k21,
             n - c1 - c2 + k11 AS k22, c1, c2, n
      FROM pairs p JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
    )
    SELECT w1, w2, k11 AS n_cooc, round(2 * ({terms}), 6) AS llr
    FROM full_t
    ORDER BY llr DESC, w1 ASC, w2 ASC
    LIMIT {_LLR_TOP}
    """


@register("text_collocation_llr", _llr_oracle())
def text_collocation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_LLR_TOP} bigram collocations by Dunning's log-likelihood
    ratio G² — the collocation statistic that stays calibrated for rare
    words where PMI explodes (Dunning 1993). The 2×2 contingency per
    bigram comes from the bigram table joined to its two positional
    margins (equi-joins on tokens, linear in distinct bigrams), G² is
    row-local arithmetic, the top-k is a TakeOrderedAndProject."""
    docs = sf_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    bg = (
        docs.select(ws.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    " element_at(ws, i + 1) AS w2))"
                )
            ).alias("s")
        )
        .select("s.w1", "s.w2")
    )
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("k11"))
    m1 = pairs.groupBy("w1").agg(F.sum("k11").alias("c1"))
    m2 = pairs.groupBy("w2").agg(F.sum("k11").alias("c2"))
    tot = pairs.agg(F.sum("k11").alias("n"))
    full = (
        pairs.join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn("k12", F.col("c1") - F.col("k11"))
        .withColumn("k21", F.col("c2") - F.col("k11"))
        .withColumn("k22", F.col("n") - F.col("c1") - F.col("c2") + F.col("k11"))
    )

    def term(o: str, m1c: str, m2c: str) -> F.Column:
        return F.expr(
            _LLR_TERM.format(o=o, e=f"(CAST({m1c} AS DOUBLE) * {m2c} / n)")
        )

    llr = 2 * (
        term("k11", "c1", "c2")
        + term("k12", "c1", "(n - c2)")
        + term("k21", "(n - c1)", "c2")
        + term("k22", "(n - c1)", "(n - c2)")
    )
    return (
        full.select(
            "w1", "w2", F.col("k11").alias("n_cooc"), F.round(llr, 6).alias("llr")
        )
        .orderBy(F.col("llr").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(_LLR_TOP)
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of daily order totals (lags 1..7)
# ---------------------------------------------------------------------------
_ACF_LAGS = 7


def _acf_oracle() -> str:
    lag_cols = ", ".join(
        f"lag(x, {L}) OVER (ORDER BY d) AS x{L}" for L in range(1, _ACF_LAGS + 1)
    )
    corr_cols = ", ".join(
        f"round(corr(x, x{L}), 6) AS r{L}" for L in range(1, _ACF_LAGS + 1)
    )
    unions = " UNION ALL ".join(
        f"SELECT {L} AS lag, r{L} AS acf FROM c" for L in range(1, _ACF_LAGS + 1)
    )
    return f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             round(sum(o_totalprice), 2) AS x
      FROM orders GROUP BY 1
    ), lagged AS (
      SELECT x, {lag_cols} FROM daily
    ), c AS (
      SELECT {corr_cols} FROM lagged
    )
    {unions}
    """


@register("timeseries_acf", _acf_oracle())
def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily order totals at lags 1..{_ACF_LAGS} — the
    seasonality fingerprint read before fitting any forecast (a weekly
    cycle shows as a lag-7 peak). One window pass over the BOUNDED daily
    axis produces all lag columns; one aggregate computes every lag's
    Pearson r simultaneously; a constant-size stack reshapes to rows.
    Daily totals are cent-rounded so both engines correlate identical
    inputs."""
    orders = sf_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("x"))
    w = Window.orderBy("d")
    lagged = daily.select(
        "x", *[F.lag("x", L).over(w).alias(f"x{L}") for L in range(1, _ACF_LAGS + 1)]
    )
    c = lagged.agg(
        *[F.round(F.corr("x", f"x{L}"), 6).alias(f"r{L}") for L in range(1, _ACF_LAGS + 1)]
    )
    stack = ", ".join(f"{L}, r{L}" for L in range(1, _ACF_LAGS + 1))
    return c.select(F.expr(f"stack({_ACF_LAGS}, {stack}) AS (lag, acf)"))


# ---------------------------------------------------------------------------
# Cramér's V association strength (priority × status)
# ---------------------------------------------------------------------------
@register(
    "dq_cramers_v",
    """
    WITH joint AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS o
      FROM orders GROUP BY 1, 2
    ), mx AS (SELECT x, sum(o) AS rx FROM joint GROUP BY x),
    my AS (SELECT y, sum(o) AS cy FROM joint GROUP BY y),
    tot AS (SELECT sum(o) AS n FROM joint),
    chi AS (
      SELECT sum(power(o - CAST(rx AS DOUBLE) * cy / n, 2)
                 / (CAST(rx AS DOUBLE) * cy / n)) AS chi2,
             any_value(n) AS n,
             (SELECT count(*) FROM mx) AS r,
             (SELECT count(*) FROM my) AS c
      FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    )
    SELECT round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (n * (least(r, c) - 1))), 6) AS cramers_v,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof
    FROM chi
    """,
)
def dq_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for priority × status — the [0,1]-normalized
    association strength that makes chi² comparable across tables of
    different size and shape (chi² alone grows with n; V does not).
    Complements `feature_mutual_information` with the classical
    effect-size view. Domain-bounded contingency aggregate + constant
    arithmetic; nothing scales with row count after the first groupBy."""
    orders = sf_table(spark, sf_dir, "orders")
    joint = orders.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).alias("o"))
    mx = joint.groupBy("x").agg(F.sum("o").alias("rx"))
    my = joint.groupBy("y").agg(F.sum("o").alias("cy"))
    tot = joint.agg(F.sum("o").alias("n"))
    r_c = joint.agg(
        F.countDistinct("x").alias("r"), F.countDistinct("y").alias("c")
    )
    e = F.col("rx").cast("double") * F.col("cy") / F.col("n")
    chi = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.pow(F.col("o") - e, 2) / e).alias("chi2"),
            F.first("n").alias("n"),
        )
        .crossJoin(F.broadcast(r_c))
    )
    return chi.select(
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * (F.least("r", "c") - 1))), 6
        ).alias("cramers_v"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
    )
