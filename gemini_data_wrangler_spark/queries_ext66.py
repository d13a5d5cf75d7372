"""Round-2 extensions, batch 66: Croston intermittent-demand forecast,
per-document token entropy, deterministic mode, skewness/kurtosis.

Scale notes:
- CROSTON folds a 4-element state [size, interval, gap, started] exactly
  over the zero-filled daily spine (same exact-recursion contract as
  `ewma_daily_value` / `forecast_holt_linear`: identical inline fp
  sequence on both engines, list fold over an ordered prefix whose
  length is the DATE-SPINE length — bounded by calendar days, not rows).
- TOKEN ENTROPY is explode → two hash aggregates (doc×token, then doc);
  the explode fan-out is the token count, partial-aggregated map-side.
- MODE is groupBy-count + one ranking window with an explicit
  (count DESC, value ASC) tie-break — deterministic where SQL mode()
  implementations are not.
- SKEWNESS/KURTOSIS use explicit two-pass central moments (mean
  broadcast back, then Σ(x−μ)^k) with population-moment definitions
  pinned in the query — no reliance on engine-specific bias
  corrections, everything partial-aggregated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Croston's method over an intermittent purchase series
# ---------------------------------------------------------------------------
_CR_A = 0.2  # smoothing for both demand size and interval
_CR_MOD, _CR_REM = 397, 5  # user cohort whose purchases form a sparse series


def _croston_oracle() -> str:
    a = _CR_A
    upd = f"""(acc, e) -> CASE
        WHEN e[1] > 0 AND acc[4] = 0 THEN
          [e[1], acc[3] + 1, CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)]
        WHEN e[1] > 0 THEN
          [{a} * e[1] + {1 - a} * acc[1],
           {a} * (acc[3] + 1) + {1 - a} * acc[2],
           CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)]
        ELSE [acc[1], acc[2], acc[3] + 1, acc[4]] END"""
    return f"""
    WITH spine AS (
      SELECT unnest(generate_series(
        (SELECT min(CAST(date_trunc('day', ts) AS DATE)) FROM events),
        (SELECT max(CAST(date_trunc('day', ts) AS DATE)) FROM events),
        INTERVAL 1 DAY)) AS d
    ), demand AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, round(sum(value), 6) AS x
      FROM events
      WHERE event_type = 'purchase' AND user_id % {_CR_MOD} = {_CR_REM}
      GROUP BY 1
    ), daily AS (
      SELECT CAST(spine.d AS DATE) AS d, COALESCE(demand.x, 0) AS x
      FROM spine LEFT JOIN demand ON spine.d = demand.d
    ), folded AS (
      SELECT d, x,
             list_reduce(
               list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
                 list_transform(
                   list(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW),
                   v -> [CAST(v AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
               {upd}) AS s
      FROM daily
    )
    SELECT d, x AS demand,
           round(s[1], 6) AS size_smooth,
           round(s[2], 6) AS interval_smooth,
           CASE WHEN s[4] = 1 THEN round(s[1] / s[2], 6) END AS forecast
    FROM folded
    """


@register("forecast_croston", _croston_oracle())
def forecast_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (α=0.2) on an intermittent purchase series (one
    user cohort, mostly-zero days): separate exponential smoothing of
    the nonzero demand SIZES and the inter-demand INTERVALS, forecast =
    size/interval — the standard fix for SES collapsing toward zero on
    sparse series. State [z, p, gap, started] folds exactly over the
    zero-filled date spine; both engines execute the identical branch
    and fp sequence, so parity is exact."""
    events = sf_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("lo"),
        F.max(F.to_date(F.date_trunc("day", "ts"))).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    demand = (
        events.filter(
            (F.col("event_type") == "purchase")
            & (F.col("user_id") % _CR_MOD == _CR_REM)
        )
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(F.round(F.sum("value"), 6).alias("x"))
    )
    daily = (
        spine.join(demand, "d", "left")
        .select("d", F.coalesce("x", F.lit(0.0)).alias("x"))
    )
    a = _CR_A
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    fold = F.expr(
        "aggregate(_l, array(0.0D, 0.0D, 0.0D, 0.0D), (acc, x) -> CASE"
        " WHEN x > 0 AND element_at(acc, 4) = 0 THEN"
        "   array(x, element_at(acc, 3) + 1, 0.0D, 1.0D)"
        " WHEN x > 0 THEN"
        f"  array({a}D * x + {1 - a}D * element_at(acc, 1),"
        f"        {a}D * (element_at(acc, 3) + 1) + {1 - a}D * element_at(acc, 2),"
        "         0.0D, 1.0D)"
        " ELSE array(element_at(acc, 1), element_at(acc, 2),"
        "            element_at(acc, 3) + 1, element_at(acc, 4)) END)"
    )
    return (
        daily.withColumn("_l", F.collect_list("x").over(w))
        .withColumn("_s", fold)
        .select(
            "d",
            F.col("x").alias("demand"),
            F.round(F.element_at("_s", 1), 6).alias("size_smooth"),
            F.round(F.element_at("_s", 2), 6).alias("interval_smooth"),
            F.when(
                F.element_at("_s", 4) == 1,
                F.round(F.element_at("_s", 1) / F.element_at("_s", 2), 6),
            ).alias("forecast"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document token entropy (quality signal: low entropy = repetitive)
# ---------------------------------------------------------------------------
@register(
    "text_token_entropy",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      FROM documents
    ), tc AS (
      SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
    ), agg AS (
      SELECT doc_id, sum(c) AS n, count(*) AS n_distinct,
             sum(c * ln(c)) AS clogc
      FROM tc GROUP BY doc_id
    )
    SELECT doc_id, n AS n_tokens, n_distinct,
           round(ln(n) - clogc / n, 6) AS entropy,
           CASE WHEN n_distinct > 1
                THEN round((ln(n) - clogc / n) / ln(n_distinct), 6)
                ELSE 0.0 END AS entropy_norm
    FROM agg
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's unigram distribution, plus the
    log(V)-normalized efficiency — the information-theoretic repetition
    signal (near-0 = a few tokens dominate ⇒ boilerplate/spam; near-1 =
    uniform usage). Uses H = ln n − Σc·ln c / n so the per-(doc,token)
    counts reduce in one pass without materializing probabilities.
    Explode → two map-side-combined aggregates; no Python."""
    docs = sf_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
    )
    tc = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.log("c")).alias("clogc"),
    )
    h = F.log("n") - F.col("clogc") / F.col("n")
    return agg.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "n_distinct",
        F.round(h, 6).alias("entropy"),
        F.when(F.col("n_distinct") > 1, F.round(h / F.log("n_distinct"), 6))
        .otherwise(0.0)
        .alias("entropy_norm"),
    )


# ---------------------------------------------------------------------------
# Deterministic mode per group (count DESC, value ASC tie-break)
# ---------------------------------------------------------------------------
@register(
    "agg_mode_deterministic",
    """
    WITH c AS (
      SELECT o_orderpriority AS grp,
             CAST(month(o_orderdate) AS INT) AS v,
             count(*) AS n
      FROM orders GROUP BY 1, 2
    ), r AS (
      SELECT grp, v, n,
             row_number() OVER (PARTITION BY grp ORDER BY n DESC, v ASC) AS rk
      FROM c
    )
    SELECT grp, v AS mode_month, n AS mode_count FROM r WHERE rk = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode of order month per priority with a PINNED tie-break (highest
    count, then smallest value) — SQL mode() leaves ties
    implementation-defined, which is exactly the nondeterminism a
    cross-engine pipeline cannot carry. GroupBy-count then one ranking
    window over the (group × distinct-value) table — the window input is
    domain-sized, not row-sized."""
    orders = sf_table(spark, sf_dir, "orders")
    c = orders.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.month("o_orderdate").cast("int").alias("v"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("grp").orderBy(F.col("n").desc(), F.col("v").asc())
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("grp", F.col("v").alias("mode_month"), F.col("n").alias("mode_count"))
    )


# ---------------------------------------------------------------------------
# Skewness / excess kurtosis via explicit two-pass central moments
# ---------------------------------------------------------------------------
@register(
    "stats_skewness_kurtosis",
    """
    WITH m AS (
      SELECT o_orderpriority AS grp, avg(o_totalprice) AS mu
      FROM orders GROUP BY 1
    ), d AS (
      SELECT m.grp, o.o_totalprice - m.mu AS e
      FROM orders o JOIN m ON o.o_orderpriority = m.grp
    ), mom AS (
      SELECT grp, count(*) AS n,
             sum(e * e) / count(*) AS m2,
             sum(e * e * e) / count(*) AS m3,
             sum(e * e * e * e) / count(*) AS m4
      FROM d GROUP BY grp
    )
    SELECT grp, n,
           round(m3 / pow(m2, 1.5), 6) AS skewness,
           round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis
    FROM mom
    """,
)
def stats_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness g₁ = m₃/m₂^1.5 and excess kurtosis g₂ =
    m₄/m₂² − 3 of order value per priority, via explicit TWO-PASS
    central moments (group means broadcast back, then Σ(x−μ)^k).
    Engine built-ins disagree on bias corrections (sample vs population,
    n vs n−1 denominators); pinning the moment formulas in the query
    makes the definition — and therefore cross-engine parity — exact.
    Two scans, both fully partial-aggregated."""
    orders = sf_table(spark, sf_dir, "orders")
    m = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.avg("o_totalprice").alias("mu")
    )
    d = orders.join(
        F.broadcast(m), orders["o_orderpriority"] == m["grp"]
    ).select("grp", (F.col("o_totalprice") - F.col("mu")).alias("e"))
    e = F.col("e")
    mom = d.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(e * e) / F.count(F.lit(1))).alias("m2"),
        (F.sum(e * e * e) / F.count(F.lit(1))).alias("m3"),
        (F.sum(e * e * e * e) / F.count(F.lit(1))).alias("m4"),
    )
    return mom.select(
        "grp",
        "n",
        F.round(F.col("m3") / F.pow("m2", 1.5), 6).alias("skewness"),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 6).alias(
            "excess_kurtosis"
        ),
    )
