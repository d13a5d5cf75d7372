"""Round-2 extensions, batch 74: two-feature OLS (closed form),
Durbin-Watson autocorrelation test, vocabulary coverage curve.

Scale notes:
- OLS-2 is ONE hash aggregate of raw sums (n, Σx, Σx², Σxy, …) then
  driver-free closed-form algebra on the single result row via
  Cramer's rule — the normal-equation path every distributed OLS at
  p=2 reduces to. No second pass, no matrix library.
- DURBIN-WATSON fits on the |days| daily aggregate, then one lag
  window over that tiny series — the fact-table scan reduces first.
- VOCAB COVERAGE ranks the token-frequency table (|vocab| rows, not
  |tokens|) with one ordered cumulative sum; integer mass sums are
  exact, the final share is a single division. The rank/cumsum pass
  runs on the aggregated vocabulary, the same two-level shape as the
  BPE bank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Two-feature OLS: l_extendedprice ~ l_quantity + l_discount
# ---------------------------------------------------------------------------
_OLS_SUMS = """
      SELECT count(*) AS n,
             sum(l_quantity) AS sx1, sum(l_discount) AS sx2,
             sum(l_extendedprice) AS sy,
             sum(l_quantity * l_quantity) AS sx1x1,
             sum(l_discount * l_discount) AS sx2x2,
             sum(l_quantity * l_discount) AS sx1x2,
             sum(l_quantity * l_extendedprice) AS sx1y,
             sum(l_discount * l_extendedprice) AS sx2y,
             sum(l_extendedprice * l_extendedprice) AS syy
      FROM lineitem
"""


@register(
    "stats_ols_two_features",
    f"""
    WITH s AS ({_OLS_SUMS}),
    c AS (
      SELECT n,
             sx1x1 - sx1 * sx1 / n AS cx1x1,
             sx2x2 - sx2 * sx2 / n AS cx2x2,
             sx1x2 - sx1 * sx2 / n AS cx1x2,
             sx1y  - sx1 * sy  / n AS cx1y,
             sx2y  - sx2 * sy  / n AS cx2y,
             syy   - sy  * sy  / n AS cyy,
             sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my
      FROM s
    )
    SELECT round((cx2x2 * cx1y - cx1x2 * cx2y)
                 / (cx1x1 * cx2x2 - cx1x2 * cx1x2), 4) AS beta_quantity,
           round((cx1x1 * cx2y - cx1x2 * cx1y)
                 / (cx1x1 * cx2x2 - cx1x2 * cx1x2), 4) AS beta_discount,
           round(my - (cx2x2 * cx1y - cx1x2 * cx2y)
                      / (cx1x1 * cx2x2 - cx1x2 * cx1x2) * mx1
                    - (cx1x1 * cx2y - cx1x2 * cx1y)
                      / (cx1x1 * cx2x2 - cx1x2 * cx1x2) * mx2, 4) AS intercept,
           round(((cx2x2 * cx1y - cx1x2 * cx2y)
                  / (cx1x1 * cx2x2 - cx1x2 * cx1x2) * cx1y
                + (cx1x1 * cx2y - cx1x2 * cx1y)
                  / (cx1x1 * cx2x2 - cx1x2 * cx1x2) * cx2y) / cyy, 6) AS r2
    FROM c
    """,
)
def stats_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression price ~ quantity + discount in closed
    form: one aggregate of raw sums, centered second moments via the
    Σxy − ΣxΣy/n identity, Cramer's rule for the 2×2 normal equations,
    R² = explained/total SS. Coefficients rounded to 4 dp (the centered
    sums difference two large unordered-FP sums, so the last ~2 digits
    of a 6-dp value are summation-order noise; the identical algebra on
    both engines keeps everything above that floor stable)."""
    li = sf_table(spark, sf_dir, "lineitem")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sx1"),
        F.sum("l_discount").alias("sx2"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("sx1x1"),
        F.sum(F.col("l_discount") * F.col("l_discount")).alias("sx2x2"),
        F.sum(F.col("l_quantity") * F.col("l_discount")).alias("sx1x2"),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sx1y"),
        F.sum(F.col("l_discount") * F.col("l_extendedprice")).alias("sx2y"),
        F.sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("syy"),
    )
    n = F.col("n")
    c = s.select(
        n,
        (F.col("sx1x1") - F.col("sx1") * F.col("sx1") / n).alias("cx1x1"),
        (F.col("sx2x2") - F.col("sx2") * F.col("sx2") / n).alias("cx2x2"),
        (F.col("sx1x2") - F.col("sx1") * F.col("sx2") / n).alias("cx1x2"),
        (F.col("sx1y") - F.col("sx1") * F.col("sy") / n).alias("cx1y"),
        (F.col("sx2y") - F.col("sx2") * F.col("sy") / n).alias("cx2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("cyy"),
        (F.col("sx1") / n).alias("mx1"),
        (F.col("sx2") / n).alias("mx2"),
        (F.col("sy") / n).alias("my"),
    )
    det = F.col("cx1x1") * F.col("cx2x2") - F.col("cx1x2") * F.col("cx1x2")
    b1 = (F.col("cx2x2") * F.col("cx1y") - F.col("cx1x2") * F.col("cx2y")) / det
    b2 = (F.col("cx1x1") * F.col("cx2y") - F.col("cx1x2") * F.col("cx1y")) / det
    return c.select(
        F.round(b1, 4).alias("beta_quantity"),
        F.round(b2, 4).alias("beta_discount"),
        F.round(F.col("my") - b1 * F.col("mx1") - b2 * F.col("mx2"), 4).alias(
            "intercept"
        ),
        F.round((b1 * F.col("cx1y") + b2 * F.col("cx2y")) / F.col("cyy"), 6).alias(
            "r2"
        ),
    )


# ---------------------------------------------------------------------------
# Durbin-Watson on the daily-revenue trend residuals
# ---------------------------------------------------------------------------
@register(
    "stats_durbin_watson",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             sum(o_totalprice) AS y
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT y, row_number() OVER (ORDER BY d) * 1.0 AS t FROM daily
    ),
    fit AS (
      SELECT count(*) AS n, sum(t) AS st, sum(y) AS sy,
             sum(t * t) AS stt, sum(t * y) AS sty
      FROM idx
    ),
    resid AS (
      SELECT i.t,
             i.y - ((f.sty - f.st * f.sy / f.n) / (f.stt - f.st * f.st / f.n)) * i.t
                 - (f.sy / f.n
                    - (f.sty - f.st * f.sy / f.n)
                      / (f.stt - f.st * f.st / f.n) * f.st / f.n) AS e
      FROM idx i CROSS JOIN fit f
    ),
    lagged AS (
      SELECT e, lag(e) OVER (ORDER BY t) AS ep FROM resid
    )
    SELECT round(sum((e - ep) * (e - ep)) FILTER (WHERE ep IS NOT NULL)
                 / sum(e * e), 6) AS durbin_watson,
           count(*) AS n_days
    FROM lagged
    """,
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic d = Σ(eₜ−eₜ₋₁)²/Σeₜ² on residuals of the
    daily-revenue linear trend — the standard serial-correlation screen
    (d≈2 none, d→0 positive, d→4 negative). The fact table reduces to
    the daily series first; the OLS fit is a broadcast scalar row and
    the DW sums are one lag window over |days| rows."""
    orders = sf_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("d")
    ).agg(F.sum("o_totalprice").alias("y"))
    idx = daily.select(
        "y", (F.row_number().over(Window.orderBy("d")) * F.lit(1.0)).alias("t")
    )
    fit = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    slope = (F.col("sty") - F.col("st") * F.col("sy") / F.col("n")) / (
        F.col("stt") - F.col("st") * F.col("st") / F.col("n")
    )
    intercept = F.col("sy") / F.col("n") - slope * F.col("st") / F.col("n")
    resid = idx.crossJoin(F.broadcast(fit)).select(
        "t", (F.col("y") - slope * F.col("t") - intercept).alias("e")
    )
    lagged = resid.select("e", F.lag("e").over(Window.orderBy("t")).alias("ep"))
    return lagged.agg(
        F.round(
            F.sum(
                F.when(
                    F.col("ep").isNotNull(),
                    (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")),
                )
            )
            / F.sum(F.col("e") * F.col("e")),
            6,
        ).alias("durbin_watson"),
        F.count(F.lit(1)).alias("n_days"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: token mass covered by the top-k vocab
# ---------------------------------------------------------------------------
_COVERAGE_KS = (100, 500, 1000, 5000)


@register(
    "vocab_coverage_curve",
    rf"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    freq AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
    ranked AS (
      SELECT f,
             row_number() OVER (ORDER BY f DESC, w) AS r,
             sum(f) OVER (ORDER BY f DESC, w
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(f) OVER () AS total
      FROM freq
    )
    SELECT k,
           round(coalesce(max(CASE WHEN r <= k THEN cum END) * 1.0
                          / max(total), 1.0), 6) AS coverage
    FROM ranked
    CROSS JOIN (SELECT unnest([{", ".join(str(k) for k in _COVERAGE_KS)}]) AS k)
    GROUP BY k
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary for k ∈ {100, 500,
    1000, 5000} — the curve that sizes a tokenizer's vocab before
    training. Frequencies aggregate to |vocab| rows first; only the
    top max(k)=5000 head is ever ranked — pruned distributedly via
    TakeOrderedAndProject (orderBy+limit), so the single-task ordered
    window sees a CONSTANT-bounded frame regardless of corpus vocabulary
    size; the denominator is a broadcast 1-row global total. Integer
    token-mass sums are exact; the share is a single division, so no
    cross-engine FP drift."""
    docs = sf_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    total = freq.agg(F.sum("f").alias("total"))
    # TakeOrderedAndProject: each task keeps its local top-5000, driver
    # merges — never a full sort, never a vocabulary-sized window frame.
    head = freq.orderBy(F.col("f").desc(), F.col("w")).limit(max(_COVERAGE_KS))
    w_rank = Window.orderBy(F.col("f").desc(), F.col("w"))
    ranked = head.select(
        "f",
        F.row_number().over(w_rank).alias("r"),
        F.sum("f")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    ).crossJoin(F.broadcast(total))
    ks = F.explode(F.array(*[F.lit(k) for k in _COVERAGE_KS])).alias("k")
    return (
        ranked.crossJoin(ranked.sparkSession.range(1).select(ks).select("k"))
        .groupBy("k")
        .agg(
            F.round(
                F.coalesce(
                    F.max(F.when(F.col("r") <= F.col("k"), F.col("cum")))
                    * F.lit(1.0)
                    / F.max("total"),
                    F.lit(1.0),
                ),
                6,
            ).alias("coverage")
        )
    )
