"""Round-2 extensions, batch 98: Breusch-Pagan heteroscedasticity test,
Flesch readability scoring, and the Atkinson inequality index.

Scale notes:
- BREUSCH-PAGAN: two grouped passes of sufficient sums — OLS of price on
  quantity, then the auxiliary regression of squared residuals on the
  regressor (the residual never materializes per row beyond the second
  pass's map-side arithmetic). LM = n*R2_aux with the chi-square(1)
  p-value through the shared Abramowitz-Stegun polynomial. The
  variance-structure diagnostic that decides WLS vs OLS.
- READABILITY: Flesch reading ease per document from whitespace words,
  sentence terminators, and vowel-group syllable approximation — three
  regexp counts, entirely row-local JVM work, identical regex semantics
  on both engines. The classic quality-filter feature family.
- ATKINSON (epsilon=1): 1 - geomean/mean over positive account
  balances — the inequality index with an explicit social-welfare
  interpretation, one aggregate of (sum, sum-of-logs, count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.queries_ext87 import _qnorm
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Breusch-Pagan test for heteroscedasticity of price on quantity
# ---------------------------------------------------------------------------
@register(
    "stats_breusch_pagan",
    f"""
    WITH d AS MATERIALIZED (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ), s1 AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(x*y) AS sxy
      FROM d
    ), fit AS (
      SELECT n, sx, sxx,
             (n*sxy - sx*sy) / (n*sxx - sx*sx) AS b,
             (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n AS a
      FROM s1
    ), s2 AS (
      SELECT f.n, f.sx, f.sxx,
             sum((d.y - f.a - f.b*d.x) * (d.y - f.a - f.b*d.x)) AS se2,
             sum(d.x * (d.y - f.a - f.b*d.x) * (d.y - f.a - f.b*d.x)) AS sxe2,
             sum((d.y - f.a - f.b*d.x) * (d.y - f.a - f.b*d.x)
                 * (d.y - f.a - f.b*d.x) * (d.y - f.a - f.b*d.x)) AS se4
      FROM d CROSS JOIN fit f
      GROUP BY f.n, f.sx, f.sxx
    ), aux AS (
      -- R^2 of e^2 on x: slope g = (n*sxe2 - sx*se2)/(n*sxx - sx*sx);
      -- SSE_explained = g^2 * (sxx - sx^2/n); SST = se4 - se2^2/n
      SELECT n,
             ((n*sxe2 - sx*se2) / (n*sxx - sx*sx))
               * ((n*sxe2 - sx*se2) / (n*sxx - sx*sx))
               * (sxx - sx*sx/n) AS ss_explained,
             se4 - se2*se2/n AS ss_total
      FROM s2
    )
    SELECT n,
           round(n * ss_explained / ss_total, 4) AS lm_stat,
           round(2.0 * {_qnorm('sqrt(n * ss_explained / ss_total)')}, 6) AS p_value
    FROM aux
    """,
)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan LM test for heteroscedasticity in the
    price-on-quantity regression: pass 1 fits OLS from sufficient sums;
    pass 2 accumulates the squared-residual moments with the fitted
    (a, b) broadcast back; LM = n*R2 of the auxiliary e^2-on-x
    regression, chi-square(1) p-value via the shared normal polynomial.
    Two map-side-aggregated scans, no per-row residual table."""
    li = sf_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    s1 = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = s1.select(
        "n",
        "sx",
        "sxx",
        b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"),
    )
    e = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    s2 = (
        d.crossJoin(F.broadcast(fit))
        .groupBy("n", "sx", "sxx")
        .agg(
            F.sum(e * e).alias("se2"),
            F.sum(F.col("x") * e * e).alias("sxe2"),
            F.sum(e * e * e * e).alias("se4"),
        )
    )
    g = (F.col("n") * F.col("sxe2") - F.col("sx") * F.col("se2")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    aux = s2.select(
        "n",
        (g * g * (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))).alias(
            "ss_explained"
        ),
        (F.col("se4") - F.col("se2") * F.col("se2") / F.col("n")).alias("ss_total"),
    )
    lm = F.col("n") * F.col("ss_explained") / F.col("ss_total")
    return aux.select(
        "n",
        F.round(lm, 4).alias("lm_stat"),
        F.round(2.0 * F.expr(_qnorm("sqrt(n * ss_explained / ss_total)")), 6).alias(
            "p_value"
        ),
    )


# ---------------------------------------------------------------------------
# Flesch reading ease per document
# ---------------------------------------------------------------------------
@register(
    "text_readability_scores",
    r"""
    WITH t AS MATERIALIZED (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syllables
      FROM documents
    )
    SELECT doc_id, words, sentences, syllables,
           round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                 - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) AS flesch
    FROM t WHERE words > 0
    """,
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document from whitespace word count,
    sentence-terminator runs, and vowel-group syllable approximation —
    three row-local regexp counts with identical semantics on both
    engines, then the classic 206.835 - 1.015(W/S) - 84.6(Sy/W)
    formula. The readability feature family every text-quality filter
    bank includes."""
    docs = sf_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("words"),
        F.greatest(
            F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
        ).alias("sentences"),
        F.greatest(
            F.size(F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
            F.lit(1),
        ).alias("syllables"),
    )
    return t.filter(F.col("words") > 0).select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.round(
            206.835
            - 1.015 * (F.col("words").cast("double") / F.col("sentences"))
            - 84.6 * (F.col("syllables").cast("double") / F.col("words")),
            4,
        ).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# Atkinson inequality index (epsilon = 1)
# ---------------------------------------------------------------------------
@register(
    "agg_atkinson_index",
    """
    WITH pos AS (SELECT c_acctbal AS v FROM customer WHERE c_acctbal > 0)
    SELECT count(*) AS n,
           round(avg(v), 4) AS mean_balance,
           round(exp(avg(ln(v))), 4) AS geomean_balance,
           round(1.0 - exp(avg(ln(v))) / avg(v), 6) AS atkinson_1
    FROM pos
    """,
)
def agg_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index at epsilon=1 over positive account
    balances: 1 - geometric-mean/arithmetic-mean — the welfare-grounded
    inequality measure (the fraction of total balance society would give
    up for perfect equality under log utility). One aggregate of
    (count, sum, sum-of-logs); complements the Gini family."""
    cust = sf_table(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).select(F.col("c_acctbal").alias("v"))
    return pos.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v"), 4).alias("mean_balance"),
        F.round(F.exp(F.avg(F.log("v"))), 4).alias("geomean_balance"),
        F.round(1.0 - F.exp(F.avg(F.log("v"))) / F.avg("v"), 6).alias("atkinson_1"),
    )
