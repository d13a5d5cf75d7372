"""Round-2 extensions, batch 44: classifier/filter evaluation metrics —
rank AUC, calibration bins, inter-rater agreement, effect size.

A training-data pipeline lives and dies by its FILTERS (quality scores,
language ID, heuristic raters). This batch adds the evaluation loop for
those filters as distributed one-pass aggregates:

Scale notes:
- AUC (Mann–Whitney) is computed over the DISTINCT-SCORE distribution:
  group by score (domain-bounded, not row-bounded), one ordered window
  over distinct scores for the cumulative negative mass, constant-size
  reduction. No global per-row ranking window, no single-partition sort
  — the classic rank-sum formulation restated as a histogram sweep.
- CALIBRATION bins are fixed-width over the observed score range: two
  scans (min/max, then binned aggregate), both fully partial-aggregated.
- KAPPA / EFFECT SIZE are single hash aggregates producing sufficient
  statistics; everything after is constant-size arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# Shared scored-and-labeled view: quality score vs "is English" label.
_SCORED_SQL = """
    SELECT doc_id,
           round(CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                 t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS DOUBLE)
                 / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6) AS score,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM documents
"""

_STOPWORDS = "'the','a','of','and','to','in','is','that','it','for'"


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = sf_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    stop_hits = F.size(
        F.filter(
            toks,
            lambda t: t.isin(
                "the", "a", "of", "and", "to", "in", "is", "that", "it", "for"
            ),
        )
    )
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    return docs.select(
        "doc_id",
        F.round(
            stop_hits.cast("double") / F.greatest(n_tokens, F.lit(1)), 6
        ).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )


# ---------------------------------------------------------------------------
# Rank AUC (Mann–Whitney) of the stopword score predicting lang='en'
# ---------------------------------------------------------------------------
@register(
    "quality_score_auc",
    f"""
    WITH scored AS ({_SCORED_SQL}),
    by_score AS (
      SELECT score, sum(pos) AS np_s, count(*) - sum(pos) AS nn_s
      FROM scored GROUP BY score
    ), sweep AS (
      SELECT score, np_s, nn_s,
             COALESCE(sum(nn_s) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below
      FROM by_score
    )
    SELECT round(sum(np_s * (nn_below + 0.5 * nn_s))
                 / (sum(np_s) * sum(nn_s)), 6) AS auc,
           sum(np_s) AS n_pos, sum(nn_s) AS n_neg
    FROM sweep
    """,
)
def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC of the stopword-ratio quality score as a predictor of
    lang='en', via the Mann–Whitney identity AUC = P(s⁺ > s⁻) +
    ½P(s⁺ = s⁻) — computed over the DISTINCT-score histogram (group by
    score, one cumulative window over scores, constant reduction), not a
    per-row global rank, so the sort touches |distinct scores| rows
    regardless of corpus size. The filter-evaluation primitive: run it
    on any (score, label) pair to decide if a heuristic is worth its
    false-negative cost."""
    s = _scored(spark, sf_dir)
    by_score = s.groupBy("score").agg(
        F.sum("pos").alias("np_s"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("nn_s"),
    )
    # Distributed prefix sum (`two_level_cumsum`, block = score/64
    # value buckets): the sweep's ordered pass is hash-partitioned even
    # when the distinct-score histogram grows with the corpus.
    from gemini_data_wrangler_spark.operators.window import two_level_cumsum

    sweep = two_level_cumsum(
        by_score,
        key=F.col("score"),
        tiebreaks=[],
        block=F.floor(F.col("score") * 64).cast("long"),
        sums={"nn_below": F.col("nn_s")},
        inclusive=False,
    )
    return sweep.agg(
        F.round(
            F.sum(F.col("np_s") * (F.col("nn_below") + 0.5 * F.col("nn_s")))
            / (F.sum("np_s") * F.sum("nn_s")),
            6,
        ).alias("auc"),
        F.sum("np_s").alias("n_pos"),
        F.sum("nn_s").alias("n_neg"),
    )


# ---------------------------------------------------------------------------
# Calibration bins: positive rate per fixed-width score decile
# ---------------------------------------------------------------------------
_CAL_BINS = 10


@register(
    "quality_calibration_bins",
    f"""
    WITH scored AS ({_SCORED_SQL}),
    rng AS (SELECT min(score) AS lo, max(score) AS hi FROM scored)
    SELECT least(CAST(floor((score - lo) / nullif(hi - lo, 0) * {_CAL_BINS}) AS INT),
                 {_CAL_BINS - 1}) AS bin,
           count(*) AS n,
           round(avg(score), 6) AS mean_score,
           round(avg(CAST(pos AS DOUBLE)), 6) AS pos_rate
    FROM scored CROSS JOIN rng
    GROUP BY 1
    """,
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the quality score: fixed-width bins over the
    observed score range, per-bin mean score vs realized positive rate —
    the reliability-diagram input that tells you whether "score 0.8"
    means anything before you threshold on it. Two passes (min/max then
    binned aggregate), both map-side combined; bin count is constant so
    the shuffle is O(bins)."""
    s = _scored(spark, sf_dir)
    rng = s.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    binned = s.crossJoin(F.broadcast(rng)).withColumn(
        "bin",
        F.least(
            F.floor(
                (F.col("score") - F.col("lo"))
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0))
                * _CAL_BINS
            ).cast("int"),
            F.lit(_CAL_BINS - 1),
        ),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.round(F.avg(F.col("pos").cast("double")), 6).alias("pos_rate"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa between two heuristic raters
# ---------------------------------------------------------------------------
# Rater A: stopword score >= 0.10; rater B: punctuation-free heuristic
# (no '.,!?;:' characters at all). Deterministic stand-ins for two
# annotators / two filter versions.
@register(
    "quality_cohens_kappa",
    f"""
    WITH r AS (
      SELECT CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                   t -> list_contains([{_STOPWORDS}], t))) AS DOUBLE)
                   / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) >= 0.10
             THEN 1 ELSE 0 END AS a,
             CASE WHEN length(text) = length(regexp_replace(text, '[.,!?;:]', '', 'g'))
             THEN 1 ELSE 0 END AS b
      FROM documents
    ), c AS (
      SELECT count(*) AS n, sum(a * b) AS n11,
             sum(a * (1 - b)) AS n10, sum((1 - a) * b) AS n01,
             sum((1 - a) * (1 - b)) AS n00
      FROM r
    )
    SELECT round((n11 + n00) / CAST(n AS DOUBLE), 6) AS po,
           round(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                 / (CAST(n AS DOUBLE) * n), 6) AS pe,
           round(((n11 + n00) / CAST(n AS DOUBLE)
                  - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                    / (CAST(n AS DOUBLE) * n))
                 / (1 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                        / (CAST(n AS DOUBLE) * n)), 6) AS kappa
    FROM c
    """,
)
def quality_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document raters (stopword
    density vs punctuation-free heuristic) — chance-corrected agreement,
    the standard check before trusting ensembled filter labels (raw
    agreement po flatters raters that both say "keep" to everything).
    One aggregate produces the 2×2 contingency counts; kappa is
    constant-size arithmetic on top."""
    docs = sf_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    stop_hits = F.size(
        F.filter(
            toks,
            lambda t: t.isin(
                "the", "a", "of", "and", "to", "in", "is", "that", "it", "for"
            ),
        )
    )
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    a = F.when(
        stop_hits.cast("double") / F.greatest(n_tokens, F.lit(1)) >= 0.10, 1
    ).otherwise(0)
    b = F.when(
        F.length("text")
        == F.length(F.regexp_replace("text", r"[.,!?;:]", "")),
        1,
    ).otherwise(0)
    c = docs.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / n
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / (n * F.col("n"))
    return c.select(
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Cohen's d effect size: purchase vs click event values
# ---------------------------------------------------------------------------
@register(
    "dq_effect_size_d",
    """
    WITH g AS (
      SELECT event_type, count(*) AS n, avg(value) AS m, var_samp(value) AS v
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY event_type
    )
    SELECT round(p.m, 6) AS mean_purchase, round(c.m, 6) AS mean_click,
           round(sqrt(((p.n - 1) * p.v + (c.n - 1) * c.v) / (p.n + c.n - 2)), 6)
             AS pooled_sd,
           round((p.m - c.m)
                 / sqrt(((p.n - 1) * p.v + (c.n - 1) * c.v) / (p.n + c.n - 2)), 6)
             AS cohens_d
    FROM (SELECT * FROM g WHERE event_type = 'purchase') p
    CROSS JOIN (SELECT * FROM g WHERE event_type = 'click') c
    """,
)
def dq_effect_size_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d between purchase and click event values — the effect
    size that contextualizes a significant-but-tiny difference (the
    KS/chi-square screens say WHETHER distributions differ; d says BY
    HOW MUCH in pooled-σ units). Per-group moments in one aggregate,
    constant-size arithmetic after; the A/B-readout shape."""
    ev = sf_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    p = g.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("pn"), F.col("m").alias("pm"), F.col("v").alias("pv")
    )
    c = g.filter(F.col("event_type") == "click").select(
        F.col("n").alias("cn"), F.col("m").alias("cm"), F.col("v").alias("cv")
    )
    pooled = F.sqrt(
        ((F.col("pn") - 1) * F.col("pv") + (F.col("cn") - 1) * F.col("cv"))
        / (F.col("pn") + F.col("cn") - 2)
    )
    return (
        p.crossJoin(c)
        .select(
            F.round("pm", 6).alias("mean_purchase"),
            F.round("cm", 6).alias("mean_click"),
            F.round(pooled, 6).alias("pooled_sd"),
            F.round((F.col("pm") - F.col("cm")) / pooled, 6).alias("cohens_d"),
        )
    )
