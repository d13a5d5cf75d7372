"""Round-2 extensions, batch 25: seasonal anomaly screening, cross-source
quantile normalization, l-diversity privacy check, Zipf-law corpus fit,
and the bucketed band join.

Scale notes:
- SEASONAL ANOMALY: two aggregations (daily rollup, then day-of-week
  baseline) + one broadcast join back — the classic "compare to same
  weekday" screen. All map-side-combinable; no windows over the raw rows.
- QUANTILE NORMALIZATION maps each source's distribution onto the global
  one by rank: per-source percent_rank (one window), a global row_number
  (one window), then an equi-join on the computed target index — the
  standard batch-effect correction, shuffle count fixed at 3 regardless
  of scale. At 100 TB replace the exact global ranking with equi-depth
  histogram boundaries (`histogram_equidepth`) and interpolate.
- L-DIVERSITY generalizes `dq_k_anonymity`: a quasi-identifier group is
  unsafe unless the sensitive attribute takes ≥ l distinct values inside
  it — group-size privacy (k) does not stop attribute disclosure when
  everyone in the group shares one sensitive value. One groupBy with a
  distinct-count, map-side combined.
- ZIPF FIT: word frequencies are one exploded aggregation; the log-log
  OLS fit is regr_slope/regr_intercept/regr_r2 over the top-1k ranks —
  six running sums, no quadratic anything.
- BAND JOIN (|a − b| ≤ δ): the inequality predicate alone would force a
  cross join; quantizing both sides to δ-wide buckets and equi-joining
  each left bucket to {b−1, b, b+1} makes it a hash join with 3× fan-out,
  then the exact band filter. The candidate set is linear in the true
  match density — the standard distributed shape for similarity-on-a-
  number joins (asof/interval joins cover the ordered-time variants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Seasonal (day-of-week) anomaly screen over daily event value
# ---------------------------------------------------------------------------
@register(
    "timeseries_seasonal_anomaly",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, dayofweek(CAST(ts AS DATE)) AS dow,
             round(sum(value), 6) AS day_value
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT dow, avg(day_value) AS dow_mean, stddev_samp(day_value) AS dow_sd
      FROM daily GROUP BY dow
    )
    SELECT d, day_value,
           round(dow_mean, 6) AS dow_mean,
           abs(day_value - dow_mean) > 2 * dow_sd AS is_anomaly
    FROM daily JOIN base USING (dow)
    """,
)
def timeseries_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-weekday anomaly screen: roll events up to daily totals, build
    a day-of-week baseline (mean ± sd over the season's occurrences of
    that weekday), and flag days beyond 2σ of THEIR weekday — the screen
    that doesn't page you every Saturday for being quieter than Friday.
    Two map-side-combined aggregations and a broadcast join of the 7-row
    baseline; the raw event table is touched once."""
    events = sf_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date("ts").alias("d"), F.dayofweek(F.to_date("ts")).alias("dow")
    ).agg(F.round(F.sum("value"), 6).alias("day_value"))
    base = daily.groupBy("dow").agg(
        F.avg("day_value").alias("dow_mean"),
        F.stddev_samp("day_value").alias("dow_sd"),
    )
    return daily.join(F.broadcast(base), "dow").select(
        "d",
        "day_value",
        F.round("dow_mean", 6).alias("dow_mean"),
        (
            F.abs(F.col("day_value") - F.col("dow_mean")) > 2 * F.col("dow_sd")
        ).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Quantile normalization of a per-source feature onto the global distribution
# ---------------------------------------------------------------------------
@register(
    "feature_quantile_normalize",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS q
      FROM documents
    ), gq AS (
      SELECT n_chars AS g_val,
             row_number() OVER (ORDER BY n_chars, doc_id) AS rn
      FROM documents
    ), n AS (SELECT count(*) AS n FROM documents)
    SELECT r.doc_id, r.source, r.n_chars,
           g.g_val AS normalized
    FROM ranked r CROSS JOIN n
    JOIN gq g ON g.rn = CAST(round(r.q * (n.n - 1)) AS BIGINT) + 1
    """,
)
def feature_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: replace each document's feature value with
    the GLOBAL value at its within-source quantile, so every source ends
    up with the same marginal distribution — the batch-effect correction
    for mixing corpora whose length/quality scales differ. Per-source
    percent_rank (per-source window), global ranking, equi-join on the
    computed rank index. The global ranking runs as the two-level shape
    (`two_level_rank`: block-local row_number on a value-bucket + carry
    prefix over the tiny per-block counts) — never a single-partition
    window over the corpus; at 100 TB the rank table can further drop to
    equi-depth histogram boundaries + interpolation."""
    from gemini_data_wrangler_spark.operators.window import two_level_rank

    docs = sf_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.percent_rank()
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("q"),
    )
    glob = two_level_rank(
        docs.select(F.col("n_chars").alias("g_val"), "doc_id"),
        key=F.col("g_val"),
        tiebreaks=[F.col("doc_id")],
        block=F.expr("g_val div 64"),
        out_col="rn",
    ).select("g_val", "rn")
    target = (F.round(F.col("q") * (n_docs - 1)).cast("bigint") + 1).alias("rn")
    return (
        ranked.withColumn("rn", target)
        .join(glob, "rn")
        .select("doc_id", "source", "n_chars", F.col("g_val").alias("normalized"))
    )


# ---------------------------------------------------------------------------
# l-diversity check (sensitive-attribute diversity inside quasi-id groups)
# ---------------------------------------------------------------------------
_L_DIVERSITY = 3

@register(
    "dq_l_diversity",
    f"""
    SELECT c_nationkey, c_mktsegment,
           count(*) AS group_size,
           count(DISTINCT CASE
             WHEN c_acctbal < 0 THEN 'negative'
             WHEN c_acctbal < 5000 THEN 'low'
             ELSE 'high' END) AS l_distinct,
           count(DISTINCT CASE
             WHEN c_acctbal < 0 THEN 'negative'
             WHEN c_acctbal < 5000 THEN 'low'
             ELSE 'high' END) >= {_L_DIVERSITY} AS l_diverse
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity: a quasi-identifier group (nation × market segment) is
    safe only if the sensitive attribute (account-balance band) takes at
    least l={_L_DIVERSITY} distinct values within it — k-anonymity's
    missing half (a large group where everyone shares one sensitive value
    still discloses it). One distinct-count aggregation; pairs with
    `dq_k_anonymity` as the release gate."""
    customer = sf_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.count_distinct(band).alias("l_distinct"),
        (F.count_distinct(band) >= _L_DIVERSITY).alias("l_diverse"),
    )


# ---------------------------------------------------------------------------
# Zipf-law fit over the word-frequency distribution
# ---------------------------------------------------------------------------
_ZIPF_TOP = 1000

@register(
    "text_zipf_fit",
    rf"""
    WITH w AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents
    ), freq AS (
      SELECT w, count(*) AS f FROM w GROUP BY w
    ), ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, w ASC) AS r FROM freq
    )
    SELECT round(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
             AS zipf_slope,
           round(regr_intercept(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
             AS zipf_intercept,
           round(regr_r2(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 6)
             AS zipf_r2,
           count(*) AS n_ranks
    FROM ranked WHERE r <= {_ZIPF_TOP}
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit: OLS of ln(frequency) on ln(rank) over the top-1k
    word ranks. Natural corpora sit near slope −1 with high R²; synthetic
    or templated text breaks the line — a one-row corpus-health metric
    (pairs with `text_ngram_novelty` / `dq_benford_digits` as generation
    screens). One exploded count; the top-1k head is pruned
    distributedly FIRST (orderBy+limit → TakeOrderedAndProject, each
    task keeps a local top-1k) so the ranking window's single-task frame
    is constant-bounded — never the corpus-growing full vocabulary."""
    docs = sf_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    head = freq.orderBy(F.col("f").desc(), F.col("w").asc()).limit(_ZIPF_TOP)
    ranked = head.select(
        "f",
        F.row_number()
        .over(Window.orderBy(F.col("f").desc(), F.col("w").asc()))
        .alias("r"),
    )
    lf = F.log(F.col("f").cast("double"))
    lr = F.log(F.col("r").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lf, lr), 6).alias("zipf_r2"),
        F.count(F.lit(1)).alias("n_ranks"),
    )


# ---------------------------------------------------------------------------
# Band join via δ-bucket quantization
# ---------------------------------------------------------------------------
_BAND_DELTA = 10.0

@register(
    "join_band_acctbal",
    f"""
    SELECT s.s_suppkey, c.c_custkey,
           round(abs(s.s_acctbal - c.c_acctbal), 6) AS bal_diff
    FROM supplier s JOIN customer c
      ON abs(s.s_acctbal - c.c_acctbal) <= {_BAND_DELTA}
    """,
)
def join_band_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join — all (supplier, customer) pairs with account balances
    within ±{_BAND_DELTA}. The naive form is a cross join with an
    inequality filter; quantizing both sides into δ-wide buckets turns it
    into an equi-join where each supplier probes its own bucket and both
    neighbors (any pair within δ differs by at most one bucket), then the
    exact band predicate filters the 3×-fan-out candidates. Candidate
    volume is linear in the true match density — the same quantize-and-
    probe trick the LSH/IVF kernels use, applied to a scalar column.
    The oracle states the naive predicate; results are identical."""
    supplier = sf_table(spark, sf_dir, "supplier")
    customer = sf_table(spark, sf_dir, "customer")
    s = supplier.select(
        "s_suppkey",
        "s_acctbal",
        F.floor(F.col("s_acctbal") / _BAND_DELTA).alias("_b"),
    )
    # Left side probes its bucket and both neighbors.
    s = s.select(
        "s_suppkey",
        "s_acctbal",
        F.explode(
            F.array(F.col("_b") - 1, F.col("_b"), F.col("_b") + 1)
        ).alias("bucket"),
    )
    c = customer.select(
        "c_custkey",
        "c_acctbal",
        F.floor(F.col("c_acctbal") / _BAND_DELTA).alias("bucket"),
    )
    diff = F.abs(F.col("s_acctbal") - F.col("c_acctbal"))
    return (
        s.join(c, "bucket")
        .filter(diff <= _BAND_DELTA)
        .select("s_suppkey", "c_custkey", F.round(diff, 6).alias("bal_diff"))
    )
