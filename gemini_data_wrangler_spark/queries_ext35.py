"""Round-2 extensions, batch 35: behavioral bot signals and the
Kolmogorov–Smirnov two-sample drift test.

Scale notes:
- BOT SIGNALS: everything reduces to one per-user aggregate pass (gap
  moments via a per-user lag window, transition concentration via a
  per-user-per-pair count) — the raw table is touched twice, both
  map-side combined, output is one row per user.
- KS TEST: the two samples' ECDFs are step functions over the DISTINCT
  value grid (tiny after the per-value collapse); the sup-distance is
  one ordered cumulative window over that grid. The classical drift
  gate between two corpus slices — cheap enough to run per ingestion
  batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Per-user bot signals (regularity + predictability screens)
# ---------------------------------------------------------------------------
@register(
    "users_bot_signals",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), gaps AS (
      SELECT user_id,
             count(*) + 1 AS n_events,
             avg((epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0) AS mean_gap_s,
             stddev_samp((epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0) AS sd_gap_s
      FROM seq WHERE prev_ts IS NOT NULL
      GROUP BY user_id HAVING count(*) >= 4
    ), trans AS (
      SELECT user_id, prev_type, event_type, count(*) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY user_id, prev_type, event_type
    ), conc AS (
      SELECT user_id, max(c) / CAST(sum(c) AS DOUBLE) AS top_transition_share
      FROM trans GROUP BY user_id
    )
    SELECT g.user_id, g.n_events,
           round(g.mean_gap_s, 6) AS mean_gap_s,
           round(g.sd_gap_s / g.mean_gap_s, 6) AS gap_cv,
           round(c.top_transition_share, 6) AS top_transition_share,
           (g.sd_gap_s / g.mean_gap_s < 0.1
            OR c.top_transition_share > 0.9) AS suspicious
    FROM gaps g JOIN conc c ON g.user_id = c.user_id
    """,
)
def users_bot_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user bot screens: inter-arrival regularity (coefficient of
    variation of gaps — metronome traffic has CV → 0 where humans are
    bursty) and next-step predictability (share of the user's most
    common transition — replayed templates pin one edge near 1.0).
    Flag on either. One lag window + two per-user aggregates; the
    corpus-level mirrors are `events_interarrival_stats` and
    `events_entropy_rate`."""
    events = sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = events.select(
        "user_id",
        "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    gaps = (
        seq.filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_events"),
            F.avg(F.col("gap_us") / 1e6).alias("mean_gap_s"),
            F.stddev_samp(F.col("gap_us") / 1e6).alias("sd_gap_s"),
        )
        .filter(F.col("n_events") >= 5)
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("user_id", "prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    conc = trans.groupBy("user_id").agg(
        (F.max("c") / F.sum("c").cast("double")).alias("top_transition_share")
    )
    cv = F.col("sd_gap_s") / F.col("mean_gap_s")
    return gaps.join(conc, "user_id").select(
        "user_id",
        "n_events",
        F.round("mean_gap_s", 6).alias("mean_gap_s"),
        F.round(cv, 6).alias("gap_cv"),
        F.round("top_transition_share", 6).alias("top_transition_share"),
        ((cv < 0.1) | (F.col("top_transition_share") > 0.9)).alias("suspicious"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample drift test between corpus slices
# ---------------------------------------------------------------------------
_KS_A, _KS_B = "src1", "src8"

@register(
    "corpus_ks_drift_test",
    f"""
    WITH a AS (SELECT n_chars AS v FROM documents WHERE source = '{_KS_A}'),
         b AS (SELECT n_chars AS v FROM documents WHERE source = '{_KS_B}'),
         grid AS (
           SELECT v, count(*) FILTER (WHERE side = 'a') AS ca,
                  count(*) FILTER (WHERE side = 'b') AS cb
           FROM (SELECT v, 'a' AS side FROM a
                 UNION ALL SELECT v, 'b' FROM b)
           GROUP BY v
         ), ecdf AS (
           SELECT v,
                  sum(ca) OVER w / CAST((SELECT count(*) FROM a) AS DOUBLE) AS fa,
                  sum(cb) OVER w / CAST((SELECT count(*) FROM b) AS DOUBLE) AS fb
           FROM grid
           WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         )
    SELECT (SELECT count(*) FROM a) AS n_a,
           (SELECT count(*) FROM b) AS n_b,
           round(max(abs(fa - fb)), 6) AS ks_d,
           round(2 * exp(-2 * power(
             max(abs(fa - fb))
             * sqrt((SELECT count(*) FROM a) * (SELECT count(*) FROM b)
                    / CAST((SELECT count(*) FROM a) + (SELECT count(*) FROM b)
                           AS DOUBLE)), 2)), 6) AS p_approx
    FROM ecdf
    """,
)
def corpus_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov two-sample test between two sources' length
    distributions: D = sup|F_a − F_b| over the merged value grid, with
    the one-term asymptotic p-value 2·exp(−2λ²), λ = D·√(n_a·n_b/(n_a+n_b))
    — the classical drift gate run between yesterday's and today's crawl
    slice before mixing. The ECDF grid is the DISTINCT values (collapsed
    first — the cumulative window never sees raw rows); compare
    `corpus_source_divergence` (JS on binned histograms) for the
    k-sample variant."""
    docs = sf_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("source") == _KS_A).select(F.col("n_chars").alias("v"))
    b = docs.filter(F.col("source") == _KS_B).select(F.col("n_chars").alias("v"))
    n_a, n_b = a.count(), b.count()
    grid = (
        a.select("v", F.lit(1).alias("ca"), F.lit(0).alias("cb"))
        .unionAll(b.select("v", F.lit(0).alias("ca"), F.lit(1).alias("cb")))
        .groupBy("v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    # Distributed prefix sums (`two_level_cumsum`, block = v>>6): the
    # ECDF pass stays hash-partitioned as the merged value grid grows.
    from gemini_data_wrangler_spark.operators.window import two_level_cumsum

    ecdf = two_level_cumsum(
        grid,
        key=F.col("v"),
        tiebreaks=[],
        block=F.shiftright("v", 6),
        sums={"cum_a": F.col("ca"), "cum_b": F.col("cb")},
    ).select(
        (F.col("cum_a") / float(n_a)).alias("fa"),
        (F.col("cum_b") / float(n_b)).alias("fb"),
    )
    d = F.max(F.abs(F.col("fa") - F.col("fb")))
    lam = d * F.lit(float(n_a * n_b / (n_a + n_b))) ** 0.5
    return ecdf.agg(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.round(d, 6).alias("ks_d"),
        F.round(2 * F.exp(-2 * F.pow(lam, 2)), 6).alias("p_approx"),
    )
