"""Round-2 extensions, batch 12: truncation-duplicate candidates and
freshness-weighted corpus statistics.

- Prefix-block dedup: truncated/continued duplicates (same opening,
  different tail — the crawl-refetch and snippet-vs-full-article case)
  are invisible to exact-hash dedup and expensive for MinHash when the
  shared region is short relative to the doc. Blocking on a hash of the
  first k words makes candidate generation linear: |block|² pairs only
  inside same-prefix groups, then an exact prefix-containment verify on
  the pair. Complements the existing dedup family (exact / MinHash /
  SimHash / PPJoin / embedding-cosine in ``operators/dedup.py``).
- Time-decayed aggregates: recency-weighted source statistics
  (sum of value·e^(-age/τ)) — the freshness-weighting knob of corpus
  mixing. Anchored to max(ts) in the data so the result is deterministic
  (no wall-clock), with integer day ages so both engines exponentiate
  identical doubles.

Both are pure JVM expression pipelines — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


@register(
    "dedup_prefix_block",
    """
    WITH blocked AS (
      SELECT doc_id, text,
             md5(array_to_string((string_split(text, ' '))[1:5], ' '))
               AS block_key
      FROM documents
    )
    SELECT a.doc_id AS a_id,
           b.doc_id AS b_id,
           (starts_with(a.text, b.text) OR starts_with(b.text, a.text))
             AS is_prefix_dup
    FROM blocked a JOIN blocked b
      ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    """,
)
def dedup_prefix_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate candidates: block on md5(first 5 words), pair
    within blocks (doc_id asymmetry halves the join), verify exact prefix
    containment on the pair.

    Scale shape: the blocking key is computed at the scan, the self-join
    is an equi-join on block_key (shuffle-hash on a high-cardinality key
    — blocks are tiny, so AQE skew-split handles any pathological shared
    opening), and the startswith verify runs inside codegen on joined
    pairs only. Candidates are Σ|block|², never n². At 100 TB, k (prefix
    words) tunes the block size the same way the shingle width tunes
    PPJoin (``operators/dedup.py``)."""
    docs = sf_table(spark, sf_dir, "documents")
    blocked = docs.select(
        "doc_id",
        "text",
        F.md5(
            F.array_join(F.slice(F.split("text", " "), 1, 5), " ")
        ).alias("block_key"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            (
                F.col("a.text").startswith(F.col("b.text"))
                | F.col("b.text").startswith(F.col("a.text"))
            ).alias("is_prefix_dup"),
        )
    )


@register(
    "events_time_decayed_value",
    """
    WITH anchored AS (
      SELECT event_type, value,
             date_diff('day', CAST(ts AS DATE),
                       (SELECT max(CAST(ts AS DATE)) FROM events))
               AS age_days
      FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           sum(value * exp(-age_days / 30.0)) AS decayed_value,
           sum(exp(-age_days / 30.0)) AS decayed_weight
    FROM anchored
    GROUP BY event_type
    """,
)
def events_time_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-weighted per-type event value: e^(-age_days/30) decay
    anchored at the corpus max date. age_days is an integer date diff, so
    both engines compute exp on bit-identical doubles; the decayed sums
    then agree binary-exactly (same property the unigram/bigram-LM
    log-prob queries rely on).

    Scale shape: the anchor is a one-row broadcast cross join, the decay
    is a scan-side expression, and the aggregation has map-side combine —
    one exchange on event_type regardless of input size."""
    events = sf_table(spark, sf_dir, "events")
    anchor = events.agg(F.max(F.col("ts").cast("date")).alias("max_d"))
    anchored = events.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "value",
        F.datediff(F.col("max_d"), F.col("ts").cast("date")).alias("age_days"),
    )
    decay = F.exp(-F.col("age_days") / F.lit(30.0))
    return anchored.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value") * decay).alias("decayed_value"),
        F.sum(decay).alias("decayed_weight"),
    )


@register(
    "corpus_mixing_plan",
    """
    WITH per_lang AS (
      SELECT lang,
             count(*) AS n_docs,
             sum(len(string_split(text, ' '))) AS lang_tokens
      FROM documents GROUP BY lang
    ),
    total AS (SELECT sum(lang_tokens) AS total_tokens FROM per_lang),
    targets(lang, target_share) AS (
      VALUES ('en', CAST(0.30 AS DOUBLE)), ('zh', CAST(0.20 AS DOUBLE)),
             ('de', CAST(0.20 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
             ('es', CAST(0.15 AS DOUBLE))
    )
    SELECT p.lang, p.n_docs, p.lang_tokens,
           p.lang_tokens / t.total_tokens AS token_share,
           g.target_share,
           g.target_share * t.total_tokens / p.lang_tokens AS sample_rate
    FROM per_lang p CROSS JOIN total t JOIN targets g USING (lang)
    """,
)
def corpus_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing plan: per-language sampling rates that reshape the
    observed token distribution into a target distribution (the last
    step before training-set assembly; rate > 1 = upsample/repeat,
    rate < 1 = downsample — executed downstream by the md5-threshold
    samplers in queries_ext3). Target shares are double literals on both
    engines so the share/rate arithmetic is bit-identical IEEE division.

    Scale shape: one token-count aggregation with map-side combine
    (per-partition state = #languages), a one-row total broadcast, and a
    languages-sized broadcast join against the target table — output
    cardinality is #languages no matter the corpus size."""
    docs = sf_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("lang_tokens"),
    )
    total = per_lang.agg(F.sum("lang_tokens").alias("total_tokens"))
    targets = docs.sparkSession.createDataFrame(
        [("en", 0.30), ("zh", 0.20), ("de", 0.20), ("fr", 0.15), ("es", 0.15)],
        "lang string, target_share double",
    )
    return (
        per_lang.crossJoin(F.broadcast(total))
        .join(F.broadcast(targets), "lang")
        .select(
            "lang",
            "n_docs",
            "lang_tokens",
            (F.col("lang_tokens") / F.col("total_tokens")).alias("token_share"),
            "target_share",
            (
                F.col("target_share")
                * F.col("total_tokens")
                / F.col("lang_tokens")
            ).alias("sample_rate"),
        )
    )


@register(
    "dq_outlier_mad",
    """
    WITH med AS (
      SELECT event_type,
             round(quantile_cont(value, 0.5), 4) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             round(quantile_cont(adev, 0.5), 4) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           count(*) AS n_events,
           any_value(d.med) AS med,
           any_value(a.mad) AS mad,
           count(*) FILTER (d.adev > 3 * 1.4826 * a.mad) AS n_outliers
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    """,
)
def dq_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: median absolute deviation per event type,
    flagging |value - median| > 3σ-equivalent (1.4826·MAD). Complements
    the mean/stddev z-score screen (``dq_outlier_zscore``) — MAD is
    breakdown-50% robust, so a burst of corrupt values cannot mask
    itself by inflating the spread estimate.

    Cross-engine determinism: medians are rounded to 4 dp BEFORE being
    used as thresholds, so both engines compare raw doubles against
    bit-identical constants (same trick as ``percentile_prices``; Spark
    exact ``percentile`` ≡ DuckDB ``quantile_cont``).

    Scale shape: two median passes (exact percentile = one shuffle each
    on event_type — swap for approx_percentile at 100 TB, same plan
    minus the sort), medians broadcast back (group-count-sized), final
    screen is a scan-side expression with map-side combine."""
    events = sf_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 4).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )
