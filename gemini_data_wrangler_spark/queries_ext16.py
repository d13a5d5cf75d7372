"""Round-2 extensions, batch 16: behavioral transition matrices, filtered
aggregation, feature engineering (scaling + hashing trick), content
fingerprints, and corpus divergence metrics.

All value-hash-oracled. Scale notes:
- The Markov transition matrix is lag-window + groupBy over the events
  table — one (user) shuffle for ordering, one (from,to) aggregation.
- Filtered aggregation (`FILTER (WHERE ...)` / `count_if`) is the
  single-scan replacement for N self-joins — every conditional metric in
  one partial-aggregated pass.
- Feature scaling joins each row against broadcast per-group stats; the
  stats aggregation is the only shuffle.
- The hashing trick (md5-nibble buckets) is engine-portable feature
  hashing: stateless, dictionary-free, and identical on any engine or
  cluster size — the property that matters when train/serve stacks
  differ.
- The table fingerprint is an order-independent content checksum (sum +
  xor-like fold of per-row digests): partial-aggregable, so it costs one
  scan and shuffles 1 row — the cheap cross-engine migration check.
- Jensen–Shannon divergence between per-source language distributions is
  two tiny aggregations + a grid join — the drift metric corpus curation
  tracks between snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------
@register(
    "events_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ), c AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6)
             AS prob
    FROM c
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: per-user
    event sequences (lead window), transition counts, row-normalized
    probabilities. One shuffle to order per user, one to count per
    (from,to); the normalizing window runs over the tiny |types|² count
    table. The input to next-event prediction and anomaly scoring."""
    events = sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wnorm = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wnorm), 6).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Filtered aggregation bank (FILTER clause / count_if — one-scan metrics)
# ---------------------------------------------------------------------------
@register(
    "agg_filtered_bank",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           count(*) FILTER (WHERE o_totalprice > 200000) AS n_large,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 6)
             AS open_revenue,
           round(avg(o_totalprice) FILTER (WHERE year(o_orderdate) = 1995), 6)
             AS avg_1995
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_filtered_bank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional metrics in ONE scan — `count_if` / CASE-guarded
    aggregates replace the N-self-joins anti-pattern ("join the table to
    itself once per condition"). Everything partial-aggregates, so the
    shuffle carries |groups| rows per condition, not data."""
    orders = sf_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_large"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))), 6
        ).alias("open_revenue"),
        F.round(
            F.avg(F.when(F.year("o_orderdate") == 1995, F.col("o_totalprice"))), 6
        ).alias("avg_1995"),
    )


# ---------------------------------------------------------------------------
# Feature scaling bank (min-max / z-score / robust IQR, per group)
# ---------------------------------------------------------------------------
@register(
    "feature_scaling_bank",
    """
    WITH stats AS (
      SELECT l_returnflag,
             min(l_quantity) AS mn, max(l_quantity) AS mx,
             avg(l_quantity) AS mu, stddev_samp(l_quantity) AS sd,
             quantile_cont(l_quantity, 0.25) AS q1,
             quantile_cont(l_quantity, 0.75) AS q3
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_orderkey, l_linenumber, l.l_returnflag, l_quantity,
           round((l_quantity - mn) / nullif(mx - mn, 0), 6) AS minmax_qty,
           round((l_quantity - mu) / nullif(sd, 0), 6) AS z_qty,
           round((l_quantity - q1) / nullif(q3 - q1, 0), 6) AS robust_qty
    FROM lineitem l JOIN stats s USING (l_returnflag)
    WHERE l_orderkey < 1000
    """,
)
def feature_scaling_bank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling: min-max, z-score, robust (IQR) — each row
    joined against broadcast per-group stats; the stats aggregation is the
    only shuffle, the scaling itself is map-side."""
    li = sf_table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
        F.avg("l_quantity").alias("mu"),
        F.stddev_samp("l_quantity").alias("sd"),
        F.expr("percentile(l_quantity, 0.25)").alias("q1"),
        F.expr("percentile(l_quantity, 0.75)").alias("q3"),
    )
    j = li.filter(F.col("l_orderkey") < 1000).join(F.broadcast(stats), "l_returnflag")
    qty = F.col("l_quantity")
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.round((qty - F.col("mn")) / F.nullif(F.col("mx") - F.col("mn"), F.lit(0)), 6).alias("minmax_qty"),
        F.round((qty - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0)), 6).alias("z_qty"),
        F.round((qty - F.col("q1")) / F.nullif(F.col("q3") - F.col("q1"), F.lit(0)), 6).alias("robust_qty"),
    )


# ---------------------------------------------------------------------------
# Hashing trick: stateless 256-bucket token features
# ---------------------------------------------------------------------------
@register(
    "feature_hash_buckets",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents WHERE doc_id < 50
    ), hashed AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) AS bucket
      FROM tok
    )
    SELECT doc_id, bucket, count(*) AS n
    FROM hashed GROUP BY doc_id, bucket
    """,
)
def feature_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: token → md5-derived bucket in [0, 256) → per-doc
    sparse count features. Stateless and dictionary-free — no vocabulary
    build, no broadcast, identical buckets on every engine/cluster (the
    portability seeded hashes lack). Explode + one groupBy; at 100 TB the
    aggregation partial-combines per partition before the (doc, bucket)
    shuffle."""
    docs = sf_table(spark, sf_dir, "documents")
    hexd = "0123456789abcdef"
    tok = (
        docs.filter(F.col("doc_id") < 50)
        .select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .withColumn("_h", F.md5("w"))
    )
    bucket = (
        F.expr(f"locate(substr(_h, 1, 1), '{hexd}') - 1") * 16
    ) + F.expr(f"locate(substr(_h, 2, 1), '{hexd}') - 1")
    return (
        tok.withColumn("bucket", bucket)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Order-independent table fingerprint (content checksum)
# ---------------------------------------------------------------------------
@register(
    "table_fingerprint",
    """
    WITH rowdig AS (
      SELECT
        (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS d
      FROM (
        SELECT md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
                             CAST(o_custkey AS VARCHAR), o_orderstatus,
                             o_orderpriority,
                             strftime(o_orderdate, '%Y-%m-%d'))) AS h
        FROM orders
      )
    )
    SELECT count(*) AS n_rows, sum(d) AS digest_sum,
           sum(CASE WHEN d % 2 = 1 THEN 1 ELSE 0 END) AS odd_count,
           max(d) AS digest_max
    FROM rowdig
    """,
)
def table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum: canonical per-row serialization
    → md5 → 16-bit digest → commutative aggregates (sum / parity count /
    max). Fully partial-aggregable — one scan, a 1-row shuffle — and
    engine-portable, so it's the cheap "did the migration copy every row
    byte-identically" check run after cross-engine loads. (Doubles are
    excluded from the serialization: engines disagree on float→string
    formatting; hash them via scaled-integer casts if needed.)"""
    orders = sf_table(spark, sf_dir, "orders")
    hexd = "0123456789abcdef"
    h = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            "o_orderstatus",
            "o_orderpriority",
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        )
    )
    nib = lambda i, mult: F.expr(f"(locate(substr(_h, {i}, 1), '{hexd}') - 1) * {mult}")  # noqa: E731
    d = nib(1, 4096) + nib(2, 256) + nib(3, 16) + nib(4, 1)
    return (
        orders.withColumn("_h", h)
        .withColumn("_d", d)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_d").alias("digest_sum"),
            F.sum(F.when(F.col("_d") % 2 == 1, 1).otherwise(0)).alias("odd_count"),
            F.max("_d").alias("digest_max"),
        )
    )


# ---------------------------------------------------------------------------
# Jensen–Shannon divergence between per-source language distributions
# ---------------------------------------------------------------------------
@register(
    "corpus_source_divergence",
    """
    WITH counts AS (
      SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
    ), totals AS (
      SELECT source, sum(n) AS t FROM counts GROUP BY 1
    ), dist AS (
      SELECT c.source, c.lang, CAST(c.n AS DOUBLE) / t.t AS p
      FROM counts c JOIN totals t USING (source)
    ), grid AS (
      SELECT a.source AS source_a, b.source AS source_b, l.lang,
             coalesce(pa.p, 0) AS pa, coalesce(pb.p, 0) AS pb
      FROM (SELECT DISTINCT source FROM documents) a
      JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
      CROSS JOIN (SELECT DISTINCT lang FROM documents) l
      LEFT JOIN dist pa ON pa.source = a.source AND pa.lang = l.lang
      LEFT JOIN dist pb ON pb.source = b.source AND pb.lang = l.lang
    )
    SELECT source_a, source_b,
           round(sum(
             CASE WHEN pa > 0 THEN 0.5 * pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END
             + CASE WHEN pb > 0 THEN 0.5 * pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END
           ), 6) AS js_divergence
    FROM grid GROUP BY source_a, source_b
    """,
)
def corpus_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between sources' language
    distributions — the drift metric tracked between corpus snapshots and
    across providers. The heavy input collapses to a |sources|×|langs|
    distribution table in one aggregation; the pairwise grid and the JS
    sum are O(|sources|²·|langs|) on tiny data."""
    docs = sf_table(spark, sf_dir, "documents")
    # Staged once (round 7): the |sources|×|langs| count table feeds five
    # subtrees (totals, dist, and — now derived from it instead of three
    # more document scans — the source/lang axes; every doc contributes a
    # (source, lang) row, so the distincts are identical).
    counts = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    totals = counts.groupBy("source").agg(F.sum("n").alias("t"))
    dist = counts.join(totals, "source").select(
        "source", "lang", (F.col("n").cast("double") / F.col("t")).alias("p")
    )
    sources = counts.select("source").distinct()
    langs = counts.select("lang").distinct()
    da = dist.select(
        F.col("source").alias("source_a"), F.col("lang"), F.col("p").alias("pa")
    )
    db = dist.select(
        F.col("source").alias("source_b"), F.col("lang"), F.col("p").alias("pb")
    )
    grid = (
        sources.select(F.col("source").alias("source_a"))
        .join(
            sources.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
        .crossJoin(langs)
        .join(da, ["source_a", "lang"], "left")
        .join(db, ["source_b", "lang"], "left")
        .select(
            "source_a",
            "source_b",
            "lang",
            F.coalesce("pa", F.lit(0.0)).alias("pa"),
            F.coalesce("pb", F.lit(0.0)).alias("pb"),
        )
    )
    m = (F.col("pa") + F.col("pb")) / 2
    term = F.when(F.col("pa") > 0, 0.5 * F.col("pa") * F.log(F.col("pa") / m)).otherwise(
        0.0
    ) + F.when(F.col("pb") > 0, 0.5 * F.col("pb") * F.log(F.col("pb") / m)).otherwise(0.0)
    return grid.groupBy("source_a", "source_b").agg(
        F.round(F.sum(term), 6).alias("js_divergence")
    )
