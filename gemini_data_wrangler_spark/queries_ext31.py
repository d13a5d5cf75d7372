"""Round-2 extensions, batch 31: onion-dedup cascade accounting,
Kaplan–Meier survival of customer repeat-purchase, and Gini inequality of
user activity.

Scale notes:
- CASCADE: each stage is one of the already-scaled dedup shapes (hash
  groupBy, normalized-hash groupBy, inverted-index containment join);
  the report is three counts — the attrition funnel every corpus-prep
  run logs, computed without materializing intermediate corpora.
- KAPLAN–MEIER handles the censoring a naive mean-gap ignores (the
  final open-ended gap per customer). Observations collapse to distinct
  durations (small), the at-risk counts are one descending cumulative
  sum, and the product Π(1 − d/n) runs as exp(Σ ln) over the ordered
  duration table — all metadata-sized after the per-customer window.
- GINI: one per-user aggregate, one ranking window over the (small)
  per-user table, closed-form Σ i·xᵢ formula — tie-order invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Onion dedup cascade: exact → normalized → containment, with attrition
# ---------------------------------------------------------------------------
@register(
    "corpus_dedup_cascade",
    r"""
    WITH s1 AS (  -- exact: first doc per raw text
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ), s2 AS (    -- normalized: first survivor per ws-collapsed lower text
      SELECT min(d.doc_id) AS doc_id
      FROM documents d JOIN s1 USING (doc_id)
      GROUP BY md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g'))
    ), toks AS (
      SELECT d.doc_id, regexp_split_to_array(trim(lower(d.text)), '\s+') AS t
      FROM documents d JOIN s2 USING (doc_id)
    ), sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        FROM toks WHERE len(t) >= 3)
    ), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    dup3 AS (     -- containment ≥ 0.8 against an EARLIER stage-2 survivor
      SELECT DISTINCT a.doc_id
      FROM sh a JOIN sh b USING (s)
      JOIN sz ON sz.doc_id = a.doc_id
      WHERE b.doc_id < a.doc_id
      GROUP BY a.doc_id, b.doc_id, sz.n
      HAVING count(*) >= 0.8 * sz.n
    ), s3 AS (
      SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM dup3)
    )
    SELECT * FROM (
      SELECT 0 AS stage, 'raw' AS name,
             (SELECT count(*) FROM documents) AS docs_remaining
      UNION ALL
      SELECT 1, 'exact', (SELECT count(*) FROM s1)
      UNION ALL
      SELECT 2, 'normalized', (SELECT count(*) FROM s2)
      UNION ALL
      SELECT 3, 'containment', (SELECT count(*) FROM s3)
    )
    """,
)
def corpus_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion dedup cascade (cheapest screen first, each stage sees only
    the previous stage's survivors): exact text hash → whitespace/case
    normalization → 3-gram containment ≥ 0.8 against an earlier
    survivor. Output is the attrition funnel (stage, name,
    docs_remaining) every corpus-prep run logs. Stage costs are the
    already-scaled shapes: two hash aggregations, then the
    inverted-index containment join on the (smaller) stage-2 corpus."""
    docs = sf_table(spark, sf_dir, "documents")
    # Stage survivors and the shingle set are each consumed by several
    # downstream subtrees AND by their own funnel count action (round 7):
    # unpersisted, s1/s2 re-ran per consumer and the shingle
    # explode+distinct ran three times (sz + both sides of the
    # containment self-join) — persist each once, release before return.
    # The exact-stage groups also carry the raw copy count, so ONE
    # aggregate over the cached group table yields both n_raw and the s1
    # survivor count — one docs scan and one action instead of two each.
    g1 = (
        docs.groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("_copies"))
        .persist()
    )
    row1 = g1.agg(
        F.sum("_copies").alias("_n_raw"), F.count(F.lit(1)).alias("_n_s1")
    ).collect()[0]
    # `or 0`: on an empty documents table sum(_copies) is NULL, while the
    # oracle's count(*) is 0 (round-7 ADVICE #1).
    n_raw, n_s1 = row1["_n_raw"] or 0, row1["_n_s1"]
    s1 = g1.select("doc_id")
    d1 = docs.join(s1, "doc_id")
    norm = F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "))
    s2 = (
        d1.groupBy(norm).agg(F.min("doc_id").alias("doc_id")).select("doc_id").persist()
    )
    d2 = docs.join(s2, "doc_id")
    toks = d2.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    ).filter(F.size("t") >= 3)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 2, 1)),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1),"
                " ' ', element_at(t, i + 2)))"
            )
        ).alias("s"),
    ).distinct().persist()
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("da"), "s")
    b = sh.select(F.col("doc_id").alias("db"), "s")
    dup3 = (
        a.join(b, "s")
        .filter(F.col("db") < F.col("da"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("shared"))
        .join(sz.select(F.col("doc_id").alias("da"), "n"), "da")
        .filter(F.col("shared") >= 0.8 * F.col("n"))
        .select(F.col("da").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(dup3, "doc_id", "left_anti")
    spark_ = docs.sparkSession
    counts = [
        (0, "raw", n_raw),
        (1, "exact", n_s1),
        (2, "normalized", s2.count()),
        (3, "containment", s3.count()),
    ]
    # The funnel counts above are plain Python ints now — the staged
    # frames are no longer needed by the returned literal frame.
    for f in (g1, s2, sh):
        f.unpersist()
    return spark_.createDataFrame(
        counts, "stage int, name string, docs_remaining long"
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier survival of time-to-next-order (right-censored)
# ---------------------------------------------------------------------------
@register(
    "customer_survival_km",
    """
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             lead(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS next_d
      FROM orders
    ), mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS m FROM orders),
    obs AS (
      SELECT CASE WHEN next_d IS NULL
                  THEN date_diff('day', d, (SELECT m FROM mx))
                  ELSE date_diff('day', d, next_d) END AS dur,
             next_d IS NOT NULL AS event
      FROM o
    ), agg AS (
      SELECT dur, count(*) FILTER (WHERE event) AS d_t, count(*) AS all_t
      FROM obs GROUP BY dur
    ), risk AS (
      SELECT dur, d_t,
             sum(all_t) OVER (ORDER BY dur DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_t
      FROM agg
    ), km AS (
      SELECT dur, d_t, n_t,
             max(CASE WHEN d_t >= n_t THEN 1 ELSE 0 END)
               OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS dead,
             sum(CASE WHEN d_t > 0 AND d_t < n_t
                      THEN ln(1 - CAST(d_t AS DOUBLE) / n_t) END)
               OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lnsum
      FROM risk
    )
    SELECT dur AS duration_days, d_t AS n_events, n_t AS n_at_risk,
           round(CASE WHEN dead = 1 THEN 0.0 ELSE exp(coalesce(lnsum, 0.0)) END, 6)
             AS survival
    FROM km WHERE d_t > 0
    """,
)
def customer_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival of the time-to-next-order: inter-order gaps
    are events; each customer's final open-ended gap is right-CENSORED
    at the corpus horizon (a naive mean-gap silently drops exactly the
    loyal-but-slow tail). S(t) = Π_{tᵢ≤t}(1 − dᵢ/nᵢ) computed as
    exp(Σ ln) over the ordered distinct-duration table, with at-risk
    counts from one descending cumulative sum; a level that exhausts the
    risk set pins survival to 0 thereafter (cummax flag — ln(0) is null
    in Spark and −inf in DuckDB, so neither engine's quirk is relied
    on). Everything after the per-customer lead window is
    metadata-sized."""
    orders = sf_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = orders.select(
        F.to_date("o_orderdate").alias("d"),
        F.lead(F.to_date("o_orderdate")).over(w).alias("next_d"),
    )
    mx = orders.agg(F.max(F.to_date("o_orderdate")).alias("m"))
    obs = o.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("next_d").isNull(), F.datediff("m", "d")
        ).otherwise(F.datediff("next_d", "d")).alias("dur"),
        F.col("next_d").isNotNull().alias("event"),
    )
    agg = obs.groupBy("dur").agg(
        F.count(F.when(F.col("event"), 1)).alias("d_t"),
        F.count(F.lit(1)).alias("all_t"),
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = agg.withColumn("n_t", F.sum("all_t").over(w_desc))
    w_asc = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    term = F.when(
        (F.col("d_t") > 0) & (F.col("d_t") < F.col("n_t")),
        F.log(1 - F.col("d_t").cast("double") / F.col("n_t")),
    )
    km = risk.withColumn(
        "dead",
        F.max(F.when(F.col("d_t") >= F.col("n_t"), 1).otherwise(0)).over(w_asc),
    ).withColumn("lnsum", F.sum(term).over(w_asc))
    return km.filter(F.col("d_t") > 0).select(
        F.col("dur").alias("duration_days"),
        F.col("d_t").alias("n_events"),
        F.col("n_t").alias("n_at_risk"),
        F.round(
            F.when(F.col("dead") == 1, 0.0).otherwise(
                F.exp(F.coalesce("lnsum", F.lit(0.0)))
            ),
            6,
        ).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient of per-user event activity
# ---------------------------------------------------------------------------
@register(
    "events_user_gini",
    """
    WITH per_user AS (
      SELECT user_id, count(*) AS x FROM events GROUP BY user_id
    ), ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, user_id) AS i,
             count(*) OVER () AS n, sum(x) OVER () AS tot
      FROM per_user
    )
    SELECT max(n) AS n_users,
           round(2.0 * sum(CAST(i AS DOUBLE) * x) / (max(n) * max(tot))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM ranked
    """,
)
def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts — the inequality read
    behind "power users drive everything": 0 = perfectly even, →1 = one
    user owns all activity. Closed-form Σ i·xᵢ over the ascending-sorted
    per-user table (tie order cancels: equal x contribute identically
    for any permutation of their ranks). Raw events collapse to one row
    per user FIRST; the rank over that table is the distributed
    two-level shape (`two_level_rank`, block = (count, user_id>>10) — a
    struct coarsening that spreads the heavy count-ties of a power-law
    activity distribution across user sub-blocks), and n/tot come from a
    broadcast 1-row aggregate — no user-population-sized single-task
    window anywhere."""
    from gemini_data_wrangler_spark.operators.window import two_level_rank

    events = sf_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    totals = per_user.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("tot")
    )
    ranked = two_level_rank(
        per_user,
        key=F.col("x"),
        tiebreaks=[F.col("user_id")],
        block=F.struct(
            F.col("x").alias("b0"), F.shiftright("user_id", 10).alias("b1")
        ),
        out_col="i",
    ).crossJoin(F.broadcast(totals)).select("x", "i", "n", "tot")
    return ranked.agg(
        F.max("n").alias("n_users"),
        F.round(
            2.0 * F.sum(F.col("i").cast("double") * F.col("x"))
            / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )
