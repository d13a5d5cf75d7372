"""Round-2 extensions, batch 13: change history, chunking, corpus quality
gates, duplicated-span mining, robust rolling stats, regression aggregates,
and wide→long reshaping.

- SCD Type-2 history: collapse an append-only change log into
  validity-interval rows (valid_from/valid_to/is_current) — the canonical
  warehouse pattern for slowly-changing dimensions, built from two
  windows over the same (entity, time) partitioning so Spark plans a
  single sort+shuffle reused by both.
- Overlapping document chunking: the pre-training / RAG step that splits
  long documents into fixed-size overlapping windows. Pure JVM
  (`sequence` + `explode` + `substring`): one narrow stage, no shuffle,
  output rows ∝ input bytes / stride — embarrassingly parallel at 100 TB.
- Gopher-style quality gate (Rae et al. 2021, §A1.1): word count, mean
  word length, alphabetic-word ratio, stop-word hits — each a
  higher-order-function expression over one split of the text, no
  Python. The keep flag is the conjunction the corpus pipeline filters on.
- Duplicated-span mining (the shape of Lee et al. 2022 ExactSubstr,
  bounded to word 8-grams): explode every 8-gram, keep spans seen in ≥2
  distinct documents. GroupBy-on-span is the linear, bucketed plan; the
  driver never sees the span universe.
- Trailing 7-day moving median over daily sales: exact windowed median —
  restricted to full frames because interpolation semantics on partial
  even frames differ across engines (DuckDB windowed `median` picks the
  upper element; Spark `percentile` interpolates).
- Linear-regression aggregate bank (`regr_*`): per-group slope /
  intercept / r² / count in one partial-aggregated shuffle.
- Unpivot (wide→long): Spark-native `DataFrame.unpivot` (melt), oracled
  by the equivalent UNION ALL.

Reference parity note: none of these exist as first-class stages in the
reference (its CUSTOM stage reaches them via raw DuckDB SQL,
`/root/reference/server/index.js:269`); here they are first-class
registry queries with value-hash oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# SCD Type-2 history from a change log (orders as the change stream)
# ---------------------------------------------------------------------------
@register(
    "scd2_order_status_history",
    """
    WITH chg AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    )
    SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS valid_to,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) IS NULL
             AS is_current
    FROM chg WHERE prev IS NULL OR prev <> o_orderstatus
    """,
)
def scd2_order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 builder: collapse consecutive equal
    states per entity, then stamp each surviving row with its validity
    interval. Both windows share one (o_custkey) partitioning and
    (o_orderdate, o_orderkey) sort, so the plan is a single Exchange +
    Sort feeding two Window operators — at 100 TB this is one shuffle of
    the change log, no joins."""
    orders = sf_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = (
        orders.withColumn("prev", F.lag("o_orderstatus").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("o_orderstatus")))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    valid_to = F.lead("o_orderdate").over(w2)
    return chg.select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Overlapping document chunking (size 120 chars, stride 90)
# ---------------------------------------------------------------------------
_CHUNK_SIZE = 120
_CHUNK_STRIDE = 90


@register(
    "chunk_documents_overlap",
    f"""
    SELECT doc_id, k AS chunk_id,
           substr(text, CAST(1 + k*{_CHUNK_STRIDE} AS BIGINT), {_CHUNK_SIZE})
             AS chunk_text,
           len(substr(text, CAST(1 + k*{_CHUNK_STRIDE} AS BIGINT), {_CHUNK_SIZE}))
             AS chunk_len
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(0,
               CAST(greatest(0, ceil((len(text) - {_CHUNK_SIZE})
                                     / {_CHUNK_STRIDE}.0)) AS BIGINT))) AS k
      FROM documents
    )
    """,
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into fixed-size overlapping character windows
    (size 120, stride 90 → 30-char overlap) — the chunking step before
    embedding / context packing. `sequence`+`explode`+`substring` is a
    narrow JVM-only pipeline: no shuffle, no Python, output partitions
    inherit the scan's, so it scales linearly with input bytes."""
    docs = sf_table(spark, sf_dir, "documents")
    n_extra = F.ceil(
        (F.length("text") - F.lit(_CHUNK_SIZE)) / F.lit(float(_CHUNK_STRIDE))
    )
    ks = F.sequence(F.lit(0).cast("long"), F.greatest(F.lit(0).cast("long"), n_extra))
    chunk = F.expr(
        f"substring(text, cast(1 + k*{_CHUNK_STRIDE} as int), {_CHUNK_SIZE})"
    )
    return (
        docs.select("doc_id", "text", F.explode(ks).alias("k"))
        .select(
            "doc_id",
            F.col("k").alias("chunk_id"),
            chunk.alias("chunk_text"),
            F.length(chunk).alias("chunk_len"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style quality gate (word count / mean word length / alpha ratio /
# stop-word hits) — Rae et al. 2021 appendix A1.1 rules, JVM-only
# ---------------------------------------------------------------------------
_STOPWORDS = "('the', 'a', 'of', 'and', 'to', 'in', 'be', 'with')"


@register(
    "quality_filter_gopher",
    rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
    )
    SELECT doc_id,
           len(ws) AS n_words,
           round(CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
                 / len(ws), 6) AS mean_word_len,
           round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
                      AS DOUBLE) / len(ws), 6) AS alpha_ratio,
           len(list_filter(ws, x -> x IN {_STOPWORDS})) AS stop_hits,
           (len(ws) BETWEEN 50 AND 100000)
             AND (CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
                  / len(ws) BETWEEN 3 AND 10)
             AND (CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
                       AS DOUBLE) / len(ws) >= 0.8)
             AND (len(list_filter(ws, x -> x IN {_STOPWORDS})) >= 2) AS keep
    FROM w
    """,
)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-free quality rules as one row-local expression
    bank: word-count bounds, mean word length in [3,10], ≥80% words with
    an alphabetic character, ≥2 stop-word hits. All higher-order
    functions on a single split — whole-stage-codegen'd, no shuffle, no
    Python; the corpus filter is `WHERE keep`."""
    docs = sf_table(spark, sf_dir, "documents")
    ws = F.split(F.trim("text"), r"\s+")
    d = docs.select("doc_id", ws.alias("ws"))
    total_len = F.expr("aggregate(ws, 0L, (a, x) -> a + length(x))")
    mean_wl = total_len / F.size("ws").cast("double")
    alpha = F.expr("size(filter(ws, x -> x rlike '[a-z]'))").cast("double") / F.size(
        "ws"
    )
    stop_hits = F.expr(f"size(filter(ws, x -> x IN {_STOPWORDS}))")
    keep = (
        F.size("ws").between(50, 100000)
        & mean_wl.between(3, 10)
        & (alpha >= 0.8)
        & (stop_hits >= 2)
    )
    return d.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(alpha, 6).alias("alpha_ratio"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# Duplicated-span mining: word 8-grams occurring in ≥2 distinct documents
# ---------------------------------------------------------------------------
_SPAN_N = 8


@register(
    "text_duplicated_spans",
    rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
    )
    SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
    FROM (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - {_SPAN_N - 1}),
                    i -> array_to_string(ws[i:i+{_SPAN_N - 1}], ' '))) AS span
      FROM w WHERE len(ws) >= {_SPAN_N}
    )
    GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    """,
)
def text_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated word-8-gram spans — the bounded-span form
    of exact-substring dedup (Lee et al. 2022): explode every 8-gram,
    hash-shuffle on the span, keep spans in ≥2 distinct docs. Linear in
    corpus tokens; the span universe lives in the shuffle, never on the
    driver. (A production run would group on xxhash64(span) and join the
    text back for the survivors; the span text is grouped directly here
    so the oracle can reproduce it.)"""
    docs = sf_table(spark, sf_dir, "documents")
    ws = F.split(F.trim("text"), r"\s+")
    spans = F.expr(
        f"transform(sequence(1, size(ws) - {_SPAN_N - 1}),"
        f" i -> array_join(slice(ws, i, {_SPAN_N}), ' '))"
    )
    return (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= _SPAN_N)
        .select("doc_id", F.explode(spans).alias("span"))
        .groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Trailing 7-day moving median of daily sales (full frames only)
# ---------------------------------------------------------------------------
@register(
    "window_moving_median",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             round(sum(o_totalprice), 6) AS total
      FROM orders GROUP BY 1
    ), win AS (
      SELECT d, total,
             round(median(total) OVER (ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7,
             row_number() OVER (ORDER BY d) AS rn
      FROM daily
    )
    SELECT d, total, med7 FROM win WHERE rn >= 7
    """,
)
def window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-row median of daily sales — the robust variant of
    the moving average (outlier days don't drag it). Restricted to full
    frames (rn ≥ 7): engines disagree on even-frame interpolation, and a
    7-row frame is always odd so the median is an element, not an
    average. One global sort window — at scale, partition by coarse time
    range first (`window_moving_7day_sum` shows the per-key form)."""
    orders = sf_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date(F.date_trunc("day", "o_orderdate")).alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 6).alias("total"))
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    wn = Window.orderBy("d")
    return (
        daily.select(
            "d",
            "total",
            F.round(F.expr("percentile(total, 0.5)").over(w), 6).alias("med7"),
            F.row_number().over(wn).alias("rn"),
        )
        .filter(F.col("rn") >= 7)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Linear-regression aggregate bank (regr_*)
# ---------------------------------------------------------------------------
@register(
    "agg_regression_functions",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           regr_count(l_extendedprice, l_quantity) AS n,
           round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
           round(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_y
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_regression_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression aggregates (price ~ quantity): slope,
    intercept, r², count, mean x/y — all second-moment sums, so one
    partial-aggregated shuffle on the group key; identical shape to
    `agg_stats_functions`."""
    li = sf_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_x"),
        F.round(F.regr_avgy(y, x), 6).alias("avg_y"),
    )


# ---------------------------------------------------------------------------
# Unpivot (wide → long) — Spark-native melt
# ---------------------------------------------------------------------------
@register(
    "unpivot_order_metrics",
    """
    WITH wide AS (
      SELECT o_orderstatus,
             CAST(count(*) AS DOUBLE) AS n_orders,
             round(sum(o_totalprice), 6) AS total_price,
             round(avg(o_totalprice), 6) AS avg_price
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM wide
    UNION ALL
    SELECT o_orderstatus, 'total_price', total_price FROM wide
    UNION ALL
    SELECT o_orderstatus, 'avg_price', avg_price FROM wide
    """,
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via Spark-native `DataFrame.unpivot` (melt) —
    the inverse of the PIVOT stage (`pivot_segment_by_status`). Unpivot
    is a row-local generator (each input row fans out to one row per
    value column), so it adds no shuffle beyond the aggregation that
    built the wide table."""
    orders = sf_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 6).alias("total_price"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["n_orders", "total_price", "avg_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )
