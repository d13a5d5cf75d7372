"""Round-2 extensions, batch 15: period-over-period analytics, grouped
top-k, 2-D histograms, graph degree profiles, and dictionary-driven text
normalization.

All value-hash-oracled. Shapes that matter at 100 TB:
- YoY growth is one partial-aggregated monthly rollup (tiny) + a lag
  window over ~hundreds of rows — aggregate first, window the rollup,
  never window the fact table.
- Grouped top-k uses one ranking window per group partition — the
  classic "top N per key" that replaces a driver-side loop.
- The 2-D histogram is a single groupBy on two derived bucket keys —
  heatmap binning without a UDF.
- Degree distribution is two groupBys over the (already linear) verified
  near-dup pair set.
- Dictionary normalization keeps the lookup map as an expression-level
  literal map (`map_from_arrays`) — the broadcast-join-free form of a
  small-dimension join; at a few thousand entries switch to a broadcast
  join against a real dimension table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Year-over-year growth of monthly revenue
# ---------------------------------------------------------------------------
@register(
    "sales_yoy_growth",
    """
    WITH monthly AS (
      SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
             round(sum(o_totalprice), 6) AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT y, m, revenue,
           lag(revenue, 12) OVER (ORDER BY y, m) AS revenue_prev_year,
           round(100.0 * (revenue - lag(revenue, 12) OVER (ORDER BY y, m))
                 / lag(revenue, 12) OVER (ORDER BY y, m), 6) AS yoy_pct
    FROM monthly
    """,
)
def sales_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: monthly rollup, then lag(12) over the
    rollup. The window runs over the AGGREGATED series (hundreds of rows),
    not the fact table — the cheap-by-construction period-over-period
    pattern; the fact-table work is one partial-aggregated shuffle."""
    orders = sf_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(F.round(F.sum("o_totalprice"), 6).alias("revenue"))
    w = Window.orderBy("y", "m")
    prev = F.lag("revenue", 12).over(w)
    return monthly.select(
        "y",
        "m",
        "revenue",
        prev.alias("revenue_prev_year"),
        F.round(100.0 * (F.col("revenue") - prev) / prev, 6).alias("yoy_pct"),
    )


# ---------------------------------------------------------------------------
# Grouped top-k: most frequent word bigrams per language
# ---------------------------------------------------------------------------
@register(
    "text_top_bigrams_per_lang",
    r"""
    WITH w AS (
      SELECT lang, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
    ), bg AS (
      SELECT lang,
             unnest(list_transform(generate_series(1, len(ws) - 1),
                    i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM w WHERE len(ws) >= 2
    ), counted AS (
      SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2
    )
    SELECT lang, bigram, n FROM (
      SELECT lang, bigram, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram ASC) AS rk
      FROM counted
    ) WHERE rk <= 5
    """,
)
def text_top_bigrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language — grouped top-k: explode bigrams,
    count per (lang, bigram), one ranking window per lang partition.
    At 100 TB the count is the heavy partial-aggregated shuffle; the
    ranking windows run over the (already reduced) per-lang counts."""
    docs = sf_table(spark, sf_dir, "documents")
    ws = F.split(F.trim("text"), r"\s+")
    bigrams = F.expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(ws[i-1], ' ', ws[i]))"
    )
    counted = (
        docs.select("lang", ws.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "bigram", "n")
    )


# ---------------------------------------------------------------------------
# 2-D histogram: order month × price bucket
# ---------------------------------------------------------------------------
_PRICE_BUCKET = 50_000


@register(
    "histogram_2d",
    f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(floor(o_totalprice / {_PRICE_BUCKET}) AS BIGINT) AS price_bucket,
           count(*) AS n,
           round(sum(o_totalprice), 6) AS total
    FROM orders GROUP BY 1, 2
    """,
)
def histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D equi-width histogram (order month × 50k price bucket) — heatmap
    binning as one groupBy over two derived keys; fully partial-aggregated,
    no UDF, output bounded by bucket-grid size not input rows."""
    orders = sf_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        F.floor(F.col("o_totalprice") / _PRICE_BUCKET).alias("price_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 6).alias("total"),
    )


# ---------------------------------------------------------------------------
# Degree distribution of the near-dup similarity graph
# ---------------------------------------------------------------------------
def _degree_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import ngram_jaccard_oracle_sql

    pairs = ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    return f"""
    WITH pairs AS ({pairs}),
    deg AS (
      SELECT doc, count(*) AS degree FROM (
        SELECT doc_a AS doc FROM pairs UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY doc
    )
    SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
    """


@register("graph_degree_distribution", _degree_oracle())
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph (jaccard ≥ 0.8 pairs):
    degree per node, then node count per degree — the shape check run
    before connected components (a heavy-tailed distribution predicts
    giant components and motivates the large-star/small-star variant).
    Two groupBys over the linear pair set."""
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    # Single explode instead of union(pairs.a, pairs.b): a union references
    # the LSH pipeline once per branch and Spark executes self-referencing
    # branches independently — the whole pair kernel would run twice.
    deg = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# Dictionary-driven token normalization (literal map, broadcast-free)
# ---------------------------------------------------------------------------
_ALIASES = {"tbl": "table", "val": "value", "agg": "aggregate", "win": "window"}


def _normalize_oracle() -> str:
    cases = " ".join(f"WHEN x = '{k}' THEN '{v}'" for k, v in _ALIASES.items())
    return rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           array_to_string(list_transform(ws,
             x -> CASE {cases} ELSE x END), ' ') AS normalized,
           len(list_filter(ws, x -> x IN ({{keys}}))) AS n_replaced
    FROM w
    """.format(
        keys=", ".join(f"'{k}'" for k in _ALIASES)
    )


@register("text_normalize_dictionary", _normalize_oracle())
def text_normalize_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias/abbreviation normalization via an expression-literal lookup
    map: tokenize, map each token through `map_from_arrays` (falling back
    to itself), re-join. The map is baked into the plan — zero joins,
    zero shuffles, whole-stage-codegen'd; a dictionary too big for a plan
    literal becomes a broadcast join on the exploded tokens."""
    docs = sf_table(spark, sf_dir, "documents")
    keys = F.array(*[F.lit(k) for k in _ALIASES])
    vals = F.array(*[F.lit(v) for v in _ALIASES.values()])
    amap = F.map_from_arrays(keys, vals)
    ws = F.split(F.trim("text"), r"\s+")
    d = docs.filter(F.col("doc_id") < 200).select(
        "doc_id", ws.alias("ws"), amap.alias("_m")
    )
    in_keys = ", ".join(f"'{k}'" for k in _ALIASES)
    return d.select(
        "doc_id",
        F.array_join(
            F.expr("transform(ws, x -> coalesce(element_at(_m, x), x))"), " "
        ).alias("normalized"),
        F.expr(f"size(filter(ws, x -> x IN ({in_keys})))").alias("n_replaced"),
    )
