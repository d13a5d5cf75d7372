"""Round-2 extensions, batch 71: chunk-level duplication filter (CCNet
style) and association-rule mining.

Scale notes:
- CHUNK DUP FRACTION is corpus-level: explode tumbling 12-word chunks,
  hash-aggregate chunk→distinct-doc count, join back by the chunk key,
  re-aggregate per doc. Two shuffles keyed by chunk text (production
  would key on xxhash64(chunk) — stated in the docstring) and one by
  doc_id; everything else is narrow. This is the per-document KEEP/DROP
  decision CCNet derives from paragraph duplication — distinct from
  `text_duplicated_spans`, which mines the span table itself.
- ASSOCIATION RULES: baskets are (order, brand) distinct pairs; the
  pair-support self-join is per-order (baskets are small, so the
  blow-up is bounded by max-basket² per order, not corpus²); supports
  join back via a broadcast of the tiny item table. Confidence and
  lift are emitted for both rule directions from one triangular pair
  count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# CCNet-style duplicated-chunk fraction per document
# ---------------------------------------------------------------------------
_CHUNK_W = 12  # words per tumbling chunk
_DUP_KEEP_MAX = 0.5


@register(
    "text_chunk_dup_fraction",
    rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, CAST(ceil(len(ws) / {_CHUNK_W}.0) AS BIGINT) - 1),
               i -> array_to_string(ws[i*{_CHUNK_W}+1 : i*{_CHUNK_W}+{_CHUNK_W}], ' ')))
               AS chunk
      FROM w
    ),
    g AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk)
    SELECT ch.doc_id,
           count(*) AS n_chunks,
           count(*) FILTER (WHERE g.nd >= 2) AS n_dup_chunks,
           round(count(*) FILTER (WHERE g.nd >= 2) * 1.0 / count(*), 6)
             AS dup_fraction,
           (count(*) FILTER (WHERE g.nd >= 2) * 1.0 / count(*))
             <= {_DUP_KEEP_MAX} AS keep
    FROM ch JOIN g ON ch.chunk = g.chunk
    GROUP BY ch.doc_id
    """,
)
def text_chunk_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-chunk fraction (CCNet's paragraph-dedup
    keep/drop signal, Wenzek et al. 2020): tumbling {12}-word chunks,
    a chunk is "duplicated" when it occurs in ≥2 distinct documents;
    a document is kept while ≤50% of its chunks are duplicated. The
    chunk→count aggregate and the join back are both keyed by the chunk
    text (xxhash64(chunk) in production — the text never needs to leave
    the shuffle); the final per-doc rollup is one more hash aggregate."""
    docs = sf_table(spark, sf_dir, "documents")
    ws = F.split(F.trim("text"), r"\s+")
    chunks = F.expr(
        f"transform(sequence(0, cast(ceil(size(ws) / {_CHUNK_W}.0) as int) - 1),"
        f" i -> array_join(slice(ws, i*{_CHUNK_W}+1, {_CHUNK_W}), ' '))"
    )
    ch = (
        docs.select("doc_id", ws.alias("ws"))
        .select("doc_id", F.explode(chunks).alias("chunk"))
    )
    g = ch.groupBy("chunk").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
    frac = dup * F.lit(1.0) / F.count(F.lit(1))
    return (
        ch.join(g, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            F.round(frac, 6).alias("dup_fraction"),
            (frac <= _DUP_KEEP_MAX).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Association rules over order→brand baskets
# ---------------------------------------------------------------------------
_RULE_MIN_PAIR = 20
_RULE_MIN_CONF = 0.05


@register(
    "basket_association_rules",
    f"""
    WITH bk AS (
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    items AS (SELECT item, count(*) AS n_item FROM bk GROUP BY item),
    tot AS (SELECT count(DISTINCT ok) AS n_orders FROM bk),
    pairs AS (
      SELECT a.item AS ia, b.item AS ib, count(*) AS n_pair
      FROM bk a JOIN bk b ON a.ok = b.ok AND a.item < b.item
      GROUP BY a.item, b.item
    ),
    directed AS (
      SELECT ia AS antecedent, ib AS consequent, n_pair FROM pairs
      UNION ALL
      SELECT ib AS antecedent, ia AS consequent, n_pair FROM pairs
    )
    SELECT d.antecedent, d.consequent, d.n_pair,
           round(d.n_pair * 1.0 / ia.n_item, 6) AS confidence,
           round((d.n_pair * t.n_orders) * 1.0 / (ia.n_item * ic.n_item), 6)
             AS lift
    FROM directed d
    JOIN items ia ON d.antecedent = ia.item
    JOIN items ic ON d.consequent = ic.item
    CROSS JOIN tot t
    WHERE d.n_pair >= {_RULE_MIN_PAIR}
      AND d.n_pair * 1.0 / ia.n_item >= {_RULE_MIN_CONF}
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules A→B over per-order brand baskets with support,
    confidence = supp(A∪B)/supp(A) and lift = N·supp(A∪B)/(supp(A)·
    supp(B)) — the a-priori k=2 rule mine. The pair self-join is keyed
    by order (baskets are short, so the quadratic term is per-basket,
    never per-corpus); item supports and the scalar basket count come
    back via broadcasts. Both rule directions are derived from one
    triangular count."""
    li = sf_table(spark, sf_dir, "lineitem")
    part = sf_table(spark, sf_dir, "part")
    # Staged once (round 7): the basket table feeds FOUR subtrees (item
    # supports, the basket count, and both sides of the pair self-join) —
    # unpersisted, the lineitem⋈part join + distinct re-ran per consumer.
    # Eager checkpoint so every consumer reads the materialized blocks.
    bk = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("item"))
        .distinct()
        .localCheckpoint()
    )
    items = bk.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    tot = bk.agg(F.countDistinct("ok").alias("n_orders"))
    a = bk.select("ok", F.col("item").alias("ia"))
    b = bk.select("ok", F.col("item").alias("ib"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    directed = pairs.select(
        F.col("ia").alias("antecedent"), F.col("ib").alias("consequent"), "n_pair"
    ).unionAll(
        pairs.select(
            F.col("ib").alias("antecedent"), F.col("ia").alias("consequent"), "n_pair"
        )
    )
    ia = items.select(F.col("item").alias("antecedent"), F.col("n_item").alias("n_a"))
    ic = items.select(F.col("item").alias("consequent"), F.col("n_item").alias("n_c"))
    conf = F.col("n_pair") * F.lit(1.0) / F.col("n_a")
    lift = (F.col("n_pair") * F.col("n_orders")) * F.lit(1.0) / (
        F.col("n_a") * F.col("n_c")
    )
    return (
        directed.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(tot))
        .filter((F.col("n_pair") >= _RULE_MIN_PAIR) & (conf >= _RULE_MIN_CONF))
        .select(
            "antecedent",
            "consequent",
            "n_pair",
            F.round(conf, 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
    )
