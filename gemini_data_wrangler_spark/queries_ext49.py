"""Round-2 extensions, batch 49: Heaps'-law vocabulary growth,
Fellegi–Sunter linkage weights, degree assortativity.

Scale notes:
- VOCAB GROWTH avoids the naive per-checkpoint DISTINCT-union (k scans)
  with the first-occurrence trick: min(doc_id) per term is ONE hash
  aggregate, and every checkpoint's vocabulary is then a histogram
  lookup (count of first occurrences ≤ cap). Linear in term
  occurrences, constant in checkpoint count.
- FELLEGI–SUNTER u-probabilities are Σf² over per-field value
  histograms — domain-bounded aggregates; no record pairs are ever
  formed. The output is the scoring table a linkage run would join
  against candidate pairs.
- ASSORTATIVITY is a Pearson correlation over the edge list's
  (deg u, deg v) pairs — two joins against the degree table and one
  aggregate; integer sufficient statistics, so the result is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth over trigram vocabulary
# ---------------------------------------------------------------------------
_HEAPS_CK = 10


@register(
    "text_vocab_growth",
    rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, len(ws) - 2),
             i -> array_to_string(ws[i:i+2], ' ')))) AS t
      FROM w WHERE len(ws) >= 3
    ), fo AS (SELECT t, min(doc_id) AS first_doc FROM g GROUP BY t),
    tok AS (SELECT doc_id, len(ws) - 2 AS n_tok FROM w WHERE len(ws) >= 3),
    md AS (SELECT max(doc_id) AS mx FROM documents),
    ck AS (SELECT unnest(generate_series(1, {_HEAPS_CK})) AS i),
    pts AS (
      SELECT ck.i AS checkpoint,
             (SELECT sum(n_tok) FROM tok WHERE doc_id <= ck.i * mx / {_HEAPS_CK})
               AS n_tokens,
             (SELECT count(*) FROM fo WHERE first_doc <= ck.i * mx / {_HEAPS_CK})
               AS vocab
      FROM ck CROSS JOIN md
    ), fit AS (
      SELECT round(regr_slope(ln(CAST(vocab AS DOUBLE)),
                              ln(CAST(n_tokens AS DOUBLE))), 6) AS heaps_b
      FROM pts
    )
    SELECT checkpoint, n_tokens, vocab, heaps_b FROM pts CROSS JOIN fit
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve over the trigram vocabulary (word vocab
    saturates on this corpus) at {_HEAPS_CK} doc-prefix checkpoints,
    with the fitted Heaps'-law exponent b (V ≈ k·Nᵇ; natural text sits
    near 0.5–0.8) — the statistic that predicts how much NEW vocabulary
    the next 10 TB of crawl will add, i.e. whether a tokenizer's vocab
    budget will hold. First-occurrence trick: min(doc_id) per term in
    one aggregate makes every checkpoint a histogram lookup instead of
    k distinct-scans; the log-log fit is a regr_slope over
    {_HEAPS_CK} points."""
    docs = sf_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    w = docs.select("doc_id", ws.alias("ws"))
    g = (
        w.filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(ws) - 2),"
                        " i -> array_join(slice(ws, i, 3), ' '))"
                    )
                )
            ).alias("t"),
        )
    )
    fo = g.groupBy("t").agg(F.min("doc_id").alias("first_doc"))
    tok = w.filter(F.size("ws") >= 3).select(
        "doc_id", (F.size("ws") - 2).alias("n_tok")
    )
    mx = docs.agg(F.max("doc_id").alias("mx"))
    ck = (
        docs.sparkSession.range(1, _HEAPS_CK + 1)
        .select(F.col("id").cast("int").alias("checkpoint"))
        .crossJoin(F.broadcast(mx))
        .withColumn("cap", F.expr(f"checkpoint * mx / {_HEAPS_CK}"))
    )
    # histogram lookups: one aggregate per-(checkpoint) via conditional joins
    pts = (
        ck.join(tok, tok["doc_id"] <= ck["cap"])
        .groupBy("checkpoint", "cap")
        .agg(F.sum("n_tok").alias("n_tokens"))
        .join(
            ck.join(fo, fo["first_doc"] <= ck["cap"])
            .groupBy("checkpoint")
            .agg(F.count(F.lit(1)).alias("vocab")),
            "checkpoint",
        )
    )
    fit = pts.agg(
        F.round(
            F.regr_slope(
                F.log(F.col("vocab").cast("double")),
                F.log(F.col("n_tokens").cast("double")),
            ),
            6,
        ).alias("heaps_b")
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "checkpoint", "n_tokens", "vocab", "heaps_b"
    )


# ---------------------------------------------------------------------------
# Fellegi–Sunter field weights from per-field agreement probabilities
# ---------------------------------------------------------------------------
_FS_M = 0.95  # assumed per-field agreement probability among true matches

_FS_FIELDS = [
    ("nation", "CAST(c_nationkey AS VARCHAR)"),
    ("name_suffix3", "substring(c_name, length(c_name) - 2, 3)"),
    ("acctbal_kbin", "CAST(CAST(floor(c_acctbal / 1000) AS INT) AS VARCHAR)"),
]


def _fs_oracle() -> str:
    parts = []
    for fname, expr in _FS_FIELDS:
        parts.append(f"""
        SELECT '{fname}' AS field,
               round(u, 6) AS u_prob,
               round(ln({_FS_M} / u) / ln(2), 6) AS agree_weight,
               round(ln({1 - _FS_M} / (1 - u)) / ln(2), 6) AS disagree_weight
        FROM (
          SELECT sum(CAST(c AS DOUBLE) * c) / (sum(CAST(c AS DOUBLE)) * sum(c)) AS u
          FROM (SELECT {expr} AS v, count(*) AS c FROM customer GROUP BY 1)
        )
        """)
    return " UNION ALL ".join(parts)


@register("er_fellegi_sunter_weights", _fs_oracle())
def er_fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic-linkage scoring table: for each
    comparison field, the chance-agreement probability u = Σf²/n²
    (measured from the data) and the log₂ match weights log(m/u) /
    log((1−m)/(1−u)) under the standard m = {_FS_M} assumption — the
    weights a linkage run sums over a candidate pair's agreement
    pattern before thresholding (the principled version of the ad-hoc
    fuzzy score). u comes from per-field value histograms; no pairs
    are formed."""
    cust = sf_table(spark, sf_dir, "customer")
    exprs = {
        "nation": F.col("c_nationkey").cast("string"),
        "name_suffix3": F.expr("substring(c_name, length(c_name) - 2, 3)"),
        "acctbal_kbin": F.floor(F.col("c_acctbal") / 1000).cast("int").cast("string"),
    }
    import math

    out = None
    for fname, _ in _FS_FIELDS:
        hist = cust.groupBy(exprs[fname].alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        u = hist.agg(
            (
                F.sum(F.col("c").cast("double") * F.col("c"))
                / (F.sum(F.col("c").cast("double")) * F.sum("c"))
            ).alias("u")
        )
        row = u.select(
            F.lit(fname).alias("field"),
            F.round("u", 6).alias("u_prob"),
            F.round(F.log(F.lit(_FS_M) / F.col("u")) / math.log(2), 6).alias(
                "agree_weight"
            ),
            F.round(
                F.log(F.lit(1 - _FS_M) / (1 - F.col("u"))) / math.log(2), 6
            ).alias("disagree_weight"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Degree assortativity of the near-dup graph
# ---------------------------------------------------------------------------
def _assort_oracle() -> str:
    from gemini_data_wrangler_spark.operators.dedup import ngram_jaccard_oracle_sql

    pairs = ngram_jaccard_oracle_sql("documents", "doc_id", "text", n=5, threshold=0.8)
    return f"""
    WITH pairs AS ({pairs}),
    deg AS (
      SELECT vec_id, count(*) AS d FROM (
        SELECT doc_a AS vec_id FROM pairs UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY vec_id
    ), e AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    )
    SELECT round(corr(du.d, dv.d), 6) AS assortativity,
           count(*) AS n_directed_edges
    FROM e JOIN deg du ON e.u = du.vec_id JOIN deg dv ON e.v = dv.vec_id
    """


@register("graph_assortativity", _assort_oracle())
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup graph (Newman's r: Pearson
    correlation of endpoint degrees over directed edges) — positive
    means hubs attach to hubs (crawl-clone clique structure), negative
    means hub-and-spoke (template pages linking one-off copies); it
    predicts how components will merge as the threshold loosens. Two
    equi-joins of the edge list against the degree table + one
    correlation aggregate over integer degrees — exact, linear in
    edges."""
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    # Shared eager-checkpointed pair memo (same insurance as the former
    # per-query localCheckpoint: deg and e fan out into concurrently-
    # scheduled stages, and an unmaterialized cache made each branch
    # recompute the whole LSH pipeline — 28.9 s vs ~1 s, round 3).
    pairs = neardup_pairs(spark, sf_dir, reuse=True)
    # deg fans out into the du- and dv-join branches below, which AQE
    # schedules concurrently — materialize it eagerly too (round-5 driver
    # artifact read 12.3 s vs ~2 s builder-side; same insurance that cured
    # graph_modularity in round 4). It is one row per distinct doc id, so
    # the checkpoint is ~free.
    deg = (
        pairs.select(F.col("doc_a").alias("vec_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint()
    )
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionAll(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    return (
        e.join(deg.select(F.col("vec_id").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("vec_id").alias("v"), F.col("d").alias("dv")), "v")
        .agg(
            F.round(F.corr("du", "dv"), 6).alias("assortativity"),
            F.count(F.lit(1)).alias("n_directed_edges"),
        )
    )
