"""Round-2 extensions, batch 24: lakehouse layout planning (Z-order
clustering, zone-map pruning, compaction file planning), sketch set
algebra, and retrieval scoring.

Scale notes:
- Z-ORDER: the interleaved key is a pure JVM expression (aggregate over a
  16-step sequence of shifts); the only shuffle is the global sort that any
  clustered write performs anyway (`repartitionByRange` + sortWithinPartitions
  at cluster scale — ntile here so the file stats are engine-checkable).
  Zone tightness of the resulting files is exactly what data skipping buys
  at 100 TB: a 2-D predicate prunes to O(boundary) files instead of all.
- ZONE MAPS: per-zone min/max aggregate — one map-side-combined groupBy.
  The `scanned` bit is the pruning decision a reader makes from footer
  stats alone, without opening data pages.
- COMPACTION: the file plan is a per-partition window (row_number div
  target) — no data movement; the plan itself is what a maintenance job
  would execute with maxRecordsPerFile.
- THETA-STYLE INTERSECTION: HLL sketches union natively; intersection via
  inclusion-exclusion on three approx_count_distinct aggregates (each one
  scan-local, mergeable). The error bound compounds across the three
  estimates — asserted against exact counts, same contract as the other
  *_bound_check rows.
- BM25: two aggregations over the exploded token table (tf per doc·term
  for the query's terms only — the term filter prunes before the shuffle —
  plus corpus df/avgdl), then a broadcast join of the tiny term-stats
  table. Linear in corpus tokens, the inverted-index scoring shape.
- CONTAINMENT: inverted-index self-join on distinct 3-gram shingles
  (equi-join, never all-pairs), shared-shingle counts per pair, divided by
  the contained side's shingle count. The candidate fan-out is bounded by
  shingle document frequency; at 100 TB drop shingles with df above a cap
  first (boilerplate — they only create pairs that verification rejects),
  exactly the PPJoin rarity trick `dedup_ngram_jaccard` applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering plan over (custkey, order day)
# ---------------------------------------------------------------------------
_Z_FILES = 64

@register(
    "layout_zorder_plan",
    f"""
    WITH keyed AS (
      SELECT o_orderkey,
             (o_custkey & 65535) AS ck,
             (date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) & 65535) AS dy
      FROM orders
    ), z AS (
      SELECT o_orderkey, ck, dy,
             list_sum(list_transform(range(0, 16), i ->
               (((ck >> i) & 1) << (2*i)) + (((dy >> i) & 1) << (2*i + 1))
             )) AS zval
      FROM keyed
    ), filed AS (
      SELECT ck, dy, ntile({_Z_FILES}) OVER (ORDER BY zval, o_orderkey) AS file_id
      FROM z
    )
    SELECT file_id, count(*) AS n_rows,
           min(ck) AS ck_min, max(ck) AS ck_max,
           min(dy) AS dy_min, max(dy) AS dy_max
    FROM filed GROUP BY file_id
    """,
)
def layout_zorder_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering plan: interleave the bits of two filter columns
    (customer key × order day) into a Morton key, range-split the sort
    order into {_Z_FILES} files, and report each file's per-dimension
    min/max zone. Tight 2-D zones are the point: a predicate on EITHER
    column prunes most files, which a single-column sort only gives for
    its leading column. The interleave is a JVM-side aggregate over 16
    bit positions — no UDF. File assignment needs a GLOBAL rank over the
    Morton order; a bare ntile window would single-partition every row,
    so the rank is the two-level shape (`two_level_rank`: block-local
    row_number partitioned on the high Morton bits + a carry prefix over
    the tiny per-block count table) and the exact ntile split is derived
    row-locally from it."""
    from gemini_data_wrangler_spark.operators.window import distributed_ntile

    orders = sf_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        F.expr("o_custkey & 65535").alias("ck"),
        F.expr(
            "datediff(to_date(o_orderdate), to_date('1995-01-01')) & 65535"
        ).alias("dy"),
    )
    z = keyed.withColumn(
        "zval",
        F.expr(
            "aggregate(sequence(0, 15), 0L, (acc, i) -> acc"
            " + shiftleft(shiftright(ck, i) & 1, 2*i)"
            " + shiftleft(shiftright(dy, i) & 1, 2*i + 1))"
        ),
    )
    # distributed_ntile == the previous inline two_level_rank + count +
    # ntile_from_rank chain (round 7) — and it stages `z` once, where the
    # inline chain re-ran the interpreted 16-step Morton fold three times
    # (rank window, block counts, row count).
    filed = distributed_ntile(
        z,
        _Z_FILES,
        key=F.col("zval"),
        tiebreaks=[F.col("o_orderkey")],
        block=F.shiftright(F.col("zval"), 24),
        out_col="file_id",
    )
    return filed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ck").alias("ck_min"),
        F.max("ck").alias("ck_max"),
        F.min("dy").alias("dy_min"),
        F.max("dy").alias("dy_max"),
    )


# ---------------------------------------------------------------------------
# Zone-map pruning decision from per-zone min/max stats
# ---------------------------------------------------------------------------
_ZM_LO, _ZM_HI = 100000.0, 150000.0

@register(
    "layout_zonemap_prune",
    f"""
    SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS zone,
           count(*) AS n_rows,
           min(o_totalprice) AS tp_min,
           max(o_totalprice) AS tp_max,
           NOT (max(o_totalprice) < {_ZM_LO} OR min(o_totalprice) > {_ZM_HI})
             AS scanned
    FROM orders GROUP BY zone
    """,
)
def layout_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone maps (per-month min/max of o_totalprice) plus the pruning
    decision a reader makes for ``BETWEEN {_ZM_LO} AND {_ZM_HI}`` from
    stats alone: a zone is scanned iff its [min, max] overlaps the
    predicate range. One map-side-combined aggregation; this is the
    footer-stats data-skipping mechanism that turns a 100 TB range scan
    into a handful of files."""
    orders = sf_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("zone")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").alias("tp_min"),
        F.max("o_totalprice").alias("tp_max"),
        (
            ~(
                (F.max("o_totalprice") < _ZM_LO)
                | (F.min("o_totalprice") > _ZM_HI)
            )
        ).alias("scanned"),
    )


# ---------------------------------------------------------------------------
# Compaction / file-size planning per partition
# ---------------------------------------------------------------------------
_FILE_TARGET_ROWS = 500

@register(
    "layout_compaction_plan",
    f"""
    WITH numbered AS (
      SELECT o_orderpriority AS part,
             o_orderkey,
             (row_number() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_orderkey) - 1) // {_FILE_TARGET_ROWS}
               AS file_idx
      FROM orders
    )
    SELECT part, file_idx, count(*) AS n_rows,
           min(o_orderkey) AS key_min, max(o_orderkey) AS key_max
    FROM numbered GROUP BY part, file_idx
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction plan: within each partition (order priority), pack rows
    in key order into files of ~{_FILE_TARGET_ROWS} rows and report each
    planned file's row count and key range — the decision layer of a
    small-file maintenance job (the write itself is
    ``repartitionByRange(keys) + maxRecordsPerFile``). One window + one
    aggregate, both partition-local after a single hash shuffle."""
    orders = sf_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    numbered = orders.select(
        F.col("o_orderpriority").alias("part"),
        "o_orderkey",
        ((F.row_number().over(w) - 1) / _FILE_TARGET_ROWS).cast("long").alias(
            "file_idx"
        ),
    )
    return numbered.groupBy("part", "file_idx").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("key_min"),
        F.max("o_orderkey").alias("key_max"),
    )


# ---------------------------------------------------------------------------
# HLL inclusion-exclusion intersection (theta-sketch-style set algebra)
# ---------------------------------------------------------------------------
_HLL_RSD = 0.05

@register(
    "sketch_hll_intersection_check",
    """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1998-12-31')
    SELECT (SELECT count(*) FROM a) AS exact_a,
           (SELECT count(*) FROM b) AS exact_b,
           (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS exact_union,
           (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS exact_intersection,
           TRUE AS bound_ok
    """,
)
def sketch_hll_intersection_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection cardinality from mergeable distinct sketches via
    inclusion-exclusion: |A∩B| ≈ hll(A) + hll(B) − hll(A∪B). HLL unions
    natively (that is `sketch_hll_mergeable`); intersection is derived,
    and its error compounds across the three estimates — bounded here by
    3σ on each term (σ = rsd·true), asserted against the exact counts.
    The oracle recomputes the exact set algebra and pins ``bound_ok``;
    a hash mismatch means the estimator left its guarantee."""
    orders = sf_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    in_a = d.between(F.lit("1995-01-01"), F.lit("1996-12-31"))
    in_b = d.between(F.lit("1997-01-01"), F.lit("1998-12-31"))
    ck = F.col("o_custkey")
    est = orders.agg(
        F.approx_count_distinct(F.when(in_a, ck), _HLL_RSD).alias("est_a"),
        F.approx_count_distinct(F.when(in_b, ck), _HLL_RSD).alias("est_b"),
        F.approx_count_distinct(F.when(in_a | in_b, ck), _HLL_RSD).alias("est_u"),
        F.count_distinct(F.when(in_a, ck)).alias("exact_a"),
        F.count_distinct(F.when(in_b, ck)).alias("exact_b"),
        F.count_distinct(F.when(in_a | in_b, ck)).alias("exact_union"),
        (
            F.count_distinct(F.when(in_a, ck))
            + F.count_distinct(F.when(in_b, ck))
            - F.count_distinct(F.when(in_a | in_b, ck))
        ).alias("exact_intersection"),
    )
    est_int = F.col("est_a") + F.col("est_b") - F.col("est_u")
    tol = F.ceil(
        3 * _HLL_RSD * (F.col("exact_a") + F.col("exact_b") + F.col("exact_union"))
    )
    return est.select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_intersection",
        (
            F.abs(est_int - F.col("exact_intersection")) <= tol
        ).alias("bound_ok"),
    )


# ---------------------------------------------------------------------------
# BM25 ranking for a fixed term query
# ---------------------------------------------------------------------------
_BM25_TERMS = ("vector", "merge", "window")
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20

@register(
    "text_bm25_rank",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT (SELECT count(*) FROM documents) AS n,
             (SELECT avg(dl) FROM dl) AS avgdl
    ), df AS (
      SELECT w, count(DISTINCT doc_id) AS df FROM toks
      WHERE w IN {str(tuple(_BM25_TERMS))} GROUP BY w
    ), tf AS (
      SELECT doc_id, w, count(*) AS tf FROM toks
      WHERE w IN {str(tuple(_BM25_TERMS))} GROUP BY doc_id, w
    ), scored AS (
      SELECT tf.doc_id,
             sum(
               ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({_BM25_K1} + 1)
               / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
             ) AS s
      FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, round(s, 6) AS bm25,
           row_number() OVER (ORDER BY round(s, 6) DESC, doc_id ASC) AS rank
    FROM scored
    ORDER BY rank LIMIT {_BM25_TOPK}
    """,
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Robertson/Sparck Jones) document ranking for a fixed term
    query — the lexical-retrieval scorer every RAG/quality pipeline pairs
    with embedding search. Token table is exploded once; tf keeps only the
    query's terms (the filter prunes BEFORE the shuffle), df/avgdl are a
    handful of scalars broadcast back; scoring is one partial-aggregated
    groupBy + TakeOrderedAndProject for the top-k. Linear in corpus
    tokens, no UDFs."""
    docs = sf_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.count()
    avgdl_row = dl.agg(F.avg("dl").alias("avgdl"))
    qt = toks.filter(F.col("w").isin(*_BM25_TERMS))
    df = qt.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    tf = qt.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    idf = F.log(1 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl_row))
        .withColumn("_term_s", idf * F.col("tf") * (_BM25_K1 + 1) / denom)
        .groupBy("doc_id")
        .agg(F.round(F.sum("_term_s"), 6).alias("bm25"))
    )
    # Head-prune first (orderBy+limit → TakeOrderedAndProject) so the
    # rank window's single-task frame is K rows, not the corpus.
    head = scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(
        _BM25_TOPK
    )
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return head.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "bm25", "rank"
    )


# ---------------------------------------------------------------------------
# N-gram containment pairs (asymmetric near-dup: A mostly inside B)
# ---------------------------------------------------------------------------
_CONTAIN_MIN = 0.6
# Shingles present in more than this many documents are boilerplate: they
# only inflate inverted-index fan-out (the 10× crawl-clone measurement in
# SCALE.md shows the blowup) and a containment signal built on them says
# "shares the template", not "is contained". Both engines apply the SAME
# cap, and the denominator counts only KEPT shingles, so containment = 1
# stays reachable.
_CONTAIN_DF_CAP = 50

@register(
    "text_containment_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), all_sh AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        FROM toks WHERE len(t) >= 3
      )
    ), kept AS (
      SELECT sh FROM all_sh GROUP BY sh HAVING count(*) <= {_CONTAIN_DF_CAP}
    ), shingles AS (
      SELECT a.doc_id, a.sh FROM all_sh a JOIN kept USING (sh)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM shingles a JOIN shingles b USING (sh)
      WHERE a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b,
           round(CAST(s.n_shared AS DOUBLE) / za.n_sh, 6) AS containment
    FROM shared s
    JOIN sizes za ON za.doc_id = s.doc_a
    WHERE CAST(s.n_shared AS DOUBLE) / za.n_sh >= {_CONTAIN_MIN}
    """,
)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment: fraction of doc A's distinct 3-gram
    shingles (among those kept by the df ≤ {_CONTAIN_DF_CAP} boilerplate
    cap) that also occur in doc B — the near-dup signal Jaccard misses
    when a short document is embedded inside a long one (quote farms,
    boilerplate wrappers, chunk/parent leaks). Inverted-index self-join
    on the KEPT shingles (equi-join, never all-pairs; the df cap bounds
    fan-out per shingle — SCALE.md's 10× crawl-clone run shows why) →
    shared counts per ordered pair → divide by the contained side's kept
    shingle count."""
    docs = sf_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    ).filter(F.size("t") >= 3)
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 2, 1)),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1),"
                " ' ', element_at(t, i + 2)))"
            )
        ).alias("sh"),
    ).distinct().localCheckpoint()
    kept = (
        shingles.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= _CONTAIN_DF_CAP)
        .select("sh")
    )
    # Staged twice deliberately (round 7): the RAW shingle set (eager
    # checkpoint above) feeds the df-cap build and the semi-join; the
    # KEPT set (persist below) feeds sizes and both self-join sides.
    # Unpersisted, the tokenize+explode+distinct pipeline re-ran ~5×.
    shingles = shingles.join(kept, "sh", "left_semi").persist()
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.select(F.col("doc_id").alias("doc_a"), "sh")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "sh")
    shared = (
        a.join(b, "sh")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    cont = F.col("n_shared").cast("double") / F.col("n_sh")
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), "n_sh"), "doc_a"
        )
        .filter(cont >= _CONTAIN_MIN)
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
    )
