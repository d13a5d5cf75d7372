"""Deduplication operators for training-data pipelines.

Four strategies, all shuffle-conscious and UDF-free (pure built-in
expressions → whole-stage codegen):

* ``exact_dedup``           — hash-groupBy on content (or any key columns).
* ``ngram_jaccard_pairs``   — EXACT near-dup pairs via shingle self-join.
                              O(sum of per-shingle doc-count²): correct but
                              the scan blows up on hot shingles; it is the
                              small-scale oracle for the two approximate
                              paths below.
* ``minhash_lsh_pairs``     — MinHash signatures + banded LSH bucketing,
                              then EXACT jaccard verification of candidates.
                              The 100 TB scale path: cost is linear in docs
                              + candidate pairs; recall is the standard
                              1-(1-j^r)^b S-curve (params chosen so misses
                              are ~impossible above the threshold).
* ``simhash_pairs``         — 64-bit SimHash + pigeonhole chunk bucketing
                              for hamming-distance candidates, then exact
                              jaccard verification.

No counterpart exists in the reference app (its only dedup surface is
UNION's implicit DISTINCT — ui/src/sqlGenerator.ts:35); these are the
"beyond the reference" operators the north star calls for.

All hash material derives from ``xxhash64`` (Spark built-in) with fixed
seeds, so every run is deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.functions.text import char_shingle_hashes
from gemini_data_wrangler_spark.operators.graphs import env_int as _env_int, run_route
from gemini_data_wrangler_spark.plans.stage import Stage

# Mersenne prime 2^31-1: modulus for the universal-hash family
# h_i(x) = ((a_i * (x mod P) + b_i) mod P). 31 bits keeps every product
# below 2^62 — ANSI mode (Spark 4 default) raises on int64 overflow, so the
# arithmetic must stay in range. a_i/b_i derive from sha256 of the
# permutation index: seed-stable, run-deterministic.
_P = (1 << 31) - 1


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    import hashlib

    params = []
    for i in range(num_perm):
        h = hashlib.sha256(f"gdws-minhash-{i}".encode()).digest()
        a = (int.from_bytes(h[:8], "big") % (_P - 1)) + 1
        b = int.from_bytes(h[8:16], "big") % _P
        params.append((a, b))
    return params


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Keep one representative (min id) per distinct content; report group
    size. A single hash-aggregate shuffle on the content columns — the
    cheapest possible dedup at any scale.

    Output: content_cols…, keep_id, copies.
    """
    return df.groupBy(*[F.col(c) for c in content_cols]).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("copies"),
    )


# ---------------------------------------------------------------------------
# Shingle basis shared by jaccard / minhash / simhash
# ---------------------------------------------------------------------------
def with_shingles(df: DataFrame, text_col: str, n: int = 5) -> DataFrame:
    """``_shingles`` is an ``array<bigint>`` of hashed n-grams — see
    ``char_shingle_hashes`` for why strings never leave the scan stage."""
    return df.withColumn("_shingles", char_shingle_hashes(F.col(text_col), n))


def _hot_shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Shingle a corpus with the heavy per-row hashing AFTER a round-robin
    spread of the raw (id, text) rows.

    Ordering matters: written as scan→shingle→repartition, the shingle
    expression runs inside the scan stage — a single-split parquet file
    computes every array on one core. Repartitioning the raw rows first
    moves the substring+xxhash work past the exchange, so it parallelizes
    regardless of the source's split count.

    Persisted EAGERLY (count() forces the cache before any consumer plan
    runs) because every caller feeds it to at least two plan branches
    (signatures/votes + exact verify) that may be scheduled concurrently: a
    lazy persist lets the branches race to populate the cache and, under
    an unlucky scheduling order, recompute the upstream subtree per branch
    — the round-4 driver bench showed exactly that signature (a 13×
    blow-up on graph_modularity that never reproduced locally). The extra
    job costs ~0.3 s; the downside it insures against is unbounded. Each
    dedup kernel stages exactly ONE eager frame like this per heavy
    upstream (round 5 staged three per kernel — the redundant
    repartition+persist+count jobs cost graph_adamic_adar ~1.8× and were
    trimmed in round 6).
    """
    sc = df.sparkSession.sparkContext
    raw = df.select(id_col, text_col).repartition(sc.defaultParallelism, id_col)
    staged = with_shingles(raw, text_col, n).select(id_col, "_shingles").persist()
    staged.count()
    return staged


# Per-doc side frames of the verify joins (shingle arrays / signatures /
# bitmaps) are broadcast when their measured payload fits this budget —
# Catalyst's own size ESTIMATE for these frames is inflated by the
# explode/agg/transform chain that builds them, so it plans SortMergeJoin
# (two exchanges + sorts of the candidate stream) for a side that is
# actually a couple of MB (round-8 plan capture: 2 SMJs in
# dedup_ngram_jaccard). Above the budget the join stays a shuffle join —
# the 100 TB shape. Env-overridable like the other deployment bounds.
def _docs_broadcast_bytes() -> int:
    from gemini_data_wrangler_spark.operators.graphs import env_int

    return env_int("SPARK_GRAFT_DOCS_BROADCAST_MAX_BYTES", 64 * 1024 * 1024)



def _verify_jaccard(
    candidates: DataFrame,  # columns: doc_a, doc_b
    shingled: DataFrame,  # columns: <id_col>, _shingles
    id_col: str,
    threshold: float,
    broadcast_docs: bool = False,
) -> DataFrame:
    """Exact jaccard on candidate pairs via array_intersect on the (hashed
    long) shingle sets — candidates haul compact primitive arrays through
    the shuffle, never shingle strings (at millions of candidate pairs the
    string copies would dominate memory traffic). xxhash64 collisions
    across a ~2k-element set are ~1e-13, and the sf0.01 oracle hash-match
    confirms the pair set equals the exact string-based answer.

    ``broadcast_docs=True`` (caller measured the per-doc side under the
    broadcast budget) pins both attach joins to BroadcastHashJoin: the
    candidate stream is never exchanged or sorted, where Catalyst's
    inflated estimate for the cached/exploded side planned SortMergeJoin.
    """
    a = shingled.select(F.col(id_col).alias("doc_a"), F.col("_shingles").alias("_sh_a"))
    b = shingled.select(F.col(id_col).alias("doc_b"), F.col("_shingles").alias("_sh_b"))
    if broadcast_docs:
        # Only worth pinning when the caller measured the side under the
        # budget AND Catalyst would otherwise mis-plan; sides read straight
        # off an InMemoryRelation already carry accurate size stats, so
        # callers in that shape pass False and let the planner decide.
        a, b = F.broadcast(a), F.broadcast(b)
    # Materialize the intersection size into its own column so the O(|A|+|B|)
    # set intersection runs ONCE per pair — referencing the same expression in
    # both numerator and denominator makes codegen evaluate it twice.
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b"))).cast("double")
    union = F.size("_sh_a") + F.size("_sh_b") - F.col("_i")
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("_i", inter)
        .withColumn("jaccard", F.col("_i") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


_BITMAP_MAX_VOCAB = 16_384


def _verify_jaccard_bitmap(
    candidates: DataFrame,  # columns: doc_a, doc_b
    shingled: DataFrame,  # columns: <id_col>, _shingles
    vocab: DataFrame,  # columns: _g (distinct shingle hashes), _df
    vocab_n: int,
    id_col: str,
    threshold: float,
    broadcast_docs: bool = False,
) -> DataFrame:
    """Exact-jaccard verify specialized for SMALL shingle vocabularies:
    dictionary-encode each doc's shingle set into a dense bitmap of
    ``ceil(vocab_n/64)`` longs, then intersect candidates with AND+popcount
    instead of a hash-set ``array_intersect`` over ~|doc| elements.

    Boilerplate-heavy corpora (templated pages, log-like text) collapse to
    a few thousand distinct shingles while individual docs still carry
    thousands of set members — there the candidate verify dominates the
    whole PPJoin (measured 3.9 s of a 7 s sf0.1 run) and each AND+popcount
    word replaces ~64 hash probes. Same integers, same double division,
    same output as :func:`_verify_jaccard`; callers gate on the measured
    vocabulary size (``_BITMAP_MAX_VOCAB`` words × 8 B = 2 KB/doc ceiling)
    and fall back to the hash-set verify for open-domain corpora where the
    vocabulary grows with the corpus.

    The vocabulary→bit-index window is a single unpartitioned row_number,
    bounded by the same gate (≤16 k rows), and the bitmap build reuses the
    doc-keyed partitioning of ``shingled`` (explode + broadcast join keep
    it), so both groupBys run exchange-free.
    """
    from pyspark.sql import Window

    n_words = (vocab_n + 63) // 64
    vid = vocab.select(
        "_g", (F.row_number().over(Window.orderBy("_g")) - 1).alias("_vid")
    )
    ex = shingled.select(F.col(id_col), F.explode("_shingles").alias("_g"))
    words = (
        ex.join(F.broadcast(vid), "_g")
        .select(
            F.col(id_col),
            (F.col("_vid") / 64).cast("int").alias("_wi"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_vid % 64 AS INT))").alias(
                "_bit"
            ),
        )
        .groupBy(id_col, "_wi")
        .agg(F.expr("bit_or(_bit)").alias("_w"))
    )
    bm = (
        words.groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("_wi", "_w"))).alias("_m"))
        .select(
            F.col(id_col),
            F.expr(
                f"transform(sequence(0, {n_words - 1}),"
                " wi -> coalesce(element_at(_m, wi), CAST(0 AS BIGINT)))"
            ).alias("_bm"),
        )
        .join(shingled.select(F.col(id_col), F.size("_shingles").alias("_n")), id_col)
    )
    a = bm.select(
        F.col(id_col).alias("doc_a"), F.col("_bm").alias("_ba"), F.col("_n").alias("_na")
    )
    b = bm.select(
        F.col(id_col).alias("doc_b"), F.col("_bm").alias("_bb"), F.col("_n").alias("_nb")
    )
    if broadcast_docs:
        # The bitmap side is n_docs × (n_words·8 + ~48) bytes — measured
        # under the broadcast budget by the caller; pinning BuildRight here
        # keeps the candidate stream un-exchanged and un-sorted (the cached
        # multi-agg lineage otherwise estimates big → SortMergeJoin).
        a, b = F.broadcast(a), F.broadcast(b)
    # Same arithmetic as _verify_jaccard: integer intersection / integer
    # union in double division — bit-identical jaccard values.
    inter = F.expr(
        "CAST(aggregate(zip_with(_ba, _bb, (x, y) -> bit_count(x & y)),"
        " 0, (acc, v) -> acc + v) AS DOUBLE)"
    )
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("_i", inter)
        .withColumn(
            "jaccard",
            F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Exact n-gram jaccard (shingle self-join)
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs with char-n-gram jaccard ≥ threshold, computed exactly,
    with AllPairs/PPJoin-style prefix filtering (Bayardo et al., WWW'07;
    Xiao et al., WWW'08) so the candidate join stays near-linear:

    1. shingle each doc; rank every shingle globally by document frequency
       (rarest first — ties broken by hash for determinism);
    2. per doc keep only the *prefix*: the ``|A| - ceil(t·|A|) + 1`` rarest
       shingles. Two docs with jaccard ≥ t MUST share a prefix shingle
       (pigeonhole on the overlap bound ⌈t/(1+t)·(|A|+|B|)⌉), so joining on
       prefix shingles alone loses nothing;
    3. length filter on the join: t·|A| ≤ |B| ≤ |A|/t (jaccard ≥ t bounds
       the size ratio);
    4. exact-jaccard verification of surviving candidate pairs.

    Versus the naive shingle self-join this turns hot-shingle quadratic
    blowup (every doc pair sharing ' the ' collides) into a join keyed on
    rare shingles only — the standard exact similarity-join at scale.

    Output: doc_a, doc_b, jaccard (double).
    """
    from pyspark.sql import Window

    shingled = _hot_shingled(df, id_col, text_col, n)
    ex = shingled.select(F.col(id_col), F.explode("_shingles").alias("_g"))
    # Global document frequency per shingle — one cheap agg. Its row count
    # is the DISTINCT SHINGLE VOCABULARY, typically orders of magnitude
    # below the exploded (doc, shingle) stream; when it fits the broadcast
    # budget, broadcasting it (a) turns the rank join map-side, so the 10M+
    # exploded rows never shuffle on the shingle key, and (b) preserves the
    # doc-keyed partitioning from `_hot_shingled` through explode+join, so the
    # rank window needs NO exchange either — two full-stream shuffles
    # removed. AQE would make this call itself but cannot re-plan inside a
    # cached subtree, so the engine measures: freq is persisted, counted
    # (one aggregate over cached shingles), and joined broadcast iff small.
    freq = ex.groupBy("_g").agg(F.count(F.lit(1)).alias("_df")).persist()
    vocab_n = freq.count()
    ranked_src = (
        ex.join(F.broadcast(freq), "_g")
        if vocab_n <= 5_000_000  # ~80 MB of (long, long) — well in budget
        else ex.join(freq, "_g")
    )
    ranked = ranked_src.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.xxhash64("_g").asc())
        ),
    )
    sizes = shingled.select(F.col(id_col), F.size("_shingles").alias("_n"))
    # prefix length = |A| - ceil(t*|A|) + 1; keep each token's rank for the
    # positional filter below.
    # Persist the prefix tokens in place (eager — both self-join branches
    # and the pair-stats agg consume them): the window above already costs
    # an id-keyed exchange, and the a⋈b join below re-shuffles by _g
    # anyway, so _hot's extra repartition-by-id was a third full-stream
    # exchange that bought nothing.
    prefix = (
        ranked.join(sizes, id_col)
        .filter(F.col("_rk") <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1)
        .select(F.col(id_col), F.col("_g"), F.col("_rk"), F.col("_n"))
        .persist()
    )
    prefix.count()
    a = prefix.select(
        F.col(id_col).alias("doc_a"), F.col("_g"), F.col("_rk").alias("_rka"), F.col("_n").alias("_na")
    )
    b = prefix.select(
        F.col(id_col).alias("doc_b"), F.col("_g"), F.col("_rk").alias("_rkb"), F.col("_n").alias("_nb")
    )
    # Positional filter (PPJoin): tokens sort by the same global order in
    # every doc, so any common token NOT counted among the c prefix-prefix
    # matches must rank after max(_rka) in A and after max(_rkb) in B. Hence
    # overlap ≤ c + min(|A| - max_rka, |B| - max_rkb), while jaccard ≥ t
    # needs overlap ≥ t/(1+t) · (|A|+|B|). Pairs failing the bound are
    # pruned BEFORE the (comparatively expensive) set-intersection verify.
    pair_stats = (
        a.join(b, "_g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: jaccard >= t implies t*|A| <= |B| <= |A|/t
        .filter(
            (F.col("_nb") >= F.lit(threshold) * F.col("_na"))
            & (F.col("_nb") <= F.col("_na") / F.lit(threshold))
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.max("_rka").alias("_mra"),
            F.max("_rkb").alias("_mrb"),
            F.first("_na").alias("_na"),
            F.first("_nb").alias("_nb"),
        )
    )
    required = F.ceil(F.lit(threshold / (1.0 + threshold)) * (F.col("_na") + F.col("_nb")))
    ubound = F.col("_c") + F.least(F.col("_na") - F.col("_mra"), F.col("_nb") - F.col("_mrb"))
    candidates = pair_stats.filter(ubound >= required).select("doc_a", "doc_b")
    # Boilerplate-heavy corpora have tiny shingle vocabularies but huge
    # candidate sets (weak prefix filter when every doc-frequency is high):
    # there the dense-bitmap verify replaces ~64 hash probes per word with
    # one AND+popcount. The vocabulary count is already on hand from the
    # broadcast decision; open-domain corpora fall through to the hash-set
    # verify, whose cost scales with doc length, not vocabulary.
    # vocab_n must be strictly positive: at 0 the bitmap width expression
    # becomes sequence(0, -1) — a DESCENDING two-element array in Spark,
    # not an empty one — so a degenerate corpus falls through to the
    # hash-set verify instead.
    if 0 < vocab_n <= _BITMAP_MAX_VOCAB:
        # The bitmap side is built through explode + broadcast join + two
        # groupBys, whose Catalyst size estimate is inflated far past the
        # real n_docs × (n_words·8 + ~48) bytes — the round-8 plan capture
        # shows both attach joins planned as SortMergeJoin (two exchanges
        # + sorts of the candidate stream). Gate on the MEASURED size (one
        # cached count) and pin BroadcastHashJoin under the budget; the
        # hash-set branch below reads its sides straight off the persisted
        # shingle cache, whose stats are accurate, so the planner already
        # broadcasts there and needs no pin.
        n_docs = shingled.count()
        n_words = (vocab_n + 63) // 64
        return _verify_jaccard_bitmap(
            candidates,
            shingled,
            freq,
            vocab_n,
            id_col,
            threshold,
            broadcast_docs=n_docs * (n_words * 8 + 48) <= _docs_broadcast_bytes(),
        )
    return _verify_jaccard(candidates, shingled, id_col, threshold)


def ngram_jaccard_oracle_sql(
    table: str, id_col: str, text_col: str, n: int = 5, threshold: float = 0.8
) -> str:
    """DuckDB SQL computing the identical pair set (list-comprehension
    shingles → self-join → jaccard)."""
    return f"""
    WITH sh AS (
      SELECT DISTINCT {id_col} AS doc,
             unnest(list_distinct([substr({text_col}, i, {n})
                     for i in generate_series(1, greatest(length({text_col})-{n - 1}, 1))])) AS g
      FROM {table}
    ), sizes AS (
      SELECT doc, count(*) AS n FROM sh GROUP BY doc
    ), inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {threshold}
    """


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
# Per-shingle re-hash into the universal-hash domain: computed ONCE per row
# under its own column name (`_hs`) — CollapseProject keeps non-cheap
# multi-referenced aliases in their own projection, so the num_perm folds
# below each read the same materialized array.
_HS_EXPR = f"transform(_shingles, g -> pmod(xxhash64(g), {_P}))"


def _minhash_sig_arr(num_perm: int) -> Column:
    """The num_perm-wide MinHash signature as a Column over ``_hs``: each
    element folds the hashed shingles to the minimum of one affine
    permutation — zero shuffle, embarrassingly parallel."""
    return F.array(
        *[
            F.expr(
                f"aggregate(_hs, CAST({_P} AS BIGINT),"
                f" (m, h) -> least(m, pmod({a} * h + {b}, {_P})))"
            )
            for a, b in _perm_params(num_perm)
        ]
    )


def minhash_signatures(
    shingled: DataFrame,
    id_col: str,
    num_perm: int = 126,
) -> DataFrame:
    """MinHash signature per doc, entirely ROW-LOCAL: hash each shingle
    ONCE with xxhash64 into ``_hs``, then fold ``num_perm`` affine
    transforms (universal hashing) to scalar minima with ``aggregate`` —
    zero shuffle, zero intermediate arrays, same arithmetic as the
    textbook explode+groupBy formulation (which shuffles |doc|·|shingle|
    rows — the former suite hotspot) but embarrassingly parallel at any
    corpus size.

    Output: <id_col>, _sig (array<bigint> of length num_perm). Docs with
    an empty shingle set get no row (mirrors the explode semantics).
    """
    hashed = shingled.filter(F.size("_shingles") > 0).withColumn(
        "_hs", F.expr(_HS_EXPR)
    )
    return hashed.select(F.col(id_col), _minhash_sig_arr(num_perm).alias("_sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Near-dup pairs via MinHash+LSH candidates + exact jaccard verify.

    With num_perm=64, bands=16 (rows r=4): P(candidate | j) = 1-(1-j^4)^16
    ≈ 0.9998 at j=0.8 and ≈ 14% at j=0.31 — recall at the 0.8 threshold is
    effectively certain, and the extra low-similarity candidates are cheap
    because verification intersects hashed-long arrays. Halving num_perm
    (vs the textbook 128) halves the signature-aggregation cost, the
    dominant term. Tune bands/r to the corpus' similarity gap.

    Output: doc_a, doc_b, jaccard — identical to ngram_jaccard_pairs
    whenever LSH recall holds (verified against the exact oracle in tests).
    """
    rows = num_perm // bands
    # ONE eager staging job for the whole per-doc compute: repartition the
    # raw rows (so shingling parallelizes past a single-split source, see
    # _hot_shingled), then shingles AND signatures land in the same cached
    # frame. Round 5 staged shingles, signatures and band rows as three
    # separate repartition+persist+count jobs; the two extra jobs and two
    # extra exchanges put graph_adamic_adar at ~1.8× its round-4 time while
    # buying no additional race insurance — every fan-out consumer below
    # (band explode a/b, screen a/b, exact verify) reads THIS one
    # eagerly-materialized cache, never recomputes the fold.
    sc = df.sparkSession.sparkContext
    raw = df.select(id_col, text_col).repartition(sc.defaultParallelism, id_col)
    hashed = with_shingles(raw, text_col, n).withColumn("_hs", F.expr(_HS_EXPR))
    sig_arr = _minhash_sig_arr(num_perm)
    staged = hashed.select(
        F.col(id_col),
        F.col("_shingles"),
        # Empty shingle sets get NO signature (mirrors minhash_signatures'
        # filter): an all-seed signature would band every empty doc into
        # the same buckets — a quadratic candidate blowup at scale.
        F.when(F.size("_shingles") > 0, sig_arr).alias("_sig"),
    ).persist()
    staged.count()
    shingled = staged.select(id_col, "_shingles")
    sig = staged.filter(F.col("_sig").isNotNull()).select(id_col, "_sig")
    # band hash = xxhash64 over the band's slice of the signature
    band_rows = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bidx).alias("band"),
                        F.xxhash64(
                            F.concat_ws(",", *[F.element_at("_sig", bidx * rows + j + 1) for j in range(rows)])
                        ).alias("bhash"),
                    )
                    for bidx in range(bands)
                ]
            )
        ).alias("_b"),
    ).select(F.col(id_col), F.col("_b.band"), F.col("_b.bhash"))
    # No staging for band_rows: deriving them is one row-local explode +
    # xxhash over the CACHED signatures (both self-join branches replay
    # cache blocks, never the signature fold), and the band self-join
    # re-shuffles by (band, bhash) regardless of input partitioning — the
    # old _hot here was a third repartition+persist+count job that bought
    # nothing.
    a = band_rows.select(F.col(id_col).alias("doc_a"), "band", "bhash")
    b = band_rows.select(F.col(id_col).alias("doc_b"), "band", "bhash")
    candidates = (
        a.join(b, ["band", "bhash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Two-tier verify. Band collisions admit a heavy tail of low-similarity
    # candidates (P(candidate | j≈0.3) ≈ 14% at the r=4 default); exact
    # verification hauls the full shingle arrays, so first screen
    # candidates with the signature-agreement ESTIMATE (num_perm longs per
    # doc, ~16x lighter). The screen makes the candidate filter
    # probabilistic-but-negligible rather than exact: cutoff =
    # threshold − 0.25 sits ≈ 0.25/σ standard deviations below the
    # true-positive band (σ = √(j(1−j)/num_perm) — ≈5σ/~1e-7 miss per
    # true pair at the num_perm=64 default, tighter for larger num_perm);
    # ~all sub-threshold collisions are dropped before they touch a
    # shingle array.
    est_cut = max(threshold - 0.25, 0.0)
    sig_a = sig.select(F.col(id_col).alias("doc_a"), F.col("_sig").alias("_ga"))
    sig_b = sig.select(F.col(id_col).alias("doc_b"), F.col("_sig").alias("_gb"))
    agree = F.expr("size(filter(zip_with(_ga, _gb, (x, y) -> x = y), b -> b))")
    screened = (
        candidates.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .filter(agree >= F.lit(est_cut * num_perm))
        .select("doc_a", "doc_b")
    )
    # Screen and verify sides read straight off the eager caches (staged /
    # shingled InMemoryRelations with accurate stats) — the round-8 kernel
    # plan shows every join already BroadcastHashJoin, so no pin (an A/B
    # with forced broadcasts + a measuring agg read ~0.8 s SLOWER).
    return _verify_jaccard(screened, shingled, id_col, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_bits(
    df: DataFrame, id_col: str, text_col: str, n: int = 5, bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc from an ENGINE-NEUTRAL bit source: per
    distinct character n-gram, the md5 hex digest supplies the 64 bits
    (bit j = (nibble at string position 1 + j//4) >> (j%4) & 1), then a
    per-bit ±1 vote. md5 instead of xxhash64 because the DuckDB oracle
    must replay the exact bit stream (xxhash64 exists only in Spark; the
    repo's established cross-engine idiom is md5-nibble arithmetic —
    see queries_ext16/ext70/ext90). With a shared bit source the whole
    simhash gate becomes a corpus-INDEPENDENT contract: "hamming ≤ h AND
    jaccard ≥ t" verifies at any scale factor, where the old exact-pair
    oracle was falsified at sf0.1 by boundary pairs at hamming 8-9.

    Implemented as 64 conditional-sum aggregates over the exploded
    shingle nibbles — one shuffle, all JVM-side.

    Output: <id_col>, _simhash (bigint with sign bits packed).
    """
    text = F.col(text_col)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
            lambda i: text.substr(i, F.lit(n)),
        )
    )
    sc = df.sparkSession.sparkContext
    # Spread the raw rows BEFORE the heavy md5+explode work (same reason
    # as _hot_shingled: expressions run inside the scan stage otherwise,
    # serializing on a single-split parquet source).
    raw = df.select(id_col, text_col).repartition(sc.defaultParallelism, id_col)
    ex = raw.select(F.col(id_col), F.explode(grams).alias("_g")).select(
        F.col(id_col), F.md5(F.col("_g").cast("binary")).alias("_m")
    )
    nibs = ex.select(
        F.col(id_col),
        *[
            F.conv(F.substring("_m", p + 1, 1), 16, 10).cast("int").alias(f"_n{p}")
            for p in range(bits // 4)
        ],
    )
    # ±1 votes algebraically: votes_j = 2·ones_j − n, so the sign test
    # votes_j > 0 is 2·ones_j > n. Summing the raw bit (shift+mask+add)
    # instead of a ±1 CASE keeps the per-row hot loop branch-free — 64
    # conditional selects per shingle removed, same sign bit out.
    ones = [
        F.sum(
            F.shiftright(F.col(f"_n{j // 4}"), j % 4).bitwiseAND(F.lit(1))
        ).alias(f"_o{j}")
        for j in range(bits)
    ]
    agg = nibs.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nsh"), *ones)
    packed = None
    for j in range(bits):
        bit = (
            F.when(F.col(f"_o{j}") * 2 > F.col("_nsh"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        term = F.shiftleft(bit, j)
        packed = term if packed is None else packed.bitwiseOR(term)
    return agg.select(F.col(id_col), packed.alias("_simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    max_hamming: int = 7,
    jaccard_threshold: float = 0.8,
    chunks: int = 8,
) -> DataFrame:
    """Near-dup pairs via SimHash: candidates share at least one of
    ``chunks`` 8-bit chunks (pigeonhole: guaranteed for hamming ≤ chunks-1),
    filtered to hamming ≤ max_hamming, then exact-jaccard verified.

    With ``max_hamming ≤ chunks - 1`` (the default 7 ≤ 7) the pigeonhole
    candidates are COMPLETE for the gate, so the output is the exactly
    defined set {pairs: hamming(simhash) ≤ max_hamming AND jaccard ≥ t} —
    no recall question at any corpus size, and
    :func:`simhash_oracle_sql` replays it bit-for-bit in DuckDB.

    Output: doc_a, doc_b, jaccard.
    """
    shingled = _hot_shingled(df, id_col, text_col, n)
    # Persist the per-doc simhash frame itself (the expensive part: the
    # 64-vote aggregation over exploded md5 nibbles) and derive the chunk
    # rows LAZILY: the chunk explode is row-local over this cache and the
    # pigeonhole self-join re-shuffles by (chunk, cval) regardless, so the
    # old `_hot(chunk_rows)` was an extra repartition+persist+count job on
    # an 8×-bigger frame (same trim as minhash_lsh_pairs' band rows —
    # round-5 ADVICE/verdict #4).
    sims = simhash_bits(df, id_col, text_col, n).persist()
    sims.count()
    width = 64 // chunks
    chunk_rows = sims.select(
        F.col(id_col),
        F.col("_simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("_simhash"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("cval"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("_c"),
    ).select(F.col(id_col), F.col("_simhash"), F.col("_c.chunk"), F.col("_c.cval"))
    a = chunk_rows.select(F.col(id_col).alias("doc_a"), F.col("_simhash").alias("_ha"), "chunk", "cval")
    b = chunk_rows.select(F.col(id_col).alias("doc_b"), F.col("_simhash").alias("_hb"), "chunk", "cval")
    candidates = (
        a.join(b, ["chunk", "cval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))) <= max_hamming)
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_jaccard(candidates, shingled, id_col, jaccard_threshold)


def simhash_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 5,
    max_hamming: int = 7,
    jaccard_threshold: float = 0.8,
    chunks: int = 8,
) -> str:
    """DuckDB SQL replaying :func:`simhash_pairs` BIT-FOR-BIT: the same
    md5-nibble bit source (bit j = nibble(1 + j//4) >> (j%4) & 1), the
    same ±1 votes and sign rule (2·ones > n), the same 8-bit pigeonhole
    chunks and hamming gate, the same exact-jaccard verification. The 64
    vote sums / sign bits / chunk values unroll programmatically like the
    unrolled-PageRank and unrolled-Lloyd oracles. Because the contract is
    gate-defined (not "equals the exact pair set"), equality holds at ANY
    corpus size — the old exact-pair oracle was corpus-dependent and
    broke at sf0.1 on boundary pairs at hamming 8-9."""
    width = 64 // chunks

    def nib(p: int) -> str:
        return f"(strpos('0123456789abcdef', substr(m, {p}, 1)) - 1)"

    ones = ",\n             ".join(
        f"sum(({nib(1 + j // 4)} >> {j % 4}) & 1) AS o{j}" for j in range(64)
    )
    signs = ",\n             ".join(
        f"CASE WHEN 2 * o{j} > nsh THEN 1 ELSE 0 END AS s{j}" for j in range(64)
    )
    cvals = ",\n             ".join(
        "("
        + " + ".join(f"s{c * width + i} * {1 << i}" for i in range(width))
        + f") AS cv{c}"
        for c in range(chunks)
    )
    lo = " + ".join(f"CAST(s{j} AS BIGINT) * {1 << j}" for j in range(32))
    hi = " + ".join(f"CAST(s{j + 32} AS BIGINT) * {1 << j}" for j in range(32))
    chunked = "\n      UNION ALL ".join(
        f"SELECT doc, lo, hi, {c} AS ch, cv{c} AS cv FROM packed"
        for c in range(chunks)
    )
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT DISTINCT {id_col} AS doc,
             unnest(list_distinct([substr({text_col}, i, {n})
                     for i in generate_series(1, greatest(length({text_col})-{n - 1}, 1))])) AS g
      FROM {table}
    ), nibsrc AS (
      SELECT doc, md5(g) AS m FROM sh
    ), votes AS (
      SELECT doc, count(*) AS nsh,
             {ones}
      FROM nibsrc GROUP BY doc
    ), signs AS (
      SELECT doc,
             {signs}
      FROM votes
    ), packed AS MATERIALIZED (
      SELECT doc,
             {cvals},
             ({lo}) AS lo,
             ({hi}) AS hi
      FROM signs
    ), chunked AS (
      {chunked}
    ), cand AS MATERIALIZED (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM chunked a JOIN chunked b ON a.ch = b.ch AND a.cv = b.cv AND a.doc < b.doc
      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= {max_hamming}
    ), part AS MATERIALIZED (
      SELECT doc, g FROM sh
      WHERE doc IN (SELECT doc_a FROM cand UNION ALL SELECT doc_b FROM cand)
    ), sizes AS (
      SELECT doc, count(*) AS nn FROM part GROUP BY doc
    ), inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS ic
      FROM cand c
      JOIN part a ON a.doc = c.doc_a
      JOIN part b ON b.doc = c.doc_b AND b.g = a.g
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, CAST(i.ic AS DOUBLE) / (sa.nn + sb.nn - i.ic) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc = i.doc_a
    JOIN sizes sb ON sb.doc = i.doc_b
    WHERE CAST(i.ic AS DOUBLE) / (sa.nn + sb.nn - i.ic) >= {jaccard_threshold}
    """


# ---------------------------------------------------------------------------
# Connected-components clustering (pairs → canonical cluster ids)
# ---------------------------------------------------------------------------
# Auto-routing bound for the driver-side union-find fast path (same
# pattern as similarity.TILED_MAX_ROWS): a near-dup GRAPH is usually a
# tiny fraction of the corpus (pairs above a 0.8 similarity gate are
# rare), so after the distributed pair kernel has done the big-data work
# the component computation is often a sub-million-edge problem — where
# driver union-find costs one collect instead of rounds × join jobs.
# Above the bound the distributed loops below take over (a trillion-token
# corpus can still produce billions of pairs).
DRIVER_CC_MAX_EDGES = _env_int("SPARK_GRAFT_DRIVER_CC_MAX_EDGES", 500_000)


def _cc_driver_route(
    pairs: DataFrame,
    src: str,
    dst: str,
    max_edges: int = DRIVER_CC_MAX_EDGES,
    include_self_only: bool = True,
) -> list | None:
    """Bounded driver-side connected components: collect at most
    ``max_edges + 1`` edges — if the limit truncated, return ``None`` and
    let the caller run the distributed loop; otherwise the collected rows
    ARE the whole edge set, and union-find (roots always re-pointed at the
    smaller id, so the final root is the component minimum — the same
    label the distributed variants converge to) finishes in one pass.
    Integer-exact, so the output is identical to the distributed loops on
    any input. ``include_self_only`` mirrors the variants' self-edge
    semantics: min-label propagation emits a vertex that only appears in
    self-edges (True), star contraction drops it (False).
    Output: sorted (doc_id, cluster_id) rows."""
    rows = pairs.select(src, dst).limit(max_edges + 1).collect()
    if len(rows) > max_edges:
        return None
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    members: set = set()
    for a, b in rows:
        if a == b and not include_self_only:
            continue
        members.add(a)
        members.add(b)
    return [(x, find(x)) for x in sorted(members)]


def _run_cc(kernel: str, pairs, src, dst, route, max_edges, loop, include_self_only):
    """Both CC kernels through ``graphs.run_route``. On ``"auto"`` the pairs
    are persisted BEFORE the probe: limit().collect() cannot short-circuit
    a shuffle-heavy pair-producing upstream, so without the cache a
    >max_edges graph would pay for the upstream twice (once for the
    truncated probe, once for the loop). Partitions the probe computed
    stay cached for the fallback. ``"distributed"`` stages nothing."""
    t = pairs.schema[src].dataType.simpleString()
    return run_route(
        kernel,
        route,
        pairs,
        f"doc_id {t}, cluster_id {t}",
        lambda p: _cc_driver_route(p, src, dst, max_edges, include_self_only),
        loop,
        persist=route == "auto",
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    route: str = "auto",
    max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Cluster near-duplicate pairs into components and assign each member
    the component's minimum doc id as ``cluster_id`` — the canonicalization
    step after any pair-producing dedup (pick one representative per
    cluster, drop the rest).

    Iterative min-label propagation: each round every vertex takes the min
    of its own label and its neighbors' labels; converged when no label
    changes. Rounds needed = graph diameter ≤ O(log n) on typical dup
    clusters (they are small and dense). Each round is one co-partitioned
    shuffle join; ``localCheckpoint`` truncates the lineage so the plan does
    not grow with iterations (at 1000-executor scale the alternating
    large-star/small-star variant of Kiveris et al. bounds rounds at
    O(log² n) with the same per-round join shape — the propagation below is
    that algorithm without the degree-rebalancing step, which tiny dup
    clusters don't need). Routes follow the ``graphs`` module contract; the
    driver route is a union-find (:func:`_cc_driver_route`), the common
    case after a high-threshold pair gate.

    Output: doc_id, cluster_id.
    """

    def loop(pairs, stage):
        # Emit both orientations with one explode instead of union(e, e-swapped):
        # a union would reference the upstream pair-producing plan twice, and
        # Spark executes self-referencing branches independently — for a
        # MinHash/verify upstream that doubles the expensive part of the query.
        edges = stage(
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                        F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                    )
                ).alias("_e")
            )
            .select("_e.u", "_e.v")
            .distinct()
        )
        # Size the loop's parallelism to the edge count (one upfront job): dup
        # graphs are usually a tiny fraction of the corpus, and running each
        # propagation round at full cluster width pays fixed per-task overhead
        # × iterations for near-empty partitions. ~50k edges per partition keeps
        # a round sub-second at any width; capped at defaultParallelism.
        n_edges = edges.count()
        sc = edges.sparkSession.sparkContext
        n = max(1, min(sc.defaultParallelism, n_edges // 50_000 + 1))
        edges = edges.repartition(n, "v")
        labels = (
            edges.select(F.col("u").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
            .localCheckpoint(eager=False)
        )

        # Convergence probe: labels only ever decrease, so the (exact, decimal)
        # label sum strictly decreases until the fixpoint — one cheap aggregate
        # per round instead of an anti-join. The label state is marked with a
        # LAZY localCheckpoint and this probe is the action that materializes
        # it, so each round schedules ONE Spark job, not checkpoint + probe.
        def _label_sum(df: DataFrame):
            return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

        prev_sum = _label_sum(labels)
        for _ in range(max_iter):
            # TWO propagation hops per materialization: a propagation join on
            # the tiny dup graph costs less than a job's fixed overhead, so
            # batching hops halves the loop's fixed cost. Convergence stays
            # sound — the label sum is monotone under any number of hops, so
            # sum-unchanged still means fixpoint.
            cur = labels
            for _hop in range(2):
                neighbor = edges.join(
                    cur.select(F.col("id").alias("v"), F.col("label").alias("_nl")), "v"
                ).select(F.col("u").alias("id"), F.col("_nl").alias("label"))
                cur = cur.union(neighbor).groupBy("id").agg(F.min("label").alias("label"))
            new_labels = cur.localCheckpoint(eager=False)
            new_sum = _label_sum(new_labels)  # materializes the lazy checkpoint
            labels = new_labels
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))

    return _run_cc("connected_components", pairs, src, dst, route, max_edges, loop, True)


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
    route: str = "auto",
    max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Connected components by alternating large-star / small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — the scale-robust upgrade over plain min-label
    propagation: propagation needs diameter-many rounds (a pathological
    chain of length L costs L rounds), star contraction converges in
    O(log² n) rounds on ANY topology because every round re-points whole
    neighborhoods at their local minimum.

    Per round both operators are one groupBy-min plus one co-keyed join —
    the same shuffle shape as a propagation hop, so the per-round cost is
    identical and only the round COUNT improves. Lineage is truncated per
    round with ``localCheckpoint``; convergence is detected by an
    order-insensitive edge-set fingerprint (count + xxhash sum), one cheap
    aggregate per round.

    Output: doc_id, cluster_id (component minimum), same contract as
    :func:`connected_components`, including its driver route (star
    contraction's O(log² n) round advantage only matters once the edge set
    is big data anyway).
    """

    def large_star(edges: DataFrame) -> DataFrame:
        both = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # No distinct here: duplicates are semantically harmless (small_star
        # dedups at the end of the round) and dropping it removes one
        # exchange per round.
        return (
            both.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(edges: DataFrame) -> DataFrame:
        directed = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        relinked = directed.join(mins, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_links = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            relinked.union(self_links)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # The edge state is marked with a LAZY localCheckpoint each round and
    # the fingerprint probe is the action that materializes it — one Spark
    # job per round instead of checkpoint + probe (same merge as
    # connected_components' label-sum probe).
    def fingerprint(edges: DataFrame):
        return tuple(
            edges.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            ).collect()[0]
        )

    def loop(pairs, stage):
        e = (
            pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Size per-round parallelism to the (usually tiny) dup graph, like
        # connected_components: full-width rounds pay fixed task overhead ×
        # rounds × stages for near-empty partitions. The count materializes
        # the lazy checkpoint above; the repartitioned copy is materialized by
        # the first fingerprint probe below.
        sc = e.sparkSession.sparkContext
        n_parts = max(1, min(sc.defaultParallelism, e.count() // 50_000 + 1))
        e = e.repartition(n_parts, "u").localCheckpoint(eager=False)
        prev = fingerprint(e)
        for _ in range(max_iter):
            e = (
                small_star(large_star(e))
                .repartition(n_parts, "u")
                .localCheckpoint(eager=False)
            )
            cur = fingerprint(e)  # materializes the lazy checkpoint
            if cur == prev:
                break
            prev = cur
        both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        return both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("cluster_id")
        ).select(F.col("u").alias("doc_id"), "cluster_id")

    return _run_cc("connected_components_star", pairs, src, dst, route, max_edges, loop, False)


def connected_components_oracle_sql(pairs_sql: str) -> str:
    """DuckDB oracle: transitive closure by recursive CTE, then min reachable
    id per vertex. Exponential-ish on giant components — fine at sf0.01
    where dup clusters are tiny. ``MATERIALIZED`` pins the pair-producing
    subquery (often an n² similarity scan) to one evaluation instead of
    once per recursion step — 14× on the kNN-components oracle."""
    return f"""
    WITH RECURSIVE __cc_pairs AS MATERIALIZED ({pairs_sql}),
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM __cc_pairs
      UNION
      SELECT doc_b, doc_a FROM __cc_pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    """


# ---------------------------------------------------------------------------
# DEDUP stage adapter (closed-IR entry point)
# ---------------------------------------------------------------------------
def compile_dedup_stage(stage: Stage, df: DataFrame) -> DataFrame:
    """DEDUP stage: ``data = {method: exact|ngram_jaccard|minhash_lsh|
    simhash, idColumn, columns?|textColumn?, threshold?, n?}``."""
    d = stage.data
    method = d.get("method", "exact")
    if method == "exact":
        return exact_dedup(df, d["columns"], d["idColumn"])
    if method == "ngram_jaccard":
        return ngram_jaccard_pairs(
            df, d["idColumn"], d["textColumn"], n=int(d.get("n", 5)), threshold=float(d.get("threshold", 0.8))
        )
    if method == "minhash_lsh":
        return minhash_lsh_pairs(
            df, d["idColumn"], d["textColumn"], n=int(d.get("n", 5)), threshold=float(d.get("threshold", 0.8))
        )
    if method == "simhash":
        return simhash_pairs(
            df,
            d["idColumn"],
            d["textColumn"],
            n=int(d.get("n", 5)),
            jaccard_threshold=float(d.get("threshold", 0.8)),
        )
    if method == "cluster":
        pairs = minhash_lsh_pairs(
            df, d["idColumn"], d["textColumn"], n=int(d.get("n", 5)), threshold=float(d.get("threshold", 0.8))
        )
        return connected_components(pairs)
    raise ValueError(f"Unknown dedup method: {method}")
