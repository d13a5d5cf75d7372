"""Round-2 extensions, batch 37: MinHash Jaccard-estimator calibration
and the sample-ratio-mismatch (SRM) experiment guardrail.

Scale notes:
- MINHASH CALIBRATION: `dedup_minhash_lsh` proves the PAIR SET is exact
  (LSH candidates + exact verify); this row checks the ESTIMATOR itself
  — signature agreement / k must sit within 3σ of true Jaccard for
  every near-dup pair. Signatures are the one-shuffle k-aggregate
  build; the check is row-local arithmetic on the verified pairs.
- SRM: deterministic hash split (md5-derived, engine-reproducible, the
  same keyed-PRF stand-in as `privacy_dp_counts`), then a 1-dof
  chi-square against the intended 50/50 — the first guardrail any
  experiment framework runs; a biased assignment invalidates every
  downstream metric before power even matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# MinHash estimator calibration on exact near-dup pairs
# ---------------------------------------------------------------------------
_MH_K = 126
_MH_THRESHOLD = 0.8

@register(
    "sketch_minhash_estimate_check",
    f"""
    WITH sh AS (
      SELECT DISTINCT doc_id AS doc,
             unnest(list_distinct([substr(text, i, 5)
                     for i in generate_series(1, greatest(length(text)-4, 1))])) AS g
      FROM documents
    ), sizes AS (
      SELECT doc, count(*) AS n FROM sh GROUP BY doc
    ), inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS exact_jaccard,
           TRUE AS bound_ok
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_MH_THRESHOLD}
    """,
)
def sketch_minhash_estimate_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every exact near-dup pair
    (5-gram Jaccard ≥ {_MH_THRESHOLD}), the signature-agreement estimate
    (matching components / k, k={_MH_K}) must sit within 3σ of the true
    Jaccard (σ = √(j(1−j)/k), + a small slack for the fixed hash
    family). `dedup_minhash_lsh` already proves the PAIR SET exact; this
    pins the sketch's VALUE quality — drift in the permutation family
    breaks this row before it breaks recall. The oracle recomputes the
    exact pairs and pins ``bound_ok``."""
    from gemini_data_wrangler_spark.operators.dedup import (
        minhash_signatures,
        with_shingles,
    )
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs

    docs = sf_table(spark, sf_dir, "documents")
    # Pair set from the LSH+exact-verify path (pair-set exactness at the
    # 0.8 pipeline threshold is itself oracle-proven by dedup_minhash_lsh)
    # — the PPJoin exact join at lower thresholds degenerates on
    # boilerplate-heavy corpora where ~90% of pairs share 20-30% of
    # shingles, while the calibration target is precisely the near-dup
    # set the dedup pipeline acts on.
    # Named `pairs`, not `exact`: exactness of this set is INHERITED from
    # the oracle-pinned recall guarantee of dedup_minhash_lsh at the 0.8
    # threshold (band-collision recall-dependent), not re-proven here.
    # Shared eager-checkpointed pair memo: `participants` and the final
    # pair join consume this concurrently and both replay its blocks.
    pairs = neardup_pairs(
        spark, sf_dir, reuse=True, threshold=_MH_THRESHOLD
    ).select("doc_a", "doc_b", "jaccard")
    # Signatures are only needed for pair PARTICIPANTS — a tiny fraction
    # of the corpus; the k min-aggregates run over that semi-joined
    # subset, not every document (3× the suite's next-heaviest query
    # when computed corpus-wide at sf0.1).
    participants = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Repartition the raw participant rows BEFORE the shingle+126-min
    # fold (same reason as dedup._hot_shingled): the semi-join inherits
    # the single-split parquet layout, and without the spread the whole
    # ~150M-op fold runs on ONE core (measured 4.2 s -> sub-second).
    sigs = minhash_signatures(
        with_shingles(
            docs.join(participants, "doc_id", "left_semi")
            .select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"),
            "text",
            5,
        ).select("doc_id", "_shingles"),
        "doc_id",
        num_perm=_MH_K,
    ).localCheckpoint()  # eagerly feeds BOTH sides of the pair join —
    # lazily cached, the semi-join + shingle + 126-permutation subtree
    # computes twice when the two join sides race
    est = F.aggregate(
        F.zip_with(
            F.col("_sa"), F.col("_sb"), lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / _MH_K
    sd = F.sqrt(F.col("jaccard") * (1 - F.col("jaccard")) / _MH_K)
    return (
        pairs.join(sigs.select(F.col("doc_id").alias("doc_a"), F.col("_sig").alias("_sa")), "doc_a")
        .join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("_sig").alias("_sb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round("jaccard", 6).alias("exact_jaccard"),
            (F.abs(est - F.col("jaccard")) <= 3 * sd + 0.08).alias("bound_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch guardrail on a deterministic 50/50 split
# ---------------------------------------------------------------------------
@register(
    "dq_srm_check",
    """
    WITH assigned AS (
      SELECT CAST(list_sum(list_transform(range(1, 9), i ->
                (strpos('0123456789abcdef',
                        substring(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
                * power(16, 8 - i))) AS BIGINT) % 2 AS grp
      FROM (SELECT DISTINCT user_id FROM events)
    ), counts AS (
      SELECT count(*) FILTER (WHERE grp = 0) AS n_a,
             count(*) FILTER (WHERE grp = 1) AS n_b
      FROM assigned
    )
    SELECT n_a, n_b,
           round(power(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
                 + power(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0), 6)
             AS chi2,
           (power(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
            + power(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0))
             > 3.841 AS srm_detected
    FROM counts
    """,
)
def dq_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch: deterministically hash users into a 50/50
    A/B split (md5-derived — the reproducible keyed-PRF stand-in shared
    with `privacy_dp_counts`) and chi-square the realized counts against
    the intended ratio (1 dof, 5% critical value 3.841). SRM is the
    first invalidity check an experimentation platform runs — an honest
    hash split on real traffic must NOT trip it. One distinct + one
    aggregate."""
    events = sf_table(spark, sf_dir, "events")
    grp = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % 2
    )
    assigned = events.select("user_id").distinct().select(grp.alias("grp"))
    counts = assigned.agg(
        F.count(F.when(F.col("grp") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("grp") == 1, 1)).alias("n_b"),
    )
    half = (F.col("n_a") + F.col("n_b")) / 2.0
    chi2 = F.pow(F.col("n_a") - half, 2) / half + F.pow(F.col("n_b") - half, 2) / half
    return counts.select(
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )
