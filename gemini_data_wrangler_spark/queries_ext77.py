"""Round-2 extensions, batch 77: audio zero-crossing decode and RAKE
keyword extraction.

Scale notes:
- ZERO CROSSINGS is the fourth full-content decoder query (after PNG
  pixels, GIF LZW frames, PCM RMS): Arrow `mapInPandas` over binary
  payloads, parallelism = partition count, memory bounded per batch.
  The oracle re-derives the count arithmetically from the synthesis
  schedule — matching requires an actual sample unpack.
- RAKE runs as pure relational algebra: phrase segmentation is the
  islands trick (running stopword count = phrase id), word
  degree/frequency is one corpus-level aggregate, phrase scoring is a
  join back + rollup by phrase text. Shuffles are keyed by word and by
  phrase text (xxhash64 in production); nothing is quadratic and no
  Python touches the tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Audio zero-crossing rate from real PCM decode
# ---------------------------------------------------------------------------
@register(
    "multimodal_audio_zero_crossings",
    """
    WITH a AS (
      SELECT doc_id, 50 + CAST(doc_id % 50 AS INT) AS n
      FROM documents WHERE doc_id % 3 = 1 AND doc_id % 97 <> 0
    )
    SELECT doc_id AS asset_id, n AS n_samples,
           CAST(len(list_filter(range(1, n),
                i -> ((((i-1) * 1103) % 2001) - 1000)
                     * (((i * 1103) % 2001) - 1000) < 0)) AS INT)
             AS zero_crossings
    FROM a
    """,
)
def multimodal_audio_zero_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-crossing counts from REAL WAV content decode (data-chunk
    16-bit PCM unpack, strict sign-change test) — the voiced/unvoiced
    and noisiness screen of audio curation. The synthesizer's sawtooth
    schedule sᵢ = (i·1103 mod 2001) − 1000 lets the oracle derive the
    exact count arithmetically, so agreement certifies a byte-correct
    sample decode, not header parsing. Corrupt payloads (every 97th)
    drop out on both sides."""
    from gemini_data_wrangler_spark.operators.multimodal import (
        audio_zero_crossings,
        synthesize_assets,
    )

    docs = sf_table(spark, sf_dir, "documents")
    return audio_zero_crossings(synthesize_assets(docs, "doc_id"))


# ---------------------------------------------------------------------------
# RAKE keyword extraction (corpus-level top-20 phrases)
# ---------------------------------------------------------------------------
_RAKE_STOP = ("the", "a", "of", "and", "to", "in", "be", "with")
_RAKE_TOPK = 20


def _rake_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in _RAKE_STOP)
    return rf"""
    WITH tok AS (
      SELECT doc_id, w, pos,
             (w IN ({stop})) AS is_stop
      FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w,
               generate_subscripts(regexp_split_to_array(trim(lower(text)), '\s+'), 1)
                 AS pos
        FROM documents
      )
    ),
    seg AS (
      SELECT doc_id, w, pos,
             sum(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid,
             is_stop
      FROM tok
    ),
    member AS (SELECT doc_id, pid, w, pos FROM seg WHERE NOT is_stop),
    phrase AS (
      SELECT doc_id, pid,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM member GROUP BY doc_id, pid
    ),
    wstat AS (
      SELECT m.w, count(*) AS freq, sum(p.plen) AS degree
      FROM member m JOIN phrase p
        ON m.doc_id = p.doc_id AND m.pid = p.pid
      GROUP BY m.w
    ),
    scored AS (
      SELECT p.doc_id, p.pid, p.phrase,
             sum(ws.degree * 1.0 / ws.freq) AS score
      FROM phrase p
      JOIN member m ON m.doc_id = p.doc_id AND m.pid = p.pid
      JOIN wstat ws ON ws.w = m.w
      GROUP BY p.doc_id, p.pid, p.phrase
    ),
    by_phrase AS (
      SELECT phrase, round(max(score), 4) AS score, count(*) AS n_occ
      FROM scored GROUP BY phrase
    )
    SELECT phrase, score, n_occ
    FROM (
      SELECT phrase, score, n_occ,
             row_number() OVER (ORDER BY score DESC, phrase) AS r
      FROM by_phrase
    )
    WHERE r <= {_RAKE_TOPK}
    """


@register("text_rake_keywords", _rake_oracle())
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): phrases are maximal
    stopword-free runs (islands: running stopword count = phrase id),
    word score = corpus degree/frequency (degree counts co-members
    incl. self per occurrence), phrase score = Σ member word scores;
    top-{20} distinct phrases by (rounded score, phrase). All
    relational: one windowed segmentation pass, one word aggregate, a
    join-back rollup — the shuffles key on word and phrase text, and
    identical phrase strings score identically by construction (max =
    any occurrence's score)."""
    docs = sf_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower("text")), r"\s+")
    tok = (
        docs.select("doc_id", F.posexplode(ws).alias("pos0", "w"))
        .select(
            "doc_id",
            "w",
            (F.col("pos0") + 1).alias("pos"),
            F.col("w").isin(*_RAKE_STOP).alias("is_stop"),
        )
    )
    wseg = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seg = tok.select(
        "doc_id",
        "w",
        "pos",
        "is_stop",
        F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wseg).alias("pid"),
    )
    member = seg.filter(~F.col("is_stop")).select("doc_id", "pid", "w", "pos")
    phrase = member.groupBy("doc_id", "pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    wstat = (
        member.join(phrase.select("doc_id", "pid", "plen"), ["doc_id", "pid"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree"))
    )
    scored = (
        phrase.join(member, ["doc_id", "pid"])
        .join(wstat, "w")
        .groupBy("doc_id", "pid", "phrase")
        .agg(F.sum(F.col("degree") * F.lit(1.0) / F.col("freq")).alias("score"))
    )
    by_phrase = scored.groupBy("phrase").agg(
        F.round(F.max("score"), 4).alias("score"), F.count(F.lit(1)).alias("n_occ")
    )
    # Top-K via orderBy+limit (TakeOrderedAndProject) — no phrase-table-
    # sized single-task window.
    return (
        by_phrase.orderBy(F.col("score").desc(), F.col("phrase"))
        .limit(_RAKE_TOPK)
        .select("phrase", "score", "n_occ")
    )
