"""Round-2 extensions, batch 33: full-content image decode (channel
statistics from inflated pixel data) and k-core graph peeling.

Scale notes:
- IMAGE CHANNEL STATS: the decoder inflates IDAT and de-filters every
  scanline (all five PNG filter types) inside the same Arrow
  ``mapInPandas`` shape as the other decoders — pixel work parallelism
  = partition count, bounded batch memory. The oracle re-derives the
  channel means arithmetically from the synthesis schedule, so a
  decoder that misreads filters or strides hash-mismatches.
- K-CORE: degree-peeling rounds over the fixed-budget supplier co-order
  graph (`operators/graphs.py::k_core`); oracle-backed via the peel
  unrolled to a fixed materialized-CTE chain, equality-tested against a
  pure-Python peeling reference, with the defining invariant (every
  survivor's in-core degree ≥ k) asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Full-content image decode: per-channel pixel means
# ---------------------------------------------------------------------------
@register(
    "multimodal_image_channel_stats",
    """
    WITH img AS (
      SELECT doc_id,
             1 + CAST(doc_id % 64 AS INT) AS width,
             1 + CAST((doc_id // 64) % 64 AS INT) AS height
      FROM documents WHERE doc_id % 3 = 0 AND doc_id % 97 <> 0
    )
    SELECT doc_id AS asset_id, width, height,
           round((height - 1) / 2.0, 6) AS mean_r,
           CAST(0.0 AS DOUBLE) AS mean_g,
           round(255 - (height - 1) / 2.0, 6) AS mean_b
    FROM img
    """,
)
def multimodal_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel pixel means from REAL PNG content decode: inflate the
    IDAT stream, de-filter scanlines, average R/G/B
    (operators/multimodal.py::_decode_png_pixels). The synthesizer paints
    row y as (y, 0, 255−y), so the oracle derives the expected means
    arithmetically from the (width, height) schedule — matching requires
    byte-exact pixel reconstruction, not just header parsing. Corrupt
    payloads drop out (accounting lives in `multimodal_decode`)."""
    from gemini_data_wrangler_spark.operators.multimodal import (
        image_channel_stats,
        synthesize_assets,
    )

    docs = sf_table(spark, sf_dir, "documents")
    stats = image_channel_stats(synthesize_assets(docs, "doc_id"))
    return stats.select(
        "asset_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


# ---------------------------------------------------------------------------
# Full-content video decode: per-frame luminance from GIF LZW
# ---------------------------------------------------------------------------
@register(
    "multimodal_video_frame_luminance",
    """
    WITH v AS (
      SELECT doc_id, 1 + CAST(doc_id % 24 AS INT) AS n_frames
      FROM documents WHERE doc_id % 3 = 2 AND doc_id % 97 <> 0
    )
    SELECT doc_id AS asset_id,
           CAST(f AS INT) AS frame_idx,
           CAST(255.0 * (f % 2) AS DOUBLE) AS mean_lum
    FROM (SELECT doc_id, unnest(range(0, n_frames)) AS f FROM v)
    """,
)
def multimodal_video_frame_luminance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame mean luminance from REAL GIF content decode: the frame
    walk feeds a general LZW decoder (variable code width, CLEAR/EOI,
    KwKwK) and a palette lookup (operators/multimodal.py). The
    synthesizer paints frame i's pixel with palette index i%2
    (black/white), so the oracle derives the luminance schedule
    arithmetically — matching requires an actual LZW inflate per frame,
    the video counterpart of `multimodal_image_channel_stats`."""
    from gemini_data_wrangler_spark.operators.multimodal import (
        synthesize_assets,
        video_frame_luminance,
    )

    docs = sf_table(spark, sf_dir, "documents")
    return video_frame_luminance(synthesize_assets(docs, "doc_id"))


# ---------------------------------------------------------------------------
# k-core of the supplier co-order graph
# ---------------------------------------------------------------------------
_KCORE_K = 4
_KCORE_TOPK = 2000
_KCORE_ORACLE_ROUNDS = 6


def _kcore_oracle() -> str:
    """Unrolled peeling: round r keeps edges whose both endpoints have
    degree ≥ k in round r-1's edge set. At sf0.01 the fixed-budget graph
    reaches its fixpoint in 1 round (measured); 6 unrolled rounds leave
    a wide determinism margin. The Spark side iterates to the true
    fixpoint, so equality also certifies convergence within the unroll."""
    ctes = [
        f"""e0 AS MATERIALIZED (
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
      co AS (SELECT a.s AS sa, b.s AS sb, count(*) AS c
             FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s GROUP BY a.s, b.s),
      ranked AS (SELECT sa, sb, row_number() OVER (ORDER BY c DESC, sa, sb) AS r
                 FROM co)
      SELECT sa AS src, sb AS dst FROM ranked WHERE r <= {_KCORE_TOPK}
    )"""
    ]
    for i in range(1, _KCORE_ORACLE_ROUNDS + 1):
        p = i - 1
        ctes.append(
            f"""k{i} AS MATERIALIZED (
      SELECT n FROM (SELECT src AS n FROM e{p} UNION ALL SELECT dst AS n FROM e{p})
      GROUP BY n HAVING count(*) >= {_KCORE_K}
    ),
    e{i} AS MATERIALIZED (
      SELECT src, dst FROM e{p}
      WHERE src IN (SELECT n FROM k{i}) AND dst IN (SELECT n FROM k{i})
    )"""
        )
    last = f"e{_KCORE_ORACLE_ROUNDS}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, count(*) AS core_degree
    FROM (SELECT src AS node FROM {last} UNION ALL SELECT dst AS node FROM {last})
    GROUP BY node
    """
    )


@register("graph_k_core", _kcore_oracle())
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core of the supplier co-order graph (same fixed-budget
    edge list as `graph_triangle_count`): iterative degree peeling until
    every surviving supplier has ≥ {_KCORE_K} in-core co-order partners
    — the dense backbone community detection and fraud-ring analysis
    start from. Oracle: the peel unrolled to a fixed CTE chain (the
    fixpoint lands in round 1 at sf0.01, 6 rounds unrolled for margin);
    `tests/test_ext33.py` additionally asserts equality with an
    independent pure-Python peeling and the core-degree invariant."""
    from gemini_data_wrangler_spark.operators.graphs import k_core
    from gemini_data_wrangler_spark.queries_ext75 import _BFS_TOPK, _co_order_edges

    # Identical edge build (top-K co-order pairs, (c desc, sa, sb) ties) as
    # the `graph_bfs_hops` publisher — reuse the session memo instead of
    # re-paying the lineitem self-join. Valid only while the budgets agree
    # (each oracle hard-codes its own build).
    assert _BFS_TOPK == _KCORE_TOPK, "co-order edge budgets diverged"
    edges = _co_order_edges(spark, sf_dir, reuse=True)
    return k_core(edges, _KCORE_K)
