"""Round-7 optimization pins: bounded driver routes for the iterative
graph operators (pagerank / personalized pagerank / label propagation /
k-core) must reproduce the distributed loops, and the shared session
memos (near-dup pairs, directed kNN) must equal the un-memoized builds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _edges(spark):
    # Small deterministic graph with a hub, a chain, a dangling node and
    # an isolated pair — exercises every branch of the routes.
    return spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6),
            (6, 3), (7, 8), (1, 9), (9, 1), (10, 1),
        ],
        "src bigint, dst bigint",
    )


def test_pagerank_driver_route_matches_distributed(spark):
    from gemini_data_wrangler_spark.operators.graphs import pagerank

    e = _edges(spark)  # directed, has dangling nodes (4→5→6 chain ends, 8)
    auto = {r["node"]: round(r["rank"], 9) for r in pagerank(e, iterations=6).collect()}
    dist = {
        r["node"]: round(r["rank"], 9)
        for r in pagerank(e, iterations=6, route="distributed").collect()
    }
    assert auto == dist
    # past the bound the auto route must fall back, not truncate
    low = {r["node"]: round(r["rank"], 9) for r in pagerank(e, iterations=6, max_edges=3).collect()}
    assert low == dist


def test_personalized_pagerank_driver_route_matches_distributed(spark):
    from gemini_data_wrangler_spark.operators.graphs import personalized_pagerank

    e = _edges(spark)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = spark.createDataFrame([(1,), (4,), (999,)], "node bigint")  # 999 ∉ graph
    auto = {
        r["node"]: round(r["rank"], 9)
        for r in personalized_pagerank(sym, seeds, iterations=5).collect()
    }
    dist = {
        r["node"]: round(r["rank"], 9)
        for r in personalized_pagerank(sym, seeds, iterations=5, route="distributed").collect()
    }
    assert auto == dist
    low = {
        r["node"]: round(r["rank"], 9)
        for r in personalized_pagerank(sym, seeds, iterations=5, max_edges=3).collect()
    }
    assert low == dist


def test_label_propagation_driver_route_matches_distributed(spark):
    from gemini_data_wrangler_spark.operators.graphs import label_propagation

    e = _edges(spark)
    auto = {(r["node"], r["label"]) for r in label_propagation(e, iterations=4).collect()}
    dist = {
        (r["node"], r["label"])
        for r in label_propagation(e, iterations=4, route="distributed").collect()
    }
    assert auto == dist
    low = {
        (r["node"], r["label"])
        for r in label_propagation(e, iterations=4, max_edges=3).collect()
    }
    assert low == dist


def test_k_core_driver_route_matches_distributed(spark):
    from gemini_data_wrangler_spark.operators.graphs import k_core

    e = _edges(spark)
    for k in (2, 3):
        auto = {(r["node"], r["core_degree"]) for r in k_core(e, k).collect()}
        dist = {
            (r["node"], r["core_degree"])
            for r in k_core(e, k, route="distributed").collect()
        }
        assert auto == dist
        low = {(r["node"], r["core_degree"]) for r in k_core(e, k, max_edges=3).collect()}
        assert low == dist


def _run_kernel(spark, kernel: str, route: str, **kw):
    """Run one route-staged kernel on the 11-edge graph and collect every
    frame it returns (``hits_raw`` returns two)."""
    from gemini_data_wrangler_spark.operators import dedup, graphs

    e = _edges(spark)
    seeds = spark.createDataFrame([(1,), (4,)], "node bigint")
    pairs = e.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    calls = {
        "pagerank": lambda: graphs.pagerank(e, iterations=3, route=route, **kw),
        "personalized_pagerank": lambda: graphs.personalized_pagerank(
            e, seeds, iterations=3, route=route, **kw
        ),
        "label_propagation": lambda: graphs.label_propagation(
            e, iterations=3, route=route, **kw
        ),
        "k_core": lambda: graphs.k_core(e, 2, route=route, **kw),
        "bfs_hops": lambda: graphs.bfs_hops(e, 1, route=route, **kw),
        "multi_bfs_hops": lambda: graphs.multi_bfs_hops(e, [1, 7], route=route, **kw),
        "hits_raw": lambda: graphs.hits_raw(
            e, left="src", right="dst", iterations=2, route=route, **kw
        ),
        "connected_components": lambda: dedup.connected_components(
            pairs, route=route, **kw
        ),
        "connected_components_star": lambda: dedup.connected_components_star(
            pairs, route=route, **kw
        ),
    }
    out = calls[kernel]()
    for df in out if isinstance(out, tuple) else (out,):
        df.collect()


_ROUTED_KERNELS = (
    "pagerank",
    "personalized_pagerank",
    "label_propagation",
    "k_core",
    "bfs_hops",
    "multi_bfs_hops",
    "hits_raw",
    "connected_components",
    "connected_components_star",
)


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("route", ["auto", "distributed"])
@pytest.mark.parametrize("kernel", _ROUTED_KERNELS)
def test_routed_kernels_release_every_staged_frame(spark, kernel, route):
    """Every frame a kernel persists is released once its result is
    collected, on both routes: nothing stays in the cache manager."""
    spark.catalog.clearCache()
    _run_kernel(spark, kernel, route)
    assert _cache_is_empty(spark), kernel


@pytest.mark.parametrize("route", ["auto", "distributed"])
def test_ppr_empty_seed_raise_releases_staged_frames(spark, route):
    """The empty-seed raise comes after the edge and node frames are
    persisted; the error path must release them too."""
    from gemini_data_wrangler_spark.operators.graphs import personalized_pagerank

    spark.catalog.clearCache()
    seeds = spark.createDataFrame([(999,)], "node bigint")  # not in the graph
    with pytest.raises(ValueError, match="empty seed set"):
        personalized_pagerank(_edges(spark), seeds, iterations=3, route=route)
    assert _cache_is_empty(spark)


def test_route_typos_raise(spark):
    from gemini_data_wrangler_spark.operators.graphs import (
        k_core,
        label_propagation,
        pagerank,
        personalized_pagerank,
    )

    e = _edges(spark)
    seeds = spark.createDataFrame([(1,)], "node bigint")
    for fn in (
        lambda: pagerank(e, route="driver"),
        lambda: personalized_pagerank(e, seeds, route="driver"),
        lambda: label_propagation(e, route="driver"),
        lambda: k_core(e, 2, route="driver"),
    ):
        with pytest.raises(ValueError):
            fn()
    # Every route-staged kernel rejects a typo with a message naming it.
    for kernel in _ROUTED_KERNELS:
        with pytest.raises(ValueError, match=rf"^{kernel}: unknown route 'driver'"):
            _run_kernel(spark, kernel, "driver")


def test_neardup_pairs_memo_matches_fresh_build(spark):
    from gemini_data_wrangler_spark.operators.dedup import minhash_lsh_pairs
    from gemini_data_wrangler_spark.shared_builds import neardup_pairs
    from gemini_data_wrangler_spark.sources.readers import load_sf_tables

    docs = load_sf_tables(spark, SF_SMALL)["documents"]
    fresh = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(docs, "doc_id", "text", n=5, threshold=0.8).collect()
    }
    memo1 = neardup_pairs(spark, SF_SMALL, reuse=True)
    memo2 = neardup_pairs(spark, SF_SMALL, reuse=True)
    assert memo1 is memo2  # sibling reuse returns the same checkpointed frame
    got = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9)) for r in memo1.collect()
    }
    assert got == fresh
    # the publisher path (reuse=False) refreshes the memo entry
    fresh_frame = neardup_pairs(spark, SF_SMALL, reuse=False)
    assert fresh_frame is not memo1
    assert neardup_pairs(spark, SF_SMALL, reuse=True) is fresh_frame


def test_knn_table_memo_matches_fresh_build(spark):
    from gemini_data_wrangler_spark.operators.similarity import knn_directed
    from gemini_data_wrangler_spark.shared_builds import knn_table
    from gemini_data_wrangler_spark.sources.readers import load_sf_tables

    emb = load_sf_tables(spark, SF_SMALL)["embeddings"]
    fresh = {
        (r["query_id"], r["vec_id"], r["sim"], r["rank"])
        for r in knn_directed(emb, k=5).collect()
    }
    memo = knn_table(spark, SF_SMALL, reuse=True, k=5)
    got = {
        (r["query_id"], r["vec_id"], r["sim"], r["rank"]) for r in memo.collect()
    }
    assert got == fresh
    assert knn_table(spark, SF_SMALL, reuse=True, k=5) is memo


def test_hits_raw_driver_route_matches_distributed(spark):
    from gemini_data_wrangler_spark.operators.graphs import hits_raw

    # bipartite (c, s) edges with a hot supplier and a degree-1 tail
    e = spark.createDataFrame(
        [
            (1, 100), (1, 101), (2, 100), (2, 102), (3, 100),
            (3, 103), (4, 104), (5, 100), (5, 101), (6, 105),
        ],
        "c bigint, s bigint",
    )

    def norm_scores(hub, auth):
        hs = {r["c"]: r["h"] for r in hub.collect()}
        as_ = {r["s"]: r["a"] for r in auth.collect()}
        hn = sum(v * v for v in hs.values()) ** 0.5
        an = sum(v * v for v in as_.values()) ** 0.5
        return (
            {k: round(v / hn, 4) for k, v in hs.items()},
            {k: round(v / an, 4) for k, v in as_.items()},
        )

    auto = norm_scores(*hits_raw(e, iterations=4))
    dist = norm_scores(*hits_raw(e, iterations=4, route="distributed"))
    assert auto == dist
    # past the bound the auto route must fall back, not truncate
    low = norm_scores(*hits_raw(e, iterations=4, max_edges=3))
    assert low == dist
    import pytest

    with pytest.raises(ValueError):
        hits_raw(e, route="driver")
