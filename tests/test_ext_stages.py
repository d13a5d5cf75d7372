"""Unit tests for the second-batch extension stages (SETOP / GROUPING /
PIVOT / TOPK / SAMPLE) and the temporal join operators."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.operators.compiler import compile_stage
from gemini_data_wrangler_spark.operators.temporal import asof_join, range_join_count
from gemini_data_wrangler_spark.plans.stage import Stage


@pytest.fixture()
def tables(spark):
    l = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (3, "c")], "k int, v string")
    r = spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string")
    return {"l": l, "r": r}


def _resolve(tables):
    return lambda name: tables[name]


def _setop(tables, op):
    stage = Stage(type="SETOP", data={"setopType": op, "tables": ["l", "r"]})
    return compile_stage(stage, _resolve(tables))


def test_setop_intersect(spark, tables):
    rows = {tuple(r) for r in _setop(tables, "INTERSECT").collect()}
    assert rows == {(2, "b"), (3, "c")}


def test_setop_except(spark, tables):
    rows = {tuple(r) for r in _setop(tables, "EXCEPT").collect()}
    assert rows == {(1, "a")}


def test_setop_except_all_keeps_multiplicity(spark, tables):
    rows = sorted(tuple(r) for r in _setop(tables, "EXCEPT ALL").collect())
    assert rows == [(1, "a"), (3, "c")]  # one of the two (3,c) survives


def test_grouping_rollup_levels(spark):
    df = spark.createDataFrame(
        [("x", "p", 1.0), ("x", "q", 2.0), ("y", "p", 3.0)], "a string, b string, v double"
    )
    stage = Stage(
        type="GROUPING",
        data={
            "table": "t",
            "mode": "rollup",
            "groupBy": ["a", "b"],
            "aggregations": [{"function": "SUM", "column": "v", "alias": "s"}],
        },
    )
    out = compile_stage(stage, _resolve({"t": df}))
    rows = {(r.a, r.b, r.s) for r in out.collect()}
    # leaf + per-a subtotal + grand total
    assert (None, None, 6.0) in rows
    assert ("x", None, 3.0) in rows and ("y", None, 3.0) in rows
    assert ("x", "p", 1.0) in rows
    assert len(rows) == 3 + 2 + 1

    stage.data["mode"] = "cube"
    cube_rows = {(r.a, r.b, r.s) for r in compile_stage(stage, _resolve({"t": df})).collect()}
    # cube adds the per-b slice
    assert (None, "p", 4.0) in cube_rows and (None, "q", 2.0) in cube_rows


def test_pivot_stage(spark):
    df = spark.createDataFrame(
        [("x", "F"), ("x", "F"), ("x", "O"), ("y", "O")], "seg string, st string"
    )
    stage = Stage(
        type="PIVOT",
        data={
            "table": "t",
            "groupBy": ["seg"],
            "pivotColumn": "st",
            "pivotValues": ["F", "O"],
            "aggregations": [{"function": "COUNT", "column": "*"}],
        },
    )
    out = compile_stage(stage, _resolve({"t": df}))
    got = {r.seg: (r.F, r.O) for r in out.collect()}
    assert got == {"x": (2, 1), "y": (None, 1)}  # empty cell is NULL (Spark)


def test_topk_stage_is_take_ordered(spark):
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 7).alias("m"))
    stage = Stage(
        type="TOPK",
        data={"table": "t", "n": 5, "orderBy": [{"column": "id", "direction": "DESC"}]},
    )
    out = compile_stage(stage, _resolve({"t": df}))
    assert [r.id for r in out.collect()] == [999, 998, 997, 996, 995]
    # plan should be TakeOrderedAndProject, not a global Sort + CollectLimit
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sample_stage_deterministic(spark):
    df = spark.range(0, 10000)
    stage = Stage(type="SAMPLE", data={"table": "t", "fraction": 0.1, "seed": 7})
    a = compile_stage(stage, _resolve({"t": df})).count()
    b = compile_stage(stage, _resolve({"t": df})).count()
    assert a == b
    assert 700 < a < 1300


# ---------------------------------------------------------------------------
# Temporal joins
# ---------------------------------------------------------------------------
def _ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


def test_asof_join_basic(spark):
    trades = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:05", 100.0),
            (1, "2024-01-01 10:00:00", 99.0),  # simultaneous quote visible
            (2, "2024-01-01 09:00:00", 50.0),  # no prior quote -> NULLs
        ],
        "uid long, ts string, px double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    quotes = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 98.5),
            (1, "2024-01-01 10:00:03", 98.7),
            (1, "2024-01-01 10:00:10", 99.9),  # in the future of both trades
        ],
        "uid long, ts string, q double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    out = asof_join(trades, quotes, on="uid", left_ts="ts", right_ts="ts")
    got = {(r.uid, str(r.ts)): (r.q_right, str(r.ts_right)) for r in out.collect()}
    assert got[(1, "2024-01-01 10:00:05")] == (98.7, "2024-01-01 10:00:03")
    assert got[(1, "2024-01-01 10:00:00")] == (98.5, "2024-01-01 10:00:00")
    assert got[(2, "2024-01-01 09:00:00")][0] is None or got[(2, "2024-01-01 09:00:00")] == (
        None,
        "None",
    )
    assert out.count() == 3  # left join: every trade survives


def test_range_join_count_trailing_window(spark):
    anchors = spark.createDataFrame(
        [(10, 1, "2024-01-01 10:30:00")], "event_id long, uid long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:29:00", 1.0),  # inside 30 min
            (1, "2024-01-01 10:01:00", 2.0),  # inside (exactly 29 min before)
            (1, "2024-01-01 09:59:59", 4.0),  # outside
            (1, "2024-01-01 10:30:00", 8.0),  # boundary: <= anchor -> inside
            (2, "2024-01-01 10:29:00", 16.0),  # other user
        ],
        "uid long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    out = range_join_count(
        anchors, events, on="uid", anchor_ts="ts", event_ts="ts",
        interval_seconds=1800, agg_col="value",
    ).collect()
    assert len(out) == 1
    assert out[0].n_in_range == 3
    assert out[0].sum_in_range == 11.0


def test_kmeans_deterministic_and_improves(spark):
    from gemini_data_wrangler_spark.operators.similarity import (
        cosine_similarity,
        kmeans_lloyd,
    )
    from gemini_data_wrangler_spark.sources.readers import load_sf_tables
    from tests.conftest import SF_ORACLE

    emb = load_sf_tables(spark, SF_ORACLE)["embeddings"]

    def inertia(centroids):
        vecs = emb.select(
            F.col("vec_id"), F.transform("embedding", lambda x: x.cast("double")).alias("_v")
        )
        scored = vecs.crossJoin(F.broadcast(centroids.select("cell_id", F.col("centroid").alias("_c")))).withColumn(
            "_sim", cosine_similarity(F.col("_v"), F.col("_c"))
        )
        return scored.groupBy("vec_id").agg(F.max("_sim").alias("best")).agg(F.sum("best")).collect()[0][0]

    c1 = kmeans_lloyd(emb, k=8, max_iter=1)
    c3 = kmeans_lloyd(emb, k=8, max_iter=3)
    # More Lloyd rounds must not worsen the total best-assignment similarity.
    assert inertia(c3) >= inertia(c1) - 1e-9

    # Deterministic across runs.
    a = {(r.cell_id, r.n_members) for r in kmeans_lloyd(emb, k=8, max_iter=2).collect()}
    b = {(r.cell_id, r.n_members) for r in kmeans_lloyd(emb, k=8, max_iter=2).collect()}
    assert a == b
    assert len(a) == 8


def test_kmeans_stats_contract_and_guards(spark):
    """Round-7 compare-surface contract: sum_q9 publishes as BIGINT (no
    Decimal anywhere in the fetched values — the driver-experiment cast),
    the integer sums sit far below the 2^63 exactness bound the docstring
    promises, the members sibling reuses the publisher's memoized frame,
    and max_iter < 1 fails loudly instead of dereferencing None (ADVICE
    r6)."""
    import pytest

    from gemini_data_wrangler_spark.operators.similarity import kmeans_lloyd
    from gemini_data_wrangler_spark import session
    from gemini_data_wrangler_spark.queries_ext3 import (
        embedding_kmeans,
        embedding_kmeans_members,
    )
    from gemini_data_wrangler_spark.sources.readers import load_sf_tables
    from tests.conftest import SF_ORACLE

    emb = load_sf_tables(spark, SF_ORACLE)["embeddings"]
    stats = kmeans_lloyd(emb, k=8, max_iter=2, return_stats=True)
    assert dict(stats.dtypes)["sum_q9"] == "bigint"
    assert dict(stats.dtypes)["n_members"] == "bigint"
    bound = stats.agg(F.max(F.abs("sum_q9"))).collect()[0][0]
    # Exactness headroom: BIGINT→DOUBLE in the iteration mean and the
    # published sum both stay exact while |sum_q9| < 2^53.
    assert bound < 2**50

    with pytest.raises(ValueError, match="max_iter"):
        kmeans_lloyd(emb, k=8, max_iter=0, return_stats=True)
    with pytest.raises(ValueError, match="max_iter"):
        kmeans_lloyd(emb, k=8, max_iter=0)

    # Publisher refreshes the memo; the members sibling reuses the SAME
    # frame object (no second Lloyd build).
    def kmeans_entries() -> list:
        return [v for k, v in session._MEMO.items() if k[1] == "kmeans_stats"]

    for key in [k for k in session._MEMO if k[1] == "kmeans_stats"]:
        del session._MEMO[key]
    full = embedding_kmeans(spark, SF_ORACLE)
    assert len(kmeans_entries()) == 1
    cached = kmeans_entries()[0]
    members = embedding_kmeans_members(spark, SF_ORACLE)
    assert kmeans_entries() == [cached] and kmeans_entries()[0] is cached
    mem_rows = {(r.cell_id, r.n_members) for r in members.collect()}
    full_rows = {(r.cell_id, r.n_members) for r in full.collect()}
    assert mem_rows == full_rows
    assert emb.count() == sum(n for _, n in mem_rows)


def test_lsh_topk_multiprobe_recall(spark):
    from gemini_data_wrangler_spark import queries_ext
    from gemini_data_wrangler_spark.operators.similarity import (
        cosine_topk,
        lsh_topk,
        queries_from_ids,
    )
    from gemini_data_wrangler_spark.sources.readers import load_sf_tables
    from tests.conftest import SF_ORACLE

    emb = load_sf_tables(spark, SF_ORACLE)["embeddings"]
    q = queries_from_ids(emb, queries_ext._ANN_QUERY_IDS)
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=10).collect()}

    multi = {(r.query_id, r.vec_id) for r in lsh_topk(emb, q, k=10).collect()}
    single = {
        (r.query_id, r.vec_id) for r in lsh_topk(emb, q, k=10, multi_probe=False).collect()
    }
    recall_multi = len(multi & exact) / len(exact)
    recall_single = len(single & exact) / len(exact)
    assert recall_multi >= 0.95
    assert recall_multi >= recall_single


def test_hll_mergeable_sketch_error_bound(spark):
    from gemini_data_wrangler_spark.queries import registry
    from gemini_data_wrangler_spark.sources.readers import load_sf_tables
    from tests.conftest import SF_ORACLE

    b, _ = registry()["sketch_hll_mergeable"]
    rows = {r.o_orderpriority: r for r in b(spark, SF_ORACLE).collect()}

    orders = load_sf_tables(spark, SF_ORACLE)["orders"]
    exact_global = orders.select("o_custkey").distinct().count()
    # The query now emits the exact anchor + the in-bound flag (the
    # hash-checkable contract); the union-merged 'ALL' row must carry the
    # true global distinct and an estimate within the 5% gate.
    assert rows["ALL"].exact_distinct == exact_global
    exact_seg = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for seg, n in exact_seg.items():
        assert rows[seg].exact_distinct == n
        assert rows[seg].est_ok
    assert rows["ALL"].est_ok


def test_grouping_sets_arbitrary(spark):
    df = spark.createDataFrame(
        [("x", "p", 1.0), ("x", "q", 2.0), ("y", "p", 3.0)], "a string, b string, v double"
    )
    stage = Stage(
        type="GROUPING",
        data={
            "table": "t",
            "mode": "sets",
            "groupBy": ["a", "b"],
            "groupingSets": [["a", "b"], ["b"], []],
            "aggregations": [{"function": "SUM", "column": "v", "alias": "s"}],
        },
    )
    rows = {(r.a, r.b, r.s) for r in compile_stage(stage, _resolve({"t": df})).collect()}
    assert ("x", "p", 1.0) in rows          # (a,b) set
    assert (None, "p", 4.0) in rows         # (b) set
    assert (None, None, 6.0) in rows        # () grand total
    assert ("x", None, 3.0) not in rows     # (a) set NOT requested (≠ cube)


def test_grouping_sets_requires_sets(spark):
    stage = Stage(type="GROUPING", data={"table": "t", "mode": "sets", "groupBy": ["a"]})
    df = spark.createDataFrame([("x", 1.0)], "a string, v double")
    with pytest.raises(ValueError, match="groupingSets"):
        compile_stage(stage, _resolve({"t": df}))


def test_cross_join(spark, tables):
    stage = Stage(
        type="JOIN", data={"joinType": "CROSS", "leftTable": "l", "rightTable": "r"}
    )
    out = compile_stage(stage, _resolve(tables))
    assert out.count() == 4 * 2


def test_cross_join_broadcast_hint_plans_nested_loop(spark, tables):
    stage = Stage(
        type="JOIN",
        data={"joinType": "CROSS", "leftTable": "l", "rightTable": "r", "broadcast": "right"},
    )
    out = compile_stage(stage, _resolve(tables))
    assert out.count() == 4 * 2
    # The hint turns the shuffled Cartesian into stream-big/loop-small.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_cross_join_requires_tables(spark, tables):
    stage = Stage(type="JOIN", data={"joinType": "CROSS", "leftTable": "l"})
    with pytest.raises(ValueError, match="CROSS JOIN"):
        compile_stage(stage, _resolve(tables))


def test_window_bounded_rows_frame(spark):
    from gemini_data_wrangler_spark.operators.window import compile_window_stage

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 1, 5.0)],
        "g string, i int, v double",
    )
    stage = Stage(
        type="WINDOW",
        data={
            "partitionBy": ["g"],
            "orderBy": [{"column": "i", "direction": "ASC"}],
            "functions": [
                {
                    "function": "SUM",
                    "column": "v",
                    "alias": "mv2",
                    "frame": {"mode": "rows", "preceding": 1},
                }
            ],
        },
    )
    rows = {(r.g, r.i, r.mv2) for r in compile_window_stage(stage, df).collect()}
    assert rows == {("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 50.0), ("b", 1, 5.0)}


def test_count_min_estimates_bounded(spark):
    """CMS estimates are (a) never below the exact count, (b) within
    eps * stream-length above it (with prob >= confidence; deterministic
    here under the fixed seed)."""
    from pyspark.sql import functions as F

    from gemini_data_wrangler_spark.queries import registry
    from gemini_data_wrangler_spark.queries_ext6 import CMS_EPS
    from gemini_data_wrangler_spark.sources.readers import load_sf_tables
    from tests.conftest import SF_ORACLE

    from gemini_data_wrangler_spark.queries_ext6 import HH_K

    b, _ = registry()["sketch_count_min_heavy_hitters"]
    est = {r.word: r.est_count for r in b(spark, SF_ORACLE).collect()}
    docs = load_sf_tables(spark, SF_ORACLE)["documents"]
    words = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
    exact = {r.w: r.c for r in words.groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect()}
    total = sum(exact.values())
    # Candidates are the exact top-k by (count desc, word asc).
    topk = {w for w, _ in sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:HH_K]}
    assert set(est) == topk
    for w, e in est.items():
        assert e >= exact[w], (w, e, exact[w])
        assert e - exact[w] <= CMS_EPS * total + 1, (w, e, exact[w], total)
    # The oracle-backed bound-check row must report all-TRUE.
    bc, _ = registry()["sketch_count_min_bound_check"]
    rows = bc(spark, SF_ORACLE).collect()
    assert len(rows) == min(HH_K, len(exact))
    assert all(r.bound_ok for r in rows)


def test_split_fractions_roughly_80_10_10(spark):
    from gemini_data_wrangler_spark.queries import registry
    from tests.conftest import SF_ORACLE

    b, _ = registry()["split_train_val_test"]
    rows = b(spark, SF_ORACLE).collect()
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    n = sum(by_split.values())
    assert 0.7 <= by_split["train"] / n <= 0.9
    assert 0.04 <= by_split["val"] / n <= 0.16
    assert 0.04 <= by_split["test"] / n <= 0.16


def test_pagerank_matches_numpy_power_iteration(spark):
    """Engine PageRank vs a dense numpy power iteration implementing the
    identical semantics (uniform init, damping, dangling-mass
    redistribution), on a graph WITH a dangling node."""
    import numpy as np

    from gemini_data_wrangler_spark.operators.graphs import pagerank

    # 0→1, 0→2, 1→2, 2→0, 3→2; node 4 is dangling (in-edge only: 2→4).
    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]
    edges = spark.createDataFrame(edge_list, "src bigint, dst bigint")
    got = {r.node: r.rank for r in pagerank(edges, iterations=12).collect()}

    n, d = 5, 0.85
    out = {}
    for s, t in edge_list:
        out.setdefault(s, []).append(t)
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        nxt = np.full(n, (1.0 - d) / n)
        dangling = sum(r[v] for v in range(n) if v not in out)
        nxt += d * dangling / n
        for s, ts in out.items():
            for t in ts:
                nxt[t] += d * r[s] / len(ts)
        r = nxt
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_label_propagation_separates_cliques(spark):
    """Two 4-cliques joined by a single bridge edge: LPA must assign each
    clique its own community (labeled by its smallest node), and repeated
    runs are identical (deterministic tie-breaks)."""
    from gemini_data_wrangler_spark.operators.graphs import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a, b in c1]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src bigint, dst bigint")
    got = {r.node: r.label for r in label_propagation(edges, iterations=6).collect()}
    assert {got[n] for n in range(4)} == {0}
    assert {got[n + 10] for n in range(4)} == {10}
    again = {r.node: r.label for r in label_propagation(edges, iterations=6).collect()}
    assert got == again


def test_multimodal_format_roundtrip():
    """The synthesized container bytes must be parseable by the real-format
    parsers with the exact synthesis parameters, and truncation must be
    flagged (None), never raised."""
    from gemini_data_wrangler_spark.operators.multimodal import (
        _gif_bytes,
        _parse_gif,
        _parse_png,
        _parse_wav,
        _png_bytes,
        _wav_bytes,
    )

    assert _parse_png(_png_bytes(17, 43)) == {"width": 17, "height": 43, "n_frames": 1}
    assert _parse_wav(_wav_bytes(16000, 77)) == {"sample_rate": 16000}
    assert _parse_gif(_gif_bytes(9, 5, 13)) == {"width": 9, "height": 5, "n_frames": 13}
    for blob in (_png_bytes(8, 8), _wav_bytes(8000, 10), _gif_bytes(4, 4, 3)):
        assert _parse_png(blob[:5]) is None
        assert _parse_wav(blob[:5]) is None
        assert _parse_gif(blob[:5]) is None
    # Cross-format: each parser rejects the other formats outright.
    assert _parse_png(_wav_bytes(8000, 10)) is None
    assert _parse_gif(_png_bytes(8, 8)) is None
    assert _parse_wav(_gif_bytes(4, 4, 2)) is None
