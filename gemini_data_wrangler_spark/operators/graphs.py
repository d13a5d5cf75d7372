"""Iterative graph analytics on DataFrames: PageRank, personalized
PageRank, label propagation, k-core, BFS, HITS and triangle counting.

Complements ``dedup.connected_components`` (min-label propagation) and
``similarity.kmeans_lloyd`` (Lloyd iterations) as the third iterative
DataFrame algorithm family: each round is one co-partitioned shuffle join
plus an aggregation, with ``localCheckpoint`` truncating lineage so the
plan never grows with iteration count. No counterpart in the reference
(its stage algebra has no iteration at all — SURVEY.md §2); north-star
scope.

Route contract. Every iterative kernel here, and both connected-components
kernels in ``dedup``, takes ``route`` and ``max_edges`` and runs through
:func:`run_route`:

* ``route="auto"`` first tries the bounded driver route: collect at most
  ``max_edges + 1`` rows of the kernel's staged edge frame; when they fit,
  the whole loop runs in memory on the driver (zero Spark jobs per round,
  against one or more jobs per round whose floor is rounds × scheduler
  overhead) and the result is a one-partition frame. Past the bound the
  distributed loop runs and reuses the partitions the probe cached.
* ``route="distributed"`` runs only the loop — the 100 TB shape.
* Any other value raises ``ValueError`` naming the kernel.

Only bounded loop state (edge pairs, rank or label vectors) moves to the
driver. Both routes give the same output: integer kernels exactly, the
float kernels (PageRank, HITS) up to summation order, which consumers
absorb by comparing rounded values. Every frame a kernel persists is
released when it returns or raises. The bounds are deployment-sized and
read ``SPARK_GRAFT_DRIVER_*_MAX_EDGES`` overrides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.session import env_int


def run_route(
    kernel: str, route: str, frame: DataFrame, schema, driver, loop, persist: bool = True
):
    """Run ``kernel`` on ``route`` under the module's route contract.

    ``frame`` is the kernel's edge frame, persisted here unless ``persist``
    is false. On ``"auto"``, ``driver(staged)`` returns the result rows, or
    ``None`` past the bound; the rows become a one-partition frame of
    ``schema`` (a DDL string, or a tuple of them for a tuple of row lists).
    Otherwise ``loop(staged, stage)`` returns the result; ``stage(df)``
    persists a loop frame. Every persisted frame is released on exit."""
    if route not in ("auto", "distributed"):
        raise ValueError(
            f"{kernel}: unknown route {route!r} (expected 'auto' or 'distributed')"
        )
    held = []

    def stage(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return held[-1]

    staged = stage(frame) if persist else frame
    try:
        if route == "auto":
            rows = driver(staged)
            if rows is not None:
                spark = staged.sparkSession

                def one_partition(rows, schema):
                    return spark.createDataFrame(
                        spark.sparkContext.parallelize(rows, 1), schema
                    )

                if isinstance(schema, tuple):
                    return tuple(map(one_partition, rows, schema))
                return one_partition(rows, schema)
        return loop(staged, stage)
    finally:
        # The loops' results are eager or probe-materialized checkpoints,
        # and the driver route's rows are already local, so nothing
        # downstream still reads these blocks.
        for df in held:
            df.unpersist()


def _type(df: DataFrame, i: int = 0) -> str:
    """DDL name of column ``i``'s type, for driver-route result schemas."""
    return df.schema[i].dataType.simpleString()


def _edge_columns(e: DataFrame, max_edges: int):
    """Bounded Arrow collect of a 2-column edge frame for the float driver
    routes: its two columns as numpy arrays, or ``None`` when the frame is
    empty (the loop keeps its behavior there) or exceeds ``max_edges``."""
    pdf = e.limit(max_edges + 1).toPandas()
    if not 0 < len(pdf) <= max_edges:
        return None
    return pdf.iloc[:, 0].to_numpy(), pdf.iloc[:, 1].to_numpy()


def _rank_arrays(e0: DataFrame, max_edges: int):
    """Driver input of both PageRank kernels: ``(si, di, nodes, safe_deg,
    dangling)`` with ids compressed to 0..n-1 against the sorted ``nodes``
    vocabulary, or ``None`` (see :func:`_edge_columns`)."""
    import numpy as np

    cols = _edge_columns(e0, max_edges)
    if cols is None:
        return None
    nodes = np.unique(np.concatenate(cols))
    si, di = (np.searchsorted(nodes, c) for c in cols)
    outdeg = np.bincount(si, minlength=len(nodes))
    dangling = outdeg == 0
    return si, di, nodes, np.where(dangling, 1, outdeg), dangling


def _inflow(r, si, di, safe_deg):
    """One driver round's Σ_in r/outdeg per node."""
    import numpy as np

    contrib = r / safe_deg
    return np.bincount(di, weights=contrib[si], minlength=len(r))


def _rank_rows(nodes, ranks) -> list:
    return list(zip([n.item() for n in nodes], [float(r) for r in ranks]))


def _rank_setup(e0: DataFrame, stage):
    """Distributed set-up shared by both PageRank kernels: the edge list
    hash-partitioned on the source key (reused every round), the node
    table and the out-degrees, all persisted, with parallelism sized to
    ~50k edges per partition."""
    n_edges = e0.count()
    par = max(1, min(e0.sparkSession.sparkContext.defaultParallelism, n_edges // 50_000 + 1))
    e = stage(e0.repartition(par, "_s"))
    nodes = stage(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
        .repartition(par, "node")
    )
    outdeg = stage(
        e.groupBy(F.col("_s").alias("node")).agg(F.count(F.lit(1)).alias("_deg"))
    )
    return e, nodes, outdeg


def _contribs(e: DataFrame, ranks: DataFrame, outdeg: DataFrame) -> DataFrame:
    """One distributed round's Σ_in rank/outdeg per node (``_in``)."""
    return (
        e.join(ranks.join(outdeg, "node").withColumnRenamed("node", "_s"), "_s")
        .select(F.col("_d").alias("node"), (F.col("rank") / F.col("_deg")).alias("_c"))
        .groupBy("node")
        .agg(F.sum("_c").alias("_in"))
    )


# ≤500k (u, v) pairs is tens of MB of loop state on the driver; bigger
# graphs stay on the distributed loops. Same bound as DRIVER_BFS_MAX_EDGES
# and dedup.DRIVER_CC_MAX_EDGES.
DRIVER_GRAPH_MAX_EDGES = env_int("SPARK_GRAFT_DRIVER_GRAPH_MAX_EDGES", 500_000)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    route: str = "auto",
    max_edges: int = DRIVER_GRAPH_MAX_EDGES,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Semantics (mirrored exactly by the numpy reference in tests):
    ``r' = (1-d)/N + d * (sum of in-neighbor r/outdeg + dangling_mass/N)``
    where dangling mass is the total rank held by nodes with no out-edges,
    redistributed uniformly.

    Scale shape: per iteration, ONE join of the edge list with the
    node-sized rank table (both hash-partitioned on the source key — the
    partitioning is reused every round) and one dst-keyed aggregation with
    map-side partial sums. Rank state is one row per node; the edge list is
    scanned from cache each round. Dangling mass is a broadcast 1-row
    aggregate folded INTO the iteration's plan (crossJoin) — never a
    driver-side ``collect`` — and is built only when dangling nodes exist
    at all (detected once upfront), so symmetric graphs pay nothing and an
    iteration is pure plan with no mid-round driver sync. The driver route
    runs the same recurrence as numpy vector ops (≤ ``max_edges`` distinct
    edges); consumers compare ranks rounded to 9 decimals, far above the
    ~1e-12 relative spread that summation order contributes.

    Output: ``node`` (bigint), ``rank`` (double), summing to ~1.
    """
    e0 = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()

    def driver(e0):
        import numpy as np

        got = _rank_arrays(e0, max_edges)
        if got is None:
            return None
        si, di, nodes, safe_deg, dangling = got
        n = len(nodes)
        has_dangling = bool(dangling.any())
        r = np.full(n, 1.0 / n)
        base = (1.0 - damping) / n
        for _ in range(iterations):
            inr = _inflow(r, si, di, safe_deg)
            dm = float(r[dangling].sum()) if has_dangling else 0.0
            r = base + damping * (inr + dm / n)
        return _rank_rows(nodes, r)

    def loop(e0, stage):
        e, nodes, outdeg = _rank_setup(e0, stage)
        n = nodes.count()
        # A node is dangling iff it has no outdeg row, so the probe is a
        # count comparison over two persisted tables — one cheap job, not
        # an anti-join (it also materializes outdeg's cache).
        has_dangling = n > outdeg.count()
        ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
        base = (1.0 - damping) / n
        for _ in range(iterations):
            new = nodes.join(_contribs(e, ranks, outdeg), "node", "left")
            redistributed = F.lit(0.0)
            if has_dangling:
                dm = ranks.join(outdeg, "node", "left_anti").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
                )
                new = new.crossJoin(F.broadcast(dm))
                redistributed = F.col("_dm") / n
            # The rank and label loops checkpoint every round. On local[32]
            # at sf0.1, batching 3 rounds per localCheckpoint LOST 1.5×
            # (PageRank 6.2 s vs 4.1 s, label propagation 3.6 s vs 3.1 s):
            # each materialization hands AQE fresh stats to re-plan the
            # next round's join and keeps the state compact. With dangling
            # mass the state also feeds two branches per round.
            ranks = new.select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("_in"), F.lit(0.0)) + redistributed)
                ).alias("rank"),
            ).localCheckpoint()
        return ranks

    return run_route("pagerank", route, e0, f"node {_type(e0)}, rank double", driver, loop)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
    route: str = "auto",
    max_edges: int = DRIVER_GRAPH_MAX_EDGES,
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank: the restart mass lands on a
    seed set instead of uniformly, so ranks measure proximity TO THE
    SEEDS — the "more like these" primitive (seed docs → related docs,
    seed users → lookalike users) that global PageRank cannot express.

    ``seeds`` is a one-column DataFrame (``node``); restart vector is
    uniform over it. Semantics per round (no-dangling graphs — pass a
    symmetrized edge list, as `pagerank` callers here do):
    ``r' = (1-d)·1[node∈S]/|S| + d·Σ_in r/outdeg``.

    Same scale shape as :func:`pagerank`. Both routes restart on seeds ∩
    nodes (the distributed seed-flag left join): a seed absent from the
    graph contributes no restart mass and no output row. An empty
    intersection raises ``ValueError``.
    """
    e0 = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()

    def driver(e0):
        import numpy as np

        got = _rank_arrays(e0, max_edges)
        if got is None:
            return None
        si, di, nodes, safe_deg, _ = got
        n = len(nodes)
        seed_rows = seeds.select("node").limit(max_edges + 1).collect()
        if len(seed_rows) > max_edges:
            return None
        seed_idx = np.searchsorted(nodes, [r[0] for r in seed_rows])
        in_graph = [
            i
            for i, r in zip(seed_idx, seed_rows)
            if i < n and nodes[i] == r[0]
        ]
        n_seeds = float(len(in_graph))
        if not n_seeds:
            raise ValueError("personalized_pagerank: empty seed set")
        seed_vec = np.zeros(n)
        seed_vec[np.array(in_graph, dtype="int64")] = 1.0
        r = seed_vec / n_seeds
        for _ in range(iterations):
            inr = _inflow(r, si, di, safe_deg)
            r = (1.0 - damping) * seed_vec / n_seeds + damping * inr
        return _rank_rows(nodes, r)

    def loop(e0, stage):
        e, nodes, outdeg = _rank_setup(e0, stage)
        seed_flags = nodes.join(
            seeds.select(F.col("node"), F.lit(1.0).alias("_seed")), "node", "left"
        ).select("node", F.coalesce("_seed", F.lit(0.0)).alias("_seed"))
        n_seeds = seed_flags.agg(F.sum("_seed")).collect()[0][0]
        if not n_seeds:
            raise ValueError("personalized_pagerank: empty seed set")
        seed_flags = stage(seed_flags)
        ranks = seed_flags.select(
            "node", (F.col("_seed") / n_seeds).alias("rank")
        ).localCheckpoint()
        for _ in range(iterations):
            ranks = seed_flags.join(_contribs(e, ranks, outdeg), "node", "left").select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("_seed") / n_seeds
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            ).localCheckpoint()
        return ranks

    schema = f"node {_type(e0)}, rank double"
    return run_route("personalized_pagerank", route, e0, schema, driver, loop)


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count + global clustering coefficient of an
    undirected graph given as an edge list (direction and duplicates are
    ignored; self-loops dropped).

    Algorithm: degree-ordered orientation (Chiba–Nishizeki / the standard
    MapReduce triangle scheme). Every edge is oriented from its lower
    endpoint to its higher endpoint in the total order (degree, node), so
    each triangle has exactly ONE node with two out-edges — enumerate its
    out-neighbor pairs (wedges) and close them with a single semi join
    against the canonical edge set. Orientation bounds every out-degree by
    O(sqrt(m)), which bounds the wedge join's intermediate at m^1.5
    regardless of hub skew — the reason this survives power-law graphs
    where a naive neighbor self-join explodes on the hottest vertex.

    Output (single row): n_nodes, n_edges, n_wedges, n_triangles (all
    bigint), clustering = 3*triangles/wedges (double, NaN-free: 0.0 when
    the graph has no wedge).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .persist()
    )
    lower_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(deg.select(F.col("node").alias("a"), F.col("_deg").alias("_da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("_deg").alias("_db")), "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .persist()
    )
    # Each triangle's unique 2-out-degree node generates its one wedge;
    # x < y keeps one of the two symmetric join rows.
    wedge_pairs = (
        oriented.select("u", F.col("v").alias("x"))
        .join(oriented.select("u", F.col("v").alias("y")), "u")
        .filter(F.col("x") < F.col("y"))
        .select(F.col("x").alias("a"), F.col("y").alias("b"))
    )
    tri = wedge_pairs.join(e, ["a", "b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("_deg") / 2).cast("bigint").alias("n_edges"),
        F.sum(F.col("_deg") * (F.col("_deg") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") > 0, 3.0 * F.col("n_triangles") / F.col("n_wedges"))
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    route: str = "auto",
    max_edges: int = DRIVER_GRAPH_MAX_EDGES,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) with deterministic tie-breaking: each round every node adopts
    the most frequent label among its neighbors (ties → smallest label),
    labels initialized to node ids.

    Deterministic by construction (no random visit order), so results are
    reproducible across engines and cluster sizes. Per round: one
    edge⋈label join co-partitioned on the node key + one two-key
    aggregation (neighbor-label counts) + one per-node ``max_by`` argmax
    — all map-side-combinable shuffles (the ranking-window alternative
    shuffled AND sorted the full neighbor-label stream per round; max_by
    over the (count, -label) struct collapses it to one row per node
    before the exchange, the same win measured for kmeans assignment);
    ``localCheckpoint`` truncates lineage per round like
    :func:`pagerank`. The driver route runs the same integer argmax
    rounds over the collected symmetrized edge list.

    Output: ``node``, ``label`` (community id = smallest node id that won
    locally). Not a fixed-point guarantee — fixed iteration count, the
    streaming-friendly variant.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    und = e.union(e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))).filter(
        F.col("_s") != F.col("_d")
    ).distinct()

    def driver(und):
        rows = und.limit(max_edges + 1).collect()
        if len(rows) > max_edges:
            return None
        adj: dict = {}
        for u, v in rows:
            adj.setdefault(u, []).append(v)
        labels = {u: u for u in adj}
        for _ in range(iterations):
            new = {}
            for u, nbrs in adj.items():
                cnt: dict = {}
                for v in nbrs:
                    lv = labels[v]
                    cnt[lv] = cnt.get(lv, 0) + 1
                new[u] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            labels = new
        return sorted(labels.items())

    def loop(und, stage):
        labels = (
            und.select(F.col("_s").alias("node")).distinct().withColumn("label", F.col("node"))
        ).localCheckpoint()
        for _ in range(iterations):
            neigh = (
                und.join(labels.withColumnRenamed("node", "_d"), "_d")
                .groupBy(F.col("_s").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("_c"))
            )
            # argmax by (count desc, label asc): max over the lexicographic
            # struct (_c, -label) — partial-aggregable, unlike a row_number
            # window, which re-shuffles and sorts every (node, label) row.
            labels = neigh.groupBy("node").agg(
                F.max_by("label", F.struct(F.col("_c"), (-F.col("label")).alias("_nl"))).alias(
                    "label"
                )
            ).localCheckpoint()
        return labels

    t = _type(und)
    return run_route(
        "label_propagation", route, und, f"node {t}, label {t}", driver, loop
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
    route: str = "auto",
    max_edges: int = DRIVER_GRAPH_MAX_EDGES,
) -> DataFrame:
    """Maximal k-core: iteratively peel nodes of degree < k until the
    remaining (undirected) subgraph is stable — the standard community
    backbone / crawl-frontier pruning. Each round is one degree count +
    two semi joins, and ONE Spark job: the pruned edge set is marked with
    a lazy localCheckpoint and the convergence probe's count() is the
    action that materializes it (an eager checkpoint + separate count
    would schedule two jobs per round — the per-job floor is what the
    multi-tenant bench host charges for). Rounds are bounded by the
    peeling depth (≤ the degeneracy ordering length, in practice a few
    dozen even on 100 TB graphs). The driver route runs the same
    synchronous peeling rounds over the collected canonical edge list;
    the maximal k-core is unique, so both routes reach the same fixpoint.

    Output: node, core_degree (degree WITHIN the k-core; ≥ k for every
    surviving node — the defining invariant).
    """
    e0 = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b")).filter(
        F.col("_a") != F.col("_b")
    ).distinct()

    def driver(e0):
        rows = e0.limit(max_edges + 1).collect()
        if len(rows) > max_edges:
            return None
        cur = [(a, b) for a, b in rows]
        for _ in range(max_iter):
            if not cur:
                break
            deg: dict = {}
            for a, b in cur:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            pruned = [(a, b) for a, b in cur if a in keep and b in keep]
            if len(pruned) == len(cur):
                break
            cur = pruned
        core_deg: dict = {}
        for a, b in cur:
            core_deg[a] = core_deg.get(a, 0) + 1
            core_deg[b] = core_deg.get(b, 0) + 1
        return sorted(core_deg.items())

    def loop(e0, stage):
        e = e0.localCheckpoint()
        n_e = e.count()
        for _ in range(max_iter):
            if n_e == 0:
                break
            deg = (
                e.select(F.col("_a").alias("n"))
                .unionAll(e.select(F.col("_b").alias("n")))
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            keep = deg.filter(F.col("d") >= k).select("n")
            pruned = (
                e.join(keep.withColumnRenamed("n", "_a"), "_a", "left_semi")
                .join(keep.withColumnRenamed("n", "_b"), "_b", "left_semi")
                .localCheckpoint(eager=False)
            )
            n_pruned = pruned.count()  # materializes the lazy checkpoint
            if n_pruned == n_e:
                break
            e, n_e = pruned, n_pruned
        return (
            e.select(F.col("_a").alias("node"))
            .unionAll(e.select(F.col("_b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )

    return run_route(
        "k_core", route, e0, f"node {_type(e0)}, core_degree bigint", driver, loop
    )


DRIVER_BFS_MAX_EDGES = env_int("SPARK_GRAFT_DRIVER_BFS_MAX_EDGES", 500_000)


def bfs_hops(
    edges: DataFrame,
    seed,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    route: str = "auto",
    max_edges: int = DRIVER_BFS_MAX_EDGES,
) -> DataFrame:
    """Unweighted single-source shortest hop counts: :func:`multi_bfs_hops`
    from ``[seed]``, projected to its ``(node, hops)`` columns.

    Output: node, hops (seed included at 0; unreachable nodes absent).
    """
    return _bfs(
        "bfs_hops", edges, [seed], src, dst, max_iter, route, max_edges
    ).select("node", "hops")


def multi_bfs_hops(
    edges: DataFrame,
    seeds,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    route: str = "auto",
    max_edges: int = DRIVER_BFS_MAX_EDGES,
) -> DataFrame:
    """Multi-source BFS: hop distance from EVERY seed in ``seeds`` (a
    bounded Python sequence of node ids) to every node it reaches, by
    frontier expansion (distributed BFS / the unit-weight case of SSSP).
    One loop whose frontier carries (seed, node) pairs, so k seeds cost
    one traversal of rounds = max seed eccentricity, not k sequential runs.

    Each round joins the current FRONTIER (just-discovered pairs, not the
    whole visited set) against the symmetrized edge list and anti-joins
    away already-visited pairs. The new frontier is marked with a lazy
    localCheckpoint and the emptiness probe's count() is the action that
    materializes it (merges two jobs into one); the visited set IS
    checkpointed each round — an A/B at sf0.1 showed that replacing it
    with a lazy union of the already-checkpointed frontiers LOSES ~20-40%
    despite saving the job: every later round re-plans and re-reads the
    growing union subtree, which costs more than the one O(V) compaction
    job. This is the Pregel-style BFS every bulk-synchronous graph engine
    runs; at cluster scale swap localCheckpoint for reliable checkpoint
    (RUNBOOK.md). The driver route walks the collected edge list once per
    seed; its state is bounded by max_edges pairs + |seeds|·|nodes| hop
    entries.

    Output: seed, node, hops (each seed at 0 to itself; unreachable
    (seed, node) combinations absent).
    """
    return _bfs("multi_bfs_hops", edges, list(seeds), src, dst, max_iter, route, max_edges)


def _bfs(kernel, edges, seeds, src, dst, max_iter, route, max_edges) -> DataFrame:
    sym = (
        edges.select(
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

    def driver(sym):
        from collections import deque

        rows = sym.limit(max_edges + 1).collect()
        if len(rows) > max_edges:
            return None
        adj: dict = {}
        for u, v in rows:
            adj.setdefault(u, []).append(v)
        out = []
        for s in seeds:
            hops = {s: 0}
            dq = deque([s])
            while dq:
                x = dq.popleft()
                h = hops[x]
                if h >= max_iter:
                    continue
                for y in adj.get(x, ()):
                    if y not in hops:
                        hops[y] = h + 1
                        dq.append(y)
            out.extend((s, n, h) for n, h in sorted(hops.items()))
        return out

    def loop(sym, stage):
        sym.count()
        visited = sym.sparkSession.createDataFrame(
            [(s, s, 0) for s in seeds], ["seed", "node", "hops"]
        ).localCheckpoint()
        frontier = visited
        for h in range(1, max_iter + 1):
            nxt = (
                sym.join(frontier.select("seed", F.col("node").alias("u")), "u")
                .select("seed", F.col("v").alias("node"))
                .distinct()
                .join(visited.select("seed", "node"), ["seed", "node"], "left_anti")
                .withColumn("hops", F.lit(h))
                .localCheckpoint(eager=False)
            )
            if nxt.count() == 0:  # materializes the lazy checkpoint
                break
            visited = visited.unionAll(nxt).localCheckpoint()
            frontier = nxt
        return visited

    t = _type(sym)
    return run_route(
        kernel, route, sym, f"seed {t}, node {t}, hops bigint", driver, loop
    )


# ---------------------------------------------------------------------------
# HITS (Kleinberg 1999): raw-sum hub/authority power iteration on a
# bipartite edge list
# ---------------------------------------------------------------------------
# The co-order bipartite graph carries ~590k distinct (customer, supplier)
# edges at sf0.1 — above DRIVER_GRAPH_MAX_EDGES, but (long, long) pairs at
# 2M edges are still ~32 MB of bounded loop state, so HITS gets its own
# bound. Past it the distributed loop is the only shape.
DRIVER_HITS_MAX_EDGES = env_int("SPARK_GRAFT_DRIVER_HITS_MAX_EDGES", 2_000_000)


def hits_raw(
    edges: DataFrame,
    left: str = "c",
    right: str = "s",
    iterations: int = 8,
    route: str = "auto",
    max_edges: int = DRIVER_HITS_MAX_EDGES,
) -> tuple[DataFrame, DataFrame]:
    """RAW (unnormalized) HITS sums over a DISTINCT bipartite edge list:
    ``iterations`` alternating half-steps ``auth = Eᵀ·hub`` /
    ``hub = E·auth`` starting from hub ≡ 1.0, with NO per-round scaling —
    normalization commutes with the linear half-steps, so the caller
    divides each side by its L2 norm once at the end (consumers compare
    ROUNDED normalized scores, which absorbs summation-order ulps, the
    same tolerance contract as :func:`pagerank`).

    The driver route runs every half-step as a numpy ``bincount`` over the
    index-compressed edge arrays. The distributed loop runs per half-step
    one edge×node-table join with map-side partial sums.

    Returns ``(hub, auth)``: hub is (<left>, h double), auth is
    (<right>, a double), one row per node with ≥1 edge on that side.
    """
    e0 = edges.select(F.col(left).alias("c"), F.col(right).alias("s"))

    def driver(e0):
        import numpy as np

        cols = _edge_columns(e0, max_edges)
        if cols is None:
            return None
        c, s = cols
        cn = np.unique(c)
        sn = np.unique(s)
        ci = np.searchsorted(cn, c)
        si = np.searchsorted(sn, s)
        h = np.ones(len(cn))
        a = np.zeros(len(sn))
        for _ in range(iterations):
            a = np.bincount(si, weights=h[ci], minlength=len(sn))
            h = np.bincount(ci, weights=a[si], minlength=len(cn))
        return _rank_rows(cn, h), _rank_rows(sn, a)

    def loop(e0, stage):
        # hub and auth each feed exactly ONE consumer (the next half-step),
        # so materializing every round buys no recompute safety: hub is
        # checkpointed every 2nd round, which halves the job count. The
        # FINAL auth and hub feed several consumers (norm and output), so
        # both checkpoint eagerly in the last round.
        e = stage(e0.repartition(e0.sparkSession.sparkContext.defaultParallelism, "c"))
        hub = e.select("c").distinct().withColumn("h", F.lit(1.0)).localCheckpoint()
        auth = None
        for _it in range(iterations):
            auth = e.join(hub, "c").groupBy("s").agg(F.sum("h").alias("a"))
            if _it == iterations - 1:
                auth = auth.localCheckpoint()
            hub = e.join(auth, "s").groupBy("c").agg(F.sum("a").alias("h"))
            if _it % 2 or _it == iterations - 1:
                hub = hub.localCheckpoint()
        return hub.select(F.col("c").alias(left), "h"), auth.select(
            F.col("s").alias(right), "a"
        )

    schemas = (f"`{left}` {_type(e0, 0)}, h double", f"`{right}` {_type(e0, 1)}, a double")
    return run_route("hits_raw", route, e0, schemas, driver, loop)
