"""Round-2 extensions, batch 87: HITS hubs/authorities on the
customer-supplier bipartite graph and funnel-step significance testing.

Scale notes:
- HITS (Kleinberg 1999) is the bipartite power iteration: auth = Eᵀ·hub,
  hub = E·auth, L2-normalized each round. Each half-step is one
  shuffle-keyed aggregate over the edge list (partial map-side sums) and
  the normalizer is a single scalar aggregate — the loop state is two
  score tables, localCheckpointed per round to truncate lineage (swap
  for reliable checkpoint on a cluster). 8 fixed rounds; DuckDB unrolls
  the same sequence in MATERIALIZED layers. Per-node double sums are
  order-dependent across engines in the last ulp, but the iteration is
  self-correcting (converges to the principal singular vectors), so
  round-4 scores agree — the same argument as the PCA power iteration.
- FUNNEL SIGNIFICANCE turns the funnel table into decisions: each
  adjacent step's conversion drop gets a two-proportion z-test with the
  normal CDF evaluated by the SAME Abramowitz-Stegun 7.1.26 polynomial
  on both engines (no dependence on libm erf differences). Counts are
  one grouped pass; the test is |steps|-row arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# HITS on the customer-supplier co-order bipartite graph
# ---------------------------------------------------------------------------
_HITS_ITERS = 8
_HITS_TOP = 10


def _hits_oracle() -> str:
    layers = [
        """edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )""",
        # DOUBLE, not the bare 1.0 literal: DuckDB sums DECIMAL literals
        # in DECIMAL(38), which overflows under raw (unnormalized) growth.
        "hub0 AS MATERIALIZED"
        " (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM edges)",
    ]
    # Normalization commutes with the linear half-steps (it only scales
    # the vector), so the unrolled layers carry RAW sums and a single L2
    # normalizer divides each side at the end — 2 scalar passes total
    # instead of 2 per round, and fewer roundings than per-round scaling.
    # Double range is safe: growth is (sigma_max^2)^rounds ~ 1e50 at
    # worst for the co-order graph, squared in the normalizer ~ 1e100,
    # far under the 1e308 overflow line.
    for t in range(1, _HITS_ITERS + 1):
        layers.append(
            f"ar{t} AS MATERIALIZED (SELECT e.s, sum(h.h) AS a FROM edges e"
            f" JOIN hub{t - 1} h ON h.c = e.c GROUP BY e.s)"
        )
        layers.append(
            f"hub{t} AS MATERIALIZED (SELECT e.c, sum(a.a) AS h FROM edges e"
            f" JOIN ar{t} a ON a.s = e.s GROUP BY e.c)"
        )
    last = _HITS_ITERS
    return f"""
    WITH {", ".join(layers)},
    ranked AS (
      SELECT 'hub' AS side, c AS node_id,
             round(h / sqrt((SELECT sum(h * h) FROM hub{last})), 4) AS score,
             row_number() OVER (
               ORDER BY round(h / sqrt((SELECT sum(h * h) FROM hub{last})), 4)
                        DESC, c ASC) AS rank
      FROM hub{last}
      UNION ALL
      SELECT 'authority', s,
             round(a / sqrt((SELECT sum(a * a) FROM ar{last})), 4),
             row_number() OVER (
               ORDER BY round(a / sqrt((SELECT sum(a * a) FROM ar{last})), 4)
                        DESC, s ASC)
      FROM ar{last}
    )
    SELECT side, node_id, score, rank FROM ranked WHERE rank <= {_HITS_TOP}
    """


@register("graph_hits_top", _hits_oracle())
def graph_hits_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_HITS_TOP} hubs (customers) and authorities (suppliers) of
    the co-order bipartite graph by HITS with {_HITS_ITERS} power-
    iteration rounds: each half-step is one edge-keyed aggregate over
    RAW (unnormalized) sums — normalization commutes with the linear
    map, so a single end-of-loop L2 divide replaces the per-round
    scalar passes — with the hub state localCheckpointed every second
    round (single-consumer chain, so the cadence is purely a job-count
    knob).
    Ranking uses ROUNDED scores (ties to the lowest id) so the output
    order is stable across engines despite last-ulp sum differences."""
    from gemini_data_wrangler_spark.operators.graphs import hits_raw

    orders = sf_table(spark, sf_dir, "orders")
    lineitem = sf_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # Normalization only scales the vector, so the loop carries RAW sums
    # (growth stays far below double overflow — see the oracle note) and
    # a single L2 normalizer divides each side at the end: no per-round
    # scalar passes. The 2·iterations join+aggregate rounds live in
    # `hits_raw`, whose auto route runs them driver-side as numpy
    # bincounts over the bounded collected edge list (round 7: the
    # 16-shuffle loop's floor was 16× scheduler overhead — the most
    # expensive full-suite row); the distributed loop stays as the
    # forced 100 TB fallback, equivalence-pinned in
    # tests/test_graph_driver_routes.py.
    hub, auth = hits_raw(edges, iterations=_HITS_ITERS)
    anorm = auth.agg(F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("_z"))
    hnorm = hub.agg(F.sqrt(F.sum(F.col("h") * F.col("h"))).alias("_z"))
    hub_top = hub.crossJoin(F.broadcast(hnorm)).select(
        F.lit("hub").alias("side"),
        F.col("c").alias("node_id"),
        F.round(F.col("h") / F.col("_z"), 4).alias("score"),
    )
    auth_top = auth.crossJoin(F.broadcast(anorm)).select(
        F.lit("authority").alias("side"),
        F.col("s").alias("node_id"),
        F.round(F.col("a") / F.col("_z"), 4).alias("score"),
    )
    w = Window.partitionBy("side").orderBy(F.desc("score"), F.asc("node_id"))
    return (
        hub_top.unionByName(auth_top)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HITS_TOP)
    )


# ---------------------------------------------------------------------------
# Funnel-step significance: two-proportion z-tests between adjacent steps
# ---------------------------------------------------------------------------
_FUNNEL_STEPS = ["view", "click", "signup", "purchase"]

# Abramowitz-Stegun 7.1.26 complement of the standard normal CDF, written
# once and rendered into both engines so no libm erf() difference can
# break parity.  Q(z) = phi(z)*(b1 t + b2 t^2 + ... + b5 t^5), t = 1/(1+p z)


def _qnorm(z: str) -> str:
    t = f"(1.0 / (1.0 + 0.2316419 * {z}))"
    phi = f"(0.3989422804014327 * exp(-0.5 * {z} * {z}))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * (1.781477937"
        f" + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    return f"({phi} * {poly})"


@register(
    "events_funnel_significance",
    f"""
    WITH steps AS MATERIALIZED (
      SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s2,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s3,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s4
      FROM events GROUP BY user_id
    ), funnel AS (
      SELECT sum(s1) AS n1,
             sum(CASE WHEN s1 = 1 AND s2 = 1 THEN 1 ELSE 0 END) AS n2,
             sum(CASE WHEN s1 = 1 AND s2 = 1 AND s3 = 1 THEN 1 ELSE 0 END) AS n3,
             sum(CASE WHEN s1 = 1 AND s2 = 1 AND s3 = 1 AND s4 = 1 THEN 1 ELSE 0 END) AS n4
      FROM steps
    ), pairs AS (
      SELECT 1 AS step, 'view->click' AS transition, n1 AS n_from, n2 AS n_to FROM funnel
      UNION ALL SELECT 2, 'click->signup', n2, n3 FROM funnel
      UNION ALL SELECT 3, 'signup->purchase', n3, n4 FROM funnel
    ), tested AS (
      SELECT step, transition, n_from, n_to,
             CAST(n_to AS DOUBLE) / n_from AS conv,
             abs(CAST(n_to AS DOUBLE) / n_from - 0.5)
               / sqrt(0.25 / n_from) AS z
      FROM pairs WHERE n_from > 0
    )
    SELECT step, transition, n_from, n_to, round(conv, 6) AS conv,
           round(z, 4) AS z_vs_half,
           round(2.0 * {_qnorm('z')}, 6) AS p_two_sided
    FROM tested
    """,
)
def events_funnel_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> signup -> purchase) with a
    per-transition z-test of the conversion rate against the 0.5
    null (the drop-off alarm threshold), p-values via the
    Abramowitz-Stegun normal-CDF polynomial rendered identically into
    both engines — no libm erf dependence. One grouped pass builds the
    per-user step flags; everything after is |steps|-row arithmetic."""
    events = sf_table(spark, sf_dir, "events")
    flags = [
        F.max(
            F.when(F.col("event_type") == st, 1).otherwise(0)
        ).alias(f"s{i + 1}")
        for i, st in enumerate(_FUNNEL_STEPS)
    ]
    steps = events.groupBy("user_id").agg(*flags)
    funnel = steps.agg(
        F.sum("s1").alias("n1"),
        F.sum(F.when((F.col("s1") == 1) & (F.col("s2") == 1), 1).otherwise(0)).alias("n2"),
        F.sum(
            F.when((F.col("s1") == 1) & (F.col("s2") == 1) & (F.col("s3") == 1), 1).otherwise(0)
        ).alias("n3"),
        F.sum(
            F.when(
                (F.col("s1") == 1)
                & (F.col("s2") == 1)
                & (F.col("s3") == 1)
                & (F.col("s4") == 1),
                1,
            ).otherwise(0)
        ).alias("n4"),
    ).localCheckpoint()  # eager: three per-step selects union off this one row
    rows = []
    names = ["view->click", "click->signup", "signup->purchase"]
    for i, nm in enumerate(names, start=1):
        rows.append(
            funnel.select(
                F.lit(i).alias("step"),
                F.lit(nm).alias("transition"),
                F.col(f"n{i}").alias("n_from"),
                F.col(f"n{i + 1}").alias("n_to"),
            )
        )
    pairs = rows[0].unionByName(rows[1]).unionByName(rows[2]).filter(F.col("n_from") > 0)
    conv = F.col("n_to").cast("double") / F.col("n_from")
    z = F.abs(conv - 0.5) / F.sqrt(0.25 / F.col("n_from"))
    tested = pairs.select("step", "transition", "n_from", "n_to", conv.alias("conv"), z.alias("z"))
    return tested.select(
        "step",
        "transition",
        "n_from",
        "n_to",
        F.round("conv", 6).alias("conv"),
        F.round("z", 4).alias("z_vs_half"),
        F.round(2.0 * F.expr(_qnorm("z")), 6).alias("p_two_sided"),
    )
