"""Round-2 extensions, batch 93: k-step absorption probability of the
event Markov chain and the newsvendor quantile policy.

Scale notes:
- ABSORPTION: the per-user event stream reduces to the bounded
  state-transition count matrix (one lag-window pass + grouped count —
  the same shape as `events_markov_transitions`), with 'purchase' made
  absorbing. P(absorbed within k steps | start state) is then the k-th
  matrix power applied to the one-hot starts — a 5x5 computation that
  runs driver-side in O(k·s^3) (the PageRank-probe class of constant
  driver state), while DuckDB unrolls the same k distribution-propagation
  layers relationally. Every probability is a ratio of integer counts,
  so round-6 parity is robust.
- NEWSVENDOR: the optimal stock under linear over/under-stock costs is
  the critical-ratile quantile q* = F^-1(cu/(cu+co)) of daily demand —
  one grouped daily-demand pass then an exact interpolated percentile
  per group (Spark percentile == DuckDB quantile_cont). The classic
  operations-research reduction of an optimization to a quantile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# k-step absorption probability (purchase as absorbing state)
# ---------------------------------------------------------------------------
_ABS_STATES = ["view", "click", "signup", "error", "purchase"]
_ABS_K = 8


def _absorb_oracle() -> str:
    states_rows = " UNION ALL ".join(
        f"SELECT {i} AS sid, '{s}' AS state" for i, s in enumerate(_ABS_STATES)
    )
    layers = [
        f"states AS ({states_rows})",
        """seq AS MATERIALIZED (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    )""",
        """cnt AS MATERIALIZED (
      SELECT cur, nxt, count(*) AS c FROM seq
      WHERE nxt IS NOT NULL AND cur <> 'purchase' GROUP BY cur, nxt
    )""",
        """p AS MATERIALIZED (
      SELECT a.sid AS i, b.sid AS j,
             CASE
               WHEN a.state = 'purchase' THEN CASE WHEN b.state = 'purchase' THEN 1.0 ELSE 0.0 END
               ELSE COALESCE(
                 (SELECT CAST(c.c AS DOUBLE) FROM cnt c
                   WHERE c.cur = a.state AND c.nxt = b.state), 0.0)
                 / NULLIF((SELECT sum(c.c) FROM cnt c WHERE c.cur = a.state), 0)
             END AS pr
      FROM states a CROSS JOIN states b
    )""",
        # distribution layers: d{t}(start, j) = sum_i d{t-1}(start, i) p(i, j)
        "d0 AS MATERIALIZED (SELECT a.sid AS start, b.sid AS j,"
        " CASE WHEN a.sid = b.sid THEN 1.0 ELSE 0.0 END AS pr"
        " FROM states a CROSS JOIN states b)",
    ]
    for t in range(1, _ABS_K + 1):
        layers.append(
            f"d{t} AS MATERIALIZED (SELECT d.start, p.j, sum(d.pr * p.pr) AS pr"
            f" FROM d{t - 1} d JOIN p ON p.i = d.j GROUP BY d.start, p.j)"
        )
    return f"""
    WITH {", ".join(layers)}
    SELECT s.state AS start_state,
           round(COALESCE(d.pr, 0.0), 6) AS p_absorbed_k
    FROM states s
    LEFT JOIN d{_ABS_K} d
      ON d.start = s.sid AND d.j = {len(_ABS_STATES) - 1}
    WHERE s.state <> 'purchase'
    """


@register("events_absorption_prob", _absorb_oracle())
def events_absorption_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(reach 'purchase' within {_ABS_K} transitions | starting event
    type), treating purchase as absorbing: per-user lead-window
    transitions (one pass), bounded 5x5 transition matrix from integer
    counts, k-step power applied driver-side (constant state; DuckDB
    unrolls the same propagation layers relationally). The funnel
    question "how much of each entry channel eventually converts" with
    path structure, not just flags."""
    events = sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    cnt = (
        seq.filter(F.col("nxt").isNotNull() & (F.col("cur") != "purchase"))
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    idx = {s: i for i, s in enumerate(_ABS_STATES)}
    n = len(_ABS_STATES)
    counts = [[0] * n for _ in range(n)]
    for r in cnt:
        if r["cur"] in idx and r["nxt"] in idx:
            counts[idx[r["cur"]]][idx[r["nxt"]]] += r["c"]
    P = [[0.0] * n for _ in range(n)]
    for i in range(n):
        if _ABS_STATES[i] == "purchase":
            P[i][i] = 1.0
            continue
        tot = sum(counts[i])
        for j in range(n):
            P[i][j] = counts[i][j] / tot if tot else 0.0
    # k-step distribution per one-hot start
    D = [[1.0 if i == j else 0.0 for j in range(n)] for i in range(n)]
    for _ in range(_ABS_K):
        D = [
            [sum(D[s][m] * P[m][j] for m in range(n)) for j in range(n)]
            for s in range(n)
        ]
    out = [
        (_ABS_STATES[i], round(D[i][idx["purchase"]], 6))
        for i in range(n)
        if _ABS_STATES[i] != "purchase"
    ]
    return spark.createDataFrame(out, "start_state string, p_absorbed_k double")


# ---------------------------------------------------------------------------
# Newsvendor quantile policy per brand
# ---------------------------------------------------------------------------
_NV_CU = 3.0  # understock (lost margin) per unit
_NV_CO = 1.0  # overstock (holding) per unit
_NV_RATIO = _NV_CU / (_NV_CU + _NV_CO)


@register(
    "inventory_newsvendor_quantile",
    f"""
    WITH demand AS MATERIALIZED (
      SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS day,
             sum(l.l_quantity) AS d
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand, CAST(l.l_shipdate AS DATE)
    )
    SELECT p_brand, count(*) AS n_days,
           round(avg(d), 4) AS mean_demand,
           round(quantile_cont(d, {_NV_RATIO}), 4) AS q_star,
           round(quantile_cont(d, {_NV_RATIO}) - avg(d), 4) AS safety_stock
    FROM demand GROUP BY p_brand
    """,
)
def inventory_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor optimal stock per brand: with understock cost
    {_NV_CU:.0f} and overstock cost {_NV_CO:.0f} per unit, the expected-
    cost minimizer is the {_NV_RATIO:.2f}-quantile of daily demand —
    one grouped daily-demand pass, then an exact interpolated percentile
    per brand (identical definition in both engines). safety_stock =
    q* - mean shows how much of the order covers variability rather
    than expectation."""
    li = sf_table(spark, sf_dir, "lineitem")
    part = sf_table(spark, sf_dir, "part")
    demand = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li["l_partkey"] == F.col("p_partkey"))
        .groupBy("p_brand", F.to_date("l_shipdate").alias("day"))
        .agg(F.sum("l_quantity").alias("d"))
    )
    return demand.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.avg("d"), 4).alias("mean_demand"),
        F.round(F.expr(f"percentile(d, {_NV_RATIO})"), 4).alias("q_star"),
        F.round(
            F.expr(f"percentile(d, {_NV_RATIO})") - F.avg("d"), 4
        ).alias("safety_stock"),
    )
