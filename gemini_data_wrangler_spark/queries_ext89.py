"""Round-2 extensions, batch 89: exact Shapley channel attribution and
the Qini uplift decile table.

Scale notes:
- SHAPLEY ATTRIBUTION is exact here because the player set is the
  bounded CHANNEL alphabet, not users: users reduce to the 2^4 = 16
  touchset-mask cells (one grouped count), the coalition value function
  v(S) comes from the subset-sum (zeta) transform over the bounded mask
  lattice (16x16 bitwise-AND join), and the Shapley sum per channel is
  16 terms with factorial weights — data-size-independent after the one
  pass. This is the gold-standard attribution the position/time-decay
  heuristics approximate; every count is an integer, so parity is
  exact.
- QINI turns an uplift ranking into its decision curve: score deciles
  (deterministic ntile), per-decile treated/control conversion, and the
  cumulative Qini statistic Q(k) = sum_{d<=k} (y1_d - y0_d * n1_d/n0_d)
  — the area under which is the standard uplift-model yardstick.
  Integer counts and exact ratios end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Shapley value attribution over the channel-touchset lattice
# ---------------------------------------------------------------------------
_SHAP_CHANNELS = ["view", "click", "signup", "error"]  # bit 0..3
_N_CH = len(_SHAP_CHANNELS)

# weight(|S|) = |S|! (n-1-|S|)! / n!  for n = 4
_SHAP_W = {0: 6.0 / 24, 1: 2.0 / 24, 2: 2.0 / 24, 3: 6.0 / 24}


def _shap_weight_case(s_expr: str) -> str:
    whens = " ".join(
        f"WHEN {s_expr} = {k} THEN {v!r}" for k, v in _SHAP_W.items()
    )
    return f"(CASE {whens} END)"


def _shapley_oracle() -> str:
    mask = " + ".join(
        f"{1 << b} * max(CASE WHEN event_type = '{ch}'"
        f" AND CAST(ts AS DATE) = fd THEN 1 ELSE 0 END)"
        for b, ch in enumerate(_SHAP_CHANNELS)
    )
    chan_rows = " UNION ALL ".join(
        f"SELECT {b} AS bit, '{ch}' AS channel" for b, ch in enumerate(_SHAP_CHANNELS)
    )
    w = _shap_weight_case("bit_count(s.mask)")
    return f"""
    WITH f AS MATERIALIZED (
      SELECT user_id, min(CAST(ts AS DATE)) AS fd FROM events GROUP BY user_id
    ), u AS MATERIALIZED (
      SELECT e.user_id, {mask} AS mask,
             max(CASE WHEN event_type = 'purchase'
                      AND CAST(ts AS DATE) = fd THEN 1 ELSE 0 END) AS conv
      FROM events e JOIN f ON f.user_id = e.user_id
      GROUP BY e.user_id
    ), cells AS MATERIALIZED (
      SELECT mask, count(*) AS n, sum(conv) AS k FROM u GROUP BY mask
    ), total AS (SELECT sum(n) AS nt FROM cells),
    masks AS (SELECT unnest(range(0, {1 << _N_CH})) AS mask),
    v AS MATERIALIZED (
      -- zeta transform: v(S) = converted mass of touchsets contained in S
      SELECT m.mask,
             COALESCE(sum(CAST(c.k AS DOUBLE)), 0) / (SELECT nt FROM total) AS val
      FROM masks m LEFT JOIN cells c ON (c.mask & m.mask) = c.mask
      GROUP BY m.mask
    ), chans AS ({chan_rows}),
    shap AS (
      SELECT ch.channel,
             sum({w} * (vy.val - s.val)) AS phi
      FROM chans ch
      JOIN v s ON (s.mask & (1 << ch.bit)) = 0
      JOIN v vy ON vy.mask = s.mask + (1 << ch.bit)
      GROUP BY ch.channel
    )
    SELECT channel, round(phi, 6) AS shapley_value,
           round(sum(phi) OVER (), 6) AS total_attributed
    FROM shap
    """


@register("attribution_shapley_channels", _shapley_oracle())
def attribution_shapley_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley attribution of FIRST-DAY purchase conversion over
    the 4-channel first-day touch alphabet: users collapse to 16
    touchset-mask cells,
    v(S) is the subset-sum (zeta) transform on the bounded lattice, and
    each channel's phi sums 16 factorial-weighted marginals. The
    efficiency identity (sum phi = v(full) - v(empty)) ships in the
    output as `total_attributed`. One data pass; the lattice algebra is
    constant-size at any corpus scale."""
    events = sf_table(spark, sf_dir, "events")
    fd = events.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("fd"))
    ev = events.join(fd, "user_id").withColumn(
        "_first", F.to_date("ts") == F.col("fd")
    )
    mask = None
    for b, ch in enumerate(_SHAP_CHANNELS):
        term = (1 << b) * F.max(
            F.when((F.col("event_type") == ch) & F.col("_first"), 1).otherwise(0)
        )
        mask = term if mask is None else mask + term
    u = ev.groupBy("user_id").agg(
        mask.alias("mask"),
        F.max(
            F.when((F.col("event_type") == "purchase") & F.col("_first"), 1).otherwise(0)
        ).alias("conv"),
    )
    cells = u.groupBy("mask").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k")
    ).localCheckpoint()  # eager: total + the subset-mask join both scan it
    total = cells.agg(F.sum("n").alias("nt"))
    masks = (
        cells.sparkSession.range(0, 1 << _N_CH).select(F.col("id").cast("int").alias("smask"))
    )
    v = (
        masks.join(
            cells, (F.col("mask").bitwiseAND(F.col("smask")) == F.col("mask")), "left"
        )
        .groupBy("smask")
        .agg(F.coalesce(F.sum(F.col("k").cast("double")), F.lit(0.0)).alias("kk"))
        .crossJoin(F.broadcast(total))
        .select("smask", (F.col("kk") / F.col("nt")).alias("val"))
        .localCheckpoint()  # eager: s and vy branches both scan it
    )
    chans = cells.sparkSession.createDataFrame(
        [(b, ch) for b, ch in enumerate(_SHAP_CHANNELS)], "bit int, channel string"
    )
    s = v.select(F.col("smask").alias("s_mask"), F.col("val").alias("s_val"))
    vy = v.select(F.col("smask").alias("y_mask"), F.col("val").alias("y_val"))
    w = F.expr(_shap_weight_case("bit_count(s_mask)"))
    shap = (
        chans.join(s, F.expr("(s_mask & shiftleft(1, bit)) = 0"))
        .join(vy, F.expr("y_mask = s_mask + shiftleft(1, bit)"))
        .groupBy("channel")
        .agg(F.sum(w * (F.col("y_val") - F.col("s_val"))).alias("phi"))
    )
    return shap.select(
        "channel",
        F.round("phi", 6).alias("shapley_value"),
        F.round(F.sum("phi").over(Window.partitionBy()), 6).alias("total_attributed"),
    )


# ---------------------------------------------------------------------------
# Qini uplift decile table
# ---------------------------------------------------------------------------
_QINI_DECILES = 10


@register(
    "ab_qini_uplift_deciles",
    f"""
    WITH unit AS MATERIALIZED (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             ntile({_QINI_DECILES}) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS d
      FROM orders
    ), dec AS (
      SELECT d,
             sum(tr) AS n1, sum(CASE WHEN tr = 1 THEN y ELSE 0 END) AS y1,
             sum(1 - tr) AS n0, sum(CASE WHEN tr = 0 THEN y ELSE 0 END) AS y0
      FROM unit GROUP BY d
    )
    SELECT d AS decile, n1, y1, n0, y0,
           round(CAST(y1 AS DOUBLE)/n1 - CAST(y0 AS DOUBLE)/n0, 6) AS uplift,
           round(sum(y1 - CAST(y0 AS DOUBLE) * n1 / n0)
                   OVER (ORDER BY d ROWS UNBOUNDED PRECEDING), 4) AS qini
    FROM dec
    """,
)
def ab_qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini table for the high-priority 'treatment': score deciles
    (deterministic ntile on price), per-decile treated/control
    conversion and uplift, and the cumulative Qini statistic
    Q(k) = sum(y1 - y0*n1/n0) — the uplift model's decision curve.
    Integer counts, exact ratios, one grouped pass after the window."""
    orders = sf_table(spark, sf_dir, "orders")
    # Score deciles via distributed two-level rank + closed-form ntile
    # (key = -price for DESC, block = floor(-price)) — no orders-sized
    # single-task window.
    from gemini_data_wrangler_spark.operators.window import distributed_ntile

    unit = distributed_ntile(
        orders.select(
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)
            .alias("tr"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
            "o_totalprice",
            "o_orderkey",
        ),
        _QINI_DECILES,
        -F.col("o_totalprice"),
        [F.col("o_orderkey").asc()],
        F.floor(-F.col("o_totalprice")).cast("long"),
        "d",
    ).select("tr", "y", "d")
    dec = unit.groupBy("d").agg(
        F.sum("tr").alias("n1"),
        F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0)).alias("y1"),
        F.sum(1 - F.col("tr")).alias("n0"),
        F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0)).alias("y0"),
    )
    wq = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return dec.select(
        F.col("d").alias("decile"),
        "n1",
        "y1",
        "n0",
        "y0",
        F.round(
            F.col("y1").cast("double") / F.col("n1")
            - F.col("y0").cast("double") / F.col("n0"),
            6,
        ).alias("uplift"),
        F.round(
            F.sum(
                F.col("y1") - F.col("y0").cast("double") * F.col("n1") / F.col("n0")
            ).over(wq),
            4,
        ).alias("qini"),
    )
