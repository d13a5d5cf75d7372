"""Round-2 extensions, batch 19: marketing/warehouse analytics —
multi-touch attribution, RFM segmentation, hierarchy shares, and join
cardinality forecasting.

Scale notes:
- Time-decay attribution is the binned range join (`range_clicks_…`
  shape) plus per-anchor weight normalization — one (user, bucket)
  equi-join, never purchases×clicks; weights are exp() of exact integer
  second gaps so both engines exponentiate identical doubles.
- RFM collapses the fact table to one row per customer first; the
  quintile windows run over that aggregate (a single-partition sort of
  |customers| rows — at extreme scale swap ntile for an
  equi-depth-histogram bucket join, `histogram_equidepth`).
- Share-of-parent is a groupBy + one window over the aggregate keyed by
  the parent level.
- Join-cardinality forecast: |A ⋈ B| on a key = Σ_k c_A(k)·c_B(k),
  computed exactly from the two per-key count tables — the pre-flight
  check that catches key-explosion joins before they run; top
  contributors show where salting would go.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import load_sf_tables, sf_table


# ---------------------------------------------------------------------------
# Multi-touch attribution with exponential time decay (τ = 600 s)
# ---------------------------------------------------------------------------
_ATTR_WINDOW_S = 1800
_ATTR_TAU_S = 600


@register(
    "attribution_time_decay",
    f"""
    WITH p AS (
      SELECT event_id, user_id, ts, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'
    ), w AS (
      SELECT p.event_id, p.user_id, p.ts,
             exp(-((p.pus - c.cus) // 1000000)
                 / CAST({_ATTR_TAU_S} AS DOUBLE)) AS wgt
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.cus < p.pus AND c.cus >= p.pus - {_ATTR_WINDOW_S} * 1000000
    )
    SELECT event_id, user_id, ts,
           count(*) AS n_touches,
           round(sum(wgt), 6) AS total_weight,
           round(max(wgt) / sum(wgt), 6) AS last_touch_share
    FROM w GROUP BY event_id, user_id, ts
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: every click in the 30 min before a
    purchase gets weight e^(−Δ/τ) (τ = 10 min); the purchase's credit is
    split proportionally. Reported per purchase: touch count, total
    weight, and the most-recent click's share — last-touch share → 1
    recovers `asof_purchase_last_click`'s model. Gap seconds are exact
    integers (`unix_micros` arithmetic) so both engines exponentiate
    identical doubles. The join is user-keyed with a time-range
    predicate; at 100 TB bucket both sides to (user, 30-min bin) first
    (`operators/temporal.py` range_join shape) so candidates are
    bin-local, never clicks×purchases."""
    events = sf_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", us.alias("pus")
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), us.alias("cus")
    )
    # Integer floor division on both engines (gaps are positive): a
    # double-division + CAST differs — DuckDB's cast ROUNDS, Spark's
    # truncates — and a one-second gap disagreement changes the weight.
    gap_s = F.expr("(pus - cus) div 1000000")
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cus") < F.col("pus"))
        & (F.col("cus") >= F.col("pus") - _ATTR_WINDOW_S * 1_000_000),
    ).withColumn("wgt", F.exp(-gap_s / F.lit(float(_ATTR_TAU_S))))
    return joined.groupBy("event_id", "user_id", "ts").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum("wgt"), 6).alias("total_weight"),
        F.round(F.max("wgt") / F.sum("wgt"), 6).alias("last_touch_share"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------
@register(
    "customer_rfm_segments",
    """
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
    rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT mx FROM anchor))
               AS recency_days,
             count(*) AS frequency,
             round(sum(o_totalprice), 6) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
           ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
           ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
    FROM rfm
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, days since last order (anchored to
    the data's max date — deterministic, no wall clock), order count, and
    revenue, each quintiled (ties broken by custkey so both engines
    bucket identically). The fact table collapses to |customers| rows
    BEFORE the ntile windows — at extreme scale replace ntile's global
    sort with equi-depth histogram bucket joins."""
    orders = sf_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 6).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.to_date("mx"), F.to_date("last_order")).alias("recency_days"),
            "frequency",
            "monetary",
        )
        # Eager checkpoint: each distributed_ntile references its input
        # THREE ways (within-block window, per-block counts, the row-count
        # aggregate), so three chained ntiles fan the unmaterialized fact
        # aggregation out into up to 3^3 recomputed subtrees — measured
        # 5.1 s (validated r6) for a |customers|-row frame. Staging the
        # customer-level rollup (and each ntile's output, below) keeps
        # every subtree a checkpoint-block replay: 4 extra node-sized jobs
        # versus exponential plan re-derivation.
        .localCheckpoint()
    )
    # Each quintile is the distributed two-level rank + closed-form ntile
    # (`distributed_ntile`) — no customer-population-sized single-task
    # window. Blocks: recency day values spread on their own; frequency
    # (few distinct, heavy ties) sub-blocks on custkey; monetary uses
    # floor-value buckets.
    from gemini_data_wrangler_spark.operators.window import distributed_ntile

    out = distributed_ntile(
        rfm, 5, F.col("recency_days"), [F.col("o_custkey")],
        F.col("recency_days"), "r_score",
    ).localCheckpoint()
    out = distributed_ntile(
        out, 5, -F.col("frequency"), [F.col("o_custkey")],
        F.struct((-F.col("frequency")).alias("b0"),
                 F.shiftright("o_custkey", 10).alias("b1")),
        "f_score",
    ).localCheckpoint()
    out = distributed_ntile(
        out, 5, -F.col("monetary"), [F.col("o_custkey")],
        F.floor(-F.col("monetary")).cast("long"), "m_score",
    )
    return out.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


# ---------------------------------------------------------------------------
# Share-of-parent in the region → nation hierarchy
# ---------------------------------------------------------------------------
@register(
    "sales_share_of_parent",
    """
    WITH nr AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             round(sum(o.o_totalprice), 6) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, revenue,
           round(revenue / sum(revenue) OVER (PARTITION BY region), 6)
             AS share_of_region
    FROM nr
    """,
)
def sales_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy share-of-parent: nation revenue as a fraction of its
    region — the ratio-to-report pattern. The fact scan joins two
    broadcast dims, aggregates once; the share window runs over the tiny
    (region, nation) rollup."""
    t = load_sf_tables(spark, sf_dir)
    nr = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.round(F.sum("o_totalprice"), 6).alias("revenue"))
    )
    w = Window.partitionBy("region")
    return nr.select(
        "region",
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias(
            "share_of_region"
        ),
    )


# ---------------------------------------------------------------------------
# Join-cardinality forecast (pre-flight key-explosion check)
# ---------------------------------------------------------------------------
@register(
    "diag_join_cardinality",
    """
    WITH ca AS (SELECT o_custkey AS k, count(*) AS n_left FROM orders GROUP BY 1),
    cb AS (SELECT c_custkey AS k, count(*) AS n_right FROM customer GROUP BY 1),
    contrib AS (
      SELECT ca.k, ca.n_left, cb.n_right,
             ca.n_left * cb.n_right AS contribution
      FROM ca JOIN cb USING (k)
    ), tot AS (SELECT sum(contribution) AS total_join_rows FROM contrib)
    SELECT k AS o_custkey, n_left, n_right, contribution,
           (SELECT total_join_rows FROM tot) AS total_join_rows
    FROM contrib
    ORDER BY contribution DESC, o_custkey LIMIT 5
    """,
)
def diag_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-output forecast from per-key counts: |A ⋈ B| =
    Σ_k c_A(k)·c_B(k), plus the top contributing keys — the pre-flight
    check before a big join (a few keys owning most of the product means
    salt them; a total far above both inputs means rethink the join).
    Two count aggregations + a key-equi join of count tables; the fact
    tables are never joined."""
    t = load_sf_tables(spark, sf_dir)
    ca = t["orders"].groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_left")
    )
    cb = t["customer"].groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_right")
    )
    contrib = ca.join(cb, "k").select(
        "k", "n_left", "n_right", (F.col("n_left") * F.col("n_right")).alias("contribution")
    )
    total = contrib.agg(F.sum("contribution").alias("total_join_rows"))
    return (
        contrib.crossJoin(F.broadcast(total))
        .orderBy(F.col("contribution").desc(), "k")
        .limit(5)
        .select(
            F.col("k").alias("o_custkey"),
            "n_left",
            "n_right",
            "contribution",
            "total_join_rows",
        )
    )
