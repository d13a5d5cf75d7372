"""Round-2 extensions, batch 84: Cox proportional hazards (Breslow) and
propensity-score-stratified treatment effect.

Scale notes:
- COX PH reduces the corpus to the EVENT-TIME GRID: per distinct
  duration, the event counts by treatment arm plus the risk-set sizes
  (reverse cumulative totals over the bounded duration axis — a window
  over |durations| rows, not over subjects). The 1-covariate Breslow
  partial likelihood then maximizes by 8 scalar Newton steps folded over
  the sorted grid array — the same sufficient-statistic + sorted-fold
  mechanics as the grid-IRLS logistic, so coefficients match DuckDB
  value-for-value. At 100 TB the only data-scale work is the grouped
  count per (duration, arm).
- PROPENSITY STRATIFICATION pairs batch 80's grid-IRLS logistic (fit
  P(treated | price bucket, segment) on sufficient statistics) with a
  decile-stratified effect estimate where every stratum mean is a ratio
  of integer counts — the estimator itself is exact cross-engine
  arithmetic. This is the workhorse causal adjustment when treatment
  assignment correlates with observables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Cox proportional hazards, one binary covariate, Breslow ties
# ---------------------------------------------------------------------------
_COX_ITERS = 8

# Shared per-step arithmetic on the grid cell c = (t, d, d1, r0, r1):
#   num = r1 * exp(b); U  = sum d1 - d * num/(r0+num)
#   I  = sum d * r0 * num / (r0+num)^2 ; b += U / I


def _cox_spark_fold() -> str:
    num = "(c.r1 * exp(bt.b))"
    den = f"(c.r0 + {num})"
    zero = "named_struct('u', 0.0D, 'i', 0.0D)"
    merge = (
        "named_struct("
        f"'u', a.u + c.d1 - c.d * {num} / {den}, "
        f"'i', a.i + c.d * c.r0 * {num} / ({den} * {den}))"
    )
    step = (
        f"named_struct('b', bt.b + aggregate(cells, {zero},"
        f" (a, c) -> {merge}, s -> s.u / s.i))"
    )
    return (
        f"aggregate(sequence(1, {_COX_ITERS}), named_struct('b', 0.0D),"
        f" (bt, it) -> {step})"
    )


def _cox_oracle() -> str:
    num = "(c.r1 * exp(b))"
    den = f"(c.r0 + {num})"

    def s(term: str) -> str:
        return f"list_reduce(list_transform(cs, c -> ({term})), (a, x) -> a + x)"

    u = s(f"c.d1 - c.d * {num} / {den}")
    ii = s(f"c.d * c.r0 * {num} / ({den} * {den})")
    layers = ["it0 AS (SELECT 0.0 AS b)"]
    for t in range(1, _COX_ITERS + 1):
        layers.append(
            f"it{t} AS MATERIALIZED (SELECT b + ({u}) / ({ii}) AS b"
            f" FROM it{t - 1} CROSS JOIN cells)"
        )
    return f"""
    WITH subj AS MATERIALIZED (
      SELECT o.o_orderkey,
             date_diff('day', CAST(o.o_orderdate AS DATE), s.ship) AS t,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS x,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
      FROM orders o
      JOIN (SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS ship
            FROM lineitem GROUP BY l_orderkey) s ON s.l_orderkey = o.o_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ), grid0 AS MATERIALIZED (
      SELECT t,
             sum(CASE WHEN x = 1 THEN ev ELSE 0 END) AS d1,
             sum(ev) AS d,
             sum(x) AS n1, count(*) AS n
      FROM subj GROUP BY t
    ), grid AS MATERIALIZED (
      SELECT t, d, d1,
             CAST(sum(n - n1) OVER (ORDER BY t DESC) AS DOUBLE) AS r0,
             CAST(sum(n1) OVER (ORDER BY t DESC) AS DOUBLE) AS r1
      FROM grid0
    ), cells AS MATERIALIZED (
      SELECT list_sort(list(struct_pack(
               t := t, d := CAST(d AS DOUBLE), d1 := CAST(d1 AS DOUBLE),
               r0 := r0, r1 := r1))) AS cs,
             count(*) AS n_times,
             sum(d) AS n_events
      FROM grid WHERE d > 0
    ),
    {", ".join(layers)}
    SELECT round(b, 6) AS beta, round(exp(b), 4) AS hazard_ratio,
           n_events, n_times
    FROM it{_COX_ITERS} CROSS JOIN cells
    """


@register("customer_cox_hazard", _cox_oracle())
def customer_cox_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards coefficient for the BUILDING segment's
    order-completion hazard (duration = order date -> first ship date,
    event = fully shipped, Breslow tie handling). The corpus reduces to
    the event-time grid (per-duration event counts + reverse-cumulative
    risk sets over the bounded duration axis); 8 Newton steps on the
    1-parameter partial likelihood fold over the sorted grid — exact
    cross-engine parity via identical fold order."""
    orders = sf_table(spark, sf_dir, "orders")
    lineitem = sf_table(spark, sf_dir, "lineitem")
    customer = sf_table(spark, sf_dir, "customer")
    ship = lineitem.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("ship")
    )
    subj = (
        orders.join(ship, orders["o_orderkey"] == ship["l_orderkey"])
        .join(F.broadcast(customer.select("c_custkey", "c_mktsegment")),
              orders["o_custkey"] == F.col("c_custkey"))
        .select(
            F.datediff("ship", F.to_date("o_orderdate")).alias("t"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("x"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ev"),
        )
    )
    grid0 = subj.groupBy("t").agg(
        F.sum(F.when(F.col("x") == 1, F.col("ev")).otherwise(0)).alias("d1"),
        F.sum("ev").alias("d"),
        F.sum("x").alias("n1"),
        F.count(F.lit(1)).alias("n"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    grid = grid0.select(
        "t",
        "d",
        "d1",
        F.sum(F.col("n") - F.col("n1")).over(w_desc).cast("double").alias("r0"),
        F.sum("n1").over(w_desc).cast("double").alias("r1"),
    )
    packed = grid.filter(F.col("d") > 0).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "t",
                    F.col("d").cast("double").alias("d"),
                    F.col("d1").cast("double").alias("d1"),
                    "r0",
                    "r1",
                )
            )
        ).alias("cells"),
        F.count(F.lit(1)).alias("n_times"),
        F.sum("d").alias("n_events"),
    )
    return packed.withColumn("beta", F.expr(_cox_spark_fold())).select(
        F.round(F.col("beta.b"), 6).alias("beta"),
        F.round(F.exp(F.col("beta.b")), 4).alias("hazard_ratio"),
        "n_events",
        "n_times",
    )


# ---------------------------------------------------------------------------
# Propensity-score-stratified treatment effect
# ---------------------------------------------------------------------------
_PS_ITERS = 8
_PS_BUCKET = 50000
_PS_STRATA = 5


def _ps_fold() -> str:
    # identical mechanics to batch 80's 3-parameter IRLS fold, refit here
    # for the propensity model P(treated | price bucket, segment code)
    eta = "(bt.b0 + bt.b1*c.x1 + bt.b2*c.x2)"
    p = f"(1.0D/(1.0D + exp(-{eta})))"
    w = f"(c.n * {p} * (1.0D - {p}))"
    r = f"(c.k - c.n * {p})"
    zero = (
        "named_struct('h00',0.0D,'h01',0.0D,'h02',0.0D,'h11',0.0D,"
        "'h12',0.0D,'h22',0.0D,'g0',0.0D,'g1',0.0D,'g2',0.0D)"
    )
    merge = (
        "named_struct("
        f"'h00', a.h00 + {w}, 'h01', a.h01 + {w}*c.x1, 'h02', a.h02 + {w}*c.x2, "
        f"'h11', a.h11 + {w}*c.x1*c.x1, 'h12', a.h12 + {w}*c.x1*c.x2, "
        f"'h22', a.h22 + {w}*c.x2*c.x2, "
        f"'g0', a.g0 + {r}, 'g1', a.g1 + {r}*c.x1, 'g2', a.g2 + {r}*c.x2)"
    )
    det = (
        "(s.h00*(s.h11*s.h22 - s.h12*s.h12) - s.h01*(s.h01*s.h22 - s.h12*s.h02)"
        " + s.h02*(s.h01*s.h12 - s.h11*s.h02))"
    )
    finish = (
        "named_struct("
        f"'b0', bt.b0 + ((s.h11*s.h22 - s.h12*s.h12)*s.g0 + (s.h02*s.h12 - s.h01*s.h22)*s.g1"
        f" + (s.h01*s.h12 - s.h02*s.h11)*s.g2) / {det}, "
        f"'b1', bt.b1 + ((s.h02*s.h12 - s.h01*s.h22)*s.g0 + (s.h00*s.h22 - s.h02*s.h02)*s.g1"
        f" + (s.h01*s.h02 - s.h00*s.h12)*s.g2) / {det}, "
        f"'b2', bt.b2 + ((s.h01*s.h12 - s.h02*s.h11)*s.g0 + (s.h01*s.h02 - s.h00*s.h12)*s.g1"
        f" + (s.h00*s.h11 - s.h01*s.h01)*s.g2) / {det})"
    )
    step = f"aggregate(cells, {zero}, (a, c) -> {merge}, s -> {finish})"
    return (
        f"aggregate(sequence(1, {_PS_ITERS}),"
        " named_struct('b0', 0.0D, 'b1', 0.0D, 'b2', 0.0D),"
        f" (bt, it) -> {step})"
    )


def _ps_oracle() -> str:
    p = "(1.0/(1.0 + exp(-(b0 + b1*c.x1 + b2*c.x2))))"
    w = f"(c.n * {p} * (1.0 - {p}))"
    r = f"(c.k - c.n * {p})"

    def s(term: str) -> str:
        return f"list_reduce(list_transform(cs, c -> ({term})), (a, x) -> a + x)"

    sums = (
        f"{s(w)} AS h00, {s(w + '*c.x1')} AS h01, {s(w + '*c.x2')} AS h02, "
        f"{s(w + '*c.x1*c.x1')} AS h11, {s(w + '*c.x1*c.x2')} AS h12, "
        f"{s(w + '*c.x2*c.x2')} AS h22, "
        f"{s(r)} AS g0, {s(r + '*c.x1')} AS g1, {s(r + '*c.x2')} AS g2"
    )
    det = (
        "(h00*(h11*h22 - h12*h12) - h01*(h01*h22 - h12*h02)"
        " + h02*(h01*h12 - h11*h02))"
    )
    layers = ["it0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"]
    for i in range(1, _PS_ITERS + 1):
        layers.append(
            f"hg{i} AS MATERIALIZED (SELECT b0, b1, b2, {sums}"
            f" FROM it{i - 1} CROSS JOIN cells)"
        )
        layers.append(
            f"""it{i} AS MATERIALIZED (SELECT
      b0 + ((h11*h22 - h12*h12)*g0 + (h02*h12 - h01*h22)*g1 + (h01*h12 - h02*h11)*g2) / {det} AS b0,
      b1 + ((h02*h12 - h01*h22)*g0 + (h00*h22 - h02*h02)*g1 + (h01*h02 - h00*h12)*g2) / {det} AS b1,
      b2 + ((h01*h12 - h02*h11)*g0 + (h01*h02 - h00*h12)*g1 + (h00*h11 - h01*h01)*g2) / {det} AS b2
    FROM hg{i})"""
        )
    return f"""
    WITH unit AS MATERIALIZED (
      SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS tr,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             CAST(floor(o.o_totalprice / {_PS_BUCKET}) AS INT) AS x1,
             ascii(substr(c.c_mktsegment, 1, 1)) - 65 AS x2
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), grid AS MATERIALIZED (
      SELECT x1, x2, count(*) AS n, sum(tr) AS k FROM unit GROUP BY x1, x2
    ), cells AS MATERIALIZED (
      SELECT list_sort(list(struct_pack(
               x1 := CAST(x1 AS DOUBLE), x2 := CAST(x2 AS DOUBLE),
               n := CAST(n AS DOUBLE), k := CAST(k AS DOUBLE)))) AS cs
      FROM grid
    ),
    {", ".join(layers)},
    ps AS MATERIALIZED (
      SELECT u.tr, u.y,
             1.0/(1.0 + exp(-(b0 + b1*u.x1 + b2*u.x2))) AS e
      FROM unit u CROSS JOIN it{_PS_ITERS}
    ), ranked AS MATERIALIZED (
      SELECT tr, y, ntile({_PS_STRATA}) OVER (ORDER BY e, tr, y) AS stratum
      FROM ps
    ), strata AS (
      SELECT stratum, count(*) AS n,
             sum(CASE WHEN tr = 1 THEN y ELSE 0 END) AS y1,
             sum(tr) AS n1,
             sum(CASE WHEN tr = 0 THEN y ELSE 0 END) AS y0,
             sum(1 - tr) AS n0
      FROM ranked GROUP BY stratum
    )
    SELECT stratum, n, n1, n0,
           round(CAST(y1 AS DOUBLE)/n1 - CAST(y0 AS DOUBLE)/n0, 6) AS stratum_effect,
           round(sum((CAST(y1 AS DOUBLE)/n1 - CAST(y0 AS DOUBLE)/n0) * n)
                   OVER () / sum(n) OVER (), 6) AS ate_stratified
    FROM strata
    """


@register("ab_propensity_stratified_effect", _ps_oracle())
def ab_propensity_stratified_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score-stratified effect of high order priority on the
    completion rate: fit P(treated | price bucket, segment code) with the
    grid-IRLS fold (sufficient statistics only), score every unit with
    the closed-form linear predictor, cut {_PS_STRATA} propensity strata
    (deterministic tie-broken ntile), and report each stratum's
    treated-minus-control completion-rate difference plus the
    stratum-size-weighted ATE — every mean a ratio of integer counts, so
    the estimate is exact cross-engine arithmetic."""
    orders = sf_table(spark, sf_dir, "orders")
    customer = sf_table(spark, sf_dir, "customer")
    unit = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .select(
            F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)
            .alias("tr"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
            F.floor(F.col("o_totalprice") / _PS_BUCKET).cast("int").alias("x1"),
            (F.ascii(F.substring("c_mktsegment", 1, 1)) - 65).alias("x2"),
        )
        .localCheckpoint()  # eager: grid and the scoring branch both scan it
    )
    grid = unit.groupBy("x1", "x2").agg(
        F.count(F.lit(1)).alias("n"), F.sum("tr").alias("k")
    )
    packed = grid.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("x1").cast("double").alias("x1"),
                    F.col("x2").cast("double").alias("x2"),
                    F.col("n").cast("double").alias("n"),
                    F.col("k").cast("double").alias("k"),
                )
            )
        ).alias("cells")
    )
    beta = packed.withColumn("beta", F.expr(_ps_fold())).select(
        F.col("beta.b0").alias("b0"),
        F.col("beta.b1").alias("b1"),
        F.col("beta.b2").alias("b2"),
    )
    ps = unit.crossJoin(F.broadcast(beta)).select(
        "tr",
        "y",
        (
            1.0
            / (
                1.0
                + F.exp(-(F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2")))
            )
        ).alias("e"),
    )
    # Strata via distributed two-level rank + closed-form ntile (block =
    # 256 propensity-value buckets) — no unit-population-sized
    # single-task window.
    from gemini_data_wrangler_spark.operators.window import distributed_ntile

    ranked = distributed_ntile(
        ps.select("tr", "y", "e"),
        _PS_STRATA,
        F.col("e"),
        [F.col("tr"), F.col("y")],
        F.floor(F.col("e") * 256).cast("long"),
        "stratum",
    ).select("tr", "y", "stratum")
    strata = ranked.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0)).alias("y1"),
        F.sum("tr").alias("n1"),
        F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0)).alias("y0"),
        F.sum(1 - F.col("tr")).alias("n0"),
    )
    eff = (F.col("y1").cast("double") / F.col("n1")) - (
        F.col("y0").cast("double") / F.col("n0")
    )
    w_all = Window.partitionBy()
    return strata.select(
        "stratum",
        "n",
        "n1",
        "n0",
        F.round(eff, 6).alias("stratum_effect"),
        F.round(
            F.sum(eff * F.col("n")).over(w_all) / F.sum("n").over(w_all), 6
        ).alias("ate_stratified"),
    )
