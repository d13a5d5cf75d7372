"""Round-2 extensions, batch 48: t-closeness, business-day latency,
population stability index.

Scale notes:
- T-CLOSENESS completes the privacy triad (`dq_k_anonymity`,
  `dq_l_diversity`): per-group EMD against the global distribution over
  a FIXED bin grid — the grid (groups × bins) bounds every shuffle; raw
  rows are reduced to bin counts map-side in one pass.
- BUSINESS-DAY latency uses a closed-form weekday counter (no calendar
  table, no per-day explode): f(d) = 5·⌊days/7⌋ + min(days mod 7, 5)
  from a fixed Monday epoch, so the latency is pure row-local
  arithmetic followed by a bounded histogram aggregate.
- PSI is two binned histograms joined on the bin id — the standard
  train/serve drift monitor; bin cardinality bounds everything after
  the first map-side-combined pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# t-closeness: per-nation EMD of the acctbal-bin distribution vs global
# ---------------------------------------------------------------------------
_TC_BINS = 4
_TC_T = 0.15  # closeness threshold


@register(
    "privacy_t_closeness",
    f"""
    WITH b AS (
      SELECT c_nationkey,
             least(CAST(floor((c_acctbal + 1000) / 3000) AS INT), {_TC_BINS - 1}) AS bin
      FROM customer
    ), g AS (
      SELECT bin, count(*) / CAST((SELECT count(*) FROM b) AS DOUBLE) AS gp
      FROM b GROUP BY bin
    ), l AS (
      SELECT c_nationkey, bin, count(*) AS c FROM b GROUP BY 1, 2
    ), tot AS (SELECT c_nationkey, sum(c) AS n FROM l GROUP BY 1),
    grid AS (
      SELECT t.c_nationkey, g.bin, g.gp, t.n,
             COALESCE(l.c, 0) / CAST(t.n AS DOUBLE) AS lp
      FROM tot t CROSS JOIN g
      LEFT JOIN l ON l.c_nationkey = t.c_nationkey AND l.bin = g.bin
    ), cumd AS (
      SELECT c_nationkey, n,
             sum(lp - gp) OVER (PARTITION BY c_nationkey ORDER BY bin) AS cd
      FROM grid
    )
    SELECT c_nationkey, any_value(n) AS group_size,
           round(sum(abs(cd)) / {_TC_BINS - 1}, 6) AS emd,
           (round(sum(abs(cd)) / {_TC_BINS - 1}, 6) <= {_TC_T}) AS t_close
    FROM cumd GROUP BY c_nationkey
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007): for each quasi-identifier
    group (nation), the earth-mover's distance between its account-
    balance distribution and the GLOBAL distribution over an ordered
    {_TC_BINS}-bin grid — k-anonymity hides who you are, l-diversity
    varies the secret, t-closeness bounds what the group MEMBERSHIP
    itself leaks about the secret's distribution. EMD over ordered bins
    is the mean |cumulative difference| (normalized by bins−1). Grid
    cardinality bounds every post-scan stage."""
    cust = sf_table(spark, sf_dir, "customer")
    b = cust.select(
        "c_nationkey",
        F.least(
            F.floor((F.col("c_acctbal") + 1000) / 3000).cast("int"),
            F.lit(_TC_BINS - 1),
        ).alias("bin"),
    )
    gc = b.groupBy("bin").agg(F.count(F.lit(1)).alias("_gc"))
    gt = gc.agg(F.sum("_gc").alias("_gt"))
    g = gc.crossJoin(F.broadcast(gt)).select(
        "bin", (F.col("_gc") / F.col("_gt").cast("double")).alias("gp")
    )
    l = b.groupBy("c_nationkey", "bin").agg(F.count(F.lit(1)).alias("c"))
    tot = l.groupBy("c_nationkey").agg(F.sum("c").alias("n"))
    grid = (
        tot.crossJoin(F.broadcast(g))
        .join(l, ["c_nationkey", "bin"], "left")
        .select(
            "c_nationkey",
            "bin",
            "gp",
            "n",
            (F.coalesce("c", F.lit(0)) / F.col("n").cast("double")).alias("lp"),
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("bin")
    cumd = grid.withColumn("cd", F.sum(F.col("lp") - F.col("gp")).over(w))
    emd = F.round(F.sum(F.abs("cd")) / (_TC_BINS - 1), 6)
    return cumd.groupBy("c_nationkey").agg(
        F.first("n").alias("group_size"),
        emd.alias("emd"),
        (emd <= _TC_T).alias("t_close"),
    )


# ---------------------------------------------------------------------------
# Business-day order→ship latency (closed-form weekday counter)
# ---------------------------------------------------------------------------
# 1994-12-26 is a Monday preceding every date in the corpus.
_BD_EPOCH = "1994-12-26"


def _bd_sql(col: str) -> str:
    d = f"date_diff('day', DATE '{_BD_EPOCH}', CAST(date_trunc('day', {col}) AS DATE))"
    return f"(5 * CAST(floor({d} / 7.0) AS BIGINT) + least({d} % 7, 5))"


@register(
    "ops_businessday_latency",
    f"""
    WITH first_ship AS (
      SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY 1
    ), lat AS (
      SELECT {_bd_sql('f.ship')} - {_bd_sql('o.o_orderdate')} AS bd
      FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
    )
    SELECT bd AS business_days, count(*) AS n_orders
    FROM lat GROUP BY bd
    """,
)
def ops_businessday_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of order→first-ship latency in BUSINESS days (weekends
    excluded) — the SLA metric ops teams actually track. Uses the
    closed-form weekday counter f(d) = 5⌊days/7⌋ + min(days mod 7, 5)
    from a fixed Monday epoch: latency = f(ship) − f(order), pure
    row-local arithmetic — no calendar dimension table, no per-day
    explode, nothing that grows with the date span. Negative buckets
    (ship before order — present in this corpus) are surfaced, not
    clamped: they are the data-quality signal. One join on orderkey
    (co-partitioned at scale via bucketing) + a bounded histogram
    aggregate."""
    li = sf_table(spark, sf_dir, "lineitem")
    orders = sf_table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship"))

    def bd(col: F.Column) -> F.Column:
        days = F.datediff(
            F.to_date(F.date_trunc("day", col)), F.lit(_BD_EPOCH).cast("date")
        )
        return 5 * F.floor(days / 7.0).cast("bigint") + F.least(
            days % 7, F.lit(5)
        )

    lat = orders.join(
        first_ship, orders["o_orderkey"] == first_ship["l_orderkey"]
    ).select((bd(F.col("ship")) - bd(F.col("o_orderdate"))).alias("bd"))
    return lat.groupBy(F.col("bd").alias("business_days")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Population stability index between two time periods
# ---------------------------------------------------------------------------
_PSI_BINS = 10
_PSI_LO, _PSI_HI = 0.0, 600000.0  # totalprice grid (fixed, engine-agnostic)


@register(
    "dq_psi_price_drift",
    f"""
    WITH binned AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'base' ELSE 'current' END AS period,
             least(CAST(floor((o_totalprice - {_PSI_LO}) / (({_PSI_HI} - {_PSI_LO}) / {_PSI_BINS})) AS INT),
                   {_PSI_BINS - 1}) AS bin
      FROM orders
    ), c AS (
      SELECT bin,
             count(*) FILTER (WHERE period = 'base') AS nb,
             count(*) FILTER (WHERE period = 'current') AS nc
      FROM binned GROUP BY bin
    ), tot AS (SELECT sum(nb) AS tb, sum(nc) AS tc FROM c),
    p AS (
      SELECT bin, greatest(nb / CAST(tb AS DOUBLE), 0.0001) AS pb,
             greatest(nc / CAST(tc AS DOUBLE), 0.0001) AS pc
      FROM c CROSS JOIN tot
    )
    SELECT round(sum((pc - pb) * ln(pc / pb)), 6) AS psi,
           count(*) AS n_bins,
           (round(sum((pc - pb) * ln(pc / pb)), 6) < 0.1) AS stable
    FROM p
    """,
)
def dq_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of order totalprice between the
    pre-1998 base period and the current period — the standard
    model-monitoring drift score (PSI < 0.1 stable, 0.1–0.25 watch,
    > 0.25 shifted), with the conventional 0.0001 floor so empty bins
    don't blow up the log. Fixed bin grid (engine-agnostic), two binned
    histograms from ONE scan via conditional counts, constant-size
    arithmetic after — the cheapest drift monitor that still localizes
    WHERE the distribution moved."""
    orders = sf_table(spark, sf_dir, "orders")
    width = (_PSI_HI - _PSI_LO) / _PSI_BINS
    binned = orders.select(
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), "base"
        )
        .otherwise("current")
        .alias("period"),
        F.least(
            F.floor((F.col("o_totalprice") - _PSI_LO) / width).cast("int"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    c = binned.groupBy("bin").agg(
        F.count(F.when(F.col("period") == "base", 1)).alias("nb"),
        F.count(F.when(F.col("period") == "current", 1)).alias("nc"),
    )
    tot = c.agg(F.sum("nb").alias("tb"), F.sum("nc").alias("tc"))
    p = c.crossJoin(F.broadcast(tot)).select(
        F.greatest(F.col("nb") / F.col("tb").cast("double"), F.lit(0.0001)).alias("pb"),
        F.greatest(F.col("nc") / F.col("tc").cast("double"), F.lit(0.0001)).alias("pc"),
    )
    psi = F.round(F.sum((F.col("pc") - F.col("pb")) * F.log(F.col("pc") / F.col("pb"))), 6)
    return p.agg(
        psi.alias("psi"),
        F.count(F.lit(1)).alias("n_bins"),
        (psi < 0.1).alias("stable"),
    )
