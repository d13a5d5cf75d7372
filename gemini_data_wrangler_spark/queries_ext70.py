"""Round-2 extensions, batch 70: geospatial join bank.

The schema carries no coordinates, so every query derives deterministic
lat/lon from md5(key) — the content-hash→uniform trick of
`sample_deterministic_hash`. The affine map from the exact 32-bit hash
integer uses only IEEE +,*,/ so Spark and DuckDB produce BIT-IDENTICAL
doubles; only the trig (haversine) can differ by ulps, and every trig
output is rounded before it is compared or emitted.

Scale notes:
- RADIUS PAIRS is the canonical distributed spatial join: integer grid
  cells sized ≥ the search radius, the smaller side exploded to its
  3×3 cell neighborhood, an EQUI-join on the cell id (hash shuffle —
  never a cross join), then the exact haversine refine. Candidate
  completeness is geometric: within R km, |Δlat| ≤ R/111° < cell and
  |Δlon| ≤ R/(111·cos 60°)° < cell for |lat| ≤ 60°, so true pairs land
  in adjacent cells by construction. At 100 TB both sides shuffle by
  cell; skewed cells split under AQE like any hash join.
- NEAREST HUB broadcasts the tiny hub table and reduces per-row with a
  min(struct) partial aggregate — no window, no shuffle of the ×K
  candidate rows past the map-side combine.
- CELL DENSITY is a plain two-key hash aggregate (the geohash-bucket
  histogram); BBOX JOIN broadcasts the 25 boxes as a theta-join and
  left-joins counts back so empty boxes survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Deterministic coordinates: lat ∈ [-60, 60), lon ∈ [-180, 180)
# ---------------------------------------------------------------------------
def _coords(key, salt: str):
    """(lat, lon) Spark columns from md5(salt||key) — exact integer / 2^32
    then affine: bit-identical across engines (no libm involved)."""
    s = F.concat(F.lit(salt), key.cast("string"))
    h1 = F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("bigint")
    lat = F.lit(-60.0) + F.lit(120.0) * (h1 / F.lit(4294967296.0))
    lon = F.lit(-180.0) + F.lit(360.0) * (h2 / F.lit(4294967296.0))
    return lat, lon


def _coords_sql(key: str, salt: str) -> tuple[str, str]:
    s = f"('{salt}' || CAST({key} AS VARCHAR))"
    h1 = f"CAST(('0x' || substring(md5({s}), 1, 8)) AS BIGINT)"
    h2 = f"CAST(('0x' || substring(md5({s}), 9, 8)) AS BIGINT)"
    return (
        f"(-60.0 + 120.0 * ({h1} / 4294967296.0))",
        f"(-180.0 + 360.0 * ({h2} / 4294967296.0))",
    )


_EARTH_DIAM_KM = 12742.0176  # 2 × mean radius 6371.0088


def _haversine(lat1, lon1, lat2, lon2):
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
        * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(_EARTH_DIAM_KM) * F.asin(F.sqrt(a))


def _haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"({_EARTH_DIAM_KM} * asin(sqrt("
        f"  sin(radians(({lat2}) - ({lat1})) / 2) * sin(radians(({lat2}) - ({lat1})) / 2)"
        f"  + cos(radians({lat1})) * cos(radians({lat2}))"
        f"    * sin(radians(({lon2}) - ({lon1})) / 2) * sin(radians(({lon2}) - ({lon1})) / 2)"
        f")))"
    )


# ---------------------------------------------------------------------------
# Fixed-radius spatial join: supplier–customer pairs within 200 km
# ---------------------------------------------------------------------------
_RADIUS_KM = 200.0
_CELL_LAT_DEG = 2.0  # ≥ 200/111.0 = 1.802° → Δlat spans ≤ 1 cell
_CELL_LON_DEG = 4.0  # ≥ 200/(111·cos 60°) = 3.604° → Δlon spans ≤ 1 cell

_RADIUS_ORACLE = None  # assembled below


def _radius_oracle() -> str:
    clat, clon = _coords_sql("c_custkey", "C")
    slat, slon = _coords_sql("s_suppkey", "S")
    d = _haversine_sql("s.lat", "s.lon", "c.lat", "c.lon")
    return f"""
    WITH c AS (SELECT c_custkey, {clat} AS lat, {clon} AS lon FROM customer),
         s AS (SELECT s_suppkey, {slat} AS lat, {slon} AS lon FROM supplier)
    SELECT s.s_suppkey, c.c_custkey, round({d}, 3) AS dist_km
    FROM s JOIN c ON round({d}, 3) <= {_RADIUS_KM}
    """


@register("geo_radius_pairs", _radius_oracle())
def geo_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All supplier–customer pairs within 200 km (haversine): grid-cell
    blocking (2°×4° integer cells, supplier exploded to its 3×3
    neighborhood) + equi-join on the cell + exact refine. The oracle is
    the brute-force cross join — equality proves the candidate grid is
    complete. The Spark plan is a hash join on (cx, cy), NOT a nested
    loop; at 100 TB the cell id is the shuffle key and the 9× explode
    stays on the smaller side."""
    cust = sf_table(spark, sf_dir, "customer")
    supp = sf_table(spark, sf_dir, "supplier")
    clat, clon = _coords(F.col("c_custkey"), "C")
    slat, slon = _coords(F.col("s_suppkey"), "S")
    c = cust.select(
        "c_custkey",
        clat.alias("clat"),
        clon.alias("clon"),
        F.floor(clat / _CELL_LAT_DEG).alias("cx"),
        F.floor(clon / _CELL_LON_DEG).alias("cy"),
    )
    off = F.explode(F.expr("sequence(-1, 1)"))
    s = (
        supp.select("s_suppkey", slat.alias("slat"), slon.alias("slon"))
        .withColumn("dx", off)
        .withColumn("dy", F.explode(F.expr("sequence(-1, 1)")))
        .select(
            "s_suppkey",
            "slat",
            "slon",
            (F.floor(F.col("slat") / _CELL_LAT_DEG) + F.col("dx")).alias("cx"),
            (F.floor(F.col("slon") / _CELL_LON_DEG) + F.col("dy")).alias("cy"),
        )
    )
    d = F.round(_haversine(F.col("slat"), F.col("slon"), F.col("clat"), F.col("clon")), 3)
    return (
        s.join(c, ["cx", "cy"])
        .select("s_suppkey", "c_custkey", d.alias("dist_km"))
        .filter(F.col("dist_km") <= _RADIUS_KM)
    )


# ---------------------------------------------------------------------------
# Nearest hub: each customer's closest of the 25 nation hubs
# ---------------------------------------------------------------------------
def _nearest_hub_oracle() -> str:
    clat, clon = _coords_sql("c_custkey", "C")
    hlat, hlon = _coords_sql("n_nationkey", "N")
    d = _haversine_sql("h.lat", "h.lon", "c.lat", "c.lon")
    return f"""
    WITH c AS (SELECT c_custkey, {clat} AS lat, {clon} AS lon FROM customer),
         h AS (SELECT n_nationkey, {hlat} AS lat, {hlon} AS lon FROM nation),
         ranked AS (
           SELECT c.c_custkey, h.n_nationkey, round({d}, 3) AS dist_km,
                  row_number() OVER (
                    PARTITION BY c.c_custkey
                    ORDER BY round({d}, 6), h.n_nationkey) AS rn
           FROM c CROSS JOIN h
         )
    SELECT c_custkey, n_nationkey AS hub_key, dist_km
    FROM ranked WHERE rn = 1
    """


@register("geo_nearest_hub", _nearest_hub_oracle())
def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub assignment: broadcast the 25 hubs against every
    customer and reduce with min(struct(dist, hub)) — a map-side partial
    aggregate, so the shuffle carries ONE row per customer, not 25.
    Distances are rounded to 6 dp before the argmin (trig ulps cannot
    flip the winner) with the hub key as the deterministic tiebreak."""
    cust = sf_table(spark, sf_dir, "customer")
    nation = sf_table(spark, sf_dir, "nation")
    clat, clon = _coords(F.col("c_custkey"), "C")
    hlat, hlon = _coords(F.col("n_nationkey"), "N")
    c = cust.select("c_custkey", clat.alias("clat"), clon.alias("clon"))
    h = nation.select(
        F.col("n_nationkey").alias("hub_key"), hlat.alias("hlat"), hlon.alias("hlon")
    )
    d = _haversine(F.col("hlat"), F.col("hlon"), F.col("clat"), F.col("clon"))
    best = F.min(
        F.struct(
            F.round(d, 6).alias("d6"),
            F.col("hub_key").alias("hub_key"),
            F.round(d, 3).alias("d3"),
        )
    ).alias("best")
    return (
        c.crossJoin(F.broadcast(h))
        .groupBy("c_custkey")
        .agg(best)
        .select(
            "c_custkey",
            F.col("best.hub_key").alias("hub_key"),
            F.col("best.d3").alias("dist_km"),
        )
    )


# ---------------------------------------------------------------------------
# Cell density: 5°×5° grid histogram of customers
# ---------------------------------------------------------------------------
def _cell_density_oracle() -> str:
    clat, clon = _coords_sql("c_custkey", "C")
    return f"""
    WITH c AS (SELECT c_custkey, c_acctbal, {clat} AS lat, {clon} AS lon FROM customer)
    SELECT CAST(floor(lat / 5.0) AS BIGINT) AS cell_x,
           CAST(floor(lon / 5.0) AS BIGINT) AS cell_y,
           count(*) AS n_customers,
           round(avg(c_acctbal), 6) AS avg_acctbal
    FROM c GROUP BY 1, 2
    """


@register("geo_cell_density", _cell_density_oracle())
def geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-style cell histogram: floor-divide the (bit-identical)
    coordinates into 5° cells and hash-aggregate — the density heatmap /
    hot-cell detection primitive. Pure partial-agg shuffle keyed by the
    cell id; cardinality is bounded by the grid (24×72), so the reduce
    side is trivially small at any input scale."""
    cust = sf_table(spark, sf_dir, "customer")
    clat, clon = _coords(F.col("c_custkey"), "C")
    return (
        cust.select("c_acctbal", clat.alias("lat"), clon.alias("lon"))
        .groupBy(
            F.floor(F.col("lat") / 5.0).alias("cell_x"),
            F.floor(F.col("lon") / 5.0).alias("cell_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Bounding-box containment: customers inside each nation's box
# ---------------------------------------------------------------------------
_BOX_HALF_LAT = 8.0
_BOX_HALF_LON = 16.0


def _bbox_oracle() -> str:
    clat, clon = _coords_sql("c_custkey", "C")
    blat, blon = _coords_sql("n_nationkey", "B")
    return f"""
    WITH c AS (SELECT c_custkey, {clat} AS lat, {clon} AS lon FROM customer),
         b AS (SELECT n_nationkey, n_name, {blat} AS lat, {blon} AS lon FROM nation),
         cnt AS (
           SELECT b.n_nationkey, count(*) AS n
           FROM b JOIN c
             ON c.lat BETWEEN b.lat - {_BOX_HALF_LAT} AND b.lat + {_BOX_HALF_LAT}
            AND c.lon BETWEEN b.lon - {_BOX_HALF_LON} AND b.lon + {_BOX_HALF_LON}
           GROUP BY b.n_nationkey
         )
    SELECT b.n_nationkey, b.n_name, coalesce(cnt.n, 0) AS n_customers
    FROM b LEFT JOIN cnt ON b.n_nationkey = cnt.n_nationkey
    """


@register("geo_bbox_join", _bbox_oracle())
def geo_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box containment counts: 25 nation boxes (16°×32°)
    broadcast against the customer scan as a range theta-join, counts
    left-joined back so empty boxes report 0. The box side is always the
    broadcast side; the comparisons are on bit-identical doubles (no
    trig), so no rounding is needed anywhere."""
    cust = sf_table(spark, sf_dir, "customer")
    nation = sf_table(spark, sf_dir, "nation")
    clat, clon = _coords(F.col("c_custkey"), "C")
    blat, blon = _coords(F.col("n_nationkey"), "B")
    c = cust.select(clat.alias("lat"), clon.alias("lon"))
    b = nation.select("n_nationkey", "n_name", blat.alias("blat"), blon.alias("blon"))
    cond = (
        F.col("lat").between(F.col("blat") - _BOX_HALF_LAT, F.col("blat") + _BOX_HALF_LAT)
        & F.col("lon").between(
            F.col("blon") - _BOX_HALF_LON, F.col("blon") + _BOX_HALF_LON
        )
    )
    cnt = (
        c.join(F.broadcast(b), cond)
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        b.join(cnt, "n_nationkey", "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_customers"),
        )
    )
