"""Round-2 extensions, batch 72: cross-validated string-distance scoring
(Jaro-Winkler, unrestricted Damerau-Levenshtein).

These two queries are deliberate IMPLEMENTATION cross-checks: the Spark
side runs our pure-Python kernels (`functions/strings.py`, Arrow-batched
pandas UDFs), the oracle runs DuckDB's NATIVE `jaro_winkler_similarity` /
`damerau_levenshtein` — two independently-written implementations of the
published algorithms must agree pair-for-pair, value-for-value.

Scale notes:
- Both queries block first (equi-join on block keys), score after — the
  pandas UDF sees candidate pairs only, never a cross product. The
  quadratic term is per-block; block keys are chosen so block size is
  bounded by data semantics (brand×size, nation), the same posture as
  `fuzzy_match_customer_names` and the ER bank.
- Scoring is the Arrow slow path by design (the kernels have no JVM
  equivalent); throughput scales with partition count, and the
  per-pair cost is O(|s|²) on short attribute strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


_JW_MIN = 0.8


@register(
    "fuzzy_jaro_winkler_parts",
    f"""
    SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
           round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= {_JW_MIN}
    """,
)
def fuzzy_jaro_winkler_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part names by Jaro-Winkler ≥ {0.8} within
    (brand, size) blocks. Spark scores with our pure-Python kernel
    (`functions/strings.py::jaro_winkler`); the oracle scores with
    DuckDB's native implementation — hash equality certifies the match
    window / transposition / prefix-boost semantics, not just row
    counts."""
    from gemini_data_wrangler_spark.functions.strings import jaro_winkler_udf

    # Marked non-deterministic (round 7, guide §4.4): the jw >= floor
    # filter below references the UDF column, and Catalyst pushes the
    # filter BELOW the projection by duplicating the UDF — the plan
    # carried TWO ArrowEvalPython nodes, scoring every candidate pair
    # twice. Non-deterministic forbids the duplication; one eval per
    # pair, same rows (the kernel is pure).
    jw_udf = jaro_winkler_udf().asNondeterministic()

    part = sf_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("partkey_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
        "p_size",
    )
    b = part.select(
        F.col("p_partkey").alias("partkey_b"),
        F.col("p_name").alias("name_b"),
        "p_brand",
        "p_size",
    )
    jw = F.round(jw_udf(F.col("name_a"), F.col("name_b")), 6)
    return (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("partkey_a") < F.col("partkey_b"))
        .select("partkey_a", "partkey_b", jw.alias("jw"))
        .filter(F.col("jw") >= _JW_MIN)
    )


@register(
    "fuzzy_damerau_suppliers",
    """
    SELECT a.s_suppkey AS suppkey_a, b.s_suppkey AS suppkey_b,
           damerau_levenshtein(a.s_name, b.s_name) AS dl
    FROM supplier a
    JOIN supplier b
      ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
    """,
)
def fuzzy_damerau_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distances between same-nation supplier names under
    UNRESTRICTED Damerau-Levenshtein (transposition + later edits, the
    Lowrance-Wagner variant — d("CA","ABC") = 2 where OSA says 3).
    Spark runs our DP kernel; the oracle runs DuckDB's native
    `damerau_levenshtein`. Integer distances, so agreement is exact by
    construction — any algorithmic divergence (OSA vs unrestricted,
    off-by-one windows) breaks the hash."""
    from gemini_data_wrangler_spark.functions.strings import damerau_levenshtein_udf

    supp = sf_table(spark, sf_dir, "supplier")
    a = supp.select(
        F.col("s_suppkey").alias("suppkey_a"),
        F.col("s_name").alias("name_a"),
        "s_nationkey",
    )
    b = supp.select(
        F.col("s_suppkey").alias("suppkey_b"),
        F.col("s_name").alias("name_b"),
        "s_nationkey",
    )
    return (
        a.join(b, "s_nationkey")
        .filter(F.col("suppkey_a") < F.col("suppkey_b"))
        .select(
            "suppkey_a",
            "suppkey_b",
            damerau_levenshtein_udf()(F.col("name_a"), F.col("name_b")).alias("dl"),
        )
    )
