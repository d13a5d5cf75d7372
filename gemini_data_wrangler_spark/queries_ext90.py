"""Round-2 extensions, batch 90: time-respecting 2-hop reachability and
Bloom-filter false-positive calibration.

Scale notes:
- TEMPORAL REACHABILITY: static connectivity overstates influence when
  edges carry timestamps — a path only transmits if hop times increase.
  The 2-hop time-respecting closure is two self-joins of the dated edge
  list with a time inequality on the middle vertex (shuffle-keyed on the
  join vertex; the date predicate prunes inside the join), then a
  distinct count per source. Top-K dated edges bound the working set the
  same way the BFS budget does.
- BLOOM CALIBRATION: the filter is 2^14 bits stored as 32-bit words (shift <= 31 keeps
  DuckDB's checked left-shift in range) built
  with ONE grouped bit_or over the k=4 hash positions of every member
  key (the mergeable representation — each partition ORs its partial
  words, the reduce ORs across partitions). Probing evaluates all k bit
  tests per candidate key against the broadcast word table. Observed
  false-positive rate on known non-members lands within the binomial
  band of the theoretical (1 - e^{{-kn/m}})^k — all integer/bit
  arithmetic, exact cross-engine parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Time-respecting 2-hop reachability on the dated supplier co-order graph
# ---------------------------------------------------------------------------
_TR_TOPK = 1500
_TR_OUT = 20


@register(
    "graph_temporal_reach",
    f"""
    WITH li AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey AS ok, l.l_suppkey AS s,
             CAST(o.o_orderdate AS DATE) AS d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), co AS MATERIALIZED (
      SELECT a.s AS sa, b.s AS sb, a.d, count(*) AS c
      FROM li a JOIN li b ON a.ok = b.ok AND a.s <> b.s
      GROUP BY a.s, b.s, a.d
    ), ranked AS (
      SELECT sa, sb, d, row_number() OVER (ORDER BY c DESC, sa, sb, d) AS r
      FROM co
    ), e AS MATERIALIZED (
      SELECT sa AS src, sb AS dst, d FROM ranked WHERE r <= {_TR_TOPK}
    ), hop1 AS (
      SELECT DISTINCT src, dst FROM e
    ), hop2 AS (
      SELECT DISTINCT e1.src, e2.dst
      FROM e e1 JOIN e e2 ON e2.src = e1.dst AND e2.d > e1.d
      WHERE e2.dst <> e1.src
    ), reach AS (
      SELECT src, count(DISTINCT dst) AS n_reachable FROM (
        SELECT src, dst FROM hop1 UNION SELECT src, dst FROM hop2
      ) GROUP BY src
    )
    SELECT src AS supplier, n_reachable
    FROM reach ORDER BY n_reachable DESC, src ASC LIMIT {_TR_OUT}
    """,
)
def graph_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TR_OUT} suppliers by time-respecting 2-hop reach on the
    dated co-order graph: a 2-hop path counts only if the second edge's
    order date strictly FOLLOWS the first's — static closure overstates
    influence on temporal networks. Two vertex-keyed self-joins with the
    date inequality evaluated inside the join, distinct-union of the hop
    sets, TakeOrderedAndProject for the top-K."""
    orders = sf_table(spark, sf_dir, "orders")
    lineitem = sf_table(spark, sf_dir, "lineitem")
    # Staged once (round 7): `li` feeds BOTH sides of the co-order
    # self-join below — unpersisted, the lineitem⋈orders+distinct
    # pipeline ran twice. Released right after `e` materializes (its
    # localCheckpoint is eager), so nothing downstream still reads it.
    li = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_suppkey").alias("s"),
            F.to_date("o_orderdate").alias("d"),
        )
        .distinct()
        .persist()
    )
    a = li.select(F.col("ok"), F.col("s").alias("sa"), F.col("d"))
    b = li.select(F.col("ok"), F.col("s").alias("sb"))
    co = (
        a.join(b, "ok")
        .filter(F.col("sa") != F.col("sb"))
        .groupBy("sa", "sb", "d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Top-K edge budget via orderBy+limit (TakeOrderedAndProject) — no
    # pair-table-sized single-task window.
    e = (
        co.orderBy(F.desc("c"), "sa", "sb", "d")
        .limit(_TR_TOPK)
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"), "d")
        .localCheckpoint()
    )
    li.unpersist()
    hop1 = e.select("src", "dst").distinct()
    e1 = e.select(F.col("src"), F.col("dst").alias("mid"), F.col("d").alias("d1"))
    e2 = e.select(F.col("src").alias("mid"), F.col("dst"), F.col("d").alias("d2"))
    hop2 = (
        e1.join(e2, "mid")
        .filter((F.col("d2") > F.col("d1")) & (F.col("dst") != F.col("src")))
        .select("src", "dst")
        .distinct()
    )
    reach = (
        hop1.unionByName(hop2)
        .distinct()
        .groupBy("src")
        .agg(F.countDistinct("dst").alias("n_reachable"))
    )
    return (
        reach.orderBy(F.desc("n_reachable"), F.asc("src"))
        .limit(_TR_OUT)
        .select(F.col("src").alias("supplier"), "n_reachable")
    )


# ---------------------------------------------------------------------------
# Bloom filter false-positive calibration
# ---------------------------------------------------------------------------
_BLOOM_BITS = 1 << 10  # m = 1024 bits, 32-bit words (load sized so the
# sf0.01 fixture produces a measurable, calibratable FP rate)
_BLOOM_K = 4
_BLOOM_WORDS = _BLOOM_BITS // 32


def _bloom_pos_sql(key: str, i: int) -> str:
    # position i = md5-derived 14-bit integer (first 8 hex of md5(key:i))
    return (
        f"(CAST(conv(substring(md5(concat(CAST({key} AS STRING), ':', '{i}')), 1, 8),"
        f" 16, 10) AS BIGINT) % {_BLOOM_BITS})"
    )


def _bloom_pos_duck(key: str, i: int) -> str:
    return (
        f"(CAST(list_sum(list_transform(range(1, 9), j ->"
        f" (strpos('0123456789abcdef', substring(md5(CAST({key} AS VARCHAR) || ':{i}'),"
        f" j, 1)) - 1) * power(16, 8 - j))) AS BIGINT) % {_BLOOM_BITS})"
    )


def _bloom_oracle() -> str:
    member_pos = " UNION ALL ".join(
        f"SELECT {_bloom_pos_duck('s_suppkey', i)} AS p FROM supplier"
        for i in range(_BLOOM_K)
    )
    pos_cols = ", ".join(
        f"{_bloom_pos_duck('c_custkey + 1000000', i)} AS p{i}"
        for i in range(_BLOOM_K)
    )
    word_joins = " ".join(
        f"LEFT JOIN words w{i} ON w{i}.w = pr.p{i} // 32" for i in range(_BLOOM_K)
    )
    checks = " AND ".join(
        f"(COALESCE(w{i}.word, 0) & (CAST(1 AS BIGINT) << (pr.p{i} % 32))) != 0"
        for i in range(_BLOOM_K)
    )
    return f"""
    WITH pos AS MATERIALIZED ({member_pos}),
    words AS MATERIALIZED (
      SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << (p % 32)) AS word
      FROM pos GROUP BY p // 32
    ), members AS (SELECT count(*) AS n_members FROM supplier),
    probes0 AS MATERIALIZED (
      SELECT c_custkey, {pos_cols} FROM customer
    ), probes AS MATERIALIZED (
      SELECT pr.c_custkey, CASE WHEN {checks} THEN 1 ELSE 0 END AS hit
      FROM probes0 pr {word_joins}
    )
    SELECT (SELECT n_members FROM members) AS n_members,
           count(*) AS n_probes,
           sum(hit) AS n_false_positives,
           round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS fp_rate,
           round(power(1.0 - exp(-{_BLOOM_K}.0
                   * (SELECT n_members FROM members) / {_BLOOM_BITS}), {_BLOOM_K}), 6)
             AS fp_theory,
           (CAST(sum(hit) AS DOUBLE) / count(*)
              <= 3.0 * power(1.0 - exp(-{_BLOOM_K}.0
                   * (SELECT n_members FROM members) / {_BLOOM_BITS}), {_BLOOM_K}) + 0.01)
             AS bound_ok
    FROM probes
    """


@register("sketch_bloom_fp_check", _bloom_oracle())
def sketch_bloom_fp_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive calibration: build an m={_BLOOM_BITS}-
    bit / k={_BLOOM_K}-hash filter over the supplier keys with ONE
    grouped bit_or (the mergeable word table — partitions OR partial
    words, the reduce ORs across partitions), probe with known
    non-member keys (offset customer keys), and pin the observed FP rate
    within 3x of the (1-e^-kn/m)^k theory (+binomial slack). Bit-exact
    across engines: md5-derived positions and 64-bit word arithmetic
    only."""
    supplier = sf_table(spark, sf_dir, "supplier")
    customer = sf_table(spark, sf_dir, "customer")
    pos = None
    for i in range(_BLOOM_K):
        p = supplier.select(F.expr(_bloom_pos_sql("s_suppkey", i)).alias("p"))
        pos = p if pos is None else pos.unionAll(p)
    words = pos.groupBy((F.col("p") / 32).cast("bigint").alias("w")).agg(
        F.expr(f"bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)))").alias(
            "word"
        )
    )
    n_members = supplier.count()
    probe = customer.select((F.col("c_custkey") + 1000000).alias("key"))
    checks = None
    for i in range(_BLOOM_K):
        pe = F.expr(_bloom_pos_sql("key", i))
        probe = probe.withColumn(f"_p{i}", pe)
    for i in range(_BLOOM_K):
        w_i = words.select(
            F.col("w").alias(f"_w{i}"), F.col("word").alias(f"_word{i}")
        )
        probe = probe.join(
            F.broadcast(w_i),
            (F.col(f"_p{i}") / 32).cast("bigint") == F.col(f"_w{i}"),
            "left",
        )
        bit = F.expr(
            f"coalesce(_word{i}, 0L) & shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % 32 AS INT))"
        )
        c = bit != 0
        checks = c if checks is None else (checks & c)
    probed = probe.withColumn("hit", F.when(checks, 1).otherwise(0))
    theory = (1.0 - F.exp(F.lit(-float(_BLOOM_K) * n_members / _BLOOM_BITS))) ** _BLOOM_K
    return probed.agg(
        F.lit(n_members).alias("n_members"),
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("hit").alias("n_false_positives"),
        F.round(F.sum("hit").cast("double") / F.count(F.lit(1)), 6).alias("fp_rate"),
        F.round(theory, 6).alias("fp_theory"),
        (
            F.sum("hit").cast("double") / F.count(F.lit(1))
            <= 3.0 * theory + 0.01
        ).alias("bound_ok"),
    )
