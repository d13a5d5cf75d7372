"""Declared query inventory — the correctness surface of the engine.

Each entry is a (builder, oracle_sql) pair: the builder runs REAL engine
code (stage IR → PipelineRunner → DataFrame), and the oracle is equivalent
ANSI SQL that DuckDB executes on the same parquet tables. The driver
hash-compares both at sf0.01 (__spark_entry__.py contract).

Every aggregate/computed column is aliased identically on both sides
(driver compares after sorting columns by name).

Inventory covers SURVEY.md §2's operator table line by line:
join (4 types × same/different key-name), union/union-all, every filter
operator, grouped + global aggregation (SUM/COUNT/AVG/MAX/MIN + COUNT(*)),
projection, multi-key sort, custom SQL — then the engine extensions
(window functions, dedup, similarity, text analysis, streaming-style
event windows) registered by their own modules.
"""

from __future__ import annotations

import functools
import gc
import importlib
import os
import pkgutil
import re
import sys
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from gemini_data_wrangler_spark.operators.pipeline import PipelineRunner
from gemini_data_wrangler_spark.sources.readers import load_sf_tables

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (builder, oracle_sql or None)
_REGISTRY: dict[str, tuple[QueryFn, Optional[str]]] = {}


def register(name: str, oracle: Optional[str]):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def _module_order(name: str) -> tuple:
    """``queries_ext``, then ``queries_ext2`` … by number, then the rest."""
    m = re.fullmatch(r"queries_ext(\d*)", name)
    return (0, int(m.group(1) or 1), name) if m else (1, 0, name)


def registry() -> dict[str, tuple[QueryFn, Optional[str]]]:
    """Every declared query, in registration order. Each ``queries_*``
    module of the package registers its queries when imported."""
    import gemini_data_wrangler_spark as pkg

    names = [m.name for m in pkgutil.iter_modules(pkg.__path__) if m.name.startswith("queries_")]
    for name in sorted(names, key=_module_order):
        importlib.import_module(f"{pkg.__name__}.{name}")
    return dict(_REGISTRY)


def host_steal_s() -> float:
    """Cumulative host CPU steal over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        steal_ticks = int(fh.readline().split()[8])
    return steal_ticks / os.sysconf("SC_CLK_TCK")


def env_fingerprint(spark: SparkSession) -> dict:
    """Engine versions for a run artifact: a result that differs in one
    environment only is localized by comparing these across artifacts."""
    import duckdb
    import numpy

    return {
        "spark": spark.version,
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "python": ".".join(map(str, sys.version_info[:3])),
    }


def run_each(
    spark: SparkSession,
    sf_dir: str,
    names: list[str],
    run: Callable[[str, Callable[[], DataFrame], Optional[str]], dict],
) -> dict[str, dict]:
    """The one query-run loop of the bench, the parity runner and plan
    capture: ``run(name, build, oracle)`` for each name, where ``build()``
    returns the query's DataFrame over ``sf_dir``.

    Unknown names raise ``ValueError`` before any query runs. Each record
    is ``run``'s dict plus ``err`` (the exception, if ``run`` raised) and
    ``steal_s`` (host CPU steal during ``run``). After each query,
    ``clearCache`` drops the SQL cache and the Python then JVM collections
    let the ContextCleaner free localCheckpoint blocks, so every query
    starts from a clean block manager.
    """
    reg = registry()
    unknown = sorted(set(names) - set(reg))
    if unknown:
        raise ValueError(f"unknown query names: {', '.join(unknown)}")
    records: dict[str, dict] = {}
    for name in names:
        builder, oracle = reg[name]
        rec: dict = {"err": None}
        steal0 = host_steal_s()
        try:
            rec.update(run(name, functools.partial(builder, spark, sf_dir), oracle))
        except Exception as exc:  # noqa: BLE001 — one bad query must not end the run
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["steal_s"] = round(host_steal_s() - steal0, 2)
        records[name] = rec
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    return records


def make_runner(spark: SparkSession, sf_dir: str) -> PipelineRunner:
    tables = load_sf_tables(spark, sf_dir)
    return PipelineRunner(spark=spark, tables=tables)


def run_stages(spark: SparkSession, sf_dir: str, stages: list[dict]) -> DataFrame:
    runner = make_runner(spark, sf_dir)
    results = runner.run(stages)
    return results[-1].df


# ---------------------------------------------------------------------------
# 1. Flagship: the reference's golden pipeline (ui/src/sampleStages.json —
# orders ⋈ customers) re-targeted to driver testdata; JOIN+GROUP+SORT.
# ---------------------------------------------------------------------------
@register(
    "flagship_segment_sales",
    """
    SELECT c_mktsegment,
           SUM(o_totalprice) AS total_sales,
           COUNT(*) AS order_count
    FROM orders INNER JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY total_sales DESC
    """,
)
def flagship_segment_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "orders",
                    "rightTable": "customer",
                    "leftKey": "o_custkey",
                    "rightKey": "c_custkey",
                },
            },
            {
                "id": "stage_1",
                "type": "GROUP",
                "data": {
                    "groupBy": ["c_mktsegment"],
                    "aggregations": [
                        {"function": "SUM", "column": "o_totalprice", "alias": "total_sales"},
                        {"function": "COUNT", "column": "*", "alias": "order_count"},
                    ],
                },
            },
            {
                "id": "stage_2",
                "type": "SORT",
                "data": {"orderBy": [{"column": "total_sales", "direction": "DESC"}]},
            },
        ],
    )


# ---------------------------------------------------------------------------
# 2. JOIN variants (SURVEY §2.1 #2)
# ---------------------------------------------------------------------------
@register(
    "join_inner_diff_keys",
    "SELECT c.*, n.* FROM customer c INNER JOIN nation n ON c.c_nationkey = n.n_nationkey",
)
def join_inner_diff_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "customer",
                    "rightTable": "nation",
                    "leftKey": "c_nationkey",
                    "rightKey": "n_nationkey",
                    "broadcast": "right",
                },
            }
        ],
    )


@register(
    "join_same_key_using",
    """
    SELECT l.custkey, l.o_orderkey, l.o_totalprice, r.c_name, r.c_mktsegment
    FROM (SELECT o_orderkey, o_custkey AS custkey, o_totalprice FROM orders) l
    INNER JOIN (SELECT c_custkey AS custkey, c_name, c_mktsegment FROM customer) r
    USING (custkey)
    """,
)
def join_same_key_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "CUSTOM",
                "data": {"sql": "SELECT o_orderkey, o_custkey AS custkey, o_totalprice FROM orders"},
            },
            {
                "id": "stage_1",
                "type": "CUSTOM",
                "data": {"sql": "SELECT c_custkey AS custkey, c_name, c_mktsegment FROM customer"},
            },
            {
                "id": "stage_2",
                "type": "JOIN",
                "data": {
                    "joinType": "INNER",
                    "leftTable": "result_stage_0_custom",
                    "rightTable": "result_stage_1_custom",
                    "leftKey": "custkey",
                    "rightKey": "custkey",
                },
            },
        ],
    )


@register(
    "join_left_nulls",
    """
    SELECT o.*, c.*
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
    ON o.o_custkey = c.c_custkey
    """,
)
def join_left_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {"table": "customer", "column": "c_acctbal", "operator": ">", "value": 5000},
            },
            {
                "id": "stage_1",
                "type": "JOIN",
                "data": {
                    "joinType": "LEFT",
                    "leftTable": "orders",
                    "rightTable": "result_stage_0_filter",
                    "leftKey": "o_custkey",
                    "rightKey": "c_custkey",
                },
            },
        ],
    )


@register(
    "join_right_nulls",
    """
    SELECT o.*, c.*
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {"table": "orders", "column": "o_totalprice", "operator": ">", "value": 400000},
            },
            {
                "id": "stage_1",
                "type": "JOIN",
                "data": {
                    "joinType": "RIGHT",
                    "leftTable": "result_stage_0_filter",
                    "rightTable": "customer",
                    "leftKey": "o_custkey",
                    "rightKey": "c_custkey",
                },
            },
        ],
    )


@register(
    "join_full_outer_coalesced",
    """
    SELECT l.*, r.* EXCLUDE (custkey)
    FROM (SELECT c_custkey AS custkey, c_acctbal FROM customer WHERE c_acctbal > 7000) l
    FULL OUTER JOIN (SELECT c_custkey AS custkey, c_name FROM customer WHERE c_acctbal < 3000) r
    USING (custkey)
    """,
)
def join_full_outer_coalesced(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "CUSTOM",
                "data": {"sql": "SELECT c_custkey AS custkey, c_acctbal FROM customer WHERE c_acctbal > 7000"},
            },
            {
                "id": "stage_1",
                "type": "CUSTOM",
                "data": {"sql": "SELECT c_custkey AS custkey, c_name FROM customer WHERE c_acctbal < 3000"},
            },
            {
                "id": "stage_2",
                "type": "JOIN",
                "data": {
                    "joinType": "FULL OUTER",
                    "leftTable": "result_stage_0_custom",
                    "rightTable": "result_stage_1_custom",
                    "leftKey": "custkey",
                    "rightKey": "custkey",
                },
            },
        ],
    )


# ---------------------------------------------------------------------------
# 3. UNION variants (SURVEY §2.1 #3) — positional, distinct unless ALL
# ---------------------------------------------------------------------------
_UNION_ORACLE = """
    SELECT c_mktsegment, c_nationkey FROM customer WHERE c_acctbal > 8000
    {kw}
    SELECT c_mktsegment, c_nationkey FROM customer WHERE c_acctbal > 6000
"""


def _union_stages(union_type: str) -> list[dict]:
    return [
        {
            "id": "stage_0",
            "type": "CUSTOM",
            "data": {"sql": "SELECT c_mktsegment, c_nationkey FROM customer WHERE c_acctbal > 8000"},
        },
        {
            "id": "stage_1",
            "type": "CUSTOM",
            "data": {"sql": "SELECT c_mktsegment, c_nationkey FROM customer WHERE c_acctbal > 6000"},
        },
        {
            "id": "stage_2",
            "type": "UNION",
            "data": {
                "unionType": union_type,
                "tables": ["result_stage_0_custom", "result_stage_1_custom"],
            },
        },
    ]


@register("union_distinct", _UNION_ORACLE.format(kw="UNION"))
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(spark, sf_dir, _union_stages("UNION"))


@register("union_all", _UNION_ORACLE.format(kw="UNION ALL"))
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(spark, sf_dir, _union_stages("UNION ALL"))


# ---------------------------------------------------------------------------
# 4. FILTER variants (SURVEY §2.1 #4) — all 9 operators, AND/OR precedence
# ---------------------------------------------------------------------------
@register(
    "filter_and_or_precedence",
    """
    SELECT * FROM lineitem
    WHERE l_returnflag = 'A' OR l_returnflag = 'R' AND l_quantity > 25
    """,
)
def filter_and_or_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No parentheses: AND binds tighter than OR, exactly as the reference
    # concatenates conditions (ui/src/sqlGenerator.ts:45-52).
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {
                    "table": "lineitem",
                    "conditions": [
                        {"column": "l_returnflag", "operator": "=", "value": "A"},
                        {"column": "l_returnflag", "operator": "=", "value": "R", "logic": "OR"},
                        {"column": "l_quantity", "operator": ">", "value": 25, "logic": "AND"},
                    ],
                },
            }
        ],
    )


@register(
    "filter_range_ops",
    """
    SELECT * FROM lineitem
    WHERE l_quantity >= 10 AND l_quantity <= 40 AND l_returnflag != 'N' AND l_discount < 0.05
    """,
)
def filter_range_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {
                    "table": "lineitem",
                    "conditions": [
                        {"column": "l_quantity", "operator": ">=", "value": 10},
                        {"column": "l_quantity", "operator": "<=", "value": 40, "logic": "AND"},
                        {"column": "l_returnflag", "operator": "!=", "value": "N", "logic": "AND"},
                        {"column": "l_discount", "operator": "<", "value": 0.05, "logic": "AND"},
                    ],
                },
            }
        ],
    )


@register(
    "filter_like_in",
    """
    SELECT * FROM part
    WHERE p_name LIKE '%a%' AND p_size IN (1, 5, 10, 25) AND p_brand NOT IN ('Brand#55')
    """,
)
def filter_like_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {
                    "table": "part",
                    "conditions": [
                        {"column": "p_name", "operator": "LIKE", "value": "%a%"},
                        {"column": "p_size", "operator": "IN", "value": [1, 5, 10, 25], "logic": "AND"},
                        {"column": "p_brand", "operator": "NOT IN", "value": "Brand#55", "logic": "AND"},
                    ],
                },
            }
        ],
    )


# ---------------------------------------------------------------------------
# 5. GROUP / AGGREGATE (SURVEY §2.1 #5, #6) — SUM/COUNT/AVG/MAX/MIN
# ---------------------------------------------------------------------------
@register(
    "group_all_agg_functions",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           COUNT(*) AS cnt,
           AVG(l_discount) AS avg_disc,
           MAX(l_extendedprice) AS max_price,
           MIN(l_extendedprice) AS min_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def group_all_agg_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "GROUP",
                "data": {
                    "table": "lineitem",
                    "groupBy": ["l_returnflag", "l_linestatus"],
                    "aggregations": [
                        {"function": "SUM", "column": "l_quantity", "alias": "sum_qty"},
                        {"function": "COUNT", "column": "*", "alias": "cnt"},
                        {"function": "AVG", "column": "l_discount", "alias": "avg_disc"},
                        {"function": "MAX", "column": "l_extendedprice", "alias": "max_price"},
                        {"function": "MIN", "column": "l_extendedprice", "alias": "min_price"},
                    ],
                },
            }
        ],
    )


@register(
    "group_keys_only",
    "SELECT o_orderstatus, o_orderpriority FROM orders GROUP BY o_orderstatus, o_orderpriority",
)
def group_keys_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "GROUP",
                "data": {"table": "orders", "groupBy": ["o_orderstatus", "o_orderpriority"]},
            }
        ],
    )


@register(
    "aggregate_global",
    """
    SELECT SUM(l_quantity) AS total_qty,
           COUNT(l_orderkey) AS n_items,
           MAX(l_shipdate) AS last_ship,
           MIN(l_shipdate) AS first_ship
    FROM lineitem
    """,
)
def aggregate_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "AGGREGATE",
                "data": {
                    "table": "lineitem",
                    "aggregations": [
                        {"function": "SUM", "column": "l_quantity", "alias": "total_qty"},
                        {"function": "COUNT", "column": "l_orderkey", "alias": "n_items"},
                        {"function": "MAX", "column": "l_shipdate", "alias": "last_ship"},
                        {"function": "MIN", "column": "l_shipdate", "alias": "first_ship"},
                    ],
                },
            }
        ],
    )


# ---------------------------------------------------------------------------
# 6. SELECT / SORT (SURVEY §2.1 #7, #8)
# ---------------------------------------------------------------------------
@register(
    "select_projection",
    "SELECT p_partkey, p_name, p_retailprice FROM part",
)
def select_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "SELECT",
                "data": {"table": "part", "columns": ["p_partkey", "p_name", "p_retailprice"]},
            }
        ],
    )


@register(
    "sort_multi_key",
    """
    SELECT * FROM (SELECT * FROM orders WHERE o_totalprice > 350000)
    ORDER BY o_orderdate DESC, o_orderkey ASC
    """,
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(
        spark,
        sf_dir,
        [
            {
                "id": "stage_0",
                "type": "FILTER",
                "data": {"table": "orders", "column": "o_totalprice", "operator": ">", "value": 350000},
            },
            {
                "id": "stage_1",
                "type": "SORT",
                "data": {
                    "orderBy": [
                        {"column": "o_orderdate", "direction": "DESC"},
                        {"column": "o_orderkey", "direction": "ASC"},
                    ]
                },
            },
        ],
    )


# ---------------------------------------------------------------------------
# 7. CUSTOM SQL (SURVEY §2.1 #9) — ANSI subset valid in both engines
# ---------------------------------------------------------------------------
_CUSTOM_SQL = """
    SELECT o_orderpriority,
           CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_class,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY o_orderpriority, CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END
"""


@register("custom_sql_case", _CUSTOM_SQL)
def custom_sql_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stages(spark, sf_dir, [{"id": "stage_0", "type": "CUSTOM", "data": {"sql": _CUSTOM_SQL}}])
