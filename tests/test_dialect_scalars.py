"""Scalar-expression differential bank: every expression is evaluated
raw in DuckDB and through the dialect shim on Spark; results must match
exactly (floats to 9 decimals). This pins the round-3 function-surface
sweeps — including NULL-literal propagation — as a permanent regression
guard. Expressions are table-free, so the whole bank runs as a handful
of single-row SELECTs."""

from __future__ import annotations

import math

import pytest

from gemini_data_wrangler_spark.plans.dialect import duckdb_to_spark_sql

# Known-good expressions (established by the round-3 differential
# sweeps). Grouped into chunks so one Spark job covers ~15 expressions.
SCALARS = [
    # list folds / gathers
    "flatten([[1,2],[3]])",
    "flatten([[1],NULL,[2]])",
    # (flatten([NULL]) is an ARRAY<VOID> literal Spark cannot analyze —
    # loud divergence, DuckDB says []; typed inputs behave identically)
    "list_append([1,2], 3)",
    "list_prepend(0, [1,2])",
    "list_zip([1,2],[3,4,5])",
    "list_zip([1],[2],[3])",
    "list_sort([3,NULL,1])",
    "list_sort([3,NULL,1], 'DESC')",
    "list_sort([3,NULL,1], 'ASC', 'NULLS FIRST')",
    "list_reverse_sort([1,NULL,3])",
    "list_grade_up([30,10,20])",
    "list_grade_up([2,1,2])",
    "list_grade_up([30,NULL,20])",
    "list_count([1,NULL,3])",
    "list_avg([1.0,2.0,NULL])",
    "list_avg([1,2,4])",
    "list_median([1,2,4,8])",
    "list_any_value([NULL,2,3])",
    "list_first([1,2,3])",
    "list_last([1,2,3])",
    "list_first([])",
    "list_element([10,20], 2)",
    "list_element([10,20], -1)",
    "list_element([10,20], 5)",
    "list_element([10,20], 0)",
    "list_extract([10,20], 1)",
    "array_extract([10,20], 2)",
    "list_resize([1,2,3], 2)",
    "list_resize([1,2], 4, 9)",
    "list_resize([1,2], 0)",
    "list_select([10,20,30], [1,5])",
    "list_select([10,20,30], [0])",
    "list_select([10,20,30], [-1])",
    "list_select([10],[])",
    "list_where([10,20,30], [true,false,true])",
    "list_where([10,20,30], [true,false])",
    "list_where([10], [true,true])",
    "list_where([10,20],[])",
    "array_unique([1,1,NULL,2])",
    "array_distinct([1,1,NULL])",
    # strings
    "ends_with('abc','bc')",
    "strlen('héllo')",
    "to_hex(255)",
    "to_hex(0)",
    "to_hex(-1)",
    "sha256('a')",
    "unicode('héllo')",
    "unicode('')",
    "ord('a')",
    "trim('xxaxx', 'x')",
    "hamming('abc','abd')",
    "mismatches('aXc','abd')",
    "jaccard('abc','abd')",
    "jaccard('Abc','abc')",
    "repeat('ab', -1)",
    "lpad('abc', 2, '0')",
    "rpad('a', -1, '0')",
    "regexp_escape('a.b*c+d?e')",
    "regexp_escape('f^g$h(i)j')",
    "regexp_escape('k[l]m{n}o|p-q')",
    "regexp_escape('a b,c')",
    "to_base(255, 16)",
    "to_base(255, 16, 6)",
    "to_base(7, 2)",
    "decode(encode('héllo'))",
    # math / operators
    "2 ** 3",
    "2 ** 3 ** 2",
    "-2 ** 2",
    "2 ** -1",
    "(1+1) ** 2",
    "3 * 2 ** 2",
    "2 ** 0.5",
    "xor(5, 3)",
    "even(2.5)",
    "even(-2.5)",
    "even(2)",
    "even(-3)",
    "even(0)",
    "fdiv(7, 2)",
    "fdiv(-7, 2)",
    "fdiv(7.5, 2.0)",
    "fdiv(1, 0)",
    "fmod(7, 2.5)",
    "fmod(-7, 2.5)",
    "fmod(7, -2.5)",
    "fmod(1, 0)",
    "round_even(2.5, 0)",
    "round_even(3.5, 0)",
    "round_even(2.345, 2)",
    "bit_count(7)",
    "factorial(5)",
    "cbrt(27)",
    "cot(1.0)",
    "greatest(1, NULL, 3)",
    "least(1, NULL)",
    # quantified comparisons
    "3 = ANY([1,2,3])",
    "1 < ANY([1,2])",
    "3 > ALL([1,2])",
    "NULL = ANY([1])",
    "1 = ANY([NULL, 1])",
    "5 = ANY([])",
    "5 <> ALL([1,2])",
    "5 = ALL([5,5])",
    "5 = ANY([NULL, 2])",
    "5 > ALL([NULL, 1])",
    # calendar
    "last_day(DATE '2020-02-10')",
    "make_date(2020, 2, 10)",
    "make_timestamp(1700000000123456)",
    "yearweek(DATE '2020-01-01')",
    "yearweek(DATE '2021-01-01')",
    "century(DATE '2000-01-01')",
    "century(DATE '2001-01-01')",
    "decade(DATE '1994-01-01')",
    "millennium(DATE '2001-01-01')",
    "microsecond(TIMESTAMP '2020-01-01 01:02:03.456789')",
    "millisecond(TIMESTAMP '2020-01-01 01:02:03.456789')",
    "date_trunc('week', DATE '2020-02-15')",
    "date_trunc('week', TIMESTAMP '2020-02-15 10:00:00')",
    "date_trunc('hour', DATE '2020-02-15')",
    "DATE '2020-01-01' + to_days(5)",
    "TIMESTAMP '2020-01-01 00:00:00' + to_hours(25)",
    "TIMESTAMP '2020-01-01 00:00:00' + to_minutes(90)",
    "TIMESTAMP '2020-01-01 00:00:00' + to_milliseconds(1500)",
    "TIMESTAMP '2020-01-01 00:00:00' + to_microseconds(1500000)",
    "DATE '2020-01-01' + to_weeks(2)",
    # json
    "json_array_length('[1,2,3]')",
    'json_keys(\'{"b":1,"a":2}\')',
    'json_valid(\'{"a":1}\')',
    "json_valid('3')",
    "json_valid('null')",
    "json_valid('{oops')",
    "array_to_json([1,2])",
    # NULL-literal propagation
    "list_select(NULL, [1])",
    "list_select([1], NULL)",
    "list_where(NULL, [true])",
    "list_where([1], NULL)",
    "list_grade_up(NULL)",
    "list_reverse_sort(NULL)",
    "list_sort(NULL, 'DESC')",
    "list_zip(NULL, NULL)",
    "list_count(NULL)",
    "list_avg(NULL)",
    "list_median(NULL)",
    "list_any_value(NULL)",
    "list_first(NULL)",
    "list_last(NULL)",
    "list_resize(NULL, 2)",
    "fdiv(NULL, 2)",
    "fmod(2, NULL)",
    "even(NULL)",
    "xor(NULL, 3)",
    "to_base(NULL, 16)",
    "json_valid(NULL)",
    "unicode(NULL)",
    "strlen(NULL)",
    "sha256(NULL)",
    "hamming(NULL, 'a')",
    "jaccard('a', NULL)",
    "flatten(NULL)",
    "trim(NULL, 'x')",
    "trim('xax', NULL)",
    "regexp_escape(NULL)",
    "round_even(NULL, 2)",
    "typeof(NULL)",
    "make_timestamp(NULL)",
    # renames and type names with no other case in the banks
    "from_hex('414243')",
    "CAST('AB' AS BLOB)",
    "current_localtimestamp() IS NOT NULL",
    "list_value(1, 2, NULL)",
    "list_indexof([10, 20, 30], 20)",
]

_CHUNK = 15
CHUNKS = [SCALARS[i : i + _CHUNK] for i in range(0, len(SCALARS), _CHUNK)]


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    return v


@pytest.mark.parametrize("chunk_idx", range(len(CHUNKS)))
def test_scalar_expressions_match_duckdb(spark, duck, chunk_idx):
    chunk = CHUNKS[chunk_idx]
    sql = "SELECT " + ", ".join(
        f"{e} AS c{i}" for i, e in enumerate(chunk)
    )
    dk = duck.execute(sql).fetchone()
    sp = spark.sql(duckdb_to_spark_sql(sql)).collect()[0]
    for i, expr in enumerate(chunk):
        assert _canon(sp[i]) == _canon(dk[i]), (
            f"{expr!r}: duck={dk[i]!r} spark={sp[i]!r}"
        )


AGG_CASES = [
    ("regr_avgx(y, x)", "(VALUES (1.0,2.0),(2.0,NULL),(3.0,6.0)) t(x,y)"),
    ("regr_avgy(y, x)", "(VALUES (1.0,2.0),(2.0,NULL),(3.0,6.0)) t(x,y)"),
    ("regr_count(y, x)", "(VALUES (1.0,2.0),(2.0,NULL),(3.0,6.0)) t(x,y)"),
    ("round(regr_sxx(y, x), 9)", "(VALUES (1.0,2.0),(2.0,4.5),(3.0,6.0)) t(x,y)"),
    ("round(regr_syy(y, x), 9)", "(VALUES (1.0,2.0),(2.0,4.5),(3.0,6.0)) t(x,y)"),
    ("round(regr_sxy(y, x), 9)", "(VALUES (1.0,2.0),(2.0,4.5),(3.0,6.0)) t(x,y)"),
    ("covar_pop(y, x)", "(VALUES (1.0,2.0),(2.0,NULL),(3.0,6.0)) t(x,y)"),
    ("covar_samp(y, x)", "(VALUES (1.0,2.0),(2.0,NULL),(3.0,6.0)) t(x,y)"),
    ("stddev(v)", "(VALUES (1.0),(2.0),(4.0)) t(v)"),
    ("variance(v)", "(VALUES (1.0),(2.0),(4.0)) t(v)"),
    ("sum(v) FILTER (WHERE v > 1)", "(VALUES (1),(2),(3)) t(v)"),
    ("max_by(a, b)", "(VALUES (1,10),(2,30)) t(a,b)"),
    ("min_by(a, b)", "(VALUES (1,10),(2,30)) t(a,b)"),
    ("round(skewness(v), 6)", "(VALUES (1.0),(2.0),(4.0),(8.0),(16.0)) t(v)"),
    ("round(kurtosis(v), 6)", "(VALUES (1.0),(2.0),(4.0),(8.0),(16.0)) t(v)"),
    ("round(kurtosis_pop(v), 6)", "(VALUES (1.0),(2.0),(4.0),(8.0),(16.0)) t(v)"),
    ("fsum(v)", "(VALUES (1),(2)) t(v)"),
    ("favg(v)", "(VALUES (2.0),(3.0)) t(v)"),
    ("geomean(v)", "(VALUES (1.0),(4.0)) t(v)"),
    ("arbitrary(v)", "(VALUES (7),(7)) t(v)"),
    ("count_if(v > 1)", "(VALUES (1),(2),(3)) t(v)"),
    ("bool_and(v)", "(VALUES (true),(false)) t(v)"),
    ("bit_xor(v)", "(VALUES (7),(5)) t(v)"),
    ("group_concat(v, '-' ORDER BY v)", "(VALUES ('b'),('a')) t(v)"),
]


@pytest.mark.parametrize("expr,frm", AGG_CASES, ids=[c[0][:30] for c in AGG_CASES])
def test_aggregates_over_values_match_duckdb(spark, duck, expr, frm):
    sql = f"SELECT {expr} AS r FROM {frm}"
    dv = duck.execute(sql).fetchone()[0]
    sv = spark.sql(duckdb_to_spark_sql(sql)).collect()[0][0]
    assert _canon(sv) == _canon(dv), f"{expr}: duck={dv!r} spark={sv!r}"
