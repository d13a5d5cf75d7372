"""Migrated-flow bank: DuckDB-idiom CUSTOM SQL must run on Spark through
the dialect shim and produce the SAME result DuckDB produces for the raw
SQL. This is the reference's escape hatch surface — its planner is told to
"write valid DuckDB SQL" (server/index.js:269), so a migrated flow's
CUSTOM stages carry arbitrary DuckDB idioms (QUALIFY, generate_series,
list comprehensions, regexp_split_to_array, ...).
"""

from __future__ import annotations

import pytest

from gemini_data_wrangler_spark.parity import compare
from gemini_data_wrangler_spark.plans import dialect
from gemini_data_wrangler_spark.plans.dialect import duckdb_to_spark_sql
from gemini_data_wrangler_spark.sources.readers import load_sf_tables
from tests.conftest import SF_ORACLE

# Each entry: (name, duckdb_sql). The same text is shimmed and run on Spark.
BANK = [
    (
        "qualify_rownum_per_key",
        """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey < 200
        QUALIFY row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) = 1
        """,
    ),
    (
        "qualify_with_trailer",
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        QUALIFY rank() OVER (ORDER BY o_totalprice DESC) <= 10
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 5
        """,
    ),
    (
        "generate_series_from_alias",
        """
        SELECT g.i AS bucket, count(*) AS n
        FROM generate_series(1, 7) AS g(i)
        JOIN orders ON (o_orderkey % 7) + 1 = g.i
        GROUP BY g.i
        """,
    ),
    (
        "range_table_function",
        "SELECT r AS v FROM range(0, 5) t(r)",
    ),
    (
        "scalar_series_comprehension",
        """
        SELECT doc_id,
               [CAST(x * 2 AS STRING) for x in generate_series(1, CAST(doc_id % 3 AS INT) + 1)] AS doubled
        FROM documents WHERE doc_id < 20
        """,
    ),
    (
        "comprehension_with_filter",
        r"""
        SELECT doc_id,
               [w for w in regexp_split_to_array(trim(text), '\s+') if length(w) > 6] AS long_words
        FROM documents WHERE doc_id < 50
        """,
    ),
    (
        "list_sum_lengths",
        r"""
        SELECT doc_id,
               list_sum([CAST(length(w) AS DOUBLE) for w in regexp_split_to_array(trim(text), '\s+')]) AS total_chars
        FROM documents WHERE doc_id < 50
        """,
    ),
    (
        "unnest_select_list",
        r"""
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents WHERE doc_id < 5
        """,
    ),
    (
        "bracket_literal_and_join",
        """
        SELECT n_name, array_to_string([CAST(n_nationkey AS STRING), n_name], ':') AS tagged
        FROM nation WHERE n_regionkey = 1
        """,
    ),
    (
        "group_by_all_passthrough",
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n, sum(o_totalprice) AS total
        FROM orders GROUP BY ALL
        """,
    ),
    (
        "intdiv_and_ilike",
        """
        SELECT o_orderkey // 100 AS bucket, count(*) AS n
        FROM orders WHERE o_orderpriority ILIKE '%urgent%'
        GROUP BY o_orderkey // 100
        """,
    ),
    (
        "strftime_to_date_format",
        """
        SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour_key, count(*) AS n
        FROM events GROUP BY 1
        """,
    ),
    (
        "list_fn_renames",
        """
        SELECT n_nationkey,
               list_contains([1, 5, 9], CAST(n_nationkey AS INT)) AS in_set,
               list_sort(list_distinct([n_regionkey, n_regionkey, CAST(n_nationkey % 3 AS BIGINT)])) AS uniq
        FROM nation
        """,
    ),
    (
        "exclude_plus_qualify",
        """
        SELECT * EXCLUDE (o_orderstatus)
        FROM orders
        WHERE o_custkey < 50
        QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
        """,
    ),
    (
        "argmax_argmin",
        """
        SELECT o_orderpriority,
               arg_max(o_orderkey, o_totalprice) AS top_order,
               arg_min(o_orderkey, o_totalprice) AS bottom_order
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    (
        "quantile_cont_rename",
        """
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 6) AS p90
        FROM orders GROUP BY o_orderstatus
        """,
    ),
    (
        "recursive_cte_passthrough",
        """
        WITH RECURSIVE months(m, target) AS (
          SELECT 1, CAST(100000 AS DOUBLE)
          UNION ALL
          SELECT m + 1, target * CAST(1.05 AS DOUBLE) FROM months WHERE m < 12
        )
        SELECT m, round(target, 6) AS target FROM months
        """,
    ),
    (
        "starts_with_and_regexp_matches",
        r"""
        SELECT o_orderkey,
               starts_with(o_orderpriority, '1') AS is_urgent,
               regexp_matches(o_orderpriority, '^[12]-') AS top2
        FROM orders WHERE o_orderkey < 500
        """,
    ),
    (
        "list_has_any_all",
        """
        SELECT n_nationkey,
               list_has_any([n_regionkey], [CAST(1 AS BIGINT), CAST(3 AS BIGINT)]) AS any_13,
               list_has_all([n_regionkey, CAST(n_nationkey % 5 AS BIGINT)],
                            [n_regionkey]) AS has_own
        FROM nation
        """,
    ),
    (
        "string_split_literal_sep",
        """
        SELECT n_name, string_split(n_name || '|' || CAST(n_nationkey AS STRING) || '.x', '.') AS parts
        FROM nation WHERE n_regionkey = 0
        """,
    ),
    (
        "list_aggregate_mapped",
        """
        SELECT doc_id,
               list_aggregate([CAST(n_chars AS DOUBLE), CAST(doc_id AS DOUBLE)], 'sum') AS s,
               list_aggregate([n_chars, doc_id], 'max') AS mx,
               list_aggregate([n_chars, doc_id], 'count') AS cnt
        FROM documents WHERE doc_id < 30
        """,
    ),
    (
        "epoch_us_ms",
        """
        SELECT event_id, epoch_us(ts) AS us, epoch_ms(ts) AS ms
        FROM events WHERE event_id < 100
        """,
    ),
    (
        "list_minmax_reverse",
        """
        SELECT n_nationkey,
               list_max([n_regionkey, CAST(n_nationkey % 7 AS BIGINT)]) AS mx,
               list_min([n_regionkey, CAST(n_nationkey % 7 AS BIGINT)]) AS mn,
               list_reverse(list_sort([n_regionkey, CAST(n_nationkey % 7 AS BIGINT)])) AS rv
        FROM nation
        """,
    ),
    (
        "distinct_on_latest_order",
        """
        SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey < 300
        ORDER BY o_custkey, o_orderdate DESC, o_orderkey
        """,
    ),
    (
        "distinct_on_with_limit",
        """
        SELECT DISTINCT ON (o_orderstatus) o_orderstatus, o_orderkey
        FROM orders
        ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey
        LIMIT 2
        """,
    ),
    (
        "string_agg_default_sep",
        """
        SELECT o_orderstatus, string_agg(CAST(o_orderkey AS VARCHAR))
                 AS agg_keys
        FROM (SELECT * FROM orders WHERE o_orderkey < 40) t
        GROUP BY o_orderstatus
        """,
    ),
    (
        "string_agg_ordered",
        """
        SELECT o_orderstatus,
               string_agg(CAST(o_orderkey AS VARCHAR), '|'
                          ORDER BY o_orderkey DESC) AS agg_keys
        FROM (SELECT * FROM orders WHERE o_orderkey < 40) t
        GROUP BY o_orderstatus
        """,
    ),
    (
        "date_diff_day_and_month",
        """
        SELECT o_orderkey,
               date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                 AS dd,
               date_diff('month', DATE '1995-01-31', CAST(o_orderdate AS DATE))
                 AS md
        FROM orders WHERE o_orderkey < 50
        """,
    ),
    (
        "strpos_positions",
        """
        SELECT c_custkey, strpos(c_name, '1') AS pos1
        FROM customer WHERE c_custkey < 30
        """,
    ),
    (
        "asof_join_last_click_before_purchase",
        """
        SELECT p.event_id, p.ts, c.event_id AS click_id, c.ts AS click_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
    ),
    (
        "asof_left_join_keeps_unmatched",
        """
        SELECT p.event_id, c.event_id AS click_id
        FROM (SELECT * FROM events WHERE event_type = 'signup') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts > c.ts
        """,
    ),
    (
        "asof_join_forward_direction",
        """
        SELECT p.event_id, n.event_id AS next_error
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT * FROM events WHERE event_type = 'error') n
          ON p.user_id = n.user_id AND p.ts < n.ts
        """,
    ),
    (
        "pivot_statement_status_by_priority",
        """
        PIVOT orders ON o_orderstatus IN ('O', 'F', 'P')
        USING count(o_orderkey) GROUP BY o_orderpriority
        """,
    ),
    (
        "unpivot_statement_into_name_value",
        """
        UNPIVOT (SELECT o_orderkey,
                        CAST(o_totalprice AS DOUBLE) AS price,
                        CAST(o_custkey AS DOUBLE) AS cust
                 FROM orders WHERE o_orderkey < 100)
        ON price, cust INTO NAME metric VALUE v
        """,
    ),
    (
        "json_arrow_operators",
        """
        SELECT event_id, props ->> 'k' AS k_str, props -> 'k' AS k_json
        FROM events WHERE event_id < 200
        """,
    ),
    (
        "json_extract_functions",
        """
        SELECT event_id,
               json_extract(props, 'k') AS j,
               json_extract_string(props, '$.k') AS s
        FROM events WHERE event_id < 100
        """,
    ),
    (
        "json_arrow_chain",
        """
        SELECT doc_id,
               ('{"a": {"b": ' || CAST(doc_id AS VARCHAR) || '}}') -> 'a' ->> 'b' AS b
        FROM documents WHERE doc_id < 20
        """,
    ),
    (
        "struct_literal_field_access",
        """
        SELECT n_nationkey,
               {'name': n_name, 'region': n_regionkey}.name AS nm,
               {'outer': {'inner': n_regionkey}}.outer.inner AS r
        FROM nation
        """,
    ),
    (
        "list_append_prepend_string_to_array",
        """
        SELECT n_nationkey,
               list_append([n_regionkey], CAST(n_nationkey AS BIGINT)) AS ap,
               list_prepend(CAST(n_nationkey AS BIGINT), [n_regionkey]) AS pre,
               string_to_array(n_name, 'A') AS parts
        FROM nation
        """,
    ),
    (
        "regexp_replace_global",
        """
        SELECT n_name,
               regexp_replace(n_name, '[AEIOU]', '_', 'g') AS scrubbed,
               regexp_replace(n_name, 'a+', '#', 'gi') AS folded
        FROM nation
        """,
    ),
    (
        "regexp_replace_first_match",
        r"""
        SELECT n_name,
               regexp_replace(n_name, '[AEIOU]', '_') AS first_vowel,
               regexp_replace(n_name, '([A-Z])([A-Z])', '\2\1') AS swap_first,
               regexp_replace(n_name, 'N', '<\0>', 'i') AS tag_first_n,
               regexp_replace(n_name, 'Q+', '$') AS dollar_lit
        FROM nation
        """,
    ),
    (
        "regexp_replace_global_backrefs",
        r"""
        SELECT n_name,
               regexp_replace(n_name, '([A-Z])([A-Z])', '\2\1', 'g') AS swapped,
               regexp_replace(n_name, '(A)', '[\0]$', 'g') AS tagged
        FROM nation
        """,
    ),
    (
        "len_dispatch",
        """
        SELECT n_name,
               len(n_name) AS name_len,
               len(concat(n_name, '!')) AS concat_len,
               len(string_split(n_name, 'A')) AS part_count,
               len([n_nationkey, n_regionkey]) AS lit_list_len,
               len(CAST(n_nationkey AS VARCHAR)) AS cast_len
        FROM nation
        """,
    ),
    (
        "array_type_spellings",
        """
        SELECT n_nationkey,
               CAST([n_nationkey, n_regionkey] AS BIGINT[]) AS prompted,
               CAST([[n_nationkey]] AS INT[][]) AS nested,
               CAST([n_nationkey + 0.554] AS DECIMAL(10,2)[]) AS dec_arr,
               list_reduce(CAST([n_nationkey, 3] AS INT[]),
                           (a, b) -> a + b) AS folded_cast
        FROM nation
        """,
    ),
    (
        "bracket_slicing",
        """
        SELECT n_name,
               n_name[2:4] AS midchars,
               n_name[:3] AS prefix3,
               n_name[-2:] AS suffix2,
               n_name[0:2] AS clamped,
               string_split(n_name, 'A')[1:2] AS first_parts,
               (n_name || '!')[2:] AS shifted
        FROM nation
        """,
    ),
    (
        "array_pop_ends",
        """
        SELECT n_nationkey,
               array_pop_back([n_nationkey, n_regionkey, 7]) AS popped_back,
               array_pop_front(string_split(n_name, 'A')) AS popped_front,
               array_pop_back(CAST(NULL AS INT[])) AS popped_null
        FROM nation
        """,
    ),
    (
        "quantile_disc_rank_semantics",
        """
        SELECT o_orderpriority,
               quantile_disc(o_totalprice, 0.5) AS med_price,
               quantile_disc(o_orderkey, 0.25) AS q1_key,
               quantile(o_orderkey, 0.5) AS med_key,
               quantile_disc(o_totalprice, [0.1, 0.9]) AS deciles
        FROM orders WHERE o_orderkey < 2000
        GROUP BY o_orderpriority
        """,
    ),
    (
        "list_reduce_fold",
        """
        SELECT n_nationkey,
               list_reduce([n_nationkey, n_regionkey, 7],
                           (acc, x) -> acc * 100 + x) AS folded,
               list_reduce(string_split(n_name, 'A'),
                           (a, b) -> concat(a, '-', b)) AS dashed
        FROM nation
        """,
    ),
    (
        "date_part_divergent_fields",
        """
        SELECT o_orderkey,
               date_part('dow', o_orderdate) AS dw,
               date_part('isodow', o_orderdate) AS iso,
               datepart('doy', o_orderdate) AS doy,
               date_part('epoch', o_orderdate) AS ep,
               epoch(o_orderdate) AS ep2
        FROM orders WHERE o_orderkey < 200
        """,
    ),
    (
        "similar_to_anchored_regex",
        """
        SELECT n_name,
               n_name SIMILAR TO '.*IA' AS ends_ia,
               n_name NOT SIMILAR TO '[A-J].*' AS late_alpha
        FROM nation
        """,
    ),
    (
        "list_slice_bounds",
        """
        SELECT n_nationkey,
               list_slice([1, 2, 3, 4, 5], 2, 4) AS mid,
               list_slice([1, 2, 3, 4, 5], -3, -1) AS tail3,
               list_slice([1, 2, 3, 4, 5], 0, CAST(n_nationkey % 7 AS INT)) AS head,
               list_slice([1, 2, 3, 4, 5], 4, 2) AS empty
        FROM nation
        """,
    ),
    (
        "list_unique_concat_nulls",
        """
        SELECT n_nationkey,
               list_unique([n_regionkey, n_regionkey, CAST(n_nationkey % 2 AS BIGINT), NULL]) AS uq,
               list_concat(CASE WHEN n_regionkey = 0 THEN NULL
                                ELSE [n_regionkey] END,
                           [CAST(n_nationkey AS BIGINT)]) AS cc
        FROM nation
        """,
    ),
    (
        "struct_pack_access",
        """
        SELECT n_nationkey, struct_pack(nm := n_name, reg := n_regionkey + 1).reg AS r
        FROM nation
        """,
    ),
    (
        "vector_fns_literal_exact",
        """
        SELECT n_nationkey,
               list_cosine_similarity([1.0, 2.0, CAST(n_regionkey AS DOUBLE)],
                                      [3.0, 4.0, 5.0]) AS cos,
               list_inner_product([1.0, CAST(n_nationkey AS DOUBLE)], [2.0, 3.0]) AS dot,
               list_distance([0.0, CAST(n_regionkey AS DOUBLE)], [3.0, 4.0]) AS dist
        FROM nation
        """,
    ),
    (
        "time_bucket_widths",
        """
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS q_hour,
               time_bucket(INTERVAL '2 days', ts) AS two_day,
               time_bucket(INTERVAL '1 week', ts) AS wk,
               time_bucket(INTERVAL '3 months', ts) AS qtr,
               count(*) AS n
        FROM events WHERE event_id < 2000
        GROUP BY ALL
        """,
    ),
    (
        "string_fn_aliases",
        """
        SELECT n_name,
               editdist3(n_name, 'CANADA') AS ed,
               prefix(n_name, 'A') AS pre,
               suffix(n_name, 'IA') AS suf,
               list_position([10, 20, 30], CAST(n_nationkey AS INT) * 10) AS pos,
               array_length([1, 2, 3]) AS alen
        FROM nation
        """,
    ),
    (
        "ignore_nulls_inside_call",
        """
        SELECT event_id,
               lag(CASE WHEN value > 50 THEN value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_big,
               first_value(event_type IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS first_type
        FROM events WHERE event_id < 500
        """,
    ),
    (
        "from_clause_unnest",
        """
        SELECT n_nationkey, u
        FROM nation, unnest([n_regionkey, CAST(n_nationkey % 3 AS BIGINT)]) AS z(u)
        WHERE n_nationkey < 10
        """,
    ),
    (
        "leading_from_unnest",
        "SELECT u FROM unnest([1, 2, 3]) AS z(u)",
    ),
    (
        "math_string_default_flips",
        """
        SELECT o_orderkey,
               round(log(o_totalprice), 6) AS lg10,
               round(log(2, o_orderkey + 1), 6) AS lg2,
               regexp_extract(o_orderpriority, '[0-9]+-[A-Z]+') AS whole,
               regexp_extract(o_orderpriority, '([0-9]+)-([A-Z]+)', 2) AS grp,
               ltrim(o_orderpriority, '12345') AS lt,
               rtrim(o_orderpriority, 'THGENOWLUM') AS rt,
               trunc(o_totalprice / 1000) AS tr,
               trunc(-o_totalprice / 1000) AS trn
        FROM orders WHERE o_orderkey < 300
        """,
    ),
    (
        "split_aliases_literal_separator",
        """
        SELECT doc_id,
               split(text, '.') AS dots,
               split(text, ' ') AS words,
               str_split(source, '-') AS dash,
               str_split_regex(text, '[aeiou]+') AS rx
        FROM documents WHERE doc_id < 200
        """,
    ),
    (
        "regex_match_operators",
        """
        SELECT doc_id,
               text ~ '.*data.*' AS full_match,
               text !~ '.*zebra.*' AS not_full,
               lang ~~ 'e%' AS like_op,
               text !~~ '%the%' AS not_like,
               regexp_full_match(lang, '(en|de|fr)') AS rfm
        FROM documents WHERE doc_id < 300
        """,
    ),
    (
        "finite_and_extract_all_defaults",
        """
        SELECT o_orderkey,
               regexp_extract_all(o_orderpriority, '[A-Z]+') AS whole_matches,
               regexp_extract_all(o_orderpriority, '([A-Z])[A-Z]', 1) AS grp_matches,
               isfinite(CASE WHEN o_orderkey % 4 = 0 THEN 'Infinity'::DOUBLE
                             WHEN o_orderkey % 4 = 1 THEN 'NaN'::DOUBLE
                             ELSE o_totalprice END) AS fin,
               isinf(CASE WHEN o_orderkey % 4 = 0 THEN '-Infinity'::DOUBLE
                          WHEN o_orderkey % 4 = 1 THEN 'NaN'::DOUBLE
                          ELSE o_totalprice END) AS inf_flag
        FROM orders WHERE o_orderkey < 300
        """,
    ),
    (
        "time_conversion_fns",
        """
        SELECT o_orderkey,
               strptime(strftime(o_orderdate, '%d/%m/%Y'), '%d/%m/%Y') AS rt,
               to_timestamp(o_orderkey * 97 + 0.25) AS ts_epoch,
               date_add(o_orderdate, INTERVAL 3 DAY) AS plus3,
               CAST(datetrunc('month', o_orderdate) AS DATE) AS mon,
               today() >= o_orderdate AS after_order,
               isoyear(o_orderdate) AS iy,
               strftime(o_orderdate + INTERVAL 14 HOUR, '%I %p') AS twelve_hr
        FROM orders WHERE o_orderkey < 300
        """,
    ),
    (
        "date_sub_complete_intervals",
        """
        SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
               date_sub('year', a.o_orderdate, b.o_orderdate) AS dy,
               date_sub('quarter', a.o_orderdate, b.o_orderdate) AS dq,
               date_sub('month', a.o_orderdate, b.o_orderdate) AS dm,
               date_sub('day', a.o_orderdate, b.o_orderdate) AS dd,
               date_sub('hour',
                        a.o_orderdate + INTERVAL 7 HOUR + INTERVAL 11 MINUTE,
                        b.o_orderdate + INTERVAL 3 HOUR) AS dh,
               date_sub('minute',
                        a.o_orderdate + INTERVAL 7 MINUTE,
                        b.o_orderdate + INTERVAL 11 MINUTE) AS dmin,
               date_sub('second',
                        a.o_orderdate + INTERVAL 1 SECOND,
                        b.o_orderdate + INTERVAL 2 SECOND) AS ds
        FROM orders a JOIN orders b
          ON a.o_orderkey < 45 AND b.o_orderkey < 45
        """,
    ),
    (
        "ordered_aggregation",
        """
        SELECT o_custkey,
               list(o_orderkey ORDER BY o_orderkey) AS ids_asc,
               array_agg(o_orderkey ORDER BY o_totalprice DESC, o_orderkey)
                 AS by_price_desc,
               list(round(o_totalprice, 2) ORDER BY o_orderdate, o_orderkey)
                 AS prices_by_date,
               array_agg(o_orderkey ORDER BY
                   CASE WHEN o_orderkey % 5 = 0 THEN NULL
                        ELSE o_totalprice END DESC NULLS FIRST,
                   o_orderkey) AS nullable_key_order,
               list(DISTINCT o_orderstatus ORDER BY o_orderstatus) AS statuses
        FROM orders WHERE o_custkey < 120
        GROUP BY o_custkey
        """,
    ),
    (
        "list_null_element_semantics",
        """
        SELECT o_orderkey,
               list_sort(list_distinct([1, NULL, o_orderkey % 3, NULL, 1]))
                 AS dedup,
               CAST(list_sum([o_orderkey % 5,
                         CASE WHEN o_orderkey % 2 = 0 THEN NULL
                              ELSE 2 END]) AS DOUBLE) AS nsum,
               CAST(list_sum(CASE WHEN o_orderkey % 7 = 0
                             THEN [CAST(NULL AS INT), NULL]
                             ELSE [1, 2] END) AS DOUBLE) AS allnull_sum,
               list_has_any([NULL, o_orderkey % 4], [NULL, 99]) AS any_null,
               list_has_any([o_orderkey % 4], [2, 3]) AS any_plain
        FROM orders WHERE o_orderkey < 300
        """,
    ),
    (
        "aggregate_edge_flips",
        """
        SELECT o_custkey,
               any_value(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                              ELSE o_custkey END) AS first_nonnull,
               count(*) FILTER (o_totalprice > 1000) AS n_big,
               round(corr(o_totalprice, o_orderkey % 97), 6) AS c_ok,
               corr(o_totalprice, 1) AS c_const
        FROM orders WHERE o_custkey < 150
        GROUP BY o_custkey
        """,
    ),
    (
        "int_cast_rounding",
        """
        SELECT o_orderkey,
               CAST(o_totalprice AS INT) AS dbl_int,
               CAST(o_totalprice AS BIGINT) AS dbl_big,
               (o_totalprice / 3)::INT AS dbl_div,
               CAST(o_orderkey * 1000000000 AS BIGINT) AS big_exact,
               '3.7'::INT + '-2.5'::INT AS str_halves,
               (o_orderkey % 2 = 0)::INT AS bool_int,
               TRY_CAST(o_orderpriority AS INT) AS try_bad,
               CAST(2.5 AS INT) + CAST(3.5 AS INT) AS dec_halves,
               CAST(o_totalprice::FLOAT AS INT) AS float_rint
        FROM orders WHERE o_orderkey < 300
        """,
    ),
    (
        "division_modulo_null_on_zero",
        """
        SELECT o_orderkey,
               o_totalprice / (o_orderkey % 7) AS div_maybe_zero,
               o_orderkey % (o_orderkey % 5) AS mod_maybe_zero,
               round(o_orderkey * 3 / 2 % 5, 6) AS chain,
               CAST(o_totalprice AS DOUBLE) / 0 AS always_null,
               o_orderkey // (o_orderkey % 3) AS intdiv_maybe_zero
        FROM orders WHERE o_orderkey < 300
        """,
    ),
    (
        "string_edge_semantics",
        """
        SELECT o_orderkey,
               concat(o_orderstatus, NULL, o_orderpriority, o_orderkey) AS cat,
               substr(o_orderpriority, 0, 4) AS s_zero_start,
               substr(o_orderpriority, 3, -2) AS s_neg_len,
               substr(o_orderpriority, -3, 2) AS s_from_end,
               substr(o_orderpriority, (o_orderkey % 9) - 3,
                      (o_orderkey % 5) - 1) AS s_dynamic,
               left(o_orderpriority, -2) AS left_neg,
               right(o_orderpriority, -(CAST(o_orderkey % 4 AS INT)))
                 AS right_dyn
        FROM orders WHERE o_orderkey < 300
        """,
    ),
    (
        "first_last_ordered_null_keeping",
        """
        WITH v AS (
          SELECT o_orderkey AS k, o_custkey AS g, o_orderdate AS d,
                 CASE WHEN o_orderkey % 7 = 0 THEN NULL
                      ELSE o_totalprice END AS p
          FROM orders WHERE o_custkey < 120
        )
        SELECT g,
               first(p ORDER BY d, k) AS first_p,
               last(p ORDER BY d, k) AS last_p,
               first(k ORDER BY p DESC NULLS LAST, k) AS top_key,
               list(p ORDER BY k) AS ps_with_nulls,
               array_length(list(p)) AS n_kept,
               array_length(list(DISTINCT p)) AS n_distinct_kept
        FROM v GROUP BY g
        """,
    ),
    (
        "window_range_interval_frame",
        """
        SELECT o_orderkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
               ), 2) AS r30,
               count(*) OVER (
                   ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 7 DAY PRECEDING
                             AND INTERVAL 7 DAY FOLLOWING
               ) AS peers_2wk
        FROM orders WHERE o_custkey < 60
        """,
    ),
    (
        "from_first_statement",
        """
        FROM orders
        SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS tp
        GROUP BY o_orderstatus
        """,
    ),
    (
        "order_by_nullable_limit",
        """
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS p
        FROM orders
        ORDER BY p, o_orderkey
        LIMIT 20
        """,
    ),
    (
        "window_order_nullable",
        """
        SELECT o_orderkey,
               rank() OVER (PARTITION BY o_orderpriority
                            ORDER BY CASE WHEN o_orderkey % 7 = 0 THEN NULL
                                          ELSE o_totalprice END) AS r
        FROM orders WHERE o_orderkey < 400
        """,
    ),
    (
        "day_numbering_fields",
        """
        SELECT o_orderkey,
               extract(dow FROM o_orderdate) AS xd,
               extract(isodow FROM o_orderdate) AS xi,
               dayofweek(o_orderdate) AS dw,
               weekday(o_orderdate) AS wd,
               isodow(o_orderdate) AS iso,
               dayname(o_orderdate) AS dn,
               monthname(o_orderdate) AS mn,
               week(o_orderdate) AS wk
        FROM orders WHERE o_orderkey < 300
        """,
    ),
    (
        "list_aggregate_ordered",
        """
        SELECT o_custkey, list(o_orderkey ORDER BY o_orderkey) AS orders_sorted
        FROM orders WHERE o_custkey < 100
        GROUP BY o_custkey
        """,
    ),
    (
        "one_based_subscripts",
        """
        SELECT n_nationkey,
               ([10, 20, 30])[1] AS first_elem,
               ([10, 20, 30])[-1] AS last_elem,
               ([10, 20, 30])[9] AS oob_null,
               ([10, 20, 30])[CAST(n_nationkey % 4 AS INT)] AS dynamic
        FROM nation
        """,
    ),
    (
        "date_diff_pre_epoch_sub_day",
        """
        SELECT date_diff('hour',   TIMESTAMP '1969-12-31 23:30:00', TIMESTAMP '1970-01-01 00:30:00') AS h_cross,
               date_diff('hour',   TIMESTAMP '1969-12-31 22:30:00', TIMESTAMP '1969-12-31 23:30:00') AS h_pre,
               date_diff('hour',   TIMESTAMP '1969-12-31 21:30:00', TIMESTAMP '1970-01-01 00:30:00') AS h_multi,
               date_diff('minute', TIMESTAMP '1969-12-31 23:59:30', TIMESTAMP '1970-01-01 00:00:30') AS m_cross,
               date_diff('second', TIMESTAMP '1969-12-31 23:59:59.5', TIMESTAMP '1970-01-01 00:00:00.5') AS s_cross,
               date_diff('minute', TIMESTAMP '1969-12-31 23:58:30', TIMESTAMP '1969-12-31 23:59:30') AS m_pre
        FROM nation WHERE n_nationkey = 0
        """,
    ),
    (
        "r3_list_folds",
        """
        SELECT n_nationkey,
               flatten([[n_nationkey], NULL, [n_regionkey, NULL]]) AS flat,
               list_count([n_nationkey, NULL, n_regionkey]) AS cnt,
               list_avg([CAST(n_nationkey AS DOUBLE), NULL, 4.0]) AS avg_v,
               list_median([CAST(n_nationkey AS DOUBLE), 2.0, 9.0, NULL]) AS med_even,
               list_median([CAST(n_nationkey AS DOUBLE), 2.0, 9.0]) AS med_odd,
               list_any_value([NULL, n_nationkey, 1]) AS anyv,
               list_first([n_nationkey, 7]) AS firstv,
               list_last([n_nationkey, 7]) AS lastv,
               list_element([10, 20, 30], CAST(n_nationkey % 5 - 1 AS INT)) AS elem_dyn,
               list_extract([10, 20, 30], -1) AS elem_neg,
               array_extract([10, 20, 30], 9) AS elem_oob
        FROM nation
        """,
    ),
    (
        "r3_list_zip_sort",
        """
        SELECT n_nationkey,
               list_zip([n_nationkey, 1], [n_regionkey, 2, 3]) AS zip2,
               list_zip([n_nationkey], [1, 2], [n_regionkey, 3, NULL]) AS zip3,
               list_sort([n_regionkey, NULL, n_nationkey], 'DESC') AS sorted_desc,
               list_sort([n_regionkey, NULL, n_nationkey], 'ASC', 'NULLS FIRST') AS sorted_nf,
               list_sort([n_regionkey, NULL, n_nationkey]) AS sorted_default
        FROM nation
        """,
    ),
    (
        "r3_string_fns",
        """
        SELECT n_nationkey,
               trim(n_name, 'AEIOU ') AS trimmed,
               ends_with(n_name, 'IA') AS ia_suffix,
               strlen(n_name) AS byte_len,
               to_hex(n_nationkey * 257) AS hexed,
               sha256(n_name) AS digest,
               unicode(n_name) AS first_cp,
               unicode('') AS empty_cp,
               hamming(n_name, n_name) AS ham_zero,
               mismatches(substr(n_name, 1, 3), 'AAA') AS mis3,
               jaccard(n_name, 'ARGENTINA') AS jac
        FROM nation
        """,
    ),
    (
        "r3_math_fns",
        """
        SELECT n_nationkey,
               xor(n_nationkey, 9) AS x9,
               even(n_nationkey + 0.5) AS ev_pos,
               even(-(n_nationkey + 0.5)) AS ev_neg,
               even(n_nationkey) AS ev_int,
               round_even(n_nationkey + 0.5, 0) AS re_half,
               fdiv(n_nationkey, 3) AS fd,
               fdiv(-n_nationkey, 3) AS fd_neg,
               fmod(n_nationkey, 2.5) AS fm,
               fmod(-n_nationkey, 2.5) AS fm_neg,
               fdiv(n_nationkey, 0) AS fd_zero,
               fmod(n_nationkey, 0) AS fm_zero
        FROM nation
        """,
    ),
    (
        "r3_calendar_parts",
        """
        SELECT o_orderkey,
               date_trunc('week', o_orderdate) AS wk,
               date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS mo,
               yearweek(o_orderdate) AS yw,
               century(o_orderdate) AS cent,
               decade(o_orderdate) AS dec,
               millennium(o_orderdate) AS mil,
               microsecond(CAST(o_orderdate AS TIMESTAMP) + INTERVAL '3.456789' SECOND) AS us_part,
               millisecond(CAST(o_orderdate AS TIMESTAMP) + INTERVAL '3.456789' SECOND) AS ms_part,
               make_timestamp(CAST(o_orderkey AS BIGINT) * 1000000) AS ts_us
        FROM orders WHERE o_orderkey < 200
        """,
    ),
    (
        "r3_agg_bias_corrections",
        """
        SELECT o_orderpriority,
               round(skewness(o_totalprice), 6) AS sk,
               round(kurtosis(o_totalprice), 6) AS ku,
               round(kurtosis_pop(o_totalprice), 6) AS ku_pop,
               round(fsum(o_totalprice), 4) AS ksum,
               round(favg(o_totalprice), 6) AS kavg,
               round(geomean(o_totalprice), 6) AS gm
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    (
        "r3_agg_small_n_nulls",
        """
        SELECT g, round(skewness(v), 6) AS sk, round(kurtosis(v), 6) AS ku
        FROM (SELECT o_orderkey % 3 AS g, o_totalprice AS v
              FROM orders WHERE o_orderkey < 12) t
        GROUP BY g
        """,
    ),
    (
        "r3_pow_and_quantified",
        """
        SELECT n_nationkey,
               n_nationkey ** 2 AS sq,
               2 ** n_nationkey % 7 AS pow_mod,
               -2 ** 2 AS unary_pow,
               2 ** 3 ** 2 AS left_assoc,
               3 * 2 ** 2 AS precedence,
               n_nationkey = ANY([1, 5, 9]) AS any_eq,
               n_nationkey + 1 > ALL([3, 7]) AS all_gt,
               n_nationkey = ANY([NULL, 5]) AS any_null,
               n_nationkey <> ALL([]) AS all_empty
        FROM nation
        """,
    ),
    (
        "r3_interval_builders",
        """
        SELECT o_orderkey,
               o_orderdate + to_days(CAST(o_orderkey % 30 AS INT)) AS plus_days,
               o_orderdate + to_hours(25) AS plus_hours,
               CAST(o_orderdate AS TIMESTAMP) + to_minutes(90) AS plus_minutes,
               CAST(o_orderdate AS TIMESTAMP) + to_seconds(3601) AS plus_seconds,
               CAST(o_orderdate AS TIMESTAMP) + to_milliseconds(1500) AS plus_ms,
               CAST(o_orderdate + to_months(1) AS DATE) AS plus_month,
               CAST(o_orderdate + to_years(1) AS DATE) AS plus_year,
               o_orderdate + to_weeks(2) AS plus_weeks
        FROM orders WHERE o_orderkey < 100
        """,
    ),
    (
        "r3_list_utilities",
        """
        SELECT n_nationkey,
               list_resize([n_nationkey, 2, 3], 2) AS trunc2,
               list_resize([1, 2], 4, 9) AS pad9,
               list_resize([n_nationkey], 0) AS empty,
               list_select([10, 20, 30], [1, 3, 9, 0]) AS gathered,
               list_where([10, 20, 30], [true, false, n_nationkey % 2 = 0]) AS masked_sel,
               list_grade_up([n_regionkey, NULL, n_nationkey, n_regionkey]) AS grades,
               list_reverse_sort([n_regionkey, NULL, n_nationkey]) AS rsorted,
               array_unique([n_regionkey, n_regionkey, NULL, n_nationkey]) AS uniq_n
        FROM nation
        """,
    ),
    (
        "r3_base_and_bytes",
        """
        SELECT n_nationkey,
               to_base(n_nationkey * 37, 16) AS hex37,
               to_base(n_nationkey, 2, 8) AS bin_padded,
               base64(encode(n_name)) AS b64,
               decode(from_base64(base64(encode(n_name)))) AS roundtrip,
               ord(n_name) AS first_cp,
               regexp_escape('c++ (v2.0) [beta] | $5,-') AS escaped,
               approx_quantile(n_nationkey, 0.5) OVER () IS NOT NULL AS aq_runs
        FROM nation
        """,
    ),
    (
        "r3_agg_order_and_frames",
        """
        SELECT o_orderpriority,
               round(sum(o_totalprice ORDER BY o_orderkey), 4) AS s,
               count(DISTINCT o_custkey ORDER BY o_custkey) AS c,
               arbitrary(o_orderpriority) AS arb,
               quantile_cont(o_totalprice, [0.25, 0.75]) AS quartiles
        FROM orders GROUP BY o_orderpriority
        """,
    ),
    (
        "r3_frame_exclude_noop",
        """
        SELECT o_orderkey,
               round(sum(o_totalprice) OVER (
                 ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
                 EXCLUDE NO OTHERS), 4) AS win3
        FROM orders WHERE o_orderkey < 300
        """,
    ),
    (
        "r3_array_aliases",
        """
        SELECT n_nationkey,
               array_distinct([n_regionkey, n_regionkey, NULL]) AS uniq,
               array_prepend(CAST(n_nationkey AS BIGINT), [n_regionkey]) AS prepended,
               array_sort([n_regionkey, NULL, n_nationkey], 'DESC') AS sorted_desc,
               array_reverse_sort([n_nationkey, 1]) AS rsorted,
               array_zip([n_nationkey], [n_regionkey, 2]) AS zipped,
               array_aggr([CAST(n_nationkey AS DOUBLE), 2.0], 'sum') AS aggr_sum,
               list_aggr([n_nationkey, 7], 'max') AS aggr_max,
               array_transform([n_nationkey, 2], x -> x + 1) AS mapped,
               apply([n_nationkey], x -> x * 2) AS applied,
               array_filter([n_nationkey, 5, 9], x -> x > 4) AS filtered,
               array_has_any([n_regionkey], [CAST(1 AS BIGINT), CAST(3 AS BIGINT)]) AS hasany,
               array_where([n_nationkey, 5, 9], [true, false, true]) AS masked_vals,
               array_select([n_nationkey, 5, 9], [3, 1]) AS gathered,
               array_resize([n_nationkey], 2) AS resized,
               array_grade_up([n_regionkey, n_nationkey]) AS graded,
               array_reverse([n_nationkey, 8]) AS reversed_l,
               list_pack(n_nationkey, n_regionkey) AS packed,
               array_indexof([5, n_nationkey], n_nationkey) AS idx
        FROM nation
        """,
    ),
    (
        "r3_typeof_and_json",
        """
        SELECT o_orderkey,
               typeof(o_orderkey) AS t_key,
               typeof(o_totalprice) AS t_price,
               typeof(o_orderpriority) AS t_prio,
               typeof(o_orderdate) AS t_date,
               typeof(1.5) AS t_dec,
               typeof(CAST(1 AS INT)) AS t_int,
               array_to_json([o_orderkey, 7]) AS arr_j,
               row_to_json({'k': o_orderkey}) AS row_j
        FROM orders WHERE o_orderkey < 50
        """,
    ),
    (
        "r3_struct_utils",
        """
        SELECT n_nationkey,
               struct_extract({'a': n_nationkey, 'b': n_regionkey}, 'b') AS field_b,
               row(n_nationkey, n_regionkey) AS pair
        FROM nation
        """,
    ),
    (
        "r3_json_fns",
        """
        SELECT doc_id,
               json_keys('{"b": 1, "a": {"c": 2}}') AS keys_ordered,
               json_valid('{"x": ' || CAST(doc_id AS STRING) || '}') AS valid_obj,
               json_valid('3') AS valid_scalar,
               json_valid('null') AS valid_null_lit,
               json_valid('{oops') AS invalid
        FROM documents WHERE doc_id < 5
        """,
    ),
]


@pytest.fixture(scope="module", autouse=True)
def _register_views(spark):
    for name, df in load_sf_tables(spark, SF_ORACLE).items():
        df.createOrReplaceTempView(name)


@pytest.fixture(scope="module")
def view_schemas(spark):
    """``{view: StructType}`` of the fixture tables: the shim's schema
    source, as a CUSTOM stage hands it the session catalog's."""
    return {n: df.schema for n, df in load_sf_tables(spark, SF_ORACLE).items()}


@pytest.mark.parametrize("name,sql", BANK, ids=[b[0] for b in BANK])
def test_duckdb_idiom_matches(spark, duck, view_schemas, name, sql):
    spark_df = spark.sql(duckdb_to_spark_sql(sql, schemas=lambda: view_schemas))
    diag = compare(spark_df, duck, sql)
    assert diag["ok"], f"{name}: {diag}"


def test_unsupported_constructs_raise():
    with pytest.raises(ValueError, match="POSITIONAL"):
        duckdb_to_spark_sql("SELECT * FROM a POSITIONAL JOIN b")
    with pytest.raises(ValueError, match="slicing"):
        duckdb_to_spark_sql("SELECT s[2:4] FROM t")
    with pytest.raises(ValueError, match="recursive"):
        duckdb_to_spark_sql("SELECT unnest(x, recursive := true) FROM t")
    with pytest.raises(ValueError, match="POWER"):
        duckdb_to_spark_sql("SELECT 2 ^ 8 FROM t")
    with pytest.raises(ValueError, match="UNION ALL"):
        duckdb_to_spark_sql(
            "WITH RECURSIVE r(u,v) AS (SELECT u,v FROM e UNION "
            "SELECT r.u, e.v FROM r JOIN e ON r.v = e.u) SELECT * FROM r"
        )
    with pytest.raises(ValueError, match="non-literal separator"):
        duckdb_to_spark_sql("SELECT string_split(s, sep_col) FROM t")
    with pytest.raises(ValueError, match="two-level"):
        duckdb_to_spark_sql("SELECT entropy(x) FROM t")
    with pytest.raises(ValueError, match="median of deviations"):
        duckdb_to_spark_sql("SELECT mad(x) FROM t")
    with pytest.raises(ValueError, match="transpositions"):
        duckdb_to_spark_sql("SELECT damerau_levenshtein(a, b) FROM t")
    with pytest.raises(ValueError, match="jaro"):
        duckdb_to_spark_sql("SELECT jaro_winkler_similarity(a, b) FROM t")
    with pytest.raises(ValueError, match="INTERVAL"):
        duckdb_to_spark_sql("SELECT age(a, b) FROM t")
    with pytest.raises(ValueError, match="printf"):
        duckdb_to_spark_sql("SELECT format('{}-{}', a, b) FROM t")
    with pytest.raises(ValueError, match="direction/null-order"):
        duckdb_to_spark_sql("SELECT list_sort(l, dir_col) FROM t")
    with pytest.raises(ValueError, match="list_aggregate"):
        duckdb_to_spark_sql("SELECT list_aggregate(l, 'string_agg') FROM t")
    with pytest.raises(ValueError, match="exactly one inequality"):
        duckdb_to_spark_sql(
            "SELECT * FROM t ASOF JOIN q ON t.a >= q.a AND t.b <= q.b"
        )
    with pytest.raises(ValueError, match="ON condition"):
        duckdb_to_spark_sql("SELECT * FROM t ASOF JOIN q USING (k)")
    with pytest.raises(ValueError, match="IN"):
        duckdb_to_spark_sql("PIVOT cities ON yr USING sum(pop)")
    with pytest.raises(ValueError, match="schema"):
        duckdb_to_spark_sql("SELECT COLUMNS('^o_') FROM orders")
    with pytest.raises(ValueError, match="DISTINCT ON"):
        duckdb_to_spark_sql("SELECT DISTINCT ON (k) k, v FROM t")
    with pytest.raises(ValueError, match="Murmur3"):
        duckdb_to_spark_sql("SELECT hash(c) FROM t")
    with pytest.raises(ValueError, match="complete-interval"):
        duckdb_to_spark_sql("SELECT date_sub('week', a, b) FROM t")
    with pytest.raises(ValueError, match="strptime"):
        duckdb_to_spark_sql("SELECT strptime(s, fmt_col) FROM t")
    with pytest.raises(ValueError, match="regexp_full_match"):
        duckdb_to_spark_sql("SELECT regexp_full_match(s, p_col) FROM t")
    with pytest.raises(ValueError, match="unionByName"):
        duckdb_to_spark_sql("SELECT a, b FROM t UNION ALL BY NAME SELECT b, a FROM u")
    with pytest.raises(ValueError, match="SUMMARIZE"):
        duckdb_to_spark_sql("SUMMARIZE orders")


def test_using_sample_rewrites(spark):
    """USING SAMPLE forms become TABLESAMPLE; percent form with a seed is
    reproducible, rows form is exact-count."""
    out = duckdb_to_spark_sql(
        "SELECT count(*) AS n FROM orders USING SAMPLE 10% REPEATABLE (42)"
    )
    assert "TABLESAMPLE (10 PERCENT) REPEATABLE (42)" in out
    n1 = spark.sql(out).collect()[0]["n"]
    n2 = spark.sql(out).collect()[0]["n"]
    assert n1 == n2  # seeded -> reproducible
    total = spark.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"]
    assert 0 < n1 < total

    out_rows = duckdb_to_spark_sql(
        "SELECT count(*) AS n FROM orders USING SAMPLE reservoir(50 ROWS)"
    )
    assert "TABLESAMPLE (50 ROWS)" in out_rows
    assert spark.sql(out_rows).collect()[0]["n"] == 50

    # DuckDB's postfix TABLESAMPLE spellings take the same path.
    out_ts = duckdb_to_spark_sql(
        "SELECT count(*) AS n FROM orders TABLESAMPLE reservoir(10%)"
    )
    assert "TABLESAMPLE (10 PERCENT)" in out_ts
    assert 0 < spark.sql(out_ts).collect()[0]["n"]
    # Spark's own spelling passes through untouched.
    assert "TABLESAMPLE (20 PERCENT)" in duckdb_to_spark_sql(
        "SELECT count(*) FROM orders TABLESAMPLE (20 PERCENT)"
    )


def test_admin_statements_refused():
    for stmt in (
        "PRAGMA table_info('orders')",
        "SET threads TO 4",
        "COPY orders TO 'out.csv'",
        "ATTACH 'other.db'",
        "INSTALL httpfs",
    ):
        with pytest.raises(ValueError, match="administrative"):
            duckdb_to_spark_sql(stmt)
    # mid-query occurrences of the same words must NOT trip the check, and
    # neither may a refused construct's spelling inside a string literal
    duckdb_to_spark_sql("SELECT 1 AS settled, 'COPY' AS label FROM orders")
    quoted = "SELECT 'a POSITIONAL JOIN b' AS s FROM t"
    assert duckdb_to_spark_sql(quoted) == quoted


def test_columns_projection_matches_duckdb(spark, duck, view_schemas):
    """``COLUMNS('regex')`` expands to an explicit list when the caller
    supplies table schemas (as the pipeline's CUSTOM stage does) and the
    result matches DuckDB running the raw text."""
    sql = "SELECT COLUMNS('key$') FROM orders WHERE o_orderkey < 50"
    out = duckdb_to_spark_sql(sql, schemas=lambda: view_schemas)
    assert "o_orderkey, o_custkey" in out
    diag = compare(spark.sql(out), duck, sql)
    assert diag["ok"], diag
    star = duckdb_to_spark_sql(
        "SELECT COLUMNS(*) FROM nation WHERE n_nationkey = 1",
        schemas=lambda: view_schemas,
    )
    diag = compare(
        spark.sql(star), duck, "SELECT COLUMNS(*) FROM nation WHERE n_nationkey = 1"
    )
    assert diag["ok"], diag


def test_star_replace_matches_duckdb(spark, duck, view_schemas):
    """``SELECT * REPLACE (expr AS col)`` expands to the explicit column
    list (schema-supplied, like COLUMNS) and matches DuckDB."""
    sql = (
        "SELECT * REPLACE (upper(n_name) AS n_name, n_regionkey + 100 AS n_regionkey) "
        "FROM nation WHERE n_nationkey < 10"
    )
    out = duckdb_to_spark_sql(sql, schemas=lambda: view_schemas)
    # Untouched columns (n_nationkey) survive in position; replaced ones carry
    # the substituted expression.
    assert "upper(n_name) AS n_name" in out and "SELECT n_nationkey," in out
    diag = compare(spark.sql(out), duck, sql)
    assert diag["ok"], diag


def test_star_replace_and_len_refusals():
    with pytest.raises(ValueError, match="REPLACE"):
        duckdb_to_spark_sql("SELECT * REPLACE (1 AS x) FROM t")  # no schema
    with pytest.raises(ValueError, match="length\\(\\) for strings"):
        duckdb_to_spark_sql("SELECT len(s) FROM t")


def test_schema_source_is_lazy():
    """Schema-free SQL never calls the schema source; SQL that needs
    columns calls it once, however many rewrites ask."""
    from pyspark.sql.types import StringType, StructField, StructType

    def refuse():
        raise AssertionError("schema source called for schema-free SQL")

    for sql in (
        "SELECT strftime(o_orderdate, '%Y-%m') AS ym FROM orders",
        "SELECT o_orderkey FROM orders "
        "QUALIFY row_number() OVER (ORDER BY o_totalprice) <= 3",
        "SELECT o_orderkey // 7 AS bucket FROM orders",
    ):
        assert duckdb_to_spark_sql(sql, schemas=refuse) == duckdb_to_spark_sql(sql)
    calls = []

    def nation():
        calls.append(1)
        return {"nation": StructType([StructField("n_name", StringType())])}

    out = duckdb_to_spark_sql(
        "SELECT COLUMNS('^n_'), len(n_name) AS l, n_name[1:2] AS p FROM nation",
        schemas=nation,
    )
    assert out.startswith("SELECT n_name, length(n_name) AS l,"), out
    assert len(calls) == 1


def test_lambda_arrows_left_alone(spark, duck):
    """A `->` whose left side is a lambda parameter inside a HOF is DuckDB
    lambda syntax — must NOT be rewritten as JSON extraction, even with a
    string-literal body."""
    sql = "SELECT list_transform([1, 2], x -> 'c') AS l"
    out = duckdb_to_spark_sql(sql)
    assert "x -> 'c'" in out
    assert [list(r.l) for r in spark.sql(out).collect()] == [
        list(t[0]) for t in duck.execute(sql).fetchall()
    ]


def test_date_diff_struct_args_no_crash():
    """A struct-literal argument flows through date_diff substitution
    (plain replace, not str.format — braces in argument text must never
    crash) and the struct itself translates to named_struct."""
    out = duckdb_to_spark_sql(
        "SELECT date_diff('day', {'a': DATE '1995-01-01'}.a, o_orderdate) AS d FROM orders"
    )
    assert "named_struct('a', DATE '1995-01-01').a" in out
    assert "datediff" in out


def test_strings_untouched_subscripts_one_based():
    """Bracket-ish content inside string literals is never rewritten;
    array subscripts become try_element_at (DuckDB 1-based vs Spark
    0-based), while string-literal map keys stay subscripts."""
    out = duckdb_to_spark_sql("SELECT 'a [x for y] EXCLUDE (b)' AS s, arr[1] FROM t")
    assert "'a [x for y] EXCLUDE (b)'" in out
    assert "try_element_at(arr, 1)" in out
    out = duckdb_to_spark_sql("SELECT m['k'], arr[i + 1][2] FROM t")
    assert "m['k']" in out
    # Non-literal index gets the index-0 NULL guard; chains nest.
    assert "try_element_at(try_element_at(arr, nullif(i + 1, 0)), 2)" in out


def test_ansi_sql_passes_through_unchanged():
    """Plain ANSI SQL (no DuckDB-isms, no backslashes) must come out
    byte-identical — the shim is a no-op outside its rewrite list."""
    for sql in [
        "SELECT a, sum(b) AS s FROM t WHERE c > 5 GROUP BY a HAVING sum(b) > 0 ORDER BY s DESC LIMIT 10",
        "SELECT t1.x, t2.y FROM t1 LEFT JOIN t2 ON t1.k = t2.k AND t2.flag = 'on'",
        "SELECT CASE WHEN x IN (1, 2) THEN 'lo' ELSE 'hi' END AS bucket, count(*) FROM t GROUP BY 1",
        "WITH cte AS (SELECT x FROM t) SELECT * FROM cte WHERE x IS NOT NULL",
        "SELECT m['k'] AS v FROM t",
    ]:
        assert duckdb_to_spark_sql(sql) == sql


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_subscripts_and_list_fns_match_duckdb(spark, duck, seed):
    """Randomized subscripts (1-based, negative, out-of-bounds, chained
    through list_slice/list_concat) over integer literal arrays: the
    shimmed Spark result must equal DuckDB's for the raw text."""
    import random

    rng = random.Random(1000 + seed)
    n = rng.randint(1, 6)
    xs = [rng.randint(-9, 99) for _ in range(n)]
    arr = "[" + ", ".join(map(str, xs)) + "]"
    idx = rng.randint(-n - 2, n + 2)
    a, b = rng.randint(-n - 1, n + 1), rng.randint(-n - 1, n + 1)
    ys = [rng.randint(0, 9) for _ in range(rng.randint(1, 3))]
    arr2 = "[" + ", ".join(map(str, ys)) + "]"
    sql = (
        f"SELECT ({arr})[{idx}] AS sub, "
        f"list_slice({arr}, {a}, {b}) AS sl, "
        f"(list_concat({arr}, {arr2}))[{rng.randint(1, n + len(ys))}] AS cc, "
        f"list_unique({arr}) AS uq"
    )
    sp = spark.sql(duckdb_to_spark_sql(sql)).collect()[0]
    dk = duck.execute(sql).fetchall()[0]
    assert sp.sub == dk[0], (sql, sp, dk)
    assert list(sp.sl) == list(dk[1]), (sql, sp, dk)
    assert sp.cc == dk[2], (sql, sp, dk)
    assert sp.uq == dk[3], (sql, sp, dk)


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_order_by_nulls_match_duckdb(spark, duck, seed):
    """Randomized ORDER BY ... LIMIT over computed nullable keys: the
    null-ordering rewrite must make Spark pick DuckDB's rows. A unique
    trailing tiebreak keeps the selection deterministic."""
    import random

    rng = random.Random(2000 + seed)
    keys = []
    for _ in range(rng.randint(1, 3)):
        mod = rng.randint(2, 7)
        col = rng.choice(["o_totalprice", "o_custkey", "o_orderpriority"])
        direction = rng.choice(["", " DESC", " ASC"])
        keys.append(
            f"CASE WHEN o_orderkey % {mod} = 0 THEN NULL ELSE {col} END{direction}"
        )
    order = ", ".join(keys + ["o_orderkey"])
    sql = (
        f"SELECT o_orderkey FROM orders ORDER BY {order} "
        f"LIMIT {rng.randint(5, 40)}"
    )
    sp = [r.o_orderkey for r in spark.sql(duckdb_to_spark_sql(sql)).collect()]
    dk = [r[0] for r in duck.execute(sql).fetchall()]
    assert sp == dk, sql


@pytest.mark.parametrize("seed", range(10))
def test_fuzz_arithmetic_chains_match_duckdb(spark, duck, seed):
    """Randomized multiplicative chains (* / % //, parens, zero
    divisors): the try_divide/try_mod/NULL-guarded-div rewrite must keep
    SQL precedence and DuckDB's NULL-on-zero. `//` never follows `/` in
    a chain — DuckDB 1.0's DOUBLE `//` overload is internally
    inconsistent, so the generator stays off it like a real flow would."""
    import random

    rng = random.Random(4000 + seed)

    def atom(depth):
        r = rng.random()
        if r < 0.35:
            return str(rng.choice([0, 1, 2, 3, 5, 7, -3, -1]))
        if r < 0.6:
            return f"(o_orderkey % {rng.randint(2, 6)})"
        if r < 0.8 or depth >= 2:
            # bounded, not bare o_orderkey: round(DOUBLE, 9) diverges
            # between the engines once |x|*1e9 exceeds 2^53 (DuckDB
            # rounds via scaled-double arithmetic, Spark via BigDecimal),
            # and products of raw keys cross that line.
            return "(o_orderkey % 11)"
        return "(" + expr(depth + 1, False) + ")"

    def expr(depth, allow_div):
        parts = [atom(depth)]
        seen_div = False
        for _ in range(rng.randint(1, 3)):
            ops = ["*", "%"] + (["/"] if allow_div else ["//"])
            if allow_div and not seen_div:
                ops.append("//")
            op = rng.choice(ops)
            seen_div = seen_div or op == "/"
            parts += [op, atom(depth)]
        return " ".join(parts)

    cols = ", ".join(
        f"round(({expr(0, True)}) * 1.0, 9) AS c{i}" for i in range(6)
    )
    sql = f"SELECT o_orderkey, {cols} FROM orders WHERE o_orderkey < 200"
    sp = {r[0]: tuple(r)[1:] for r in spark.sql(duckdb_to_spark_sql(sql)).collect()}
    dk = {r[0]: tuple(r)[1:] for r in duck.execute(sql).fetchall()}
    assert sp == dk, sql


@pytest.mark.parametrize("seed", range(10))
def test_fuzz_date_sub_intervals_match_duckdb(spark, duck, seed):
    """Randomized timestamp pairs (month ends, pre-epoch, mixed
    times-of-day) through every supported date_sub part: the
    timestampdiff rewrite must reproduce DuckDB's complete-elapsed-unit
    counts in both directions."""
    import random

    rng = random.Random(3000 + seed)

    def ts():
        y = rng.randint(1958, 2043)
        mo = rng.randint(1, 12)
        days = [1, 15, 28]
        if mo != 2:
            days += [29, 30]
        if mo in (1, 3, 5, 7, 8, 10, 12):
            days.append(31)
        d = rng.choice(days)
        h, mi, s = rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59)
        return (
            f"TIMESTAMP '{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}'"
        )

    units = ["year", "quarter", "month", "day", "hour", "minute", "second"]
    exprs = [
        f"date_sub('{u}', {ts()}, {ts()}) AS u{i}"
        for i, u in enumerate(units)
    ]
    sql = "SELECT " + ", ".join(exprs)
    sp = spark.sql(duckdb_to_spark_sql(sql)).collect()[0]
    dk = duck.execute(sql).fetchall()[0]
    assert tuple(sp) == tuple(dk), sql


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_comprehensions_match_duckdb(spark, duck, seed):
    """Randomized nested list comprehensions over integer literals: the
    shimmed Spark result must equal DuckDB's for the raw text."""
    import random

    rng = random.Random(seed)
    xs = [rng.randint(-5, 9) for _ in range(rng.randint(1, 6))]
    m = rng.randint(1, 4)
    lo = rng.randint(-3, 3)
    arr = "[" + ", ".join(map(str, xs)) + "]"
    inner = f"[x * {m} for x in {arr} if x >= {lo}]"
    sql = f"SELECT [y + 1 for y in {inner}] AS r, {arr} AS src"
    spark_rows = spark.sql(duckdb_to_spark_sql(sql)).collect()
    duck_rows = duck.execute(sql).fetchall()
    assert [list(r.r) for r in spark_rows] == [list(r[0]) for r in duck_rows]
    assert [list(r.src) for r in spark_rows] == [list(r[1]) for r in duck_rows]


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_pow_operator_matches_duckdb(spark, duck, seed):
    """Randomized ``**`` expressions mixed with * / % + -, parens and
    unary minus: the power() rewrite must keep DuckDB's precedence
    (tighter than multiplicative, looser than unary minus) and its
    LEFT associativity."""
    import random

    rng = random.Random(7000 + seed)

    def base(depth):
        r = rng.random()
        if r < 0.4:
            return str(rng.choice([0, 1, 2, 3, -2, -3, 5]))
        if r < 0.7 or depth >= 2:
            return f"(o_orderkey % {rng.randint(2, 5)})"
        return "(" + expr(depth + 1) + ")"

    def powchain(depth):
        parts = [base(depth)]
        for _ in range(rng.randint(1, 2)):
            parts += ["**", str(rng.randint(0, 3))]
        return " ".join(parts)

    def expr(depth):
        parts = [powchain(depth)]
        for _ in range(rng.randint(0, 2)):
            parts += [rng.choice(["*", "+", "-"]), powchain(depth)]
        return " ".join(parts)

    cols = ", ".join(
        f"round(({expr(0)}) * 1.0, 9) AS c{i}" for i in range(5)
    )
    sql = f"SELECT o_orderkey, {cols} FROM orders WHERE o_orderkey < 120"
    sp = {r[0]: tuple(r)[1:] for r in spark.sql(duckdb_to_spark_sql(sql)).collect()}
    dk = {r[0]: tuple(r)[1:] for r in duck.execute(sql).fetchall()}
    assert sp == dk, sql


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_quantified_any_all_matches_duckdb(spark, duck, seed):
    """Randomized ``x op ANY/ALL([...])`` with NULL elements, empty
    arrays, and arithmetic left sides: exists/forall must reproduce
    DuckDB's three-valued logic exactly."""
    import random

    rng = random.Random(8000 + seed)

    def arr():
        els = [
            "NULL" if rng.random() < 0.25 else str(rng.randint(0, 6))
            for _ in range(rng.randint(0, 4))
        ]
        return "[" + ", ".join(els) + "]" if els else "[]"

    def lhs():
        r = rng.random()
        if r < 0.4:
            return f"n_nationkey % {rng.randint(2, 7)}"
        if r < 0.7:
            return f"n_nationkey + {rng.randint(-2, 2)}"
        return "NULL" if rng.random() < 0.5 else str(rng.randint(0, 5))

    cols = []
    for i in range(6):
        op = rng.choice(["=", "<>", "<", ">", "<=", ">="])
        q = rng.choice(["ANY", "ALL", "SOME"])
        cols.append(f"({lhs()}) {op} {q}({arr()}) AS c{i}")
    sql = f"SELECT n_nationkey, {', '.join(cols)} FROM nation"
    sp = {r[0]: tuple(r)[1:] for r in spark.sql(duckdb_to_spark_sql(sql)).collect()}
    dk = {r[0]: tuple(r)[1:] for r in duck.execute(sql).fetchall()}
    assert sp == dk, sql


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_list_fns_match_duckdb(spark, duck, seed):
    """Randomized int-with-NULL lists through the round-3 list-function
    expansions (sort variants, folds, gather/filter/resize/grade_up)."""
    import random

    rng = random.Random(9000 + seed)

    def lst():
        els = [
            "NULL"
            if rng.random() < 0.2
            else rng.choice(
                [str(rng.randint(-3, 9)), f"n_nationkey % {rng.randint(2, 5)}"]
            )
            for _ in range(rng.randint(0, 5))
        ]
        return "[" + ", ".join(els) + "]" if els else "[]"

    l1, l2 = lst(), lst()
    n = rng.randint(0, 6)
    idxs = "[" + ", ".join(
        str(rng.randint(-1, 7)) for _ in range(rng.randint(0, 4))
    ) + "]" if rng.random() < 0.9 else "[]"
    mask = "[" + ", ".join(
        rng.choice(["true", "false", "n_nationkey % 2 = 0"])
        for _ in range(rng.randint(0, 4))
    ) + "]" if rng.random() < 0.9 else "[]"
    sql = f"""
    SELECT n_nationkey,
           list_sort({l1}, 'DESC') AS s_desc,
           list_sort({l1}, 'ASC', 'NULLS FIRST') AS s_nf,
           list_reverse_sort({l2}) AS s_rev,
           list_count({l1}) AS cnt,
           round(list_avg({l1}), 6) AS avg_v,
           list_median({l2}) AS med,
           list_grade_up({l1}) AS grades,
           list_resize({l2}, {n}) AS resized,
           list_select({l1}, {idxs}) AS gathered,
           list_where({l2}, {mask}) AS masked_v,
           list_any_value({l1}) AS anyv,
           list_first({l2}) AS fst,
           list_last({l1}) AS lst
    FROM nation
    """
    sp = {r[0]: tuple(r)[1:] for r in spark.sql(duckdb_to_spark_sql(sql)).collect()}
    dk = {r[0]: tuple(r)[1:] for r in duck.execute(sql).fetchall()}
    norm = lambda row: tuple(  # noqa: E731
        tuple(x) if isinstance(x, (list, tuple)) else x for x in row
    )
    assert {k: norm(v) for k, v in sp.items()} == {
        k: norm(v) for k, v in dk.items()
    }, sql


@pytest.mark.parametrize("seed", range(12))
def test_fuzz_bracket_slicing_matches_duckdb(spark, duck, seed):
    """Randomized [i:j] slicing over string and integer-list literals —
    negative bounds, empty bounds, zero, out-of-range, inverted ranges —
    shimmed Spark result must equal DuckDB's for the raw text."""
    import random

    rng = random.Random(3000 + seed)

    def bound():
        r = rng.random()
        if r < 0.2:
            return ""
        return str(rng.randint(-8, 9))

    s = "".join(rng.choice("abcdefg") for _ in range(rng.randint(0, 8)))
    xs = [rng.randint(-9, 99) for _ in range(rng.randint(1, 6))]
    cols = []
    for i in range(4):
        a, b = bound(), bound()
        cols.append(f"'{s}'[{a}:{b}] AS sl{i}")
    for i in range(4):
        a, b = bound(), bound()
        cols.append(f"[{', '.join(map(str, xs))}][{a}:{b}] AS ll{i}")
    sql = "SELECT " + ", ".join(cols)
    out = duckdb_to_spark_sql(sql)
    diag = compare(spark.sql(out), duck, sql)
    assert diag["ok"], f"{sql}\n{out}\n{diag}"


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_quantile_disc_matches_duckdb(spark, duck, seed):
    """Randomized quantile_disc probabilities over a grouped integer
    column: the rank-arithmetic rewrite must pick the same element DuckDB
    picks for every q, including the 0/1 extremes and tie-adjacent
    fractions."""
    import random

    rng = random.Random(4000 + seed)
    qs = sorted(
        {round(rng.random(), 3) for _ in range(3)} | {0.0, 1.0, 0.5}
    )
    cols = ", ".join(
        f"quantile_disc(o_orderkey, {q}) AS q_{str(q).replace('.', '_')}"
        for q in qs
    )
    sql = (
        f"SELECT o_orderpriority, {cols} FROM orders "
        "WHERE o_orderkey < 3000 GROUP BY o_orderpriority"
    )
    out = duckdb_to_spark_sql(sql)
    diag = compare(spark.sql(out), duck, sql)
    assert diag["ok"], f"{sql}\n{diag}"


@pytest.mark.parametrize("seed", range(4))
def test_fuzz_chained_slicing_matches_duckdb(spark, duck, seed):
    """Chained [i:j][k:l] slicing (the second subscript's operand is the
    FIRST rewrite's bound-lambda output, exercising the generated-wrapper
    kind inference) — with and without extra parens — must match DuckDB."""
    import random

    rng = random.Random(5000 + seed)

    def bound():
        return "" if rng.random() < 0.2 else str(rng.randint(-6, 7))

    s = "".join(rng.choice("abcdefgh") for _ in range(rng.randint(2, 9)))
    xs = [rng.randint(0, 99) for _ in range(rng.randint(2, 6))]
    cols = []
    for i in range(3):
        a, b, c, d = bound(), bound(), bound(), bound()
        cols.append(f"'{s}'[{a}:{b}][{c}:{d}] AS ch{i}")
    a, b, c, d = bound(), bound(), bound(), bound()
    cols.append(f"('{s}'[{a}:{b}])[{c}:{d}] AS par0")
    cols.append(
        f"[{', '.join(map(str, xs))}][{bound()}:{bound()}]"
        f"[{bound()}:{bound()}] AS lch0"
    )
    sql = "SELECT " + ", ".join(cols)
    out = duckdb_to_spark_sql(sql)
    diag = compare(spark.sql(out), duck, sql)
    assert diag["ok"], f"{sql}\n{out}\n{diag}"


def test_slice_operand_evaluated_once():
    """The sliced operand is bound to a lambda variable, not spliced into
    the bound arithmetic 4x — a non-deterministic operand (uuid()) must
    appear exactly once in the translation, and nested slices must not
    compound the SQL size."""
    out = duckdb_to_spark_sql("SELECT (cast(uuid() AS varchar))[-8:-2] AS t")
    assert out.count("uuid") == 1, out
    # nested: each level adds linearly, not multiplicatively
    flat = duckdb_to_spark_sql("SELECT ('abcdefgh')[2:6] AS t")
    nested = duckdb_to_spark_sql("SELECT ('abcdefgh')[2:6][1:3][1:2] AS t")
    assert len(nested) < 4 * len(flat), (len(flat), len(nested))


def test_quantile_disc_window_and_one_arg_refusals():
    """quantile_disc OVER (...) and the 1-arg median shorthand refuse with
    actionable errors instead of emitting SQL that fails opaquely later
    (the CASE translation is not a window function; this DuckDB build
    itself rejects 1-arg quantile)."""
    with pytest.raises(ValueError, match="OVER"):
        duckdb_to_spark_sql(
            "SELECT quantile_disc(x, 0.5) OVER (PARTITION BY g) FROM t"
        )
    with pytest.raises(ValueError, match="single argument"):
        duckdb_to_spark_sql("SELECT quantile(x) FROM t")
    with pytest.raises(ValueError, match="single argument"):
        duckdb_to_spark_sql("SELECT quantile_disc(x) FROM t")


def test_every_call_table_row_has_a_parity_case():
    """No Spark: each row of the call table (every ``*_CALLS`` segment,
    ``_FN_RENAMES`` included) and each bare type-name rename matches at
    least one DuckDB-parity text of this bank, ``SCALARS`` or
    ``AGG_CASES`` after literal masking — so no mapping ships without a
    differential case."""
    from tests.test_dialect_scalars import AGG_CASES, SCALARS

    texts = [sql for _, sql in BANK] + list(SCALARS)
    texts += [f"SELECT {expr} AS r FROM {frm}" for expr, frm in AGG_CASES]
    masked = [dialect._mask_strings(t)[0] for t in texts]
    tables = [v for k, v in vars(dialect).items() if k.endswith("_CALLS")]
    patterns = [pattern for table in tables for pattern, _ in table]
    renames = {dialect._call_pattern(s).pattern for s, _ in dialect._FN_RENAMES}
    assert renames <= {p.pattern for p in patterns}
    patterns += [dialect._BARE_VARCHAR_RE, dialect._BARE_BLOB_RE]
    assert len(tables) >= 9 and len(patterns) > 140
    missing = [p.pattern for p in patterns if not any(p.search(m) for m in masked)]
    assert not missing, missing
