"""Round-2 extensions, batch 51: scalar function-bank depth — regex,
higher-order array functions, JSON path extraction.

The reference's CUSTOM escape hatch exposes the whole scalar function
surface to migrated flows; these banks pin the Spark behavior of the
three families real flows lean on hardest, value-matched against
DuckDB's independent implementations (each engine spells its own
idiom — e.g. backreferences are $1 in Spark but \\1 in DuckDB, JSON
paths are $.k in both but extraction functions differ).

Scale notes: every bank is a row-local projection over a bounded
subset — whole-stage-codegen expression work with no shuffle at all;
they exist for CORRECTNESS pinning, not throughput.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemini_data_wrangler_spark.queries import register
from gemini_data_wrangler_spark.sources.readers import sf_table


# ---------------------------------------------------------------------------
# Regex bank
# ---------------------------------------------------------------------------
@register(
    "scalar_regex_functions",
    r"""
    SELECT o_orderkey,
           regexp_extract(o_orderpriority, '(\d+)-(\w+)', 1) AS prio_num,
           regexp_extract(o_orderpriority, '(\d+)-(\w+)', 2) AS prio_word,
           len(regexp_extract_all(CAST(o_orderkey AS VARCHAR), '[0-9]')) AS n_digits,
           coalesce(array_to_string(
             regexp_extract_all(CAST(o_orderkey AS VARCHAR), '[0-7]'), '|'), '')
             AS low_digits,
           regexp_replace(o_orderpriority, '(\d+)-(\w+)', '\2_\1', 'g') AS swapped,
           regexp_matches(o_orderpriority, '^[123]-') AS is_top3
    FROM orders WHERE o_orderkey < 500
    """,
)
def scalar_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function bank: group extraction (1-indexed groups),
    extract-all lists, match counting, group-swapping replace
    (backreference syntax is $n in Spark vs \\n in DuckDB — each side
    written natively, values must agree), and boolean partial match.
    Pure codegen expressions; the bank pins semantics for migrated
    CUSTOM stages."""
    orders = sf_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return orders.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", r"(\d+)-(\w+)", 1).alias("prio_num"),
        F.regexp_extract("o_orderpriority", r"(\d+)-(\w+)", 2).alias("prio_word"),
        F.size(
            F.expr(r"regexp_extract_all(CAST(o_orderkey AS STRING), '[0-9]', 0)")
        ).alias("n_digits"),
        F.array_join(
            F.expr(r"regexp_extract_all(CAST(o_orderkey AS STRING), '[0-7]', 0)"),
            "|",
        ).alias("low_digits"),
        F.regexp_replace("o_orderpriority", r"(\d+)-(\w+)", r"$2_$1").alias(
            "swapped"
        ),
        F.regexp_like("o_orderpriority", F.lit("^[123]-")).alias("is_top3"),
    )


# ---------------------------------------------------------------------------
# Higher-order array function bank
# ---------------------------------------------------------------------------
@register(
    "scalar_higher_order_functions",
    """
    SELECT n_nationkey,
           array_to_string(
             list_transform(list_zip([n_nationkey, n_regionkey],
                                     [n_regionkey, n_nationkey]),
                            p -> p[1] + p[2]), '|') AS zipped_sums,
           list_sum(list_transform([n_nationkey, n_regionkey, 7],
                    x -> CAST(x * x AS DOUBLE))) AS sum_squares,
           len(list_filter([n_nationkey, n_regionkey], x -> x % 2 = 0)) > 0 AS any_even,
           len(list_filter([n_nationkey, n_regionkey], x -> NOT (x >= 0))) = 0 AS all_nonneg,
           array_to_string(
             flatten([[n_nationkey], [n_regionkey, n_nationkey]]), '|') AS flat,
           array_to_string(
             list_transform(generate_series(1, 3), i -> n_nationkey * i), '|')
             AS multiples,
           array_to_string(
             list_transform(generate_series(1, 3), i -> n_regionkey), '|')
             AS repeated
    FROM nation
    """,
)
def scalar_higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array bank: zip_with, aggregate-as-fold (sum of
    squares), exists/forall, flatten, sequence-driven transform, and
    array_repeat — the Spark lambda-expression surface matched against
    DuckDB's list_* equivalents (which lack direct exists/forall: the
    oracle spells them as filter-length idioms). All row-local codegen;
    arrays are bounded literals so the bank is O(rows).  Array results
    are `array_join`-serialized so every output column is scalar."""
    nat = sf_table(spark, sf_dir, "nation")
    nk, rk = F.col("n_nationkey").cast("bigint"), F.col("n_regionkey").cast("bigint")
    arr2 = F.array(nk, rk)

    def joined(arr):
        return F.array_join(F.transform(arr, lambda x: x.cast("string")), "|")

    return nat.select(
        "n_nationkey",
        joined(
            F.zip_with(F.array(nk, rk), F.array(rk, nk), lambda a, b: a + b)
        ).alias("zipped_sums"),
        F.aggregate(
            F.array(nk, rk, F.lit(7).cast("bigint")),
            F.lit(0.0),
            lambda acc, x: acc + (x * x).cast("double"),
        ).alias("sum_squares"),
        F.exists(arr2, lambda x: x % 2 == 0).alias("any_even"),
        F.forall(arr2, lambda x: x >= 0).alias("all_nonneg"),
        joined(F.flatten(F.array(F.array(nk), F.array(rk, nk)))).alias("flat"),
        joined(
            F.transform(F.sequence(F.lit(1), F.lit(3)), lambda i: nk * i)
        ).alias("multiples"),
        joined(F.array_repeat(rk, 3)).alias("repeated"),
    )


# ---------------------------------------------------------------------------
# JSON path bank (constructed nested document per event)
# ---------------------------------------------------------------------------
@register(
    "scalar_json_functions",
    """
    WITH j AS (
      SELECT event_id,
             '{"k": ' || CAST(event_id % 100 AS VARCHAR) ||
             ', "tags": ["' || event_type || '", "x"]' ||
             ', "meta": {"v": ' || CAST(user_id % 10 AS VARCHAR) || '}}' AS doc
      FROM events WHERE event_id < 300
    )
    SELECT event_id,
           CAST(json_extract(doc, '$.k') AS BIGINT) AS k_val,
           json_extract_string(doc, '$.tags[0]') AS first_tag,
           CAST(json_extract(doc, '$.meta.v') AS BIGINT) AS nested_v,
           json_extract_string(doc, '$.missing') AS absent,
           CAST(json_array_length(json_extract(doc, '$.tags')) AS INT) AS n_tags
    FROM j
    """,
)
def scalar_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path bank over a constructed nested document (the events
    `props` column is flat, so the bank builds a richer doc from row
    values — byte-identical on both engines): scalar extraction with
    casts, array indexing, nested paths, missing-key null, array
    length. Spark `get_json_object`/`json_array_length` vs DuckDB's
    json_extract family. Row-local; no shuffle."""
    ev = sf_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    doc = F.concat(
        F.lit('{"k": '),
        (F.col("event_id") % 100).cast("string"),
        F.lit(', "tags": ["'),
        F.col("event_type"),
        F.lit('", "x"]'),
        F.lit(', "meta": {"v": '),
        (F.col("user_id") % 10).cast("string"),
        F.lit("}}"),
    )
    j = ev.select("event_id", doc.alias("doc"))
    return j.select(
        "event_id",
        F.get_json_object("doc", "$.k").cast("bigint").alias("k_val"),
        F.get_json_object("doc", "$.tags[0]").alias("first_tag"),
        F.get_json_object("doc", "$.meta.v").cast("bigint").alias("nested_v"),
        F.get_json_object("doc", "$.missing").alias("absent"),
        F.json_array_length(F.get_json_object("doc", "$.tags")).alias("n_tags"),
    )
