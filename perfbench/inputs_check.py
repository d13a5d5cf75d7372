#!/usr/bin/env python3
"""Compare the benchmark's generated tables with a reference corpus.

Usage, from the repository root::

    python3 perfbench/inputs_check.py --ref DIR --sf 0.1 [--seed 1] [--kernels]

``DIR`` holds the ten reference tables as ``<name>.parquet``. The script
generates the same scale with ``datagen.py`` under ``.perfbench_work/``
(deleted afterwards) and prints one markdown table: each property the
measured layers depend on, computed by DuckDB on both sets of tables.
``--kernels`` adds the output row count of every kernel query the
``kernel_sessions`` workload runs, from the registry's DuckDB oracles.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (what it drives, property, DuckDB SQL returning one row)
PROPERTIES = [
    ("scans", "rows lineitem / orders / customer / part / supplier",
     "SELECT (SELECT count(*) FROM lineitem), (SELECT count(*) FROM orders), (SELECT count(*) FROM customer), "
     "(SELECT count(*) FROM part), (SELECT count(*) FROM supplier)"),
    ("scans", "rows events / documents / embeddings",
     "SELECT (SELECT count(*) FROM events), (SELECT count(*) FROM documents), (SELECT count(*) FROM embeddings)"),
    ("filters, joins", "NULL cells, all tables",
     "SELECT (SELECT count(*) FROM lineitem WHERE NOT (lineitem IS NOT NULL)) "
     "+ (SELECT count(*) FROM orders WHERE NOT (orders IS NOT NULL)) "
     "+ (SELECT count(*) FROM customer WHERE NOT (customer IS NOT NULL)) "
     "+ (SELECT count(*) FROM part WHERE NOT (part IS NOT NULL)) "
     "+ (SELECT count(*) FROM events WHERE NOT (events IS NOT NULL))"),
    ("LEFT joins", "unmatched l_orderkey / l_partkey / o_custkey",
     "SELECT (SELECT count(*) FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey), "
     "(SELECT count(*) FROM lineitem ANTI JOIN part ON l_partkey = p_partkey), "
     "(SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey)"),
    ("joins, co-order", "lines per order: mean / max; orders without lines",
     "SELECT round(avg(c), 3), max(c), (SELECT count(*) FROM orders ANTI JOIN lineitem ON o_orderkey = l_orderkey) "
     "FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)"),
    ("joins", "orders per customer: mean / max",
     "SELECT round(avg(c), 3), max(c) FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey)"),
    ("group, skew", "top key share l_suppkey / l_partkey / o_custkey / user_id",
     "SELECT (SELECT round(max(c) / sum(c), 5) FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_suppkey)), "
     "(SELECT round(max(c) / sum(c), 5) FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey)), "
     "(SELECT round(max(c) / sum(c), 5) FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey)), "
     "(SELECT round(max(c) / sum(c), 5) FROM (SELECT count(*) AS c FROM events GROUP BY user_id))"),
    ("group", "distinct l_returnflag, l_linestatus / o_orderstatus / c_mktsegment / p_brand / p_name",
     "SELECT (SELECT count(DISTINCT (l_returnflag, l_linestatus)) FROM lineitem), "
     "(SELECT count(DISTINCT o_orderstatus) FROM orders), (SELECT count(DISTINCT c_mktsegment) FROM customer), "
     "(SELECT count(DISTINCT p_brand) FROM part), (SELECT count(DISTINCT p_name) FROM part)"),
    ("filter selectivity", "share l_quantity > 25 / l_shipdate >= 1998-06-30 / o_totalprice < 250000",
     "SELECT (SELECT round(avg((l_quantity > 25)::INT), 3) FROM lineitem), "
     "(SELECT round(avg((l_shipdate >= TIMESTAMP '1998-06-30')::INT), 3) FROM lineitem), "
     "(SELECT round(avg((o_totalprice < 250000)::INT), 3) FROM orders)"),
    ("filter selectivity", "share p_name LIKE '%bolt%' / c_name LIKE '%1%' / props LIKE '%5}'",
     "SELECT (SELECT round(avg((p_name LIKE '%bolt%')::INT), 3) FROM part), "
     "(SELECT round(avg((c_name LIKE '%1%')::INT), 3) FROM customer), "
     "(SELECT round(avg((props LIKE '%5}')::INT), 3) FROM events)"),
    ("custom SQL", "events value p50 / p90; event_type top share",
     "SELECT round(quantile_cont(value, 0.5), 1), round(quantile_cont(value, 0.9), 1), "
     "(SELECT round(max(c) / sum(c), 4) FROM (SELECT count(*) AS c FROM events GROUP BY event_type)) FROM events"),
    ("sorts", "events out of ts order by event_id",
     "SELECT count(*) FROM (SELECT ts < lag(ts) OVER (ORDER BY event_id) AS b FROM events) WHERE b"),
    ("dedup", "words per document: min / mean / max; vocabulary",
     "SELECT min(n), round(avg(n), 1), max(n), (SELECT count(DISTINCT w) FROM "
     "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)) "
     "FROM (SELECT len(string_split(text, ' ')) AS n FROM documents)"),
    ("dedup", "near-duplicate rows (text = other text + ' dup'); exact duplicate texts",
     "SELECT (SELECT count(DISTINCT x.doc_id) FROM documents x JOIN documents o ON x.text = o.text || ' dup'), "
     "(SELECT count(*) - count(DISTINCT text) FROM documents)"),
    ("text stats", "lang en share; source = doc_id % 20",
     "SELECT round(avg((lang = 'en')::INT), 3), round(avg((source = 'src' || (doc_id % 20))::INT), 3) FROM documents"),
    ("similarity", "cosine of pairs, same label / other label (mean)",
     "WITH p AS (SELECT a.label = b.label AS same, list_dot_product(a.embedding, b.embedding) AS c "
     "FROM (SELECT * FROM embeddings LIMIT 500) a JOIN (SELECT * FROM embeddings LIMIT 500) b ON a.vec_id < b.vec_id) "
     "SELECT round(avg(c) FILTER (WHERE same), 3), round(avg(c) FILTER (WHERE NOT same), 3) FROM p"),
    ("graph", "co-order supplier pairs; max co-orders of a pair",
     "WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem), "
     "co AS (SELECT a.s, b.s, count(*) AS c FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s GROUP BY ALL) "
     "SELECT count(*), max(c) FROM co"),
]

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def profile(con: duckdb.DuckDBPyConnection, kernels: list[tuple[str, str]]) -> list[str]:
    out = [" / ".join(str(v) for v in con.execute(sql).fetchone()) for _, _, sql in PROPERTIES]
    out += [str(con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]) for _, sql in kernels]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ref", required=True, help="directory of the reference tables")
    ap.add_argument("--sf", type=float, required=True, help="scale factor of the reference tables")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--kernels", action="store_true", help="add kernel oracle output row counts")
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import datagen
    from workloads import MEMO_CHAINS

    kernels: list[tuple[str, str]] = []
    if args.kernels:
        from gemini_data_wrangler_spark.queries import registry

        reg = registry()
        kernels = [(q, reg[q][1]) for head, sibs in MEMO_CHAINS.items() for q in (head, *sibs)]

    work = os.path.join(ROOT, ".perfbench_work", f"inputs-{os.getpid()}")
    try:
        datagen.generate(work, args.sf, args.seed)
        ref, gen = profile(connect(args.ref), kernels), profile(connect(work), kernels)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    rows = [(drives, prop) for drives, prop, _ in PROPERTIES] + [("kernel output", f"rows of {q}") for q, _ in kernels]
    print(f"| drives | property (sf{args.sf:g}) | reference | generated (seed {args.seed}) |")
    print("|---|---|---|---|")
    for (drives, prop), r, g in zip(rows, ref, gen):
        print(f"| {drives} | {prop} | {r} | {g} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
