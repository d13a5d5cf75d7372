"""Full-registry parity runner: every ``queries()`` entry vs its DuckDB
oracle, emitted as a driver-readable artifact.

The driver's CORRECTNESS_r{N}.json covers a fixed 50-row sample of the
registry; this module produces the same per-query record shape
(``rows_match`` / ``schema_match`` / ``hash_match`` / ``spark_rows`` /
``oracle_rows`` / ``err``) for EVERY registered query, so the judge can
diff the complete inventory instead of trusting the builder's local suite.

Run:  ``python -m gemini_data_wrangler_spark parity --out PARITY_r03.json``
(defaults: sf0.01 tables, same comparison semantics as the test suite,
which imports its ``compare`` from here).
"""

from __future__ import annotations

import json
import math
import os
import time
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

def _norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr gives shortest round-trip string; binary-equal doubles match.
        return repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    return str(v)


def _rows_multiset(columns: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return Counter(tuple(_norm_value(row[i]) for i in order) for row in rows)


# Queries that have EVER read red in a driver CORRECTNESS round (VERDICT
# r6 ask #4): their parity records additionally carry the first few
# canonical-form rows from BOTH engines, so when an external environment
# next disagrees the diff is over actual values, not a boolean. The
# members sibling is included as the discriminating half of the r7
# kmeans experiment.
EVER_RED = frozenset({"embedding_kmeans", "embedding_kmeans_members"})


def compare(spark_df, duck_con, oracle_sql: str, sample: bool = False) -> dict:
    """Return a diagnostics dict; ``ok`` True when everything matches.
    ``spark_s`` and ``oracle_s`` time the Spark collect and the DuckDB
    fetch."""
    t0 = time.perf_counter()
    spark_cols = [c.lower() for c in spark_df.columns]
    spark_rows = [tuple(r) for r in spark_df.collect()]
    t1 = time.perf_counter()

    duck_res = duck_con.execute(oracle_sql)
    duck_cols = [d[0].lower() for d in duck_res.description]
    duck_rows = duck_res.fetchall()
    t2 = time.perf_counter()

    out = {
        "spark_s": t1 - t0,
        "oracle_s": t2 - t1,
        "spark_rows": len(spark_rows),
        "duck_rows": len(duck_rows),
        "spark_cols": sorted(spark_cols),
        "duck_cols": sorted(duck_cols),
        "rowcount_ok": len(spark_rows) == len(duck_rows),
        "schema_ok": sorted(spark_cols) == sorted(duck_cols),
        "values_ok": False,
        "sample_diff": None,
    }
    if out["rowcount_ok"] and out["schema_ok"]:
        ms_spark = _rows_multiset(spark_cols, spark_rows)
        ms_duck = _rows_multiset(duck_cols, duck_rows)
        out["values_ok"] = ms_spark == ms_duck
        if not out["values_ok"]:
            only_spark = list((ms_spark - ms_duck).items())[:3]
            only_duck = list((ms_duck - ms_spark).items())[:3]
            out["sample_diff"] = {"only_spark": only_spark, "only_duck": only_duck}
        if sample:
            # First 3 rows in sorted canonical order — EXACTLY the hashed
            # representation, so two artifacts from different environments
            # diff value-by-value.
            out["spark_sample"] = sorted(ms_spark.elements())[:3]
            out["duck_sample"] = sorted(ms_duck.elements())[:3]
    out["ok"] = out["rowcount_ok"] and out["schema_ok"] and out["values_ok"]
    return out


def duck_connection(sf_dir: str):
    """DuckDB connection with the sf tables registered as views, the way
    the driver's oracle harness does."""
    import duckdb

    from gemini_data_wrangler_spark.sources.readers import TESTDATA_TABLES

    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def run_parity(spark, sf_dir: str, only: list[str] | None = None) -> dict:
    """Run every registry query (or the ``only`` subset) against its oracle;
    return the artifact dict. Unknown ``only`` names raise ``ValueError``
    before any query runs.

    Record shape matches CORRECTNESS_r{N}.json rows, plus ``spark_s``
    (builder and collect) and ``oracle_s`` (DuckDB) in seconds and
    ``steal_s`` (host steal during the query); rows-only queries (no
    oracle) get ``err: "no_oracle"`` with their row count, the same weaker
    check CORRECTNESS_r{N}.json records.
    """
    from gemini_data_wrangler_spark.queries import env_fingerprint, registry, run_each

    con = duck_connection(sf_dir)

    def run(name, build, oracle) -> dict:
        t0 = time.perf_counter()
        df = build()
        if oracle is None:
            rows = df.count()
            spark_s = round(time.perf_counter() - t0, 3)
            return {"spark_rows": rows, "err": "no_oracle", "spark_s": spark_s, "oracle_s": 0.0}
        builder_s = time.perf_counter() - t0
        diag = compare(df, con, oracle, sample=name in EVER_RED)
        rec = {
            "rows_match": diag["rowcount_ok"],
            "schema_match": diag["schema_ok"],
            "hash_match": diag["values_ok"],
            "spark_rows": diag["spark_rows"],
            "oracle_rows": diag["duck_rows"],
            "spark_s": round(builder_s + diag["spark_s"], 3),
            "oracle_s": round(diag["oracle_s"], 3),
        }
        if "spark_sample" in diag:
            rec["spark_sample"] = diag["spark_sample"]
            rec["oracle_sample"] = diag["duck_sample"]
        if not diag["ok"]:
            rec["err"] = json.dumps(diag["sample_diff"], default=str)[:500] or "mismatch"
        return rec

    t_start = time.time()
    try:
        records = run_each(spark, sf_dir, sorted(set(only or registry())), run)
    finally:
        con.close()
    empty = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "spark_s": None,
        "oracle_s": None,
    }
    results = {name: {**empty, **rec} for name, rec in records.items()}

    oracle_rows = [r for r in results.values() if r["err"] != "no_oracle"]
    summary = {
        "sf_dir": sf_dir,
        "env": env_fingerprint(spark),
        "total_queries": len(results),
        "oracle_backed": len(oracle_rows),
        "rows_only": len(results) - len(oracle_rows),
        "hash_matched": sum(1 for r in oracle_rows if r["hash_match"]),
        "failures": sorted(
            n for n, r in results.items() if r["err"] not in (None, "no_oracle")
        ),
        "elapsed_sec": round(time.time() - t_start, 1),
    }
    return {"summary": summary, "queries": results}


def main(argv: list[str] | None = None) -> int:
    import argparse

    p = argparse.ArgumentParser(prog="gemini_data_wrangler_spark parity")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--out", default="PARITY.json")
    p.add_argument("--only", nargs="*", help="subset of query names")
    args = p.parse_args(argv)

    from gemini_data_wrangler_spark.session import get_spark

    spark = get_spark(app_name="gdws-parity")
    try:
        artifact = run_parity(spark, args.sf_dir, only=args.only)
    except ValueError as exc:  # unknown --only names
        spark.stop()
        p.error(str(exc))
    with open(args.out, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    s = artifact["summary"]
    print(
        f"parity: {s['hash_matched']}/{s['oracle_backed']} oracle-backed hash-matched, "
        f"{s['rows_only']} rows-only, {len(s['failures'])} failures "
        f"({s['elapsed_sec']}s) -> {args.out}"
    )
    timed = [(n, r) for n, r in artifact["queries"].items() if r["spark_s"] is not None]
    timed.sort(key=lambda nr: -(nr[1]["spark_s"] + nr[1]["oracle_s"]))
    print("slowest queries (spark_s + oracle_s):")
    for name, r in timed[:10]:
        print(f"  {name:45s} spark={r['spark_s']:7.2f}s oracle={r['oracle_s']:6.2f}s")
    spark.stop()
    return 1 if s["failures"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
