"""Command-line entry point: run a stage pipeline (the reference's flow
JSON — ui/src/App.tsx export shape, re-imported by `plans/graph.py`) or a
single SQL statement against a directory of parquet/CSV tables, and write
or preview the final result.

    python -m gemini_data_wrangler_spark \
        --tables-dir /data/sf100 \
        --flow pipeline.json \
        --out /data/out --format parquet

    python -m gemini_data_wrangler_spark \
        --tables-dir /data/sf100 \
        --sql "SELECT c_mktsegment, sum(o_totalprice) AS s
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY 1" --show 20

This is the `spark-submit` surface: on a cluster,
``spark-submit --py-files gdws.zip -m gemini_data_wrangler_spark ...``
with the session created by the cluster manager. The SQL path runs as a
one-stage CUSTOM pipeline, so it gets the same DuckDB→Spark dialect shim
and the same loaded-table schemas (for COLUMNS(...), * REPLACE, len() and
slicing) as a flow's CUSTOM stages; flows exported from the reference run
unchanged.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="gemini_data_wrangler_spark")
    p.add_argument("--tables-dir", required=True, help="directory of <name>.parquet / <name>.csv tables")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--flow", help="flow JSON file (reference export shape)")
    src.add_argument("--sql", help="single SQL statement (DuckDB idioms accepted)")
    p.add_argument("--out", help="output path; omit to only preview")
    p.add_argument("--format", default="parquet", choices=["parquet", "csv", "json", "orc"])
    p.add_argument("--show", type=int, default=10, help="preview row count printed to stdout")
    p.add_argument("--master", default=None, help="Spark master override (default: local[*] or inherited)")
    p.add_argument("--continue-on-error", action="store_true", help="skip failing stages (reference semantics)")
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "parity":
        from gemini_data_wrangler_spark.parity import main as parity_main

        return parity_main(argv[1:])
    args = build_parser().parse_args(argv)

    owned = spark is None
    if spark is None:
        from gemini_data_wrangler_spark.session import get_spark

        spark = get_spark(app_name="gdws-cli", master=args.master)

    from gemini_data_wrangler_spark.operators.pipeline import PipelineRunner
    from gemini_data_wrangler_spark.sources.readers import load_dir_tables

    tables = load_dir_tables(spark, args.tables_dir)
    runner = PipelineRunner(spark=spark, tables=tables)

    if args.flow:
        from gemini_data_wrangler_spark.plans.graph import import_flow_json

        with open(args.flow) as fh:
            stages = import_flow_json(fh.read())
    else:
        stages = [{"type": "CUSTOM", "data": {"sql": args.sql}}]
    results = runner.run(stages, continue_on_error=args.continue_on_error)
    if not results or results[-1].df is None:
        print(results[-1].error if results else "flow produced no results", file=sys.stderr)
        return 2
    df = results[-1].df

    if args.out:
        from gemini_data_wrangler_spark.sources import sinks

        writer = {
            "parquet": sinks.write_parquet,
            "csv": sinks.write_csv,
            "json": sinks.write_json,
            "orc": sinks.write_orc,
        }[args.format]
        writer(df, args.out)
        print(f"wrote {args.format} to {args.out}")
    if args.show:
        rows = df.limit(args.show).collect()
        print(json.dumps([r.asDict(recursive=True) for r in rows], default=str, indent=1))
    if owned:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
