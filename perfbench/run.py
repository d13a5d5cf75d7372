#!/usr/bin/env python3
"""Benchmark of the Spark wrangling engine: one workload per process.

Usage, from the repository root::

    python3 perfbench/run.py --workload stage_flows --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one process each

A run generates its input tables from ``--seed`` (``datagen.py``; ``--data
DIR`` reads a given set of tables instead), sets the engine up three times
(the reported ``setup_s`` is the median), runs every distinct operation once
untimed while checking its output against DuckDB through ``parity.compare``,
then runs whole passes of the workload closed-loop until ``--seconds`` have
passed (an even number of passes with ``--trace 1``). The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Lines before it print every metric by name and
unit.

Everything the run writes stays inside the repository checkout: inputs,
Spark scratch space and temporary files go to ``.perfbench_work/`` and are
deleted at the end; the run record (steps, spans, host and JVM counters,
versions) goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

from tracing import host_cpu_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "gemini_data_wrangler_spark"
SETUPS = 3
DRIVER_MEM = "4g"
WARMUP_QUERY = "flagship_segment_sales"


def pin_environment(work: str) -> dict:
    """Fix every engine knob the run depends on; return what was pinned."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_EXTRA_CONF": "spark.ui.showConsoleProgress=false;"
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "TMPDIR": os.path.join(work, "tmp"),
        # No hsperfdata file: HotSpot writes it under /tmp whatever the tmpdir.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    return pinned


def versions(spark) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


class Engine:
    """The engine's modules, freshly imported for one set-up."""

    def __init__(self, tracer) -> None:
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        importlib.import_module(PKG)
        from tracing import install_layer_spans

        install_layer_spans(tracer)  # before the registry binds the wrapped names
        from gemini_data_wrangler_spark import parity, queries, session
        from gemini_data_wrangler_spark.operators.pipeline import PipelineRunner
        from gemini_data_wrangler_spark.plans import graph, repair
        from gemini_data_wrangler_spark.sources import readers, sinks

        self.session, self.queries, self.parity = session, queries, parity
        self.graph, self.repair, self.readers, self.sinks = graph, repair, readers, sinks
        self.PipelineRunner = PipelineRunner


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str, data: str | None) -> None:
        from tracing import Tracer
        from workloads import WORKLOADS

        self.seed, self.seconds, self.traced, self.work = seed, seconds, traced, work
        self.workload_cls = WORKLOADS[workload]
        self.generate = data is None
        self.data_dir = os.path.join(work, "data") if data is None else os.path.abspath(data)
        self.tracer = Tracer()
        self.spark = None
        self.eng = None
        self.registry = None
        self.jobs = None
        self.steps: list[dict] = []
        self.writes: list[dict] = []
        self.checks: dict[str, dict] = {}
        self.failures: list[dict] = []
        self._step: dict | None = None
        self._ordinal: dict[str, int] = {}
        self.pass_no = 0

    # -- set-up ----------------------------------------------------------------
    def setup(self) -> dict:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        t0 = time.perf_counter()
        self.eng = Engine(self.tracer)
        t1 = time.perf_counter()
        self.spark = self.eng.session.get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        self.registry = self.eng.queries.registry()
        t3 = time.perf_counter()
        self.eng.readers.load_sf_tables(self.spark, self.data_dir)
        t4 = time.perf_counter()
        self.registry[WARMUP_QUERY][0](self.spark, self.data_dir).collect()
        t5 = time.perf_counter()
        return {
            "total_s": t5 - t0,
            "import_s": t1 - t0,
            "get_spark_s": t2 - t1,
            "registry_s": t3 - t2,
            "load_sf_tables_s": t4 - t3,
            "warmup_s": t5 - t4,
        }

    # -- steps -------------------------------------------------------------------
    @contextmanager
    def phase(self, name: str):
        """One timed phase of the current step; traced steps run it under
        its own Spark job group so its jobs can be counted."""
        step = self._step
        group = f"pb{len(self.steps)}.{name}" if step is not None and step["traced"] else None
        if group:
            self.jobs.set_group(group)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield
        finally:
            if step is not None:
                step["phases"][name] = {"s": time.perf_counter() - t0, "group": group}
            if group:
                self.jobs.clear_group()

    def step(self, name: str, body):
        """Run one closed-loop step; return its result, or None if it raised."""
        # Trace every other step, flipping on every pass, so over two
        # passes each step is seen once traced and once untraced.
        ordinal = self._ordinal.setdefault(name, len(self._ordinal))
        traced = self.traced and (self.pass_no + ordinal) % 2 == 0
        rec = {"name": name, "traced": traced, "phases": {}, "ok": True}
        self._step = rec
        self.tracer.enabled, self.tracer.step = traced, len(self.steps)
        cpu0, steal0 = host_cpu_seconds()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("step"):
                out = body()
        except Exception as exc:  # noqa: BLE001 — a failed step is counted, the loop goes on
            rec["ok"], out = False, None
            self.failures.append({"op": name, "error": f"{type(exc).__name__}: {exc}"[:500]})
        rec["latency_s"] = time.perf_counter() - t0
        cpu1, steal1 = host_cpu_seconds()
        rec["cpu_s"], rec["steal_s"] = cpu1 - cpu0, steal1 - steal0
        self.tracer.enabled, self._step = False, None
        if traced:
            for ph in rec["phases"].values():
                if ph["group"]:
                    ph.update(self.jobs.group_counts(ph["group"]))
        self.steps.append(rec)
        return out

    def write(self, df) -> None:
        """Write a flow's result through the engine's parquet sink."""
        path = os.path.join(self.work, "out", f"w{len(self.writes)}")
        self.tracer.enabled = self.traced
        t0 = time.perf_counter()
        try:
            self.eng.sinks.write_parquet(df, path)
        except Exception as exc:  # noqa: BLE001
            self.failures.append({"op": "write_parquet", "error": f"{type(exc).__name__}: {exc}"[:500]})
            return
        finally:
            self.tracer.enabled = False
        written = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
        )
        self.writes.append({"s": time.perf_counter() - t0, "bytes": written})
        shutil.rmtree(path, ignore_errors=True)

    def check(self, name: str, make_df, oracle_sql: str) -> None:
        """Compare one operation's output with its DuckDB oracle, untimed."""
        if name in self.checks:
            return
        rec: dict = {"ok": False}
        try:
            diag = self.eng.parity.compare(make_df(), self.duck, oracle_sql)
            rec = {"ok": diag["ok"], "rows": diag["spark_rows"], "diff": diag["sample_diff"]}
        except Exception as exc:  # noqa: BLE001
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        self.checks[name] = rec

    # -- the run -----------------------------------------------------------------
    def run(self) -> dict:
        import datagen
        from tracing import JobCounter, host_steal_seconds, jvm_gc_seconds, jvm_pid, peak_rss_mb

        workload_cls = self.workload_cls
        t0 = time.perf_counter()
        if self.generate:
            datagen.generate(self.data_dir, workload_cls.sf, self.seed)
        gen_s = time.perf_counter() - t0

        setups = [self.setup() for _ in range(SETUPS)]
        self.jobs = JobCounter(self.spark.sparkContext)
        self.duck = self.eng.parity.duck_connection(self.data_dir)
        workload = workload_cls(self)

        traced, self.traced = self.traced, False  # the check pass is never traced
        t0 = time.perf_counter()
        workload.check_pass()
        check_s = time.perf_counter() - t0
        n_check_steps = len(self.steps)
        self.steps.clear()  # the check pass is warm-up, not a timed sample
        self._ordinal.clear()
        self.traced = traced

        steal0, gc0 = host_steal_seconds(), jvm_gc_seconds(self.spark)
        t0 = time.perf_counter()
        self.pass_no = 0
        while True:
            workload.run_pass()
            self.pass_no += 1
            if time.perf_counter() - t0 >= self.seconds and not (self.traced and self.pass_no % 2):
                break
        timed_s = time.perf_counter() - t0
        steal_s = host_steal_seconds() - steal0
        gc_s = jvm_gc_seconds(self.spark) - gc0
        rss = peak_rss_mb([os.getpid(), jvm_pid(self.spark)])
        self.duck.close()

        record = {
            "workload": workload_cls.name,
            "seed": self.seed,
            "trace": self.traced,
            "sf": workload_cls.sf,
            "data": None if self.generate else self.data_dir,
            "passes": self.pass_no,
            "versions": versions(self.spark),
            "env": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
            "datagen_s": gen_s,
            "setups": setups,
            "check_pass_s": check_s,
            "check_pass_steps": n_check_steps,
            "timed_s": timed_s,
            "host_steal_s": steal_s,
            "jvm_gc_s": gc_s,
            "peak_rss_mb": rss,
            "checks": self.checks,
            "failures": self.failures,
            "steps": self.steps,
            "writes": self.writes,
        }
        mismatches = sum(1 for c in self.checks.values() if not c["ok"])
        failed = mismatches + len(self.failures)
        attempted = n_check_steps + len(self.steps) + len(self.writes) + len(self.checks)
        if self.traced:
            metrics = layer_metrics(self, record, setups, mismatches)
            record["spans"] = self.tracer.spans
        else:
            metrics = end_to_end_metrics(self, record, setups)
        record["metrics"] = metrics
        return {
            "record": record,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            },
        }

    def close(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def step_geomean(steps: list[dict], key: str = "latency_s") -> float:
    """Geometric mean, over the distinct steps of the workload, of each
    step's median ``key``: a typical step figure that does not depend on
    how many times each step happened to fit into the timed window."""
    by_name: dict[str, list[float]] = {}
    for s in steps:
        if s["ok"]:
            by_name.setdefault(s["name"], []).append(s[key])
    if not by_name:
        raise RuntimeError("no timed step succeeded")
    # /proc/stat counts CPU time in clock ticks: floor at one tick.
    floor = 1.0 / os.sysconf("SC_CLK_TCK")
    return statistics.geometric_mean(max(floor, statistics.median(v)) for v in by_name.values())


def end_to_end_metrics(bench: Bench, record: dict, setups: list[dict]) -> dict:
    # Step costs are host CPU seconds, not wall time: on a shared host,
    # contention from other machines raised wall time by 33-39% and CPU
    # time by 7-13% (README, "Why CPU time").
    return {
        "setup_s": _m(statistics.median(s["total_s"] for s in setups), "s"),
        "step_cpu_geomean_s": _m(step_geomean(bench.steps, "cpu_s"), "s"),
        "pass_cpu_s": _m(sum(s["cpu_s"] for s in bench.steps if s["ok"]) / record["passes"], "s"),
    }


def layer_metrics(bench: Bench, record: dict, setups: list[dict], mismatches: int) -> dict:
    from workloads import MEMO_CHAINS, SIBLINGS

    traced = [s for s in bench.steps if s["traced"]]
    plain = [s for s in bench.steps if not s["traced"]]
    n = max(1, len(traced))
    self_t = bench.tracer.self_times()
    counts = bench.tracer.counts

    def phase_sum(steps, phase, key):
        return sum(s["phases"].get(phase, {}).get(key, 0) for s in steps)

    def all_phases(steps, key):
        return sum(ph.get(key, 0) for s in steps for ph in s["phases"].values())

    m = {
        "setup.cold_s": _m(setups[0]["total_s"], "s"),
        "session.get_spark_s": _m(statistics.median(s["get_spark_s"] for s in setups), "s"),
        "queries.registry_s": _m(statistics.median(s["registry_s"] for s in setups), "s"),
        "readers.load_sf_tables_s": _m(statistics.median(s["load_sf_tables_s"] for s in setups), "s"),
        "setup.warmup_s": _m(statistics.median(s["warmup_s"] for s in setups), "s"),
        "readers.load_calls": _m(counts.get("readers.load_calls", 0) / n, "count"),
    }
    for span, metric in (
        ("plans.import_flow", "plans.import_flow_s"),
        ("plans.repair", "plans.repair_s"),
        ("plans.dialect", "plans.dialect_s"),
        ("pipeline.run_stage", "pipeline.run_stage_s"),
        ("spark.plan", "spark.plan_s"),
        ("spark.exec", "spark.exec_s"),
        ("builder", "builder.s"),
        ("step", "step.other_s"),
    ):
        m[metric] = _m(self_t.get(span, 0.0) / n, "s")
    m["spark.jobs_per_op"] = _m(all_phases(traced, "jobs") / n, "count")
    m["spark.stages_per_op"] = _m(all_phases(traced, "stages") / n, "count")
    m["spark.tasks_per_op"] = _m(all_phases(traced, "tasks") / n, "count")
    m["spark.failed_tasks"] = _m(all_phases(traced, "failed_tasks"), "count")
    for q in MEMO_CHAINS:
        runs = [s for s in traced if s["name"] == q]
        k = max(1, len(runs))
        m[f"builder.s.{q}"] = _m(phase_sum(runs, "builder", "s") / k, "s")
        m[f"builder.eager_jobs.{q}"] = _m(phase_sum(runs, "builder", "jobs") / k, "count")
        m[f"spark.exec_s.{q}"] = _m(phase_sum(runs, "spark.exec", "s") / k, "s")
    sib = [s for s in traced if s["name"] in SIBLINGS]
    k = max(1, len(sib))
    m["memo.sibling_builder_s"] = _m(phase_sum(sib, "builder", "s") / k, "s")
    m["memo.sibling_eager_jobs"] = _m(phase_sum(sib, "builder", "jobs") / k, "count")
    m["memo.sibling_exec_s"] = _m(phase_sum(sib, "spark.exec", "s") / k, "s")
    w = max(1, len(bench.writes))
    m["sinks.write_parquet_s"] = _m(sum(x["s"] for x in bench.writes) / w, "s")
    m["sinks.bytes_written"] = _m(sum(x["bytes"] for x in bench.writes) / w, "bytes")
    steps = max(1, len(bench.steps))
    m["jvm.gc_s"] = _m(record["jvm_gc_s"] / steps, "s")
    m["host.steal_s"] = _m(record["host_steal_s"] / steps, "s")
    m["host.peak_rss_mb"] = _m(record["peak_rss_mb"], "MB")
    m["check.mismatches"] = _m(mismatches, "count")
    # Every step ran traced and untraced equally often (an even number of
    # passes, parity flipped per pass): the median over steps of traced
    # minus untraced latency.
    diffs = []
    for name in {s["name"] for s in traced}:
        t_lat = [s["latency_s"] for s in traced if s["name"] == name]
        p_lat = [s["latency_s"] for s in plain if s["name"] == name]
        diffs.append(statistics.median(t_lat) - statistics.median(p_lat))
    m["trace.overhead_s"] = _m(statistics.median(diffs), "s")
    m["step.latency_geomean_s"] = _m(step_geomean(plain), "s")
    m["trace.steps"] = _m(len(traced), "count")
    return m


def print_metrics(result: dict, record: dict) -> None:
    for name, mv in result["metrics"].items():
        print(f"  {name:42s} {mv['value']:14.6g} {mv['unit']}")
    err = result["failed"] / result["attempted"]
    print(f"  {'error_rate':42s} {err:14.6g} ratio")
    ok = sum(s["ok"] for s in record["steps"])
    print(f"  {'wall: step latency geomean':42s} {step_geomean(record['steps']):14.6g} s")
    print(f"  {'wall: steps per second':42s} {ok / record['timed_s']:14.6g} 1/s")
    print(
        f"  host steal {record['host_steal_s']:.3f} s, JVM GC {record['jvm_gc_s']:.3f} s "
        f"over {record['timed_s']:.1f} s timed, {len(record['steps'])} steps; "
        f"versions {record['versions']}"
    )


def run_one(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(work)
    sys.path.insert(0, ROOT)
    bench = None
    try:
        try:
            importlib.import_module(PKG)
        except ImportError as exc:
            print(f"perfbench: cannot import the engine package {PKG}: {exc}", file=sys.stderr)
            return 2
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work, args.data)
        out = bench.run()
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    record, result = out["record"], out["result"]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = "" if args.data is None else "-data"
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}{tag}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for f in record["failures"]:
        print(f"FAILED {f['op']}: {f['error']}", file=sys.stderr)
    for name, c in record["checks"].items():
        if not c["ok"]:
            print(f"MISMATCH {name}: {c}", file=sys.stderr)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} (record: {path})")
    print_metrics(result, record)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Run every workload, each in a fresh process."""
    from workloads import WORKLOADS

    results, rc = {}, 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.data is not None:
            cmd += ["--data", args.data]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            rc = proc.returncode or 1
            continue
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))
    return rc


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="read the input tables from this directory instead of generating them")
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
