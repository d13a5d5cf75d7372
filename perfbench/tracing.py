"""Spans, Spark job counts and host counters for the benchmark's traced run.

Spans are recorded from this directory only: ``install_layer_spans`` swaps
each layer's public entry point for a wrapper that opens a span around the
original call. The wrappers stay installed in both modes and record nothing
while the tracer is disabled, so traced and untraced steps run the same
Python code apart from the recording itself.

Spans live in memory (``Tracer.spans``) and are written out once, when the
run ends. A layer's self time is its span's duration minus the time its
child spans cover.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "gemini_data_wrangler_spark"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.step: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "step": self.step,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def wrap(self, owner, attr: str, name: str, counter: str | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if counter:
                self.count(counter)
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap the layer entry points of a freshly imported engine package.

    Must run before the registry modules are imported: they bind
    ``load_sf_tables`` by name at import time.
    """
    from gemini_data_wrangler_spark.operators.pipeline import PipelineRunner
    from gemini_data_wrangler_spark.plans import dialect, graph, repair
    from gemini_data_wrangler_spark.sources import readers, sinks

    tracer.wrap(readers, "load_sf_tables", "readers.load_sf_tables", counter="readers.load_calls")
    tracer.wrap(graph, "import_flow_json", "plans.import_flow")
    tracer.wrap(repair, "repair_stage", "plans.repair")
    tracer.wrap(dialect, "duckdb_to_spark_sql", "plans.dialect")
    tracer.wrap(PipelineRunner, "run_stage", "pipeline.run_stage")
    tracer.wrap(sinks, "write_parquet", "sinks.write_parquet")


class JobCounter:
    """Per-step Spark job, stage and task counts from the status tracker.

    Each traced step runs under job groups the benchmark sets; after the
    step, the groups' jobs are looked up and their stages summed.
    """

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group_counts(self, group: str) -> dict[str, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is None or (st.numCompletedTasks == 0 and st.numFailedTasks == 0):
                    continue  # skipped: its output was reused from an earlier job
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector, via JMX."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def host_cpu_seconds() -> tuple[float, float]:
    """Cumulative busy and stolen CPU time over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


def host_steal_seconds() -> float:
    """Cumulative CPU steal over all CPUs, from ``/proc/stat``."""
    return host_cpu_seconds()[1]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except FileNotFoundError:
            continue
    return total_kb / 1024.0
