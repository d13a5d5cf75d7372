"""The benchmark's workloads.

Both run closed-loop with one client: the next step starts only when the
previous one has returned its result, the way a single wrangling user or
batch driver uses the engine.

* ``stage_flows`` — generated wrangling flows (``flows.py``) through
  ``import_flow_json`` → ``repair_stage`` → ``PipelineRunner.run_stage``;
  each stage's 1000-row preview is collected, as the reference UI does, and
  the results of the flows in ``WRITE_FLOWS`` are also written as parquet
  (the CLI ``--out`` path). A step is one stage; a pass runs every flow.
* ``kernel_sessions`` — heavy operator kernels from the registry, run as
  sessions: each shared-build publisher (``reuse=False``) followed by the
  sibling queries that reuse its memo (``reuse=True``). Each query is
  executed with a noop write. A step is one query; a pass runs every
  session.

The timed region always holds whole passes, so every run times the same
steps whatever the engine's speed.
"""

from __future__ import annotations

import random

from flows import generate_flows

# Publisher -> siblings that read its session memo.
MEMO_CHAINS = {
    "dedup_minhash_lsh": ["dedup_clusters", "dedup_clusters_star"],
    "similarity_mutual_knn": ["similarity_knn_outlier"],
    "graph_bfs_hops": ["graph_k_core"],
}
SIBLINGS = {s for chain in MEMO_CHAINS.values() for s in chain}

# Flows whose result each pass also writes as parquet.
WRITE_FLOWS = (2, 5)


class StageFlows:
    name = "stage_flows"
    sf = 0.1

    def __init__(self, bench) -> None:
        self.bench = bench
        self.flows = generate_flows(bench.seed)

    def _run_flow(self, flow, write: bool):
        """Run one flow stage by stage; the first step also imports the flow."""
        b, eng = self.bench, self.bench.eng
        ctx: dict = {"prev": None}
        for i, rec in enumerate(flow.records):

            def body(i=i):
                if i == 0:
                    tables = eng.readers.load_sf_tables(b.spark, b.data_dir)
                    ctx["stages"] = eng.graph.import_flow_json(flow.to_json())
                    ctx["runner"] = eng.PipelineRunner(b.spark, tables=dict(tables))
                stage, runner, prev = ctx["stages"][i], ctx["runner"], ctx["prev"]
                cols = None
                if stage.type in ("FILTER", "GROUP"):
                    cols = runner.resolve(stage.data.get("table") or prev).columns
                res = runner.run_stage(eng.repair.repair_stage(stage, cols), i, prev)
                preview = runner.preview(res.result_name)
                with b.phase("spark.plan"):
                    preview._jdf.queryExecution().executedPlan()
                with b.phase("spark.exec"):
                    preview.collect()
                ctx["prev"] = res.result_name
                return res

            if b.step(f"{flow.name}.{i}.{rec['type'].lower()}", body) is None:
                return None
        final = ctx["runner"].resolve(ctx["prev"])
        if write:
            b.write(final)
        return final

    def check_pass(self) -> None:
        """Run every flow once, untimed, and compare its result with DuckDB."""
        for flow in self.flows:
            final = self._run_flow(flow, write=False)
            if final is not None:
                self.bench.check(flow.name, lambda final=final: final, flow.duck_sql)

    def run_pass(self) -> None:
        for i, flow in enumerate(self.flows):
            self._run_flow(flow, write=i in WRITE_FLOWS)


class KernelSessions:
    name = "kernel_sessions"
    sf = 0.01

    def __init__(self, bench) -> None:
        self.bench = bench
        # The seed sets the order of sessions within each pass; a
        # publisher always precedes its siblings.
        self.order = list(MEMO_CHAINS)
        random.Random(bench.seed).shuffle(self.order)

    def _queries(self) -> list[str]:
        return [q for head in self.order for q in [head, *MEMO_CHAINS[head]]]

    def check_pass(self) -> None:
        """Check every query once, then run one more untimed pass: the first
        pass after the check is still about a sixth slower while the JIT
        warms up, and a run that times one pass would otherwise read slower
        than one that times two."""
        b = self.bench
        reg = b.registry
        for q in self._queries():
            builder, oracle = reg[q]
            b.check(q, lambda builder=builder: builder(b.spark, b.data_dir), oracle)
        self.run_pass()

    def run_pass(self) -> None:
        b = self.bench
        reg = b.registry
        for q in self._queries():
            builder = reg[q][0]

            def body(builder=builder):
                with b.phase("builder"):
                    df = builder(b.spark, b.data_dir)
                with b.phase("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
                return True

            b.step(q, body)


WORKLOADS = {w.name: w for w in (StageFlows, KernelSessions)}
