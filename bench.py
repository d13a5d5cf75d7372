#!/usr/bin/env python
"""Benchmark harness — times the declared query inventory at sf0.1.

Prints ONE compact JSON line as the FINAL stdout line:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

The driver captures only a bounded tail of stdout, so the ``queries`` map
holds a fixed HEADLINE subset (the heavy/representative operators, listed
below) with 2-decimal timings. The full suite still runs and is summarized
in ``full_total`` / ``n_queries``; ``steal_s`` is the host CPU steal
measured over every query's runs. Per-query records (``s``, ``err``,
``steal_s``) are written to BENCH_LOCAL.json for local inspection.

Env knobs: ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
``SPARK_GRAFT_CPUS`` (default all), ``BENCH_QUERIES`` (comma-separated
subset — overrides both the run set and the reported map; an unknown name
fails the run before any query is timed).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

# Fixed headline set: every heavy operator family (dedup, similarity, text,
# packing/vocab, sketches, graphs, events, joins incl. skew/fuzzy/interval,
# windows, multimodal) plus a TPC-H cross-section. Keep it stable across
# rounds so BENCH_r{N} timings are comparable; keep it ≤50 names so the
# final JSON line stays under the driver's stdout-tail capture window.
HEADLINE = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_embedding_cosine",
    "similarity_cosine_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "embedding_kmeans",
    "text_token_stats",
    "text_quality_scores",
    "text_language_id",
    "text_repetition_stats",
    "decontam_ngram_overlap",
    "pack_sequences",
    "vocab_encode_docs",
    "split_train_val_test",
    "sketch_count_min_heavy_hitters",
    "sketch_hll_mergeable",
    "histogram_equidepth",
    "graph_pagerank_parts",
    "graph_label_propagation",
    "graph_triangle_count",
    "events_tumbling_hourly",
    "events_sliding_halfhour",
    "events_sessions",
    "events_funnel_conversion",
    "asof_purchase_last_click",
    "flagship_segment_sales",
    "join_inner_diff_keys",
    "join_salted_skew",
    "join_bloom_prefilter",
    "join_interval_overlap",
    "fuzzy_match_customer_names",
    "window_rank_topn",
    "window_running_sum",
    "merge_upsert_latest",
    "timeseries_gapfill",
    "skyline_price_date",
    "multimodal_decode",
    "multimodal_frame_sample",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q9_profit",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_suppliers",
]

# Forced scale-path routes (round-5 verdict ask #6): auto-routing always
# picks the driver-state path at test scale, so these keep the distributed
# CC loop and the distributed beam search — the 100 TB code paths — under a
# recorded per-round number. Reported under their own `scale_path` key so
# the 47-query HEADLINE total stays like-for-like with the 55.3 s round-2
# baseline and every earlier BENCH_r{N}.
SCALE_PATH = [
    "dedup_clusters_cc_distributed",
    "similarity_graph_ann_topk_distributed",
    "graph_bfs_hops_distributed",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    from gemini_data_wrangler_spark.queries import env_fingerprint, registry, run_each
    from gemini_data_wrangler_spark.session import get_spark

    spark = get_spark(app_name="gdws-bench")
    spark.sparkContext.setLogLevel("ERROR")

    reg = registry()
    only = os.environ.get("BENCH_QUERIES")
    names = [n.strip() for n in only.split(",")] if only else sorted(reg)
    report = set(names) if only else set(HEADLINE)

    # Warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup.
    reg["flagship_segment_sales"][0](spark, sf_dir).count()

    # Host CPU-steal bursts make one-shot timings noise (identical queries
    # measured 6 s and 25 s back-to-back on an idle guest), so every query
    # runs twice and reports the MIN. When the two runs disagree by >2x, or
    # both sit above the tail cutoff, the burst likely spanned both, so up
    # to two extra runs are taken (still reporting the min).
    TIMING_POLICY = "min_of_2_plus_instability_retries"
    # No registry query legitimately needs >8 s at sf0.1. The cutoff scales
    # with sf so larger inputs don't always burn 4 runs, and is floored at
    # 8 s so small-sf runs don't retry every moderately heavy query.
    slow_cutoff = max(8.0, 80.0 * sf) if sf else 8.0

    def _run_once(build) -> float:
        t0 = time.perf_counter()
        # Force full execution without collecting result rows to the driver.
        build().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def run(_name, build, _oracle) -> dict:
        runs = [_run_once(build), _run_once(build)]
        for _ in range(2):
            unstable = max(runs) > 2 * min(runs) and min(runs) > 1.0
            if not (unstable or min(runs) > slow_cutoff):
                break
            runs.append(_run_once(build))
        return {"s": round(min(runs), 3)}

    # A failing query keeps its exception in ``err`` and the run goes on,
    # so the final JSON line still prints.
    records = run_each(spark, sf_dir, names, run)
    timings = {n: r["s"] for n, r in records.items() if r["err"] is None}
    errors = sorted(n for n, r in records.items() if r["err"] is not None)
    for name in errors:
        print(f"BENCH ERROR {name}: {records[name]['err']}", file=sys.stderr)

    headline = {n: round(t, 2) for n, t in timings.items() if n in report}
    payload = {
        "metric": "headline_query_wall_seconds",
        "value": round(sum(headline.values()), 2),
        "unit": "sec",
        "queries": headline,
        "sf": sf,
        "full_total": round(sum(timings.values()), 2),
        "n_queries": len(timings),
        "timing_policy": TIMING_POLICY,
        "scale_path": {
            n: round(timings[n], 2) for n in SCALE_PATH if n in timings
        },
        "steal_s": round(sum(r["steal_s"] for r in records.values()), 2),
        "env": env_fingerprint(spark),
    }
    if errors:
        # Keep the printed line bounded: error names only, capped at 5 —
        # full messages go to BENCH_LOCAL.json / stderr.
        payload["n_errors"] = len(errors)
        payload["errors"] = errors[:5]
    with open(os.path.join(REPO_DIR, "BENCH_LOCAL.json"), "w") as fh:
        json.dump({**payload, "records": records}, fh, indent=1, sort_keys=True)
    # The driver parses the stdout tail (2000 bytes observed in round 1);
    # if the line ever outgrows it, shed headline entries largest-name-first
    # until it fits — totals always survive.
    line = json.dumps(payload, separators=(",", ":"))
    while len(line) > 1900 and payload["queries"]:
        payload["queries"].pop(max(payload["queries"], key=len))
        line = json.dumps(payload, separators=(",", ":"))
    # Stop the session BEFORE the final print so no JVM/py4j shutdown noise
    # lands after the JSON line the driver parses from the stdout tail.
    spark.stop()
    sys.stdout.flush()
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
