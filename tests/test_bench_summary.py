"""``bench.summarize``: one set of 2-decimal times feeds the headline rows,
``value``, ``full_total`` and ``scale_path``. No Spark needed."""

from __future__ import annotations

import bench


def _rec(s, err=None):
    return {"s": s, "err": err, "steal_s": 0.0}


def test_totals_are_sums_of_the_printed_rows():
    # Five rows of 1.01 print a total of 5.05; the 3-decimal times sum to
    # 5.03, which is what ``full_total`` used to print.
    records = {f"q{i}": _rec(1.006) for i in range(5)}
    out = bench.summarize(records, set(records))
    assert out["queries"] == {f"q{i}": 1.01 for i in range(5)}
    assert out["value"] == out["full_total"] == 5.05


def test_headline_is_a_subset_and_errors_are_left_out():
    records = {
        "a": _rec(1.004),
        "b": _rec(2.226),
        "graph_bfs_hops_distributed": _rec(0.335),
        "broken": _rec(None, err="ValueError: x"),
    }
    out = bench.summarize(records, {"a", "broken"})
    assert out["queries"] == {"a": 1.0}
    assert out["value"] == 1.0
    assert out["full_total"] == round(1.0 + 2.23 + 0.34, 2)
    assert out["n_queries"] == 3
    assert out["scale_path"] == {"graph_bfs_hops_distributed": 0.34}
    assert round(sum(out["queries"].values()), 2) == out["value"]
