"""Unit tests for the benchmark's own helpers (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench -q``
"""

import math
import os

import pytest

from perfbench import stats as S
from perfbench.tracing import Tracer


# ------------------------------------------------- percentile with support
def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert S.percentile(xs, 0) == 1.0
    assert S.percentile(xs, 100) == 5.0
    assert S.percentile(xs, 50) == 3.0
    assert S.percentile(xs, 90) == pytest.approx(4.6)
    assert S.median([1.0, 2.0, 3.0, 4.0]) == 2.5


def test_percentile_rejects_empty_sample():
    with pytest.raises(ValueError):
        S.percentile([], 50)


@pytest.mark.parametrize(
    "n,expected",
    [(9, None), (19, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert S.tail_percentile(n) == expected
    if expected is not None:
        assert S.samples_beyond(n, expected) >= 10


def test_tail_reports_percentile_count_and_support():
    xs = list(range(1, 201))  # 200 samples -> p95 with 10 beyond
    t = S.tail(xs)
    assert t["p"] == 95.0 and t["n"] == 200 and t["beyond"] == 10
    assert t["value"] == pytest.approx(S.percentile(xs, 95.0))
    assert S.tail(list(range(15))) is None


# ---------------------------------------------- open-loop due-time accounting
def test_due_times_follow_the_fixed_rate():
    due = S.due_times(10.0, rate=4.0, duration=2.0)
    assert due == [10.0, 10.25, 10.5, 10.75, 11.0, 11.25, 11.5, 11.75]


def test_latency_is_charged_from_the_due_time():
    # second request was sent 0.3 s late because the sender stalled
    recs = [(0.0, 0.0, 0.01, True), (0.1, 0.4, 0.41, True)]
    out = S.open_loop_summary(recs, limit_s=0.065)
    assert out["latency_s"] == pytest.approx([0.01, 0.31])
    assert out["limit_miss_frac"] == 0.5
    assert out["late_p99_s"] == pytest.approx(0.297)


def test_failed_request_counts_as_missing_the_limit():
    recs = [(0.0, 0.0, 0.001, True), (0.1, 0.1, 0.101, False)]
    out = S.open_loop_summary(recs, limit_s=0.065)
    assert math.isinf(out["latency_s"][1])
    assert out["limit_miss_frac"] == 0.5
    assert out["achieved_rate"] == pytest.approx(2 / 0.101)


def test_open_loop_summary_rejects_no_requests():
    with pytest.raises(ValueError):
        S.open_loop_summary([], limit_s=0.065)


# ---------------------------------------------------------- on-disk bytes
def test_tree_bytes_sums_every_file_below_the_root(tmp_path):
    root = str(tmp_path)
    os.makedirs(os.path.join(root, "v1"))
    with open(os.path.join(root, "v1", "a.parquet"), "wb") as f:
        f.write(b"x" * 100)
    with open(os.path.join(root, "keep.json"), "wb") as f:
        f.write(b"y" * 10)
    assert S.tree_bytes(root) == 110
    assert S.tree_bytes(os.path.join(root, "missing")) == 0


# ------------------------------------------------------------ span self time
def _span(i, parent, t0, t1):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 5.0),   # overlaps span 2 (another thread)
        _span(4, 2, 1.5, 2.0),   # grandchild: charged to span 2 only
        _span(5, 1, 9.0, 12.0),  # outlives its parent: clipped
    ]
    st = S.self_times(spans)
    assert st[1] == pytest.approx(10.0 - (4.0 + 1.0))
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)
    # without overlap or clipping the self times add up to the root span
    flat = [_span(1, None, 0, 6), _span(2, 1, 1, 2), _span(3, 2, 1.2, 1.5)]
    assert sum(S.self_times(flat).values()) == pytest.approx(6.0)


def test_coverage_leaves_out_the_roots_own_time():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 0.0, 6.0),
        _span(3, 2, 1.0, 5.0),   # nested: adds nothing to the cover
        _span(4, None, 20.0, 30.0),
        _span(5, 4, 20.0, 30.0),
    ]
    roots = [spans[0], spans[3]]
    # 4 s of the first root's 10 s run outside any child
    assert S.coverage(spans, roots) == pytest.approx(16.0 / 20.0)
    assert S.coverage(spans, [spans[0]]) == pytest.approx(0.6)
    assert S.coverage([_span(1, None, 0.0, 2.0)], []) == 0.0


def test_tracer_nests_spans_and_restores_wrapped_functions():
    class Owner:
        @staticmethod
        def leaf(x):
            return x + 1

        def outer(self, x):
            return Owner.leaf(x) * 2

    tr = Tracer(None)
    tr.wrap(Owner, "leaf", "leaf")
    tr.wrap(Owner, "outer", "outer")
    assert tr.installed
    assert Owner().outer(1) == 4
    by = {s["name"]: s for s in tr.spans}
    assert by["leaf"]["parent"] == by["outer"]["id"]
    assert by["leaf"]["op"] == by["outer"]["op"]
    tr.uninstall()
    assert not tr.installed
    n = len(tr.spans)
    Owner().outer(1)
    assert len(tr.spans) == n
    with tr.span("root"):
        with tr.span("timed", new_op=True) as s:
            pass
    root = [x for x in tr.spans if x["name"] == "root"][0]
    assert s["parent"] == root["id"] and s["op"] != root["op"]
