"""Self-checks for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_selfcheck.py -q
"""

from __future__ import annotations

import os
import random
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from benchstats import covered, failed_share, median_pass, percentile, self_times  # noqa: E402


def test_percentile_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(vals, 50) == 3.0
    assert percentile(vals, 90) == 5.0
    assert percentile(vals, 100) == 5.0
    assert percentile(vals, 20) == 1.0
    # even count: the lower middle value, never an interpolated one
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    assert percentile([7.5], 90) == 7.5


def test_percentile_agrees_with_statistics_on_odd_counts():
    rng = random.Random(3)
    for n in (1, 3, 9, 101):
        vals = [rng.random() for _ in range(n)]
        assert percentile(vals, 50) == statistics.median(vals)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_median_pass_drops_one_slow_pass_per_operation():
    times = {"q1": [2.0, 9.0, 2.2], "q2": [1.0, 1.1, 5.0], "w0": [0.5]}
    assert median_pass(times) == pytest.approx(2.2 + 1.1 + 0.5)
    # the pass totals are 3.5, 10.1 and 7.7: no single pass matches
    with pytest.raises(ValueError):
        median_pass({})


def test_failed_share():
    assert failed_share(0, 10) == 0.0
    assert failed_share(3, 12) == 0.25
    assert failed_share(4, 4) == 1.0
    with pytest.raises(ValueError):
        failed_share(0, 0)
    with pytest.raises(ValueError):
        failed_share(5, 4)
    with pytest.raises(ValueError):
        failed_share(-1, 4)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(1, 2), (1, 2)], 0, 10) == 1
    assert covered([(11, 12)], 0, 10) == 0


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_times_subtract_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),  # query
        _span(1, 0, 0.0, 4.0),  # build
        _span(2, 1, 1.0, 2.0),  # load_table inside build
        _span(3, 1, 1.5, 3.0),  # overlapping load_table
        _span(4, 0, 4.0, 5.0),  # plan
        _span(5, 0, 5.0, 9.0),  # exec
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.5)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(4.0)


def test_self_times_sum_to_root_duration_without_overlap():
    spans = [_span(0, None, 0.0, 8.0), _span(1, 0, 1.0, 3.0), _span(2, 1, 1.5, 2.5)]
    assert sum(self_times(spans).values()) == pytest.approx(8.0)


def test_child_outside_parent_is_clipped():
    spans = [_span(0, None, 0.0, 2.0), _span(1, 0, 1.0, 5.0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_self_time_by_name_and_qid_inheritance():
    from tracing import Tracer

    tr = Tracer()
    with tr.span("query", "q1") as q:
        with tr.span("build") as b:
            pass
        tr.add("build_job", b["start"], b["end"], b["id"], b["qid"])
    assert b["qid"] == "q1" and b["parent"] == q["id"]
    st = tr.self_time_by_name()
    assert st["build"] == pytest.approx(0.0, abs=1e-9)
    assert st["build_job"] == pytest.approx(b["end"] - b["start"])
    assert sum(st.values()) == pytest.approx(q["end"] - q["start"])


def test_waves_keep_the_screen_arrival_order():
    import pyarrow as pa

    from workloads import waves

    docs = pa.table({
        "doc_id": list(range(40)),
        "text": ["t"] * 40,
        "source": [f"src{i % 20}" for i in range(40)],
    })
    for seed, n_waves in zip(range(6), (2, 3, 4, 5, 6, 3)):
        ws = waves(docs, n_waves, random.Random(seed))
        assert len(ws) == n_waves
        ids = [w.column("doc_id").to_pylist() for w in ws]
        flat = [d for w in ids for d in w]
        assert sorted(flat) == list(range(40))
        first = [d for d in range(40) if d % 20 < 10]
        # the src0-9 half arrives first, each half in doc_id order
        assert flat == first + [d for d in range(40) if d % 20 >= 10]
        # the half boundary is always a cut
        assert [d for w in ids[: (n_waves + 1) // 2] for d in w] == first
        assert all(len(w) > 0 for w in ids)
