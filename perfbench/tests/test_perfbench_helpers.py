"""Unit tests for the benchmark's helpers (no Spark needed).

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench.spans import Span, Tracer, covered, driver_gap, self_times
from perfbench.stats import dup_pair_precision, tail_percentile


@pytest.mark.parametrize(
    "n,expected",
    [(60, 83), (50, 80), (24, 58), (20, 50), (19, 0), (1000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p:
        assert n * (100 - p) / 100 >= 10
        assert p == 99 or n * (100 - (p + 1)) / 100 < 10


def test_covered_merges_overlaps_and_clips():
    ivs = [(0, 2), (1, 3), (5, 6), (9, 20)]
    assert covered(ivs, 0, 10) == pytest.approx(3 + 1 + 1)
    assert covered([], 0, 10) == 0
    assert covered([(-5, 15)], 0, 10) == 10


def test_driver_gap_over_overlapping_jobs():
    # two concurrent jobs (tier threads) overlap in [2, 4]; idle in
    # [0, 1], [6, 7] and [8, 10]
    jobs = [(1, 4), (2, 6), (7, 8)]
    assert driver_gap(jobs, 0, 10) == pytest.approx(1 + 1 + 2)
    assert driver_gap(jobs, 3, 5) == pytest.approx(0)


def _span(i, parent, a, b):
    return Span(i, f"s{i}", parent, "r", a, b)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0, 10),
        _span(2, 1, 1, 5),   # concurrent children overlap in [3, 5]
        _span(3, 1, 3, 7),
        _span(4, 2, 2, 3),   # grandchild: counts against 2 only
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 6)
    assert st[2] == pytest.approx(4 - 1)
    assert st[3] == pytest.approx(4)
    assert st[4] == pytest.approx(1)


def test_tracer_nests_per_thread_and_takes_explicit_parent():
    import threading

    tr = Tracer("run")

    def tier(parent):
        with tr.span("tier", parent=parent):
            with tr.span("inner"):
                pass

    with tr.span("root") as root:
        with tr.span("child") as child:
            pass
        t = threading.Thread(target=tier, args=(tr.current(),))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert child.parent == root.span_id
    tier_span = tr.by_name("tier")[0]
    assert tier_span.parent == root.span_id
    assert tr.by_name("inner")[0].parent == tier_span.span_id
    assert root.end >= child.end >= child.start >= root.start
    assert tr.current() is None


def test_precision_on_hand_made_truth():
    truth = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4, 5, 6], "cluster_key": [7, 7, 7, 0, 9, 9]}
    )
    # produced: {1,2,4} -> pairs (1,2) good, (1,4) (2,4) bad; {5,6} good
    clusters = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4, 5, 6], "cluster_id": [1, 1, 3, 1, 5, 5]}
    )
    assert dup_pair_precision(clusters, truth) == pytest.approx(2 / 4)
    singletons = clusters.assign(cluster_id=clusters.doc_id)
    assert dup_pair_precision(singletons, truth) == 1.0


def test_recall_on_hand_made_truth(tmp_path):
    from bench import dup_pair_recall

    truth = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6],
        "cluster_key": [7, 7, 7, 0, 9, 9],
        "kind": ["exact", "near", "near", "unique", "exact", "near"],
        "jaccard": [1.0, 0.9, 0.85, 0.0, 1.0, 0.5],  # doc 6 below threshold
    })
    path = tmp_path / "truth.parquet"
    truth.to_parquet(path)
    # required pairs: (1,2) (1,3) (2,3) from key 7; key 9 has one required
    # member only. Produced clusters capture (1,2) of the three.
    clusters = pd.DataFrame({"doc_id": [1, 2, 3, 5, 6], "cluster_id": [1, 1, 3, 5, 5]})
    assert dup_pair_recall(clusters, str(path)) == pytest.approx(1 / 3, abs=1e-6)


def test_attribute_untagged_job_goes_to_common_parent_of_open_spans():
    from types import SimpleNamespace

    from perfbench.workloads import attribute

    spans = [
        _span(1, None, 0, 20),   # pipeline.run
        _span(2, 1, 1, 10),      # stage on one tier thread
        _span(3, 1, 2, 12),      # stage on another, overlapping 2
        _span(4, 2, 3, 4),       # nested inside 2
    ]
    for s in spans:
        s.group = f"g{s.span_id}"

    def job(group, start):
        return SimpleNamespace(group=group, start=start)

    jobs = [
        job("g3", 5),     # tagged: owned by 3 whatever is open
        job(None, 5),     # 1, 2 and 3 open: common parent of 2 and 3 is 1
        job(None, 3.5),   # 4 is inside 2, 3 is a sibling: still 1
        job(None, 11),    # only 1 and 3 open: 3
        job(None, 15),    # only 1 open
        job(None, 30),    # no span open: left out
    ]
    incl, left_out = attribute(spans, jobs)
    own = {sid: [j.start for j in js] for sid, js in incl.items()}
    assert left_out == 1
    assert own[4] == []
    assert own[2] == []
    assert sorted(own[3]) == [5, 11]
    assert sorted(own[1]) == [3.5, 5, 5, 11, 15]  # inclusive of descendants


def test_steal_pct_is_share_of_all_ticks():
    from perfbench.sparkstats import steal_pct

    before = [100, 0, 10, 500, 0, 0, 0, 5, 0, 0]
    # +60 user, +10 system, +20 idle, +10 steal; guest ticks (already in
    # user) are not counted twice
    after = [160, 0, 20, 520, 0, 0, 0, 15, 40, 0]
    assert steal_pct(before, after) == pytest.approx(10.0)
