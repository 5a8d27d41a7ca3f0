"""Unit tests of the benchmark's pure helpers (no Spark)."""

import numpy as np
import pytest

import gen
from metrics import covered_s, percentile, recall, summarize, tail_percentile
from sparktrace import COUNTERS, read_counters


def test_percentile_matches_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    for p in (0, 25, 50, 75, 90, 99.9, 100):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        assert round(n * (100 - p) / 100, 6) >= 10


def test_summarize_reports_tail_only_with_enough_samples():
    s = summarize([1.0, 2.0, 3.0])
    assert s == {"n": 3, "p50": 2.0, "tail_pct": None, "tail": None}
    xs = list(range(1, 41))
    s = summarize([float(x) for x in xs])
    assert s["tail_pct"] == 75.0
    assert s["tail"] == pytest.approx(np.percentile(xs, 75))


def test_covered_s_unions_and_clips():
    assert covered_s([], 0, 10) == 0
    # overlapping, nested, touching and disjoint intervals
    iv = [(1, 3), (2, 4), (2.5, 2.7), (4, 5), (7, 8)]
    assert covered_s(iv, 0, 10) == pytest.approx(5.0)
    # clipped to the call window; an interval outside it counts nothing
    assert covered_s([(-5, 2), (9, 20), (30, 40)], 0, 10) == pytest.approx(3)
    assert covered_s([(3, 1)], 0, 10) == 0


class FakeStore:
    """Jobs → (submitted, completed, stages); stages → stage dicts."""

    def __init__(self, jobs, stages):
        self.jobs, self.stages = jobs, stages

    def job(self, j):
        return self.jobs[j]

    def stage(self, s):
        return self.stages.get(s)


def _stage(status, complete, failed=0, run_ms=0, shuffle=0):
    return {"status": status, "complete_tasks": complete,
            "failed_tasks": failed, "run_ms": run_ms,
            "shuffle_write_bytes": shuffle}


def test_read_counters_sums_stages_and_skips_skipped():
    store = FakeStore(
        jobs={
            1: (100.0, 101.0, [10, 11]),
            2: (100.5, 102.0, [11, 12]),   # shares stage 11 with job 1
            3: (104.0, None, [13]),        # still running at the end
        },
        stages={
            10: _stage("COMPLETE", 4, run_ms=2000, shuffle=3_000_000),
            11: _stage("SKIPPED", 0),
            12: _stage("COMPLETE", 8, failed=1, run_ms=500),
            # 13 unknown to the store: contributes nothing
        })
    c = read_counters(store, [1, 2, 3], start=99.0, end=105.0)
    assert set(c) == set(COUNTERS)
    assert c["jobs"] == 3
    assert c["tasks"] == 4 + 8 + 1
    assert c["failed_tasks"] == 1
    assert c["task_s"] == pytest.approx(2.5)
    assert c["shuffle_write_mb"] == pytest.approx(3.0)
    assert c["wall_s"] == pytest.approx(6.0)
    # jobs cover [100, 102] and [104, 105]: 3 of the 6 seconds
    assert c["driver_only_s"] == pytest.approx(3.0)


def test_read_counters_with_no_jobs_is_all_driver():
    c = read_counters(FakeStore({}, {}), [], start=1.0, end=3.5)
    assert c["driver_only_s"] == c["wall_s"] == pytest.approx(2.5)
    assert c["jobs"] == c["tasks"] == 0


def test_recall_counts_missing_queries_as_zero():
    truth = np.array([[1, 2, 3], [4, 5, 6]])
    assert recall({0: [1, 2, 3], 1: [4, 5, 6]}, truth, 3) == 1.0
    assert recall({0: [3, 9, 1]}, truth, 3) == pytest.approx(2 / 6)


def test_exact_topk_matches_brute_force():
    space = gen.VectorSpace(3, dim=16)
    x, q = space.draw(300), space.draw(5)
    ids = np.arange(1000, 1300)
    top, d = gen.exact_topk(x, ids, q, 7)
    brute = ((q[:, None, :].astype(np.float64) - x[None]) ** 2).sum(-1)
    order = np.argsort(brute, axis=1)[:, :7]
    assert (top == ids[order]).all()
    assert np.allclose(d, np.take_along_axis(brute, order, 1))


def test_inputs_repeat_for_a_seed():
    a, b = gen.VectorSpace(5), gen.VectorSpace(5)
    assert (a.draw(10) == b.draw(10)).all()
    t1, p1 = gen.corpus_tables(9, 500, 60, 5)
    t2, p2 = gen.corpus_tables(9, 500, 60, 5)
    assert p1 == p2
    assert t1["documents"].equals(t2["documents"])
    assert gen.pricing_summary_truth(t1["lineitem"]) == \
        gen.pricing_summary_truth(t2["lineitem"])


def test_half_up_rounds_like_spark():
    x = np.array([0.5, 1.5, 2.4999999, 904.5, 3.0])
    assert gen._half_up(x).tolist() == [1, 2, 2, 905, 3]
