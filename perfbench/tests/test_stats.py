"""Spark-free tests of the runner's statistics and input helpers."""

import numpy as np
import pandas as pd
import pytest

import inputs as I
import stats
from spans import Tracer


def test_median_odd_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


@pytest.mark.parametrize(
    "n, p",
    [(5, None), (19, None), (20, None), (25, 60), (100, 90), (200, 95), (1000, 99), (5000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= stats.MIN_BEYOND_TAIL
        if p < 99:  # the next percentile up would leave fewer than ten
            assert n * (100 - (p + 1)) / 100 < stats.MIN_BEYOND_TAIL


def test_tail_value_and_count():
    xs = [float(i) for i in range(1, 101)]
    t = stats.tail(xs)
    assert t == {"p": 90, "value": 90.0, "n": 100}
    assert stats.tail([1.0, 2.0]) == {"p": None, "value": None, "n": 2}


def test_failed_op_share():
    assert stats.failed_op_share(8, 0) == 0.0
    assert stats.failed_op_share(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_op_share(0, 0)
    with pytest.raises(ValueError):
        stats.failed_op_share(3, 4)


def test_union_length_merges_and_clips():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert stats.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert stats.union_length([(0, 10), (2, 3)], 0, 10) == 10
    assert stats.union_length([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    # children overlap each other and stick out of the parent
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (9.0, 12.0)]) == pytest.approx(4.0)
    assert stats.self_time(0.0, 1.0, []) == 1.0


def test_tracer_self_time_from_nested_spans():
    t = Tracer(True)
    t._next_job_id = lambda: 0  # no Spark: spans only
    t._resolve = lambda: None
    with t.span("op.x"):
        with t.span("layer.a"):
            pass
        with t.span("layer.b"):
            pass
    root = next(i for i, s in enumerate(t.spans) if s.name == "op.x")
    kids = t.children(root)
    assert [k.name for k in kids] == ["layer.a", "layer.b"]
    assert t.self_time_s(root) == pytest.approx(t.spans[root].wall_s - sum(k.wall_s for k in kids))


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("op.x") as s:
        assert s is None
    assert t.spans == []


def test_trend_ratio():
    assert stats.trend_ratio([1, 1, 1, 2, 2, 2]) == 2.0
    assert stats.trend_ratio([3, 1, 2, 2, 1, 3]) == 1.0
    with pytest.raises(ValueError):
        stats.trend_ratio([1.0])


# -- inputs ------------------------------------------------------------------


def test_inputs_are_seeded():
    a, b, c = I.uniform_points(5, 1000), I.uniform_points(5, 1000), I.uniform_points(6, 1000)
    pd.testing.assert_frame_equal(a, b)
    assert not a["key"].equals(c["key"])
    assert ((a[["x0", "x1"]] >= 0) & (a[["x0", "x1"]] < I.M)).all().all()


def test_box_counter_matches_brute_force():
    rng = np.random.default_rng(0)
    pts = I.uniform_points(3, 5000)
    bx = I.boxes(300, len(pts), rng)
    assert np.array_equal(I.BoxCounter(pts).counts(bx), I.box_counts_brute(pts, bx))


def test_boxes_hit_their_selectivity_brackets_on_average():
    n = 100_000
    pts = I.uniform_points(1, n)
    bx = I.boxes(300, n, np.random.default_rng(1), btypes=(2,))
    counts = I.BoxCounter(pts).counts(bx)
    assert n**0.5 / 2 <= np.median(counts) <= n / 100


def test_update_batches_are_one_percent_with_fresh_keys():
    pts = I.uniform_points(2, 10_000)
    b1 = I.update_batch(pts, 1, np.random.default_rng(0))
    b2 = I.update_batch(pts, 2, np.random.default_rng(0))
    assert len(b1) == 100
    assert not set(b1["key"]) & set(pts["key"])
    assert not set(b1["key"]) & set(b2["key"])
    assert b1["doc_id"].str.len().eq(16).all()


def test_knn_reference_counts_duplicates():
    pts = pd.DataFrame({"x0": [0, 0, 5, 9], "x1": [0, 0, 5, 9]})
    q = pd.DataFrame({"qid": [7], "q0": [1], "q1": [0]})
    assert I.knn_dist2(pts, q, 3) == {7: [1, 1, 41]}


def test_topk_dot_reference_breaks_ties_by_vec_id():
    emb = pd.DataFrame(
        {"vec_id": [0, 1, 2, 3], "embedding": [np.array(v, dtype=np.float32) for v in ([1, 0], [1, 0], [1, 0], [0, 1])]}
    )
    assert I.topk_dot_ref(emb, 1, 2) == {(0, 1, 1_000_000), (0, 2, 1_000_000)}
