"""ann_lsh's partition-local re-rank as plain pandas: ``ann_rerank`` against
a numpy brute force over the same candidate definition, no Spark."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pandas as pd
import pytest

from pkd_tree_spark.pipeline import similarity as S


def _frame(vids: np.ndarray, V: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"vec_id": vids, "qv": list(V), "norm2": (V * V).sum(axis=1)})


def _popcount(x: np.ndarray) -> np.ndarray:
    return sum((x >> b) & 1 for b in range(63))


def _brute(vids, V, qids, Q, n_planes, n_tables, m2, k) -> pd.DataFrame:
    """Candidates = corpus rows whose bucket lies within Hamming distance 2
    of the query's bucket in ANY table, self excluded; top-k by (-dot, vec_id)."""
    rk = S.lsh_table_keys(V, S.mips_aug((V * V).sum(axis=1), m2), n_planes, n_tables)
    qk = S.lsh_table_keys(Q, np.zeros(len(Q), dtype=np.int64), n_planes, n_tables)
    cand = (_popcount(rk[:, None, :] ^ qk[None, :, :]) <= 2).any(axis=2)  # (n, nq)
    rows = []
    for i, qid in enumerate(qids):
        m = cand[:, i] & (vids != qid)
        ids, dots = vids[m], V[m] @ Q[i]
        for o in np.lexsort((ids, -dots))[:k]:
            rows.append((qid, ids[o], dots[o]))
    return pd.DataFrame(rows, columns=["qid", "vec_id", "dot"], dtype="int64")


def _run(batches, probes, k, tile) -> pd.DataFrame:
    (out,) = list(S.ann_rerank(iter(batches), probes, k, tile))
    return out.sort_values(["qid", "dot", "vec_id"], ascending=[True, False, True]).reset_index(drop=True)


@pytest.mark.parametrize("tile", [1, 16, 200, S.ANN_TILE_PAIRS])
@pytest.mark.parametrize("k", [1, 5, 40])
def test_rerank_matches_bruteforce(tile, k):
    rng = np.random.default_rng(7)
    n, d, n_planes, n_tables = 600, 6, 6, 8
    # small coordinates: many tied dots, so the vec_id tie-break is exercised
    V = rng.integers(-3, 4, size=(n, d)).astype(np.int64)
    vids = rng.permutation(n * 3)[:n].astype(np.int64)
    m2 = int((V * V).sum(axis=1).max())
    qsel = rng.choice(n, 24, replace=False)
    qids, Q = vids[qsel], V[qsel]
    probes = S.lsh_probes(qids, Q, n_planes, n_tables, m2)
    cuts = [0, 50, 51, 400, n]  # several batches, one of a single row
    batches = [_frame(vids[a:b], V[a:b]) for a, b in zip(cuts[:-1], cuts[1:])]
    got = _run(batches, probes, k, tile)
    want = _brute(vids, V, qids, Q, n_planes, n_tables, m2, k)
    want = want.sort_values(["qid", "dot", "vec_id"], ascending=[True, False, True]).reset_index(drop=True)
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want)


def test_rerank_no_queries_or_rows():
    V = np.ones((5, 4), dtype=np.int64)
    probes = S.lsh_probes(np.zeros(0, np.int64), np.zeros((0, 4), np.int64), 6, 8, 4)
    assert _run([_frame(np.arange(5), V)], probes, 10, 16).empty
    probes = S.lsh_probes(np.arange(2), V[:2], 6, 8, 4)
    assert _run([], probes, 10, 16).empty


def test_hot_bucket_memory_bounded_by_tile():
    """50k identical vectors share one bucket in every table and 64 queries
    probe it: every (row, query) pair is a candidate. The re-rank's peak
    allocation must follow the tile, not the bucket: a whole-bucket dots
    matrix alone would be 64 x 50k int64 (25.6 MB)."""
    n, d, nq, k, tile, n_tables = 50_000, 64, 64, 10, 4096, 8
    V = np.ones((n, d), dtype=np.int64)
    vids = np.arange(n, dtype=np.int64)
    probes = S.lsh_probes(vids[:nq], V[:nq], 6, n_tables, d)
    batch = _frame(vids, V)
    tracemalloc.start()
    try:
        got = _run([batch], probes, k, tile)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    # a tile holds <= tile + nq * n_tables pairs; each pair gathers two
    # d-vectors plus a few int64 index arrays
    bound = 4 * (tile + nq * n_tables) * (d + 8) * 8
    assert peak < bound, (peak, bound)
    # all dots tie at d: each query's top-k is the k smallest other vec_ids
    want = [(q, v, d) for q in range(nq) for v in [x for x in range(k + 1) if x != q][:k]]
    assert list(got.itertuples(index=False, name=None)) == want
