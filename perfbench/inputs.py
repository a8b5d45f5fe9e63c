"""Seeded inputs and numpy reference answers for the benchmark.

Everything here is numpy/pandas only. The Spark side receives the
generated frames; the reference answers are computed from the same
arrays, never from the program's output.

Points are the package's own synthetic documents: a base key set chosen
by the seed, whose coordinates `documents.uniform_coord_col` derives by
int64 arithmetic. `uniform_points` is the numpy twin of that derivation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pkd_tree_spark import config as C

M = C.COORD_BOUND
KEY_STRIDE = 3
INSERT_KEY_BASE = 3_000_000_000  # above every base key
INSERT_KEY_STEP = 1 << 31  # base keys stay below this, so batches never collide


def base_key_offset(seed: int) -> int:
    return int(np.random.default_rng([seed, 0]).integers(1, 1_000_000_000))


def uniform_points(seed: int, n: int) -> pd.DataFrame:
    """(key, span_idx, x0, x1) of the n base points for a seed, matching
    load_points(..., keys_df=<the same keys>) row for row."""
    k = base_key_offset(seed) + KEY_STRIDE * np.arange(n, dtype=np.int64)
    cols = {"key": k, "span_idx": (k % (k % 4 + 1)).astype(np.int64)}
    for j in range(2):
        cols[f"x{j}"] = (k * C.COORD_MULTS[j] + C.COORD_ADDS[j]) % M
    return pd.DataFrame(cols)


def residue_rows(pts: pd.DataFrame, mod: int, rng: np.random.Generator) -> pd.DataFrame:
    """Rows whose position has a seeded residue modulo `mod`: an
    in-distribution sample of about len(pts)/mod rows."""
    r = int(rng.integers(0, mod))
    return pts.iloc[r::mod].reset_index(drop=True)


def knn_queries(pts: pd.DataFrame, nq: int, rng: np.random.Generator) -> pd.DataFrame:
    rows = residue_rows(pts, len(pts) // nq, rng).iloc[:nq]
    return pd.DataFrame(
        {"qid": np.arange(len(rows), dtype=np.int64), "q0": rows["x0"].to_numpy(), "q1": rows["x1"].to_numpy()}
    )


def boxes(nb: int, n_points: int, rng: np.random.Generator, btypes=(0, 1, 2)) -> pd.DataFrame:
    """Boxes with seeded centres, cycling through the selectivity brackets
    of fixtures.box_fixtures_bracketed; each box's target result count is
    drawn log-uniformly inside its bracket."""
    n = max(n_points, 16)
    brackets = {0: (1.0, n**0.25), 1: (n**0.25, n**0.5), 2: (n**0.5, n / 100.0)}
    bt = np.array([btypes[i % len(btypes)] for i in range(nb)])
    lo_m = np.array([max(brackets[b][0], 1.0) for b in bt])
    hi_m = np.array([max(brackets[b][1], 2.0) for b in bt])
    m = lo_m * (hi_m / lo_m) ** rng.random(nb)
    hw = np.maximum(1, ((M / 2.0) * (m / n) ** 0.5).astype(np.int64))
    cols = {"qid": np.arange(nb, dtype=np.int64)}
    for j in range(2):
        c = rng.integers(0, M, nb)
        cols[f"lo{j}"] = np.maximum(0, c - hw)
        cols[f"hi{j}"] = np.minimum(M - 1, c + hw)
    return pd.DataFrame(cols)


def update_batch(pts: pd.DataFrame, step: int, rng: np.random.Generator) -> pd.DataFrame:
    """A 1% batch of new rows at the positions of residue-chosen base
    points, under keys unique to the step (doc_id, span_idx, key, x0, x1)."""
    rows = residue_rows(pts, 100, rng)
    key = rows["key"].to_numpy() + INSERT_KEY_BASE + step * INSERT_KEY_STEP
    return pd.DataFrame(
        {
            "doc_id": [f"doc_{k:012d}" for k in key],
            "span_idx": rows["span_idx"].to_numpy().astype(np.int32),
            "key": key,
            "x0": rows["x0"].to_numpy(),
            "x1": rows["x1"].to_numpy(),
        }
    )


def embeddings(seed: int, n: int = 2000, dim: int = 64, clusters: int = 16) -> pd.DataFrame:
    """(vec_id, embedding float32[dim], label): clustered unit-scale vectors,
    the shape of the testdata embeddings table."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, n)
    v = centres[label] + 0.8 * rng.normal(size=(n, dim))
    v = (0.3 * v / np.linalg.norm(v, axis=1, keepdims=True) * np.sqrt(dim) / 8).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(v), "label": label.astype(np.int32)}
    )


# ---------------------------------------------------------------------------
# reference answers
# ---------------------------------------------------------------------------


class BoxCounter:
    """Exact box counts over a fixed point set: points sorted on x0, so a
    box scans only its x0 slab."""

    def __init__(self, pts: pd.DataFrame):
        order = np.argsort(pts["x0"].to_numpy(), kind="stable")
        self.x0 = pts["x0"].to_numpy()[order]
        self.x1 = pts["x1"].to_numpy()[order]

    def counts(self, bx: pd.DataFrame) -> np.ndarray:
        a = np.searchsorted(self.x0, bx["lo0"].to_numpy(), "left")
        b = np.searchsorted(self.x0, bx["hi0"].to_numpy(), "right")
        lo1, hi1 = bx["lo1"].to_numpy(), bx["hi1"].to_numpy()
        out = np.empty(len(bx), dtype=np.int64)
        for i in range(len(bx)):
            s = self.x1[a[i] : b[i]]
            out[i] = np.count_nonzero((s >= lo1[i]) & (s <= hi1[i]))
        return out


def box_counts_brute(pts: pd.DataFrame, bx: pd.DataFrame) -> np.ndarray:
    x0, x1 = pts["x0"].to_numpy()[None, :], pts["x1"].to_numpy()[None, :]
    inside = (
        (x0 >= bx["lo0"].to_numpy()[:, None])
        & (x0 <= bx["hi0"].to_numpy()[:, None])
        & (x1 >= bx["lo1"].to_numpy()[:, None])
        & (x1 <= bx["hi1"].to_numpy()[:, None])
    )
    return inside.sum(axis=1)


def knn_dist2(pts: pd.DataFrame, q: pd.DataFrame, k: int) -> dict[int, list[int]]:
    """qid -> ascending top-k squared distances (a multiset: ties and
    duplicate points each count)."""
    x0, x1 = pts["x0"].to_numpy(), pts["x1"].to_numpy()
    out = {}
    for qid, a, b in zip(q["qid"].to_numpy(), q["q0"].to_numpy(), q["q1"].to_numpy()):
        d2 = (x0 - a) ** 2 + (x1 - b) ** 2
        out[int(qid)] = sorted(np.partition(d2, k - 1)[:k].tolist())
    return out


def quantize(emb: pd.DataFrame) -> np.ndarray:
    """numpy twin of dedup.quantized_embeddings: floor(double(e) * 1000)."""
    return np.floor(np.stack(emb["embedding"].to_numpy()).astype(np.float64) * 1000).astype(np.int64)


def topk_dot_ref(emb: pd.DataFrame, n_queries: int, k: int) -> set[tuple[int, int, int]]:
    """{(qid, vec_id, dot)}: exact top-k inner products, self excluded,
    ties broken by vec_id (the order topk_dot documents)."""
    qv = quantize(emb)
    ids = emb["vec_id"].to_numpy()
    out = set()
    for qi in range(n_queries):
        dots = qv @ qv[qi]
        keep = ids != ids[qi]
        order = np.lexsort((ids[keep], -dots[keep]))[:k]
        out |= {(int(ids[qi]), int(v), int(d)) for v, d in zip(ids[keep][order], dots[keep][order])}
    return out
