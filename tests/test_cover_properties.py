"""Property-based tests (hypothesis) for the cover machinery — the
correctness core of every range operator: covers must be (a) disjoint,
(b) complete (every in-region grid point falls in some cover cell),
(c) sound on interior cells (every point of an interior cell is in-region).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from pkd_tree_spark.config import EngineConfig
from pkd_tree_spark.index import BallRegion, BoxRegion, ConvexPolygonRegion, cover_regions
from pkd_tree_spark.zorder import morton_decode_np, morton_encode_np

CFG = EngineConfig(dims=2, index_level=6, knn_level=4, partitions=4)
M = 1 << CFG.coord_bits

coord = st.integers(min_value=0, max_value=M - 1)


def _cover_cells_ranges(cov):
    """Each cover cell as a morton interval at index_level granularity."""
    d, L = CFG.dims, CFG.index_level
    out = []
    for r in cov.itertuples():
        span = d * (L - r.level)
        lo = r.cell << span
        hi = ((r.cell + 1) << span) - 1
        out.append((lo, hi, bool(r.interior), int(r.level)))
    return out


@settings(max_examples=30, deadline=None)
@given(coord, coord, coord, coord)
def test_box_cover_disjoint_and_complete(ax, ay, bx, by):
    qlo = np.minimum([ax, ay], [bx, by])
    qhi = np.maximum([ax, ay], [bx, by])
    cov = cover_regions([(0, BoxRegion(qlo, qhi))], CFG, budget=256)
    ranges = _cover_cells_ranges(cov)
    # disjoint morton intervals
    srt = sorted(ranges)
    for (l1, h1, *_), (l2, h2, *_) in zip(srt, srt[1:]):
        assert h1 < l2, "cover cells overlap"
    # complete + interior-sound on a sample of grid points
    rng = np.random.default_rng(0)
    pts = np.stack(
        [rng.integers(qlo[j], qhi[j] + 1, size=200) for j in range(2)], axis=1
    )
    keys = morton_encode_np(pts >> CFG.coord_shift, bits=CFG.grid_bits)
    lk = keys >> (2 * (CFG.grid_bits - CFG.index_level))
    for k in lk:
        assert any(lo <= k <= hi for lo, hi, *_ in ranges), "in-box point not covered"
    # interior soundness: corners of interior cells lie inside the box
    for lo, hi, interior, level in ranges:
        if not interior:
            continue
        cell = lo >> (2 * (CFG.index_level - level))
        g = morton_decode_np(np.array([cell]), 2, bits=level)[0]
        w = CFG.width_at(level)
        clo, chi = g * w, g * w + w - 1
        assert np.all(clo >= qlo) and np.all(chi <= qhi)


@settings(max_examples=30, deadline=None)
@given(coord, coord, st.integers(min_value=1, max_value=400_000))
def test_ball_cover_complete(cx, cy, r):
    region = BallRegion([cx, cy], r * r)
    cov = cover_regions([(0, region)], CFG, budget=256)
    ranges = _cover_cells_ranges(cov)
    rng = np.random.default_rng(1)
    # sample points inside the ball (rejection from bounding box)
    lo = np.maximum([cx - r, cy - r], 0)
    hi = np.minimum([cx + r, cy + r], M - 1)
    pts = np.stack([rng.integers(lo[j], hi[j] + 1, size=500) for j in range(2)], axis=1)
    d2 = ((pts - [cx, cy]) ** 2).sum(axis=1)
    pts = pts[d2 <= r * r]
    if len(pts) == 0:
        return
    keys = morton_encode_np(pts >> CFG.coord_shift, bits=CFG.grid_bits)
    lk = keys >> (2 * (CFG.grid_bits - CFG.index_level))
    for k in lk:
        assert any(a <= k <= b for a, b, *_ in ranges), "in-ball point not covered"


def _regular_polygon(cx: int, cy: int, r: int, k: int, phase: float) -> np.ndarray:
    """CCW convex k-gon inscribed in the circle (cx, cy, r), integer vertices."""
    ang = phase + 2 * np.pi * np.arange(k) / k
    v = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    return np.round(v).astype(np.int64)


def _in_polygon(pts: np.ndarray, v: np.ndarray) -> np.ndarray:
    e = np.roll(v, -1, axis=0) - v
    rel = pts[:, None, :] - v[None, :, :]
    return (e[None, :, 0] * rel[:, :, 1] - e[None, :, 1] * rel[:, :, 0] >= 0).all(axis=1)


@settings(max_examples=30, deadline=None)
@given(coord, coord, st.integers(min_value=2_000, max_value=400_000), st.integers(min_value=3, max_value=8),
       st.floats(min_value=0, max_value=6.28))
def test_polygon_cover_disjoint_complete_sound(cx, cy, r, k, phase):
    v = _regular_polygon(cx, cy, r, k, phase)
    ranges = _cover_cells_ranges(cover_regions([(0, ConvexPolygonRegion(v))], CFG, budget=256))
    srt = sorted(ranges)
    for (l1, h1, *_), (l2, h2, *_) in zip(srt, srt[1:]):
        assert h1 < l2, "cover cells overlap"
    # complete: in-polygon grid points (rejection from the bounding box)
    rng = np.random.default_rng(2)
    lo, hi = np.maximum(v.min(axis=0), 0), np.minimum(v.max(axis=0), M - 1)
    pts = np.stack([rng.integers(lo[j], hi[j] + 1, size=500) for j in range(2)], axis=1)
    pts = pts[_in_polygon(pts, v)]
    keys = morton_encode_np(pts >> CFG.coord_shift, bits=CFG.grid_bits)
    for kk in keys >> (2 * (CFG.grid_bits - CFG.index_level)):
        assert any(a <= kk <= b for a, b, *_ in ranges), "in-polygon point not covered"
    # sound: all four corners of every interior cell lie inside the polygon
    for a, _, interior, level in ranges:
        if interior:
            g = morton_decode_np(np.array([a >> (2 * (CFG.index_level - level))]), 2, bits=level)[0]
            w = CFG.width_at(level)
            corners = np.array([[g[0] * w + dx, g[1] * w + dy] for dx in (0, w - 1) for dy in (0, w - 1)])
            assert _in_polygon(corners, v).all(), "interior cell not inside the polygon"


def _scalar_polygon_cover(v: np.ndarray, budget: int) -> pd.DataFrame:
    """Reference: the per-query, per-level scalar descent with an
    unpadded separating-axis classifier (the loop the batch descent
    replaced)."""
    d, L, cb = 2, CFG.index_level, CFG.coord_bits
    e = np.roll(v, -1, axis=0) - v
    rows, cells, emitted = [], np.zeros(1, dtype=np.int64), 0
    for level in range(L + 1):
        if cells.size == 0:
            break
        g = morton_decode_np(cells, d, bits=level) if level else np.zeros((1, d), dtype=np.int64)
        w = 1 << (cb - level)
        lo, hi = g * w, g * w + (w - 1)
        corners = np.stack([lo, np.stack([lo[:, 0], hi[:, 1]], 1), np.stack([hi[:, 0], lo[:, 1]], 1), hi], 1)
        rel = corners[None] - v[:, None, None, :]
        cross = e[:, None, None, 0] * rel[..., 1] - e[:, None, None, 1] * rel[..., 0]
        contained = (cross >= 0).all(axis=(0, 2))
        disjoint = (cross < 0).all(axis=2).any(axis=0)
        for j in range(2):
            disjoint |= (v[None, :, j] < lo[:, [j]]).all(axis=1) | (v[None, :, j] > hi[:, [j]]).all(axis=1)
        cont, part = cells[contained & ~disjoint], cells[~contained & ~disjoint]
        rows += [(level, c, True) for c in cont]
        emitted += cont.size
        if level == L or emitted + part.size * 4 > budget:
            rows += [(level, c, False) for c in part]
            break
        cells = ((part[:, None] << d) | np.arange(4)[None, :]).reshape(-1)
    return pd.DataFrame(rows, columns=["level", "cell", "interior"])


def test_polygon_cover_matches_scalar_reference():
    rng = np.random.default_rng(4)
    polys = []
    for q in range(60):
        c, r = rng.integers(0, M, 2), int(rng.integers(1_000, 300_000))
        ang = np.sort(rng.uniform(0, 2 * np.pi, int(rng.integers(3, 9))))
        polys.append((q, ConvexPolygonRegion(np.round(np.stack([c[0] + r * np.cos(ang), c[1] + r * np.sin(ang)], 1)).astype(np.int64))))
    got = cover_regions(polys, CFG, budget=256)
    key = ["level", "cell"]
    for q, region in polys:
        want = _scalar_polygon_cover(region.v, 256).sort_values(key).reset_index(drop=True)
        g = got[got.qid == q][key + ["interior"]].sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, want, check_dtype=False)


def test_polygon_cover_batch_invariant():
    """Padding polygons to a common vertex count changes no cover: a mixed
    batch of triangles, diamonds and hexagons covers exactly as each
    polygon covered alone."""
    polys = []
    for q in range(12):
        k = (3, 4, 6)[q % 3]
        polys.append((q, ConvexPolygonRegion(_regular_polygon(
            90_000 * q % M, 170_000 * q % M, 30_000 + 25_000 * q, k, 0.3 * q))))
    key = ["qid", "level", "cell"]
    batch = cover_regions(polys, CFG, budget=256).sort_values(key).reset_index(drop=True)
    alone = pd.concat([cover_regions([p], CFG, budget=256) for p in polys])
    pd.testing.assert_frame_equal(batch, alone.sort_values(key).reset_index(drop=True))


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=1, max_size=200))
def test_morton_roundtrip_property(pairs):
    pts = np.array(pairs, dtype=np.int64)
    keys = morton_encode_np(pts, bits=20)
    back = morton_decode_np(keys, 2, bits=20)
    assert np.array_equal(pts, back)
