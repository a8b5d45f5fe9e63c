"""Morton encode/decode unit tests (the interleaved-splitter analog)."""

from __future__ import annotations

import numpy as np
import pytest

from pkd_tree_spark.zorder import morton_decode_np, morton_encode_np


@pytest.mark.parametrize("d", [2, 3, 5])
def test_roundtrip(d):
    rng = np.random.default_rng(42)
    bits = 63 // d
    pts = rng.integers(0, 1 << bits, size=(1000, d))
    keys = morton_encode_np(pts, bits=bits)
    back = morton_decode_np(keys, d, bits=bits)
    assert np.array_equal(pts, back)


def test_known_values_2d():
    # interleave MSB-first, dim 0 most significant within each bit group
    pts = np.array([[0, 0], [1, 0], [0, 1], [1, 1], [2, 0], [0, 2], [3, 3]])
    keys = morton_encode_np(pts, bits=2)
    assert keys.tolist() == [0, 2, 1, 3, 8, 4, 15]


def test_prefix_is_cell():
    """The level-L cell id is the Morton prefix: children share the parent
    prefix — the property every cover/join in the engine relies on."""
    rng = np.random.default_rng(7)
    pts = rng.integers(0, 1 << 20, size=(500, 2))
    keys = morton_encode_np(pts, bits=20)
    for level in (1, 5, 10):
        cells = keys >> (2 * (20 - level))
        gcells = morton_encode_np(pts >> (20 - level), bits=level)
        assert np.array_equal(cells, gcells)


def test_jvm_expr_matches_numpy(spark):
    """morton_col (pure JVM expression) must agree row-wise with the numpy
    encoder used driver-side for covers and rings."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pkd_tree_spark.zorder import morton_col

    rng = np.random.default_rng(11)
    for d in (2, 3):
        pts = rng.integers(0, 1 << 20, size=(2000, d))
        pdf = pd.DataFrame(pts, columns=[f"x{j}" for j in range(d)])
        pdf["rid"] = np.arange(len(pdf))
        got = (
            spark.createDataFrame(pdf)
            .select("rid", morton_col([f"x{j}" for j in range(d)], d).alias("m"))
            .toPandas()
            .sort_values("rid")["m"]
            .to_numpy()
        )
        assert np.array_equal(got, morton_encode_np(pts, bits=20))
    with pytest.raises(TypeError):
        morton_col([F.col("x0"), "x1"], 2)


def test_monotone_within_cell():
    """All points of a cell form one contiguous Morton range (what makes
    range-partition pruning correct)."""
    rng = np.random.default_rng(3)
    pts = rng.integers(0, 1 << 10, size=(2000, 2))
    keys = morton_encode_np(pts, bits=10)
    level = 3
    cells = keys >> (2 * (10 - level))
    order = np.argsort(keys, kind="stable")
    sorted_cells = cells[order]
    # cells must be non-interleaved in morton order: each cell id appears
    # as one contiguous run
    change = np.flatnonzero(np.diff(sorted_cells) != 0)
    runs = len(change) + 1
    assert runs == len(np.unique(cells))
