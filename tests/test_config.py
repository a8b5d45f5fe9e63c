"""EngineConfig's skeleton bound (Spark-free): 2^(dims*index_level) may not
exceed META_MEMO_CELLS, so every index's meta fits on the driver."""

from __future__ import annotations

import pytest

from pkd_tree_spark.config import META_MEMO_CELLS, EngineConfig


@pytest.mark.parametrize("dims,level,allowed", [(2, 10, 9), (3, 7, 6)])
def test_over_bound_level_raises_and_names_allowed_level(dims, level, allowed):
    assert 1 << (dims * level) > META_MEMO_CELLS >= 1 << (dims * allowed)
    with pytest.raises(ValueError, match=f"deepest allowed level is {allowed}$"):
        EngineConfig(dims=dims, index_level=level, knn_level=1)
    EngineConfig(dims=dims, index_level=allowed, knn_level=1)


def _bench_idx_level(d: int) -> int:
    # bench.py's index_level rule, verbatim
    return {2: 7, 3: 6}.get(d, max(1, 18 // d))


def test_bench_level_rule_accepted():
    from pathlib import Path

    src = (Path(__file__).resolve().parents[1] / "bench.py").read_text()
    assert "idx_level = {2: 7, 3: 6}.get(DIMS, max(1, 18 // DIMS))" in src
    for d in range(2, 19):
        lvl = _bench_idx_level(d)
        EngineConfig(dims=d, index_level=lvl, knn_level=lvl - 1)


def test_entry_configs_accepted():
    # the module builds its five configs at import: a rejected one raises here
    import __spark_entry__ as E

    assert [c.dims for c in (E._CFG, E._CFG3, E._CFG5, E._CFG7, E._CFG16)] == [2, 3, 5, 7, 16]
