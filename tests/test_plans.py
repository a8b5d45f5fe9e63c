"""BENCH/PLANS.md stays true: the node counts recorded under each of its
sections equal those of the plan the section's tools/gen_plans.py
function builds now (regenerate with `PYTHONPATH=. python
tools/gen_plans.py` when a plan changes on purpose)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tools import gen_plans as G


@pytest.mark.parametrize("title", [t for t, _, _ in G.SECTIONS])
def test_recorded_plan_counts_match_live_plan(spark, index_uniform, title):
    fn = next(f for t, _, f in G.SECTIONS if t == title)
    # as gen_plans reads it: a fresh build's plan is then a scan of this
    # index's materialized cache
    index_uniform.points.count()
    index_uniform.meta.count()
    plan = fn(spark, index_uniform, SF_DIR)
    recorded = G.recorded_counts()
    assert plan is not None and title in recorded, f"no recorded plan for {title!r}"
    assert G.op_counts(plan) == recorded[title]
