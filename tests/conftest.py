from __future__ import annotations

import contextlib
import os
from unittest import mock

import pandas as pd
import pytest

from pkd_tree_spark import index as I
from pkd_tree_spark import ranges as R
from pkd_tree_spark.config import EngineConfig
from pkd_tree_spark.documents import load_points, synth_documents
from pkd_tree_spark.index import SpatialIndex
from pkd_tree_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# get_spark's 16g default would let the test JVM's heap outgrow a 15 GB
# machine once cached fixtures are lost and rebuilt; with a 6g heap the
# suite's JVM peaked at 4.5-6.2 GB resident
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="pkd-tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def cfg():
    return EngineConfig(dims=2, index_level=5, knn_level=4, partitions=8)


@pytest.fixture(scope="session")
def docs_uniform(spark):
    return synth_documents(spark, SF_DIR, dims=2, dist="uniform").persist()


@pytest.fixture(scope="session")
def points_uniform(spark) -> pd.DataFrame:
    """All base points as pandas — the brute-force oracle substrate."""
    return load_points(spark, SF_DIR, dims=2, dist="uniform").toPandas()


@pytest.fixture(scope="session")
def index_uniform(spark, cfg):
    return SpatialIndex.build(load_points(spark, SF_DIR, dims=2, dist="uniform"), cfg)


@pytest.fixture(scope="session")
def index_varden(spark, cfg):
    return SpatialIndex.build(load_points(spark, SF_DIR, dims=2, dist="varden"), cfg)


@pytest.fixture(scope="session")
def points_varden(spark) -> pd.DataFrame:
    return load_points(spark, SF_DIR, dims=2, dist="varden").toPandas()


@pytest.fixture
def finishes(monkeypatch):
    """Records the region kind of every boundary count finished on the
    driver (ranges._boundary_counts_np) and whether its scanned rows
    arrived in Morton order."""
    seen: list[tuple[str, bool]] = []
    real = R._boundary_counts_np

    def _rec(index, kind, q, res, pts):
        seen.append((kind, bool((pts["morton"].diff().dropna() >= 0).all())))
        return real(index, kind, q, res, pts)

    monkeypatch.setattr(R, "_boundary_counts_np", _rec)
    return seen


@pytest.fixture
def joined(monkeypatch, finishes):
    """The other side of index.DRIVER_FINISH_MAX_ROWS: with the bound at 0
    every driver-resolved count runs the leaf join (the returned list of
    driver finishes must stay empty)."""
    monkeypatch.setattr(I, "DRIVER_FINISH_MAX_ROWS", 0)
    return finishes


@pytest.fixture
def knn_scans(monkeypatch):
    """Records every kNN driver round finished from one collected scan
    (knn._scan_candidates): its pending mesh queries, the levels of its
    resolved shell cells (-1: a level-L leaf), the rows the scan returned
    and whether they arrived in Morton order."""
    from pkd_tree_spark import knn as K

    seen: list[dict] = []
    real = K._scan_candidates

    def _rec(tbl, st, cells, *args):
        m = tbl.column("morton").to_numpy()
        seen.append({"queries": len(st), "levels": sorted(set(cells["lvl"].tolist())), "rows": tbl.num_rows,
                     "sorted": bool((m[1:] >= m[:-1]).all())})
        return real(tbl, st, cells, *args)

    monkeypatch.setattr(K, "_scan_candidates", _rec)
    return seen


@pytest.fixture
def knn_joined(monkeypatch, knn_scans):
    """The join side of the bound for kNN: with index.DRIVER_FINISH_MAX_ROWS
    at 0 every driver round collects the candidate join (the returned list
    of scan-finished rounds must stay empty)."""
    monkeypatch.setattr(I, "DRIVER_FINISH_MAX_ROWS", 0)
    return knn_scans


def job_sites(spark, group: str, fn):
    """Run ``fn`` under a Spark job group; return its result and each job's
    call site (the name of the job's result stage, e.g. "collect at
    .../index.py:229"), in job-id order."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    sites = [st.getStageInfo(max(st.getJobInfo(j).stageIds)).name for j in sorted(st.getJobIdsForGroup(group))]
    return out, sites


def compiles(spark, fn):
    """Run ``fn``; return its result and the number of classes Spark's code
    generator compiled meanwhile (CodegenMetrics, JVM-wide)."""
    hist = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    before = hist.getCount()
    out = fn()
    return out, hist.getCount() - before


@contextlib.contextmanager
def candidate_joins():
    """Record every kNN round's candidate join, driver and distributed
    rounds alike, by wrapping knn._candidate_join: yields a list that gets
    one {"lvl_counts", "plan"} entry per round with a mesh branch, the plan
    being the optimized logical plan of the union of the returned parts."""
    from pkd_tree_spark import knn as K

    seen: list[dict] = []
    real = K._candidate_join

    def spy(pts_narrow, cell_rel, lvl_counts, *args):
        parts = real(pts_narrow, cell_rel, lvl_counts, *args)
        if parts:
            plan = str(K._union(parts)._jdf.queryExecution().optimizedPlan())
            seen.append({"lvl_counts": dict(lvl_counts), "plan": plan})
        return parts

    with mock.patch.object(K, "_candidate_join", spy):
        yield seen
