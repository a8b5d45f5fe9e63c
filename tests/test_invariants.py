"""Structural invariants (validate() analog, validation.hpp:49-70) and the
driver's per-row span-sequence invariant: every engine output row must map
back to a source document whose (kind, text, media_ref, order) sequence is
unchanged."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pkd_tree_spark import fixtures as FX
from pkd_tree_spark.documents import extract_points, synth_documents
from pkd_tree_spark.ranges import range_report_boxes
from tests.conftest import SF_DIR


def test_index_invariants(index_uniform):
    v = index_uniform.validate()
    assert v["meta_sum"] == v["n_points"]        # sum of cell counts == table count
    assert v["bbox_violations"] == 0             # every point inside its cell bounds


def test_varden_index_invariants(index_varden):
    v = index_varden.validate()
    assert v["meta_sum"] == v["n_points"]
    assert v["bbox_violations"] == 0


def test_every_doc_has_exactly_one_geo_span(docs_uniform):
    bad = docs_uniform.select(
        F.size(F.filter("spans", lambda s: s.kind == "geo")).alias("n")
    ).where(F.col("n") != 1)
    assert bad.count() == 0


def test_span_offsets_are_sequential(docs_uniform):
    bad = docs_uniform.select(
        F.exists(
            F.zip_with("spans", F.sequence(F.lit(0), F.size("spans") - 1), lambda s, i: s.offset != i),
            lambda x: x,
        ).alias("bad")
    ).where("bad")
    assert bad.count() == 0


def test_report_output_preserves_span_sequence(spark, index_uniform, docs_uniform):
    """Join a query output back to documents: the span sequence
    (kind, text, media_ref, order) of every reported doc must equal the
    source's — the north-rule per-row invariant."""
    report = range_report_boxes(index_uniform, FX.box_fixtures(4, 2))
    src = docs_uniform.select("doc_id", F.to_json("spans").alias("seq"))
    joined = report.select("doc_id").distinct().join(src, "doc_id", "left")
    assert joined.where(F.col("seq").isNull()).count() == 0
    # regenerate documents independently and compare sequences exactly
    regen = synth_documents(spark, SF_DIR, dims=2, dist="uniform").select(
        "doc_id", F.to_json("spans").alias("seq2")
    )
    diff = joined.join(regen, "doc_id").where(F.col("seq") != F.col("seq2"))
    assert diff.count() == 0


def test_extraction_matches_geo_span_text(spark, docs_uniform):
    """Extracted coords must equal the geo span's text parsed back."""
    pts = extract_points(docs_uniform, dims=2)
    geo = docs_uniform.select(
        "doc_id",
        F.element_at(F.filter("spans", lambda s: s.kind == "geo"), 1).alias("g"),
    ).select("doc_id", F.split("g.text", " ").alias("parts"))
    j = pts.join(geo, "doc_id")
    bad = j.where(
        (F.element_at("parts", 1).cast("long") != F.col("x0"))
        | (F.element_at("parts", 2).cast("long") != F.col("x1"))
    )
    assert bad.count() == 0


def test_duplicate_documents_fixture():
    """Dummy-leaf analog: an all-duplicates input collapses to one cell but
    keeps multiset counts (build_tree.hpp:183-186)."""
    import pandas as pd
    from pkd_tree_spark.config import EngineConfig
    from pkd_tree_spark.index import SpatialIndex
    from pkd_tree_spark.session import get_spark

    spark = get_spark(app="pkd-tests", cpus=8)
    pts = pd.DataFrame(
        {
            "doc_id": [f"dup_{i}" for i in range(1000)],
            "span_idx": [0] * 1000,
            "key": list(range(1000)),
            "x0": [123_456] * 1000,
            "x1": [654_321] * 1000,
        }
    )
    cfg = EngineConfig(dims=2, index_level=5, knn_level=4, partitions=4)
    idx = SpatialIndex.build(spark.createDataFrame(pts), cfg)
    v = idx.validate()
    assert v["n_points"] == 1000 and v["meta_sum"] == 1000 and v["n_cells"] == 1


def test_meta_totals_read_the_skeleton(spark, cfg):
    """check_skew, validate and pruned_points take their meta totals from
    the memoized skeleton: once it is memoized, a meta frame that fails
    when evaluated changes none of their results. Expected values are the
    Spark aggregates over the real meta."""
    from pkd_tree_spark.index import SpatialIndex
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.updates import check_skew

    pts = load_points(spark, SF_DIR, dims=2, dist="uniform")
    # a duplicate lattice engages the pruned table; the raw points refuse it
    lattice = pts.select("doc_id", "span_idx", "key", *[(F.col(f"x{j}") % 10 * 99_991).alias(f"x{j}") for j in range(2)])
    for src, engages in ((pts, False), (lattice, True)):
        idx = SpatialIndex.build(src, cfg)
        m = idx.meta.agg(
            F.max("cnt").alias("mx"), F.avg("cnt").alias("av"), F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("s")
        ).collect()[0]
        threshold = cfg.leaf_target * (1 + cfg.imbalance_ratio / 10.0)
        want_skew = {
            "max_cell": m["mx"], "avg_cell": float(m["av"]), "cells": m["n"], "threshold": threshold,
            "needs_retile": bool(m["mx"] > threshold),
        }
        want_val = {
            "n_points": idx.points.count(), "meta_sum": m["s"], "n_cells": m["n"],
            "bbox_violations": 0, "bbox_checked": True,
        }
        idx.meta_np()
        idx.meta = idx.meta.where(F.raise_error("meta frame evaluated").isNull())
        assert check_skew(idx) == want_skew
        assert idx.validate() == want_val
        pruned = idx.pruned_points(10)
        assert (pruned is not None) == engages
        if engages:
            assert pruned.count() < want_val["n_points"]


def test_build_staged_input_matches_unstaged(spark, cfg, monkeypatch):
    """Both sides of STAGE_INPUT_BYTES. With the gate at -1 the build
    stages its encoded input (a DISK_ONLY localCheckpoint) before the
    range shuffle; the sf0.001 input is far below the real gate, so the
    default build does not. Both builds must give the same points in the
    same Morton order (rows that share a Morton key may swap: the range
    bounds come from a sample of the input) and the same meta;
    release_staged() then frees the staged RDD."""
    import pkd_tree_spark.index as I
    from pkd_tree_spark.documents import load_points

    def snapshot(ix):
        pts = ix.points.toPandas()  # partition order
        assert pts["morton"].is_monotonic_increasing
        meta = ix.meta.toPandas().sort_values("cell", ignore_index=True)
        return pts.sort_values(list(pts.columns), ignore_index=True), meta

    pts = load_points(spark, SF_DIR, dims=2, dist="uniform")
    plain = I.SpatialIndex.build(pts, cfg, persist=False)
    assert plain._staged_ids == []
    monkeypatch.setattr(I, "STAGE_INPUT_BYTES", -1)
    staged = I.SpatialIndex.build(pts, cfg, persist=False)
    [rid] = staged._staged_ids
    held = spark.sparkContext._jsc.getPersistentRDDs()
    assert held.get(rid) is not None
    for got, want in zip(snapshot(staged), snapshot(plain)):
        pd.testing.assert_frame_equal(got, want)
    staged.release_staged()
    assert staged._staged_ids == []
    assert spark.sparkContext._jsc.getPersistentRDDs().get(rid) is None
