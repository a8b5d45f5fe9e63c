"""The source-of-truth ``documents`` table (input_hint shape) and the
span -> point extraction pipeline.

Shape (FIXTURES.md §1, mirroring the 10^12-doc Iceberg table at test scale):

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Each document carries exactly one ``kind='geo'`` span whose ``text`` holds
the decimal coordinates ("x y [z]"); the remaining spans are interleaved
text/media filler. The per-row invariant every engine output must preserve
is span-sequence equality ``(kind, text, media_ref, order)``.

Determinism contract: documents are synthesized from ``lineitem`` keys by
pure int64 arithmetic (constants in config.py), so the DuckDB oracle
(pkd_tree_spark/oracle.py) recomputes identical coordinates without seeing
the spans table. This replaces the reference's text-file point reader
(tests/testFramework.h:991-1022) and its uniform / ss_varden generators
(tests/testFramework.h:965-989, script/gen_ss_varden.sh).

All generation and extraction is JVM-side Spark SQL (F.transform /
F.sequence / split / cast) — zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config as C

__all__ = [
    "doc_key_col",
    "uniform_coord_col",
    "varden_coord_col",
    "synth_documents",
    "extract_points",
    "load_points",
]

_COORD_MULTS = C.COORD_MULTS
_COORD_ADDS = C.COORD_ADDS


def doc_key_col() -> Column:
    """Stable document key from a lineitem row: l_orderkey*10 + l_linenumber.

    lineitem may contain duplicate (orderkey, linenumber) rows; duplicate
    keys then yield duplicate points — deliberately kept, they exercise the
    reference's duplicate-collapsing path (dummy leaves,
    include/cpdd/batch_op/build_tree.hpp:183-186).
    """
    return (F.col("l_orderkey") * F.lit(10) + F.col("l_linenumber")).cast("long")


def uniform_coord_col(k: Column, j: int) -> Column:
    """j-th coordinate, uniform in [0, 1e6]: (k*Aj + Bj) % COORD_BOUND."""
    return ((k * F.lit(_COORD_MULTS[j]) + F.lit(_COORD_ADDS[j])) % F.lit(C.COORD_BOUND)).cast("long")


def varden_coord_col(k: Column, j: int) -> Column:
    """j-th coordinate under the variable-density-cluster distribution.

    64 equal-population clusters whose box half-widths (sigma) span
    50..20050 — a ~400x per-dim density spread, enough that naive hash
    partitioning produces hot partitions (the property that makes the
    reference's varden kNN 10x slower, script/data/knn.csv:2 vs :4).
    1% uniform background noise.
    """
    c = k % F.lit(C.VARDEN_CLUSTERS)
    sigma = (F.lit(C.VARDEN_SIGMA_BASE) + (c * c * F.lit(C.VARDEN_SIGMA_MULT)) % F.lit(C.VARDEN_SIGMA_MOD)).cast("long")
    center = ((c + F.lit(1)) * F.lit(C.VARDEN_CENTER_MULT + j * 1_000_003)) % F.lit(C.COORD_BOUND)
    offset = (k * F.lit(_COORD_MULTS[j]) + F.lit(_COORD_ADDS[j])) % (sigma * F.lit(2) + F.lit(1)) - sigma
    clustered = F.least(F.greatest(center + offset, F.lit(0)), F.lit(C.COORD_BOUND - 1))
    return F.when(k % F.lit(100) == F.lit(0), uniform_coord_col(k, j)).otherwise(clustered).cast("long")


def _coord_cols(k: Column, dims: int, dist: str) -> list[Column]:
    fn = uniform_coord_col if dist == "uniform" else varden_coord_col
    return [fn(k, j) for j in range(dims)]


def synth_documents(
    spark: SparkSession,
    sf_dir: str,
    dims: int = 2,
    dist: str = "uniform",
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """Deterministic spans-document table derived from lineitem keys.

    Returns ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
    Per key k: n_spans = 1 + k%4 spans; the geo span sits at position
    g = k % n_spans; filler spans alternate text/media by parity of (k+pos).
    """
    if keys_df is None:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        keys_df = li.select(doc_key_col().alias("k"))
    else:
        keys_df = keys_df.select(F.col("k").cast("long").alias("k"))
    # The testdata tables are single parquet files -> one input split, which
    # would serialize the whole span-synthesis + extraction + encode stage.
    # An early round-robin shuffle of the bare 8-byte keys is nearly free
    # and unlocks full parallelism upstream of the index shuffle. (At real
    # scale the source table has thousands of splits and this is a no-op.)
    keys_df = keys_df.repartition(spark.sparkContext.defaultParallelism)

    k = F.col("k")
    coords = _coord_cols(k, dims, dist)
    geo_text = F.concat_ws(" ", *[c.cast("string") for c in coords])
    n_spans = (k % F.lit(4) + F.lit(1)).cast("int")
    geo_pos = (k % n_spans.cast("long")).cast("int")

    def span_struct(pos: Column) -> Column:
        is_geo = pos == geo_pos
        is_text = ((k + pos.cast("long")) % F.lit(2)) == F.lit(0)
        kind = F.when(is_geo, F.lit("geo")).when(is_text, F.lit("text")).otherwise(F.lit("media"))
        text = (
            F.when(is_geo, geo_text)
            .when(is_text, F.concat(F.lit("tok"), ((k + pos.cast("long")) % F.lit(997)).cast("string")))
            .otherwise(F.lit(""))
        )
        media_ref = F.when(
            ~is_geo & ~is_text,
            F.concat(F.lit("media://"), F.lpad(F.hex((k * F.lit(C.A3) + pos.cast("long")) % F.lit(1 << 48)), 16, "0")),
        ).otherwise(F.lit(""))
        return F.struct(
            kind.alias("kind"), text.alias("text"), media_ref.alias("media_ref"), pos.cast("int").alias("offset")
        )

    spans = F.transform(F.sequence(F.lit(0), n_spans - F.lit(1)), span_struct)
    return keys_df.select(
        F.concat(F.lit("doc_"), F.lpad(k.cast("string"), 12, "0")).alias("doc_id"),
        spans.alias("spans"),
    )


def extract_points(docs: DataFrame, dims: int = 2) -> DataFrame:
    """documents -> points: explode spans, keep kind='geo', parse coords.

    Pure JVM path (posexplode + split + cast); the Arrow/pandas hop happens
    only later for the Morton encode. Output:
    (doc_id, span_idx, key, x0..x{d-1}) — (doc_id, span_idx) is the PointID
    analog (include/cpdd/basic_point.h:87-162).
    """
    # posexplode_outer, not posexplode: the non-outer Generate lets Catalyst
    # infer a `size(spans) > 0` filter (InferFiltersFromGenerate) and push
    # the whole span-construction expression below the repartition exchange,
    # serializing it into the single-split source stage AND evaluating the
    # array twice. Outer explode is semantically identical here (every doc
    # has >= 1 span) and keeps the heavy projection in the parallel stage.
    is_geo = F.col("span.kind") == "geo"
    exploded = docs.select(
        "doc_id",
        F.posexplode_outer("spans").alias("span_idx", "span"),
    ).where(is_geo)
    parts = F.split(F.col("span.text"), " ")
    # the kind guard travels with the cast: the optimizer may evaluate a
    # coordinate in a filter pushed below the kind filter (an uncached
    # index's kNN scan did, failing on a media span's '' text), and ANSI
    # casts still fail on malformed geo text
    cols = [F.when(is_geo, F.element_at(parts, j + 1).cast("long")).alias(f"x{j}") for j in range(dims)]
    return exploded.select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.substring("doc_id", 5, 12).cast("long").alias("key"),
        *cols,
    )


def load_points(
    spark: SparkSession,
    sf_dir: str,
    dims: int = 2,
    dist: str = "uniform",
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """Convenience: synth documents then extract points."""
    return extract_points(synth_documents(spark, sf_dir, dims=dims, dist=dist, keys_df=keys_df), dims=dims)
