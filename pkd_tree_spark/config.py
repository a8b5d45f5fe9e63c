"""Engine configuration and shared deterministic constants.

Everything that must agree between the Spark engine and the DuckDB oracle
(coordinate derivation, query generation, hashing) lives here as plain
integers so both sides compute bit-identical int64 values.

Reference parity notes (ucrparlay/Pkd-tree):
  - coordinate domain [0, 1e6] mirrors the reference generator's
    ``box_size = 1e6`` (tests/testFramework.h:965-989).
  - fixed-point integer coordinates replace the reference's epsilon
    comparator (include/cpdd/comparator.h:10-79) — exact comparisons are
    shuffle-stable across executors.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Deterministic arithmetic constants (shared with pkd_tree_spark.oracle).
# Knuth / xxhash-style odd multipliers; all products stay < 2^63 for the
# key ranges produced by the sf<=1 testdata.
# ---------------------------------------------------------------------------
COORD_BOUND = 1_000_001  # coords in [0, 1_000_000], matches reference box_size=1e6
A1 = 2_654_435_761
A2 = 2_246_822_519
A3 = 3_266_489_917
B1 = 12_345
B2 = 54_321
B3 = 777_771

# Varden (variable-density cluster) constants — stand-in for the reference's
# ss_varden generator (script/gen_ss_varden.sh): hot clusters + sparse tail.
VARDEN_CLUSTERS = 64
VARDEN_CENTER_MULT = 48_271 * 7_919
VARDEN_SIGMA_MULT = 5_077
VARDEN_SIGMA_BASE = 50
VARDEN_SIGMA_MOD = 20_000

GRID_BITS = 20  # 2^20 = 1_048_576 > COORD_BOUND: every coord fits in GRID_BITS
COORD_BITS = 20  # geometric resolution of the coordinate domain

# extra per-dim multipliers/offsets for d > 3 (reference instantiates up to
# d=16, tests/test.cpp:569-617; the engine's d is a runtime parameter)
A4, A5 = 2_484_345_967, 3_323_987_519
B4, B5 = 424_243, 737_373
A6, A7 = 2_860_486_313, 3_267_000_013
B6, B7 = 515_151, 616_161

# dims 7..15 extend by formula (odd, < 2^32 so k*A stays < 2^63 for testdata
# keys); shared verbatim with the oracle — both sides read these tuples
COORD_MULTS = (A1, A2, A3, A4, A5, A6, A7) + tuple(
    (2_654_435_761 + 104_729 * j) | 1 for j in range(7, 16)
)
COORD_ADDS = (B1, B2, B3, B4, B5, B6, B7) + tuple(100_003 * j + 7 for j in range(7, 16))

# Bound on the level-``index_level`` skeleton: a meta holds at most
# 2^(dims*index_level) cells, and every query batch resolves against a
# driver-resident copy of it (SpatialIndex.meta_np). 300k cells x (2+2d)
# longs ~ 15MB at d=2; a level-7 d=2 meta is <= 16384 rows.
META_MEMO_CELLS = 300_000


@dataclass(frozen=True)
class EngineConfig:
    """Runtime knobs for the spatial engine.

    dims          : point dimensionality (reference supports d in {2,3,5,...};
                    tests/test.cpp:569-617 — here a runtime parameter).
    index_level   : grid level of the cell metadata table; one metadata row per
                    non-empty level-``index_level`` cell. Plays the role of the
                    kd-tree's top splitter levels (build_tree.hpp:19-45), and
                    like them always fits on the driver: 2^(dims*index_level)
                    must not exceed META_MEMO_CELLS (ValueError otherwise).
    knn_level     : grid level used for expanding-ring kNN candidate
                    generation (coarser than index_level so a ring holds
                    O(k) candidates).
    partitions    : shuffle/range partitions for the points table. At cluster
                    scale this is ~2-3x the executor-core count; on local[32]
                    testing we keep it at 32.
    leaf_target   : desired rows per level-``index_level`` cell; used by the
                    skew monitor to trigger re-tiling (the weight-balance
                    rebuild analog, tree_node.hpp:126-131).
    imbalance_ratio : cell-count skew threshold (reference INBALANCE_RATIO=30,
                    kdTreeParallel.h:48).
    """

    dims: int = 2
    index_level: int = 7
    knn_level: int = 5
    partitions: int = 32
    leaf_target: int = 4096
    imbalance_ratio: int = 30
    grid_bits: int = 0  # Morton key bits per dim; 0 -> min(coord_bits, 63//dims)
    coord_bits: int = COORD_BITS  # geometric resolution (coords < 2^coord_bits)

    def __post_init__(self):
        if self.grid_bits == 0:
            object.__setattr__(self, "grid_bits", min(self.coord_bits, 63 // self.dims))
        assert self.grid_bits * self.dims <= 63
        assert self.index_level <= self.grid_bits and self.knn_level <= self.grid_bits
        if 1 << (self.dims * self.index_level) > META_MEMO_CELLS:
            deepest = (META_MEMO_CELLS.bit_length() - 1) // self.dims
            raise ValueError(
                f"index_level={self.index_level} at dims={self.dims} allows "
                f"2^{self.dims * self.index_level} skeleton cells, over META_MEMO_CELLS="
                f"{META_MEMO_CELLS}: the deepest allowed level is {deepest}"
            )

    @property
    def coord_shift(self) -> int:
        """Right-shift turning a coordinate into its grid coordinate."""
        return self.coord_bits - self.grid_bits

    @property
    def cell_width(self) -> int:
        return 1 << (self.coord_bits - self.index_level)

    def width_at(self, level: int) -> int:
        """Cell side length in coordinate units at a grid level."""
        return 1 << (self.coord_bits - level)


DEFAULT_CONFIG = EngineConfig()
