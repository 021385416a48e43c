"""Distributed cell-set algebra over exploded cell-id DataFrames.

The reference's ``S2CellUnion`` set operations (getUnion /
getIntersection / getDifference / normalize, S2CellUnion.php:227-313,
591-661) work on in-memory sorted vectors; these are the Spark
equivalents for data-driven cell sets too large for the driver.  No
operation loops on the driver:

* :func:`normalize_cells` — drop contained cells with ONE window pass
  (running max of range_max over the unsigned Hilbert order), which
  leaves the cells disjoint; then ONE explode-and-aggregate finds every
  fully covered cell: each cell expands to itself and its ancestors
  with its leaf count ``cell & -cell``, and a cell ``p`` whose summed
  leaf counts reach ``p & -p`` is full.  The result is the full cells,
  less the contained ones.
* :func:`cells_union` — unionAll + normalize.
* :func:`cells_intersection` — B is collected once and held sorted in
  one Arrow UDF's closure; each A cell looks up the B cells equal to,
  containing or inside it (``cellid.cell_pairs``), and the finer cell
  of each pair is a piece of the intersection.  A streams.
* :func:`cells_difference` — A \\ B = A ∩ complement(B), the
  complement built on the driver from B, then normalized.
* :func:`cells_contain_point` — the set is collected once; each leaf
  is two binary searches over its ranges inside one Arrow UDF.

Scale shape: normalize is two window sorts around one aggregation, all
three on one exchange by face (cells of different faces never nest),
so up to six tasks share it; the intersection is one Arrow UDF over A
and one dedup shuffle, the difference the same UDF and normalize's
exchange, each plus the one collect of B; the leaf lookup is one Arrow
UDF over the leaves and no shuffle, plus the one collect of the set.
The sums fit in a long: the largest, a face's, is 2^60.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, LongType

from ..functions.sql_bitops import (
    s2_range_max,
    s2_range_min,
    s2_unsigned_order,
)
from ..s2core import arrow_io as aio
from ..s2core import cellid as cid
from ..s2core.coverer import cell_union_difference

_FACES = [(face << 61) | (1 << 60) for face in range(6)]
# leaf counts of the levels 0..30, the lowest set bit of a cell there
_LEVEL_LSBS = ", ".join(f"{1 << 2 * (cid.MAX_LEVEL - k)}L" for k in range(cid.MAX_LEVEL + 1))


def _with_ranges(df: DataFrame, cell_col: str) -> DataFrame:
    return (
        df.withColumn("_rmin", s2_range_min(F.col(cell_col)))
        .withColumn("_rmax", s2_range_max(F.col(cell_col)))
        .withColumn("_ord", s2_unsigned_order(F.col("_rmin")))
        .withColumn("_ord_max", s2_unsigned_order(F.col("_rmax")))
    )


def _drop_contained(df: DataFrame, cell_col: str) -> DataFrame:
    """Remove null, repeated and contained cells (first half of
    normalize, S2CellUnion.php:600-615) from a frame with a ``_face``
    column (``cell >>> 61``), which it keeps: a
    frame already hash-partitioned on it is not shuffled again.

    A cell is contained in an earlier one (unsigned range_min order)
    iff the running max of range_max over its predecessors already
    reaches its range_max; a repeated cell's later copies see its own
    range_max there, so they drop too.  Cells of different faces never
    nest, so the window runs per face: up to six tasks, not one."""
    w = (
        Window.partitionBy("_face")
        .orderBy(F.col("_ord").asc(), F.col("_ord_max").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = F.max("_ord_max").over(w)
    return (
        _with_ranges(df.where(F.col(cell_col).isNotNull()), cell_col)
        .withColumn("_prev_max", running)
        .where(F.col("_prev_max").isNull() | (F.col("_prev_max") < F.col("_ord_max")))
        .drop("_rmin", "_rmax", "_ord", "_ord_max", "_prev_max")
    )


def normalize_cells(df: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    """Full distributed S2CellUnion.normalize (S2CellUnion.php:591-661):
    every fully covered cell, less the contained ones.  The disjoint
    cells (:func:`_drop_contained`) each expand to themselves and
    their ancestors at levels 0..level-1 with their leaf count; a cell
    whose leaf counts sum to its own is full.  That is the 4-sibling
    collapse of every level at once.  An ancestor is on its cell's
    face, so the aggregate groups by face and cell and the second
    window by face: the first window's exchange serves all three."""
    face = F.shiftrightunsigned(F.col(cell_col), 61).alias("_face")
    cells = _drop_contained(df.select(cell_col, face), cell_col)
    c = f"`{cell_col}`"
    self_and_ancestors = F.expr(
        f"transform(filter(array({_LEVEL_LSBS}), m -> m >= ({c} & -{c})), "
        f"m -> ({c} & -m) | m)"
    )
    full = (
        cells.select(
            "_face",
            F.explode(self_and_ancestors).alias(cell_col),
            F.col(cell_col).bitwiseAND(-F.col(cell_col)).alias("_n"),
        )
        .groupBy("_face", cell_col)
        .agg(F.sum("_n").alias("_n"))
        .where(F.col("_n") == F.col(cell_col).bitwiseAND(-F.col(cell_col)))
    )
    return _drop_contained(full, cell_col).select(cell_col)


def cells_union(a: DataFrame, b: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    return normalize_cells(a.select(cell_col).unionByName(b.select(cell_col)), cell_col)


def _pieces_udf(cells: np.ndarray):
    """An Arrow UDF ``pieces(cell)`` over cell ids: per row, the finer
    cell of each pair of it and one of ``cells`` (uint64, sorted,
    distinct) equal to, containing or inside it
    (``cellid.cell_pairs``).  A null row has no pieces.  The cells ride
    in its closure."""
    levels = sorted({int(x) for x in cid.level_of(cells)})

    @F.arrow_udf(ArrayType(LongType()))
    def pieces(cell: pa.Array) -> pa.Array:
        ids = cid.from_signed(aio.int64_values(cell))
        valid = aio.valid_mask(cell)
        at = np.arange(len(ids)) if valid is None else np.flatnonzero(valid)
        row, idx = cid.cell_pairs(cells, ids[at], levels)
        mine, other = ids[at][row], cells[idx]
        piece = np.where(cid.lowest_on_bit(mine) < cid.lowest_on_bit(other), mine, other)
        row = at[row]
        order = np.argsort(row, kind="stable")
        offsets = np.searchsorted(row[order], np.arange(len(ids) + 1))
        return aio.list_array(offsets, aio.array(cid.to_signed(piece[order])))

    return pieces


def _collect_cells(df: DataFrame, cell_col: str) -> np.ndarray:
    """The distinct non-null cells of ``df`` as sorted uint64: one job."""
    column = df.select(cell_col).where(F.col(cell_col).isNotNull()).toArrow().column(0)
    return np.unique(cid.from_signed(column.to_numpy()))


def _intersect(a: DataFrame, cells: np.ndarray, cell_col: str) -> DataFrame:
    """The pieces (:func:`_pieces_udf`) of ``a``'s cells against
    ``cells``; a piece may repeat."""
    pieces = _pieces_udf(cells)(F.col(cell_col))
    # explode_outer + an explicit not-null filter, not an inner explode
    # (spatial_join.probe_join): an inner explode runs the UDF twice.
    return (
        a.select(F.explode_outer(pieces).alias(cell_col))
        .where(F.col(cell_col).isNotNull())
    )


def cells_intersection(a: DataFrame, b: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    """Intersection of two NORMALIZED cell sets: pure integer range
    containment, no geometry (S2CellUnion.php:267-313 semantics).
    Quadtree ranges are aligned, so two cells meet iff one contains
    the other, and then the finer one is their intersection.

    Scale contract: **B must be broadcast-sized** (a normalized
    covering, thousands of cells): it is collected once and looked up
    inside one Arrow UDF over A (:func:`_pieces_udf`); A streams."""
    return _intersect(a, _collect_cells(b, cell_col), cell_col).dropDuplicates([cell_col])


def cells_difference(a: DataFrame, b: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    """A \\ B for NORMALIZED cell sets (S2CellUnion getDifference
    semantics, S2CellUnion.php:227-313 family), as A ∩ complement(B),
    normalized like the reference's ``Init``-on-result.

    The complement is the six face cells less B, split on the driver
    (``coverer.cell_union_difference``): each B cell at level L leaves
    at most 3 siblings at each of the L levels above it, so the
    complement has at most 3·30·|B| + 6 cells.  It then takes the
    intersection's lookup (:func:`_pieces_udf`) over A.

    Scale contract: **B must be broadcast-sized**, as for
    :func:`cells_intersection`; A streams."""
    complement = cell_union_difference(_FACES, _collect_cells(b, cell_col).tolist())
    cells = np.array(complement, dtype=np.uint64)
    return normalize_cells(_intersect(a, cells, cell_col), cell_col)


def _covered_udf(cells: np.ndarray):
    """An Arrow UDF ``covered(leaf)``: true where ``leaf`` lies in the
    range of one of ``cells`` (uint64, any order, nesting allowed).
    With the ranges sorted by range_min and ``reach`` the running max
    of their range_max, a leaf is covered iff fewer ranges end before
    it (``reach < leaf``) than start at or before it: two binary
    searches per leaf, whatever the set's levels.  A null leaf is not
    covered.  The ranges ride in its closure."""
    lo = cid.range_min(cells)
    order = np.argsort(lo)
    lo, reach = lo[order], np.maximum.accumulate(cid.range_max(cells)[order])

    @F.arrow_udf(BooleanType())
    def covered(leaf: pa.Array) -> pa.Array:
        ids = cid.from_signed(aio.int64_values(leaf))
        hit = np.searchsorted(reach, ids, "left") < np.searchsorted(lo, ids, "right")
        valid = aio.valid_mask(leaf)
        return aio.array(hit if valid is None else hit & valid)

    return covered


def cells_contain_point(
    cells: DataFrame, leaf: DataFrame, cell_col: str = "cell_id",
    leaf_col: str = "leaf_id",
) -> DataFrame:
    """Semi-join: ``leaf`` rows whose ``leaf_col`` lies in the range of
    a cell of the set (normalized or not).

    Scale contract: **the set must be broadcast-sized**, as for
    :func:`cells_intersection`: it is collected once and each leaf is
    looked up inside one Arrow UDF (:func:`_covered_udf`); the leaves
    stream."""
    covered = _covered_udf(_collect_cells(cells, cell_col))(F.col(leaf_col))
    # The flag goes through a one-element explode_outer, not straight
    # into the filter: a filter is pushed below the projection that
    # computes ``leaf_col`` and, when that is a UDF too (the leaf
    # encode), the encode would then run twice.  A filter on a
    # generated column stays above its Generate.
    return (
        leaf.select("*", F.explode_outer(F.array(covered)).alias("_covered"))
        .where("_covered")
        .drop("_covered")
    )
