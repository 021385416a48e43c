"""Within-radius distance join: all (left, right) point pairs with
great-circle angle <= ``radius_rad`` — the join form of the
reference's cap query (an ``S2Cap(point, radius)`` per left row,
S2Cap.php:75-81 construction + S2Cap.php:225-228 chord containment),
composed the way the reference composes cap lookups with cell
neighborhoods (``getAllNeighbors``, S2CellUnion.php:383).

Plan shape (the 100 TB story): pick the FINEST level L whose minimum
cell width is still >= radius (``MIN_WIDTH.get_max_level``,
S2.php:863-879 / S2Projections.php:78).  Then for any two points
within ``radius`` of each other, the right point's level-L cell lies
inside the 3x3 neighbor ring of the left point's level-L cell (the
same containment guarantee the kNN ring round rests on,
operators/knn.py): the left side keys by its single level-L cell, the
right side explodes to its ring (<= 9 distinct cells), and the pair
search becomes a plain hash EQUI-join on the cell key followed by one
whole-stage-codegen exact-angle refine — no theta-join, no
BroadcastNestedLoopJoin, both sides scale out by cell key.  Total
cost: one 9x fan-out of the right side + one hash join, unhinted, so
two large sides hash-shuffle on the ring cell and a small one is
broadcast by Spark's own size rule; candidate count per left row is
bounded by the density of the 3x3 ring, not by corpus size.

For ``radius > MIN_WIDTH(0)`` (2*sqrt(2)/3 ~ 0.94 rad) no level
satisfies the
ring guarantee; such a query is effectively a cross join by its own
semantics, and the operator falls back to the literal crossJoin +
refine, loudly (documented in the returned plan).

Self-join convenience: ``self_radius_pairs`` dedups the symmetric
pair (a, b)/(b, a) and drops the trivial (a, a) via ``id_a < id_b``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sql_bitops import s2_parent
from ..functions.udfs import latlng_angle_cols, s2_cell_id, s2_ring_cells_udf
from ..s2core.metric import MIN_WIDTH


def join_key(col):
    """An engine-built cell equi-join key, made non-nullable.  A
    nullable key makes the optimizer infer ``isnotnull(key)`` for the
    join and push it below the projection that computes the key; when
    that projection evaluates a pandas UDF (the leaf encode), the pushed
    filter evaluates the UDF a second time in its own ArrowEvalPython
    node.  A non-nullable key carries the constraint already, so no
    filter is inferred.  The answer is unchanged: the encode never
    returns null, and a null caller cell id becomes 0, which is no
    valid cell id and so matches no ring cell, as a null key would."""
    return F.coalesce(col, F.lit(0).cast("long"))


def radius_join_level(radius_rad: float) -> int | None:
    """The finest level whose 3x3 ring provably covers a cap of
    ``radius_rad`` (min cell width >= radius), or None when even the
    face level is too small (radius > ~0.94 rad)."""
    if radius_rad <= 0:
        return 30
    level = MIN_WIDTH.get_max_level(float(radius_rad))
    if MIN_WIDTH.get_value(level) < float(radius_rad):
        return None
    return level


def within_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_rad: float,
    left_id: str = "a_id",
    right_id: str = "b_id",
) -> DataFrame:
    """All pairs with angle(left, right) <= radius_rad (closed bound,
    the reference's cap containment convention).  Inputs carry
    ``(id, lat, lon)`` with degree coordinates; output is
    ``(left_id, right_id, dist_rad)``."""
    if radius_rad < 0:
        raise ValueError(f"radius must be >= 0, got {radius_rad}")
    lvl = radius_join_level(radius_rad)

    l = left.select(
        F.col(left_id),
        F.col("lat").alias("_alat"),
        F.col("lon").alias("_alon"),
    )
    r = right.select(
        F.col(right_id),
        F.col("lat").alias("_blat"),
        F.col("lon").alias("_blon"),
    )
    dist = latlng_angle_cols(
        F.col("_alat"), F.col("_alon"), F.col("_blat"), F.col("_blon")
    ).alias("dist_rad")

    if lvl is None:
        # radius wider than a face cell: the ring guarantee cannot
        # hold at any level and the answer is cross-join-sized by its
        # own semantics — run the literal plan.
        return l.crossJoin(r).select(left_id, right_id, dist).where(
            F.col("dist_rad") <= F.lit(float(radius_rad))
        )

    lk = l.withColumn(
        "_cell",
        join_key(s2_parent(s2_cell_id(F.col("_alat"), F.col("_alon")), lvl)),
    )
    rk = r.withColumn(
        "_cell",
        F.explode(s2_ring_cells_udf(F.col("_blat"), F.col("_blon"), F.lit(lvl))),
    )
    # The ring on the left: should Spark broadcast on its own, it
    # builds from the one row per point.  It sizes the explode as its
    # input, so with the ring on the right it would build its hash
    # table from ~9 ring rows per point.
    return (
        rk.join(lk, "_cell")
        .select(left_id, right_id, dist)
        .where(F.col("dist_rad") <= F.lit(float(radius_rad)))
    )


def self_radius_pairs(
    points: DataFrame,
    radius_rad: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Unordered point pairs within ``radius_rad`` of each other:
    ``(id_a, id_b, dist_rad)`` with ``id_a < id_b`` (each pair once,
    no self-pairs)."""
    a = points.select(
        F.col(id_col).alias("id_a"), "lat", "lon"
    )
    b = points.select(
        F.col(id_col).alias("id_b"), "lat", "lon"
    )
    out = within_radius_join(a, b, radius_rad, left_id="id_a", right_id="id_b")
    return out.where(F.col("id_a") < F.col("id_b"))
