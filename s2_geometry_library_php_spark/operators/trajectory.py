"""Trajectory analytics over event streams: per-entity ordered point
sequences -> geodesic path statistics and compressed tile paths.

The reference library has no trajectory surface (it is a geometry
kernel); these are the standard GPS/movement analytics a geospatial
engine serves over an events table, built entirely from the repo's
existing primitives: the exact great-circle angle (`S2Point.angle`,
reference S2Point.php:110-112 — ``atan2(|a x b|, a.b)``) expressed
as NATIVE Spark SQL so the whole per-step computation stays inside
WholeStageCodegen, and the S2 tile assignment (`s2_parent`) for
path compression.

Scale shape (the 100 TB story):

* ONE shuffle — the window ``partitionBy(entity) orderBy(ts, ...)``;
  every per-step quantity (lag, unit-vector chord, angle) is a
  narrow projection over it, and the final stats are a
  partial-aggregating ``groupBy(entity)`` that reuses the window's
  hash partitioning (no second exchange);
* no Python anywhere — sin/cos/atan2 are JVM intrinsics inside
  codegen;
* skewed entities (one user with millions of points) are a SORT
  skew, not a join skew — AQE's skew handling does not split
  windows, so the documented mitigation at extreme scale is
  time-bucketing the window key (``(user, month)``) and stitching
  boundary steps, the standard trajectory-warehouse layout.

Determinism: ties in ``ts`` are broken by the extra ``order_cols``
(callers should pass a unique column, e.g. the event id) so path
order — and therefore every stat — is a pure function of the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sql_bitops import s2_parent
from ..functions.udfs import angle3, unit_vector_cols, xyz_cols


def trajectory_stats(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-entity geodesic path statistics.

    Output (one row per entity): ``n_points``, ``path_rad`` (sum of
    consecutive great-circle steps), ``max_step_rad``, ``net_rad``
    (start->end displacement), ``sinuosity`` (path/net; null when the
    path closes on itself or has <2 points), ``t_start``, ``t_end``.
    """
    ax, ay, az = unit_vector_cols(F.radians(lat_col), F.radians(lon_col))
    pt = events.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("_ts"),
        *[F.col(c) for c in order_cols],
        ax.alias("_x"), ay.alias("_y"), az.alias("_z"),
    )
    w2 = Window.partitionBy("entity").orderBy("_ts", *order_cols)
    step = angle3([F.lag(c).over(w2) for c in xyz_cols("_")], xyz_cols("_"))
    stepped = pt.withColumn("_step", step)
    endpoint_key = ("_ts", *order_cols, "_x", "_y", "_z")
    # endpoints via min/max(struct) in the path order (_ts, *order_cols),
    # the xyz fields a last deterministic tiebreak (coincident keys pick
    # the lexicographically extreme point — a pure function of input)
    agg = (
        stepped.groupBy("entity")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.coalesce(F.sum("_step"), F.lit(0.0)).alias("path_rad"),
            F.coalesce(F.max("_step"), F.lit(0.0)).alias(
                "max_step_rad"
            ),
            F.min("_ts").alias("t_start"),
            F.max("_ts").alias("t_end"),
            F.min(F.struct(*endpoint_key)).alias("_first"),
            F.max(F.struct(*endpoint_key)).alias("_last"),
        )
    )
    net = angle3(xyz_cols("_first._"), xyz_cols("_last._"))
    return (
        agg.withColumn("net_rad", net)
        .withColumn(
            "sinuosity",
            F.when(
                (F.col("n_points") >= 2) & (F.col("net_rad") > 0),
                F.col("path_rad") / F.col("net_rad"),
            ),
        )
        .drop("_first", "_last")
    )


def trajectory_tile_path(
    events: DataFrame,
    level: int,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    cell_col: str = "cell_id",
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Compressed tile path per entity: consecutive points in the
    same level-``level`` tile collapse to one step.  Output:
    ``(entity, n_points, n_tile_steps, n_distinct_tiles)`` where
    ``n_tile_steps`` is the length of the run-length-compressed tile
    sequence — the trajectory's tile-resolution complexity."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, *order_cols)
    tile = s2_parent(F.col(cell_col), level)
    t = events.select(
        F.col(entity_col).alias("entity"),
        tile.alias("_tile"),
        (tile != F.coalesce(F.lag(tile).over(w), tile - 1))
        .cast("int")
        .alias("_new_run"),
    )
    return t.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("_new_run").alias("n_tile_steps"),
        F.countDistinct("_tile").alias("n_distinct_tiles"),
    )
