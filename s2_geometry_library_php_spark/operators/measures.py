"""Region area + true centroid, Spark-native (SURVEY.md §2.4 surface).

The reference computes loop area/centroid as a fan of signed spherical
triangles from a displaced origin (``S2Loop::getAreaCentroid``,
S2Loop.php:258-319) with ``S2::signedArea`` (l'Huilier stable area x
robustCCW sign, S2.php:276-367) and ``S2::trueCentroid``
(S2.php:429-450).  Both are closed-form in the triangle's xyz
coordinates, so the WHOLE computation lowers to native columns:

  fan-triangle rows (region_id, loop_sign, a, b, c as 9 doubles)
    -> per-row l'Huilier area, determinant sign, trueCentroid xyz
    -> groupBy(region_id): sum everything (centroids add linearly —
       the defining property of the true centroid)

No Python in the per-triangle math; one partial-aggregated shuffle on
region_id.  At 100 TB the fan rows come from the data side (e.g.
tile-clipped loops); here they come from the fixture table.  Caps and
rects use their closed forms (cap area 2*pi*h; rect area
lng_len * (sin lat_hi - sin lat_lo)) in the same native-SQL style.

The oracle is the kernel twin: ``geom.loop_area_centroid`` (l'Huilier
+ Girard tiering, robustCCW sign) — a genuinely different numeric
path, agreeing at the rounded output precision.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import angle3, cross3, dot3, norm3, xyz_cols
from ..plans.session import local_relation

FAN_SCHEMA = (
    "region_id long, loop_idx int, loop_sign double, "
    "ax double, ay double, az double, "
    "bx double, by double, bz double, "
    "cx double, cy double, cz double"
)
PARAM_SCHEMA = "region_id long, area double"

AREA_ROUND = 9
CENTROID_ROUND = 6


def _loop_fan_rows(
    region_id: int, loop_idx: int, sign: float, vertices: np.ndarray
) -> list:
    """Fan triangles (origin, v[i], v[i+1]) with the canonical
    displaced origin (S2Loop.php:258-319).  ``loop_idx`` keys the
    per-loop aggregation group so the 'fan sum < 0 -> +4pi' fixup can
    be applied per loop before loops merge into the region sum."""
    from ..s2core import geom

    origin = vertices[0].copy()
    axis = (int(geom.largest_abs_component(origin[None, :])[0]) + 1) % 3
    origin[axis] += math.e * 1e-10
    origin = origin / geom.norm(origin)
    rows = []
    m = len(vertices)
    for i in range(m):
        a = origin
        b = vertices[i]
        c = vertices[(i + 1) % m]
        rows.append(
            (
                region_id,
                int(loop_idx),
                float(sign),
                *[float(x) for x in a],
                *[float(x) for x in b],
                *[float(x) for x in c],
            )
        )
    return rows


def region_measure_frames(
    spark: SparkSession, region_specs: list[dict]
) -> tuple[DataFrame, DataFrame]:
    """(fan_triangles, closed_form_areas): loop/polygon regions explode
    into fan-triangle rows with nesting-depth signs; caps and rects
    compute their closed-form area driver-side (they are pure
    parameters, not geometry rows)."""
    from ..s2core.region import polygon_loop_depths, region_from_params

    fan_rows: list = []
    param_rows: list = []
    for spec in region_specs:
        rid = int(spec["region_id"])
        reg = region_from_params(
            spec["kind"], spec["params"], spec.get("loop_offsets")
        )
        if spec["kind"] == "cap":
            # area = 2*pi*height (S2Cap documented area semantics)
            angle = float(spec["params"][2])
            param_rows.append((rid, 2.0 * math.pi * (1.0 - math.cos(angle))))
        elif spec["kind"] == "rect":
            lat_lo, lat_hi, lng_lo, lng_hi = (float(p) for p in spec["params"])
            lng_len = lng_hi - lng_lo
            if lng_len < 0:
                lng_len += 2.0 * math.pi
            param_rows.append(
                (rid, lng_len * (math.sin(lat_hi) - math.sin(lat_lo)))
            )
        elif spec["kind"] == "loop":
            fan_rows.extend(_loop_fan_rows(rid, 0, 1.0, reg.vertices))
        elif spec["kind"] == "polygon":
            depths = polygon_loop_depths(reg.loops)
            for li, (lp, d) in enumerate(zip(reg.loops, depths)):
                fan_rows.extend(
                    _loop_fan_rows(
                        rid, li, 1.0 if d % 2 == 0 else -1.0, lp.vertices
                    )
                )
    return (
        local_relation(spark, fan_rows, FAN_SCHEMA),
        local_relation(spark, param_rows, PARAM_SCHEMA),
    )


def triangle_measure_cols():
    """(signed_area, centroid x/y/z) native columns over FAN_SCHEMA.

    Area: l'Huilier (stable for the small fan triangles this feeds);
    sign: determinant sign (fan triangles from the displaced origin
    are never in the robustCCW uncertainty band for real loops).
    Centroid: trueCentroid, premultiplied by signed area by
    construction (S2.php:429-450)."""
    a, b, c = xyz_cols("a"), xyz_cols("b"), xyz_cols("c")
    sa = angle3(b, c)
    sb = angle3(c, a)
    sc = angle3(a, b)
    s = F.lit(0.5) * (sa + sb + sc)
    area = F.lit(4.0) * F.atan(
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.tan(F.lit(0.5) * s)
                * F.tan(F.lit(0.5) * (s - sa))
                * F.tan(F.lit(0.5) * (s - sb))
                * F.tan(F.lit(0.5) * (s - sc)),
            )
        )
    )
    det = dot3(cross3(a, b), c)
    signed_area = F.signum(det) * area
    # trueCentroid: rX = asin(sinX)/sinX per opposite edge
    sina = norm3(cross3(b, c))
    sinb = norm3(cross3(c, a))
    sinc = norm3(cross3(a, b))
    ra = F.when(sina == 0, F.lit(1.0)).otherwise(
        F.asin(F.least(F.lit(1.0), sina)) / sina
    )
    rb = F.when(sinb == 0, F.lit(1.0)).otherwise(
        F.asin(F.least(F.lit(1.0), sinb)) / sinb
    )
    rc = F.when(sinc == 0, F.lit(1.0)).otherwise(
        F.asin(F.least(F.lit(1.0), sinc)) / sinc
    )
    x = [a[0], b[0], c[0]]
    y = [a[1], b[1], c[1]]
    z = [a[2], b[2], c[2]]
    r = [ra, rb, rc]
    cen = [
        F.lit(0.5) * dot3(cross3(y, z), r),
        F.lit(0.5) * dot3(cross3(z, x), r),
        F.lit(0.5) * dot3(cross3(x, y), r),
    ]
    return signed_area, cen


def region_measures(
    spark: SparkSession, region_specs: list[dict]
) -> DataFrame:
    """(region_id, area_sr, centroid_lat, centroid_lon): interior area
    in steradians for every region kind; true-centroid direction for
    loop/polygon regions (NULL for cap/rect — the reference exposes
    getAreaCentroid on loops/polygons only)."""
    fan, closed = region_measure_frames(spark, region_specs)
    signed_area, cen = triangle_measure_cols()
    per_tri = fan.select(
        "region_id",
        "loop_idx",
        "loop_sign",
        signed_area.alias("_sa"),
        cen[0].alias("_cx"),
        cen[1].alias("_cy"),
        cen[2].alias("_cz"),
    )
    # Stage 1: per-LOOP fan sums, then the reference's 'areaSum < 0 ->
    # += 4pi' fixup (S2Loop.php:258-319) — a valid but non-normalized
    # loop (encloses more than half the sphere) fans to a negative raw
    # sum and must be corrected BEFORE loops merge into the region sum.
    # The centroid needs no fix (position integrates to zero over the
    # full sphere).  Stage 2: region sum of sign * fixed loop areas.
    per_loop = per_tri.groupBy("region_id", "loop_idx", "loop_sign").agg(
        F.sum("_sa").alias("_la"),
        F.sum("_cx").alias("_lx"),
        F.sum("_cy").alias("_ly"),
        F.sum("_cz").alias("_lz"),
    )
    fixed = F.col("_la") + F.when(
        F.col("_la") < 0, F.lit(4.0 * math.pi)
    ).otherwise(F.lit(0.0))
    agg = per_loop.groupBy("region_id").agg(
        F.sum(F.col("loop_sign") * fixed).alias("_area"),
        F.sum(F.col("loop_sign") * F.col("_lx")).alias("_x"),
        F.sum(F.col("loop_sign") * F.col("_ly")).alias("_y"),
        F.sum(F.col("loop_sign") * F.col("_lz")).alias("_z"),
    )
    loops_out = agg.select(
        "region_id",
        F.round("_area", AREA_ROUND).alias("area_sr"),
        F.round(
            F.degrees(F.atan2(F.col("_z"), F.hypot(F.col("_x"), F.col("_y")))),
            CENTROID_ROUND,
        ).alias("centroid_lat"),
        F.round(
            F.degrees(F.atan2(F.col("_y"), F.col("_x"))), CENTROID_ROUND
        ).alias("centroid_lon"),
    )
    closed_out = closed.select(
        "region_id",
        F.round("area", AREA_ROUND).alias("area_sr"),
        F.lit(None).cast("double").alias("centroid_lat"),
        F.lit(None).cast("double").alias("centroid_lon"),
    )
    return loops_out.unionByName(closed_out)


def region_measures_numpy(region_specs: list[dict]) -> list[tuple]:
    """Kernel-twin oracle: geom.loop_area_centroid (l'Huilier+Girard
    tiering, robustCCW signs) + the same closed forms."""
    from ..s2core import geom
    from ..s2core.region import polygon_loop_depths, region_from_params

    rows = []
    for spec in region_specs:
        rid = int(spec["region_id"])
        reg = region_from_params(
            spec["kind"], spec["params"], spec.get("loop_offsets")
        )
        if spec["kind"] == "cap":
            angle = float(spec["params"][2])
            rows.append(
                (rid, round(2.0 * math.pi * (1.0 - math.cos(angle)), AREA_ROUND),
                 None, None)
            )
        elif spec["kind"] == "rect":
            lat_lo, lat_hi, lng_lo, lng_hi = (float(p) for p in spec["params"])
            lng_len = lng_hi - lng_lo
            if lng_len < 0:
                lng_len += 2.0 * math.pi
            rows.append(
                (rid,
                 round(lng_len * (math.sin(lat_hi) - math.sin(lat_lo)),
                       AREA_ROUND),
                 None, None)
            )
        else:
            loops = (
                [(reg, 1)]
                if spec["kind"] == "loop"
                else [
                    (lp, 1 if d % 2 == 0 else -1)
                    for lp, d in zip(
                        reg.loops, polygon_loop_depths(reg.loops)
                    )
                ]
            )
            area = 0.0
            cen = np.zeros(3)
            for lp, sign in loops:
                la, lc = geom.loop_area_centroid(lp.vertices)
                area += sign * la
                cen += sign * lc
            lat = math.degrees(math.atan2(cen[2], math.hypot(cen[0], cen[1])))
            lon = math.degrees(math.atan2(cen[1], cen[0]))
            rows.append(
                (rid, round(area, AREA_ROUND),
                 round(lat, CENTROID_ROUND), round(lon, CENTROID_ROUND))
            )
    return rows


# --- tile-clipped region measures ---------------------------------------------------
def tile_clipped_fan_frame(
    spark: SparkSession, region_spec: dict, level: int
) -> DataFrame:
    """Fan-triangle rows for REGION ∩ TILE at every fixed-``level``
    covering tile of a loop/polygon region — the "area of each
    tile-clipped region" surface.

    Driver side does the dimension work (covering enumeration + the
    reference's clip/assembly per tile — regions and their coverings
    are broadcast-scale); the AREA math runs distributed through the
    same native-SQL triangle fan as :func:`region_measures`.  Three
    clip cases per tile:

    * boundary pieces exist -> clipped polygon loops,
    * tile wholly inside the region (interior covering cells) -> the
      tile quad itself,
    * region wholly inside the tile -> the region's own loops.

    Because fixed-level tiles partition the sphere, the per-tile
    clipped areas SUM to the region area exactly — the conservation
    invariant the pytest asserts.
    """
    from ..s2core import cellid as cid_mod
    from ..s2core import geom
    from ..s2core.cell import Cell
    from ..s2core.coverer import simple_covering
    from ..s2core.polygon_ops import polygon_intersection
    from ..s2core.region import (
        LoopRegion,
        PolygonRegion,
        polygon_loop_depths,
        region_from_params,
    )

    reg = region_from_params(
        region_spec["kind"],
        region_spec["params"],
        region_spec.get("loop_offsets"),
    )
    loops = [reg] if region_spec["kind"] == "loop" else reg.loops
    reg_poly = reg if isinstance(reg, PolygonRegion) else PolygonRegion([reg])
    # one flood-fill seed PER LOOP: disjoint shells are separate
    # connected components the fill cannot hop between
    cells_set: set = set()
    for lp in loops:
        v0 = lp.vertices[0]
        seed = int(
            cid_mod.cell_id_from_point(
                np.asarray(v0[0]), np.asarray(v0[1]), np.asarray(v0[2])
            )
        )
        cells_set.update(simple_covering(reg, seed, level))
    cells = sorted(cells_set)
    rows: list = []
    toks = cid_mod.token_from_id(np.asarray(cells, dtype=np.uint64))
    for cell_id, tok in zip(cells, toks):
        cell = Cell(cell_id)
        tile_loop = LoopRegion.from_xyz(np.asarray(cell.get_vertices()))
        tile_poly = PolygonRegion([tile_loop])
        clipped = polygon_intersection(reg_poly, tile_poly)
        if clipped.loops:
            depths = polygon_loop_depths(clipped.loops)
            for lp, d in zip(clipped.loops, depths):
                rows.extend(
                    _tile_fan_rows(tok, 1.0 if d % 2 == 0 else -1.0, lp.vertices)
                )
        elif reg.contains_cell(cell):
            rows.extend(_tile_fan_rows(tok, 1.0, tile_loop.vertices))
        elif bool(
            tile_loop.contains_points(
                np.vstack([lp.vertices for lp in loops])
            ).all()
        ):
            depths = polygon_loop_depths(loops) if len(loops) > 1 else [0]
            for lp, d in zip(loops, depths):
                rows.extend(
                    _tile_fan_rows(tok, 1.0 if d % 2 == 0 else -1.0, lp.vertices)
                )
        # else: may_intersect false positive -> zero contribution
        _ = geom
    return local_relation(spark, rows, TILE_FAN_SCHEMA)


TILE_FAN_SCHEMA = (
    "tile_token string, loop_sign double, "
    "ax double, ay double, az double, "
    "bx double, by double, bz double, "
    "cx double, cy double, cz double"
)


def _tile_fan_rows(tok: str, sign: float, vertices: np.ndarray) -> list:
    # tile-clipped loops are sub-tile sized, never > half the sphere,
    # so the per-loop +4pi fixup is structurally a no-op here and the
    # loop_idx column is dropped.
    base = _loop_fan_rows(0, 0, sign, vertices)
    return [(tok, *r[2:]) for r in base]


def tile_clipped_measures(
    spark: SparkSession, region_spec: dict, level: int
) -> DataFrame:
    """(tile_token, area_sr): interior area of region ∩ tile per
    fixed-level covering tile, computed by the native-SQL fan."""
    fan = tile_clipped_fan_frame(spark, region_spec, level)
    signed_area, _cen = triangle_measure_cols()
    return (
        fan.select(
            "tile_token", (F.col("loop_sign") * signed_area).alias("_sa")
        )
        .groupBy("tile_token")
        .agg(F.round(F.sum("_sa"), AREA_ROUND).alias("area_sr"))
        .where(F.col("area_sr") > 0.0)
    )


def tile_clipped_measures_numpy(
    region_spec: dict, level: int
) -> list[tuple]:
    """Kernel twin: same clip enumeration, areas via
    geom.loop_area_centroid (Girard-tiered, robust signs)."""
    from ..s2core import cellid as cid_mod
    from ..s2core import geom
    from ..s2core.cell import Cell
    from ..s2core.coverer import simple_covering
    from ..s2core.polygon_ops import polygon_intersection
    from ..s2core.region import (
        LoopRegion,
        PolygonRegion,
        polygon_loop_depths,
        region_from_params,
    )

    reg = region_from_params(
        region_spec["kind"],
        region_spec["params"],
        region_spec.get("loop_offsets"),
    )
    loops = [reg] if region_spec["kind"] == "loop" else reg.loops
    reg_poly = reg if isinstance(reg, PolygonRegion) else PolygonRegion([reg])
    # one flood-fill seed PER LOOP: disjoint shells are separate
    # connected components the fill cannot hop between
    cells_set: set = set()
    for lp in loops:
        v0 = lp.vertices[0]
        seed = int(
            cid_mod.cell_id_from_point(
                np.asarray(v0[0]), np.asarray(v0[1]), np.asarray(v0[2])
            )
        )
        cells_set.update(simple_covering(reg, seed, level))
    cells = sorted(cells_set)
    toks = cid_mod.token_from_id(np.asarray(cells, dtype=np.uint64))
    out = []
    for cell_id, tok in zip(cells, toks):
        cell = Cell(cell_id)
        tile_loop = LoopRegion.from_xyz(np.asarray(cell.get_vertices()))
        tile_poly = PolygonRegion([tile_loop])
        clipped = polygon_intersection(reg_poly, tile_poly)
        area = 0.0
        if clipped.loops:
            depths = polygon_loop_depths(clipped.loops)
            for lp, d in zip(clipped.loops, depths):
                la, _ = geom.loop_area_centroid(lp.vertices)
                area += la if d % 2 == 0 else -la
        elif reg.contains_cell(cell):
            la, _ = geom.loop_area_centroid(tile_loop.vertices)
            area = la
        elif bool(
            tile_loop.contains_points(
                np.vstack([lp.vertices for lp in loops])
            ).all()
        ):
            depths = polygon_loop_depths(loops) if len(loops) > 1 else [0]
            for lp, d in zip(loops, depths):
                la, _ = geom.loop_area_centroid(lp.vertices)
                area += la if d % 2 == 0 else -la
        area = round(area, AREA_ROUND)
        if area > 0.0:
            out.append((tok, area))
    return out
