"""Arrow UDFs wrapping the s2core numpy kernels.

These are the S2 paths' JVM<->Python crossings; every kernel is
vectorized numpy over whole Arrow batches (no per-row Python, per
BASELINE.json input_hint).  Every S2 UDF is an Arrow UDF that reads and
writes raw Arrow buffers through ``s2core.arrow_io``, so a Python worker
running only S2 kernels never imports pandas (about 40 MB of RSS per
worker); the same eval type also lets S2 UDFs that sit together share
one ArrowEvalPython node.  The curation layer's text, dedup,
similarity, streaming and source UDFs stay pandas UDFs.  uint64 cell
ids are reinterpreted to int64 at the boundary (bit pattern, never
value conversion).  A null cell id gives a null row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
)

from ..s2core import arrow_io as aio
from ..s2core import cellid as cid
from ..s2core import geom
from ..s2core.cellid import distinct_rings
from .sql_bitops import sql_s2_token


@F.arrow_udf(LongType())
def s2_cell_id(lat: pa.Array, lng: pa.Array) -> pa.Array:
    """Leaf cell id from (lat, lng) degrees (S2CellId.php:99-106 chain).

    Limit: a null, NaN or infinite coordinate has no leaf cell, yet it
    encodes to the valid id ``0x4000000000000001`` (face 2's first
    leaf, at the cube corner 35.26N 45E), not to a null.  Filter such
    rows first where it matters; the engine's own lookups
    (``s2core.probe.finite_leaves``) give them no cell."""
    ids = cid.cell_id_from_latlng_degrees(
        aio.float64_values(lat), aio.float64_values(lng)
    )
    return aio.array(cid.to_signed(ids))


def _cell_ids(cell_id: pa.Array):
    """(uint64 ids, valid mask or None) of a signed cell-id column; a
    null reads as id 0 and is masked."""
    return cid.from_signed(aio.int64_values(cell_id)), aio.valid_mask(cell_id)


@F.arrow_udf(DoubleType())
def s2_cell_center_lat(cell_id: pa.Array) -> pa.Array:
    ids, valid = _cell_ids(cell_id)
    lat, _ = cid.cell_id_to_center_latlng(ids)
    return aio.array(np.degrees(lat), valid)


@F.arrow_udf(DoubleType())
def s2_cell_center_lng(cell_id: pa.Array) -> pa.Array:
    ids, valid = _cell_ids(cell_id)
    _, lng = cid.cell_id_to_center_latlng(ids)
    return aio.array(np.degrees(lng), valid)


def _ring_list_array(ids: np.ndarray, with_center: bool, valid=None) -> pa.Array:
    values, offsets = distinct_rings(ids, with_center)
    return aio.list_array(offsets, aio.array(values), valid)


@F.arrow_udf(ArrayType(LongType()))
def s2_all_neighbors_udf(cell_id: pa.Array) -> pa.Array:
    """Same-level 8-ring (kNN ring expansion / union buffering): the
    sorted distinct neighbors, the cell itself excluded; null in, null
    out."""
    ids, valid = _cell_ids(cell_id)
    return _ring_list_array(ids, False, valid)


@F.arrow_udf(ArrayType(LongType()))
def s2_ring_cells_udf(lat: pa.Array, lng: pa.Array, level: pa.Array) -> pa.Array:
    """Point (degrees) -> its level-``level`` cell -> that cell's
    sorted distinct 3x3 ring, the cell included: the probe ring of the
    radius join in one Arrow crossing (encode, parent and ring fused).
    ``level`` is a constant column."""
    lv = int(level[0].as_py()) if len(level) else 0
    leaf = cid.cell_id_from_latlng_degrees(
        aio.float64_values(lat), aio.float64_values(lng)
    )
    return _ring_list_array(cid.parent(leaf, lv), True)


def _fixed_lists(rows: np.ndarray, valid) -> pa.Array:
    """A list array of the rows of a 2-D int64 or float64 array."""
    n, width = rows.shape
    offsets = np.arange(0, n * width + 1, width)
    return aio.list_array(offsets, aio.array(rows.reshape(-1)), valid)


@F.arrow_udf(ArrayType(LongType()))
def s2_edge_neighbors_udf(cell_id: pa.Array) -> pa.Array:
    ids, valid = _cell_ids(cell_id)
    return _fixed_lists(cid.to_signed(cid.edge_neighbors(ids)), valid)


@F.arrow_udf(ArrayType(DoubleType()))
def s2_cell_vertices_udf(cell_id: pa.Array) -> pa.Array:
    """Tile polygon: [lat0,lng0,...,lat3,lng3] degrees, CCW
    (SW,SE,NE,NW; S2Cell.php:126-138) — the vector side of the
    raster<->vector tile materialization."""
    from ..s2core.cell import cell_vertices_latlng

    ids, valid = _cell_ids(cell_id)
    verts = cell_vertices_latlng(ids)  # (n, 4, 2)
    return _fixed_lists(verts.reshape(len(ids), 8), valid)


@F.arrow_udf(DoubleType())
def s2_distance_rad(
    lat1: pa.Array, lng1: pa.Array, lat2: pa.Array, lng2: pa.Array
) -> pa.Array:
    """Exact sphere angle between two latlng-degree points — the
    stable atan2 form (S2Point.php:110-112), not haversine.  A null
    coordinate gives NaN."""
    p1 = geom.latlng_to_xyz(
        np.radians(aio.float64_values(lat1)), np.radians(aio.float64_values(lng1))
    )
    p2 = geom.latlng_to_xyz(
        np.radians(aio.float64_values(lat2)), np.radians(aio.float64_values(lng2))
    )
    return aio.array(geom.angle_between(p1, p2))


@F.arrow_udf(ArrayType(LongType()))
def s2_vertex_neighbors_udf(cell_id: pa.Array, level: pa.Array) -> pa.Array:
    """3-4 neighbors at ``level`` sharing the cell's closest vertex
    (S2CellId.php:601-639).  Scalar kernel per row — used on small
    cell tables (coverer seeding, neighborhood inspection), not on
    corpus-sized inputs."""
    ids, valid = _cell_ids(cell_id)
    lv = aio.int64_values(level)
    rows = [
        [] if valid is not None and not valid[k]
        else cid.vertex_neighbors(int(ids[k]), int(lv[k]))
        for k in range(len(ids))
    ]
    offsets = np.cumsum([0] + [len(r) for r in rows])
    values = cid.to_signed(np.array([n for r in rows for n in r], dtype=np.uint64))
    return aio.list_array(offsets, aio.array(values), valid)


# --- native sphere columns (one definition for every operator) ----------------------
def xyz_cols(prefix: str) -> list:
    """The ``{prefix}x``/``y``/``z`` columns of a stored unit vector."""
    return [F.col(f"{prefix}{c}") for c in "xyz"]


def unit_vector_cols(lat_r, lng_r) -> list:
    """Unit vector of radian latlng columns (S2LatLng.php:138-143)."""
    return [F.cos(lng_r) * F.cos(lat_r), F.sin(lng_r) * F.cos(lat_r), F.sin(lat_r)]


def dot3(u, v):
    return u[0] * v[0] + u[1] * v[1] + u[2] * v[2]


def cross3(u, v) -> list:
    return [
        u[1] * v[2] - u[2] * v[1],
        u[2] * v[0] - u[0] * v[2],
        u[0] * v[1] - u[1] * v[0],
    ]


def norm3(u):
    return F.sqrt(dot3(u, u))


def angle3(u, v):
    """Exact angle ``atan2(|u x v|, u.v)`` between two vectors — the
    stable small-angle form of S2Point.angle (S2Point.php:110-112)."""
    return F.atan2(norm3(cross3(u, v)), dot3(u, v))


def latlng_angle_cols(plat, plon, qlat, qlon):
    """Exact great-circle angle between two latlng-DEGREE column pairs."""
    return angle3(
        unit_vector_cols(F.radians(plat), F.radians(plon)),
        unit_vector_cols(F.radians(qlat), F.radians(qlon)),
    )


# --- region-predicate native columns (SURVEY §2.11 API surface) ---------------------
def s2_cap_contains_cols(lat, lon, axis_lat_deg, axis_lng_deg, angle_rad):
    """Native-SQL cap containment (S2Cap.php:225-228 chord test,
    closed semantics): ||p - axis||^2 <= 2*(1 - cos(angle)).  All
    trig stays inside whole-stage codegen — the column twin of
    Cap.contains_points."""
    import math

    ax = math.cos(math.radians(axis_lng_deg)) * math.cos(math.radians(axis_lat_deg))
    ay = math.sin(math.radians(axis_lng_deg)) * math.cos(math.radians(axis_lat_deg))
    az = math.sin(math.radians(axis_lat_deg))
    h = 1.0 - math.cos(angle_rad)
    px, py, pz = unit_vector_cols(F.radians(lat), F.radians(lon))
    dx, dy, dz = px - F.lit(ax), py - F.lit(ay), pz - F.lit(az)
    return (dx * dx + dy * dy + dz * dz) <= F.lit(2.0 * h)


def s2_rect_contains_cols(lat, lon, lat_lo, lat_hi, lng_lo, lng_hi):
    """Native-SQL rect containment with the S1Interval conventions:
    degrees in, inverted (wrapping) lng intervals supported, lon=-180
    remapped to +180 (S2LatLngRect.php:320-336)."""
    lat_r = F.radians(lat)
    lon_n = F.radians(
        F.when(lon == F.lit(-180.0), F.lit(180.0)).otherwise(lon)
    )
    lat_ok = (lat_r >= F.lit(lat_lo)) & (lat_r <= F.lit(lat_hi))
    if lng_lo > lng_hi:  # inverted interval wraps the antimeridian
        lng_ok = (lon_n >= F.lit(lng_lo)) | (lon_n <= F.lit(lng_hi))
    else:
        lng_ok = (lon_n >= F.lit(lng_lo)) & (lon_n <= F.lit(lng_hi))
    return lat_ok & lng_ok


def register_sql_functions(spark) -> None:
    """Register the §2.11 public API under SQL names so `spark.sql`
    users get the same surface as the DataFrame API.  The token codec
    is SQL-bodied (native expressions, no Python crossing): the token
    text is ``sql_bitops.sql_s2_token``, and a token that is not 1-16
    hex digits (``'X'``, garbage, null) decodes to 0 like
    ``cellid.id_from_token``."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION s2_token(cell_id BIGINT) "
        f"RETURNS STRING RETURN {sql_s2_token('cell_id')}"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION s2_id_from_token(token STRING) "
        "RETURNS BIGINT RETURN CASE WHEN token RLIKE '^[0-9a-fA-F]{1,16}$' "
        "THEN CAST(conv(rpad(token, 16, '0'), 16, -10) AS BIGINT) ELSE 0 END"
    )
    spark.udf.register("s2_cell_id", s2_cell_id)
    spark.udf.register("s2_cell_center_lat", s2_cell_center_lat)
    spark.udf.register("s2_cell_center_lng", s2_cell_center_lng)
    spark.udf.register("s2_edge_neighbors", s2_edge_neighbors_udf)
    spark.udf.register("s2_all_neighbors", s2_all_neighbors_udf)
    spark.udf.register("s2_vertex_neighbors", s2_vertex_neighbors_udf)
    spark.udf.register("s2_cell_vertices", s2_cell_vertices_udf)
    spark.udf.register("s2_distance", s2_distance_rad)
