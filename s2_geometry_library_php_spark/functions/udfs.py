"""Arrow-batched pandas and arrow UDFs wrapping the s2core numpy kernels.

These are the only JVM<->Python crossings in the engine; every kernel
is vectorized numpy over whole Arrow batches (no per-row Python, per
BASELINE.json input_hint).  Array-valued ring kernels are arrow UDFs
that build their ``ListArray`` from offsets: a pandas UDF would have to
return one Python list per row.  uint64 cell ids are reinterpreted to
int64 at the boundary (bit pattern, never value conversion).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
)

from ..s2core import cellid as cid
from ..s2core import geom
from .sql_bitops import sql_s2_token


@F.pandas_udf(LongType())
def s2_cell_id(lat: pd.Series, lng: pd.Series) -> pd.Series:
    """Leaf cell id from (lat, lng) degrees (S2CellId.php:99-106 chain).

    Limit: a null, NaN or infinite coordinate has no leaf cell, yet it
    encodes to the valid id ``0x4000000000000001`` (face 2's first
    leaf, at the cube corner 35.26N 45E), not to a null.  Filter such
    rows first where it matters; the engine's own lookups
    (``s2core.probe.finite_leaves``) give them no cell."""
    ids = cid.cell_id_from_latlng_degrees(
        lat.to_numpy(np.float64), lng.to_numpy(np.float64)
    )
    return pd.Series(cid.to_signed(ids))


@F.pandas_udf(DoubleType())
def s2_cell_center_lat(cell_id: pd.Series) -> pd.Series:
    ids = cid.from_signed(cell_id.to_numpy(np.int64))
    lat, _ = cid.cell_id_to_center_latlng(ids)
    return pd.Series(np.degrees(lat))


@F.pandas_udf(DoubleType())
def s2_cell_center_lng(cell_id: pd.Series) -> pd.Series:
    ids = cid.from_signed(cell_id.to_numpy(np.int64))
    _, lng = cid.cell_id_to_center_latlng(ids)
    return pd.Series(np.degrees(lng))


def distinct_rings(
    ids: np.ndarray, with_center: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Each cell's same-level 3x3 neighborhood as sorted distinct
    signed ids, flattened: cell ``i``'s ring is
    ``values[offsets[i]:offsets[i + 1]]``.  ``with_center`` adds the
    cell itself (the kNN / radius-join candidate ring); without it the
    ring is the 8-neighborhood of ``s2_all_neighbors``.  Cube-corner
    cells have fewer distinct neighbors, which the row-wise sort +
    adjacent-difference dedupe drops with no per-row Python."""
    ids = np.asarray(ids, dtype=np.uint64)
    ring = cid.to_signed(cid.all_neighbors(ids))
    if with_center:
        ring = np.concatenate([cid.to_signed(ids)[:, None], ring], axis=1)
    ring.sort(axis=1)
    keep = np.ones(ring.shape, dtype=bool)
    np.not_equal(ring[:, 1:], ring[:, :-1], out=keep[:, 1:])
    offsets = np.zeros(len(ring) + 1, dtype=np.int32)
    np.cumsum(keep.sum(axis=1), out=offsets[1:])
    return ring[keep], offsets


def _ring_list_array(ids: np.ndarray, with_center: bool, mask=None) -> pa.Array:
    values, offsets = distinct_rings(ids, with_center)
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values), mask=mask
    )


@F.arrow_udf(ArrayType(LongType()))
def s2_all_neighbors_udf(cell_id: pa.Array) -> pa.Array:
    """Same-level 8-ring (kNN ring expansion / union buffering): the
    sorted distinct neighbors, the cell itself excluded; null in, null
    out."""
    ids = cid.from_signed(cell_id.fill_null(0).to_numpy())
    mask = cell_id.is_null() if cell_id.null_count else None
    return _ring_list_array(ids, False, mask)


@F.arrow_udf(ArrayType(LongType()))
def s2_ring_cells_udf(lat: pa.Array, lng: pa.Array, level: pa.Array) -> pa.Array:
    """Point (degrees) -> its level-``level`` cell -> that cell's
    sorted distinct 3x3 ring, the cell included: the probe ring of the
    radius join in one Arrow crossing (encode, parent and ring fused).
    ``level`` is a constant column."""
    lv = int(level[0].as_py()) if len(level) else 0
    leaf = cid.cell_id_from_latlng_degrees(
        lat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False),
        lng.to_numpy(zero_copy_only=False).astype(np.float64, copy=False),
    )
    return _ring_list_array(cid.parent(leaf, lv), True)


@F.pandas_udf(ArrayType(LongType()))
def s2_edge_neighbors_udf(cell_id: pd.Series) -> pd.Series:
    ids = cid.from_signed(cell_id.to_numpy(np.int64))
    if len(ids) == 0:
        return pd.Series([], dtype=object)
    ring = cid.to_signed(cid.edge_neighbors(ids))
    return pd.Series([row.tolist() for row in ring])


@F.pandas_udf(ArrayType(DoubleType()))
def s2_cell_vertices_udf(cell_id: pd.Series) -> pd.Series:
    """Tile polygon: [lat0,lng0,...,lat3,lng3] degrees, CCW
    (SW,SE,NE,NW; S2Cell.php:126-138) — the vector side of the
    raster<->vector tile materialization."""
    from ..s2core.cell import cell_vertices_latlng

    ids = cid.from_signed(cell_id.to_numpy(np.int64))
    if len(ids) == 0:
        return pd.Series([], dtype=object)
    verts = cell_vertices_latlng(ids)  # (n, 4, 2)
    flat = verts.reshape(len(ids), 8)
    return pd.Series([row.tolist() for row in flat])


@F.pandas_udf(DoubleType())
def s2_distance_rad(
    lat1: pd.Series, lng1: pd.Series, lat2: pd.Series, lng2: pd.Series
) -> pd.Series:
    """Exact sphere angle between two latlng-degree points — the
    stable atan2 form (S2Point.php:110-112), not haversine."""
    p1 = geom.latlng_to_xyz(
        np.radians(lat1.to_numpy(np.float64)), np.radians(lng1.to_numpy(np.float64))
    )
    p2 = geom.latlng_to_xyz(
        np.radians(lat2.to_numpy(np.float64)), np.radians(lng2.to_numpy(np.float64))
    )
    return pd.Series(geom.angle_between(p1, p2))


@F.pandas_udf(ArrayType(LongType()))
def s2_vertex_neighbors_udf(cell_id: pd.Series, level: pd.Series) -> pd.Series:
    """3-4 neighbors at ``level`` sharing the cell's closest vertex
    (S2CellId.php:601-639).  Scalar kernel per row — used on small
    cell tables (coverer seeding, neighborhood inspection), not on
    corpus-sized inputs."""
    ids = cid.from_signed(cell_id.to_numpy(np.int64))
    lv = level.to_numpy(np.int64)
    if len(ids) == 0:
        return pd.Series([], dtype=object)
    out = []
    for k in range(len(ids)):
        nbrs = cid.vertex_neighbors(int(ids[k]), int(lv[k]))
        out.append([int(cid.to_signed(np.asarray([n], np.uint64))[0]) for n in nbrs])
    return pd.Series(out)


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
