"""Independent expected results, computed with numpy outside Spark.

Containment is brute force over every point and region, with no
coverings: caps by dot product, rects by lat/lng interval, loops by an
even-odd test in the gnomonic projection about the loop's centroid
(great-circle edges project to straight lines there), polygons by the
parity of their loops.  kNN and radius pairs are brute force too.

The only engine code used here is ``s2core.cellid`` to key tiles by
cell id; which points land in which region never comes from the engine.
Every result is reduced to a canonical row array, so a job's written
table and the oracle compare by equality.
"""

from __future__ import annotations

import math

import numpy as np


def _xyz(lat_deg, lon_deg) -> np.ndarray:
    la, lo = np.radians(lat_deg), np.radians(lon_deg)
    return np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)], axis=-1)


def _loop_contains(vertices_deg: np.ndarray, pts: np.ndarray) -> np.ndarray:
    v = _xyz(vertices_deg[:, 0], vertices_deg[:, 1])
    c = v.sum(axis=0)
    c /= np.linalg.norm(c)
    if not np.all(v @ c > 0):
        raise ValueError("loop does not fit in the hemisphere about its centroid")
    east = np.cross([0.0, 0.0, 1.0], c)
    east /= np.linalg.norm(east)
    north = np.cross(c, east)
    vc = v @ c
    vx, vy = (v @ east) / vc, (v @ north) / vc
    ccw = np.sum(vx * np.roll(vy, -1) - np.roll(vx, -1) * vy) > 0
    pc = pts @ c
    inside = np.zeros(len(pts), dtype=bool)
    cand = np.nonzero(pc > 0)[0]
    px, py = (pts[cand] @ east) / pc[cand], (pts[cand] @ north) / pc[cand]
    box = (px >= vx.min()) & (px <= vx.max()) & (py >= vy.min()) & (py <= vy.max())
    cand, px, py = cand[box], px[box], py[box]
    odd = np.zeros(len(cand), dtype=bool)
    for i in range(len(vx)):
        x0, y0 = vx[i], vy[i]
        x1, y1 = vx[(i + 1) % len(vx)], vy[(i + 1) % len(vx)]
        straddle = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_cross = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        odd ^= straddle & (px < x_cross)
    inside[cand] = odd
    # A clockwise loop's interior is the complement of the small side.
    return inside if ccw else ~inside


def region_contains(spec: dict, lat: np.ndarray, lon: np.ndarray, pts: np.ndarray) -> np.ndarray:
    kind, params = spec["kind"], spec["params"]
    if kind == "cap":
        axis = _xyz(params[0], params[1])
        return pts @ axis >= math.cos(params[2])
    if kind == "rect":
        lat_r, lng_r = np.radians(lat), np.radians(lon)
        lng_r = np.where(lng_r == -math.pi, math.pi, lng_r)
        lat_lo, lat_hi, lng_lo, lng_hi = params
        out = (lat_r >= lat_lo) & (lat_r <= lat_hi)
        if lng_lo == -math.pi and lng_hi == math.pi:
            return out
        if lng_lo > lng_hi:
            return out & ((lng_r >= lng_lo) | (lng_r <= lng_hi))
        return out & (lng_r >= lng_lo) & (lng_r <= lng_hi)
    pairs = np.asarray(params, dtype=np.float64).reshape(-1, 2)
    if kind == "loop":
        return _loop_contains(pairs, pts)
    if kind == "polygon":
        offsets = list(spec["loop_offsets"]) + [len(pairs)]
        out = np.zeros(len(pts), dtype=bool)
        for a, b in zip(offsets[:-1], offsets[1:]):
            out ^= _loop_contains(pairs[a:b], pts)
        return out
    raise ValueError(f"unknown region kind {kind!r}")


def join_pairs(lat, lon, regions) -> tuple[np.ndarray, np.ndarray]:
    """(point index, region id) for every point inside every region."""
    pts = _xyz(lat, lon)
    idx, rid = [], []
    for spec in regions:
        hit = np.nonzero(region_contains(spec, lat, lon, pts))[0]
        idx.append(hit)
        rid.append(np.full(len(hit), int(spec["region_id"]), dtype=np.int64))
    return np.concatenate(idx), np.concatenate(rid)


def tile_rows(lat, lon, regions, tile_level, rollup_levels) -> np.ndarray:
    """(level, tile_id, doc_count) of the flagship tile table: docs
    inside at least one region, counted at the tile level and at every
    rollup level."""
    from s2_geometry_library_php_spark.s2core import cellid

    idx = np.unique(join_pairs(lat, lon, regions)[0])
    leaf = cellid.cell_id_from_latlng_degrees(lat[idx], lon[idx])
    rows = []
    for level in (tile_level, *rollup_levels):
        tiles, counts = np.unique(cellid.to_signed(cellid.parent(leaf, level)), return_counts=True)
        rows.append(np.stack([np.full(len(tiles), level), tiles, counts], axis=1))
    return canonical(np.concatenate(rows).astype(np.int64))


def _angle(p: np.ndarray, q: np.ndarray) -> np.ndarray:
    """atan2(|p x q|, p.q): the engine's distance, stable at tiny angles."""
    return np.arctan2(np.linalg.norm(np.cross(p, q), axis=-1), np.sum(p * q, axis=-1))


def knn_rows(lat, lon, probe_lat, probe_lon, k, chunk=65536) -> np.ndarray:
    """(probe_id, rank, doc_id): rank 1..k by (distance, doc_id)."""
    pts = _xyz(lat, lon)
    probes = _xyz(probe_lat, probe_lon)
    keep = 4 * k  # nearest by dot product, re-ranked by exact angle below
    best_dot = np.full((len(probes), 0), -2.0)
    best_idx = np.zeros((len(probes), 0), dtype=np.int64)
    for s in range(0, len(pts), chunk):
        d = probes @ pts[s:s + chunk].T
        top = np.argpartition(-d, min(keep, d.shape[1] - 1), axis=1)[:, :keep]
        best_dot = np.concatenate([best_dot, np.take_along_axis(d, top, axis=1)], axis=1)
        best_idx = np.concatenate([best_idx, top + s], axis=1)
        sel = np.argpartition(-best_dot, min(keep, best_dot.shape[1] - 1), axis=1)[:, :keep]
        best_dot = np.take_along_axis(best_dot, sel, axis=1)
        best_idx = np.take_along_axis(best_idx, sel, axis=1)
    rows = []
    for p in range(len(probes)):
        cand = best_idx[p]
        dist = _angle(probes[p][None, :], pts[cand])
        order = np.lexsort((cand, dist))[:k]
        for rank, j in enumerate(order, start=1):
            rows.append((p, rank, int(cand[j])))
    return canonical(np.asarray(rows, dtype=np.int64))


def radius_pair_rows(lat, lon, radius) -> np.ndarray:
    """(id_a, id_b), id_a < id_b, for every pair within ``radius`` rad.

    Points are sorted by x; a pair within ``radius`` differs by at most
    ``radius`` in x, so comparing each point with its successors in x
    order until every gap exceeds ``radius`` finds every pair."""
    pts = _xyz(lat, lon)
    order = np.argsort(pts[:, 0], kind="stable")
    xs = pts[order, 0]
    found = []
    live = np.arange(len(order) - 1)
    step = 1
    while len(live):
        live = live[live + step < len(order)]
        live = live[xs[live + step] - xs[live] <= radius]
        a, b = order[live], order[live + step]
        hit = _angle(pts[a], pts[b]) <= radius
        found.append(np.stack([np.minimum(a[hit], b[hit]), np.maximum(a[hit], b[hit])], axis=1))
        step += 1
    return canonical(np.concatenate(found).astype(np.int64))


def canonical(rows: np.ndarray) -> np.ndarray:
    """Rows sorted lexicographically, as int64."""
    rows = np.asarray(rows, dtype=np.int64).reshape(len(rows), -1)
    if len(rows) == 0:
        return rows
    return rows[np.lexsort(rows.T[::-1])]
