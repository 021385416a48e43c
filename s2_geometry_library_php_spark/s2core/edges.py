"""Edge coverings, the edge index and loop-vs-loop relations (numpy
kernels).

* :func:`edge_covering` — the reference's edge-index covering
  (S2EdgeIndex.php:306-375): ideal level from MIN_WIDTH of the
  thickened edge length; the smallest containing cell if
  tight enough, else the 4 vertex neighbors of the edge midpoint.
* :func:`polyline_covering` — per-edge coverings, normalized; the
  build side of a polyline x region / polyline x points join.
* :class:`EdgeProbe` — the edge index: edge coverings sorted by cell,
  probed with ``cellid.cell_pairs`` and refined with
  ``geom.robust_crossing_vec``; the kernel of the crossing joins.
* wedge relations (S2EdgeUtil.php:681-794) and
  :func:`check_edge_crossings` (S2Loop.php:880-912) powering
  :func:`loop_contains_loop` / :func:`loop_intersects_loop` /
  :func:`contains_or_crosses` (S2Loop.php:365-522) — the region-vs-
  region predicates used by polygon nesting and validity.
"""

from __future__ import annotations

import numpy as np

from . import cellid as cid
from . import geom
from .coverer import normalize_cell_union
from .metric import MIN_WIDTH

THICKENING = 0.01  # S2EdgeIndex.php:8


def _leaf(p: np.ndarray) -> int:
    return int(
        cid.cell_id_from_point(
            np.asarray(p[0]), np.asarray(p[1]), np.asarray(p[2])
        )
    )


def _containing_cell(*points: np.ndarray) -> int | None:
    """Smallest cell containing all points; None if they span faces
    (S2EdgeIndex.php:262-290 semantics)."""
    ids = [_leaf(p) for p in points]
    faces = {i >> 61 for i in ids}
    if len(faces) != 1:
        return None
    cells = ids
    while len(set(cells)) > 1:
        cells = [cid.parent1_scalar(c) for c in cells]
        if cid.level_scalar(cells[0]) == 0:
            break
    return cells[0] if len(set(cells)) == 1 else None


def edge_covering(a: np.ndarray, b: np.ndarray) -> tuple[list[int], int]:
    """Cover one geodesic edge; returns (cells, level)
    (S2EdgeIndex.php:306-375)."""
    a = geom.normalize(np.asarray(a, dtype=np.float64))
    b = geom.normalize(np.asarray(b, dtype=np.float64))
    edge_length = float(geom.angle_between(a, b))
    ideal_level = MIN_WIDTH.get_max_level(edge_length * (1 + 2 * THICKENING))
    containing = _containing_cell(a, b)
    if containing is not None and cid.level_scalar(containing) >= ideal_level - 2:
        return [containing], cid.level_scalar(containing)

    if ideal_level == 0:
        # Edge spans a face width or more: whole-sphere covering
        # (S2EdgeIndex.php:352-360).
        faces = [(f << 61) + (1 << 60) for f in range(6)]
        return faces, 0

    middle = geom.normalize((a + b) / 2.0)
    actual_level = min(ideal_level, cid.MAX_LEVEL - 1)
    cells = cid.vertex_neighbors(_leaf(middle), actual_level)
    return cells, actual_level


def polyline_covering(vertices_latlng_deg: np.ndarray) -> list[int]:
    """Normalized union of per-edge coverings of a polyline."""
    v = np.asarray(vertices_latlng_deg, dtype=np.float64)
    pts = geom.normalize(
        geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
    )
    cells: list[int] = []
    for k in range(len(pts) - 1):
        cov, _ = edge_covering(pts[k], pts[k + 1])
        cells.extend(cov)
    return normalize_cell_union(cells)


def edge_cells(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(covering cells as uint64, edge row) of the edges ``a[i] -> b[i]``
    (unit vectors), :func:`edge_covering` of each."""
    cells, row = [], []
    for i in range(len(a)):
        cov, _ = edge_covering(a[i], b[i])
        cells += cov
        row += [i] * len(cov)
    return np.array(cells, dtype=np.uint64), np.array(row, dtype=np.int64)


class EdgeProbe:
    """The reference's edge index (S2EdgeIndex.php:85-147, 225-244): the
    index edges ``a[i] -> b[i]`` (unit vectors) of ``owner[i]``, and
    their covering cells held sorted, each with its edge row.  With
    ``ordered``, a query edge meets only index edges of a greater
    owner: a self join of one edge set then tests each pair of edges of
    two owners once, the lower owner's edge first."""

    def __init__(self, owner, a, b, ordered: bool = False):
        self.owner = np.asarray(owner, dtype=np.int64)
        self.a = np.asarray(a, dtype=np.float64)
        self.b = np.asarray(b, dtype=np.float64)
        cells, row = edge_cells(self.a, self.b)
        order = np.argsort(cells, kind="stable")
        self.cells, self.row = cells[order], row[order]
        self.levels = sorted({int(x) for x in cid.level_of(self.cells)})
        self.ordered = ordered

    def crossings(self, owner: np.ndarray, a: np.ndarray, b: np.ndarray):
        """(query edge, index owner) of every proper crossing
        (``robustCrossing > 0``, the query edge ``a[i] -> b[i]`` of
        ``owner[i]`` as AB), sorted by query edge, then index edge.
        The candidates are the index edges with a covering cell equal
        to, containing or inside one of the query edge's cells
        (getEdgesInParentCells, getEdgesInChildrenCells), each once."""
        cells, qrow = edge_cells(a, b)
        pair, idx = cid.cell_pairs(self.cells, cells, self.levels)
        q, e = qrow[pair], self.row[idx]
        if self.ordered:
            keep = self.owner[e] > owner[q]
            q, e = q[keep], e[keep]
        n = max(len(self.owner), 1)
        q, e = np.divmod(np.unique(q * n + e), n)
        hit = geom.robust_crossing_vec(a[q], b[q], self.a[e], self.b[e]) > 0
        return q[hit], self.owner[e[hit]]


# --- wedge relations (S2EdgeUtil.php:681-794) ----------------------------------
def wedge_contains(a0, ab1, a2, b0, b2) -> int:
    return (
        1
        if geom.ordered_ccw(a2, b2, b0, ab1) and geom.ordered_ccw(b0, a0, a2, ab1)
        else 0
    )


def wedge_intersects(a0, ab1, a2, b0, b2) -> int:
    return (
        0
        if geom.ordered_ccw(a0, b2, b0, ab1) and geom.ordered_ccw(b0, a2, a0, ab1)
        else -1
    )


def wedge_contains_or_intersects(a0, ab1, a2, b0, b2) -> int:
    """+1 A contains B, 0 disjoint, -1 intersects-but-not-contains
    (S2EdgeUtil.php:720-745)."""
    if geom.ordered_ccw(a0, a2, b2, ab1):
        return 1 if geom.ordered_ccw(b2, b0, a0, ab1) else -1
    if not geom.ordered_ccw(a2, b0, b2, ab1):
        return 0
    return 0 if np.array_equal(a2, b0) else -1


def wedge_contains_or_crosses(a0, ab1, a2, b0, b2) -> int:
    if geom.ordered_ccw(a0, a2, b2, ab1):
        if geom.ordered_ccw(b2, b0, a0, ab1):
            return 1
        return 0 if np.array_equal(a2, b2) else -1
    return 0 if geom.ordered_ccw(a0, b0, a2, ab1) else -1


def _vertex_index(loop_vertices: np.ndarray, p: np.ndarray) -> int:
    for i, v in enumerate(loop_vertices):
        if v[0] == p[0] and v[1] == p[1] and v[2] == p[2]:
            return i
    return -1


def check_edge_crossings(a_verts: np.ndarray, b_verts: np.ndarray, relation) -> int:
    """-1 on any proper edge crossing; else min wedge relation over
    shared vertices; +1 if disjoint boundaries (S2Loop.php:880-912)."""
    na, nb = len(a_verts), len(b_verts)
    result = 1
    for j in range(nb):
        b0 = b_verts[j]
        b1 = b_verts[(j + 1) % nb]
        for i in range(na):
            a0 = a_verts[i]
            a1 = a_verts[(i + 1) % na]
            crossing = geom.robust_crossing(b0, b1, a0, a1)
            if crossing < 0:
                continue
            if crossing > 0:
                return -1
            if np.array_equal(a1, b1):
                result = min(
                    result,
                    relation(
                        a0,
                        a1,
                        a_verts[(i + 2) % na],
                        b0,
                        b_verts[(j + 2) % nb],
                    ),
                )
                if result < 0:
                    return result
    return result


def loop_contains_loop(a: "LoopRegion", b: "LoopRegion") -> bool:
    """A ⊇ B (S2Loop.php:365-410 semantics)."""
    if not a.bound.contains_rect(b.bound):
        return False
    if (
        not bool(a.contains_points(b.vertices[0:1])[0])
        and _vertex_index(a.vertices, b.vertices[0]) < 0
    ):
        return False
    if check_edge_crossings(a.vertices, b.vertices, wedge_contains) <= 0:
        return False
    # (A union B) == sphere case: B contains a vertex of A.
    if (
        bool(b.contains_points(a.vertices[0:1])[0])
        and _vertex_index(b.vertices, a.vertices[0]) < 0
    ):
        # only reject when the union could be full; conservative exact
        # check via the documented condition (S2Loop.php:399-407)
        return False
    return True


def loop_intersects_loop(a: "LoopRegion", b: "LoopRegion") -> bool:
    """A ∩ B nonempty (S2Loop.php:415-455 semantics)."""
    if not a.bound.intersects_rect(b.bound):
        return False
    if (
        bool(a.contains_points(b.vertices[0:1])[0])
        and _vertex_index(a.vertices, b.vertices[0]) < 0
    ):
        return True
    if check_edge_crossings(a.vertices, b.vertices, wedge_intersects) < 0:
        return True
    if b.bound.contains_rect(a.bound):
        if (
            bool(b.contains_points(a.vertices[0:1])[0])
            and _vertex_index(b.vertices, a.vertices[0]) < 0
        ):
            return True
    return False


def contains_or_crosses(a: "LoopRegion", b: "LoopRegion") -> int:
    """+1 if A contains B, -1 if boundaries cross, 0 otherwise
    (S2Loop.php:462-505)."""
    if not a.bound.intersects_rect(b.bound):
        return 0
    result = check_edge_crossings(
        a.vertices, b.vertices, wedge_contains_or_crosses
    )
    if result <= 0:
        return result
    if not a.bound.contains_rect(b.bound):
        return 0
    if (
        not bool(a.contains_points(b.vertices[0:1])[0])
        and _vertex_index(a.vertices, b.vertices[0]) < 0
    ):
        return 0
    return 1


# --- ingest validation (S2Loop.isValid / S2Polygon.isValid) ---------------------------
def loop_is_valid(vertices: np.ndarray) -> tuple[bool, str]:
    """S2Loop::isValid (S2Loop.php:682-766 commented canonical):
    >= 3 vertices, unit length, no duplicate vertices, no crossing
    between non-adjacent edges.  Returns (ok, reason).

    Deviation from the reference: no 'nearly colinear' skip — the
    tiered robustCCW here resolves colinear cases exactly via symbolic
    perturbation, so robust_crossing is decisive where the reference's
    workaround had to punt."""
    m = len(vertices)
    if m < 3:
        return False, "degenerate loop (fewer than 3 vertices)"
    n2 = np.sum(vertices * vertices, axis=1)
    if bool(np.any(np.abs(n2 - 1.0) > 1e-14)):
        i = int(np.argmax(np.abs(n2 - 1.0)))
        return False, f"vertex {i} is not unit length"
    seen: dict[tuple, int] = {}
    for i, v in enumerate(vertices):
        key = (float(v[0]), float(v[1]), float(v[2]))
        if key in seen:
            return False, f"duplicate vertices: {seen[key]} and {i}"
        seen[key] = i
    for a1 in range(m):
        a2 = (a1 + 1) % m
        for b1 in range(a1 + 1, m):
            b2 = (b1 + 1) % m
            # skip pairs sharing a vertex (great-circle edges meet at
            # most once; a shared endpoint is not a crossing)
            if a1 == b1 or a1 == b2 or a2 == b1 or a2 == b2:
                continue
            if (
                geom.robust_crossing(
                    vertices[a1], vertices[a2], vertices[b1], vertices[b2]
                )
                > 0
            ):
                return False, f"edges {a1} and {b1} cross"
    return True, ""


def loop_is_normalized(vertices: np.ndarray) -> bool:
    """Area <= 2*pi + slack — the loop encloses no more than half the
    sphere (S2Loop::isNormalized documented contract)."""
    area, _ = geom.loop_area_centroid(vertices)
    return area <= 2.0 * np.pi + 1e-6


def loop_normalize(vertices: np.ndarray) -> np.ndarray:
    """Invert the loop if it encloses more than half the sphere, so it
    encloses at most 2*pi (S2Loop::normalize semantics): returns the
    vertex chain, reversed when the signed fan area exceeds 2*pi."""
    return vertices if loop_is_normalized(vertices) else vertices[::-1]


def polygon_is_valid(loops: list) -> tuple[bool, str]:
    """S2Polygon::isValid (S2Polygon.php:161-197): every loop valid,
    no undirected edge shared between two loops, every loop
    normalized, and no two loop boundaries cross (containsOrCrosses
    >= 0, which also catches shared-vertex crossings).  ``loops`` are
    LoopRegion instances.  Returns (ok, reason)."""
    for i, lp in enumerate(loops):
        ok, why = loop_is_valid(lp.vertices)
        if not ok:
            return False, f"loop {i}: {why}"
    edges_seen: dict[tuple, tuple[int, int]] = {}
    for i, lp in enumerate(loops):
        m = len(lp.vertices)
        for j in range(m):
            a = tuple(float(x) for x in lp.vertices[j])
            b = tuple(float(x) for x in lp.vertices[(j + 1) % m])
            key = (a, b) if a <= b else (b, a)
            if key in edges_seen:
                oi, oj = edges_seen[key]
                return (
                    False,
                    f"loops {oi} and {i} share an edge ({oj}, {j})",
                )
            edges_seen[key] = (i, j)
    for i, lp in enumerate(loops):
        if not loop_is_normalized(lp.vertices):
            return False, f"loop {i} is not normalized (area > 2*pi)"
        for j in range(i + 1, len(loops)):
            if contains_or_crosses(lp, loops[j]) < 0:
                return False, f"loops {i} and {j} cross"
    return True, ""


# --- polyline operators (S2Polyline.php:3-21 doc; body is commented Java) -----------
def _unit3(v: np.ndarray) -> np.ndarray:
    """``v / |v|`` for one 3-vector, ``|v|`` from ``geom.dot3`` (not the
    alignment-dependent BLAS ``np.linalg.norm``)."""
    return v / np.sqrt(geom.dot3(v, v))


def edge_closest_point(
    x: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Vectorized closest point on edge AB for points X (N,3)
    (S2EdgeUtil.getClosestPoint, S2EdgeUtil.php:316-331): projection
    onto the great circle when the foot lies in the wedge, else the
    nearer endpoint."""
    x = np.atleast_2d(x)
    ab = geom.robust_cross_prod(a, b)
    ab_unit = _unit3(ab)
    # geom.dot keeps each row's bits batch-invariant (edge_distance_radians)
    proj = x - np.outer(geom.dot(x, ab_unit), ab_unit)
    pn = np.linalg.norm(proj, axis=1)
    # degenerate projections (x parallel to the edge normal) fall back
    # to the endpoint branch via on_segment=False
    safe = pn > 0
    proj[safe] = proj[safe] / pn[safe, None]
    on_segment = (
        geom.simple_ccw_vec(ab, a, proj) & geom.simple_ccw_vec(proj, b, ab) & safe
    )
    a_closer = geom.norm2(x - a) <= geom.norm2(x - b)
    endpoint = np.where(a_closer[:, None], a[None, :], b[None, :])
    return np.where(on_segment[:, None], proj, endpoint)


def polyline_interpolate(vertices: np.ndarray, fraction: float) -> np.ndarray:
    """Point at ``fraction`` of the polyline's length
    (S2Polyline.interpolate semantics): walk cumulative edge lengths,
    then spherical-linear interpolation inside the containing edge."""
    if fraction <= 0.0:
        return vertices[0]
    if fraction >= 1.0:
        return vertices[-1]
    edge_len = geom.angle_between(vertices[:-1], vertices[1:])
    target = fraction * float(np.sum(edge_len))
    acc = 0.0
    for k in range(len(edge_len)):
        if acc + edge_len[k] >= target:
            t = (target - acc) / edge_len[k] if edge_len[k] > 0 else 0.0
            a, b = vertices[k], vertices[k + 1]
            ang = float(edge_len[k])
            # slerp: (sin((1-t)w)a + sin(tw)b) / sin(w)
            sa = np.sin((1.0 - t) * ang)
            sb = np.sin(t * ang)
            p = sa * a + sb * b
            return _unit3(p)
        acc += float(edge_len[k])
    return vertices[-1]


def polyline_project(
    x: np.ndarray, vertices: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Project points X (N,3) onto the polyline: returns
    (closest_points (N,3), distance_rad (N,), fraction (N,)) where
    fraction is arc-length position of the projection in [0,1]
    (S2Polyline.project / getDistanceFraction semantics,
    S2EdgeUtil.php:257-262)."""
    x = np.atleast_2d(x)
    n = len(x)
    best_d = np.full(n, np.inf)
    best_p = np.zeros((n, 3))
    best_edge = np.zeros(n, dtype=np.int64)
    for k in range(len(vertices) - 1):
        d = geom.edge_distance_radians(x, vertices[k], vertices[k + 1])
        upd = d < best_d
        if np.any(upd):
            cp = edge_closest_point(x[upd], vertices[k], vertices[k + 1])
            best_p[upd] = cp
            best_d[upd] = d[upd]
            best_edge[upd] = k
    edge_len = geom.angle_between(vertices[:-1], vertices[1:])
    cum = np.concatenate([[0.0], np.cumsum(edge_len)])
    total = cum[-1] if cum[-1] > 0 else 1.0
    along = geom.angle_between(vertices[best_edge], best_p)
    fraction = (cum[best_edge] + along) / total
    return best_p, best_d, np.clip(fraction, 0.0, 1.0)


class PolylineBuffer:
    """The points within ``radius`` radians of a polyline with unit
    ``vertices``: the refine shape of the polyline proximity join (the
    minimum point-to-edge distance, S2EdgeUtil.php:271-309)."""

    def __init__(self, vertices: np.ndarray, radius: float):
        self.vertices = vertices
        self.radius = radius

    def contains_points(self, x: np.ndarray) -> np.ndarray:
        v = self.vertices
        best = np.full(len(x), np.inf)
        for k in range(len(v) - 1):
            best = np.minimum(best, geom.edge_distance_radians(x, v[k], v[k + 1]))
        return best <= self.radius
