"""Polygon boolean operations (driver-side kernel).

The reference documents these as ``S2Polygon::initToIntersection /
initToUnion`` via ``clipBoundary`` + ``S2PolygonBuilder`` assembly
(S2Polygon.php:599-707 comment text, S2PolygonBuilder.php:432-495) —
all commented-out Java there; this is a from-scratch realization of
the same semantics:

1. **Clip**: every edge of A is split at its robust crossings with B's
   edges (S2EdgeUtil.getIntersection, S2EdgeUtil.php:199-250); each
   sub-piece is kept or dropped by testing its midpoint against B
   (inside for intersection, outside for union).  Symmetrically for
   B's edges against A.
2. **Assemble**: the kept directed edges chain start→end into closed
   loops (the builder's undirected-edge assembly specialized to the
   clean output of step 1: every vertex has exactly one outgoing
   piece, because input polygons are valid — no shared edges,
   S2Polygon.php:161-197).

Interior-on-the-left orientation is preserved by construction, so the
assembled loops are directly valid S2 loops for the resulting region.

Like the reference, this runs where the region dimension lives — on
the driver, at plan-build time; the *distributed* uses (spatial join
against a clipped region, covering build) consume the result as an
ordinary region spec.
"""

from __future__ import annotations

import numpy as np

from . import geom
from .region import LoopRegion, PolygonRegion


def edge_intersection(
    a0: np.ndarray, a1: np.ndarray, b0: np.ndarray, b1: np.ndarray
) -> np.ndarray:
    """Intersection point of two crossing geodesic edges
    (S2EdgeUtil.php:199-250 semantics; caller guarantees
    robust_crossing(a0,a1,b0,b1) > 0).

    The point is the unit cross product of the two edge normals,
    signed into the hemisphere of the edge endpoints.  Swapping edge
    order yields bit-identical output (the cross product negates
    exactly, and the hemisphere fix restores the sign), which the loop
    assembly's exact-match chaining relies on."""
    n_a = geom.robust_cross_prod(a0, a1)
    n_b = geom.robust_cross_prod(b0, b1)
    x = geom.robust_cross_prod(n_a, n_b)
    x = x / geom.norm(x)
    if geom.dot3(x, a0 + a1 + b0 + b1) < 0.0:
        x = -x
    return x


def _loop_edges(region: PolygonRegion):
    """Yield (v0, v1, odd_depth): boundary edges tagged with their
    loop's nesting parity.  In the engine's normalized representation
    every loop is CCW around ITS OWN enclosed area, so the polygon's
    interior lies on the LEFT of even-depth (shell) edges but on the
    RIGHT of odd-depth (hole) edges — clip consumers must reverse
    hole pieces to keep interior-on-the-left output."""
    from .region import polygon_loop_depths

    depths = (
        polygon_loop_depths(region.loops)
        if len(region.loops) > 1
        else [0] * len(region.loops)
    )
    for lp, d in zip(region.loops, depths):
        v = lp.vertices
        m = len(v)
        for k in range(m):
            yield v[k], v[(k + 1) % m], (d % 2 == 1)


def _min_boundary_distance(region: PolygonRegion, p: np.ndarray) -> float:
    """Min distance (radians) from p to any boundary edge of region."""
    best = float("inf")
    for lp in region.loops:
        v = lp.vertices
        m = len(v)
        for k in range(m):
            d = float(
                geom.edge_distance_radians(p[None, :], v[k], v[(k + 1) % m])[0]
            )
            if d < best:
                best = d
    return best


ON_BOUNDARY_EPS = 1e-14  # rad (~60 nm): float slack of an exact-overlap midpoint
# Assembly vertex-merge radius (chord): far above float noise on
# clip crossings (bit-identical across passes) and 100x above 1e-12
# input jitter, far below any real vertex separation.  The reference
# sizes its merge index from MIN_WIDTH(level)
# (S2PolygonBuilder.php:661-663); a fixed sub-nanoradian default
# plays the same role for driver-side assembly.
DEFAULT_SNAP_RADIUS = 1e-10


def _interiors_same_side(
    mid: np.ndarray,
    v0: np.ndarray,
    v1: np.ndarray,
    a_odd: bool,
    b_edges: list,
) -> bool:
    """For a piece of an A edge lying ON B's boundary: True iff B's
    interior lies on the SAME side of the shared geodesic as A's
    (collinear overlap), False when the interiors face each other
    (adjacency).  Sides are signed relative to the A edge direction:
    a shell edge keeps its interior on the left, a hole edge on the
    right, and an antiparallel B edge flips B's side."""
    for w0, w1, bodd in b_edges:
        if (
            float(geom.edge_distance_radians(mid[None, :], w0, w1)[0])
            <= ON_BOUNDARY_EPS
        ):
            d_sign = 1.0 if geom.dot3(w1 - w0, v1 - v0) >= 0.0 else -1.0
            s_a = -1.0 if a_odd else 1.0
            s_b = (-1.0 if bodd else 1.0) * d_sign
            return s_a == s_b
    return True


def clip_boundary(
    a: PolygonRegion, b: PolygonRegion, keep_inside_b: bool,
    reverse: bool = False,
    boundary_inside: bool | str | None = None,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Pieces of A's boundary that lie inside (or outside) B, oriented
    interior-on-the-left for the RESULT region.

    Every A-edge is subdivided at its crossings with B's edges; a
    piece survives iff its midpoint is inside B == ``keep_inside_b``.
    With ``reverse`` the surviving pieces are emitted end→start
    (used by difference, where B's clipped boundary bounds holes).
    Pieces from A's HOLE loops (odd nesting depth) are additionally
    reversed — the region interior sits on their right — so assembly
    chains close around hole bites (the round-1 formulation skipped
    this and produced no loops for hole-crossing clips).

    ``boundary_inside`` resolves EXACT boundary overlaps (an A edge
    collinear with a B edge — e.g. a region edge lying on an S2 face
    boundary shared with a cell edge): a piece whose midpoint sits ON
    B's boundary is declared inside/outside B by this flag instead of
    the parity test (which is ill-defined on the boundary).  A bool is
    a constant verdict (used on the second pass so the shared segment
    is emitted at most once); the strings ``"same_side"`` /
    ``"opposite_side"`` resolve DIRECTIONALLY — inside iff B's
    interior is on the same (resp. opposite) side of the shared
    geodesic as A's — which distinguishes true collinear overlap
    (segment belongs to the result boundary) from mere adjacency
    (interiors facing: the segment is interior to a union and
    degenerate for an intersection, and must be dropped)."""
    out: list[tuple[np.ndarray, np.ndarray]] = []
    b_edges = list(_loop_edges(b))
    b_verts = np.vstack([lp.vertices for lp in b.loops])
    for v0, v1, odd in _loop_edges(a):
        cross_pts = []
        for w0, w1, _bodd in b_edges:
            if geom.robust_crossing(v0, v1, w0, w1) > 0:
                x = edge_intersection(v0, v1, w0, w1)
                # COLLINEAR overlapping edges can report a symbolic
                # "crossing" whose intersection (cross of parallel
                # normals) is garbage — keep only points that really
                # lie on BOTH segments
                if (
                    float(geom.edge_distance_radians(x[None, :], v0, v1)[0])
                    <= ON_BOUNDARY_EPS
                    and float(
                        geom.edge_distance_radians(x[None, :], w0, w1)[0]
                    )
                    <= ON_BOUNDARY_EPS
                ):
                    cross_pts.append(x)
        # T-junction noding: split also at B VERTICES lying on this
        # edge's interior (collinear-overlap boundaries — e.g. a region
        # edge along an S2 face boundary meeting cell corners — produce
        # vertex-on-edge contacts that robust_crossing does not report)
        d = geom.edge_distance_radians(b_verts, v0, v1)
        for bi in np.nonzero(d <= ON_BOUNDARY_EPS)[0]:
            bv = b_verts[bi]
            if not (
                np.array_equal(bv, v0) or np.array_equal(bv, v1)
            ):
                cross_pts.append(bv)
        # order splits along the edge by angle from v0
        cross_pts.sort(key=lambda p: float(geom.angle_between(v0[None], p[None])[0]))
        chain = [v0, *cross_pts, v1]
        flip = reverse ^ odd
        for i in range(len(chain) - 1):
            mid = chain[i] + chain[i + 1]
            mid = mid / geom.norm(mid)
            inside = bool(b.contains_points(mid[None, :])[0])
            if (
                boundary_inside is not None
                and _min_boundary_distance(b, mid) <= ON_BOUNDARY_EPS
            ):
                if isinstance(boundary_inside, bool):
                    inside = boundary_inside
                else:
                    same = _interiors_same_side(mid, v0, v1, odd, b_edges)
                    inside = (
                        same
                        if boundary_inside == "same_side"
                        else not same
                    )
            if inside == keep_inside_b:
                piece = (chain[i + 1], chain[i]) if flip else (chain[i], chain[i + 1])
                out.append(piece)
    return out


def _key(p: np.ndarray) -> tuple:
    # Chaining key: crossings are bit-identical from both clip passes
    # (see edge_intersection), original vertices verbatim — a light
    # rounding only guards against that invariant breaking.
    return tuple(np.round(p, 14))


def snap_pieces(
    pieces: list[tuple[np.ndarray, np.ndarray]], snap_radius: float
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Merge piece endpoints closer than ``snap_radius`` (chord
    distance) to one representative — the S2PolygonBuilder
    vertex-merge index (S2PolygonBuilder.php:661-663, merge radius
    sized from MIN_WIDTH), so near-coincident vertices from noisy
    input chain exactly.  Greedy first-representative clustering
    (piece counts are driver-side small); pieces collapsing to a
    point are dropped."""
    reps: list[np.ndarray] = []

    def rep(p: np.ndarray) -> np.ndarray:
        for r in reps:
            d = p - r
            if geom.dot3(d, d) <= snap_radius * snap_radius:
                return r
        reps.append(p)
        return p

    out: list[tuple[np.ndarray, np.ndarray]] = []
    for p, q in pieces:
        rp, rq = rep(p), rep(q)
        if np.array_equal(rp, rq):
            continue
        out.append((rp, rq))
    return out


def assemble_loops(
    pieces: list[tuple[np.ndarray, np.ndarray]],
    snap_radius: float = 0.0,
) -> list[np.ndarray]:
    """Chain directed edge pieces into closed loops (the
    S2PolygonBuilder assembly, S2PolygonBuilder.php:432-495, for the
    degenerate-free output of clip_boundary).  A positive
    ``snap_radius`` first merges near-coincident endpoints (see
    :func:`snap_pieces`)."""
    if snap_radius > 0.0:
        pieces = snap_pieces(pieces, snap_radius)
    start_index: dict[tuple, list[int]] = {}
    for idx, (p, _q) in enumerate(pieces):
        start_index.setdefault(_key(p), []).append(idx)
    used = [False] * len(pieces)
    loops: list[np.ndarray] = []
    for idx in range(len(pieces)):
        if used[idx]:
            continue
        chain = [pieces[idx][0]]
        cur = idx
        closed = False
        while not used[cur]:
            used[cur] = True
            end = pieces[cur][1]
            k = _key(end)
            if k == _key(chain[0]):
                closed = True
                break
            chain.append(end)
            nxt = next(
                (j for j in start_index.get(k, []) if not used[j]), None
            )
            if nxt is None:
                break
            cur = nxt
        if closed and len(chain) >= 3:
            loops.append(np.asarray(chain))
    return loops


def loop_signed_area(vertices: np.ndarray) -> float:
    """Signed spherical area of a vertex chain: fan of signed triangle
    areas from vertex 0 (S2Loop.getAreaCentroid semantics,
    S2Loop.php:258-319).  Positive = CCW (interior on the left)."""
    from .cell import triangle_area

    total = 0.0
    v0 = vertices[0]
    for k in range(1, len(vertices) - 1):
        a, b = vertices[k], vertices[k + 1]
        total += geom.robust_ccw(v0, a, b) * triangle_area(v0, a, b)
    return total


def _to_polygon(loops_xyz: list[np.ndarray]) -> PolygonRegion:
    """Assemble + normalize: reverse any CW loop (S2Loop.normalize,
    S2Loop.php:216-253) so every loop encloses its own region and the
    polygon's odd-parity containment holds (holes become CCW loops
    around the hole area, shells stay CCW)."""
    loops = []
    for v in loops_xyz:
        if loop_signed_area(v) < 0.0:
            v = v[::-1].copy()
        loops.append(LoopRegion.from_xyz(v))
    return PolygonRegion(loops)


def polygon_intersection(
    a: PolygonRegion, b: PolygonRegion, snap_radius: float = DEFAULT_SNAP_RADIUS
) -> PolygonRegion:
    """A ∩ B (S2Polygon::initToIntersection semantics).  A shared
    collinear segment belongs to the result iff the interiors overlap
    on the same side; it is emitted once, from the A side (the B pass
    always drops on-boundary pieces)."""
    pieces = clip_boundary(
        a, b, True, boundary_inside="same_side"
    ) + clip_boundary(b, a, True, boundary_inside=False)
    return _to_polygon(assemble_loops(pieces, snap_radius=snap_radius))


def polygon_union(
    a: PolygonRegion, b: PolygonRegion, snap_radius: float = DEFAULT_SNAP_RADIUS
) -> PolygonRegion:
    """A ∪ B (S2Polygon::initToUnion semantics).  A shared collinear
    segment stays on the union boundary iff the interiors overlap on
    the same side (adjacent interiors merge across it); kept once,
    from the A side — treat-as-outside keeps it on the keep-outside A
    pass, while the B pass's constant True drops its copy."""
    pieces = clip_boundary(
        a, b, False, boundary_inside="opposite_side"
    ) + clip_boundary(b, a, False, boundary_inside=True)
    return _to_polygon(assemble_loops(pieces, snap_radius=snap_radius))


def polygon_difference(
    a: PolygonRegion, b: PolygonRegion, snap_radius: float = DEFAULT_SNAP_RADIUS
) -> PolygonRegion:
    """A \\ B: A's boundary outside B plus B's boundary inside A
    reversed (those pieces bound holes of the result).  A shared
    collinear segment survives on the A pass only when B's interior
    faces AWAY (adjacency: the segment is still A's boundary); when
    the interiors overlap it is subtracted away, and the B pass drops
    on-boundary pieces unconditionally."""
    pieces = clip_boundary(
        a, b, False, boundary_inside="same_side"
    ) + clip_boundary(b, a, True, reverse=True, boundary_inside=False)
    return _to_polygon(assemble_loops(pieces, snap_radius=snap_radius))


def polygon_to_spec(
    region_id: int, poly: PolygonRegion
) -> dict:
    """Package a polygon as the FIXTURES region-spec dict consumed by
    the distributed spatial join / coverer."""
    params: list[float] = []
    offsets: list[int] = []
    for lp in poly.loops:
        offsets.append(len(params) // 2)
        lat, lng = geom.xyz_to_latlng(lp.vertices)
        for la, ln in zip(np.degrees(lat), np.degrees(lng)):
            params.extend([float(la), float(ln)])
    return dict(
        region_id=region_id, kind="polygon", params=params,
        loop_offsets=offsets,
    )
