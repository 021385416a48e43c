"""Vector math and robust spherical predicates (numpy).

Re-derivations of the geometry kernels documented in the reference:

* 3-vector algebra, ``angle`` (S2Point.php:26-112),
* ``robustCrossProd`` (S2.php:232-251),
* tiered ``simpleCCW``/``robustCCW``/``expensiveCCW`` with symbolic
  planar perturbation fallback (S2.php:470-708),
* ``orderedCCW`` (S2.php:730-746),
* edge crossing predicates: ``robustCrossing``, ``vertexCrossing``,
  ``edgeOrVertexCrossing`` (S2EdgeUtil.php:75-185),
* point-to-edge distance (S2EdgeUtil.php:271-309),
* point-in-loop parity scan (S2Loop.php:601-631),
* RectBounder lat/lng edge bounding (S2EdgeUtil.php:461-528).

Points are ``(..., 3)`` float64 arrays.  The hot paths are fully
vectorized; the exact-arithmetic-ish tiers run scalar on the (rare)
rows where the fast determinant is within the 1.6e-15 uncertainty
band, mirroring the reference's tiering.
"""

from __future__ import annotations

import math

import numpy as np

CCW_THRESHOLD = 1.6e-15  # 2 * 14 * 2**-54 (S2.php:544)


# --- basic vector algebra -----------------------------------------------------
def dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return np.sum(a * b, axis=-1)


def dot3(a, b) -> float:
    """a.b of two 3-vectors as a float, summed x, y, z as the reference
    does: 1-D ``np.dot`` is a BLAS ``ddot`` whose rounding depends on
    the operands' alignment, so a sign tier could flip near zero."""
    return float(a[0] * b[0] + a[1] * b[1] + a[2] * b[2])


def cross(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return np.cross(a, b)


def norm2(a: np.ndarray) -> np.ndarray:
    return dot(a, a)


def norm(a: np.ndarray) -> np.ndarray:
    return np.sqrt(norm2(a))


def normalize(a: np.ndarray) -> np.ndarray:
    n = norm(a)
    n = np.where(n == 0, 1.0, n)
    return a / n[..., None]


def angle_between(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Stable small-angle distance: atan2(|a x b|, a.b)
    (S2Point.php:110-112)."""
    return np.arctan2(norm(cross(a, b)), dot(a, b))


def angle_xyz(u, v) -> np.ndarray:
    """``angle_between`` of points given as (x, y, z) tuples of
    contiguous component arrays, the sums written out in the
    reference's order: no reduction over a length-3 axis and no strided
    input to ``arctan2``.  The same operations, in the same order, as
    the Spark column twin ``functions.udfs.angle3``."""
    (ux, uy, uz), (vx, vy, vz) = u, v
    cx, cy, cz = uy * vz - uz * vy, uz * vx - ux * vz, ux * vy - uy * vx
    return np.arctan2(
        np.sqrt(cx * cx + cy * cy + cz * cz), ux * vx + uy * vy + uz * vz
    )


def largest_abs_component(p: np.ndarray) -> np.ndarray:
    ax, ay, az = np.abs(p[..., 0]), np.abs(p[..., 1]), np.abs(p[..., 2])
    return np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))


def ortho(a: np.ndarray) -> np.ndarray:
    """Deterministic orthogonal unit vector (S2Point.php:63-73)."""
    a = np.asarray(a, dtype=np.float64)
    single = a.ndim == 1
    p = np.atleast_2d(a)
    k = largest_abs_component(p)
    temp = np.zeros_like(p)
    temp[k == 1, 0] = 1.0
    temp[k == 2, 1] = 1.0
    temp[(k != 1) & (k != 2), 2] = 1.0
    out = normalize(np.cross(p, temp))
    return out[0] if single else out


def robust_cross_prod(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(b+a) x (b-a) for near-(anti)parallel stability (S2.php:232-251)."""
    x = np.cross(b + a, b - a)
    if x.ndim == 1:
        return ortho(a) if not np.any(x) else x
    degenerate = ~np.any(x != 0, axis=-1)
    if np.any(degenerate):
        x = x.copy()
        x[degenerate] = ortho(np.atleast_2d(a)[degenerate] if a.ndim > 1 else a)
    return x


# --- lat/lng <-> xyz -----------------------------------------------------------
def latlng_to_xyz(lat_rad: np.ndarray, lng_rad: np.ndarray) -> np.ndarray:
    """(cos t cos p, sin t cos p, sin p) (S2LatLng.php:138-143)."""
    lat = np.asarray(lat_rad, dtype=np.float64)
    lng = np.asarray(lng_rad, dtype=np.float64)
    cos_lat = np.cos(lat)
    return np.stack(
        [np.cos(lng) * cos_lat, np.sin(lng) * cos_lat, np.sin(lat)], axis=-1
    )


def xyz_to_latlng(p: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """atan2-based, accurate near poles (S2LatLng.php:41-55).

    The components are copied out contiguous.  numpy bounds a strided
    input's memory by stride x length, which overshoots its last
    element; when the allocator puts the output in that overshoot,
    numpy's overlap check sends ``arctan2`` down its scalar loop, whose
    last bit can differ from the SIMD loop's.  A Spark worker and the
    driver would then disagree on the same point."""
    x, y, z = (p[..., k].copy() for k in range(3))
    return np.arctan2(z, np.sqrt(x * x + y * y)), np.arctan2(y, x)


# --- robust CCW tiers -----------------------------------------------------------
def _points_equal(a, b) -> bool:
    return a[0] == b[0] and a[1] == b[1] and a[2] == b[2]


def _less_than(a, b) -> bool:
    """Lexicographic x,y,z compare (S2Point ordering)."""
    return tuple(a) < tuple(b)


def _planar_ccw(a2, b2) -> int:
    """planarCCW on R2 (S2.php:666-690)."""
    sab = -1 if (a2[0] * b2[0] + a2[1] * b2[1]) > 0 else 1
    vab = (a2[0] + sab * b2[0], a2[1] + sab * b2[1])
    da = a2[0] * a2[0] + a2[1] * a2[1]
    db = b2[0] * b2[0] + b2[1] * b2[1]
    if da < db or (da == db and tuple(a2) < tuple(b2)):
        sign = (a2[0] * vab[1] - a2[1] * vab[0]) * sab
    else:
        sign = vab[0] * b2[1] - vab[1] * b2[0]
    return 1 if sign > 0 else (-1 if sign < 0 else 0)


def _planar_ordered_ccw(a2, b2, c2) -> int:
    s = _planar_ccw(a2, b2) + _planar_ccw(b2, c2) + _planar_ccw(c2, a2)
    return 1 if s > 0 else (-1 if s < 0 else 0)


def expensive_ccw(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> int:
    """Stable recompute + symbolic perturbation (S2.php:566-659)."""
    if _points_equal(a, b) or _points_equal(b, c) or _points_equal(c, a):
        return 0
    sab = -1.0 if dot3(a, b) > 0 else 1.0
    sbc = -1.0 if dot3(b, c) > 0 else 1.0
    sca = -1.0 if dot3(c, a) > 0 else 1.0
    vab = a + sab * b
    vbc = b + sbc * c
    vca = c + sca * a
    dab = dot3(vab, vab)
    dbc = dot3(vbc, vbc)
    dca = dot3(vca, vca)
    if dca < dbc or (dca == dbc and _less_than(a, b)):
        if dab < dbc or (dab == dbc and _less_than(a, c)):
            sign = dot3(np.cross(vab, vca), a) * sab  # BC longest
        else:
            sign = dot3(np.cross(vca, vbc), c) * sca  # AB longest
    elif dab < dca or (dab == dca and _less_than(b, c)):
        sign = dot3(np.cross(vbc, vab), b) * sbc  # CA longest
    else:
        sign = dot3(np.cross(vca, vbc), c) * sca  # AB longest
    if sign > 0:
        return 1
    if sign < 0:
        return -1
    # Symbolic perturbation: ordered CCW around the origin in the YZ,
    # ZX, then XY planes (S2.php:636-658).
    ccw = _planar_ordered_ccw((a[1], a[2]), (b[1], b[2]), (c[1], c[2]))
    if ccw == 0:
        ccw = _planar_ordered_ccw((a[2], a[0]), (b[2], b[0]), (c[2], c[0]))
        if ccw == 0:
            ccw = _planar_ordered_ccw((a[0], a[1]), (b[0], b[1]), (c[0], c[1]))
    return ccw


def robust_ccw(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> int:
    """Scalar tiered robustCCW (S2.php:496-555)."""
    det = dot3(np.cross(a, b), c)
    if det > CCW_THRESHOLD:
        return 1
    if det < -CCW_THRESHOLD:
        return -1
    return expensive_ccw(a, b, c)


def simple_ccw_vec(a, b, c) -> np.ndarray:
    """sign((c x a) . b) > 0 (S2.php:470-481)."""
    return dot(np.cross(c, a), b) > 0


def ordered_ccw(a, b, c, o) -> bool:
    """2-of-3 robustCCW votes (S2.php:730-746)."""
    s = 0
    if robust_ccw(b, o, a) >= 0:
        s += 1
    if robust_ccw(c, o, b) >= 0:
        s += 1
    if robust_ccw(a, o, c) > 0:
        s += 1
    return s >= 2


# --- edge crossings --------------------------------------------------------------
def robust_crossing(a, b, c, d) -> int:
    """Scalar robustCrossing (S2EdgeUtil.php:75-110)."""
    a_cross_b = np.cross(a, b)

    def ccw_with(axb, p, q, r):
        det = dot3(axb, r)
        if det > CCW_THRESHOLD:
            return 1
        if det < -CCW_THRESHOLD:
            return -1
        return expensive_ccw(p, q, r)

    acb = -ccw_with(a_cross_b, a, b, c)
    bda = ccw_with(a_cross_b, a, b, d)
    if acb == 0 or bda == 0:
        return 0
    if bda != acb:
        return -1
    c_cross_d = np.cross(c, d)
    cbd = -ccw_with(c_cross_d, c, d, b)
    if cbd != acb:
        return -1
    dac = ccw_with(c_cross_d, c, d, a)
    return 1 if dac == acb else -1


def robust_crossing_vec(
    a: np.ndarray, b: np.ndarray, c: np.ndarray, d: np.ndarray
) -> np.ndarray:
    """Vectorized robustCrossing over row-aligned edge pairs
    (N,3)x4 -> (N,) int8 in {-1, 0, 1}: fast determinant signs in one
    pass, scalar exact fallback only on rows with any determinant
    inside the uncertainty band (the same tiering as
    loop_contains_points)."""
    a, b, c, d = np.broadcast_arrays(
        np.atleast_2d(a), np.atleast_2d(b), np.atleast_2d(c), np.atleast_2d(d)
    )
    ab = np.cross(a, b)
    cd_ = np.cross(c, d)
    det_c = dot(ab, c)
    det_d = dot(ab, d)
    det_b = dot(cd_, b)
    det_a = dot(cd_, a)
    acb = -np.sign(det_c).astype(np.int8)
    bda = np.sign(det_d).astype(np.int8)
    cbd = -np.sign(det_b).astype(np.int8)
    dac = np.sign(det_a).astype(np.int8)
    out = np.full(a.shape[:-1], -1, dtype=np.int8)
    out[(acb == 0) | (bda == 0) | (cbd == 0) | (dac == 0)] = 0
    crossing = (bda == acb) & (cbd == acb) & (dac == acb) & (acb != 0)
    out[crossing] = 1
    uncertain = (
        (np.abs(det_c) <= CCW_THRESHOLD)
        | (np.abs(det_d) <= CCW_THRESHOLD)
        | (np.abs(det_b) <= CCW_THRESHOLD)
        | (np.abs(det_a) <= CCW_THRESHOLD)
    )
    for i in np.nonzero(uncertain)[0]:
        out[i] = robust_crossing(a[i], b[i], c[i], d[i])
    return out


def vertex_crossing(a, b, c, d) -> bool:
    """Shared-vertex crossing rule (S2EdgeUtil.php:136-164)."""
    if _points_equal(a, b) or _points_equal(c, d):
        return False
    if _points_equal(a, d):
        return ordered_ccw(ortho(a), c, b, a)
    if _points_equal(b, c):
        return ordered_ccw(ortho(b), d, a, b)
    if _points_equal(a, c):
        return ordered_ccw(ortho(a), d, b, a)
    if _points_equal(b, d):
        return ordered_ccw(ortho(b), c, a, b)
    return False


def edge_or_vertex_crossing(a, b, c, d) -> bool:
    """(S2EdgeUtil.php:173-185)."""
    crossing = robust_crossing(a, b, c, d)
    if crossing < 0:
        return False
    if crossing > 0:
        return True
    return vertex_crossing(a, b, c, d)


# --- point-in-loop parity (the refine kernel) --------------------------------------
ORIGIN = np.array([0.0, 1.0, 0.0])  # S2.origin() (S2.php:170-172)


def loop_contains_points(
    vertices: np.ndarray, origin_inside: bool, points: np.ndarray
) -> np.ndarray:
    """Vectorized S2Loop.contains(point) parity scan
    (S2Loop.php:601-631).

    ``vertices``: (M, 3) unit vectors, CCW, implicit closing edge.
    ``points``:   (N, 3) unit vectors.
    Returns (N,) bool.

    Fast path: one (N x M) matrix pass of thresholded determinant
    signs (the vectorized EdgeCrosser, S2EdgeUtil.php:338-453); rows
    with any determinant inside the uncertainty band are recomputed
    with the scalar exact ``edgeOrVertexCrossing``.  Chunked over N to
    bound memory at ~(chunk x M) doubles.
    """
    points = np.atleast_2d(points)
    n = len(points)
    m = len(vertices)
    c_mat = vertices  # (M,3)
    d_mat = np.roll(vertices, -1, axis=0)  # (M,3)
    cd = np.cross(c_mat, d_mat)  # (M,3)
    det_a = cd @ ORIGIN  # (M,) ccw(c,d,origin)
    dac = np.sign(det_a)[None, :]
    a_uncertain = np.abs(det_a) <= CCW_THRESHOLD

    inside = np.empty(n, dtype=bool)
    uncertain_rows: list[int] = []
    chunk = max(1, (1 << 22) // max(m, 1))  # ~32MB per (chunk x M) f64
    for s in range(0, n, chunk):
        p = points[s : s + chunk]  # (K,3)
        axb = np.cross(ORIGIN, p)  # (K,3)
        det_c = axb @ c_mat.T  # (K,M)  -ccw(a,b,c) sign source
        det_d = axb @ d_mat.T  # (K,M)   ccw(a,b,d)
        det_b = p @ cd.T  # (K,M)   ccw(c,d,b)
        unc = (
            (np.abs(det_c) <= CCW_THRESHOLD)
            | (np.abs(det_d) <= CCW_THRESHOLD)
            | (np.abs(det_b) <= CCW_THRESHOLD)
            | a_uncertain[None, :]
        ).any(axis=1)
        acb = -np.sign(det_c)
        bda = np.sign(det_d)
        cbd = -np.sign(det_b)
        crossing = (acb == bda) & (cbd == acb) & (dac == acb) & (acb != 0)
        inside[s : s + chunk] = bool(origin_inside) ^ (
            crossing.sum(axis=1) & 1
        ).astype(bool)
        uncertain_rows.extend((s + np.nonzero(unc)[0]).tolist())
    for i in uncertain_rows:
        p = points[i]
        ins = bool(origin_inside)
        for e in range(m):
            ins ^= edge_or_vertex_crossing(
                ORIGIN, p, vertices[e], vertices[(e + 1) % m]
            )
        inside[i] = ins
    return inside


def loop_origin_inside(vertices: np.ndarray) -> bool:
    """Whether S2.origin() is inside the loop (initOrigin semantics,
    S2Loop.php:794-817).

    A loop with consecutive vertices A,B,C contains vertex B iff the
    fixed vector R = ortho(B) is on the left side of the wedge ABC.
    Guess the origin is outside, run the parity test on vertex(1), and
    flip the guess if the result disagrees with the wedge test.
    """
    m = len(vertices)
    v0, v1, v2 = vertices[0], vertices[1 % m], vertices[2 % m]
    v1_inside = ordered_ccw(ortho(v1), v0, v2, v1)
    contains_v1 = bool(loop_contains_points(vertices, False, v1[None, :])[0])
    return v1_inside != contains_v1


# --- vertex angles (S2.angle / S2.turnAngle / S2.approxEquals) -----------------------
def vertex_angle(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Interior angle at vertex B of triangle ABC: angle between the
    great-circle normals of BA and BC (S2.php:764-766)."""
    return angle_between(np.cross(a, b), np.cross(c, b))


def turn_angle(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> float:
    """Exterior (turn) angle at vertex B walking A->B->C: positive for
    a left turn (CCW), negative right (S2.php:778-786); satisfies
    turnAngle(a,b,c) == -turnAngle(c,b,a)."""
    out_angle = float(angle_between(np.cross(b, a), np.cross(c, b)))
    return out_angle if robust_ccw(a, b, c) > 0 else -out_angle


def approx_equals(a, b, max_error: float = 1e-15) -> bool:
    """Angle-or-scalar approximate equality (S2.php:795-809)."""
    a_arr = np.asarray(a, dtype=np.float64)
    if a_arr.ndim >= 1 and a_arr.shape[-1] == 3:
        return float(angle_between(a_arr, np.asarray(b, dtype=np.float64))) <= max_error
    return abs(float(a) - float(b)) <= max_error


# --- area + true centroid (S2.signedArea / S2.trueCentroid) --------------------------
def planar_centroid(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Centroid of the planar triangle ABC (S2.php:413-415); normalize
    to get the surface centroid of the spherical triangle."""
    return (np.asarray(a) + np.asarray(b) + np.asarray(c)) / 3.0


def true_centroid_vec(
    a: np.ndarray, b: np.ndarray, c: np.ndarray
) -> np.ndarray:
    """Vectorized trueCentroid (S2.php:429-450): the mass centroid of
    each spherical triangle PREMULTIPLIED by its signed area — the
    quantity that sums linearly over triangle fans.  a/b/c
    broadcastable (...,3)."""
    a, b, c = np.broadcast_arrays(a, b, c)
    sina = norm(np.cross(b, c))
    sinb = norm(np.cross(c, a))
    sinc = norm(np.cross(a, b))
    with np.errstate(invalid="ignore", divide="ignore"):
        ra = np.where(sina == 0, 1.0, np.arcsin(np.minimum(1.0, sina)) / np.where(sina == 0, 1.0, sina))
        rb = np.where(sinb == 0, 1.0, np.arcsin(np.minimum(1.0, sinb)) / np.where(sinb == 0, 1.0, sinb))
        rc = np.where(sinc == 0, 1.0, np.arcsin(np.minimum(1.0, sinc)) / np.where(sinc == 0, 1.0, sinc))
    x = np.stack([a[..., 0], b[..., 0], c[..., 0]], axis=-1)
    y = np.stack([a[..., 1], b[..., 1], c[..., 1]], axis=-1)
    z = np.stack([a[..., 2], b[..., 2], c[..., 2]], axis=-1)
    r = np.stack([ra, rb, rc], axis=-1)
    return np.stack(
        [
            0.5 * dot(np.cross(y, z), r),
            0.5 * dot(np.cross(z, x), r),
            0.5 * dot(np.cross(x, y), r),
        ],
        axis=-1,
    )


def loop_area_centroid(vertices: np.ndarray) -> tuple[float, np.ndarray]:
    """Loop interior area (region to the LEFT, in [0, 4pi)) plus the
    true centroid premultiplied by area (S2Loop getAreaCentroid
    semantics, S2Loop.php:258-319 commented canonical).

    Triangles fan from an origin slightly displaced from vertex 0 (the
    canonical anti-instability trick for loops with near-antipodal
    vertices); a negative fan sum means the loop encloses the
    complement, fixed by += 4pi (the centroid needs no fix — the
    integral of position over the whole sphere is zero)."""
    from .cell import triangle_area

    m = len(vertices)
    if m < 3:
        return 0.0, np.zeros(3)
    origin = vertices[0].copy()
    axis = (int(largest_abs_component(origin[None, :])[0]) + 1) % 3
    origin[axis] += math.e * 1e-10
    origin = origin / norm(origin)
    area_sum = 0.0
    centroid_sum = np.zeros(3)
    for i in range(m):
        a, b = vertices[i], vertices[(i + 1) % m]
        area_sum += robust_ccw(origin, a, b) * triangle_area(origin, a, b)
        centroid_sum += true_centroid_vec(origin, a, b)
    if area_sum < 0:
        area_sum += 4 * math.pi
    return float(area_sum), centroid_sum


# --- point-to-edge distance (kNN kernel) --------------------------------------------
def edge_distance_radians(
    x: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Vectorized min distance from points X (N,3) to edge AB
    (S2EdgeUtil.php:271-309)."""
    x = np.atleast_2d(x)
    a_cross_b = robust_cross_prod(a, b)
    on_segment = simple_ccw_vec(a_cross_b, a, x) & simple_ccw_vec(
        x, b, a_cross_b
    )
    # geom.dot, not ``x @``, and dot3, not ``np.linalg.norm``: a BLAS
    # product rounds a row differently depending on its position in the
    # batch and a vector differently depending on its alignment, and
    # Spark hands this kernel batches of arbitrary composition.
    sin_dist = np.abs(dot(x, a_cross_b)) / np.sqrt(dot3(a_cross_b, a_cross_b))
    seg_dist = np.arcsin(np.minimum(1.0, sin_dist))
    lin2 = np.minimum(norm2(x - a), norm2(x - b))
    end_dist = 2.0 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(lin2)))
    return np.where(on_segment, seg_dist, end_dist)


# --- RectBounder (exact lat/lng bbox of a vertex chain) ------------------------------
def chain_rect_bound(vertices: np.ndarray) -> tuple[float, float, float, float]:
    """Exact latitude/longitude bound of a closed vertex chain
    (RectBounder semantics, S2EdgeUtil.php:461-528).

    Returns (lat_lo, lat_hi, lng_lo, lng_hi) radians, where the lng
    interval may be inverted (lo > hi) to represent wrapping across
    +-pi.  Edge interior latitude extrema occur where the edge's great
    circle normal has extremal z: max |lat| on the edge's circle is
    acos(|n_z| / |n|).
    """
    m = len(vertices)
    lats, lngs = xyz_to_latlng(vertices)
    lat_lo = float(np.min(lats))
    lat_hi = float(np.max(lats))

    # Edge interior latitude extrema (S2EdgeUtil.php:490-520): for edge
    # (a,b), if the max/min latitude point of the great circle lies
    # within the edge span, widen the interval.
    for e in range(m):
        a = vertices[e]
        b = vertices[(e + 1) % m]
        n = robust_cross_prod(a, b)
        nn = norm(n)
        if nn == 0:
            continue
        # The latitude extremum point on the great circle: gradient of
        # z constrained to the circle; it's attained at unit vector u
        # with u.z extremal: u = normalize(n x (n x z_axis))-ish.  Use
        # the standard test: extremum lies on edge iff the derivative
        # of z changes sign, i.e. (a x n).z and (b x n).z differ... we
        # use the simpler sufficient test from RectBounder: the
        # extremum longitude point m = n x (0,0,1) x n.
        z_axis = np.array([0.0, 0.0, 1.0])
        u = np.cross(n, np.cross(z_axis, n))
        un = norm(u)
        if un == 0:
            continue
        u = u / un  # northernmost point of the great circle
        for cand in (u, -u):
            # cand on the edge iff it's within the wedge of a..b.
            if simple_ccw_vec(n, a, cand[None, :])[0] and simple_ccw_vec(
                cand[None, :], b, n
            )[0]:
                lat_c = float(np.arctan2(cand[2], np.hypot(cand[0], cand[1])))
                lat_lo = min(lat_lo, lat_c)
                lat_hi = max(lat_hi, lat_c)

    # Longitude interval: accumulate edge spans on the circle
    # (S1Interval union with shortest-arc semantics).
    lng_lo, lng_hi = float(lngs[0]), float(lngs[0])

    def s1_union(lo, hi, lo2, hi2):
        # union of two (possibly wrapping) intervals, keeping result as
        # the smallest interval containing both; simplified for chains
        # built edge-by-edge via fromPointPair.
        def contains(lo, hi, p):
            if lo <= hi:
                return lo <= p <= hi
            return p >= lo or p <= hi

        if contains(lo, hi, lo2) and contains(lo, hi, hi2):
            return lo, hi
        # grow toward each endpoint by the shorter side
        for p in (lo2, hi2):
            if contains(lo, hi, p):
                continue
            dlo = (lo - p) % (2 * np.pi)
            dhi = (p - hi) % (2 * np.pi)
            if dlo <= dhi:
                lo = p
            else:
                hi = p
        return lo, hi

    for e in range(m):
        l1 = float(lngs[e])
        l2 = float(lngs[(e + 1) % m])
        # edge spans the shorter arc between its endpoint longitudes
        if abs(l2 - l1) <= np.pi:
            e_lo, e_hi = min(l1, l2), max(l1, l2)
        else:
            e_lo, e_hi = max(l1, l2), min(l1, l2)  # wraps
        lng_lo, lng_hi = s1_union(lng_lo, lng_hi, e_lo, e_hi)
    return lat_lo, lat_hi, lng_lo, lng_hi
