"""S2Cell geometry + R1/S1 intervals + LatLng rect (driver-side).

Re-derivations of:

* ``S2Cell`` init/vertices/edges/bounds (S2Cell.php:100-538) with the
  broken ``getEdgeRaw``/``contains`` helpers restored from the
  commented canonical ``getUNorm``/``getVNorm``/``faceXyzToUv``
  (S2Projections.php:273-323),
* ``R1Interval`` (R1Interval.php), ``S1Interval`` with inverted-
  interval wrap semantics (S1Interval.php:15-34,85-202, including the
  commented canonical ``contains``),
* ``S2LatLngRect`` containment/intersection (S2LatLngRect.php:320-452)
  and its cap bound (S2LatLngRect.php documented semantics),
* ``S2Cap`` algebra (S2Cap.php) with the missing ``isFull``/
  ``intersects`` and the S2Cell dispatch implemented per the canonical
  semantics the comments document (S2Cap.php:176-205 notes).

Also exposes vectorized cell-vertex materialization for raster<->vector
tiling (cell token -> 4 corner lat/lng).
"""

from __future__ import annotations

import math

import numpy as np

from . import cellid as cid
from . import geom

M_PI = math.pi
M_PI_2 = math.pi / 2
M_PI_4 = math.pi / 4
MAX_ERROR = 1.0 / (1 << 51)  # S2Cell.php:10
POLE_MIN_LAT = math.asin(math.sqrt(1.0 / 3.0)) - MAX_ERROR  # S2Cell.php:15
ROUND_UP = 1.0 + 1.0 / (1 << 52)  # S2Cap.php:3


# --- intervals ----------------------------------------------------------------
class R1Interval:
    """Closed interval on R (R1Interval.php:6-20)."""

    __slots__ = ("lo", "hi")

    def __init__(self, lo: float, hi: float):
        self.lo = lo
        self.hi = hi

    @staticmethod
    def empty() -> "R1Interval":
        return R1Interval(1.0, 0.0)

    @staticmethod
    def from_point_pair(p1: float, p2: float) -> "R1Interval":
        return R1Interval(min(p1, p2), max(p1, p2))

    def is_empty(self) -> bool:
        return self.lo > self.hi

    def get_length(self) -> float:
        """hi - lo; negative iff empty (R1Interval.php:62-64)."""
        return self.hi - self.lo

    def get_center(self) -> float:
        """Midpoint (R1Interval.php:55-57)."""
        return 0.5 * (self.lo + self.hi)

    def interior_contains(self, p: float) -> bool:
        """(R1Interval.php:76-78)."""
        return self.lo < p < self.hi

    def interior_intersects(self, y: "R1Interval") -> bool:
        """Interior of self meets y (R1Interval.php:102-104)."""
        return y.lo < self.hi and self.lo < y.hi and self.lo < self.hi and y.lo <= y.hi

    def approx_equals(self, y: "R1Interval", max_error: float = 1e-15) -> bool:
        """Symmetric endpoint tolerance; empty matches any interval of
        length <= max_error (R1Interval.php:257-270)."""
        if self.is_empty():
            return y.get_length() <= max_error
        if y.is_empty():
            return self.get_length() <= max_error
        return abs(y.lo - self.lo) + abs(y.hi - self.hi) <= max_error

    def contains(self, p: float) -> bool:
        return self.lo <= p <= self.hi

    def contains_interval(self, y: "R1Interval") -> bool:
        if y.is_empty():
            return True
        return y.lo >= self.lo and y.hi <= self.hi

    def intersects(self, y: "R1Interval") -> bool:
        if self.lo <= y.lo:
            return y.lo <= self.hi and y.lo <= y.hi
        return self.lo <= y.hi and self.lo <= self.hi

    def expanded(self, radius: float) -> "R1Interval":
        if self.is_empty():
            return self
        return R1Interval(self.lo - radius, self.hi + radius)

    def intersection(self, y: "R1Interval") -> "R1Interval":
        return R1Interval(max(self.lo, y.lo), min(self.hi, y.hi))

    def union(self, y: "R1Interval") -> "R1Interval":
        if self.is_empty():
            return y
        if y.is_empty():
            return self
        return R1Interval(min(self.lo, y.lo), max(self.hi, y.hi))

    def add_point(self, p: float) -> "R1Interval":
        if self.is_empty():
            return R1Interval(p, p)
        return R1Interval(min(self.lo, p), max(self.hi, p))


class S1Interval:
    """Interval on the unit circle, lo/hi in [-pi, pi]; lo > hi means the
    interval wraps (S1Interval.php:15-34)."""

    __slots__ = ("lo", "hi")

    def __init__(self, lo: float, hi: float):
        if lo == -M_PI and hi != M_PI:
            lo = M_PI
        if hi == -M_PI and lo != M_PI:
            hi = M_PI
        self.lo = lo
        self.hi = hi

    @staticmethod
    def full() -> "S1Interval":
        return S1Interval(-M_PI, M_PI)

    @staticmethod
    def empty() -> "S1Interval":
        return S1Interval(M_PI, -M_PI)

    @staticmethod
    def from_point_pair(p1: float, p2: float) -> "S1Interval":
        if p1 == -M_PI:
            p1 = M_PI
        if p2 == -M_PI:
            p2 = M_PI
        if S1Interval.positive_distance(p1, p2) <= M_PI:
            return S1Interval(p1, p2)
        return S1Interval(p2, p1)

    @staticmethod
    def positive_distance(a: float, b: float) -> float:
        d = b - a
        if d >= 0:
            return d
        return (b + M_PI) - (a - M_PI)

    def is_full(self) -> bool:
        return self.hi - self.lo == 2 * M_PI

    def is_empty(self) -> bool:
        return self.lo - self.hi == 2 * M_PI

    def is_inverted(self) -> bool:
        return self.lo > self.hi

    def get_length(self) -> float:
        length = self.hi - self.lo
        if length >= 0:
            return length
        length += 2 * M_PI
        return length if length > 0 else -1.0

    def complement_center(self) -> float:
        """Center of the complement interval (S1Interval semantics:
        complement of [lo,hi] is [hi,lo]; a point interval's complement
        is full, center 0).  Used by the rect distance dispatch."""
        if self.lo == self.hi:
            return 0.0  # complement is full
        c = 0.5 * (self.lo + self.hi)
        if not self.is_inverted():
            # complement is the inverted interval (hi, lo): shift by pi
            return c + M_PI if c <= 0 else c - M_PI
        return c

    def get_center(self) -> float:
        """Interval midpoint, in (-pi, pi] for inverted intervals
        (S1Interval.php:98-107)."""
        c = 0.5 * (self.lo + self.hi)
        if not self.is_inverted():
            return c
        return c + M_PI if c <= 0 else c - M_PI

    def union(self, y: "S1Interval") -> "S1Interval":
        """Smallest interval containing both — canonical S2 semantics;
        the PHP port omits S1Interval::union entirely, so this restores
        it (used by the block-rect folds in operators/region_distance)."""
        if y.is_empty():
            return self
        if self.is_empty():
            return y
        if self.contains(y.lo):
            if self.contains(y.hi):
                if self.contains_interval(y):
                    return self
                return S1Interval.full()
            return S1Interval(self.lo, y.hi)
        if self.contains(y.hi):
            return S1Interval(y.lo, self.hi)
        if y.contains(self.lo):  # y covers self entirely
            return y
        # disjoint: extend across the smaller gap
        dlo = S1Interval.positive_distance(y.hi, self.lo)
        dhi = S1Interval.positive_distance(self.hi, y.lo)
        if dlo < dhi:
            return S1Interval(y.lo, self.hi)
        return S1Interval(self.lo, y.hi)

    def contains(self, p: float) -> bool:
        """Canonical contains (the commented S1Interval.php:126-150)."""
        if p == -M_PI:
            p = M_PI
        if self.is_inverted():
            return (p >= self.lo or p <= self.hi) and not self.is_empty()
        return self.lo <= p <= self.hi

    def contains_interval(self, y: "S1Interval") -> bool:
        if self.is_inverted():
            if y.is_inverted():
                return y.lo >= self.lo and y.hi <= self.hi
            return (y.lo >= self.lo or y.hi <= self.hi) and not self.is_empty()
        if y.is_inverted():
            return self.is_full() or y.is_empty()
        return y.lo >= self.lo and y.hi <= self.hi

    def intersects(self, y: "S1Interval") -> bool:
        if self.is_empty() or y.is_empty():
            return False
        if self.is_inverted():
            return y.is_inverted() or y.lo <= self.hi or y.hi >= self.lo
        if y.is_inverted():
            return y.lo <= self.hi or y.hi >= self.lo
        return y.lo <= self.hi and y.hi >= self.lo

    def expanded(self, margin: float) -> "S1Interval":
        if margin == 0:
            return self
        if self.is_empty():
            return self
        if self.get_length() + 2 * margin >= 2 * M_PI - 1e-15:
            return S1Interval.full()
        lo = math.remainder(self.lo - margin, 2 * M_PI)
        hi = math.remainder(self.hi + margin, 2 * M_PI)
        if lo == -M_PI:
            lo = M_PI
        return S1Interval(lo, hi)

    def add_point(self, p: float) -> "S1Interval":
        if p == -M_PI:
            p = M_PI
        if self.contains(p):
            return self
        if self.is_empty():
            return S1Interval(p, p)
        dlo = S1Interval.positive_distance(p, self.lo)
        dhi = S1Interval.positive_distance(self.hi, p)
        if dlo < dhi:
            return S1Interval(p, self.hi)
        return S1Interval(self.lo, p)


class LatLngRect:
    """S2LatLngRect (S2LatLngRect.php:3-23)."""

    __slots__ = ("lat", "lng")

    def __init__(self, lat: R1Interval, lng: S1Interval):
        self.lat = lat
        self.lng = lng

    @staticmethod
    def full() -> "LatLngRect":
        return LatLngRect(R1Interval(-M_PI_2, M_PI_2), S1Interval.full())

    @staticmethod
    def empty() -> "LatLngRect":
        return LatLngRect(R1Interval.empty(), S1Interval.empty())

    @staticmethod
    def full_lat() -> R1Interval:
        return R1Interval(-M_PI_2, M_PI_2)

    @staticmethod
    def full_lng() -> S1Interval:
        """(S2LatLngRect.php:43-45)."""
        return S1Interval.full()

    @staticmethod
    def from_point(lat: float, lng: float) -> "LatLngRect":
        """Degenerate rect holding one latlng point, radians
        (S2LatLngRect.php:62-65)."""
        return LatLngRect(R1Interval(lat, lat), S1Interval(lng, lng))

    @staticmethod
    def from_center_size(
        center_lat: float, center_lng: float, size_lat: float, size_lng: float
    ) -> "LatLngRect":
        """Rect of the given lat/lng span centered on a point, radians
        (S2LatLngRect.php:57-59): the point rect expanded by size/2,
        latitude clamped to the valid range."""
        return LatLngRect.from_point(center_lat, center_lng).expanded(
            0.5 * size_lat, 0.5 * size_lng
        )

    def expanded(self, margin_lat: float, margin_lng: float) -> "LatLngRect":
        """Grow each side; lat intersected back into the valid range,
        lng wrapping to full past a half-turn (S2LatLngRect.php:485-495)."""
        if self.is_empty():
            return self
        return LatLngRect(
            self.lat.expanded(margin_lat).intersection(LatLngRect.full_lat()),
            self.lng.expanded(margin_lng),
        )

    def get_size(self) -> tuple[float, float]:
        """(lat span, lng span) in radians (S2LatLngRect.php:312-314)."""
        return self.lat.get_length(), self.lng.get_length()

    @staticmethod
    def from_point_pair(
        lat1: float, lng1: float, lat2: float, lng2: float
    ) -> "LatLngRect":
        """Minimal rect containing two latlng points (radians)
        (S2LatLngRect.php:74-77): shortest-arc lng interval."""
        return LatLngRect(
            R1Interval.from_point_pair(lat1, lat2),
            S1Interval.from_point_pair(lng1, lng2),
        )

    @staticmethod
    def from_edge(a: np.ndarray, b: np.ndarray) -> "LatLngRect":
        """Rect containing the geodesic edge AB — wider than the
        endpoint rect when the latitude extremum lies in the edge
        interior (S2LatLngRect.php:84-112)."""
        a_lat, a_lng = geom.xyz_to_latlng(a)
        b_lat, b_lng = geom.xyz_to_latlng(b)
        r = LatLngRect.from_point_pair(
            float(a_lat), float(a_lng), float(b_lat), float(b_lng)
        )
        ab = geom.robust_cross_prod(a, b)
        direction = np.cross(ab, np.array([0.0, 0.0, 1.0]))
        da = geom.dot3(direction, a)
        db = geom.dot3(direction, b)
        if da * db >= 0:
            return r  # extremum at a vertex
        abs_lat = math.acos(abs(float(ab[2]) / float(geom.norm(ab))))
        if da < 0:
            return LatLngRect(R1Interval(r.lat.lo, abs_lat), r.lng)
        return LatLngRect(R1Interval(-abs_lat, r.lat.hi), r.lng)

    def is_empty(self) -> bool:
        return self.lat.is_empty()

    def contains_latlng(self, lat: float, lng: float) -> bool:
        return self.lat.contains(lat) and self.lng.contains(lng)

    def contains_rect(self, y: "LatLngRect") -> bool:
        return self.lat.contains_interval(y.lat) and self.lng.contains_interval(
            y.lng
        )

    def intersects_rect(self, y: "LatLngRect") -> bool:
        return self.lat.intersects(y.lat) and self.lng.intersects(y.lng)

    def add_point_xyz(self, p: np.ndarray) -> "LatLngRect":
        lat, lng = geom.xyz_to_latlng(p)
        return LatLngRect(
            self.lat.add_point(float(lat)), self.lng.add_point(float(lng))
        )

    def get_vertices_xyz(self) -> np.ndarray:
        """Four corners (lo/lo, lo/hi, hi/hi, hi/lo) as xyz."""
        lats = [self.lat.lo, self.lat.lo, self.lat.hi, self.lat.hi]
        lngs = [self.lng.lo, self.lng.hi, self.lng.hi, self.lng.lo]
        return geom.latlng_to_xyz(np.array(lats), np.array(lngs))

    def get_center_xyz(self) -> np.ndarray:
        lat = 0.5 * (self.lat.lo + self.lat.hi)
        if self.lng.is_inverted():
            lng = math.remainder(
                0.5 * (self.lng.lo + self.lng.hi) + M_PI, 2 * M_PI
            )
        else:
            lng = 0.5 * (self.lng.lo + self.lng.hi)
        return geom.latlng_to_xyz(np.array(lat), np.array(lng))

    def get_distance_latlng(self, lat: float, lng: float) -> float:
        """Min surface distance (radians) from a point to the rect —
        boundary or interior (S2LatLngRect.php:222-243).

        If the point's longitude falls inside the rect's lng interval
        the nearest point is due north/south (pure latitude clamp);
        otherwise the nearest rect point lies on the closer of the two
        longitudinal boundary edges (meridian segments), chosen by
        which half of the lng-interval complement holds the point."""
        if self.is_empty():
            raise ValueError("distance to an empty rect is undefined")
        if self.lng.contains(lng):
            return max(0.0, max(lat - self.lat.hi, self.lat.lo - lat))
        # nearer meridian: the complement half adjacent to hi vs lo
        # (S1Interval(hi, complement-center) contains p.lng <=> hi side)
        comp_center = self.lng.complement_center()
        interval = S1Interval(self.lng.hi, comp_center)
        a_lng = self.lng.hi if interval.contains(lng) else self.lng.lo
        lo = geom.latlng_to_xyz(np.array(self.lat.lo), np.array(a_lng))
        hi = geom.latlng_to_xyz(np.array(self.lat.hi), np.array(a_lng))
        p = geom.latlng_to_xyz(np.array(lat), np.array(lng))
        return float(geom.edge_distance_radians(p[None, :], lo, hi)[0])

    def get_distance_rect(self, other: "LatLngRect") -> float:
        """Min surface distance (radians) between two non-empty rects
        (S2LatLngRect.php:246-306)."""
        a, b = self, other
        if a.is_empty() or b.is_empty():
            raise ValueError("distance to an empty rect is undefined")
        if a.lng.intersects(b.lng):
            if a.lat.intersects(b.lat):
                return 0.0  # rects overlap
            # shortest path runs along a line of longitude
            if a.lat.lo > b.lat.hi:
                return a.lat.lo - b.lat.hi
            return b.lat.lo - a.lat.hi
        # disjoint longitude intervals: nearest pair of meridian edges
        lo_hi = S1Interval.from_point_pair(a.lng.lo, b.lng.hi)
        hi_lo = S1Interval.from_point_pair(a.lng.hi, b.lng.lo)
        if lo_hi.get_length() < hi_lo.get_length():
            a_lng, b_lng = a.lng.lo, b.lng.hi
        else:
            a_lng, b_lng = a.lng.hi, b.lng.lo
        a_lo = geom.latlng_to_xyz(np.array(a.lat.lo), np.array(a_lng))
        a_hi = geom.latlng_to_xyz(np.array(a.lat.hi), np.array(a_lng))
        b_lo = geom.latlng_to_xyz(np.array(b.lat.lo), np.array(b_lng))
        b_hi = geom.latlng_to_xyz(np.array(b.lat.hi), np.array(b_lng))
        ends = np.stack([a_lo, a_hi])
        endsb = np.stack([b_lo, b_hi])
        return float(
            min(
                geom.edge_distance_radians(ends, b_lo, b_hi).min(),
                geom.edge_distance_radians(endsb, a_lo, a_hi).min(),
            )
        )

    def get_cap_bound(self) -> "Cap":
        """Smaller of a pole cap and a center cap (canonical
        S2LatLngRect.getCapBound, doc at S2LatLngRect.php:534-576)."""
        if self.is_empty():
            return Cap.empty()
        if self.lat.lo + self.lat.hi < 0:
            pole_z, pole_angle = -1.0, M_PI_2 + self.lat.hi
        else:
            pole_z, pole_angle = 1.0, M_PI_2 - self.lat.lo
        pole_cap = Cap.from_axis_angle(
            np.array([0.0, 0.0, pole_z]), pole_angle
        )
        lng_span = self.lng.hi - self.lng.lo
        if math.remainder(lng_span, 2 * M_PI) >= 0 and lng_span < 2 * M_PI:
            mid_cap = Cap(self.get_center_xyz(), 0.0)
            for v in self.get_vertices_xyz():
                mid_cap = mid_cap.add_point(v)
            if mid_cap.height < pole_cap.height:
                return mid_cap
        return pole_cap


# --- cap ------------------------------------------------------------------------
class Cap:
    """Spherical cap: axis + height h = 1 - cos(theta) (S2Cap.php:5-31)."""

    __slots__ = ("axis", "height", "_ax", "_ay", "_az")

    def __init__(self, axis: np.ndarray, height: float):
        self.axis = np.asarray(axis, dtype=np.float64)
        self.height = float(height)
        self._ax, self._ay, self._az = (
            float(self.axis[0]),
            float(self.axis[1]),
            float(self.axis[2]),
        )

    @staticmethod
    def empty() -> "Cap":
        return Cap(np.array([1.0, 0.0, 0.0]), -1.0)

    @staticmethod
    def full() -> "Cap":
        return Cap(np.array([1.0, 0.0, 0.0]), 2.0)

    @staticmethod
    def from_axis_angle(axis: np.ndarray, angle_rad: float) -> "Cap":
        # h = 2 * sin^2(theta / 2) (S2Cap.php:56-70 semantics)
        d = math.sin(0.5 * min(angle_rad, M_PI))
        return Cap(axis, 2 * d * d)

    @staticmethod
    def from_axis_area(axis: np.ndarray, area: float) -> "Cap":
        """Cap of the given area in steradians: h = area / 2π
        (S2Cap.php:74-77)."""
        return Cap(axis, area / (2 * M_PI))

    def area(self) -> float:
        """2π * h steradians, 0 for empty caps (S2Cap.php:113-115)."""
        return 2 * M_PI * max(0.0, self.height)

    def is_valid(self) -> bool:
        """Unit axis and height <= 2; negative heights (empty caps)
        are allowed (S2Cap.php:141-147, S2.php:181-183)."""
        n2 = self._ax * self._ax + self._ay * self._ay + self._az * self._az
        return abs(n2 - 1.0) <= 1e-15 and self.height <= 2

    def interior_intersects(self, other: "Cap") -> bool:
        """Interior(self) ∩ other != ∅ ⟺ complement(interior(self))
        does not contain other; NOT symmetric (S2Cap.php:211-215)."""
        return not self.complement().contains_cap(other)

    def approx_equals(self, other: "Cap", max_error: float = 1e-14) -> bool:
        """Axis and height within max_error, with empty/full treated
        as equivalence classes (S2Cap.php:370-376)."""
        return (
            (
                bool(np.all(np.abs(self.axis - other.axis) < max_error))
                and abs(self.height - other.height) <= max_error
            )
            or (self.is_empty() and other.height <= max_error)
            or (other.is_empty() and self.height <= max_error)
            or (self.is_full() and other.height >= 2 - max_error)
            or (other.is_full() and self.height >= 2 - max_error)
        )

    def angle_radians(self) -> float:
        if self.is_empty():
            return -1.0
        return 2 * math.asin(math.sqrt(0.5 * self.height))

    def is_empty(self) -> bool:
        return self.height < 0

    def is_full(self) -> bool:
        # Missing in the port (S2Cap.php references it); canonical.
        return self.height >= 2

    def complement(self) -> "Cap":
        c_height = -1.0 if self.is_full() else 2 - max(self.height, 0.0)
        return Cap(-self.axis, c_height)

    def contains_point(self, p) -> bool:
        dx = self._ax - float(p[0])
        dy = self._ay - float(p[1])
        dz = self._az - float(p[2])
        return dx * dx + dy * dy + dz * dz <= 2 * self.height or self.is_full()

    def contains_points(self, pts: np.ndarray) -> np.ndarray:
        """Vectorized closed containment over (N,3) points
        (S2Cap.php:225-228 semantics with <=)."""
        d = pts - self.axis
        return geom.norm2(d) <= 2 * self.height

    def interior_contains_point(self, p: np.ndarray) -> bool:
        d = self.axis - p
        return self.is_full() or geom.dot3(d, d) < 2 * self.height

    def add_point(self, p) -> "Cap":
        if self.is_empty():
            return Cap(np.array([float(p[0]), float(p[1]), float(p[2])]), 0.0)
        dx = self._ax - float(p[0])
        dy = self._ay - float(p[1])
        dz = self._az - float(p[2])
        dist2 = dx * dx + dy * dy + dz * dz
        return Cap(self.axis, max(self.height, ROUND_UP * 0.5 * dist2))

    def add_cap(self, other: "Cap") -> "Cap":
        """Grow this cap (keeping its axis) until it includes
        ``other`` (S2Cap.php:259-276): empty self adopts other; the
        opening angle widens to reach other's far rim, saturating to
        the full cap at pi.  The multi-region kNN prune folds region
        cap bounds into block caps with this."""
        if self.is_empty():
            return Cap(other.axis.copy(), other.height)
        if other.is_empty():
            return Cap(self.axis.copy(), self.height)
        angle = (
            float(geom.angle_between(self.axis, other.axis))
            + other.angle_radians()
        )
        if angle >= M_PI:
            return Cap(self.axis, 2.0)
        d = math.sin(0.5 * angle)
        return Cap(self.axis, max(self.height, ROUND_UP * 2 * d * d))

    def contains_cap(self, other: "Cap") -> bool:
        if self.is_full() or other.is_empty():
            return True
        return self.angle_radians() >= float(
            geom.angle_between(self.axis, other.axis)
        ) + other.angle_radians()

    # -- cell relations (canonical semantics; the port's versions call
    # missing helpers, S2Cap.php:181,349-360) --
    def _intersects_cell(self, cell: "Cell", vertices) -> bool:
        if self.height >= 1:
            return False
        if self.is_empty():
            return False
        if cell.contains_point((self._ax, self._ay, self._az)):
            return True
        sin2_angle = self.height * (2 - self.height)
        ax, ay, az = self._ax, self._ay, self._az
        for k in range(4):
            ex, ey, ez = cell.get_edge_raw_scalar(k)
            dot = ax * ex + ay * ey + az * ez
            if dot > 0:
                continue
            if dot * dot > sin2_angle * (ex * ex + ey * ey + ez * ez):
                return False
            # direction = edge x axis
            dx = ey * az - ez * ay
            dy = ez * ax - ex * az
            dz = ex * ay - ey * ax
            v0 = vertices[k]
            v1 = vertices[(k + 1) & 3]
            if (
                dx * v0[0] + dy * v0[1] + dz * v0[2] < 0
                and dx * v1[0] + dy * v1[1] + dz * v1[2] > 0
            ):
                return True
        return False

    def contains_cell(self, cell: "Cell") -> bool:
        vertices = cell.get_vertices_scalar()
        for k in range(4):
            if not self.contains_point(vertices[k]):
                return False
        return not self.complement()._intersects_cell(cell, vertices)

    def may_intersect_cell(self, cell: "Cell") -> bool:
        vertices = cell.get_vertices_scalar()
        for k in range(4):
            if self.contains_point(vertices[k]):
                return True
        return self._intersects_cell(cell, vertices)

    def get_rect_bound(self) -> LatLngRect:
        """(S2Cap.php:292-347)."""
        if self.is_empty():
            return LatLngRect.empty()
        axis_lat, axis_lng = geom.xyz_to_latlng(self.axis)
        axis_lat, axis_lng = float(axis_lat), float(axis_lng)
        cap_angle = self.angle_radians()
        all_longitudes = False
        lat = [axis_lat - cap_angle, axis_lat + cap_angle]
        lng = [-M_PI, M_PI]
        if lat[0] <= -M_PI_2:
            lat[0] = -M_PI_2
            all_longitudes = True
        if lat[1] >= M_PI_2:
            lat[1] = M_PI_2
            all_longitudes = True
        if not all_longitudes:
            sin_a = math.sin(cap_angle)
            sin_c = math.cos(axis_lat)
            if sin_a <= sin_c:
                angle_a = math.asin(sin_a / sin_c)
                lng[0] = math.remainder(axis_lng - angle_a, 2 * M_PI)
                lng[1] = math.remainder(axis_lng + angle_a, 2 * M_PI)
        return LatLngRect(
            R1Interval(lat[0], lat[1]), S1Interval(lng[0], lng[1])
        )


# --- cell -------------------------------------------------------------------------
def _get_u_norm(face: int, u: float) -> np.ndarray:
    """(S2Projections.php:287-302, commented canonical)."""
    return np.array(
        [
            [u, -1.0, 0.0],
            [1.0, u, 0.0],
            [1.0, 0.0, u],
            [-u, 0.0, 1.0],
            [0.0, -u, 1.0],
            [0.0, -1.0, -u],
        ][face]
    )


def _get_v_norm(face: int, v: float) -> np.ndarray:
    """(S2Projections.php:304-319, commented canonical)."""
    return np.array(
        [
            [-v, 0.0, 1.0],
            [0.0, -v, 1.0],
            [0.0, -1.0, -v],
            [v, -1.0, 0.0],
            [1.0, v, 0.0],
            [1.0, 0.0, v],
        ][face]
    )


class Cell:
    """Materialized cell: face, level, uv bounds (S2Cell.php:20-47,
    init S2Cell.php:496-514)."""

    __slots__ = ("id", "face", "level", "orientation", "uv", "_vertices")

    def __init__(self, cell_id: int):
        self.id = int(cell_id)
        face, i, j, orientation = cid.decode_scalar(self.id)
        self.face = face
        self.orientation = orientation
        self.level = cid.level_scalar(self.id)
        self._vertices = None
        cell_size = 1 << (cid.MAX_LEVEL - self.level)
        k_scale = 1.0 / cid.MAX_SIZE
        self.uv = [[0.0, 0.0], [0.0, 0.0]]
        for d, ij in enumerate((i, j)):
            sij_lo = (ij & -cell_size) * 2 - cid.MAX_SIZE
            sij_hi = sij_lo + cell_size * 2
            self.uv[d][0] = cid.st_to_uv_scalar(k_scale * sij_lo)
            self.uv[d][1] = cid.st_to_uv_scalar(k_scale * sij_hi)

    @staticmethod
    def from_face(face: int) -> "Cell":
        # fromFacePosLevel(face, 0, 0) (S2CellId.php:88-90)
        return Cell((face << cid.POS_BITS) + (1 << 60))

    @staticmethod
    def from_face_pos_level(face: int, pos: int, level: int) -> "Cell":
        """Cell at (face, 61-bit Hilbert position, level)
        (S2Cell.php:76-78, S2CellId.php:88-90): seed the leaf at
        ``pos|1`` then truncate to the requested level."""
        leaf = np.array([(face << cid.POS_BITS) + (pos | 1)], dtype=np.uint64)
        return Cell(int(cid.parent(leaf, level)[0]))

    def get_center_uv(self) -> tuple[float, float]:
        """Center (u, v) on the cell's face (S2Cell.php:242-256).
        Midpoint of the uv bounds computed at init — identical to the
        reference's si/ti form because st_to_uv is monotone and the
        center st is the exact midpoint of the aligned st bounds."""
        face, i, j, _ = cid.decode_scalar(self.id)
        cell_size = 1 << (cid.MAX_LEVEL - self.level)
        k_scale = 1.0 / cid.MAX_SIZE
        si = (i & -cell_size) * 2 + cell_size - cid.MAX_SIZE
        ti = (j & -cell_size) * 2 + cell_size - cid.MAX_SIZE
        return (
            cid.st_to_uv_scalar(k_scale * si),
            cid.st_to_uv_scalar(k_scale * ti),
        )

    def get_vertex_raw(self, k: int) -> np.ndarray:
        """CCW order SW, SE, NE, NW (S2Cell.php:126-138)."""
        u = self.uv[0][(k >> 1) ^ (k & 1)]
        v = self.uv[1][k >> 1]
        return np.array(cid.face_uv_to_xyz_scalar(self.face, u, v))

    def get_vertices(self) -> np.ndarray:
        """(4,3) normalized vertices (cached)."""
        if self._vertices is None:
            out = np.empty((4, 3), dtype=np.float64)
            for k in range(4):
                u = self.uv[0][(k >> 1) ^ (k & 1)]
                v = self.uv[1][k >> 1]
                x, y, z = cid.face_uv_to_xyz_scalar(self.face, u, v)
                n = math.sqrt(x * x + y * y + z * z)
                out[k, 0] = x / n
                out[k, 1] = y / n
                out[k, 2] = z / n
            self._vertices = out
        return self._vertices

    def get_vertices_scalar(self) -> list[tuple[float, float, float]]:
        """Normalized vertices as tuples (hot driver-side path)."""
        out = []
        for k in range(4):
            u = self.uv[0][(k >> 1) ^ (k & 1)]
            v = self.uv[1][k >> 1]
            x, y, z = cid.face_uv_to_xyz_scalar(self.face, u, v)
            n = math.sqrt(x * x + y * y + z * z)
            out.append((x / n, y / n, z / n))
        return out

    def get_edge_raw_scalar(self, k: int) -> tuple[float, float, float]:
        """Inward edge normal as a tuple (S2Cell.php:152-163)."""
        f = self.face
        if k == 0:
            v = self.uv[1][0]
            return [(-v, 0.0, 1.0), (0.0, -v, 1.0), (0.0, -1.0, -v),
                    (v, -1.0, 0.0), (1.0, v, 0.0), (1.0, 0.0, v)][f]
        if k == 1:
            u = self.uv[0][1]
            return [(u, -1.0, 0.0), (1.0, u, 0.0), (1.0, 0.0, u),
                    (-u, 0.0, 1.0), (0.0, -u, 1.0), (0.0, -1.0, -u)][f]
        if k == 2:
            v = self.uv[1][1]
            return [(v, 0.0, -1.0), (0.0, v, -1.0), (0.0, 1.0, v),
                    (-v, 1.0, 0.0), (-1.0, -v, 0.0), (-1.0, 0.0, -v)][f]
        u = self.uv[0][0]
        return [(-u, 1.0, 0.0), (-1.0, -u, 0.0), (-1.0, 0.0, -u),
                (u, 0.0, -1.0), (0.0, u, -1.0), (0.0, 1.0, u)][f]

    def get_edge_raw(self, k: int) -> np.ndarray:
        """Inward-facing normal of edge k (S2Cell.php:152-163, with the
        missing norm helpers restored)."""
        if k == 0:
            return _get_v_norm(self.face, self.uv[1][0])  # South
        if k == 1:
            return _get_u_norm(self.face, self.uv[0][1])  # East
        if k == 2:
            return -_get_v_norm(self.face, self.uv[1][1])  # North
        return -_get_u_norm(self.face, self.uv[0][0])  # West

    def contains_point(self, p: np.ndarray) -> bool:
        """(u,v) bounds test via faceXyzToUv (S2Cell.php:474-490 with
        S2Projections.php:274-286 restored)."""
        f = self.face
        comp = float(p[f % 3])
        if f < 3:
            if comp <= 0:
                return False
        elif comp >= 0:
            return False
        u, v = cid.valid_face_xyz_to_uv_scalar(
            f, float(p[0]), float(p[1]), float(p[2])
        )
        return (
            self.uv[0][0] <= u <= self.uv[0][1]
            and self.uv[1][0] <= v <= self.uv[1][1]
        )

    def contains_points_xyz(self, pts: np.ndarray) -> np.ndarray:
        """Vectorized contains over (N,3) unit vectors."""
        pts = np.atleast_2d(pts)
        f = self.face
        comp = pts[:, f % 3]
        ok = comp > 0 if f < 3 else comp < 0
        with np.errstate(divide="ignore", invalid="ignore"):
            u, v = cid.valid_face_xyz_to_uv(
                np.full(len(pts), f), pts[:, 0], pts[:, 1], pts[:, 2]
            )
        return (
            ok
            & (self.uv[0][0] <= u)
            & (u <= self.uv[0][1])
            & (self.uv[1][0] <= v)
            & (v <= self.uv[1][1])
        )

    def _get_latitude(self, i: int, j: int) -> float:
        x, y, z = cid.face_uv_to_xyz_scalar(self.face, self.uv[0][i], self.uv[1][j])
        return math.atan2(z, math.sqrt(x * x + y * y))

    def _get_longitude(self, i: int, j: int) -> float:
        x, y, _ = cid.face_uv_to_xyz_scalar(self.face, self.uv[0][i], self.uv[1][j])
        return math.atan2(y, x)

    def get_rect_bound(self) -> LatLngRect:
        """(S2Cell.php:384-459)."""
        if self.level > 0:
            u = self.uv[0][0] + self.uv[0][1]
            v = self.uv[1][0] + self.uv[1][1]
            u_axis_z = [0.0, 0.0, 0.0, -1.0, -1.0, 0.0][self.face]
            v_axis_z = [1.0, 1.0, 0.0, 0.0, 0.0, 0.0][self.face]
            i = (1 if u < 0 else 0) if u_axis_z == 0 else (1 if u > 0 else 0)
            j = (1 if v < 0 else 0) if v_axis_z == 0 else (1 if v > 0 else 0)
            lat = R1Interval.from_point_pair(
                self._get_latitude(i, j), self._get_latitude(1 - i, 1 - j)
            )
            lat = lat.expanded(MAX_ERROR).intersection(LatLngRect.full_lat())
            if lat.lo == -M_PI_2 or lat.hi == M_PI_2:
                return LatLngRect(lat, S1Interval.full())
            lng = S1Interval.from_point_pair(
                self._get_longitude(i, 1 - j), self._get_longitude(1 - i, j)
            )
            return LatLngRect(lat, lng.expanded(MAX_ERROR))
        bounds = [
            (R1Interval(-M_PI_4, M_PI_4), S1Interval(-M_PI_4, M_PI_4)),
            (R1Interval(-M_PI_4, M_PI_4), S1Interval(M_PI_4, 3 * M_PI_4)),
            (R1Interval(POLE_MIN_LAT, M_PI_2), S1Interval(-M_PI, M_PI)),
            (R1Interval(-M_PI_4, M_PI_4), S1Interval(3 * M_PI_4, -3 * M_PI_4)),
            (R1Interval(-M_PI_4, M_PI_4), S1Interval(-3 * M_PI_4, -M_PI_4)),
            (R1Interval(-M_PI_2, -POLE_MIN_LAT), S1Interval(-M_PI, M_PI)),
        ]
        lat, lng = bounds[self.face]
        return LatLngRect(lat, lng)

    def get_cap_bound(self) -> Cap:
        """(S2Cell.php:341-360)."""
        u = 0.5 * (self.uv[0][0] + self.uv[0][1])
        v = 0.5 * (self.uv[1][0] + self.uv[1][1])
        x, y, z = cid.face_uv_to_xyz_scalar(self.face, u, v)
        n = math.sqrt(x * x + y * y + z * z)
        cap = Cap(np.array([x / n, y / n, z / n]), 0.0)
        for vert in self.get_vertices():
            cap = cap.add_point(vert)
        return cap

    def children(self) -> list["Cell"]:
        """Four children in traversal order (subdivide semantics,
        S2Cell.php:180-212; built from child ids — identical uv bounds)."""
        if self.level >= cid.MAX_LEVEL:
            return []
        return [Cell(c) for c in cid.children_scalar(self.id)]

    def exact_area(self) -> float:
        """(S2Cell.php:306-319)."""
        v = self.get_vertices()
        return triangle_area(v[0], v[1], v[2]) + triangle_area(
            v[0], v[2], v[3]
        )

    def average_area(self) -> float:
        from .metric import AVG_AREA

        return AVG_AREA.get_value(self.level)

    def approx_area(self) -> float:
        """Flat quadrilateral area (half the diagonal cross product)
        with a spherical-cap curvature correction — within 3% of
        exact, much cheaper (S2Cell.php:285-303)."""
        if self.level < 2:
            return self.average_area()
        v = self.get_vertices()
        flat = 0.5 * float(geom.norm(np.cross(v[2] - v[0], v[3] - v[1])))
        return flat * 2.0 / (1.0 + math.sqrt(1.0 - min(flat / math.pi, 1.0)))


def girard_area(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> float:
    """Girard spherical excess via robustCrossProd (S2.php:332-349)."""
    ab = geom.robust_cross_prod(a, b)
    bc = geom.robust_cross_prod(b, c)
    ac = geom.robust_cross_prod(a, c)
    return max(
        0.0,
        float(geom.angle_between(ab, ac))
        - float(geom.angle_between(ab, bc))
        + float(geom.angle_between(bc, ac)),
    )


def triangle_area(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> float:
    """Numerically-stable spherical triangle area: l'Huilier with Girard
    fallback for large/degenerate triangles (S2.php:276-330)."""
    sa = float(geom.angle_between(b, c))
    sb = float(geom.angle_between(c, a))
    sc = float(geom.angle_between(a, b))
    s = 0.5 * (sa + sb + sc)
    if s >= 3e-4:
        s2 = s * s
        dmin = s - max(sa, max(sb, sc))
        if dmin < 1e-2 * s * s2 * s2:
            area = girard_area(a, b, c)
            if dmin < s * (0.1 * area):
                return area
    return 4 * math.atan(
        math.sqrt(
            max(
                0.0,
                math.tan(0.5 * s)
                * math.tan(0.5 * (s - sa))
                * math.tan(0.5 * (s - sb))
                * math.tan(0.5 * (s - sc)),
            )
        )
    )


# --- vectorized tile materialization -----------------------------------------------
def cell_vertices_latlng(ids: np.ndarray) -> np.ndarray:
    """(N, 4, 2) lat/lng degrees of cell corners (SW, SE, NE, NW order,
    S2Cell.php:126-138) — vectorized for raster<->vector tile output."""
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    face, i, j, _ = cid.cell_to_face_ij_orientation(ids)
    level = cid.level_of(ids)
    cell_size = (np.int64(1) << (cid.MAX_LEVEL - level)).astype(np.int64)
    out = np.empty((len(ids), 4, 2), dtype=np.float64)
    k_scale = 1.0 / cid.MAX_SIZE
    i_lo = (i & -cell_size) * 2 - cid.MAX_SIZE
    j_lo = (j & -cell_size) * 2 - cid.MAX_SIZE
    u_bounds = np.stack(
        [cid.st_to_uv(k_scale * i_lo), cid.st_to_uv(k_scale * (i_lo + 2 * cell_size))]
    )
    v_bounds = np.stack(
        [cid.st_to_uv(k_scale * j_lo), cid.st_to_uv(k_scale * (j_lo + 2 * cell_size))]
    )
    for k in range(4):
        u = u_bounds[(k >> 1) ^ (k & 1)]
        v = v_bounds[k >> 1]
        x, y, z = cid.face_uv_to_xyz(face, u, v)
        lat = np.arctan2(z, np.sqrt(x * x + y * y))
        lng = np.arctan2(y, x)
        out[:, k, 0] = np.degrees(lat)
        out[:, k, 1] = np.degrees(lng)
    return out
