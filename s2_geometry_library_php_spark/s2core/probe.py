"""Point lookup and refine against a driver-built covering (numpy).

The probe shape of the reference's edge index (S2EdgeIndex.php:85-147):
look each point's leaf up among the covering cells, refine the matches
with the exact kernel.  A covering is rows ``(owner, cell,
is_interior)``; an interior cell lies wholly inside its owner's shape,
so a point in it needs no refine (S2RegionCoverer.php:257-267).  Only
numpy and s2core are imported: a worker that unpickles a kernel holding
a :class:`CoveringProbe` imports no operator module.
"""

from __future__ import annotations

import numpy as np

from . import cellid as cid
from . import geom


def finite_leaves(lat: np.ndarray, lon: np.ndarray):
    """(leaf cell ids, finite mask) of degree arrays.  A point with a
    NaN, infinite or null (NaN in numpy) coordinate has no leaf cell:
    the mask is false and ``cellid.covering_pairs`` matches it to
    nothing."""
    finite = np.isfinite(lat) & np.isfinite(lon)
    leaf = cid.cell_id_from_latlng_degrees(
        np.where(finite, lat, 0.0), np.where(finite, lon, 0.0)
    )
    return leaf, finite


def refine(lat, lon, owner: np.ndarray, is_interior: np.ndarray, shapes) -> np.ndarray:
    """Keep-mask of (point, owner) pairs: interior pairs pass, the others
    run ``shapes[owner].contains_points(xyz)`` once per owner."""
    keep = is_interior.copy()
    todo = np.flatnonzero(~is_interior)
    xyz = geom.latlng_to_xyz(np.radians(lat[todo]), np.radians(lon[todo]))
    owner = owner[todo]
    for o in np.unique(owner):
        mask = owner == o
        keep[todo[mask]] = shapes[int(o)].contains_points(xyz[mask])
    return keep


class CoveringProbe:
    """Covering rows held sorted by cell, and ``shapes``: owner -> an
    object with ``contains_points(xyz) -> bool array``."""

    def __init__(self, owner, cells, is_interior, shapes):
        cells = np.asarray(cells, dtype=np.uint64)
        order = np.argsort(cells, kind="stable")
        self.cells = cells[order]
        self.owner = np.asarray(owner, dtype=np.int64)[order]
        self.is_interior = np.asarray(is_interior, dtype=bool)[order]
        self.levels = sorted({int(x) for x in cid.level_of(self.cells)})
        self.shapes = shapes

    def pairs(self, lat: np.ndarray, lon: np.ndarray):
        """(point, covering row) candidate pairs of a degree batch."""
        leaf, finite = finite_leaves(lat, lon)
        return cid.covering_pairs(self.cells, leaf, self.levels, finite)

    def hits(self, lat: np.ndarray, lon: np.ndarray):
        """(point, owner) pairs that pass the refine, sorted by point,
        then owner; one per owner when its covering is disjoint."""
        pt, row = self.pairs(lat, lon)
        owner = self.owner[row]
        keep = refine(lat[pt], lon[pt], owner, self.is_interior[row], self.shapes)
        pt, owner = pt[keep], owner[keep]
        order = np.lexsort((owner, pt))
        return pt[order], owner[order]
