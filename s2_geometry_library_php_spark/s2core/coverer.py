"""S2RegionCoverer + cell-union algebra (driver-side, exact semantics).

Faithful re-derivation of:

* best-first covering refinement with the documented priority
  ``-((((level << shift) + numChildren) << shift) + numTerminals)``
  (S2RegionCoverer.php:189-471, priority S2RegionCoverer.php:328),
* interior coverings (the commented variant,
  S2RegionCoverer.php:214-233, branch logic 249-277, 447-466),
* the join's covering rows (:func:`covering_rows`): the exterior
  covering with each cell flagged interior or boundary,
* ``S2CellUnion.normalize`` 4-sibling collapse (S2CellUnion.php:591-661),
* ``getDifference`` by recursive split (S2CellUnion.php:227-313),
* ``denormalize`` (S2CellUnion.php:111-135),
* ``expand`` buffering (S2CellUnion.php:354-415) via the restored
  8-neighborhood helper,
* ``getSimpleCovering`` flood fill (S2RegionCoverer.php:478-503).

Regions are few and coverings small (<= max_cells), so this runs on the
Spark driver at plan-build time; the output covering table is broadcast
into the spatial join (SURVEY.md §3.2).

Determinism: priority ties are broken by insertion sequence number,
which is itself deterministic (the reference notes the need for a
deterministic tie-break, S2RegionCoverer.php:54-64).
"""

from __future__ import annotations

import bisect
import heapq

import numpy as np

from . import cellid as cid
from .cell import Cell
from .metric import MIN_WIDTH
from .region import Region

DEFAULT_MAX_CELLS = 8  # S2RegionCoverer.php:9


class _Candidate:
    __slots__ = ("cell", "is_terminal", "children")

    def __init__(self, cell: Cell, is_terminal: bool):
        self.cell = cell
        self.is_terminal = is_terminal
        self.children: list["_Candidate"] = []


class RegionCoverer:
    def __init__(
        self,
        min_level: int = 0,
        max_level: int = cid.MAX_LEVEL,
        level_mod: int = 1,
        max_cells: int = DEFAULT_MAX_CELLS,
        max_candidates: int | None = None,
    ):
        """``max_candidates``: optional work budget for INTERIOR
        coverings only — the boundary-refinement chase of a thin or
        disjoint region can visit tens of thousands of candidates
        before accumulating ``max_cells`` contained cells; since an
        interior covering is a pure optimization (any subset of the
        region is correct), truncating the search early only costs
        refine-kernel work downstream, never correctness.  Exterior
        coverings are never truncated (they must stay supersets)."""
        self.min_level = max(0, min(cid.MAX_LEVEL, min_level))
        self.max_level = max(0, min(cid.MAX_LEVEL, max_level))
        self.level_mod = max(1, min(3, level_mod))
        self.max_cells = max_cells
        self.max_candidates = max_candidates
        self._region: Region | None = None
        self._result: list[int] = []
        self._queue: list[tuple[int, int, _Candidate]] = []
        self._seq = 0
        self._interior = False

    # -- public API ------------------------------------------------------------
    def get_covering(self, region: Region) -> list[int]:
        """Exterior covering, normalized then denormalized to respect
        min_level/level_mod (S2RegionCoverer.php:189-205)."""
        self._interior = False
        self._get_covering_internal(region)
        ids = normalize_cell_union(self._result)
        return denormalize(ids, self.min_level, self.level_mod)

    def get_interior_covering(self, region: Region) -> list[int]:
        """Cells fully contained in the region
        (S2RegionCoverer.php:214-233)."""
        self._interior = True
        self._get_covering_internal(region)
        ids = normalize_cell_union(self._result)
        return denormalize(ids, self.min_level, self.level_mod)

    # -- internals ----------------------------------------------------------------
    def _max_children_shift(self) -> int:
        return 2 * self.level_mod

    def _new_candidate(self, cell: Cell) -> _Candidate | None:
        """(S2RegionCoverer.php:249-277)."""
        if not self._region.may_intersect_cell(cell):
            return None
        is_terminal = False
        if cell.level >= self.min_level:
            if self._interior:
                if self._region.contains_cell(cell):
                    is_terminal = True
                elif cell.level + self.level_mod > self.max_level:
                    return None
            else:
                if (
                    cell.level + self.level_mod > self.max_level
                    or self._region.contains_cell(cell)
                ):
                    is_terminal = True
        return _Candidate(cell, is_terminal)

    def _expand_children(
        self, candidate: _Candidate, cell: Cell, num_levels: int
    ) -> int:
        """(S2RegionCoverer.php:340-366)."""
        num_levels -= 1
        num_terminals = 0
        for child_cell in cell.children():
            if num_levels > 0:
                if self._region.may_intersect_cell(child_cell):
                    num_terminals += self._expand_children(
                        candidate, child_cell, num_levels
                    )
                continue
            child = self._new_candidate(child_cell)
            if child is not None:
                candidate.children.append(child)
                if child.is_terminal:
                    num_terminals += 1
        return num_terminals

    def _add_candidate(self, candidate: _Candidate | None) -> None:
        """(S2RegionCoverer.php:289-333)."""
        if candidate is None:
            return
        if candidate.is_terminal:
            self._result.append(candidate.cell.id)
            return
        num_levels = (
            1 if candidate.cell.level < self.min_level else self.level_mod
        )
        num_terminals = self._expand_children(
            candidate, candidate.cell, num_levels
        )
        shift = self._max_children_shift()
        n_children = len(candidate.children)
        if n_children == 0:
            return
        if (
            not self._interior
            and num_terminals == (1 << shift)
            and candidate.cell.level >= self.min_level
        ):
            # All children terminal: add the parent instead.
            candidate.is_terminal = True
            self._add_candidate(candidate)
            return
        priority = (
            ((candidate.cell.level << shift) + n_children) << shift
        ) + num_terminals
        self._seq += 1
        heapq.heappush(self._queue, (priority, self._seq, candidate))

    def _get_initial_candidates(self) -> None:
        """(S2RegionCoverer.php:369-421)."""
        if self.max_cells >= 4:
            cap = self._region.get_cap_bound()
            level = min(
                MIN_WIDTH.get_max_level(2 * cap.angle_radians()),
                min(self.max_level, cid.MAX_LEVEL - 1),
            )
            if self.level_mod > 1 and level > self.min_level:
                level -= (level - self.min_level) % self.level_mod
            if level > 0:
                axis_id = int(
                    cid.cell_id_from_point(
                        np.asarray(cap.axis[0]),
                        np.asarray(cap.axis[1]),
                        np.asarray(cap.axis[2]),
                    )
                )
                for base in cid.vertex_neighbors(axis_id, level):
                    self._add_candidate(self._new_candidate(Cell(base)))
                return
        for face in range(6):
            self._add_candidate(self._new_candidate(Cell.from_face(face)))

    def _get_covering_internal(self, region: Region) -> None:
        """(S2RegionCoverer.php:424-471)."""
        assert not self._queue and not self._result
        self._region = region
        self._result = []
        self._queue = []
        self._seq = 0
        self._get_initial_candidates()
        while self._queue and (
            not self._interior
            or (
                len(self._result) < self.max_cells
                and (
                    self.max_candidates is None
                    or self._seq < self.max_candidates
                )
            )
        ):
            _, _, candidate = heapq.heappop(self._queue)
            if (
                candidate.cell.level < self.min_level
                or len(candidate.children) == 1
                or len(self._result)
                + (0 if self._interior else len(self._queue))
                + len(candidate.children)
                <= self.max_cells
            ):
                for child in candidate.children:
                    self._add_candidate(child)
            elif self._interior:
                pass
            else:
                candidate.is_terminal = True
                self._add_candidate(candidate)
        self._queue = []
        self._region = None


def covering_rows(
    region: Region,
    region_id: int,
    max_cells: int,
    min_level: int,
    max_level: int,
    level_mod: int,
) -> list[tuple[int, int, int, bool]]:
    """One region's covering rows: (region_id, cell_id_signed, level,
    is_interior).

    The exterior covering (disjoint, grid-conformant via the coverer's
    min_level/level_mod) is the candidate set; each cell is then
    flagged ``is_interior`` with an exact region.contains_cell test —
    the interior/exterior refine split (S2RegionCoverer.php:257-267)
    without a second covering pass.  Disjointness guarantees a probe
    matches at most one covering row per region, so the join needs no
    dedup shuffle."""
    exterior = RegionCoverer(
        min_level=min_level,
        max_level=max_level,
        level_mod=level_mod,
        max_cells=max_cells,
    ).get_covering(region)
    return [
        (
            region_id,
            cid.to_signed_scalar(c),
            cid.level_scalar(c),
            bool(region.contains_cell(Cell(c))),
        )
        for c in exterior
    ]


# --- cell union algebra -----------------------------------------------------------
def _u(x) -> int:
    """Unsigned sort key of a python-int cell id."""
    return x & 0xFFFFFFFFFFFFFFFF


def normalize_cell_union(ids: list[int]) -> list[int]:
    """Sort, drop contained, collapse 4 siblings
    (S2CellUnion.php:591-661)."""
    arr = sorted(_u(i) for i in ids)
    output: list[int] = []
    for raw in arr:
        i = raw
        # contained by previous?
        if output and cid.contains_scalar(output[-1], i):
            continue
        while output and cid.contains_scalar(i, output[-1]):
            output.pop()
        while len(output) >= 3:
            if (output[-3] ^ output[-2] ^ output[-1]) != i:
                break
            mask = cid.lsb_scalar(i) << 1
            mask = ~(mask + (mask << 1)) & 0xFFFFFFFFFFFFFFFF
            masked = i & mask
            if (
                (output[-3] & mask) != masked
                or (output[-2] & mask) != masked
                or (output[-1] & mask) != masked
                or _is_face(i)
            ):
                break
            output.pop()
            output.pop()
            output.pop()
            i = cid.parent1_scalar(i)
        output.append(i)
    return output


def _is_face(i: int) -> bool:
    return (i & ((1 << 60) - 1)) == 0


def cell_union_difference(a_cells: list[int], b_cells: list[int]) -> list[int]:
    """Cell set A \\ B, normalized (S2CellUnion getDifference
    semantics, S2CellUnion.php:227-313 family): each A cell is split
    recursively until it is disjoint from or contained in B.  B is
    normalized first, so its ranges are disjoint and sorted: a cell
    meets some B cell iff it meets the last one that starts before its
    end, found by bisection."""
    b = normalize_cell_union(b_cells)
    lo = [cid.range_scalar(c)[0] for c in b]
    hi = [cid.range_scalar(c)[1] for c in b]
    out: list[int] = []

    def rec(c: int) -> None:
        c_lo, c_hi = cid.range_scalar(c)
        k = bisect.bisect_right(lo, c_hi) - 1  # the last B cell starting in or before c
        if k < 0 or hi[k] < c_lo:
            out.append(c)  # disjoint from B
        elif lo[k] > c_lo or hi[k] < c_hi:  # B cell k lies strictly inside c
            for child in cid.children_scalar(c):
                rec(child)

    for c in a_cells:
        rec(_u(c))
    return normalize_cell_union(out)


def denormalize(ids: list[int], min_level: int, level_mod: int) -> list[int]:
    """Re-expand to satisfy min_level/level_mod (S2CellUnion.php:111-135)."""
    out: list[int] = []
    for i in ids:
        level = cid.level_scalar(i)
        new_level = max(min_level, level)
        if level_mod > 1:
            new_level += (cid.MAX_LEVEL - (new_level - min_level)) % level_mod
            new_level = min(cid.MAX_LEVEL, new_level)
        if new_level == level:
            out.append(i)
        else:
            arr = np.asarray([i], dtype=np.uint64)
            begin = int(cid.child_begin(arr, new_level)[0])
            end = int(cid.child_end(arr, new_level)[0])
            c = begin
            while c != end:
                out.append(c)
                c = int(cid.next_cell(np.asarray([c], dtype=np.uint64))[0])
    return out


def expand_cell_union(ids: list[int], level: int) -> list[int]:
    """Buffer a union by adding all neighbors at ``level``
    (S2CellUnion.php:354-386 with the missing 8-neighborhood restored)."""
    output: list[int] = []
    level_lsb = 1 << (2 * (cid.MAX_LEVEL - level))
    i = len(ids) - 1
    ids = list(ids)
    while i >= 0:
        cell = ids[i]
        if cid.lsb_scalar(cell) < level_lsb:
            cell = cid.parent_scalar(cell, level)
            while i > 0 and cid.contains_scalar(cell, ids[i - 1]):
                i -= 1
        output.append(cell)
        nbrs = cid.all_neighbors(np.asarray([cell], dtype=np.uint64))
        output.extend(int(x) for x in np.unique(nbrs))
        i -= 1
    return normalize_cell_union(output)


def expand_by_radius(
    ids: list[int], min_radius_rad: float, max_level_diff: int
) -> list[int]:
    """(S2CellUnion.php:395-415): pick expansion level from MIN_WIDTH."""
    min_level = cid.MAX_LEVEL
    for i in ids:
        min_level = min(min_level, cid.level_scalar(i))
    radius_level = MIN_WIDTH.get_max_level(min_radius_rad)
    if radius_level == 0 and min_radius_rad > MIN_WIDTH.get_value(0):
        ids = expand_cell_union(ids, 0)
    return expand_cell_union(
        ids, min(min_level + max_level_diff, radius_level)
    )


def simple_covering(region: Region, start_id: int, level: int) -> list[int]:
    """Fixed-level flood fill from a seed cell
    (S2RegionCoverer.php:478-503)."""
    start = cid.parent_scalar(start_id, level)
    seen = {start}
    frontier = [start]
    output: list[int] = []
    while frontier:
        i = frontier.pop()
        if not region.may_intersect_cell(Cell(i)):
            continue
        output.append(i)
        for nbr in cid.edge_neighbors(np.asarray([i], dtype=np.uint64))[0]:
            nbr = int(nbr)
            if nbr not in seen:
                seen.add(nbr)
                frontier.append(nbr)
    return sorted(output)


# --- cell union measures ------------------------------------------------------
def leaf_cells_covered(ids) -> float:
    """Number of level-30 leaves under the union, as a float — the
    count overflows int64 past ~4 face cells (S2CellUnion.php:493-501
    returns a PHP float for the same reason). Vectorized over the
    id array; callers pass a normalized union."""
    arr = np.asarray(ids, dtype=np.uint64)
    if arr.size == 0:
        return 0.0
    inv = (cid.MAX_LEVEL - cid.level_of(arr)).astype(np.float64)
    return float(np.sum(np.exp2(2.0 * inv)))


def average_based_area(ids) -> float:
    """Leaf count x average leaf area — O(n), no vertex math, up to
    ~1.7x off from exact (S2CellUnion.php:516-518)."""
    from .metric import AVG_AREA

    return AVG_AREA.get_value(cid.MAX_LEVEL) * leaf_cells_covered(ids)


def approx_area_union(ids) -> float:
    """Sum of per-cell approx areas (S2CellUnion.php:526-533)."""
    return float(sum(Cell(int(i)).approx_area() for i in np.asarray(ids, dtype=np.uint64)))


def exact_area_union(ids) -> float:
    """Sum of per-cell exact areas (S2CellUnion.php:541-548)."""
    return float(sum(Cell(int(i)).exact_area() for i in np.asarray(ids, dtype=np.uint64)))
