"""Vectorized S2 cell-id machinery (numpy, uint64).

Re-derivation of the Hilbert-curve quadtree key encoding documented in
the reference library (``/root/reference/src/S2CellId.php``), expressed
as batch numpy kernels instead of per-value object code:

* key layout: ``face(3 bits) || hilbert_pos(2*level bits) || 1 || 0...``
  (S2CellId.php:5-12); MAX_LEVEL = 30,
* 4-bit lookup tables for (i,j) <-> Hilbert position
  (S2CellId.php:978-1017, S2.php:86-158),
* quadratic ST<->UV projection (S2Projections.php:155-201),
* cube-face frames (S2Projections.php:207-271),
* contiguous descendant ranges / parent / level bit tricks
  (S2CellId.php:211-340),
* tokens = hex with trailing zeros stripped (S2CellId.php:462-512).

All functions accept and return numpy arrays (uint64 ids); scalars are
handled by wrapping in 0-d/1-d arrays.  Signedness: ids are uint64
internally; use :func:`to_signed` / :func:`from_signed` at the Arrow /
Spark LongType boundary (bit-pattern reinterpretation, never value
conversion).
"""

from __future__ import annotations

import binascii

import numpy as np

# --- constants (S2CellId.php:8-40) -----------------------------------------
FACE_BITS = 3
NUM_FACES = 6
MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61
MAX_SIZE = 1 << MAX_LEVEL  # 2**30
LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02

_U64 = np.uint64
_ONE = _U64(1)

# Hilbert sub-cell traversal tables (S2.php:109-158, S2.php:888).
POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.uint32
)
IJ_TO_POS = np.array(
    [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]], dtype=np.uint32
)
POS_TO_ORIENTATION = np.array(
    [SWAP_MASK, 0, 0, INVERT_MASK + SWAP_MASK], dtype=np.uint32
)


def _build_lookup_tables() -> tuple[np.ndarray, np.ndarray]:
    """Build the two 1024-entry LUTs (semantics of S2CellId.php:978-1017).

    ``lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation``
    and the inverse ``lookup_ij``.
    """
    lookup_pos = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)
    lookup_ij = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)

    def init(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
        if level == LOOKUP_BITS:
            ij = (i << LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig] = (pos << 2) + orient
            lookup_ij[(pos << 2) + orig] = (ij << 2) + orient
            return
        for sub_pos in range(4):
            ij = int(POS_TO_IJ[orient][sub_pos])
            init(
                level + 1,
                (i << 1) + (ij >> 1),
                (j << 1) + (ij & 1),
                orig,
                (pos << 2) + sub_pos,
                orient ^ int(POS_TO_ORIENTATION[sub_pos]),
            )

    for orient in (0, SWAP_MASK, INVERT_MASK, SWAP_MASK | INVERT_MASK):
        init(0, 0, 0, orient, 0, orient)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookup_tables()


# --- signed/unsigned reinterpretation ---------------------------------------
def to_signed(ids: np.ndarray) -> np.ndarray:
    """uint64 bit pattern -> int64 (for Spark LongType / Arrow)."""
    return np.asarray(ids, dtype=np.uint64).view(np.int64)


def from_signed(ids) -> np.ndarray:
    """int64 bit pattern -> uint64."""
    return np.asarray(ids, dtype=np.int64).view(np.uint64)


# --- projections (S2Projections.php, quadratic) -----------------------------
def st_to_uv(s: np.ndarray) -> np.ndarray:
    """Quadratic ST->UV (S2Projections.php:173-178)."""
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0,
        (1.0 / 3.0) * ((1.0 + s) * (1.0 + s) - 1.0),
        (1.0 / 3.0) * (1.0 - (1.0 - s) * (1.0 - s)),
    )


def uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic UV->ST (S2Projections.php:192-197)."""
    u = np.asarray(u, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0, np.sqrt(1.0 + 3.0 * u) - 1.0, 1.0 - np.sqrt(1.0 - 3.0 * u)
        )


def xyz_to_face(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> np.ndarray:
    """Largest-abs-component face selection (S2Projections.php:265-271).

    Tie behavior matches the reference's strict-``>`` chain
    (S2Point::largestAbsComponent): ties prefer the later axis.
    """
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.choose(face, [x, y, z])
    return np.where(comp < 0, face + 3, face).astype(np.int64)


def valid_face_xyz_to_uv(
    face: np.ndarray, x: np.ndarray, y: np.ndarray, z: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-face (u,v) from xyz on that face (S2Projections.php:229-263).

    np.select evaluates every branch, so divisions by the OTHER faces'
    near-zero components legitimately overflow/underflow — all three
    float classes are suppressed; only the selected branch's values
    survive."""
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y],
            default=-y / z,
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            default=-x / z,
        )
    return u, v


def face_uv_to_xyz(
    face: np.ndarray, u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Face frame -> xyz direction vector (S2Projections.php:207-227)."""
    one = np.ones_like(u)
    x = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [one, -u, -u, -one, v],
        default=v,
    )
    y = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [u, one, -v, -v, -one],
        default=u,
    )
    z = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [v, v, one, -u, -u],
        default=-one,
    )
    return x, y, z


def st_to_ij(s: np.ndarray) -> np.ndarray:
    """ST -> leaf (i/j) index with round-half-up clamp (S2CellId.php:811-819).

    PHP ``round()`` (half away from zero) agrees with ``floor(x + 0.5)``
    here after the [0, 2m-1] clamp, because the only negative inputs lie
    in [-0.5, 0).
    """
    m = float(MAX_SIZE // 2)
    val = m * np.asarray(s, dtype=np.float64) + (m - 0.5)
    ij = np.floor(val + 0.5)
    return np.clip(ij, 0.0, 2.0 * m - 1.0).astype(np.int64)


# --- encode ------------------------------------------------------------------
def from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf cell id from (face, i, j) via the 4-bit LUT walk
    (S2CellId.php:650-698)."""
    face = np.asarray(face).astype(np.uint64)
    i = np.asarray(i).astype(np.uint64)
    j = np.asarray(j).astype(np.uint64)
    n = face << _U64(60)
    bits = face & _U64(SWAP_MASK)
    mask = _U64((1 << LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        kk = _U64(k * LOOKUP_BITS)
        idx = (
            bits
            + (((i >> kk) & mask) << _U64(LOOKUP_BITS + 2))
            + (((j >> kk) & mask) << _U64(2))
        )
        v = _LOOKUP_POS[idx]
        n |= (v >> _U64(2)) << _U64(k * 2 * LOOKUP_BITS)
        bits = v & _U64(SWAP_MASK | INVERT_MASK)
    return (n << _ONE) | _ONE


def from_face_ij_wrap(
    face: np.ndarray, i: np.ndarray, j: np.ndarray
) -> np.ndarray:
    """(face, i, j) possibly out of range -> neighbor cell on the adjacent
    face (S2CellId.php:847-868).  i/j are int64 (may be -1 or MAX_SIZE)."""
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    k_scale = 1.0 / MAX_SIZE
    s = k_scale * ((i << 1) + 1 - MAX_SIZE)
    t = k_scale * ((j << 1) + 1 - MAX_SIZE)
    # The reference deliberately feeds (s,t) straight into the face frame
    # and back without the quadratic transform (S2CellId.php:850-867).
    x, y, z = face_uv_to_xyz(np.asarray(face), s, t)
    nface = xyz_to_face(x, y, z)
    u, v = valid_face_xyz_to_uv(nface, x, y, z)
    return from_face_ij(nface, st_to_ij(u), st_to_ij(v))


def from_face_ij_same(
    face: np.ndarray,
    i: np.ndarray,
    j: np.ndarray,
    same_face: np.ndarray,
) -> np.ndarray:
    """Vectorized fromFaceIJSame (S2CellId.php:880-886)."""
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    same_face = np.asarray(same_face, dtype=bool)
    ic = np.clip(i, 0, MAX_SIZE - 1)
    jc = np.clip(j, 0, MAX_SIZE - 1)
    direct = from_face_ij(face, ic, jc)
    if bool(np.all(same_face)):
        return direct
    wrapped = from_face_ij_wrap(face, i, j)
    return np.where(same_face, direct, wrapped)


def cell_id_from_point(
    x: np.ndarray, y: np.ndarray, z: np.ndarray
) -> np.ndarray:
    """Leaf cell id from a direction vector (S2CellId.php:99-106)."""
    face = xyz_to_face(x, y, z)
    u, v = valid_face_xyz_to_uv(face, x, y, z)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    return from_face_ij(face, i, j)


def cell_id_from_latlng_radians(lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    """Leaf id from (lat, lng) radians (S2LatLng.php:138-143 chain)."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    cos_lat = np.cos(lat)
    return cell_id_from_point(
        np.cos(lng) * cos_lat, np.sin(lng) * cos_lat, np.sin(lat)
    )


def cell_id_from_latlng_degrees(lat: np.ndarray, lng: np.ndarray) -> np.ndarray:
    d2r = np.pi / 180.0
    return cell_id_from_latlng_radians(
        np.asarray(lat, dtype=np.float64) * d2r,
        np.asarray(lng, dtype=np.float64) * d2r,
    )


# --- decode ------------------------------------------------------------------
def cell_to_face_ij_orientation(
    ids: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Inverse LUT walk: id -> (face, i, j, orientation)
    (S2CellId.php:712-782)."""
    ids = np.asarray(ids, dtype=np.uint64)
    face = ids >> _U64(POS_BITS)
    bits = face & _U64(SWAP_MASK)
    i = np.zeros_like(ids)
    j = np.zeros_like(ids)
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * LOOKUP_BITS) if k == 7 else LOOKUP_BITS
        shift = _U64(k * 2 * LOOKUP_BITS + 1)
        idx = bits + (((ids >> shift) & _U64((1 << (2 * nbits)) - 1)) << _U64(2))
        v = _LOOKUP_IJ[idx]
        i += (v >> _U64(LOOKUP_BITS + 2)) << _U64(k * LOOKUP_BITS)
        j += ((v >> _U64(2)) & _U64((1 << LOOKUP_BITS) - 1)) << _U64(k * LOOKUP_BITS)
        bits = v & _U64(SWAP_MASK | INVERT_MASK)
    # Orientation fix-up: each "00" suffix pair flips the swap bit
    # (S2CellId.php:732-746).
    lsb = ids & (~ids + _ONE)
    flip = (lsb & _U64(0x1111111111111110)) != 0
    orientation = np.where(flip, bits ^ _U64(SWAP_MASK), bits)
    return (
        face.astype(np.int64),
        i.astype(np.int64),
        j.astype(np.int64),
        orientation.astype(np.int64),
    )


def cell_id_to_point_raw(
    ids: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cell center direction vector, not unit length
    (S2CellId.php:123-159, faceSiTiToXYZ S2CellId.php:830-836)."""
    ids = np.asarray(ids, dtype=np.uint64)
    face, i, j, _ = cell_to_face_ij_orientation(ids)
    leaf = (ids & _ONE) != 0
    delta = np.where(
        leaf,
        np.int64(1),
        np.where(
            ((i ^ (ids >> _U64(2)).astype(np.int64)) & 1) != 0,
            np.int64(2),
            np.int64(0),
        ),
    )
    si = (i << 1) + delta - MAX_SIZE
    ti = (j << 1) + delta - MAX_SIZE
    k_scale = 1.0 / MAX_SIZE
    u = st_to_uv(k_scale * si)
    v = st_to_uv(k_scale * ti)
    return face_uv_to_xyz(face, u, v)


def cell_id_to_center_latlng(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell center as (lat, lng) radians (S2CellId.php:165-167,
    S2LatLng.php:41-55)."""
    x, y, z = cell_id_to_point_raw(ids)
    lat = np.arctan2(z, np.sqrt(x * x + y * y))
    lng = np.arctan2(y, x)
    return lat, lng


# --- bit-level ops ------------------------------------------------------------
def lowest_on_bit(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids & (~ids + _ONE)


def lowest_on_bit_for_level(level) -> np.ndarray:
    level = np.asarray(level, dtype=np.int64)
    return _ONE << (2 * (MAX_LEVEL - level)).astype(np.uint64)


def is_leaf(ids: np.ndarray) -> np.ndarray:
    return (np.asarray(ids, dtype=np.uint64) & _ONE) != 0


def level_of(ids: np.ndarray) -> np.ndarray:
    """Level from trailing-zero count (S2CellId.php:211-243 semantics).

    lsb is a power of two <= 2^62, exactly representable in float64, so
    log2 is exact.
    """
    lsb = lowest_on_bit(ids)
    ctz = np.log2(lsb.astype(np.float64)).astype(np.int64)
    return MAX_LEVEL - (ctz >> 1)


def parent(ids: np.ndarray, level) -> np.ndarray:
    """Ancestor at the given level (S2CellId.php:330-340)."""
    ids = np.asarray(ids, dtype=np.uint64)
    new_lsb = lowest_on_bit_for_level(level)
    return (ids & (~new_lsb + _ONE)) | new_lsb


def covering_pairs(
    cells: np.ndarray, leaf: np.ndarray, levels, valid: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Every ``(row, idx)`` with ``cells[idx]`` the parent of
    ``leaf[row]`` at one of ``levels``, by binary search in ``cells``
    (uint64, sorted, a cell repeated once per owner).  A row where
    ``valid`` (per row, or per level and row) is false matches nothing.
    Pairs come level by level, in row order, each row's run of equal
    cells in index order."""
    key = parent(leaf, np.asarray(levels)[:, None]).ravel()
    lo = np.searchsorted(cells, key, "left")
    count = np.searchsorted(cells, key, "right") - lo
    count *= np.broadcast_to(valid, (len(levels), len(leaf))).ravel()
    row = np.repeat(np.tile(np.arange(len(leaf)), len(levels)), count)
    return row, _runs(lo, count)


def _runs(lo: np.ndarray, count: np.ndarray) -> np.ndarray:
    """The runs ``lo[k], lo[k] + 1, ...`` (``count[k]`` long) end to
    end: each element's position in the output, less its run's start
    there, plus ``lo``."""
    start = np.repeat(lo - (np.cumsum(count) - count), count)
    return np.arange(len(start)) + start


def cell_pairs(
    cells: np.ndarray, ids: np.ndarray, levels
) -> tuple[np.ndarray, np.ndarray]:
    """Every ``(row, idx)`` with ``cells[idx]`` equal to, an ancestor of
    or a descendant of ``ids[row]``, each once, by binary search in
    ``cells`` (uint64, sorted, a cell may repeat; ``levels`` its
    levels): the ancestors are ``ids[row]``'s parents at each of
    ``levels`` coarser than its own (:func:`covering_pairs`), the cell
    itself and its descendants the run of ``cells`` in its
    ``[range_min, range_max]`` (S2EdgeIndex.php:225-244)."""
    ids = np.asarray(ids, dtype=np.uint64)
    coarser = np.asarray(levels, dtype=np.int64)[:, None] < level_of(ids)
    row, idx = covering_pairs(cells, ids, levels, coarser)
    lo = np.searchsorted(cells, range_min(ids), "left")
    count = np.searchsorted(cells, range_max(ids), "right") - lo
    row_in = np.repeat(np.arange(len(ids)), count)
    return np.concatenate([row, row_in]), np.concatenate([idx, _runs(lo, count)])


def range_min(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids - (lowest_on_bit(ids) - _ONE)


def range_max(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids + (lowest_on_bit(ids) - _ONE)


def child_begin(ids: np.ndarray, level=None) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    old_lsb = lowest_on_bit(ids)
    if level is None:
        return ids - old_lsb + (old_lsb >> _U64(2))
    return ids - old_lsb + lowest_on_bit_for_level(level)


def child_end(ids: np.ndarray, level=None) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    old_lsb = lowest_on_bit(ids)
    if level is None:
        return ids + old_lsb + (old_lsb >> _U64(2))
    return ids + old_lsb + lowest_on_bit_for_level(level)


def next_cell(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids + (lowest_on_bit(ids) << _ONE)


def prev_cell(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids - (lowest_on_bit(ids) << _ONE)


# wrap offset = 6 faces << 61: one past the last valid id at any level
# (S2CellId.php:406-436)
WRAP_OFFSET = np.uint64(6) << np.uint64(61)


def next_wrap(ids: np.ndarray) -> np.ndarray:
    """next() wrapping from the last face back to the first
    (S2CellId.php:406-420).  Do not mix with child_begin/child_end
    iteration."""
    n = next_cell(ids)
    return np.where(n < WRAP_OFFSET, n, n - WRAP_OFFSET)


def prev_wrap(ids: np.ndarray) -> np.ndarray:
    """prev() wrapping from the first face back to the last
    (S2CellId.php:422-436)."""
    p = prev_cell(ids)
    return np.where(p < WRAP_OFFSET, p, p + WRAP_OFFSET)


def child_position(ids: np.ndarray, level) -> np.ndarray:
    """Which child (0..3) of the level-(k-1) ancestor contains the id
    (S2CellId.php:274-276)."""
    ids = np.asarray(ids, dtype=np.uint64)
    shift = np.uint64(2 * (MAX_LEVEL - int(level)) + 1)
    return ((ids >> shift) & np.uint64(3)).astype(np.int64)


# --- tokens (S2CellId.php:462-512) -------------------------------------------
def token_from_id(ids: np.ndarray) -> list[str]:
    """Hex of the unsigned id, trailing zeros stripped; id 0 -> 'X'."""
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    hexes = binascii.hexlify(np.ascontiguousarray(ids.astype(">u8")).tobytes()).decode()
    out = []
    for k in range(len(ids)):
        tok = hexes[16 * k : 16 * k + 16].rstrip("0")
        out.append(tok if tok else "X")
    return out


def id_from_token(tokens) -> np.ndarray:
    """Token -> id; 'X' / invalid (len > 16) -> 0."""
    out = np.zeros(len(tokens), dtype=np.uint64)
    for k, tok in enumerate(tokens):
        if tok is None or tok == "" or tok == "X" or len(tok) > 16:
            continue
        try:
            out[k] = np.uint64(int(tok.ljust(16, "0"), 16))
        except ValueError:  # non-hex garbage -> invalid id 0
            pass
    return out


# --- neighbors ----------------------------------------------------------------
def edge_neighbors(ids: np.ndarray) -> np.ndarray:
    """Four same-level edge neighbors, order S,E,N,W
    (S2CellId.php:574-587).  Returns shape (n, 4) uint64."""
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    face, i, j, _ = cell_to_face_ij_orientation(ids)
    level = level_of(ids)
    size = (np.int64(1) << (MAX_LEVEL - level)).astype(np.int64)
    out = np.empty((len(ids), 4), dtype=np.uint64)
    out[:, 0] = parent(from_face_ij_same(face, i, j - size, j - size >= 0), level)
    out[:, 1] = parent(
        from_face_ij_same(face, i + size, j, i + size < MAX_SIZE), level
    )
    out[:, 2] = parent(
        from_face_ij_same(face, i, j + size, j + size < MAX_SIZE), level
    )
    out[:, 3] = parent(from_face_ij_same(face, i - size, j, i - size >= 0), level)
    return out


def all_neighbors(ids: np.ndarray) -> np.ndarray:
    """Same-level 8-neighborhood (edge + corner), canonical
    ``getAllNeighbors`` semantics with nbr_level == level (the helper the
    port references but never defines, S2CellUnion.php:383).

    Returns shape (n, 8) uint64; rows may contain duplicates at the 8
    cube corners (a corner vertex has only 3 distinct neighbors).
    """
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    face, i, j, _ = cell_to_face_ij_orientation(ids)
    level = level_of(ids)
    size = (np.int64(1) << (MAX_LEVEL - level)).astype(np.int64)
    i0 = i & -size
    j0 = j & -size
    out = np.empty((len(ids), 8), dtype=np.uint64)
    jlo_ok = j0 - size >= 0
    jhi_ok = j0 + size < MAX_SIZE
    ilo_ok = i0 - size >= 0
    ihi_ok = i0 + size < MAX_SIZE
    # k = -size row (south): diag W, S, diag E
    out[:, 0] = from_face_ij_same(face, i0 - size, j0 - size, jlo_ok & ilo_ok)
    out[:, 1] = from_face_ij_same(face, i0, j0 - size, jlo_ok)
    out[:, 2] = from_face_ij_same(face, i0 + size, j0 - size, jlo_ok & ihi_ok)
    # k = 0 row: W, E
    out[:, 3] = from_face_ij_same(face, i0 - size, j0, ilo_ok)
    out[:, 4] = from_face_ij_same(face, i0 + size, j0, ihi_ok)
    # k = +size row (north): diag W, N, diag E
    out[:, 5] = from_face_ij_same(face, i0 - size, j0 + size, jhi_ok & ilo_ok)
    out[:, 6] = from_face_ij_same(face, i0, j0 + size, jhi_ok)
    out[:, 7] = from_face_ij_same(face, i0 + size, j0 + size, jhi_ok & ihi_ok)
    lev = np.broadcast_to(level[:, None], out.shape)
    return parent(out, lev)


def distinct_rings(
    ids: np.ndarray, with_center: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Each cell's same-level 3x3 neighborhood as sorted distinct
    signed ids, flattened: cell ``i``'s ring is
    ``values[offsets[i]:offsets[i + 1]]``.  ``with_center`` adds the
    cell itself (the kNN / radius-join candidate ring); without it the
    ring is the 8-neighborhood of :func:`all_neighbors`.  Cube-corner
    cells have fewer distinct neighbors, which the row-wise sort +
    adjacent-difference dedupe drops with no per-row Python."""
    ids = np.asarray(ids, dtype=np.uint64)
    ring = to_signed(all_neighbors(ids))
    if with_center:
        ring = np.concatenate([to_signed(ids)[:, None], ring], axis=1)
    ring.sort(axis=1)
    keep = np.ones(ring.shape, dtype=bool)
    np.not_equal(ring[:, 1:], ring[:, :-1], out=keep[:, 1:])
    offsets = np.zeros(len(ring) + 1, dtype=np.int32)
    np.cumsum(keep.sum(axis=1), out=offsets[1:])
    return ring[keep], offsets


# --- scalar fast paths (python ints; for driver-side Cell/coverer) -----------
_LOOKUP_IJ_LIST = _LOOKUP_IJ.tolist()
_LOOKUP_POS_LIST = _LOOKUP_POS.tolist()


def decode_scalar(cell_id: int) -> tuple[int, int, int, int]:
    """Pure-python toFaceIJOrientation (S2CellId.php:712-782) — ~50x
    faster than the numpy path for single ids (coverer hot loop)."""
    cell_id &= 0xFFFFFFFFFFFFFFFF
    face = cell_id >> POS_BITS
    bits = face & SWAP_MASK
    i = 0
    j = 0
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * LOOKUP_BITS) if k == 7 else LOOKUP_BITS
        bits += ((cell_id >> (k * 2 * LOOKUP_BITS + 1)) & ((1 << (2 * nbits)) - 1)) << 2
        v = _LOOKUP_IJ_LIST[bits]
        i += (v >> (LOOKUP_BITS + 2)) << (k * LOOKUP_BITS)
        j += ((v >> 2) & ((1 << LOOKUP_BITS) - 1)) << (k * LOOKUP_BITS)
        bits = v & (SWAP_MASK | INVERT_MASK)
    lsb = cell_id & (-cell_id & 0xFFFFFFFFFFFFFFFF)
    if lsb & 0x1111111111111110:
        bits ^= SWAP_MASK
    return face, i, j, bits


def lsb_scalar(cell_id: int) -> int:
    """Lowest set bit: the cell's level marker."""
    return cell_id & (-cell_id & 0xFFFFFFFFFFFFFFFF)


def level_scalar(cell_id: int) -> int:
    return MAX_LEVEL - ((lsb_scalar(cell_id).bit_length() - 1) >> 1)


def parent1_scalar(cell_id: int) -> int:
    """Parent one level up (S2CellId.php:330-340 with level - 1)."""
    new_lsb = lsb_scalar(cell_id) << 2
    return (cell_id & (-new_lsb & 0xFFFFFFFFFFFFFFFF)) | new_lsb


def parent_scalar(cell_id: int, level: int) -> int:
    """Ancestor at ``level``; the cell itself when it is already at or
    above that level (S2CellId.php:330-340)."""
    if level_scalar(cell_id) <= level:
        return cell_id
    new_lsb = 1 << (2 * (MAX_LEVEL - level))
    return (cell_id & (-new_lsb & 0xFFFFFFFFFFFFFFFF)) | new_lsb


def range_scalar(cell_id: int) -> tuple[int, int]:
    """(rangeMin, rangeMax): the leaf span of the cell
    (S2CellId.php:293-302)."""
    lsb = lsb_scalar(cell_id)
    return cell_id - (lsb - 1), cell_id + (lsb - 1)


def contains_scalar(a: int, b: int) -> bool:
    """Whether cell ``a`` contains cell ``b`` (``b`` in ``a``'s range)."""
    lo, hi = range_scalar(a)
    return lo <= b <= hi


def children_scalar(cell_id: int) -> list[int]:
    """The four children in traversal order (childBegin() stepping
    by next())."""
    lsb = lsb_scalar(cell_id)
    child = cell_id - lsb + (lsb >> 2)
    step = (lsb >> 2) << 1
    return [child + k * step for k in range(4)]


def to_signed_scalar(cell_id: int) -> int:
    """uint64 bit pattern -> int64, for one python int (Spark LongType)."""
    cell_id &= 0xFFFFFFFFFFFFFFFF
    return cell_id - (1 << 64) if cell_id >= 1 << 63 else cell_id


def st_to_uv_scalar(s: float) -> float:
    if s >= 0:
        return (1.0 / 3.0) * ((1.0 + s) * (1.0 + s) - 1.0)
    return (1.0 / 3.0) * (1.0 - (1.0 - s) * (1.0 - s))


def face_uv_to_xyz_scalar(face: int, u: float, v: float) -> tuple[float, float, float]:
    if face == 0:
        return 1.0, u, v
    if face == 1:
        return -u, 1.0, v
    if face == 2:
        return -u, -v, 1.0
    if face == 3:
        return -1.0, -v, -u
    if face == 4:
        return v, -1.0, -u
    return v, u, -1.0


def valid_face_xyz_to_uv_scalar(
    face: int, x: float, y: float, z: float
) -> tuple[float, float]:
    if face == 0:
        return y / x, z / x
    if face == 1:
        return -x / y, z / y
    if face == 2:
        return -x / z, -y / z
    if face == 3:
        return z / x, y / x
    if face == 4:
        return z / y, -x / y
    return -y / z, -x / z


def vertex_neighbors(cell_id: int, level: int) -> list[int]:
    """Scalar vertex neighbors at a coarser level (S2CellId.php:601-639).
    Used by the driver-side coverer seeding only."""
    ids = np.asarray([cell_id], dtype=np.uint64)
    face, i_arr, j_arr, _ = cell_to_face_ij_orientation(ids)
    face, i, j = int(face[0]), int(i_arr[0]), int(j_arr[0])
    half_size = 1 << (MAX_LEVEL - (level + 1))
    size = half_size << 1
    if i & half_size:
        i_offset, i_same = size, (i + size) < MAX_SIZE
    else:
        i_offset, i_same = -size, (i - size) >= 0
    if j & half_size:
        j_offset, j_same = size, (j + size) < MAX_SIZE
    else:
        j_offset, j_same = -size, (j - size) >= 0

    out = [int(parent(ids, level)[0])]

    def one(ii, jj, same):
        arr = from_face_ij_same(
            np.asarray([face]), np.asarray([ii]), np.asarray([jj]), np.asarray([same])
        )
        return int(parent(arr, level)[0])

    out.append(one(i + i_offset, j, i_same))
    out.append(one(i, j + j_offset, j_same))
    if i_same or j_same:
        out.append(one(i + i_offset, j + j_offset, i_same and j_same))
    return out
