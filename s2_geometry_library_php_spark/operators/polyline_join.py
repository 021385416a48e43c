"""Polyline proximity join: documents within distance D of a polyline.

The distributed realization of the reference's edge index probe
(S2EdgeIndex.php:85-147: cover data edges, probe by cell, refine with
exact crossing/distance): polylines are covered edge-by-edge
(s2core.edges.edge_covering) and buffered by D via the restored
``S2CellUnion.expand`` (S2CellUnion.php:354-415) on the driver.  The
buffered coverings ride in one Arrow UDF's closure with the flagship
point-in-region join's kernel (``s2core.probe.CoveringProbe``): per
Arrow batch it encodes the docs, binary-searches each leaf's parents
among the covering cells, and refines the matches with the exact
point-to-edge distance (S2EdgeUtil.php:271-309).  No covering table,
no join; a worker that unpickles the kernel imports no operator
module.  :func:`polyline_project_join` runs the same lookup and the
projection in that one crossing.

Edge-crossing joins (``S2EdgeIndex::findCandidateCrossings``,
S2EdgeIndex.php:225-244): the polyline-vs-region-boundary join and
the polyline self-crossing join are two thin callers of one set of
parts: :func:`edge_table` (edges and their covering cells),
``_cell_keys`` (raw and ancestor-or-self join keys), an equi-join
candidate step, and ``_crossing_counts`` (the exact ``robustCrossing``
refine and per-pair count).  Neither has a brute all-pairs arm: the
reference's brute-vs-index crossover (S2EdgeIndex.php:197-204) is a
single-machine cost switch, every production caller already forced
the index path, and no benchmark workload measured either side.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.sql_bitops import s2_level
from ..plans.session import local_relation
from ..s2core import arrow_io as aio
from ..s2core import cellid as cid
from ..s2core import geom
from ..s2core.coverer import expand_by_radius
from ..s2core.edges import PolylineBuffer, polyline_covering, polyline_project
from ..s2core.probe import CoveringProbe
from .spatial_join import point_hits, probe_join


def line_probe(polylines: list[dict], max_distance_rad: float) -> CoveringProbe:
    """Every polyline's edge covering buffered by ``max_distance_rad``
    (no cell is interior), refined by the line's
    :class:`~s2core.edges.PolylineBuffer`.  Expanded coverings are
    normalized (disjoint), so a doc matches each line at most once."""
    owner, cells, shapes = [], [], {}
    for spec in polylines:
        lid = int(spec["line_id"])
        shapes[lid] = PolylineBuffer(_unit_vertices(spec["vertices"]), max_distance_rad)
        cov = expand_by_radius(polyline_covering(spec["vertices"]), max_distance_rad, 6)
        owner += [lid] * len(cov)
        cells += cov
    return CoveringProbe(owner, cells, np.zeros(len(cells), bool), shapes)


def polyline_proximity_join(
    spark: SparkSession,
    docs: DataFrame,
    polylines: list[dict],
    max_distance_rad: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """polylines: [{line_id, vertices: [[lat,lng] deg, ...]}, ...].
    Returns docs columns + line_id for docs within max_distance_rad of
    the polyline: the covering lookup and the distance refine in one
    Python crossing (``spatial_join.point_hits``)."""
    kernel = point_hits(line_probe(polylines, max_distance_rad))
    return probe_join(docs, kernel, lat_col, lon_col, "line_id")


_PROJECTION = ("line_id", "dist_rad", "fraction", "proj_lat", "proj_lon")


def polyline_projections(polylines: list[dict], max_distance_rad: float):
    """The kernel of :func:`polyline_project_join`: ``kernel(lat, lon)``
    (degree arrays) -> an Arrow list array of ``_PROJECTION`` structs
    (``line_id`` int64, the rest float64), each doc's projections onto
    the lines within ``max_distance_rad``, by line id.  Per batch: the
    covering lookup of :func:`line_probe`, then ``polyline_project``
    once per line on its candidates; its distance is the refine."""
    probe = line_probe(polylines, max_distance_rad)

    def kernel(lat: np.ndarray, lon: np.ndarray) -> pa.Array:
        pt, row = probe.pairs(lat, lon)
        line = probe.owner[row]
        order = np.lexsort((line, pt))
        pt, line = pt[order], line[order]
        xyz = geom.latlng_to_xyz(np.radians(lat[pt]), np.radians(lon[pt]))
        out = np.zeros((4, len(pt)))
        for lid in np.unique(line):
            mask = line == lid
            cp, d, fr = polyline_project(xyz[mask], probe.shapes[int(lid)].vertices)
            plat, plng = geom.xyz_to_latlng(cp)
            out[:, mask] = d, fr, np.degrees(plat), np.degrees(plng)
        keep = out[0] <= max_distance_rad
        pt, line, out = pt[keep], line[keep], out[:, keep]
        offsets = np.searchsorted(pt, np.arange(len(lat) + 1))
        fields = pa.StructArray.from_arrays(
            [aio.array(line), *map(aio.array, out)], names=list(_PROJECTION)
        )
        return aio.list_array(offsets, fields)

    return kernel


def projection_udf(polylines: list[dict], max_distance_rad: float):
    """:func:`polyline_projections` as an Arrow UDF ``project(lat, lon)``
    with the kernel in its closure."""
    kernel = polyline_projections(polylines, max_distance_rad)

    @F.arrow_udf("array<struct<line_id: long, dist_rad: double, fraction: double, "
                 "proj_lat: double, proj_lon: double>>")
    def project(lat: pa.Array, lon: pa.Array) -> pa.Array:
        return kernel(aio.float64_values(lat), aio.float64_values(lon))

    return project


def polyline_project_join(
    spark: SparkSession,
    docs: DataFrame,
    polylines: list[dict],
    max_distance_rad: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Proximity join + projection: docs within ``max_distance_rad``
    of each polyline, annotated with the exact distance, the arc-length
    fraction of the projection, and the projected point
    (S2Polyline.project / interpolate semantics via
    s2core.edges.polyline_project).  One Arrow UDF
    (:func:`polyline_projections`) looks the docs up and projects the
    candidates; its distance is the proximity refine."""
    project = projection_udf(polylines, max_distance_rad)
    # explode_outer + an explicit not-null filter, not an inner explode
    # (spatial_join.probe_join): an inner explode runs the UDF twice.
    return (
        docs.withColumn("_p", F.explode_outer(project(F.col(lat_col), F.col(lon_col))))
        .where(F.col("_p").isNotNull())
        .select(*docs.columns, "_p.*")
    )


# --- edge-vs-edge crossing joins (S2EdgeIndex probe shape) -------------------------
EDGE_SCHEMA = (
    "owner long, edge long, ax double, ay double, az double, "
    "bx double, by double, bz double, cells array<long>"
)


def _unit_vertices(vertices) -> np.ndarray:
    """Unit vectors of a ``[[lat, lng] deg, ...]`` vertex list."""
    v = np.asarray(vertices, dtype=np.float64)
    return geom.normalize(
        geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
    )


def _polyline_chains(polylines: list[dict]) -> list[tuple]:
    """(line_id, unit vertices, closed=False) per polyline."""
    return [
        (int(s["line_id"]), _unit_vertices(s["vertices"]), False)
        for s in polylines
    ]


def _boundary_chains(region_specs: list[dict]) -> list[tuple]:
    """(region_id, unit vertices, closed=True) per boundary loop of each
    loop/polygon region; caps and rects have no vertex chain."""
    from ..s2core.region import region_from_params

    out = []
    for spec in region_specs:
        if spec["kind"] not in ("loop", "polygon"):
            continue
        reg = region_from_params(
            spec["kind"], spec["params"], spec.get("loop_offsets")
        )
        for lp in [reg] if spec["kind"] == "loop" else reg.loops:
            out.append((int(spec["region_id"]), lp.vertices, True))
    return out


def edge_table(spark: SparkSession, chains: list[tuple]) -> DataFrame:
    """One EDGE_SCHEMA row per edge of each ``(owner, vertices, closed)``
    chain: its endpoints and its covering cells
    (``edges.edge_covering``, S2EdgeIndex.php:306-375).  Edge ids are
    unique across the table.  Built on the driver, which holds the
    edge list anyway."""
    from ..s2core.edges import edge_covering

    rows = []
    for owner, verts, closed in chains:
        m = len(verts)
        for i in range(m if closed else m - 1):
            a, b = verts[i], verts[(i + 1) % m]
            cells, _ = edge_covering(a, b)
            rows.append(
                (
                    owner, len(rows), *map(float, a), *map(float, b),
                    [cid.to_signed_scalar(c) for c in cells],
                )
            )
    return local_relation(spark, rows, EDGE_SCHEMA)


def _parent_dyn(cell, level):
    """Parent at a DYNAMIC level column (sql_bitops.s2_parent takes a
    python int): lsb_l = 1 << (2*(30-l)); (cell & -lsb) | lsb.
    shiftleft needs a literal count, so the power of two comes from
    pow(2, .) — exact in double through 2^60, exact long cast."""
    lsb = F.pow(F.lit(2.0), (F.lit(60) - level * F.lit(2)).cast("double")).cast(
        "long"
    )
    return cell.bitwiseAND(-lsb).bitwiseOR(lsb)


def _cell_keys(
    edges: DataFrame, owner: str, edge: str
) -> tuple[DataFrame, DataFrame]:
    """``(owner, edge, cell)`` join keys of an edge table: its raw
    covering cells, and their ancestor-or-self cells (the parent at
    every level from 0 to the cell's own, natively), distinct."""
    raw = edges.select(
        F.col("owner").alias(owner),
        F.col("edge").alias(edge),
        F.explode("cells").alias("cell"),
    )
    levels = F.sequence(F.lit(0), s2_level(F.col("cell")))
    anc = raw.select(
        owner,
        edge,
        F.explode(
            F.transform(levels, lambda lv: _parent_dyn(F.col("cell"), lv))
        ).alias("cell"),
    ).distinct()
    return raw, anc


@F.arrow_udf(BooleanType())
def _crosses(*cols: pa.Array) -> pa.Array:
    """Vectorized robustCrossing > 0 of edge AB vs edge CD, from the
    12 endpoint columns ax..bz, cx..dz."""
    if len(cols[0]) == 0:
        return aio.array(np.zeros(0, bool))
    m = [aio.float64_values(c) for c in cols]
    a = np.stack(m[0:3], axis=1)
    b = np.stack(m[3:6], axis=1)
    c_ = np.stack(m[6:9], axis=1)
    d = np.stack(m[9:12], axis=1)
    return aio.array(geom.robust_crossing_vec(a, b, c_, d) > 0)


def _crossing_counts(
    cand: DataFrame,
    a_edges: DataFrame,
    b_edges: DataFrame,
    a_key: str,
    b_key: str,
) -> DataFrame:
    """Refine candidate edge pairs ``(a_key, edge_a, b_key, edge_b)``:
    fetch edge_a's endpoints from ``a_edges`` and edge_b's from
    ``b_edges``, keep the pairs with a proper ``robustCrossing`` and
    count them per ``(a_key, b_key)``."""
    ends_a = a_edges.select(
        F.col("edge").alias("edge_a"), "ax", "ay", "az", "bx", "by", "bz"
    )
    ends_b = b_edges.select(
        F.col("edge").alias("edge_b"),
        *[F.col(p + x).alias(q + x) for p, q in ("ac", "bd") for x in "xyz"],
    )
    pairs = cand.join(ends_a, "edge_a").join(ends_b, "edge_b")
    endpoints = [F.col(p + x) for p in "abcd" for x in "xyz"]
    return (
        pairs.where(_crosses(*endpoints))
        .groupBy(a_key, b_key)
        .agg(F.count(F.lit(1)).alias("n_crossings"))
    )


def polyline_region_crossing_join(
    spark: SparkSession, polylines: list[dict], region_specs: list[dict]
) -> DataFrame:
    """Which polylines cross which region BOUNDARIES — the full
    ``S2EdgeIndex::findCandidateCrossings`` probe shape
    (S2EdgeIndex.php:225-244): cover each query edge, collect edges
    indexed in PARENT cells (getEdgesInParentCells) and in DESCENDANT
    cells (getEdgesInChildrenCells), refine with ``robustCrossing``.

    Candidate pairs are the union of two hash equi-joins against the
    broadcast region boundary edges (dimension-sized):

      * polyline ancestor-or-self keys  vs  raw region cells
        (region cell is equal-or-descendant of a polyline cell), and
      * raw polyline cells  vs  region ancestor-or-self keys
        (polyline cell is descendant of a region cell).

    Both arms are pure equi-joins — no range probe, no nested loop;
    expanding each side's own ancestor CHAIN (<= 31 cells) never
    explodes the way expanding subtrees would.  Output: (line_id,
    region_id, n_crossings) for pairs with >= 1 proper crossing.
    Only loop/polygon regions participate (caps/rects have no
    boundary vertex chain)."""
    lines = edge_table(spark, _polyline_chains(polylines))
    bounds = edge_table(spark, _boundary_chains(region_specs))
    line_raw, line_anc = _cell_keys(lines, "line_id", "edge_a")
    bound_raw, bound_anc = _cell_keys(bounds, "region_id", "edge_b")
    cand = (
        line_anc.join(F.broadcast(bound_raw), "cell")
        .unionByName(line_raw.join(F.broadcast(bound_anc), "cell"))
        .drop("cell")
        .distinct()
    )
    return _crossing_counts(
        cand, lines, F.broadcast(bounds), "line_id", "region_id"
    )


def polyline_region_crossings_numpy(
    polylines: list[dict], region_specs: list[dict]
) -> list[tuple]:
    """Brute-force oracle: every polyline edge x every region boundary
    edge through the scalar robust_crossing kernel — no covering
    machinery, so a green match also certifies candidate
    COMPLETENESS of the two-arm covering join."""
    from ..s2core.region import region_from_params

    out = []
    for spec in polylines:
        lid = int(spec["line_id"])
        verts = _unit_vertices(spec["vertices"])
        for rspec in region_specs:
            if rspec["kind"] not in ("loop", "polygon"):
                continue
            reg = region_from_params(
                rspec["kind"], rspec["params"], rspec.get("loop_offsets")
            )
            loops = [reg] if rspec["kind"] == "loop" else reg.loops
            n = 0
            for lp in loops:
                rv = lp.vertices
                m = len(rv)
                for k in range(len(verts) - 1):
                    for i in range(m):
                        if (
                            geom.robust_crossing(
                                verts[k], verts[k + 1], rv[i], rv[(i + 1) % m]
                            )
                            > 0
                        ):
                            n += 1
            if n > 0:
                out.append((lid, int(rspec["region_id"]), n))
    return out


def polyline_self_crossing_join(
    spark: SparkSession, polylines: list[dict]
) -> DataFrame:
    """Which polylines cross which OTHER polylines — the two-big-sides
    variant of the edge-index probe: NO broadcast side.  One shuffled
    hash equi-join over covering cells:

      ancestor-or-self keys  ⋈  raw covering cells  (on the cell id)

    catches every ancestor-or-equal relation between two edges'
    covering cells, because for an unordered pair either edge may
    supply the ancestor side and the (line_a < line_b) normalization
    dedupes the two orientations.

    Output: (line_a, line_b, n_crossings) for pairs with >= 1 proper
    crossing between edges of DIFFERENT lines."""
    edges = edge_table(spark, _polyline_chains(polylines))
    raw, anc = _cell_keys(edges, "line_id", "edge")
    pa, pb = anc.alias("pa"), raw.alias("pb")
    a_first = F.col("pa.line_id") < F.col("pb.line_id")
    pa_edge, pb_edge = F.col("pa.edge"), F.col("pb.edge")
    cand = (
        pa.join(
            pb,
            (F.col("pa.cell") == F.col("pb.cell"))
            & (F.col("pa.line_id") != F.col("pb.line_id")),
        )
        .select(
            F.least("pa.line_id", "pb.line_id").alias("line_a"),
            F.greatest("pa.line_id", "pb.line_id").alias("line_b"),
            F.when(a_first, pa_edge).otherwise(pb_edge).alias("edge_a"),
            F.when(a_first, pb_edge).otherwise(pa_edge).alias("edge_b"),
        )
        .distinct()
    )
    return _crossing_counts(cand, edges, edges, "line_a", "line_b")


def synth_grid_lines(n: int) -> list[dict]:
    """Deterministic n-line scale fixture: alternating N-S / E-W
    segments on a ~0.9-degree grid, long enough to cross several
    neighbors — a sparse crossing graph (road-network shape), NOT
    all-pairs.  Shared by the 1k-line scale test and the bench row."""
    g = int(np.ceil(np.sqrt(n)))
    lines = []
    for i in range(n):
        r, c = divmod(i, g)
        lat0 = -14.0 + r * 0.9
        lon0 = -14.0 + c * 0.9
        if i % 2:
            verts = [[lat0 - 1.1, lon0], [lat0 + 1.1, lon0]]
        else:
            verts = [[lat0, lon0 - 1.1], [lat0, lon0 + 1.1]]
        lines.append(dict(line_id=i + 1, vertices=verts))
    return lines


def polyline_self_crossings_numpy(polylines: list[dict]) -> list[tuple]:
    """Brute all-pairs oracle for :func:`polyline_self_crossing_join`."""
    chains = {}
    for spec in polylines:
        chains[int(spec["line_id"])] = _unit_vertices(spec["vertices"])
    ids = sorted(chains)
    out = []
    for i, la in enumerate(ids):
        for lb in ids[i + 1 :]:
            va, vb = chains[la], chains[lb]
            n = 0
            for p in range(len(va) - 1):
                for q in range(len(vb) - 1):
                    if (
                        geom.robust_crossing(
                            va[p], va[p + 1], vb[q], vb[q + 1]
                        )
                        > 0
                    ):
                        n += 1
            if n > 0:
                out.append((la, lb, n))
    return out
