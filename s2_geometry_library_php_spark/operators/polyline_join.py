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
the polyline self-crossing join run one kernel,
:class:`~s2core.edges.EdgeProbe`.  The driver holds the index edges
(the region boundaries, or the polylines themselves) and their
covering cells sorted; the query edges scan as a local relation into
one Arrow UDF (:func:`crossings_udf`) that covers each edge, finds the
index edges in its cells' parent and child cells by binary search
(``cellid.cell_pairs``), and refines the pairs with ``robustCrossing``;
one ``groupBy`` counts the crossings per pair of owners.  No join and
one exchange.  Neither has a brute all-pairs arm: the reference's
brute-vs-index crossover (S2EdgeIndex.php:197-204) is a single-machine
cost switch, every production caller already forced the index path,
and no benchmark workload measured either side.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..plans.session import local_relation
from ..s2core import arrow_io as aio
from ..s2core import geom
from ..s2core.coverer import expand_by_radius
from ..s2core.edges import (
    EdgeProbe,
    PolylineBuffer,
    polyline_covering,
    polyline_project,
)
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
QUERY_EDGE_SCHEMA = (
    "owner long, ax double, ay double, az double, bx double, by double, bz double"
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


def _edges(chains: list[tuple]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(owner, a, b) of every edge ``a[i] -> b[i]`` of each ``(owner,
    vertices, closed)`` chain; a closed chain's last edge wraps to its
    first vertex."""
    owner, a, b = [], [np.zeros((0, 3))], [np.zeros((0, 3))]
    for o, verts, closed in chains:
        m = len(verts) if closed else max(len(verts) - 1, 0)
        owner += [o] * m
        a.append(verts[:m])
        b.append(np.roll(verts, -1, axis=0)[:m])
    return np.array(owner, dtype=np.int64), np.concatenate(a), np.concatenate(b)


def crossings_udf(probe: EdgeProbe):
    """``probe.crossings`` as an Arrow UDF ``crossings(owner, ax, ay, az,
    bx, by, bz)`` over query edges: each edge's crossed index owners,
    one per crossing pair of edges.  The probe rides in its closure."""

    @F.arrow_udf(ArrayType(LongType()))
    def crossings(owner: pa.Array, *ends: pa.Array) -> pa.Array:
        v = [aio.float64_values(c) for c in ends]
        a, b = np.stack(v[:3], axis=1), np.stack(v[3:], axis=1)
        q, other = probe.crossings(aio.int64_values(owner), a, b)
        offsets = np.searchsorted(q, np.arange(len(owner) + 1))
        return aio.list_array(offsets, aio.array(other))

    return crossings


def _crossing_join(
    spark: SparkSession, chains: list[tuple], probe: EdgeProbe, names: tuple
) -> DataFrame:
    """``(names[0], names[1], n_crossings)``: the edges of ``chains`` as
    a local relation, one Arrow UDF (:func:`crossings_udf`) that looks
    each edge up in ``probe`` and refines the candidates, and one
    count per pair of owners with >= 1 proper crossing."""
    owner, a, b = _edges(chains)
    ends = dict(zip(("ax", "ay", "az", "bx", "by", "bz"), [*a.T, *b.T]))
    edges = local_relation(
        spark, pa.table({"owner": owner, **ends}), QUERY_EDGE_SCHEMA
    )
    crossings = crossings_udf(probe)(*edges.columns)
    # explode_outer + an explicit not-null filter, not an inner explode
    # (spatial_join.probe_join): an inner explode runs the UDF twice.
    return (
        edges.select(
            F.col("owner").alias(names[0]),
            F.explode_outer(crossings).alias(names[1]),
        )
        .where(F.col(names[1]).isNotNull())
        .groupBy(*names)
        .agg(F.count(F.lit(1)).alias("n_crossings"))
    )


def polyline_region_crossing_join(
    spark: SparkSession, polylines: list[dict], region_specs: list[dict]
) -> DataFrame:
    """Which polylines cross which region BOUNDARIES — the
    ``S2EdgeIndex::findCandidateCrossings`` probe
    (S2EdgeIndex.php:225-244): the boundary edges are the index
    (:class:`~s2core.edges.EdgeProbe`), each polyline edge looks up the
    boundary edges whose covering cells equal, contain or lie in its
    own, and ``robustCrossing`` (polyline edge as AB) refines them.
    Output: (line_id, region_id, n_crossings) for pairs with >= 1
    proper crossing.  Only loop/polygon regions participate
    (caps/rects have no boundary vertex chain)."""
    probe = EdgeProbe(*_edges(_boundary_chains(region_specs)))
    return _crossing_join(
        spark, _polyline_chains(polylines), probe, ("line_id", "region_id")
    )


def polyline_region_crossings_numpy(
    polylines: list[dict], region_specs: list[dict]
) -> list[tuple]:
    """Brute-force oracle: every polyline edge x every region boundary
    edge through the scalar robust_crossing kernel — no covering
    machinery, so a green match also certifies candidate
    COMPLETENESS of the edge index lookup."""
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
    """Which polylines cross which OTHER polylines: the edge index of
    :func:`polyline_region_crossing_join` over the polylines' own
    edges, each edge meeting only edges of a greater line id, so each
    pair of edges is refined once, the lower line's edge as AB.

    Output: (line_a, line_b, n_crossings), line_a < line_b, for pairs
    with >= 1 proper crossing between edges of DIFFERENT lines."""
    chains = _polyline_chains(polylines)
    probe = EdgeProbe(*_edges(chains), ordered=True)
    return _crossing_join(spark, chains, probe, ("line_a", "line_b"))


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
