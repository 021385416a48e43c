"""Polyline proximity join: documents within distance D of a polyline.

The distributed realization of the reference's edge index probe
(S2EdgeIndex.php:85-147: cover data edges, probe by cell, refine with
exact crossing/distance): polylines are covered edge-by-edge
(s2core.edges.edge_covering), buffered by D via the restored
``S2CellUnion.expand`` (S2CellUnion.php:354-415), broadcast, and
probed with the same banded-prefix equi-join as the point-in-region
join; survivors are refined with the exact point-to-edge distance
kernel (S2EdgeUtil.php:271-309).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

from ..s2core import cellid as cid
from ..s2core import geom
from ..s2core.coverer import expand_by_radius
from ..s2core.edges import polyline_covering, polyline_project
from .spatial_join import covering_candidates


def _polyline_candidates(
    spark: SparkSession,
    docs: DataFrame,
    polylines: list[dict],
    max_distance_rad: float,
    leaf_col: str,
) -> tuple[DataFrame, dict[int, np.ndarray]]:
    """Banded-prefix candidate join of ``docs`` against every polyline's
    edge covering buffered by ``max_distance_rad``; returns the
    candidates (docs columns + line_id) and each line's unit vertices.
    Expanded coverings are normalized (disjoint), so each doc matches
    at most one covering cell per line: no dedup shuffle needed."""
    cov_rows = []
    verts_by_line: dict[int, np.ndarray] = {}
    for spec in polylines:
        lid = int(spec["line_id"])
        v = np.asarray(spec["vertices"], dtype=np.float64)
        verts_by_line[lid] = geom.normalize(
            geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
        )
        cov = expand_by_radius(polyline_covering(v), max_distance_rad, 6)
        for c in cov:
            cov_rows.append((lid, cid.to_signed_scalar(c), cid.level_scalar(c)))
    cov_df = spark.createDataFrame(
        cov_rows, "line_id long, cov_cell long, cov_level int"
    )
    levels = sorted({r[2] for r in cov_rows})
    return covering_candidates(docs, cov_df, levels, leaf_col), verts_by_line


def _line_groups(lat: pd.Series, lon: pd.Series, line_id: pd.Series):
    """(line_id, row mask, unit points) per line present in a batch."""
    pts = geom.latlng_to_xyz(
        np.radians(lat.to_numpy(np.float64)),
        np.radians(lon.to_numpy(np.float64)),
    )
    lid_arr = line_id.to_numpy(np.int64)
    for lid in np.unique(lid_arr):
        mask = lid_arr == lid
        yield int(lid), mask, pts[mask]


def polyline_proximity_join(
    spark: SparkSession,
    docs: DataFrame,
    polylines: list[dict],
    max_distance_rad: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    leaf_col: str = "cell_id",
) -> DataFrame:
    """polylines: [{line_id, vertices: [[lat,lng] deg, ...]}, ...].
    Returns docs columns + line_id for docs within max_distance_rad of
    the polyline."""
    joined, verts_by_line = _polyline_candidates(
        spark, docs, polylines, max_distance_rad, leaf_col
    )

    @F.pandas_udf(BooleanType())
    def within(lat: pd.Series, lon: pd.Series, line_id: pd.Series) -> pd.Series:
        out = np.zeros(len(lat), dtype=bool)
        if len(lat) == 0:
            return pd.Series(out)
        for lid, mask, pts in _line_groups(lat, lon, line_id):
            verts = verts_by_line[lid]
            best = np.full(len(pts), np.inf)
            for k in range(len(verts) - 1):
                d = geom.edge_distance_radians(pts, verts[k], verts[k + 1])
                best = np.minimum(best, d)
            out[mask] = best <= max_distance_rad
        return pd.Series(out)

    return joined.where(
        within(F.col(lat_col), F.col(lon_col), F.col("line_id"))
    ).select(*docs.columns, "line_id")


_PROJECTION = StructType(
    [
        StructField("dist_rad", DoubleType()),
        StructField("fraction", DoubleType()),
        StructField("proj_lat", DoubleType()),
        StructField("proj_lon", DoubleType()),
    ]
)


def polyline_project_join(
    spark: SparkSession,
    docs: DataFrame,
    polylines: list[dict],
    max_distance_rad: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    leaf_col: str = "cell_id",
) -> DataFrame:
    """Proximity join + projection: docs within ``max_distance_rad``
    of each polyline, annotated with the exact distance, the arc-length
    fraction of the projection, and the projected point
    (S2Polyline.project / interpolate semantics via
    s2core.edges.polyline_project).  The projection runs once on the
    candidates; its distance is the proximity refine."""
    joined, verts_by_line = _polyline_candidates(
        spark, docs, polylines, max_distance_rad, leaf_col
    )

    @F.pandas_udf(_PROJECTION)
    def project(lat: pd.Series, lon: pd.Series, line_id: pd.Series) -> pd.DataFrame:
        out = {name: np.zeros(len(lat)) for name in _PROJECTION.fieldNames()}
        if len(lat) == 0:
            return pd.DataFrame(out)
        for lid, mask, pts in _line_groups(lat, lon, line_id):
            cp, d, fr = polyline_project(pts, verts_by_line[lid])
            plat, plng = geom.xyz_to_latlng(cp)
            out["dist_rad"][mask] = d
            out["fraction"][mask] = fr
            out["proj_lat"][mask] = np.degrees(plat)
            out["proj_lon"][mask] = np.degrees(plng)
        return pd.DataFrame(out)

    # Marked nondeterministic only so the optimizer cannot push the
    # distance filter below this projection: that would substitute the
    # UDF into the filter and evaluate it twice.
    proj = project.asNondeterministic()(
        F.col(lat_col), F.col(lon_col), F.col("line_id")
    )
    return (
        joined.select(*docs.columns, "line_id", proj.alias("_p"))
        .where(F.col("_p.dist_rad") <= F.lit(max_distance_rad))
        .select(*docs.columns, "line_id", "_p.*")
    )


# --- edge-vs-edge crossing join (S2EdgeIndex probe shape) ---------------------------
def _ancestors(cell: int) -> list[int]:
    """cell + every proper ancestor up to the face (driver-side)."""
    out = [cell]
    c = cell
    while cid.level_scalar(c) > 0:
        c = cid.parent1_scalar(c)
        out.append(c)
    return out


def use_edge_index(n_data_edges: int, n_query_edges: int) -> bool:
    """Cost-based brute-vs-index crossover, mirroring the reference's
    adaptive index build (S2EdgeIndex.php:197-204: compute the quad
    tree only once ``getNumEdges() > 100 && queryCount + n > 30``;
    below that, m*n robustCrossing calls are cheaper than building the
    index).  Distributed analogue: below the crossover we skip the
    per-edge covering computation and the candidate equi-joins
    entirely and feed ALL pairs straight to the vectorized
    ``robustCrossing`` refine — for tiny inputs the covering build
    dominates, exactly as costInsert dominates in the reference."""
    return n_data_edges > 100 and n_query_edges > 30


@F.pandas_udf(BooleanType())
def _crosses(*cols: pd.Series) -> pd.Series:
    """Vectorized robustCrossing > 0 of edge AB vs edge CD, from the
    12 endpoint columns ax..bz, cx..dz."""
    if len(cols[0]) == 0:
        return pd.Series([], dtype=bool)
    m = [c.to_numpy(np.float64) for c in cols]
    a = np.stack(m[0:3], axis=1)
    b = np.stack(m[3:6], axis=1)
    c_ = np.stack(m[6:9], axis=1)
    d = np.stack(m[9:12], axis=1)
    return pd.Series(geom.robust_crossing_vec(a, b, c_, d) > 0)


def _count_crossings(pairs: DataFrame, *keys: str) -> DataFrame:
    """Edge pairs with a proper crossing, counted per ``keys``."""
    endpoints = [F.col(p + x) for p in "abcd" for x in "xyz"]
    return (
        pairs.where(_crosses(*endpoints))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_crossings"))
    )


def polyline_region_crossing_join(
    spark: SparkSession,
    polylines: list[dict],
    region_specs: list[dict],
    brute: bool | None = None,
) -> DataFrame:
    """Which polylines cross which region BOUNDARIES — the full
    ``S2EdgeIndex::findCandidateCrossings`` probe shape
    (S2EdgeIndex.php:225-244): cover each query edge, collect edges
    indexed in PARENT cells (getEdgesInParentCells) and in DESCENDANT
    cells (getEdgesInChildrenCells), refine with ``robustCrossing``.

    Distributed realization: region boundary edges (dimension-sized)
    are covered driver-side and broadcast twice — once as raw covering
    cells, once expanded to their ancestor chains.  Polyline edges (the
    data side) explode their covering cells; candidate pairs come from
    the UNION of two hash equi-joins:

      * polyline ancestor-chain keys  vs  raw region cells
        (region cell is equal-or-descendant of a polyline cell), and
      * raw polyline cells  vs  region ancestor-chain keys
        (polyline cell is descendant of a region cell).

    Both arms are pure equi-joins — no range probe, no nested loop;
    expanding each side's own ancestor CHAIN (<= 30 cells) never
    explodes the way expanding subtrees would.  Output: (line_id,
    region_id, n_crossings) for pairs with >= 1 proper crossing.

    Only loop/polygon regions participate (caps/rects have no
    boundary vertex chain).

    ``brute=None`` applies the reference's cost-based crossover
    (``use_edge_index``): below m>100 data edges / n>30 query edges
    the covering build is skipped and every (polyline edge, region
    edge) pair goes straight to the refine kernel — the region side is
    broadcast either way, so the tiny path is a broadcast
    nested-loop by DESIGN, never the scale path."""
    from ..s2core.edges import edge_covering
    from ..s2core.region import region_from_params

    # --- broadcast side: region boundary edges -------------------------------
    redge_xyz = []  # (region_id, redge, c, d) in numpy
    for spec in region_specs:
        if spec["kind"] not in ("loop", "polygon"):
            continue
        rid = int(spec["region_id"])
        reg = region_from_params(
            spec["kind"], spec["params"], spec.get("loop_offsets")
        )
        loops = [reg] if spec["kind"] == "loop" else reg.loops
        redge = 0
        for lp in loops:
            verts = lp.vertices
            m = len(verts)
            for i in range(m):
                redge_xyz.append((rid, redge, verts[i], verts[(i + 1) % m]))
                redge += 1

    # --- data side: polyline edges -------------------------------------------
    ledge_xyz = []  # (line_id, k, a, b)
    for spec in polylines:
        lid = int(spec["line_id"])
        v = np.asarray(spec["vertices"], dtype=np.float64)
        verts = geom.normalize(
            geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
        )
        for k in range(len(verts) - 1):
            ledge_xyz.append((lid, k, verts[k], verts[k + 1]))

    if brute is None:
        brute = not use_edge_index(len(redge_xyz), len(ledge_xyz))

    redges = spark.createDataFrame(
        [
            (rid, re, *[float(x) for x in c], *[float(x) for x in d])
            for rid, re, c, d in redge_xyz
        ],
        "region_id long, redge long, cx double, cy double, cz double, "
        "dx double, dy double, dz double",
    )

    if brute:
        # tiny path: all pairs, no index build (S2EdgeIndex brute arm)
        ledges = spark.createDataFrame(
            [
                (lid, k, *[float(x) for x in a], *[float(x) for x in b])
                for lid, k, a, b in ledge_xyz
            ],
            "line_id long, ledge long, ax double, ay double, az double, "
            "bx double, by double, bz double",
        )
        cand = ledges.select("line_id", "ledge").crossJoin(
            F.broadcast(redges.select("region_id", "redge"))
        )
    else:
        rcell_raw = []  # (region_id, redge, cell)
        rcell_anc = []  # (region_id, redge, cell)
        for rid, re, c, d in redge_xyz:
            cov, _ = edge_covering(c, d)
            for cell in cov:
                rcell_raw.append((rid, re, cid.to_signed_scalar(cell)))
                for anc in _ancestors(cell):
                    rcell_anc.append((rid, re, cid.to_signed_scalar(anc)))
        raw_df = spark.createDataFrame(
            rcell_raw, "region_id long, redge long, rcell long"
        ).distinct()
        anc_df = spark.createDataFrame(
            rcell_anc, "region_id long, redge long, rcell long"
        ).distinct()

        ledge_rows = []  # (line_id, ledge, ax..bz, cells, anc_cells)
        for lid, k, a, b in ledge_xyz:
            cov, _ = edge_covering(a, b)
            anc = sorted({x for c in cov for x in _ancestors(c)})
            ledge_rows.append(
                (
                    lid, k,
                    *[float(x) for x in a], *[float(x) for x in b],
                    [cid.to_signed_scalar(c) for c in cov],
                    [cid.to_signed_scalar(c) for c in anc],
                )
            )
        ledges = spark.createDataFrame(
            ledge_rows,
            "line_id long, ledge long, ax double, ay double, az double, "
            "bx double, by double, bz double, cells array<long>, "
            "anc_cells array<long>",
        )

        # --- candidate generation: two equi-join arms -----------------------
        key_cols = ["line_id", "ledge", "region_id", "redge"]
        arm_parent = (
            ledges.select("line_id", "ledge", F.explode("anc_cells").alias("k"))
            .join(F.broadcast(raw_df), F.col("k") == F.col("rcell"), "inner")
            .select(*key_cols)
        )
        arm_child = (
            ledges.select("line_id", "ledge", F.explode("cells").alias("k"))
            .join(F.broadcast(anc_df), F.col("k") == F.col("rcell"), "inner")
            .select(*key_cols)
        )
        cand = arm_parent.unionByName(arm_child).distinct()

    # --- refine: vectorized robustCrossing ----------------------------------
    pairs = cand.join(
        ledges.select(
            "line_id", "ledge", "ax", "ay", "az", "bx", "by", "bz"
        ),
        ["line_id", "ledge"],
    ).join(F.broadcast(redges), ["region_id", "redge"])

    return _count_crossings(pairs, "line_id", "region_id")


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
        v = np.asarray(spec["vertices"], dtype=np.float64)
        verts = geom.normalize(
            geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
        )
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
    spark: SparkSession, polylines: list[dict], brute: bool | None = None
) -> DataFrame:
    """Which polylines cross which OTHER polylines — the two-big-sides
    variant of the edge-index probe: NO broadcast side.  Both arms of
    the candidate join are shuffled hash equi-joins over covering
    cells:

      raw covering cells  ⋈  ancestor-chain keys  (on the cell id)

    catches every ancestor-or-equal relation between two edges'
    covering cells in ONE join, because for an unordered pair either
    edge may supply the ancestor side and the (line_a < line_b)
    normalization dedupes the two orientations.  Edge coverings are
    computed IN EXECUTORS (mapInPandas-style pandas UDF over edge
    rows) — at 100 TB both the edge explode and the covering are
    data-side map work, and the only shuffles are the two equi-joins
    plus the final pair aggregation.

    Output: (line_a, line_b, n_crossings) for pairs with >= 1 proper
    crossing between edges of DIFFERENT lines.

    ``brute=None`` applies the reference's cost-based crossover
    (``use_edge_index``, S2EdgeIndex.php:197-204): at or below 100
    total edges the covering UDF and both equi-joins are skipped and
    all cross-line edge pairs go straight to the refine kernel."""
    from pyspark.sql.types import ArrayType, LongType

    rows = []
    for spec in polylines:
        lid = int(spec["line_id"])
        v = np.asarray(spec["vertices"], dtype=np.float64)
        verts = geom.normalize(
            geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
        )
        for k in range(len(verts) - 1):
            a, b = verts[k], verts[k + 1]
            rows.append(
                (lid, k, *[float(x) for x in a], *[float(x) for x in b])
            )
    edges = spark.createDataFrame(
        rows,
        "line_id long, edge long, ax double, ay double, az double, "
        "bx double, by double, bz double",
    )

    if brute is None:
        brute = not use_edge_index(len(rows), len(rows))
    if brute:
        return _self_crossing_refine(
            edges,
            edges.alias("pa")
            .select(F.col("line_id").alias("la"), F.col("edge").alias("ea"))
            .crossJoin(
                edges.alias("pb").select(
                    F.col("line_id").alias("lb"), F.col("edge").alias("eb")
                )
            )
            .where(F.col("la") < F.col("lb"))
            .select(
                F.col("la").alias("line_a"),
                F.col("lb").alias("line_b"),
                F.col("ea").alias("edge_a"),
                F.col("eb").alias("edge_b"),
            ),
        )

    @F.pandas_udf(ArrayType(LongType()))
    def edge_cells(*cols: pd.Series) -> pd.Series:
        from ..s2core.edges import edge_covering

        n = len(cols[0])
        if n == 0:
            return pd.Series([], dtype=object)
        m = [c.to_numpy(np.float64) for c in cols]
        a = np.stack(m[0:3], axis=1)
        b = np.stack(m[3:6], axis=1)
        out = []
        for i in range(n):
            cov, _ = edge_covering(a[i], b[i])
            out.append([cid.to_signed_scalar(c) for c in cov])
        return pd.Series(out)

    covered = edges.withColumn(
        "cells",
        edge_cells(
            F.col("ax"), F.col("ay"), F.col("az"),
            F.col("bx"), F.col("by"), F.col("bz"),
        ),
    )
    # ancestor chain natively: parent at each level <= the cell's own
    # (garbage parents above the cell's level are filtered by level)
    from ..functions.sql_bitops import s2_level

    raw = covered.select(
        "line_id", "edge", F.explode("cells").alias("cell")
    )
    anc_levels = F.sequence(F.lit(0), s2_level(F.col("cell")))
    anc = raw.select(
        "line_id",
        "edge",
        F.explode(
            F.transform(anc_levels, lambda lv: _parent_dyn(F.col("cell"), lv))
        ).alias("cell"),
    ).distinct()
    cand = (
        anc.alias("pa")
        .join(
            raw.alias("pb"),
            (F.col("pa.cell") == F.col("pb.cell"))
            & (F.col("pa.line_id") != F.col("pb.line_id")),
        )
        .select(
            F.least("pa.line_id", "pb.line_id").alias("line_a"),
            F.greatest("pa.line_id", "pb.line_id").alias("line_b"),
            F.when(
                F.col("pa.line_id") < F.col("pb.line_id"), F.col("pa.edge")
            ).otherwise(F.col("pb.edge")).alias("edge_a"),
            F.when(
                F.col("pa.line_id") < F.col("pb.line_id"), F.col("pb.edge")
            ).otherwise(F.col("pa.edge")).alias("edge_b"),
        )
        .distinct()
    )
    return _self_crossing_refine(edges, cand)


def _self_crossing_refine(edges: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-crossing refine + pair aggregation shared by the indexed
    and brute candidate generators: fetch both edges' endpoints, keep
    pairs with a proper ``robustCrossing``, count per line pair."""
    ea = edges.select(
        F.col("line_id").alias("line_a"), F.col("edge").alias("edge_a"),
        "ax", "ay", "az", "bx", "by", "bz",
    )
    eb = edges.select(
        F.col("line_id").alias("line_b"), F.col("edge").alias("edge_b"),
        F.col("ax").alias("cx"), F.col("ay").alias("cy"),
        F.col("az").alias("cz"), F.col("bx").alias("dx"),
        F.col("by").alias("dy"), F.col("bz").alias("dz"),
    )
    pairs = cand.join(ea, ["line_a", "edge_a"]).join(eb, ["line_b", "edge_b"])
    return _count_crossings(pairs, "line_a", "line_b")


def _parent_dyn(cell, level):
    """Parent at a DYNAMIC level column (sql_bitops.s2_parent takes a
    python int): lsb_l = 1 << (2*(30-l)); (cell & -lsb) | lsb.
    shiftleft needs a literal count, so the power of two comes from
    pow(2, .) — exact in double through 2^60, exact long cast."""
    lsb = F.pow(F.lit(2.0), (F.lit(60) - level * F.lit(2)).cast("double")).cast(
        "long"
    )
    return cell.bitwiseAND(-lsb).bitwiseOR(lsb)


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
        v = np.asarray(spec["vertices"], dtype=np.float64)
        chains[int(spec["line_id"])] = geom.normalize(
            geom.latlng_to_xyz(np.radians(v[:, 0]), np.radians(v[:, 1]))
        )
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
