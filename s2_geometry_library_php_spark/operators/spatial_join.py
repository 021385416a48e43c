"""The flagship operator: distributed point-in-region spatial join.

Design (SURVEY.md §2.7, replacing the reference's single-machine
``S2EdgeIndex`` probe, S2EdgeIndex.php:85-147,385-448):

1. **Plan-time covering build (driver)**: for each region, compute an
   exterior covering (candidate superset) and flag each of its cells
   with an exact ``contains_cell`` test, so each candidate row is
   either ``is_interior`` (skip refine) or boundary (needs the exact
   kernel) — the filter/refine optimization the reference encodes as
   interior coverings (S2RegionCoverer.php:257-267).

2. **Broadcast equi-join on banded prefixes**: each covering cell at
   level L matches probes via ``s2_parent(leaf_id, L) = cell_id`` — a
   pure hash equi-join per distinct level (few: coverings hold <=
   max_cells cells across ~4-6 levels), unioned via ``explode`` of a
   per-probe prefix array.  No theta/range join, no shuffle of the
   (big) probe side: the covering table is broadcast
   (north rule: "broadcast of covering-cell polygon indexes").

3. **Refine**: survivors matched through a boundary cell run the
   vectorized ``contains_points`` kernel (loop parity / cap chord /
   rect interval) via a pandas UDF over Arrow batches; interior
   matches pass through untouched.

Each step has one definition, shared by :func:`spatial_join`, its
region-table twin :func:`spatial_join_region_table` and the polyline
joins: :func:`covering_rows` (cover one region), :func:`covering_candidates`
(prefix explode + equi-join) and ``_refine_points`` (the refine kernel).

Driver-side coverings are memoized in process and on disk under
``$TMPDIR/s2spark_covering_cache``, keyed on the region specs, the
coverer parameters and a digest of the s2core sources: a change to the
coverer, cell or region code re-keys the cache, so it never serves
coverings computed by other code.

At 100 TB scale: stage 2 is map-side only (scan -> project -> BHJ);
the only shuffles in a typical pipeline are the caller's final
aggregations.  Skewed hot tiles don't matter for the join itself
(broadcast joins don't shuffle by key); skew handling matters for the
downstream groupBys and is provided by ``tiling.salted_repartition_planned``.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import tempfile
from importlib import resources

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .. import s2core
from ..functions.sql_bitops import s2_parent
from ..s2core import cellid as cid
from ..s2core import geom
from ..s2core.cell import Cell
from ..s2core.coverer import RegionCoverer, normalize_cell_union
from ..s2core.region import Region, region_from_params

COVERING_SCHEMA = StructType(
    [
        StructField("region_id", LongType()),
        StructField("cov_cell", LongType()),
        StructField("cov_level", IntegerType()),
        StructField("is_interior", BooleanType()),
    ]
)


# Banded level grid for the join coverings: every covering cell sits
# at one of these levels, so the probe side only materializes 4 prefix
# keys per row (the "banded-prefix equi-join" of SURVEY.md §2.7)
# instead of one per arbitrary level.  The coverer's own
# min_level/level_mod machinery (S2RegionCoverer.php:107-146,
# denormalize S2CellUnion.php:111-135) produces grid-conformant
# coverings natively: min 4, mod 3 -> levels {4, 7, 10, 13}.
JOIN_LEVEL_GRID = (4, 7, 10, 13)


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


def compute_coverings(
    regions: list[dict],
    max_cells: int = 96,
    min_level: int = JOIN_LEVEL_GRID[0],
    max_level: int = JOIN_LEVEL_GRID[-1],
    level_mod: int = 3,
) -> list[tuple[int, int, int, bool]]:
    """Driver-side covering rows (:func:`covering_rows`) of every
    region.  Memoized in process and on disk: coverings are
    deterministic functions of the region spec, the parameters and the
    s2core code (:func:`_s2core_digest`)."""
    key = (
        tuple(
            (r["region_id"], r["kind"], tuple(r["params"]),
             tuple(r.get("loop_offsets") or ()))
            for r in regions
        ),
        max_cells, min_level, max_level, level_mod, _s2core_digest(),
    )
    cached = _COVERING_CACHE.get(key)
    if cached is not None:
        return cached
    disk = _disk_cache_load(key)
    if disk is not None:
        _COVERING_CACHE[key] = disk
        return disk
    rows: list[tuple[int, int, int, bool]] = []
    for spec in regions:
        region = region_from_params(
            spec["kind"], spec["params"], spec.get("loop_offsets")
        )
        rows.extend(
            covering_rows(
                region, int(spec["region_id"]),
                max_cells, min_level, max_level, level_mod,
            )
        )
    _COVERING_CACHE[key] = rows
    _disk_cache_store(key, rows)
    return rows


_COVERING_CACHE: dict = {}
_DISK_CACHE_DIR = os.path.join(tempfile.gettempdir(), "s2spark_covering_cache")


@functools.cache
def _s2core_digest() -> str:
    """Digest of every s2core source file, computed once per process:
    a coverer, cell or region change re-keys the covering caches, so a
    cache entry never outlives the code that filled it."""
    h = hashlib.sha256()
    for f in sorted(resources.files(s2core).iterdir(), key=lambda f: f.name):
        if f.name.endswith(".py"):
            h.update(f.name.encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def _disk_path(key) -> str:
    digest = hashlib.md5(repr(key).encode()).hexdigest()
    return os.path.join(_DISK_CACHE_DIR, digest + ".json")


def _disk_cache_load(key):
    """Coverings are pure functions of the region specs; cache across
    processes so repeated bench/driver runs skip the coverer.  An
    unreadable or malformed file (e.g. truncated) is a miss."""
    try:
        with open(_disk_path(key)) as f:
            rows = [tuple(r) for r in json.load(f)]
    except (OSError, ValueError, TypeError):
        return None
    return rows if all(len(r) == 4 for r in rows) else None


def _disk_cache_store(key, rows) -> None:
    try:
        os.makedirs(_DISK_CACHE_DIR, exist_ok=True)
        path = _disk_path(key)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([list(r) for r in rows], f)
        os.replace(tmp, path)
    except OSError:
        pass


def cell_union_difference(a_cells: list[int], b_cells: list[int]) -> list[int]:
    """Cell set A \\ B (S2CellUnion getDifference semantics,
    S2CellUnion.php:227-313 family): split A cells recursively until
    disjoint from or contained in B."""
    if not b_cells:
        return [x & 0xFFFFFFFFFFFFFFFF for x in a_cells]
    b_ranges = sorted(
        tuple(r & 0xFFFFFFFFFFFFFFFF for r in cid.range_scalar(c))
        for c in (x & 0xFFFFFFFFFFFFFFFF for x in b_cells)
    )

    def overlaps(lo: int, hi: int) -> str:
        # returns 'none' | 'full' | 'partial' vs the b range set
        for blo, bhi in b_ranges:
            if bhi < lo:
                continue
            if blo > hi:
                break
            if blo <= lo and hi <= bhi:
                return "full"
            return "partial"
        return "none"

    out: list[int] = []

    def rec(c: int) -> None:
        state = overlaps(*cid.range_scalar(c))
        if state == "full":
            return
        if state == "none" or cid.lsb_scalar(c) == 1:  # a partial leaf is kept
            out.append(c)
            return
        for child in cid.children_scalar(c):
            rec(child)

    for c in (x & 0xFFFFFFFFFFFFFFFF for x in a_cells):
        rec(c)
    return normalize_cell_union(out)


def build_covering_table(
    spark: SparkSession, regions: list[dict], **kwargs
) -> DataFrame:
    rows = compute_coverings(regions, **kwargs)
    return spark.createDataFrame(rows, COVERING_SCHEMA)


def bbox_prefilter_expr(regions: list[dict], lat_col: str, lon_col: str):
    """Cheap OR-of-rect-bounds prefilter — the reference's own first
    optimization (every region op starts with a rect/cap bound check,
    S2Loop.php:382-389, S2Cap.php:176-180), lifted to a whole-stage-
    codegen scalar predicate evaluated BEFORE the prefix explode and
    broadcast join.  Probes outside every region's lat/lng bound skip
    the join entirely, cutting the exploded-row volume by the bbox
    selectivity.  Conservative: bounds widened by 1e-9 degrees against
    radian->degree rounding.  The longitude compare mirrors the refine
    kernel's lng==-pi -> +pi remap (a doc at exactly lon=-180 must not
    be dropped by the prefilter when a region's interval ends at
    +180)."""
    import math

    eps = 1e-9
    terms = []
    for spec in regions:
        reg = region_from_params(
            spec["kind"], spec["params"], spec.get("loop_offsets")
        )
        bound = reg.get_rect_bound()
        lat_lo = math.degrees(bound.lat.lo) - eps
        lat_hi = math.degrees(bound.lat.hi) + eps
        t = (F.col(lat_col) >= F.lit(lat_lo)) & (
            F.col(lat_col) <= F.lit(lat_hi)
        )
        if not bound.lng.is_full():
            lng_lo = math.degrees(bound.lng.lo) - eps
            lng_hi = math.degrees(bound.lng.hi) + eps
            # normalize -180 to +180 before comparing, matching the
            # refine kernel's atan2-based longitude (never returns -pi
            # for points remapped to +pi by the S1Interval convention)
            lon_n = F.when(
                F.col(lon_col) == F.lit(-180.0), F.lit(180.0)
            ).otherwise(F.col(lon_col))
            if bound.lng.is_inverted():
                t = t & (
                    (lon_n >= F.lit(lng_lo)) | (lon_n <= F.lit(lng_hi))
                )
            else:
                t = t & (lon_n >= F.lit(lng_lo)) & (lon_n <= F.lit(lng_hi))
        terms.append(t)
    out = terms[0]
    for t in terms[1:]:
        out = out | t
    return out


def _refine_points(
    lat: pd.Series,
    lon: pd.Series,
    region_id: pd.Series,
    is_interior: pd.Series,
    cache: dict[int, Region],
    build,
) -> pd.Series:
    """Refine kernel shared by both covering joins: exact containment
    for (lat, lon, region_id) batches, one vectorized kernel call per
    region present in the batch.  ``build(rid, mask)`` rebuilds a
    region missing from the per-worker ``cache``."""
    n = len(lat)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return pd.Series(out)
    # Interior-covering matches are containment-certain: pass
    # through with zero kernel work (the filter/refine split).
    interior = is_interior.to_numpy(bool)
    out[interior] = True
    todo = ~interior
    if not np.any(todo):
        return pd.Series(out)
    rid_arr = region_id.to_numpy(np.int64)
    pts = geom.latlng_to_xyz(
        np.radians(lat.to_numpy(np.float64)),
        np.radians(lon.to_numpy(np.float64)),
    )
    for rid in np.unique(rid_arr[todo]):
        mask = todo & (rid_arr == rid)
        if int(rid) not in cache:
            cache[int(rid)] = build(int(rid), mask)
        out[mask] = cache[int(rid)].contains_points(pts[mask])
    return pd.Series(out)


def _refine_udf(regions: list[dict]):
    """Refine UDF with the regions in its closure: rebuilt once per
    executor (closure serialization)."""
    specs = {int(r["region_id"]): r for r in regions}
    cache: dict[int, Region] = {}

    def build(rid: int, _mask) -> Region:
        spec = specs[rid]
        return region_from_params(
            spec["kind"], spec["params"], spec.get("loop_offsets")
        )

    @F.pandas_udf(BooleanType())
    def refine(
        lat: pd.Series,
        lon: pd.Series,
        region_id: pd.Series,
        is_interior: pd.Series,
    ) -> pd.Series:
        return _refine_points(lat, lon, region_id, is_interior, cache, build)

    return refine


def covering_candidates(
    docs: DataFrame,
    cov: DataFrame,
    levels,
    leaf_col: str,
    broadcast: bool = True,
) -> DataFrame:
    """Banded-prefix candidate join: ``docs`` rows x covering rows whose
    ``cov_cell`` is an ancestor of the row's leaf.

    Probe side: one prefix key per covering level (a plain long-array
    explode; stays narrow, no shuffle).  A single equi-key suffices: a
    cell id's lowest set bit encodes its level (S2CellId.php:211-243),
    so s2_parent(leaf, L') = cov_cell already implies L' = cov_level —
    no second join key, no struct materialization through the exploded
    rows.  With ``broadcast`` the covering side is broadcast."""
    prefixes = F.array(*[s2_parent(F.col(leaf_col), lvl) for lvl in levels])
    probe = docs.withColumn("_prefix", F.explode(prefixes))
    cov_side = cov.drop("cov_level")
    if broadcast:
        cov_side = F.broadcast(cov_side)
    return probe.join(cov_side, F.col("_prefix") == F.col("cov_cell"), "inner")


def spatial_join(
    spark: SparkSession,
    docs: DataFrame,
    regions: list[dict],
    lat_col: str = "lat",
    lon_col: str = "lon",
    leaf_col: str = "cell_id",
    max_cells: int = 8,
) -> DataFrame:
    """docs x regions point-in-region join.

    Returns ``docs`` columns + ``region_id``.  ``docs`` must already
    carry the leaf ``cell_id`` (from ``functions.s2_cell_id``).  Docs
    outside every region's rect bound are dropped first
    (``bbox_prefilter_expr``); the prefilter is conservative, so it
    never changes the output.
    """
    cov_rows = compute_coverings(regions, max_cells=max_cells)
    levels = sorted({lvl for _, _, lvl, _ in cov_rows})
    cov = spark.createDataFrame(cov_rows, COVERING_SCHEMA)

    docs = docs.where(bbox_prefilter_expr(regions, lat_col, lon_col))
    joined = covering_candidates(docs, cov, levels, leaf_col)

    # Covering rows are disjoint per region, so no dedup is needed.
    # SINGLE pass: the refine kernel receives is_interior and passes
    # interior matches through untouched (masked, zero kernel work) —
    # avoids a union that would re-execute the probe subtree twice.
    refine = _refine_udf(regions)
    return joined.where(
        refine(
            F.col(lat_col),
            F.col(lon_col),
            F.col("region_id"),
            F.col("is_interior"),
        )
    ).select(*docs.columns, "region_id")


# --- distributed region path (large region sets, SURVEY.md §3.2) ---------------
REGION_TABLE_SCHEMA = (
    "region_id long, kind string, params array<double>, "
    "loop_offsets array<int>"
)


def regions_to_df(spark: SparkSession, regions: list[dict]) -> DataFrame:
    rows = [
        (
            int(r["region_id"]),
            r["kind"],
            [float(x) for x in r["params"]],
            [int(x) for x in r["loop_offsets"]]
            if r.get("loop_offsets") is not None
            else None,
        )
        for r in regions
    ]
    return spark.createDataFrame(rows, REGION_TABLE_SCHEMA)


def _region_from_row(kind, params, loop_offsets) -> Region:
    return region_from_params(
        kind,
        [float(x) for x in params],
        None if loop_offsets is None else [int(x) for x in loop_offsets],
    )


def build_covering_table_distributed(
    regions_df: DataFrame,
    max_cells: int = 8,
    min_level: int = JOIN_LEVEL_GRID[0],
    max_level: int = JOIN_LEVEL_GRID[-1],
    level_mod: int = 3,
) -> DataFrame:
    """Distributed twin of :func:`build_covering_table`: the coverer
    kernel runs INSIDE executors via mapInPandas over the region
    dimension table, so a region set of any size (the driver-side path
    assumes O(10^2..10^6) regions fit on the driver) covers in
    parallel.  Output schema matches COVERING_SCHEMA."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                rows.extend(
                    covering_rows(
                        _region_from_row(row.kind, row.params, row.loop_offsets),
                        int(row.region_id),
                        max_cells, min_level, max_level, level_mod,
                    )
                )
            yield pd.DataFrame(rows, columns=COVERING_SCHEMA.fieldNames())

    return regions_df.mapInPandas(gen, COVERING_SCHEMA)


def _refine_udf_from_table():
    """Refine UDF for the distributed-region path: region geometry
    arrives per-row (joined from the region table) instead of via a
    driver closure, so the region set size is unbounded.  Regions are
    rebuilt from their first row in a batch and memoized per worker."""
    cache: dict[int, Region] = {}

    @F.pandas_udf(BooleanType())
    def refine(
        lat: pd.Series,
        lon: pd.Series,
        region_id: pd.Series,
        is_interior: pd.Series,
        kind: pd.Series,
        params: pd.Series,
        loop_offsets: pd.Series,
    ) -> pd.Series:
        def build(_rid: int, mask) -> Region:
            i = int(np.argmax(mask))
            return _region_from_row(
                kind.iloc[i], params.iloc[i], loop_offsets.iloc[i]
            )

        return _refine_points(lat, lon, region_id, is_interior, cache, build)

    return refine


def spatial_join_region_table(
    spark: SparkSession,
    docs: DataFrame,
    regions_df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    leaf_col: str = "cell_id",
    max_cells: int = 8,
    broadcast_covering: bool = True,
) -> DataFrame:
    """Fully-distributed point-in-region join over a region DIMENSION
    TABLE (schema REGION_TABLE_SCHEMA): coverings computed in
    executors, candidate equi-join on banded prefixes, refine with
    per-row region geometry.  With ``broadcast_covering`` the covering
    and region tables are broadcast (the common case); otherwise both
    joins fall back to shuffle joins and the path scales to region
    sets far beyond driver memory."""
    cov = build_covering_table_distributed(regions_df, max_cells=max_cells)
    joined = covering_candidates(
        docs, cov, JOIN_LEVEL_GRID, leaf_col, broadcast_covering
    )
    reg_side = regions_df
    if broadcast_covering:
        reg_side = F.broadcast(reg_side)
    joined = joined.join(reg_side, "region_id", "inner")
    refine = _refine_udf_from_table()
    return joined.where(
        refine(
            F.col(lat_col), F.col(lon_col), F.col("region_id"),
            F.col("is_interior"), F.col("kind"), F.col("params"),
            F.col("loop_offsets"),
        )
    ).select(*docs.columns, "region_id")
