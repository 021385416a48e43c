"""The flagship operator: distributed point-in-region spatial join.

Design (SURVEY.md §2.7, replacing the reference's single-machine
``S2EdgeIndex`` probe, S2EdgeIndex.php:85-147,385-448):

1. **Plan-time covering build (driver)**: for each region, compute an
   exterior covering (candidate superset) and flag each of its cells
   with an exact ``contains_cell`` test, so each candidate row is
   either ``is_interior`` (skip refine) or boundary (needs the exact
   kernel) — the filter/refine optimization the reference encodes as
   interior coverings (S2RegionCoverer.php:257-267).

2. **Covering lookup inside the scan** (:func:`spatial_join`): the
   covering rows, sorted by cell, and the regions ride in one Arrow
   UDF's closure (:func:`region_hits`).  Per Arrow batch it
   encodes the leaves and finds each leaf's parent at every covering
   level with a binary search (``cellid.covering_pairs``), so the
   region lookup needs no join: with a driver-sized region set it
   belongs in the scan (Raptor, VLDB'19, makes the same argument for
   raster x vector).

3. **Refine in the same crossing**: pairs matched through a boundary
   cell run the vectorized ``contains_points`` kernel (loop parity /
   cap chord / rect interval); interior matches pass through
   untouched.  Each point leaves Python with its sorted containing
   region ids, exploded into one row per region.

Steps 2 and 3 are ``s2core.probe.CoveringProbe``; the polyline
proximity join runs it with the same UDF shell (:func:`point_hits`,
:func:`probe_join`) over buffered polyline coverings.

The region-table twin :func:`spatial_join_region_table` runs the same
core over a region dimension table: its coverings are computed in
executors (:func:`build_covering_table_distributed`), then the covering
rows and the region specs are each collected once as Arrow and feed the
same prefilter and kernel.  Each entry point builds every region once
(:func:`build_regions`); the prefilter bounds and the kernel's shapes
both come from that map.

Driver-side coverings are memoized in process and on disk under
``$TMPDIR/s2spark_covering_cache``, keyed on the region specs, the
coverer parameters and a digest of the s2core sources: a change to the
coverer, cell or region code re-keys the cache, so it never serves
coverings computed by other code.

At 100 TB scale: the point join is map-side only (scan -> filter ->
one ArrowEvalPython -> generate), with no exchange and no join; the
only shuffles in a typical pipeline are the caller's final
aggregations.  Skewed hot tiles don't matter for the join itself (it
never partitions by key); skew handling matters for the downstream
groupBys and is provided by ``tiling.salted_repartition_planned``.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import tempfile
from importlib import resources

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .. import s2core
from ..plans.session import local_relation
from ..s2core import arrow_io as aio
from ..s2core import cellid as cid
from ..s2core.coverer import covering_rows
from ..s2core.probe import CoveringProbe
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
# at one of these levels, so the in-batch lookup binary-searches each
# point's parent at 4 levels (SURVEY.md §2.7) instead of one per
# arbitrary level.  The coverer's own
# min_level/level_mod machinery (S2RegionCoverer.php:107-146,
# denormalize S2CellUnion.php:111-135) produces grid-conformant
# coverings natively: min 4, mod 3 -> levels {4, 7, 10, 13}.
JOIN_LEVEL_GRID = (4, 7, 10, 13)
# The grid as the coverer's (min_level, max_level, level_mod).
_GRID_LEVELS = (
    JOIN_LEVEL_GRID[0],
    JOIN_LEVEL_GRID[-1],
    JOIN_LEVEL_GRID[1] - JOIN_LEVEL_GRID[0],
)


def compute_coverings(
    regions: list[dict], max_cells: int = 96
) -> list[tuple[int, int, int, bool]]:
    """Driver-side covering rows (:func:`covering_rows`, on
    :data:`JOIN_LEVEL_GRID`) of every region.  Memoized in process and
    on disk: coverings are deterministic functions of the region spec,
    ``max_cells`` and the s2core code (:func:`_s2core_digest`)."""
    key = (
        tuple(
            (r["region_id"], r["kind"], tuple(r["params"]),
             tuple(r.get("loop_offsets") or ()))
            for r in regions
        ),
        max_cells, _GRID_LEVELS, _s2core_digest(),
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
            covering_rows(region, int(spec["region_id"]), max_cells, *_GRID_LEVELS)
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


def build_covering_table(
    spark: SparkSession, regions: list[dict], **kwargs
) -> DataFrame:
    """The driver-side covering rows (:func:`compute_coverings`) as a
    local relation in COVERING_SCHEMA."""
    return local_relation(spark, compute_coverings(regions, **kwargs), COVERING_SCHEMA)


def build_regions(specs) -> dict[int, Region]:
    """region_id -> Region of region specs (FIXTURES.md §2 encoding:
    dicts, or region-table rows as dicts), each built once, validated."""
    return {
        int(r["region_id"]): region_from_params(
            r["kind"], r["params"], r.get("loop_offsets")
        )
        for r in specs
    }


def bbox_prefilter_expr(regions: list[dict], lat_col: str, lon_col: str):
    """:func:`rect_prefilter_expr` of region specs."""
    return rect_prefilter_expr(build_regions(regions).values(), lat_col, lon_col)


def rect_prefilter_expr(shapes, lat_col: str, lon_col: str):
    """Cheap OR-of-rect-bounds prefilter over built regions — the
    reference's own first optimization (every region op starts with a
    rect/cap bound check, S2Loop.php:382-389, S2Cap.php:176-180),
    lifted to a whole-stage-codegen scalar predicate evaluated BEFORE
    the Python crossing.  Probes outside every region's lat/lng bound
    never reach Python.  Conservative: bounds widened by 1e-9 degrees
    against radian->degree rounding.  The longitude compare mirrors the
    refine kernel's lng==-pi -> +pi remap (a doc at exactly lon=-180
    must not be dropped by the prefilter when a region's interval ends
    at +180).

    The predicate is built as one SQL string and parsed in one
    ``F.expr`` call: composing it from Column operators costs a py4j
    round trip per operator (over 2,000 for a dozen regions), the
    string costs the same few calls for any region count.  Doubles are
    written as ``repr(x) + "D"`` literals, which round-trip exactly.
    No regions give ``FALSE``."""
    import math

    def col(name: str) -> str:
        return ".".join(f"`{part}`" for part in name.split("."))

    def lit(x: float) -> str:
        return repr(float(x)) + "D"

    eps = 1e-9
    lat = col(lat_col)
    # normalize -180 to +180 before comparing, matching the refine
    # kernel's atan2-based longitude (never returns -pi for points
    # remapped to +pi by the S1Interval convention)
    lon = f"(CASE WHEN {col(lon_col)} = -180.0D THEN 180.0D ELSE {col(lon_col)} END)"
    terms = []
    for reg in shapes:
        bound = reg.get_rect_bound()
        lat_lo = lit(math.degrees(bound.lat.lo) - eps)
        lat_hi = lit(math.degrees(bound.lat.hi) + eps)
        t = f"{lat} >= {lat_lo} AND {lat} <= {lat_hi}"
        if not bound.lng.is_full():
            lng_lo = lit(math.degrees(bound.lng.lo) - eps)
            lng_hi = lit(math.degrees(bound.lng.hi) + eps)
            if bound.lng.is_inverted():
                t += f" AND ({lon} >= {lng_lo} OR {lon} <= {lng_hi})"
            else:
                t += f" AND {lon} >= {lng_lo} AND {lon} <= {lng_hi}"
        terms.append(f"({t})")
    return F.expr(" OR ".join(terms) or "FALSE")


def region_hits(shapes: dict[int, Region], cov_rows):
    """The point-in-region kernel of :func:`spatial_join`:
    :func:`point_hits` over covering rows (``COVERING_SCHEMA`` order:
    region_id, cov_cell, cov_level, is_interior; a list of tuples or an
    (n, 4) int64 array) and the built regions (:func:`build_regions`;
    the closure ships them built: a worker does not re-validate a loop
    per task)."""
    cov = np.array(cov_rows, dtype=np.int64).reshape(-1, 4)
    return point_hits(
        CoveringProbe(
            cov[:, 0], cid.from_signed(cov[:, 1]), cov[:, 3].astype(bool), shapes
        )
    )


def point_hits(probe: CoveringProbe):
    """``hits(lat, lon)`` (degree arrays) -> ``(offsets, owners)``:
    point ``i``'s sorted owners (``probe.hits``) are
    ``owners[offsets[i]:offsets[i + 1]]``.  The closure holds the probe
    and numpy alone: a worker that unpickles it imports no operator
    module and no pandas."""

    def hits(lat: np.ndarray, lon: np.ndarray):
        pt, owner = probe.hits(lat, lon)
        return np.searchsorted(pt, np.arange(len(lat) + 1)), owner

    return hits


def hits_udf(kernel):
    """``kernel`` (:func:`point_hits`) as an Arrow UDF ``hits(lat, lon)``
    with the kernel in its closure.  It builds its list column from the
    kernel's offsets and owners (``s2core.arrow_io``), so the worker
    imports no pandas."""

    @F.arrow_udf(ArrayType(LongType()))
    def hits(lat: pa.Array, lon: pa.Array) -> pa.Array:
        offsets, owners = kernel(aio.float64_values(lat), aio.float64_values(lon))
        return aio.list_array(offsets, aio.array(owners))

    return hits


def probe_join(
    docs: DataFrame, kernel, lat_col: str, lon_col: str, out_col: str
) -> DataFrame:
    """``docs`` columns + ``out_col``: one row per doc and owner that
    ``kernel`` (:func:`point_hits`) returns, in one Arrow UDF
    (:func:`hits_udf`): no covering table and no join."""
    hits = hits_udf(kernel)
    # explode_outer + an explicit not-null filter, not an inner explode:
    # for an inner explode the optimizer infers size(_hits) > 0 and
    # pushes it below the projection, evaluating the UDF a second time
    # in its own ArrowEvalPython node (the trap radius_join.join_key avoids).
    return (
        docs.withColumn("_hits", hits(F.col(lat_col), F.col(lon_col)))
        .withColumn(out_col, F.explode_outer("_hits"))
        .where(F.col(out_col).isNotNull())
        .select(*docs.columns, out_col)
    )


def spatial_join(
    spark: SparkSession,
    docs: DataFrame,
    regions: list[dict],
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_cells: int = 8,
) -> DataFrame:
    """docs x regions point-in-region join.

    Returns ``docs`` columns + ``region_id``: one row per doc and
    containing region.  ``docs`` needs only the ``lat_col``/``lon_col``
    degree columns; the join encodes the leaf inside its one Python
    crossing (:func:`region_hits`).  A doc with a null, NaN or infinite
    coordinate is in no region.  Docs outside every region's rect
    bound are dropped first (:func:`rect_prefilter_expr`); the
    prefilter is conservative, so it never changes the output.  When
    ``docs`` computes its own ``s2_cell_id`` over the same columns,
    Catalyst evaluates both UDFs in one ArrowEvalPython node.
    """
    cov_rows = compute_coverings(regions, max_cells=max_cells)
    return _point_join(docs, build_regions(regions), cov_rows, lat_col, lon_col)


def _point_join(docs, shapes, cov_rows, lat_col, lon_col) -> DataFrame:
    """The join core: rect prefilter, then :func:`region_hits` in one
    :func:`probe_join` crossing."""
    prefiltered = docs.where(rect_prefilter_expr(shapes.values(), lat_col, lon_col))
    return probe_join(
        prefiltered, region_hits(shapes, cov_rows), lat_col, lon_col, "region_id"
    )


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
    return local_relation(spark, rows, REGION_TABLE_SCHEMA)


def build_covering_table_distributed(
    regions_df: DataFrame, max_cells: int = 8
) -> DataFrame:
    """Distributed twin of :func:`build_covering_table`: the coverer
    kernel runs INSIDE executors via mapInArrow over the region
    dimension table (:func:`covering_batches`), so a large region set
    covers in parallel.  Output schema matches COVERING_SCHEMA."""
    return regions_df.mapInArrow(covering_batches(max_cells), COVERING_SCHEMA)


def covering_batches(max_cells: int):
    """The mapInArrow generator of :func:`build_covering_table_distributed`:
    region-table batches (REGION_TABLE_SCHEMA) in, their
    ``covering_rows`` out as COVERING_SCHEMA batches.  It reads and
    writes Arrow through ``s2core``, so the worker imports no pandas."""
    names = COVERING_SCHEMA.fieldNames()
    dtypes = (np.int64, np.int64, np.int32, bool)

    def gen(batches):
        for batch in batches:
            rows = [
                row
                for spec in batch.to_pylist()
                for row in covering_rows(
                    region_from_params(spec["kind"], spec["params"], spec["loop_offsets"]),
                    spec["region_id"], max_cells, *_GRID_LEVELS,
                )
            ]
            cols = list(zip(*rows)) or [()] * len(names)
            yield pa.RecordBatch.from_arrays(
                [aio.array(np.array(c, dtype=t)) for c, t in zip(cols, dtypes)], names=names
            )

    return gen


def spatial_join_region_table(
    spark: SparkSession,
    docs: DataFrame,
    regions_df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_cells: int = 8,
) -> DataFrame:
    """:func:`spatial_join` over a region DIMENSION TABLE (schema
    REGION_TABLE_SCHEMA), with its coverings computed in executors
    (:func:`build_covering_table_distributed`).  The covering rows and
    the region specs are each collected once as Arrow; the join is then
    :func:`spatial_join`'s: rect prefilter and one Python crossing for
    the covering lookup and refine, with no join."""
    table = build_covering_table_distributed(regions_df, max_cells=max_cells).toArrow()
    cov_rows = np.column_stack(
        [table.column(c).to_numpy().astype(np.int64) for c in COVERING_SCHEMA.fieldNames()]
    )
    shapes = build_regions(regions_df.toArrow().to_pylist())
    return _point_join(docs, shapes, cov_rows, lat_col, lon_col)
