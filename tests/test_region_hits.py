"""The fused point-in-region kernel of ``spatial_join``
(``region_hits``: covering lookup and refine in one Python crossing).
On adversarial points (the poles, lon = +-180, points inside several
overlapping fixtures, leaves at and just outside the range ends of
covering cells, null, NaN and infinite coordinates) it agrees with
brute-force containment and with the region-table join, one row per
containing region; its answer does not depend on how the rows are
batched; a worker unpickles it, the polyline kernels built on the
same lookup, the S2 Arrow UDF shells and the region table's covering
generator without importing any operator module or pandas; the bbox prefilter
it runs behind is built in the same number of py4j calls for any
region count; and a join builds each region once."""

import importlib
import os
import pickle
import subprocess
import sys
from collections import Counter

import numpy as np
import py4j.clientserver
import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, StructField

from s2_geometry_library_php_spark.functions import s2_cell_id
from s2_geometry_library_php_spark.functions.udfs import s2_ring_cells_udf
from s2_geometry_library_php_spark.operators.cellsets import _pieces_udf
from s2_geometry_library_php_spark.operators.knn import _ring_topk_udf, probe_rings
from s2_geometry_library_php_spark.operators.polyline_join import (
    crossings_udf,
    line_probe,
    polyline_projections,
    projection_udf,
)
from s2_geometry_library_php_spark.operators.spatial_join import (
    bbox_prefilter_expr,
    build_regions,
    compute_coverings,
    covering_batches,
    hits_udf,
    point_hits,
    region_hits,
    regions_to_df,
    spatial_join,
    spatial_join_region_table,
)
from s2_geometry_library_php_spark.s2core import cellid as cid
from s2_geometry_library_php_spark.s2core import geom
from s2_geometry_library_php_spark.s2core.edges import EdgeProbe
from s2_geometry_library_php_spark.s2core.region import region_from_params
from s2_geometry_library_php_spark.sources import region_fixtures

MAX_CELLS = 8  # spatial_join's default covering size


def _region(spec):
    return region_from_params(spec["kind"], spec["params"], spec.get("loop_offsets"))


def _boundary_leaves(regions):
    """Leaves at range_min / range_max of every covering cell, and the
    leaves just before and after each range (the next leaf id is 2
    away); ids that leave the six faces are dropped."""
    cells = cid.from_signed([r[1] for r in compute_coverings(regions, max_cells=MAX_CELLS)])
    two = np.uint64(2)
    lo, hi = cid.range_min(cells), cid.range_max(cells)
    leaves = np.concatenate([lo, hi, lo - two, hi + two])
    return leaves[(leaves >> np.uint64(61)) < 6]


@pytest.fixture(scope="module")
def adversarial():
    rng = np.random.default_rng(9)
    regions = region_fixtures()
    lat, lon = [], []

    def add(a, b):
        lat.extend(np.ravel(a))
        lon.extend(np.ravel(b))

    add(np.degrees(np.arcsin(rng.uniform(-1, 1, 1500))), rng.uniform(-180, 180, 1500))
    edge_lon = np.array([-180.0, -90.0, 0.0, 45.0, 180.0])
    add(np.full(5, 90.0), edge_lon)
    add(np.full(5, -90.0), edge_lon)
    edge_lat = np.array([-15.0, -10.0, 0.0, 5.0, 14.9, 15.0, 45.0, 85.0])
    add(edge_lat, np.full(8, 180.0))
    add(edge_lat, np.full(8, -180.0))
    # Inside each region's rect bound, where the fixtures overlap.
    for spec in regions:
        b = _region(spec).get_rect_bound()
        la = rng.uniform(b.lat.lo, b.lat.hi, 150)
        span = (b.lng.hi - b.lng.lo) % (2 * np.pi) or 2 * np.pi
        ln = (b.lng.lo + rng.uniform(0, span, 150) + np.pi) % (2 * np.pi) - np.pi
        add(np.degrees(la), np.degrees(ln))
    leaves = _boundary_leaves(regions)
    la, ln = cid.cell_id_to_center_latlng(leaves)
    add(np.degrees(la), np.degrees(ln))
    lat, lon = np.asarray(lat), np.asarray(lon)
    # The boundary points really sit in the boundary leaves.
    tail = slice(len(lat) - len(leaves), None)
    assert np.array_equal(cid.cell_id_from_latlng_degrees(lat[tail], lon[tail]), leaves)
    return regions, lat, lon


def _brute_hits(regions, lat, lon):
    """Each point's sorted containing region ids; a point with a NaN or
    infinite coordinate (a null is NaN here) is in no region."""
    finite = np.isfinite(lat) & np.isfinite(lon)
    pts = geom.latlng_to_xyz(
        np.radians(np.where(finite, lat, 0.0)), np.radians(np.where(finite, lon, 0.0))
    )
    hits = [[] for _ in lat]
    for spec in regions:
        for i in np.nonzero(_region(spec).contains_points(pts) & finite)[0]:
            hits[i].append(int(spec["region_id"]))
    return [sorted(h) for h in hits]


def _kernel(regions):
    return region_hits(
        build_regions(regions), compute_coverings(regions, max_cells=MAX_CELLS)
    )


def _lists(hits):
    """Each point's owners of a ``point_hits`` kernel's (offsets, owners)."""
    offsets, owners = hits
    return [owners[a:b].tolist() for a, b in zip(offsets[:-1], offsets[1:])]


def test_region_hits_matches_brute_force(adversarial):
    regions, lat, lon = adversarial
    got = _lists(_kernel(regions)(lat, lon))
    expected = _brute_hits(regions, lat, lon)
    assert got == expected
    # The fixtures overlap: some points lie in several regions.
    assert max(len(h) for h in expected) >= 2
    assert sum(len(h) for h in expected) > 1000


def test_region_hits_do_not_depend_on_batching(adversarial):
    regions, lat, lon = adversarial
    whole = _lists(_kernel(regions)(lat, lon))
    for size in (1, 7):
        kernel = _kernel(regions)  # a fresh per-worker region cache
        sliced = [
            h
            for i in range(0, len(lat), size)
            for h in _lists(kernel(lat[i:i + size], lon[i:i + size]))
        ]
        assert sliced == whole, size
    assert _lists(_kernel(regions)(lat[:0], lon[:0])) == []
    nan = _kernel(regions)(np.array([np.nan, 40.7]), np.array([-74.0, np.inf]))
    assert _lists(nan) == [[], []]


def test_workers_unpickle_the_kernels_without_operator_modules(spark, adversarial, tmp_path):
    """The S2 kernels and their Arrow UDF shells hold numpy, pyarrow and
    s2core alone: a fresh interpreter loads and runs them on pyarrow
    arrays with no ``operators`` module and no pandas imported (a
    module-level helper from ``operators`` in a closure would import
    all of them; pyarrow's own numpy conversions import pandas), and
    gets the driver's outputs.  So does the region table's mapInArrow
    covering generator, which gives ``compute_coverings``' rows."""
    from pyspark import cloudpickle

    regions, lat, lon = adversarial
    lines = [{"line_id": 1, "vertices": [[0.0, -30.0], [10.0, -20.0], [20.0, -20.0]]}]
    kernels = [
        _kernel(regions),
        point_hits(line_probe(lines, 0.2)),
        polyline_projections(lines, 0.2),
    ]
    table = pa.table({"probe_id": pa.array([0, 1], pa.int64()),
                      "_plat": [10.0, -40.0], "_plon": [20.0, 100.0]})
    leaf = cid.cell_id_from_latlng_degrees(np.array([10.0, -40.0]), np.array([20.0, 100.0]))
    ring = probe_rings(spark, table, leaf, 3, StructField("probe_id", LongType()))
    a_lat, a_lon = pa.array(lat), pa.array(lon)
    a_lat = pa.concat_arrays([a_lat, pa.array([None, 1.0], pa.float64())]).slice(1)
    a_lon = pa.concat_arrays([a_lon, pa.array([2.0, None], pa.float64())]).slice(1)
    level = pa.array([6] * len(a_lat), pa.int32())
    v = np.random.default_rng(3).normal(size=(4, 200, 3))
    v /= np.linalg.norm(v, axis=2, keepdims=True)
    edge_probe = EdgeProbe(np.arange(200), v[2], v[3])
    edges = [pa.array(np.arange(200))]
    edges += [pa.array(v[e, :, c]) for e in (0, 1) for c in range(3)]
    calls = [
        (s2_cell_id.func, (a_lat, a_lon)),
        (s2_ring_cells_udf.func, (a_lat, a_lon, level)),
        (hits_udf(_kernel(regions)).func, (a_lat, a_lon)),
        (_ring_topk_udf(ring, 4, 3).func, (a_lat, a_lon)),
        (projection_udf(lines, 0.2).func, (a_lat, a_lon)),
        (crossings_udf(edge_probe).func, edges),
        (_pieces_udf(np.unique(cid.parent(leaf, 5))).func, (pa.array([None, *cid.to_signed(leaf)]),)),
    ]
    gen = covering_batches(MAX_CELLS)
    batches = regions_to_df(spark, regions).toArrow().to_batches()
    path = tmp_path / "kernels.pkl"
    path.write_bytes(cloudpickle.dumps((kernels, lat, lon, calls, gen, batches)))
    code = (
        "import pickle, sys\n"
        "kernels, lat, lon, calls, gen, batches = pickle.load(open(sys.argv[1], 'rb'))\n"
        "out = [k(lat, lon) for k in kernels], [f(*a) for f, a in calls]\n"
        "out += (list(gen(iter(batches))),)\n"
        "pickle.dump(out, open(sys.argv[1] + '.out', 'wb'))\n"
        "print(sorted(m for m in sys.modules if m.startswith("
        "'s2_geometry_library_php_spark.operators')), 'pandas' in sys.modules)"
    )
    run = subprocess.run(
        [sys.executable, "-c", code, str(path)],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert run.stdout.strip() == "[] False"
    (hits, near, projected), udf_out, covering = pickle.loads(
        (tmp_path / "kernels.pkl.out").read_bytes()
    )
    assert _lists(hits) == _brute_hits(regions, lat, lon)
    assert len(near[1]) > 0
    assert projected.equals(kernels[2](lat, lon))
    for got, (f, args) in zip(udf_out, calls):
        with np.errstate(invalid="ignore"):  # the null and NaN coordinates
            assert got.equals(f(*args)), f.__name__
    assert len(udf_out[2].flatten()) > 0 and len(udf_out[3].flatten()) > 0
    assert 0 < len(udf_out[5].flatten()) < 200 * 200
    assert udf_out[6].to_pylist() == [[]] + [[x] for x in cid.to_signed(leaf).tolist()]
    rows = pa.Table.from_batches(covering).to_pylist()
    assert [tuple(r.values()) for r in rows] == compute_coverings(regions, max_cells=MAX_CELLS)


def test_spatial_join_matches_brute_force_and_region_table(spark, adversarial):
    """Both joins agree with brute force, one row per containing region.
    Docs with a null, NaN or infinite coordinate are in no region, also
    under a cap around the leaf the encode gives them (the cube corner
    leaf 0x4000000000000001 at 35.26N 45E), whose covering cells are
    interior: a lookup by that leaf alone would match them unrefined."""
    regions, lat, lon = adversarial
    corner = {"region_id": 100, "kind": "cap", "params": [35.26, 45.0, 0.1]}
    regions = [*regions, corner]
    c_lat, c_lon = np.degrees(
        cid.cell_id_to_center_latlng(np.array([0x4000000000000001], dtype=np.uint64))
    )
    inf, nan = float("inf"), float("nan")
    odd = [
        (nan, 45.0), (None, 45.0), (35.26, None), (nan, nan), (inf, 45.0),
        (-inf, 45.0), (35.26, inf), (35.26, -inf), (float(c_lat[0]), float(c_lon[0])),
    ]
    rows = [(float(a), float(b)) for a, b in zip(lat, lon)] + odd
    docs = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "doc_id long, lat double, lon double"
    )

    def as_float(v):
        return np.array([nan if x is None else x for x in v])

    expected = Counter(
        (i, rid)
        for i, h in enumerate(_brute_hits(regions, *map(as_float, zip(*rows))))
        for rid in h
    )
    assert expected[(len(rows) - 1, 100)] == 1  # the real corner point
    assert not any(i >= len(lat) for i, _ in expected if i != len(rows) - 1)
    fused = Counter(
        (r.doc_id, r.region_id)
        for r in spatial_join(spark, docs, regions).select("doc_id", "region_id").collect()
    )
    table = Counter(
        (r.doc_id, r.region_id)
        for r in spatial_join_region_table(
            spark,
            docs.withColumn("cell_id", s2_cell_id("lat", "lon")),
            regions_to_df(spark, regions),
        )
        .select("doc_id", "region_id")
        .collect()
    )
    assert set(fused.values()) == {1}  # one row per containing region
    assert fused == expected
    assert table == expected


def test_spatial_join_builds_each_region_once(spark, monkeypatch):
    """With the coverings cached, one join builds each region once: the
    prefilter bounds and the kernel's shapes share one map."""
    module = importlib.import_module(spatial_join.__module__)
    regions = region_fixtures()
    compute_coverings(regions, max_cells=MAX_CELLS)
    built = []
    real = module.region_from_params
    monkeypatch.setattr(
        module, "region_from_params", lambda *a, **k: built.append(a[0]) or real(*a, **k)
    )
    docs = spark.range(1).selectExpr("0.0 AS lat", "0.0 AS lon")
    spatial_join(spark, docs, regions, max_cells=MAX_CELLS)
    assert len(built) == len(regions)


def test_prefilter_py4j_calls_do_not_grow_with_regions(spark, monkeypatch):
    regions = region_fixtures()
    assert len(regions) == 12
    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        # Not the deletes of garbage-collected proxies: they arrive
        # whenever the collector runs, not from building the filter.
        if not command.startswith("m\n"):
            calls.append(command)
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    counts = []
    for subset in (regions[:1], regions):
        calls.clear()
        bbox_prefilter_expr(subset, "lat", "lon")
        counts.append(len(calls))
    assert counts[0] == counts[1] > 0
