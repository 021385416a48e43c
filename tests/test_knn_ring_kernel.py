"""The kNN round's ring kernel (``ring_topk``: ring lookup and a
batch-local numpy top-k inside the docs' Arrow batch) followed by the
JVM re-rank returns exactly the rows of the JVM window over every ring
candidate with a distance, ``dist_rad`` bits included: on exact ties
and 1-ulp near-ties at rank k, probes with fewer than k candidates, the
poles, lon = +-180, a cube corner, NaN / inf / null coordinates (no
cell, no distance, never a neighbor), and for any Arrow batch size and
kernel chunk size.  The kernel itself keeps exactly each batch's numpy
top k (within the slack) and nothing else, and its numpy angle stays
within ``ANGLE_ERROR`` of the JVM's."""

import os
import struct
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField

from s2_geometry_library_php_spark.functions import s2_cell_id
from s2_geometry_library_php_spark.functions.sql_bitops import s2_parent
from s2_geometry_library_php_spark.functions.udfs import (
    distinct_rings,
    latlng_angle_cols,
)
from s2_geometry_library_php_spark.operators import knn as knn_mod
from s2_geometry_library_php_spark.operators.knn import (
    ANGLE_ERROR,
    RANK_SLACK,
    knn_brute_force,
    knn_join,
    probe_rings,
    ring_round_topk,
    ring_topk,
)
from s2_geometry_library_php_spark.plans.session import local_relation
from s2_geometry_library_php_spark.s2core import cellid as cid
from s2_geometry_library_php_spark.s2core.geom import angle_xyz, latlng_to_xyz

K = 5
ID_FIELD = StructField("probe_id", LongType())
# Where every non-finite coordinate encodes (s2_cell_id of NaN).
NAN_LAT, NAN_LON = (
    float(np.degrees(x[0]))
    for x in cid.cell_id_to_center_latlng(np.array([0x4000000000000001], np.uint64))
)
PROBES = [
    (0, 48.85, 2.35),  # exact ties at rank k
    (1, 10.0, 20.0),  # 1-ulp near-ties at rank k
    (2, 90.0, 0.0),
    (3, -90.0, 0.0),
    (4, 10.0, 180.0),
    (5, 10.0, -179.99),
    (6, 35.264389682754654, 45.0),  # cube corner (faces 0, 1, 2)
    (7, -50.0, -120.0),  # two candidates only
    (8, NAN_LAT, NAN_LON),  # where the NaN / null docs would encode
]


def _unit_vectors(lat, lon):
    """Contiguous (x, y, z) arrays of degree arrays."""
    xyz = latlng_to_xyz(np.radians(lat), np.radians(lon))
    return tuple(np.ascontiguousarray(xyz.T))


def _adversarial_docs():
    rng = np.random.default_rng(5)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 1200)))
    lon = rng.uniform(-180, 180, 1200)
    # Clear 0.25 rad around probe 1, so its near-tie run sits at rank k.
    u = _unit_vectors(lat, lon)
    far = angle_xyz(_unit_vectors(np.array([10.0]), np.array([20.0])), u) > 0.25
    lat, lon = [lat[far]], [lon[far]]
    for _, plat, plon in PROBES[2:7]:
        lat.append(np.clip(plat + rng.normal(0, 0.05, 30), -90, 90))
        lon.append((plon + rng.normal(0, 0.05, 30) + 180) % 360 - 180)
    # Three docs closer than six duplicates: rank k falls inside the tie.
    lat.append(np.r_[[48.8505] * 3, [48.851] * 6])
    lon.append(np.r_[[2.3501, 2.3502, 2.3503], [2.35] * 6])
    # Two closer docs, then 20 latitudes one ulp apart, ~0.2 rad away:
    # seven latitude ulps make one ulp of distance there.
    lat.append(np.r_[[10.0002, 10.0003], -1.46 + np.arange(20) * np.spacing(1.46)])
    lon.append(np.full(22, 20.0))
    lat.append([-50.001, -49.998])
    lon.append([-120.0, -120.002])
    lat.append([np.nan, 1.0, np.inf, -np.inf, 0.0, NAN_LAT])
    lon.append([0.0, np.nan, 0.0, 0.0, np.inf, NAN_LON + 1e-4])
    lat, lon = np.concatenate(lat), np.concatenate(lon)
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))]
    rows.append((len(rows), None, 0.0))
    return rows


@pytest.fixture(scope="module")
def docs(spark):
    return local_relation(
        spark, _adversarial_docs(), "doc_id long, lat double, lon double"
    )


def _probe_table(probes):
    return pa.table(
        {
            "probe_id": pa.array([p[0] for p in probes], pa.int64()),
            "_plat": pa.array([float(p[1]) for p in probes]),
            "_plon": pa.array([float(p[2]) for p in probes]),
        }
    )


def _leaf(table):
    return cid.cell_id_from_latlng_degrees(
        table.column("_plat").to_numpy(), table.column("_plon").to_numpy()
    )


def _all_candidates_topk(spark, probes, docs, k, level):
    """The JVM window over every ring candidate with a distance: each
    probe's distinct 3x3 ring joined with the docs'
    ``s2_parent(s2_cell_id(lat, lon))``, exact distance, null and NaN
    distances dropped, top k."""
    table = _probe_table(probes)
    values, offsets = distinct_rings(cid.parent(_leaf(table), level), True)
    owner = np.repeat(np.arange(len(probes)), np.diff(offsets))
    ring = local_relation(
        spark,
        [(*probes[i], int(v)) for i, v in zip(owner, values)],
        "probe_id long, _plat double, _plon double, _cand_cell long",
    )
    cand = F.broadcast(ring).join(
        docs.withColumn("_dcell", s2_parent(s2_cell_id("lat", "lon"), level)),
        F.col("_cand_cell") == F.col("_dcell"),
    )
    dist = latlng_angle_cols(
        F.col("_plat"), F.col("_plon"), F.col("lat"), F.col("lon")
    ).alias("dist_rad")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("dist_rad").asc(), F.col("doc_id").asc()
    )
    return (
        cand.select("probe_id", "doc_id", dist)
        .where(F.col("dist_rad").isNotNull() & ~F.isnan("dist_rad"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _bits(x):
    if x is None or x != x:
        return repr(x)
    return struct.unpack("<q", struct.pack("<d", x))[0]


def _rows(df):
    return sorted(
        (r.probe_id, r.doc_id, r.rank, _bits(r.dist_rad))
        for r in df.select("probe_id", "doc_id", "rank", "dist_rad").collect()
    )


@pytest.mark.parametrize(
    "level,batch,chunk",
    [(18, 10000, 4096), (12, 10000, 4096), (6, 10000, 4096), (2, 10000, 4096),
     (10, 1, 4096), (6, 7, 4096), (6, 10000, 1), (2, 10000, 7)],
)
def test_round_equals_the_window_over_all_candidates(
    spark, docs, monkeypatch, level, batch, chunk
):
    monkeypatch.setattr(knn_mod, "CHUNK_PAIRS", chunk)
    table = _probe_table(PROBES)
    ring = probe_rings(spark, table, _leaf(table), level, ID_FIELD)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
    try:
        got = _rows(ring_round_topk(ring, docs, K, level))
        want = _rows(_all_candidates_topk(spark, PROBES, docs, K, level))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == want
    by_probe = {
        p: sorted((r for r in want if r[0] == p), key=lambda r: r[2])
        for p, _, _ in PROBES
    }
    # The ties, the seams and the non-finite docs are really exercised.
    if level == 12:
        ties = [r[0] for r in _adversarial_docs() if r[1] in (48.8505, 48.851)]
        assert sorted(r[1] for r in by_probe[0]) == ties[:K]
        assert len(by_probe[7]) == 2
    if level == 18:
        # Every non-finite coordinate encodes to the cube corner, beside
        # probe 8: it gets the finite docs there and no other.
        finite = {r[0] for r in _adversarial_docs() if _finite(r[1], r[2])}
        assert by_probe[8]
        assert all(r[1] in finite and isinstance(r[3], int) for r in by_probe[8])
    if level == 2:
        near = [r[2:] for r in by_probe[1]][2:]
        assert near[-1][1] - near[0][1] <= 2  # ranks 3..k within 2 ulps


def test_empty_docs_or_k_0_give_no_rows(spark, docs):
    table = _probe_table(PROBES)
    ring = probe_rings(spark, table, _leaf(table), 6, ID_FIELD)
    assert ring_round_topk(ring, docs.limit(0), K, 6).count() == 0
    assert ring_round_topk(ring, docs, 0, 6).count() == 0


def _finite(lat, lon):
    return lat is not None and np.isfinite(lat) and np.isfinite(lon)


def _numpy_candidates(table, level, lat, lon):
    """(doc, probe) ring candidates by brute membership, with their
    numpy angles; a doc with a non-finite coordinate has no cell."""
    values, offsets = distinct_rings(cid.parent(_leaf(table), level), True)
    with np.errstate(invalid="ignore"):
        leaf = cid.cell_id_from_latlng_degrees(lat, lon)
        cell = cid.to_signed(cid.parent(leaf, level))
        finite = np.isfinite(lat) & np.isfinite(lon)
        doc, probe = [], []
        for p in range(table.num_rows):
            ring = values[offsets[p]:offsets[p + 1]]
            hit = np.flatnonzero(np.isin(cell, ring) & finite)
            doc.append(hit)
            probe.append(np.full(len(hit), p))
        doc, probe = np.concatenate(doc), np.concatenate(probe)
        pu = _unit_vectors(
            table.column("_plat").to_numpy(), table.column("_plon").to_numpy()
        )
        du = _unit_vectors(lat, lon)
        d = angle_xyz(tuple(c[probe] for c in pu), tuple(c[doc] for c in du))
    return doc, probe, d


@pytest.mark.parametrize(
    "batch,chunk",
    [(1, 4096), (7, 1), (7, 7), (333, 1), (333, 2), (333, 7), (333, 100),
     (2000, 7), (2000, 100), (2000, 4096)],
)
def test_kernel_keeps_each_batch_top_k_and_nothing_else(spark, chunk, batch):
    """Per batch the kernel keeps exactly the pairs whose numpy angle is
    within RANK_SLACK of the probe's k-th smallest angle in the batch;
    chunk edges do not change that set."""
    rows = _adversarial_docs()
    lat = np.array([np.nan if r[1] is None else r[1] for r in rows])
    lon = np.array([r[2] for r in rows])
    level = 6
    table = _probe_table(PROBES)
    ring = probe_rings(spark, table, _leaf(table), level, ID_FIELD)
    kernel = ring_topk(ring, K, level, chunk)
    for a in [*range(0, len(lat), batch), len(lat)]:
        b = min(a + batch, len(lat))
        offsets, probes = kernel(lat[a:b], lon[a:b])
        got = {
            (a + i, int(p))
            for i in range(b - a)
            for p in probes[offsets[i]:offsets[i + 1]]
        }
        doc, probe, d = _numpy_candidates(table, level, lat[a:b], lon[a:b])
        want = set()
        for p in range(len(PROBES)):
            mine = probe == p
            mine_d = np.sort(d[mine])
            kth = mine_d[K - 1] if len(mine_d) >= K else np.inf
            keep = mine & (d <= kth + RANK_SLACK)
            want |= {(a + int(i), p) for i in doc[keep]}
        assert got == want, (a, b)
        if a == len(lat):  # the empty batch
            assert offsets.tolist() == [0] and len(probes) == 0


def test_kernel_unpickles_without_the_operators_package(spark, tmp_path):
    """A worker unpickles the kernel with numpy and s2core alone; a
    helper from ``operators.knn`` in its closure would import the whole
    operators package into every worker."""
    from pyspark import cloudpickle

    table = _probe_table(PROBES)
    ring = probe_rings(spark, table, _leaf(table), 6, ID_FIELD)
    path = tmp_path / "kernel.pkl"
    path.write_bytes(cloudpickle.dumps(ring_topk(ring, K, 6, 4096)))
    code = (
        "import pickle, sys; pickle.load(open(sys.argv[1], 'rb')); "
        "print(sorted(m for m in sys.modules if '.operators' in m))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(path)],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.stdout.strip() == "[]"


def test_brute_force_ranks_no_doc_without_a_distance(spark):
    """A null latitude has no distance: ascending, it would rank first
    for every probe."""
    probes = local_relation(
        spark, [(0, 10.0, 20.0)], "probe_id long, lat double, lon double"
    )
    docs = local_relation(
        spark, [(1, None, 20.0), (2, 10.0, 20.0), (3, float("nan"), 20.0)],
        "doc_id long, lat double, lon double",
    )
    rows = knn_brute_force(probes, docs, 2).collect()
    assert [(r.doc_id, r.rank, r.dist_rad) for r in rows] == [(2, 1, 0.0)]


def test_numpy_angle_is_within_the_stated_bound_of_the_jvm(spark):
    rng = np.random.default_rng(17)
    n = 4000
    plat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    plon = rng.uniform(-180, 180, n)
    # Near, identical, antipodal and seam pairs, then random ones.
    qlat = np.r_[plat[:1000] + rng.normal(0, 1e-6, 1000), plat[1000:1500],
                 -plat[1500:2000], np.degrees(np.arcsin(rng.uniform(-1, 1, 2000)))]
    qlon = np.r_[plon[:1000] + rng.normal(0, 1e-6, 1000), plon[1000:1500],
                 (plon[1500:2000] + 360) % 360 - 180, rng.uniform(-180, 180, 2000)]
    plat[:8] = [90, -90, 0, 0, 35.264389682754654, 10, 10, 45]
    plon[:8] = [0, 0, 180, -180, 45, 180, -180, 0]
    rows = [tuple(map(float, r)) for r in zip(plat, plon, qlat, qlon)]
    pairs = local_relation(
        spark, rows, "plat double, plon double, qlat double, qlon double"
    )
    d = latlng_angle_cols(F.col("plat"), F.col("plon"), F.col("qlat"), F.col("qlon"))
    jvm = np.array([r.d for r in pairs.select(d.alias("d")).collect()])
    mine = angle_xyz(_unit_vectors(plat, plon), _unit_vectors(qlat, qlon))
    assert np.abs(mine - jvm).max() <= ANGLE_ERROR
    assert RANK_SLACK >= 2 * ANGLE_ERROR


HOT_CITIES = ((48.8566, 2.3522), (40.7128, -74.0060), (35.6762, 139.6503),
              (-6.2088, 106.8456), (-23.5505, -46.6333))


def _mixed_points(rng, n):
    """~70% uniform on the sphere, ~30% in five city clusters."""
    n_hot = int(round(n * 0.3))
    city = np.asarray(HOT_CITIES)[rng.integers(0, len(HOT_CITIES), n_hot)]
    lat = np.r_[np.degrees(np.arcsin(rng.uniform(-1, 1, n - n_hot))),
                np.clip(city[:, 0] + rng.normal(0, 0.08, n_hot), -90, 90)]
    lon = np.r_[rng.uniform(-180, 180, n - n_hot),
                (city[:, 1] + rng.normal(0, 0.08, n_hot) + 180) % 360 - 180]
    return lat, lon


def test_bench_shaped_round_matches_brute_force(spark, monkeypatch):
    """Mixed points as the benchmark draws them, at its start level 2:
    one round satisfies every probe, and its rows are the brute-force
    rows with the same ``dist_rad`` bits."""
    rng = np.random.default_rng(41)
    lat, lon = _mixed_points(rng, 5000)
    plat, plon = _mixed_points(rng, 50)
    docs = spark.createDataFrame(
        pa.table({"doc_id": np.arange(len(lat)), "lat": lat, "lon": lon})
    ).withColumn("cell_id", s2_cell_id("lat", "lon"))
    probes = spark.createDataFrame(
        pa.table({"probe_id": np.arange(len(plat)), "lat": plat, "lon": plon})
    )
    calls = {"levels": [], "brute": 0}
    ring_round, brute = knn_mod.ring_round_topk, knn_mod.knn_brute_force

    def ring_spy(ring, docs, k, level, **kw):
        calls["levels"].append(level)
        return ring_round(ring, docs, k, level, **kw)

    def brute_spy(*a, **kw):
        calls["brute"] += 1
        return brute(*a, **kw)

    monkeypatch.setattr(knn_mod, "ring_round_topk", ring_spy)
    monkeypatch.setattr(knn_mod, "knn_brute_force", brute_spy)
    got = _rows(knn_join(spark, probes, docs, 10, start_level=2))
    assert calls == {"levels": [2], "brute": 0}
    assert got == _rows(knn_brute_force(probes, docs, 10))
    assert len(got) == 10 * len(plat)
