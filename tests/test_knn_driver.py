"""kNN driver loop vs knn_brute_force: the coarser `_kth` retry, the
brute fallback, and probes at the sphere's seams (poles, antimeridian,
cube-face edge and corner).  Each path must return exactly the brute
answer: the ring rounds may change the plan, never the rows."""

import numpy as np
import pytest

from s2_geometry_library_php_spark.functions import s2_all_neighbors_udf, s2_cell_id
from s2_geometry_library_php_spark.functions.udfs import distinct_rings
from s2_geometry_library_php_spark.operators import knn as knn_mod
from s2_geometry_library_php_spark.operators.knn import knn_brute_force, knn_join
from s2_geometry_library_php_spark.s2core import cellid as cid

K = 5
# A tight cluster around Paris: at level 13 its third probe finds k
# candidates in its ring but the k-th is farther than MIN_WIDTH(13),
# so the measured distance picks the retry level.
CLUSTER_PROBES = [(0, 48.85, 2.35), (1, 48.9, 2.3), (2, 48.8, 2.4)]
SEAM_PROBES = [
    (10, 90.0, 0.0),
    (11, -90.0, 0.0),
    (12, 10.0, 180.0),
    (13, 10.0, -179.99),
    (14, 0.0, 45.0),  # face 0 / face 1 edge
    (15, 35.264389682754654, 45.0),  # cube corner (faces 0, 1, 2)
]


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(7)
    lat = [np.degrees(np.arcsin(rng.uniform(-1, 1, 300)))]
    lon = [rng.uniform(-180, 180, 300)]
    lat.append(48.85 + rng.normal(0, 0.05, 700))
    lon.append(2.35 + rng.normal(0, 0.05, 700))
    for _, plat, plon in SEAM_PROBES:
        lat.append(np.clip(plat + rng.normal(0, 0.05, 30), -90, 90))
        lon.append((plon + rng.normal(0, 0.05, 30) + 180) % 360 - 180)
    lat, lon = np.concatenate(lat), np.concatenate(lon)
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))]
    return (
        spark.createDataFrame(rows, "doc_id long, lat double, lon double")
        .withColumn("cell_id", s2_cell_id("lat", "lon"))
        .cache()
    )


def _probes(spark, rows):
    return spark.createDataFrame(rows, "probe_id long, lat double, lon double")


def _rows(df):
    return sorted(map(tuple, df.select("probe_id", "doc_id", "rank", "dist_rad").collect()))


@pytest.fixture
def spy(monkeypatch):
    """Records the level of every ring round and every brute call."""
    calls = {"levels": [], "brute": 0}
    ring_round_topk, brute = knn_mod.ring_round_topk, knn_mod.knn_brute_force

    def ring_spy(ring, docs, k, level, **kw):
        calls["levels"].append(level)
        return ring_round_topk(ring, docs, k, level, **kw)

    def brute_spy(*a, **kw):
        calls["brute"] += 1
        return brute(*a, **kw)

    monkeypatch.setattr(knn_mod, "ring_round_topk", ring_spy)
    monkeypatch.setattr(knn_mod, "knn_brute_force", brute_spy)
    return calls


def test_kth_retry_level_matches_brute(spark, points, spy):
    probes = _probes(spark, CLUSTER_PROBES)
    got = _rows(knn_join(spark, probes, points, K, start_level=13))
    # Round 0 fails one probe with k candidates, so the retry level is
    # the measured one (one level coarser), not the blind 2-level drop.
    assert spy["levels"] == [13, 12]
    assert spy["brute"] == 0
    assert got == _rows(knn_brute_force(probes, points, K))


def test_brute_fallback_after_last_round_matches_brute(spark, points, spy, monkeypatch):
    monkeypatch.setattr(knn_mod, "MAX_ROUNDS", 1)
    probes = _probes(spark, CLUSTER_PROBES)
    got = _rows(knn_join(spark, probes, points, K, start_level=13))
    assert spy["levels"] == [13]
    assert spy["brute"] == 1
    assert got == _rows(knn_brute_force(probes, points, K))
    assert len(got) == K * len(CLUSTER_PROBES)


@pytest.mark.parametrize("start_level", [None, 12])
def test_seam_probes_match_brute(spark, points, start_level):
    probes = _probes(spark, SEAM_PROBES)
    got = _rows(knn_join(spark, probes, points, K, start_level=start_level))
    assert got == _rows(knn_brute_force(probes, points, K))
    assert len(got) == K * len(SEAM_PROBES)


def test_no_probes_gives_empty_result(spark, points):
    probes = _probes(spark, [])
    assert knn_join(spark, probes, points, K, start_level=12).count() == 0


@pytest.mark.parametrize("with_center", [False, True])
def test_distinct_rings_match_rowwise_unique(with_center):
    """The vectorized ring dedupe == the row-by-row np.unique it
    replaced, at every level, on random cells and on the seams (cube
    corners have 7 distinct neighbors, not 8)."""
    rng = np.random.default_rng(11)
    lat = np.r_[np.degrees(np.arcsin(rng.uniform(-1, 1, 300))),
                [p[1] for p in SEAM_PROBES]]
    lon = np.r_[rng.uniform(-180, 180, 300), [p[2] for p in SEAM_PROBES]]
    leaf = cid.cell_id_from_latlng_degrees(lat, lon)
    for level in range(31):
        ids = cid.parent(leaf, level)
        ring = cid.to_signed(cid.all_neighbors(ids))
        center = cid.to_signed(ids)
        want = [
            np.unique(np.r_[row, [c]] if with_center else row).tolist()
            for row, c in zip(ring, center)
        ]
        values, offsets = distinct_rings(ids, with_center)
        got = [values[offsets[i]:offsets[i + 1]].tolist() for i in range(len(ids))]
        assert got == want, level
    values, offsets = distinct_rings(np.zeros(0, np.uint64), with_center)
    assert len(values) == 0 and offsets.tolist() == [0]


def test_all_neighbors_udf_nulls_and_sizes(spark):
    ids = cid.to_signed(cid.parent(cid.cell_id_from_latlng_degrees(
        np.array([35.264389682754654, 10.0]), np.array([45.0, 20.0])), 5))
    df = spark.createDataFrame(
        [(int(ids[0]),), (int(ids[1]),), (None,)], "cell_id long"
    ).select(s2_all_neighbors_udf("cell_id").alias("nb"))
    assert [None if r.nb is None else len(r.nb) for r in df.collect()] == [7, 8, None]
