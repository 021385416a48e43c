"""within_radius_join / self_radius_pairs vs the brute cross-join
oracle (exact same distance expression, so equality is exact — the
ring prejoin must change the plan, never the answer)."""

import math

import pytest
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.functions.udfs import latlng_angle_cols
from s2_geometry_library_php_spark.operators.radius_join import (
    radius_join_level,
    self_radius_pairs,
    within_radius_join,
)
from s2_geometry_library_php_spark.s2core.metric import MIN_WIDTH


def _brute_pairs(left, right, radius, left_id="a_id", right_id="b_id"):
    l = left.select(
        F.col(left_id), F.col("lat").alias("_alat"), F.col("lon").alias("_alon")
    )
    r = right.select(
        F.col(right_id), F.col("lat").alias("_blat"), F.col("lon").alias("_blon")
    )
    dist = latlng_angle_cols(
        F.col("_alat"), F.col("_alon"), F.col("_blat"), F.col("_blon")
    ).alias("dist_rad")
    return (
        l.crossJoin(r)
        .select(left_id, right_id, dist)
        .where(F.col("dist_rad") <= F.lit(float(radius)))
    )


def _key_set(df):
    return {(int(r[0]), int(r[1])) for r in df.collect()}


@pytest.fixture(scope="module")
def docs(spark):
    from s2_geometry_library_php_spark.sources.documents import (
        GEOCODE_LAT_SQL,
        GEOCODE_LON_SQL,
    )

    return (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            "doc_id",
            F.expr(GEOCODE_LAT_SQL).alias("lat"),
            F.expr(GEOCODE_LON_SQL).alias("lon"),
        )
    )


def test_radius_join_level_guarantee():
    for r in (1e-6, 1e-4, 0.003, 0.05, 0.4, 0.9):
        lvl = radius_join_level(r)
        assert lvl is not None
        assert MIN_WIDTH.get_value(lvl) >= r
        # finest such level: one level down breaks the guarantee
        if lvl < 30:
            assert MIN_WIDTH.get_value(lvl + 1) < r
    # wider than MIN_WIDTH(0) = 2*sqrt(2)/3 ~ 0.943 rad: no ring level
    assert radius_join_level(1.0) is None
    assert radius_join_level(0.0) == 30


def test_within_radius_join_matches_brute(spark, docs):
    """Ring-prejoin pairs == brute cross-join pairs on the corpus, at
    a radius spanning several level-9/10 cells."""
    left = docs.select(F.col("doc_id").alias("a_id"), "lat", "lon")
    right = docs.select(F.col("doc_id").alias("b_id"), "lat", "lon")
    radius = 0.02
    got = within_radius_join(left, right, radius)
    want = _brute_pairs(left, right, radius)
    gk, wk = _key_set(got), _key_set(want)
    assert gk == wk
    assert len(wk) > len(docs.collect())  # non-trivial: beyond self-pairs


def test_within_radius_join_plan_is_equi_join(spark, docs):
    left = docs.select(F.col("doc_id").alias("a_id"), "lat", "lon")
    right = docs.limit(50).select(F.col("doc_id").alias("b_id"), "lat", "lon")
    plan = (
        within_radius_join(left, right, 0.01)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_wide_radius_falls_back_to_cross_join(spark):
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 40.0, 90.0), (3, -60.0, -170.0)],
        "doc_id long, lat double, lon double",
    )
    left = pts.select(F.col("doc_id").alias("a_id"), "lat", "lon")
    right = pts.select(F.col("doc_id").alias("b_id"), "lat", "lon")
    radius = 1.2  # > MIN_WIDTH(0): no ring level exists
    got = _key_set(within_radius_join(left, right, radius))
    want = _key_set(_brute_pairs(left, right, radius))
    assert got == want


def test_cross_face_and_antimeridian_pairs_found(spark):
    """Neighbor rings must cross face boundaries and the antimeridian:
    points ~2.2 km apart on either side of lng=180 and of a cube-face
    edge (lng=45) must pair at radius 0.001 rad (~6.4 km)."""
    pts = spark.createDataFrame(
        [
            (1, 10.0, 179.99),
            (2, 10.0, -179.99),  # 0.02 deg of lng across the antimeridian
            (3, 0.0, 44.99),
            (4, 0.0, 45.01),     # face 0 / face 1 boundary
            (5, 89.99, 0.0),
            (6, 89.99, 180.0),   # both ~1.1km from the north pole
            (7, -45.0, 0.0),     # isolated
        ],
        "doc_id long, lat double, lon double",
    )
    got = _key_set(self_radius_pairs(pts, 0.001))
    assert got == {(1, 2), (3, 4), (5, 6)}


def test_self_radius_pairs_matches_brute_and_dedups(spark, docs):
    radius = 0.015
    got = self_radius_pairs(docs, radius)
    left = docs.select(F.col("doc_id").alias("id_a"), "lat", "lon")
    right = docs.select(F.col("doc_id").alias("id_b"), "lat", "lon")
    want = _brute_pairs(
        left, right, radius, left_id="id_a", right_id="id_b"
    ).where(F.col("id_a") < F.col("id_b"))
    gk, wk = _key_set(got), _key_set(want)
    assert gk == wk
    assert all(a < b for a, b in gk)


def test_radius_sweep_matches_brute_across_levels(spark):
    """Seeded random clouds x radii spanning ring levels 1..17 plus
    the crossJoin-fallback regime: set equality with brute at every
    radius (catches any level-pick or ring-coverage slip)."""
    import numpy as np

    rng = np.random.default_rng(42)
    lat = rng.uniform(-85, 85, 300)
    lon = rng.uniform(-180, 180, 300)
    # add tight clusters so small radii still produce pairs
    lat[:40] = 10.0 + rng.uniform(-0.01, 0.01, 40)
    lon[:40] = 20.0 + rng.uniform(-0.01, 0.01, 40)
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))],
        "doc_id long, lat double, lon double",
    )
    left = pts.select(F.col("doc_id").alias("id_a"), "lat", "lon")
    right = pts.select(F.col("doc_id").alias("id_b"), "lat", "lon")
    for radius in (1e-4, 1e-3, 0.01, 0.06, 0.3, 0.8, 1.1):
        got = _key_set(self_radius_pairs(pts, radius))
        want = _key_set(
            _brute_pairs(
                left, right, radius, left_id="id_a", right_id="id_b"
            ).where(F.col("id_a") < F.col("id_b"))
        )
        assert got == want, f"radius {radius}: {len(got)} vs {len(want)}"


def test_near_boundary_matches_brute(spark):
    """Pairs sitting at ~the radius boundary: the ring prejoin and
    the brute filter share the same closed <= predicate and the same
    distance expression, so their keep/drop decisions are identical
    bit-for-bit even at the boundary."""
    d = math.degrees(0.01)
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.0, d), (3, 0.0, d * 1.0000001)],
        "doc_id long, lat double, lon double",
    )
    left = pts.select(F.col("doc_id").alias("id_a"), "lat", "lon")
    right = pts.select(F.col("doc_id").alias("id_b"), "lat", "lon")
    want = _key_set(
        _brute_pairs(
            left, right, 0.01, left_id="id_a", right_id="id_b"
        ).where(F.col("id_a") < F.col("id_b"))
    )
    got = _key_set(self_radius_pairs(pts, 0.01))
    assert got == want
    assert (1, 2) in got  # the ~equal-to-radius pair survives
