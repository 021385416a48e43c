"""Trajectory analytics (operators/trajectory.py): known-geometry
goldens, numpy-twin agreement, ordering determinism, single-point
entities, and tile-path compression."""

import math

import numpy as np
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.operators.trajectory import (
    trajectory_stats,
    trajectory_tile_path,
)

EARTH_QUARTER = math.pi / 2


def _mkevents(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts long, lat double, lon double"
    )


def _xyz(lat, lon):
    la, lo = math.radians(lat), math.radians(lon)
    return np.array(
        [
            math.cos(la) * math.cos(lo),
            math.cos(la) * math.sin(lo),
            math.sin(la),
        ]
    )


def _angle(a, b):
    return math.atan2(np.linalg.norm(np.cross(a, b)), float(a @ b))


def trajectory_numpy_twin(rows):
    by_ent = {}
    for e, ts, lat, lon in rows:
        by_ent.setdefault(e, []).append((ts, lat, lon))
    out = {}
    for e, pts in by_ent.items():
        pts.sort()
        vs = [_xyz(lat, lon) for _, lat, lon in pts]
        steps = [_angle(a, b) for a, b in zip(vs, vs[1:])]
        path = float(sum(steps))
        net = _angle(vs[0], vs[-1]) if len(vs) > 1 else 0.0
        out[e] = {
            "n_points": len(pts),
            "path_rad": path,
            "max_step_rad": max(steps) if steps else 0.0,
            "net_rad": net,
            "sinuosity": path / net if len(vs) >= 2 and net > 0 else None,
        }
    return out


def test_equator_quarter_steps(spark):
    # 0 -> 90E -> 180: two quarter-circle steps along the equator,
    # net displacement half a circle
    rows = [(1, 0, 0.0, 0.0), (1, 1, 0.0, 90.0), (1, 2, 0.0, 180.0)]
    (r,) = trajectory_stats(_mkevents(spark, rows)).collect()
    assert r["n_points"] == 3
    assert abs(r["path_rad"] - 2 * EARTH_QUARTER) < 1e-12
    assert abs(r["max_step_rad"] - EARTH_QUARTER) < 1e-12
    assert abs(r["net_rad"] - math.pi) < 1e-12
    assert abs(r["sinuosity"] - 1.0) < 1e-12
    assert (r["t_start"], r["t_end"]) == (0, 2)


def test_out_and_back_has_null_sinuosity(spark):
    rows = [(7, 0, 10.0, 10.0), (7, 1, 20.0, 10.0), (7, 2, 10.0, 10.0)]
    (r,) = trajectory_stats(_mkevents(spark, rows)).collect()
    assert r["path_rad"] > 0.3
    assert abs(r["net_rad"]) < 1e-12
    assert r["sinuosity"] is None  # closed path


def test_single_point_entity(spark):
    rows = [(3, 5, 45.0, 45.0)]
    (r,) = trajectory_stats(_mkevents(spark, rows)).collect()
    assert r["n_points"] == 1
    assert r["path_rad"] == 0.0
    assert r["max_step_rad"] == 0.0
    assert r["net_rad"] == 0.0
    assert r["sinuosity"] is None


def test_matches_numpy_twin_random(spark):
    rng = np.random.default_rng(17)
    rows = []
    for e in range(6):
        for t in range(rng.integers(1, 9)):
            rows.append(
                (
                    e,
                    int(t),
                    float(rng.uniform(-85, 85)),
                    float(rng.uniform(-180, 180)),
                )
            )
    got = {
        r["entity"]: r
        for r in trajectory_stats(_mkevents(spark, rows)).collect()
    }
    want = trajectory_numpy_twin(rows)
    assert set(got) == set(want)
    for e, w in want.items():
        g = got[e]
        assert g["n_points"] == w["n_points"]
        for k in ("path_rad", "max_step_rad", "net_rad"):
            assert abs(g[k] - w[k]) < 1e-12, (e, k, g[k], w[k])
        if w["sinuosity"] is None:
            assert g["sinuosity"] is None
        else:
            assert abs(g["sinuosity"] - w["sinuosity"]) < 1e-9


def test_tie_break_determinism(spark):
    # identical timestamps: order_cols tiebreak fixes the step order
    rows = [
        (1, 0, 0.0, 0.0, 10),
        (1, 0, 0.0, 90.0, 20),
        (1, 1, 0.0, 180.0, 30),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, lat double, lon double, eid long"
    )
    (r1,) = trajectory_stats(df, order_cols=("eid",)).collect()
    (r2,) = trajectory_stats(df, order_cols=("eid",)).collect()
    assert r1["path_rad"] == r2["path_rad"]
    assert abs(r1["path_rad"] - math.pi) < 1e-12


def test_endpoints_follow_order_cols_on_ts_ties(spark):
    # both endpoint timestamps tie, and seq order disagrees with xyz
    # order at each: net_rad must join the first and last points of
    # the (ts, seq) path, not the xyz-extreme points of the tied ts
    rows = [
        (1, 0, 0.0, 0.0, 1),
        (1, 0, 0.0, 90.0, 2),
        (1, 1, 10.0, 45.0, 0),
        (1, 2, 0.0, 120.0, 1),
        (1, 2, 30.0, 0.0, 0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, lat double, lon double, seq long"
    )
    (r,) = trajectory_stats(df, order_cols=("seq",)).collect()
    path = sorted(rows, key=lambda row: (row[1], row[4]))
    want = _angle(_xyz(*path[0][2:4]), _xyz(*path[-1][2:4]))
    assert abs(r["net_rad"] - want) < 1e-12
    assert abs(want - 2 * math.pi / 3) < 1e-12


def test_tile_path_compression(spark):
    from s2_geometry_library_php_spark.functions import s2_cell_id

    # A stays inside one tiny neighborhood (1 tile step at level 5);
    # B hops between two distant cities and back (3 steps, 2 tiles)
    rows = [
        (1, 0, 48.85, 2.35), (1, 1, 48.8501, 2.3501),
        (1, 2, 48.8502, 2.3502),
        (2, 0, 48.85, 2.35), (2, 1, 35.68, 139.69),
        (2, 2, 48.85, 2.35),
    ]
    df = _mkevents(spark, rows).withColumn(
        "cell_id", s2_cell_id("lat", "lon")
    )
    got = {
        r["entity"]: r
        for r in trajectory_tile_path(df, level=5).collect()
    }
    assert got[1]["n_tile_steps"] == 1
    assert got[1]["n_distinct_tiles"] == 1
    assert got[2]["n_tile_steps"] == 3
    assert got[2]["n_distinct_tiles"] == 2
