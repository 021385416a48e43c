"""Distributed cell-set algebra vs the driver-side kernel reference."""

import numpy as np

from s2_geometry_library_php_spark.operators.cellsets import (
    cells_contain_point,
    cells_difference,
    cells_intersection,
    cells_union,
    normalize_cells,
)
from s2_geometry_library_php_spark.s2core import cellid as cid
from s2_geometry_library_php_spark.s2core.coverer import (
    RegionCoverer,
    cell_union_difference,
    normalize_cell_union,
)
from s2_geometry_library_php_spark.s2core.region import CapRegion


def _sig(u):
    u &= 0xFFFFFFFFFFFFFFFF
    return u - (1 << 64) if u >= 1 << 63 else u


def _to_df(spark, cells):
    """A ``cell_id`` frame; a None cell is a null row."""
    return spark.createDataFrame(
        [(None if c is None else int(_sig(c)),) for c in cells], "cell_id long"
    )


def _from_df(df):
    return sorted(
        int(r.cell_id) & 0xFFFFFFFFFFFFFFFF for r in df.collect()
    )


def _cap_pairs(seed, n=3):
    """``n`` pairs of cap coverings at random places, sizes and cell
    budgets, the second cap near the first: they overlap, nest or miss."""
    rng = np.random.default_rng(seed)
    pairs = []
    for _ in range(n):
        lat, lng = rng.uniform(-80, 80), rng.uniform(-180, 180)
        caps = [
            CapRegion(lat, lng, rng.uniform(0.005, 0.1)),
            CapRegion(lat + rng.normal(0, 3), lng + rng.normal(0, 3), rng.uniform(0.005, 0.1)),
        ]
        a, b = (RegionCoverer(max_cells=int(rng.integers(4, 20))).get_covering(c) for c in caps)
        pairs.append((list(a), list(b)))
    return pairs


def _messy(cells):
    """``cells`` plus a repeated cell, the children of one, the parent
    of another and a null."""
    arr = np.asarray(cells, dtype=np.uint64)
    children = cid.children_scalar(int(arr[0])) if cid.level_scalar(int(arr[0])) < 30 else []
    parent = cid.parent1_scalar(int(arr[-1]))
    return list(cells) + [int(arr[0])] + children + [parent, None]


def _pairwise_intersection(a, b):
    """Brute force: the finer cell of every nested or equal pair."""
    out = set()
    for x in a:
        for y in b:
            if cid.contains_scalar(x, y):
                out.add(y)
            elif cid.contains_scalar(y, x):
                out.add(x)
    return sorted(out)


def test_normalize_cells_matches_kernel(spark):
    # children + their parent + a stray cell -> kernel-normalized set
    base = CapRegion(10.0, 20.0, 0.02)
    cov = RegionCoverer(max_cells=20).get_covering(base)
    # denormalize a few cells into children to force collapse work
    messy = []
    for c in cov:
        arr = np.asarray([c], dtype=np.uint64)
        if int(cid.level_of(arr)[0]) < 28:
            child = int(cid.child_begin(arr)[0])
            for _ in range(4):
                messy.append(child)
                child = int(
                    cid.next_cell(np.asarray([child], dtype=np.uint64))[0]
                )
        else:
            messy.append(c)
    expected = normalize_cell_union(messy)
    got = _from_df(normalize_cells(_to_df(spark, messy)))
    assert got == sorted(expected)
    for a, b in _cap_pairs(11):
        messy = _messy(a + b)
        expected = normalize_cell_union([c for c in messy if c is not None])
        assert _from_df(normalize_cells(_to_df(spark, messy))) == sorted(expected)
    # the windows run per face: no exchange gathers every cell in one
    # task, and the one exchange, on the face, serves both windows and
    # the ancestor aggregate
    plan = normalize_cells(_to_df(spark, messy))._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_cells_union_matches_kernel(spark):
    a = RegionCoverer(max_cells=12).get_covering(CapRegion(0.0, 0.0, 0.05))
    b = RegionCoverer(max_cells=12).get_covering(CapRegion(1.0, 1.0, 0.05))
    expected = normalize_cell_union(list(a) + list(b))
    got = _from_df(cells_union(_to_df(spark, a), _to_df(spark, b)))
    assert got == sorted(expected)
    for a, b in _cap_pairs(12):
        messy = _messy(a)
        expected = normalize_cell_union([c for c in messy if c is not None] + b)
        got = _from_df(cells_union(_to_df(spark, messy), _to_df(spark, b + [None])))
        assert got == sorted(expected)


def test_cells_intersection_covers_overlap_only(spark):
    a = RegionCoverer(max_cells=16).get_covering(CapRegion(0.0, 0.0, 0.08))
    b = RegionCoverer(max_cells=16).get_covering(CapRegion(2.0, 2.0, 0.08))
    inter = _from_df(
        cells_intersection(_to_df(spark, a), _to_df(spark, b))
    )

    def covered(cells, leaf):
        for c in cells:
            lsb = c & (-c & 0xFFFFFFFFFFFFFFFF)
            if c - (lsb - 1) <= leaf <= c + (lsb - 1):
                return True
        return False

    rng = np.random.default_rng(3)
    lat = rng.uniform(-4, 6, 3000)
    lng = rng.uniform(-4, 6, 3000)
    leaves = cid.cell_id_from_latlng_degrees(lat, lng)
    for leaf in (int(x) for x in leaves[:500]):
        in_a = covered(a, leaf)
        in_b = covered(b, leaf)
        in_i = covered(inter, leaf)
        assert in_i == (in_a and in_b)
    assert inter == _pairwise_intersection(a, b)
    # a null cell matches nothing, on either side
    for a, b in _cap_pairs(13) + [(a, a)]:
        got = _from_df(cells_intersection(_to_df(spark, a + [None]), _to_df(spark, b + [None])))
        assert got == _pairwise_intersection(a, b)


def test_cells_contain_point_semijoin(spark):
    cov = RegionCoverer(max_cells=8).get_covering(CapRegion(48.85, 2.35, 0.03))
    rng = np.random.default_rng(5)
    lat = rng.uniform(44, 54, 2000)
    lng = rng.uniform(-3, 8, 2000)
    leaves = [int(x) for x in cid.cell_id_from_latlng_degrees(lat, lng)]
    # unnormalized: the covering plus a repeated cell, the children of
    # one and the parent of another, a face cell (face 5, a negative
    # long) and a leaf cell of a point outside the cap
    face = (5 << 61) | (1 << 60)
    outside = next(x for x in leaves if not any(cid.contains_scalar(c, x) for c in cov))
    cells = _messy(cov) + [face, outside, outside]
    # leaves at each cell's range ends, one off each end, and nulls
    edges = []
    for c in [face, outside] + cov:
        lo, hi = cid.range_scalar(c)
        edges += [lo - 1, lo, lo + 1, hi - 1, hi, hi + 1]
    probes = leaves + edges + [None, None]
    leaf_df = spark.createDataFrame(
        [(i, None if x is None else _sig(x)) for i, x in enumerate(probes)],
        "idx long, leaf_id long",
    )
    joined = cells_contain_point(_to_df(spark, cells), leaf_df)
    got = {r.idx for r in joined.collect()}

    expected = {
        i for i, x in enumerate(probes)
        if x is not None and any(cid.contains_scalar(c, x) for c in cells if c is not None)
    }
    assert got == expected
    assert len(leaves) + len(edges) > len(expected) > 0
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cells_difference_matches_kernel(spark):
    a = RegionCoverer(max_cells=16).get_covering(CapRegion(0.0, 0.0, 0.08))
    b = RegionCoverer(max_cells=16).get_covering(CapRegion(2.0, 2.0, 0.08))
    for x, y in ((a, b), (b, a)):
        expected = cell_union_difference(list(x), list(y))
        got = _from_df(cells_difference(_to_df(spark, x), _to_df(spark, y)))
        assert got == sorted(expected)
    # A \ A = empty; A \ disjoint = A (already normalized)
    assert _from_df(cells_difference(_to_df(spark, a), _to_df(spark, a))) == []
    far = RegionCoverer(max_cells=8).get_covering(CapRegion(60.0, 120.0, 0.02))
    assert _from_df(
        cells_difference(_to_df(spark, a), _to_df(spark, far))
    ) == sorted(normalize_cell_union(list(a)))
    for x, y in _cap_pairs(14):
        expected = cell_union_difference(x, y)
        got = _from_df(cells_difference(_to_df(spark, x + [None]), _to_df(spark, y + [None])))
        assert got == sorted(expected)


def test_cellset_frames_build_with_no_job_but_the_collect_of_b(spark):
    """Building a result frame runs no Spark job, except the one collect
    of B behind the intersection and the difference: no operation loops
    on the driver, checks a frame for emptiness or checkpoints one."""
    sc = spark.sparkContext
    a, b = _cap_pairs(15, 1)[0]
    a_df, b_df = _to_df(spark, a), _to_df(spark, b)
    for name, build, jobs in (
        ("normalize", lambda: normalize_cells(a_df), 0),
        ("union", lambda: cells_union(a_df, b_df), 0),
        ("intersection", lambda: cells_intersection(a_df, b_df), 1),
        ("difference", lambda: cells_difference(a_df, b_df), 1),
        ("contain_point", lambda: cells_contain_point(b_df, a_df, leaf_col="cell_id"), 1),
    ):
        group = f"cellset-build-{name}"
        sc.setJobGroup(group, name)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are posted async
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs, name
