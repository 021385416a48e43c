"""Density-adaptive quadtree tiling (operators/tiling.py).

Invariants checked against an INDEPENDENT pure-Python quadtree twin:
disjointness (no kept tile is an ancestor of another), completeness
(every doc lands in exactly one tile), the count bound (every kept
tile below max_level holds <= target rows), and the hot-floor rule
(a kept over-target tile can only sit at max_level).  The twin walks
each leaf's ancestor chain top-down — a different algorithm from the
engine's histogram-rollup + semi-join selection.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.operators.tiling import (
    assign_adaptive_tiles,
    plan_adaptive_tiling,
    tile_balance,
)
from s2_geometry_library_php_spark.s2core import cellid as cid

MIN_L, MAX_L = 4, 10


def _leaves_np(docs):
    rows = docs.select("cell_id").collect()
    return cid.from_signed(
        np.asarray([r.cell_id for r in rows], dtype=np.int64)
    )


def _twin_quadtree(leaves, target, min_l=MIN_L, max_l=MAX_L):
    """Per-leaf top-down walk: the coarsest ancestor whose count fits,
    else the max-level ancestor.  Returns {tile_id: count}."""
    counts = {
        lvl: dict(
            zip(*[a.tolist() for a in np.unique(
                cid.parent(leaves, lvl), return_counts=True
            )])
        )
        for lvl in range(min_l, max_l + 1)
    }
    out = {}
    for leaf in leaves:
        chosen = None
        for lvl in range(min_l, max_l + 1):
            anc = int(cid.parent(np.asarray([leaf]), lvl)[0])
            if counts[lvl][anc] <= target:
                chosen = (lvl, anc)
                break
        if chosen is None:
            chosen = (max_l, int(cid.parent(np.asarray([leaf]), max_l)[0]))
        out[chosen] = out.get(chosen, 0) + 1
    return out


@pytest.fixture(scope="module")
def tiling(docs):
    n = docs.count()
    target = max(1, n // 64)
    tiles = plan_adaptive_tiling(
        docs, target, MIN_L, MAX_L
    ).localCheckpoint()
    return docs, target, tiles


def test_matches_pure_python_twin(tiling):
    docs, target, tiles = tiling
    rows = tiles.collect()
    uids = cid.from_signed(
        np.asarray([r.tile_id for r in rows], dtype=np.int64)
    )
    got = {
        (r.level, int(u)): r.doc_count for r, u in zip(rows, uids)
    }
    want = _twin_quadtree(_leaves_np(docs), target)
    assert got == want


def test_disjoint_and_complete(tiling):
    docs, target, tiles = tiling
    rows = tiles.collect()
    ids = cid.from_signed(
        np.asarray([r.tile_id for r in rows], dtype=np.int64)
    )
    # disjointness: ranges [range_min, range_max] must not overlap
    lo = cid.range_min(ids)
    hi = cid.range_max(ids)
    order = np.argsort(lo)
    assert np.all(hi[order][:-1] < lo[order][1:])
    # completeness: kept counts sum to the corpus
    assert sum(r.doc_count for r in rows) == docs.count()


def test_count_bound_and_hot_floor(tiling):
    _, target, tiles = tiling
    for r in tiles.collect():
        if r.level < MAX_L:
            assert r.doc_count <= target
        assert MIN_L <= r.level <= MAX_L


def test_assignment_unique_and_consistent(tiling):
    docs, target, tiles = tiling
    assigned = assign_adaptive_tiles(docs, tiles, MIN_L, MAX_L)
    rows = assigned.select("cell_id", "tile_id", "tile_level").collect()
    assert len(rows) == docs.count()
    # every doc got exactly one tile, and the tile is its own ancestor
    leaves = cid.from_signed(
        np.asarray([r.cell_id for r in rows], dtype=np.int64)
    )
    tile = cid.from_signed(
        np.asarray([r.tile_id for r in rows], dtype=np.int64)
    )
    lvls = np.asarray([r.tile_level for r in rows])
    for lvl in np.unique(lvls):
        m = lvls == lvl
        assert np.array_equal(
            cid.parent(leaves[m], int(lvl)), tile[m]
        )
    # per-tile totals agree with the plan
    got = (
        assigned.groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = {r.tile_id: r.doc_count for r in tiles.collect()}
    assert {r.tile_id: r.n for r in got} == want


def test_adaptive_beats_fixed_level_balance(tiling, docs):
    """The point of the exercise: on the skewed corpus (3 hot tiles,
    FIXTURES.md §1) the adaptive layout's max/mean per-tile row ratio
    must be materially tighter than the fixed level-4 tiling's."""
    _, _, tiles = tiling
    assigned = assign_adaptive_tiles(docs, tiles, MIN_L, MAX_L)
    a_max, a_mean, _ = tile_balance(assigned)
    from s2_geometry_library_php_spark.functions.sql_bitops import s2_parent

    fixed = docs.withColumn("tile_id", s2_parent(F.col("cell_id"), MIN_L))
    f_max, f_mean, _ = tile_balance(fixed)
    assert a_max / a_mean < f_max / f_mean


def test_plan_has_no_nested_loop_and_one_docs_shuffle(tiling, docs):
    docs_, _, tiles = tiling
    assigned = assign_adaptive_tiles(docs_, tiles, MIN_L, MAX_L)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_degenerate_levels_and_tiny_target(spark, docs):
    # min_level == max_level degenerates to the fixed tiling
    n = docs.count()
    tiles = plan_adaptive_tiling(docs, max(1, n // 64), 6, 6)
    got = {r.tile_id: r.doc_count for r in tiles.collect()}
    from s2_geometry_library_php_spark.functions.sql_bitops import s2_parent

    want = {
        r.tile_id: r.n
        for r in docs.groupBy(
            s2_parent(F.col("cell_id"), 6).alias("tile_id")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # target=1 pushes everything to the finest level unless alone
    tiles1 = plan_adaptive_tiling(docs, 1, MIN_L, MAX_L)
    assert sum(r.doc_count for r in tiles1.collect()) == n


def test_adaptive_partitioned_write_roundtrip_and_pruning(
    tiling, docs, tmp_path
):
    from s2_geometry_library_php_spark.operators.tiling import (
        read_adaptive_partition,
        write_adaptive_partitioned,
    )

    _, _, tiles = tiling
    path = str(tmp_path / "adaptive_layout")
    write_adaptive_partitioned(docs, path, tiles, MIN_L, MAX_L)
    spark = docs.sparkSession
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    # pick a doc; its partition read returns exactly the tile's rows
    # and the filter lands in PartitionFilters (plan-time pruning)
    probe = docs.select("cell_id").first().cell_id
    part = read_adaptive_partition(spark, path, probe, MIN_L, MAX_L)
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "tile_pfx" in plan
    rows = part.collect()
    assert any(r.cell_id == probe for r in rows)
    # the partition holds exactly one tile's rows: all leaves share
    # the partition's tile ancestor
    import numpy as np

    leaves = cid.from_signed(
        np.asarray([r.cell_id for r in rows], dtype=np.int64)
    )
    tset = {
        (r.level, r.tile_id)
        for r in tiles.collect()
    }
    owner = None
    for lvl in range(MIN_L, MAX_L + 1):
        anc = cid.parent(
            cid.from_signed(np.asarray([probe], dtype=np.int64)), lvl
        )[0]
        signed = int(np.int64(anc))
        if (lvl, signed) in tset:
            owner = (lvl, anc)
            break
    assert owner is not None
    lvl, anc = owner
    assert np.all(cid.parent(leaves, lvl) == anc)


def test_plan_is_one_histogram_rollup(docs):
    """One collect of the plan runs the fine histogram, its one
    expand-and-aggregate and the sibling window: no checkpointed level
    and no per-level semi-join, each of which runs as its own Spark
    job."""
    sc = docs.sparkSession.sparkContext
    target = max(1, docs.count() // 64)
    sc.setJobGroup("adaptive_tiling_plan", "plan_adaptive_tiling collect")
    try:
        rows = plan_adaptive_tiling(docs, target, MIN_L, MAX_L).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("adaptive_tiling_plan")
    assert len(jobs) <= 4
    assert sum(r.doc_count for r in rows) == docs.count()
