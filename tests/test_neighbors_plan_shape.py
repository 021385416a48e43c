"""Plan shape of the neighbors and covering-join operators: every
Python kernel crosses into Python once per row.  A kNN round evaluates
only its ring kernel (ring lookup and batch-local top-k over the docs'
lat/lon; an unused caller encode is pruned), and sorts only the kernel's
survivors; the radius join evaluates the left encode and the fused
right ring kernel.  No filter on a Python UDF's output may sit under a
second ArrowEvalPython (the optimizer's inferred ``isnotnull(join key)``
pushed below the projection that computes the key would evaluate the
UDF twice).  The point-in-region join crosses into Python once, for
the fused covering lookup and refine, with no join at all; when its
input computes the leaf encode over the same columns, both UDFs share
that one node; so does the region-table twin, whose executor-built
coverings are collected before the join is planned.  The polyline
proximity and projection joins run the same kind of kernel, one Python
node and no join.  So do the edge-crossing joins: one Python node over
the query edges (edge index lookup and robustCrossing refine), no join,
and one exchange for the per-pair count.  Driver-built tables
(coverings, region specs, query edges, media, lineage metrics) plan as
local relations."""

import re

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField

from s2_geometry_library_php_spark.functions import s2_cell_id
from s2_geometry_library_php_spark.functions.multimodal import synth_media_table
from s2_geometry_library_php_spark.operators.knn import (
    knn_join,
    probe_rings,
    ring_round_topk,
)
from s2_geometry_library_php_spark.operators.polyline_join import (
    polyline_project_join,
    polyline_proximity_join,
    polyline_region_crossing_join,
    polyline_self_crossing_join,
)
from s2_geometry_library_php_spark.operators.measures import (
    region_measure_frames,
    tile_clipped_fan_frame,
)
from s2_geometry_library_php_spark.operators.radius_join import within_radius_join
from s2_geometry_library_php_spark.operators.region_distance import (
    knn_regions,
    regions_rect_df,
)
from s2_geometry_library_php_spark.operators.scan import global_running_sum
from s2_geometry_library_php_spark.operators.spatial_join import (
    build_covering_table,
    regions_to_df,
    spatial_join,
    spatial_join_region_table,
)
from s2_geometry_library_php_spark.plans.lineage import LineageLog
from s2_geometry_library_php_spark.s2core import cellid as cid
from s2_geometry_library_php_spark.sources import region_fixtures

PYTHON_NODES = re.compile(r"(ArrowEvalPython|MapIn\w+|FlatMapGroupsIn\w+)\b")


def _executed_nodes(df):
    """(depth, node text) of the executed physical plan, top-down."""
    df.collect()
    return _planned_nodes(df)


def _planned_nodes(df):
    """(depth, node text) of the physical plan, top-down: the final plan
    once ``df`` ran, else the plan as planned, before adaptive execution
    re-plans joins from run-time sizes."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    tree = plan.treeString()
    nodes = []
    for line in tree.splitlines():
        m = re.search(r"[A-Za-z*]", line)
        if m:  # drop the whole-stage-codegen marker "*(n) "
            nodes.append((m.start(), re.sub(r"^\*\(\d+\) ", "", line[m.start():])))
    return nodes


def _python_nodes(nodes):
    return [t for _, t in nodes if PYTHON_NODES.match(t)]


def _ancestors(nodes, i):
    """Node texts on the path from node ``i`` up to the root."""
    out = []
    d = nodes[i][0]
    for up_depth, up_text in reversed(nodes[:i]):
        if up_depth < d:
            d = up_depth
            out.append(up_text)
    return out


def _udf_filters_under_python(nodes):
    """Filters on a pythonUDF output that have an ArrowEvalPython
    ancestor: each marks a UDF evaluated twice."""
    return [
        text
        for i, (_, text) in enumerate(nodes)
        if text.startswith("Filter")
        and "pythonUDF" in text
        and any(t.startswith("ArrowEvalPython") for t in _ancestors(nodes, i))
    ]


def _names(nodes, prefix):
    return [t for _, t in nodes if t.startswith(prefix)]


@pytest.fixture(scope="module")
def points(spark, tmp_path_factory):
    """Uncached parquet points, so every plan reads and encodes them."""
    rng = np.random.default_rng(3)
    n = 2000
    path = str(tmp_path_factory.mktemp("pts") / "points")
    spark.createDataFrame(
        [
            (i, float(a), float(b))
            for i, (a, b) in enumerate(
                zip(
                    np.degrees(np.arcsin(rng.uniform(-1, 1, n))),
                    rng.uniform(-180, 180, n),
                )
            )
        ],
        "doc_id long, lat double, lon double",
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def encoded(spark, points, tmp_path_factory):
    """The points with their leaf cell id already on disk, so a join
    plan's only Python nodes are its own."""
    path = str(tmp_path_factory.mktemp("enc") / "encoded")
    points.withColumn("cell_id", s2_cell_id("lat", "lon")).write.parquet(path)
    return spark.read.parquet(path)


def _descendants(nodes, i):
    """Node texts in the subtree under node ``i``."""
    out = []
    for depth, text in nodes[i + 1:]:
        if depth <= nodes[i][0]:
            break
        out.append(text)
    return out


def test_knn_round_crosses_once_for_the_ring_kernel(spark, points):
    docs = points.withColumn("cell_id", s2_cell_id("lat", "lon"))
    probes = pa.table(
        {
            "probe_id": pa.array([0, 1], pa.int64()),
            "_plat": pa.array([48.85, -33.9]),
            "_plon": pa.array([2.35, 151.2]),
        }
    )
    leaf = cid.cell_id_from_latlng_degrees(
        probes.column("_plat").to_numpy(), probes.column("_plon").to_numpy()
    )
    ring = probe_rings(spark, probes, leaf, 6, StructField("probe_id", LongType()))
    nodes = _executed_nodes(ring_round_topk(ring, docs, 3, 6))
    python = _python_nodes(nodes)
    assert len(python) == 1 and python[0].startswith("ArrowEvalPython [ring_topk_udf(")
    assert not any("s2_cell_id" in t for _, t in nodes)
    assert _udf_filters_under_python(nodes) == []
    # Every sort runs above the explode of the kernel's survivors.
    sorts = [i for i, (_, t) in enumerate(nodes) if t.startswith("Sort")]
    assert sorts
    for i in sorts:
        assert any(t.startswith("Generate") for t in _descendants(nodes, i))


def test_knn_join_result_holds_no_python_node(spark, points):
    docs = points.withColumn("cell_id", s2_cell_id("lat", "lon"))
    probes = spark.createDataFrame(
        [(0, 48.85, 2.35), (1, -33.9, 151.2)], "probe_id long, lat double, lon double"
    )
    # Every round is pinned: the result reads checkpoints only.
    nodes = _executed_nodes(knn_join(spark, probes, docs, 3, start_level=6))
    assert _python_nodes(nodes) == []


def test_radius_join_evaluates_each_kernel_once(spark, points):
    left = points.select(F.col("doc_id").alias("a_id"), "lat", "lon")
    right = points.select(F.col("doc_id").alias("b_id"), "lat", "lon")
    nodes = _executed_nodes(within_radius_join(left, right, 0.01))
    python = _python_nodes(nodes)
    assert len(python) == 2, python
    assert sum("s2_cell_id" in t for t in python) == 1
    assert sum("s2_ring_cells_udf" in t for t in python) == 1
    assert _udf_filters_under_python(nodes) == []
    # Spark broadcasts the small unhinted self-join on its own; it
    # builds from one row per point, not from the ring.
    built = [i for i, (_, t) in enumerate(nodes) if t.startswith("BroadcastExchange")]
    assert built
    assert not any(
        t.startswith("Generate") for i in built for t in _descendants(nodes, i)
    )


def test_spatial_join_crosses_once_for_the_refine(spark, encoded):
    """One ArrowEvalPython (the fused covering lookup and refine), no
    join of either kind, and no filter that re-evaluates the UDF."""
    nodes = _executed_nodes(spatial_join(spark, encoded, region_fixtures()))
    python = _python_nodes(nodes)
    assert len(python) == 1 and python[0].startswith("ArrowEvalPython [hits(")
    assert _names(nodes, "BroadcastHashJoin") == []
    assert _names(nodes, "SortMergeJoin") == []
    assert _udf_filters_under_python(nodes) == []


def test_spatial_join_shares_the_encodes_python_node(spark, points):
    """An encode that is not written to disk and the join's kernel are
    both pandas UDFs over (lat, lon): Catalyst evaluates them in one
    ArrowEvalPython node, so each row crosses into Python once."""
    docs = points.withColumn("cell_id", s2_cell_id("lat", "lon"))
    nodes = _executed_nodes(spatial_join(spark, docs, region_fixtures()))
    python = _python_nodes(nodes)
    assert len(python) == 1, python
    assert "s2_cell_id(" in python[0] and "hits(" in python[0]
    assert _udf_filters_under_python(nodes) == []


def test_driver_built_tables_are_local_relations(spark, encoded, tmp_path):
    """Coverings, region specs, measure fans, region rects and blocks,
    running-sum offsets, the synthetic media table and lineage metric
    rows ship as Arrow local relations: no PythonRDD scan that pickles
    rows through the workers."""
    regions = region_fixtures()
    lines = [{"line_id": 1, "vertices": [[0.0, -30.0], [10.0, -20.0], [20.0, -20.0]]}]
    metrics = [("job", "stage", 7, 10, 3, "done", 0.5, 1.0)]
    frames = [
        build_covering_table(spark, regions),
        regions_to_df(spark, regions),
        synth_media_table(spark, 6, real_payloads=True),
        LineageLog(spark, str(tmp_path), "job")._metrics_frame(metrics),
    ]
    loop = next(r for r in regions if r["kind"] == "loop")
    frames += [
        *region_measure_frames(spark, regions),
        tile_clipped_fan_frame(spark, loop, 6),
        regions_rect_df(spark, regions),
    ]
    for df in frames:
        plan = [t for _, t in _planned_nodes(df)]
        assert len(plan) == 1 and plan[0].startswith("LocalTableScan"), plan
    # The region block summaries of the pruned k-nearest-regions plan
    # and the bucket offsets of the global running sum.
    probes = spark.range(3).selectExpr("id AS probe_id", "10.0 AS lat", "20.0 AS lon")
    for df in (
        knn_regions(
            spark, probes, regions, 1, prune_threshold=0, block_size=2, sb_size=2
        ),
        global_running_sum(spark.range(20), "id", "id"),
    ):
        nodes = _executed_nodes(df)
        assert _names(nodes, "LocalTableScan")
        assert _names(nodes, "Scan ExistingRDD") == []
    # The polyline joins build no table at all: the buffered coverings
    # ride in the kernel's closure.
    for join in (polyline_proximity_join, polyline_project_join):
        nodes = _executed_nodes(join(spark, encoded, lines, 0.2))
        assert _names(nodes, "LocalTableScan") == []
        assert _names(nodes, "Scan ExistingRDD") == []


def test_region_table_join_shares_the_encodes_python_node(spark, points):
    """The region-table join plans as ``spatial_join`` does: its
    coverings are built in executors and collected before planning, so
    with an unwritten encode the plan holds one ArrowEvalPython (the
    encode and the kernel), no join and no covering map."""
    docs = points.withColumn("cell_id", s2_cell_id("lat", "lon"))
    nodes = _executed_nodes(
        spatial_join_region_table(spark, docs, regions_to_df(spark, region_fixtures()))
    )
    python = _python_nodes(nodes)
    assert len(python) == 1 and python[0].startswith("ArrowEvalPython"), python
    assert "s2_cell_id(" in python[0] and "hits(" in python[0]
    assert _names(nodes, "BroadcastHashJoin") == []
    assert _names(nodes, "SortMergeJoin") == []
    assert _names(nodes, "MapIn") == []
    assert _udf_filters_under_python(nodes) == []


def test_polyline_project_join_projects_once(spark, encoded):
    """Both polyline joins cross into Python once, for the covering
    lookup and the refine (the proximity join) or the projection, with
    no join of either kind and no filter that re-evaluates the UDF."""
    lines = [{"line_id": 1, "vertices": [[0.0, -30.0], [10.0, -20.0], [20.0, -20.0]]}]
    joins = ((polyline_proximity_join, "hits("), (polyline_project_join, "project("))
    for join, udf in joins:
        nodes = _executed_nodes(join(spark, encoded, lines, 0.2))
        python = _python_nodes(nodes)
        assert len(python) == 1 and python[0].startswith("ArrowEvalPython [" + udf)
        assert _names(nodes, "BroadcastHashJoin") == []
        assert _names(nodes, "SortMergeJoin") == []
        assert _names(nodes, "Scan ExistingRDD") == []
        assert _udf_filters_under_python(nodes) == []


def test_crossing_joins_look_up_and_refine_in_one_crossing(spark):
    """Each crossing join scans its query edges as a local relation,
    crosses into Python once (the edge index lookup and the
    robustCrossing refine) and shuffles once, for the per-pair count:
    no join node of any kind."""
    lines = [
        {"line_id": 1, "vertices": [[42.0, -77.0], [42.0, -72.0]]},
        {"line_id": 2, "vertices": [[40.0, -74.5], [44.0, -74.5]]},
    ]
    joins = (
        polyline_region_crossing_join(spark, lines, region_fixtures()),
        polyline_self_crossing_join(spark, lines),
    )
    for df in joins:
        nodes = _executed_nodes(df)
        python = _python_nodes(nodes)
        assert len(python) == 1 and python[0].startswith("ArrowEvalPython [crossings(")
        assert [t for _, t in nodes if re.match(r"\w*(Join|CartesianProduct)\b", t)] == []
        assert len(_names(nodes, "Exchange")) == 1
        assert _names(nodes, "LocalTableScan")
        assert _names(nodes, "Scan ExistingRDD") == []
        assert _udf_filters_under_python(nodes) == []
