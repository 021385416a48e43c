"""rasterize_tiles / vectorize_raster: the dense raster side of
raster<->vector tile materialization.  Round-trip exactness, position
semantics vs the numpy child_position kernel, and grid density."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.functions import s2_cell_id
from s2_geometry_library_php_spark.operators.tiling import (
    rasterize_tiles,
    tile_aggregate,
    vectorize_raster,
)
from s2_geometry_library_php_spark.s2core import cellid as cid

FINE, COARSE = 10, 7  # 4^3 = 64-entry rasters


@pytest.fixture(scope="module")
def tiles(spark):
    from s2_geometry_library_php_spark.sources.documents import (
        load_documents,
    )

    docs = load_documents(spark, "/root/testdata/sf0.001").withColumn(
        "cell_id", s2_cell_id("lat", "lon")
    )
    return tile_aggregate(docs, FINE).select("tile_id", "doc_count")


def test_raster_round_trip_exact(spark, tiles):
    rast = rasterize_tiles(tiles, FINE, COARSE)
    back = vectorize_raster(rast, FINE, COARSE)
    want = {
        (int(r["tile_id"]), int(r["doc_count"])) for r in tiles.collect()
    }
    got = {
        (int(r["tile_id"]), int(r["doc_count"])) for r in back.collect()
    }
    assert got == want
    assert len(want) > 50


def test_raster_grid_shape_and_mass(spark, tiles):
    rast = rasterize_tiles(tiles, FINE, COARSE).collect()
    assert all(len(r["raster"]) == 4 ** (FINE - COARSE) for r in rast)
    total_in = sum(int(r["doc_count"]) for r in tiles.collect())
    total_out = sum(sum(r["raster"]) for r in rast)
    assert total_in == total_out
    # occupancy is sparse at sf0.001: rasters must carry zeros too
    assert any(0 in list(r["raster"]) for r in rast)


def test_raster_position_matches_child_position_kernel(spark, tiles):
    """Grid index i == base-4 digits child_position(level COARSE+1..FINE)
    — the raster order IS the Hilbert cell order within the parent."""
    rows = tiles.limit(200).collect()
    ids = np.array([r["tile_id"] for r in rows], dtype=np.int64)
    u = cid.from_signed(ids)
    want_pos = np.zeros(len(u), dtype=np.int64)
    for lvl in range(COARSE + 1, FINE + 1):
        want_pos = want_pos * 4 + cid.child_position(u, lvl)
    parents = cid.to_signed(cid.parent(u, COARSE))
    rast = {
        int(r["raster_id"]): list(r["raster"])
        for r in rasterize_tiles(tiles, FINE, COARSE).collect()
    }
    for k, r in enumerate(rows):
        grid = rast[int(parents[k])]
        assert grid[int(want_pos[k])] == int(r["doc_count"])


def test_raster_round_trip_level_sweep(spark):
    """Round-trip exactness across (fine, coarse) level pairs incl.
    dl=1 and the max supported dl=8, coarse level 0 (face rasters) and
    fine leaf-adjacent levels."""
    from s2_geometry_library_php_spark.sources.documents import (
        load_documents,
    )

    docs = load_documents(spark, "/root/testdata/sf0.001").withColumn(
        "cell_id", s2_cell_id("lat", "lon")
    )
    for fine, coarse in ((4, 0), (8, 7), (12, 4), (20, 14), (30, 22)):
        t = tile_aggregate(docs, fine).select("tile_id", "doc_count")
        back = vectorize_raster(
            rasterize_tiles(t, fine, coarse), fine, coarse
        )
        want = {(int(r[0]), int(r[1])) for r in t.collect()}
        got = {
            (int(r["tile_id"]), int(r["doc_count"])) for r in back.collect()
        }
        assert got == want, f"levels {fine}/{coarse}"


def test_raster_faces_4_5_negative_ids(spark):
    """Signed-long face-4/5 ids (top bit set) must survive the bit
    reassembly: synthesize points in the southern/western face region
    and round-trip."""
    pts = spark.createDataFrame(
        [(i, -80.0 + (i % 7) * 0.01, -120.0 + (i % 11) * 0.01) for i in range(60)],
        "doc_id long, lat double, lon double",
    ).withColumn("cell_id", s2_cell_id("lat", "lon"))
    t = tile_aggregate(pts, FINE).select("tile_id", "doc_count")
    assert t.where(F.col("tile_id") < 0).count() > 0  # faces 4-5 present
    back = vectorize_raster(rasterize_tiles(t, FINE, COARSE), FINE, COARSE)
    want = {(int(r[0]), int(r[1])) for r in t.collect()}
    got = {(int(r["tile_id"]), int(r["doc_count"])) for r in back.collect()}
    assert got == want
