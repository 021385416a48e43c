"""``s2core.arrow_io``, the Arrow buffer boundary of the S2 UDFs: its
reads equal pyarrow's own ``to_numpy`` conversion bit for bit (sliced
arrays, nulls on either side of the slice offset, NaN and +-inf,
float32, integer and empty inputs), its arrays round-trip, and the UDFs
built on it keep their null semantics through Spark: a null cell id
gives a null neighbor list, a null or NaN coordinate encodes to the
cube-corner leaf."""

import numpy as np
import pyarrow as pa
import pytest

from s2_geometry_library_php_spark.functions.udfs import (
    register_sql_functions,
    s2_all_neighbors_udf,
    s2_cell_id,
)
from s2_geometry_library_php_spark.s2core import arrow_io as aio
from s2_geometry_library_php_spark.s2core import cellid as cid

CORNER_LEAF = 0x4000000000000001


def _reference(arr):
    return arr.to_numpy(zero_copy_only=False).astype(np.float64)


def _same_bits(a, b):
    return a.dtype == b.dtype == np.float64 and np.array_equal(
        a.view(np.uint64), b.view(np.uint64)
    )


VALUES = [1.5, None, np.nan, np.inf, -np.inf, -0.0, None, 3.25, 1e308, None, -7.0,
          5e-324, 2.0, None, 0.1, -np.nan, 8.0, 9.0, None]


@pytest.mark.parametrize("typ", [pa.float64(), pa.float32(), pa.float16()])
@pytest.mark.parametrize("start,stop", [(0, 19), (1, 19), (2, 9), (6, 7), (7, 18), (9, 10), (5, 5)])
def test_float_reads_equal_to_numpy(typ, start, stop):
    """Slices start before, at and after a null; each offset lands on a
    different bit of the validity bytes."""
    arr = pa.array(VALUES, pa.float64()).cast(typ).slice(start, stop - start)
    assert arr.offset == start
    assert _same_bits(aio.float64_values(arr), _reference(arr))


@pytest.mark.parametrize(
    "arr",
    [pa.array([1, None, 3, -(2**62)], pa.int64()).slice(1), pa.array([7, 8], pa.int32()),
     pa.array([], pa.float64()), pa.array([], pa.int64()),
     pa.array([None, None], pa.float64()), pa.array([np.nan, -np.inf, np.inf])],
)
def test_other_reads_equal_to_numpy(arr):
    assert _same_bits(aio.float64_values(arr), _reference(arr))


def test_int64_and_validity_reads():
    arr = pa.array([5, None, -1, 2**63 - 1, None, 9], pa.int64()).slice(1, 4)
    assert aio.int64_values(arr).tolist() == [0, -1, 2**63 - 1, 0]
    assert aio.valid_mask(arr).tolist() == [False, True, True, False]
    assert aio.valid_mask(arr.slice(1, 2)) is None
    assert aio.int64_values(pa.array([3, None], pa.int32())).tolist() == [3, 0]


def test_arrays_round_trip():
    valid = np.array([True, False, True, True, False, True, True, True, False])
    for values in (np.arange(9, dtype=np.int64) - 4, np.linspace(-1, 1, 9),
                   np.arange(9, dtype=np.int32), np.arange(9) % 3 == 0):
        want = [v.item() if ok else None for v, ok in zip(values, valid)]
        assert aio.array(values, valid).to_pylist() == want
        assert aio.array(values).to_pylist() == values.tolist()
    lists = aio.list_array(np.array([0, 2, 2, 5]), aio.array(np.arange(5)),
                           np.array([True, False, True]))
    assert lists.to_pylist() == [[0, 1], None, [2, 3, 4]]
    assert aio.list_array(np.zeros(1), aio.array(np.zeros(0))).to_pylist() == []


def test_all_neighbors_null_in_null_out(spark):
    cell = int(cid.to_signed(cid.parent(np.array([CORNER_LEAF + 2**40], np.uint64), 9))[0])
    df = spark.createDataFrame([(0, None), (1, cell), (2, None)], "i int, c long")
    rows = df.select("i", s2_all_neighbors_udf("c").alias("n")).orderBy("i").collect()
    assert rows[0].n is None and rows[2].n is None
    want = cid.distinct_rings(cid.from_signed(np.array([cell])), False)[0].tolist()
    assert rows[1].n == want


def test_cell_id_of_null_nan_and_float32(spark):
    """Through the SQL registration too: a null or NaN coordinate gives
    the cube-corner leaf; a float32 column encodes its widened values."""
    register_sql_functions(spark)
    rows = [(0, None, 1.0), (1, float("nan"), 2.0), (2, 10.5, None), (3, 48.85, 2.35)]
    df = spark.createDataFrame(rows, "i int, lat double, lon double")
    df.createOrReplaceTempView("arrow_io_points")
    sql = spark.sql("SELECT i, s2_cell_id(lat, lon) AS c FROM arrow_io_points ORDER BY i")
    api = df.select("i", s2_cell_id("lat", "lon").alias("c")).orderBy("i")
    expected = [CORNER_LEAF] * 3 + [
        int(cid.cell_id_from_latlng_degrees(np.array([48.85]), np.array([2.35]))[0])
    ]
    for frame in (sql, api):
        got = [int(cid.from_signed(np.array([r.c]))[0]) for r in frame.collect()]
        assert got == expected
    f32 = df.selectExpr("i", "CAST(lat AS float) AS lat", "CAST(lon AS float) AS lon")
    got = [r.c for r in f32.select("i", s2_cell_id("lat", "lon").alias("c")).orderBy("i").collect()]
    lat32 = np.array([np.nan, np.nan, 10.5, 48.85], np.float32).astype(np.float64)
    lon32 = np.array([1.0, 2.0, np.nan, 2.35], np.float32).astype(np.float64)
    with np.errstate(invalid="ignore"):
        want = cid.to_signed(cid.cell_id_from_latlng_degrees(lat32, lon32)).tolist()
    assert got == want
