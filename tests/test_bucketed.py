"""Bucketed co-located joins: same rows as a plain join, ZERO shuffle
Exchange in the executed plan (SURVEY §6 storage-layout strategy)."""

import pytest
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.functions import s2_cell_id
from s2_geometry_library_php_spark.sources.bucketed import write_bucketed

N_BUCKETS = 8


def count_shuffle_exchanges(df):
    """Shuffle Exchange operators in the executed plan (broadcast
    exchanges move dimension-sized data and do not count)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    from s2_geometry_library_php_spark.sources import load_documents

    docs = (
        load_documents(spark, "/root/testdata/sf0.001")
        .withColumn("cell_id", s2_cell_id("lat", "lon"))
        .withColumn(
            "tile_id",
            F.expr(
                "cast(shiftrightunsigned(cell_id, 64 - 3 - 2*8) as long)"
            ),
        )
    )
    left = docs.select("doc_id", "tile_id", "lat", "lon")
    right = (
        docs.groupBy("tile_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("lat").alias("mean_lat"),
        )
    )
    write_bucketed(
        left, "bk_docs", "tile_id", N_BUCKETS, path=str(base / "docs")
    )
    write_bucketed(
        right, "bk_tiles", "tile_id", N_BUCKETS, path=str(base / "tiles")
    )
    yield left, right
    spark.sql("DROP TABLE IF EXISTS bk_docs")
    spark.sql("DROP TABLE IF EXISTS bk_tiles")


def test_bucketed_join_zero_shuffle_same_rows(spark, bucketed_tables):
    left, right = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bk_docs").join(spark.table("bk_tiles"), "tile_id")
        got = sorted(
            (r.doc_id, r.tile_id, r.n_docs) for r in joined.collect()
        )
        # the layout contract: no shuffle on either side
        assert count_shuffle_exchanges(joined) == 0
        want = sorted(
            (r.doc_id, r.tile_id, r.n_docs)
            for r in left.join(right, "tile_id").collect()
        )
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_unbucketed_join_shuffles_as_control(spark, bucketed_tables):
    """Control: the identical join WITHOUT the bucketed layout pays
    shuffle Exchanges — what bucketing removes at 100 TB."""
    left, right = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = left.join(right, "tile_id")
        assert count_shuffle_exchanges(plain) >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_aggregation_reuses_layout(spark, bucketed_tables):
    """groupBy on the bucket key also plans shuffle-free."""
    agg = spark.table("bk_docs").groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert count_shuffle_exchanges(agg) == 0
    assert agg.count() == spark.table("bk_tiles").count()
