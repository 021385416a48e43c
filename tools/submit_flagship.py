"""spark-submit entrypoint for the flagship pipeline (north star:
"launched via spark-submit --py-files on multi-executor clusters").

    python tools/make_pyfiles.py
    spark-submit --master <cluster> \
        --py-files dist/s2_geometry_library_php_spark.zip \
        tools/submit_flagship.py --sf-dir /data/sfX --out /data/out

The script imports the engine ONLY from the shipped zip (no repo on
sys.path), runs documents -> geocode -> S2 leaf encode ->
point-in-region covering join as a lineage-checkpointed resumable
stage, then tile-aggregates the joined rows and writes
tile-partitioned parquet.  Re-running with the same --out resumes:
completed lineage prefixes are skipped (plans/lineage.py, dynamic
partition overwrite).  Prints one JSON metrics line on stdout.

The session comes from ``plans.get_spark``, which keeps the master
spark-submit set."""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--tile-level", type=int, default=12)
    ap.add_argument("--lineage-level", type=int, default=4)
    ap.add_argument("--job-id", default="flagship")
    args = ap.parse_args()

    # Workers import the engine from the --py-files zip too: Spark
    # adds it to the executors' PYTHONPATH automatically; the driver
    # side gets it from spark-submit's sys.path injection.
    from pyspark.sql import functions as F

    from s2_geometry_library_php_spark.plans import get_spark

    spark = get_spark(app_name="s2-flagship-submit")

    from s2_geometry_library_php_spark.functions import s2_cell_id
    from s2_geometry_library_php_spark.functions.sql_bitops import (
        s2_parent,
        s2_token_sql,
    )
    from s2_geometry_library_php_spark.operators import spatial_join
    from s2_geometry_library_php_spark.plans.lineage import LineageLog
    from s2_geometry_library_php_spark.sources import (
        load_documents,
        region_fixtures,
    )

    t0 = time.time()
    docs = load_documents(spark, args.sf_dir).withColumn(
        "cell_id", s2_cell_id("lat", "lon")
    )
    regions = region_fixtures()

    # Stage 1 (resumable): the covering join, checkpointed per
    # cell-prefix with metrics; a killed run resumes without
    # recomputing completed prefixes.
    log = LineageLog(spark, args.out, args.job_id)
    stage_dir = log.run_stage(
        "region_join",
        docs,
        lambda df: spatial_join(spark, df, regions),
        lineage_level=args.lineage_level,
    )

    # Stage 2: tile aggregation over the committed join output,
    # written partitioned by tile token prefix for plan-time pruning.
    joined = spark.read.parquet(stage_dir)
    tiles = (
        joined.groupBy(
            s2_parent(F.col("cell_id"), args.tile_level).alias("tile_id"),
            "region_id",
        )
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.approx_count_distinct("url").alias("approx_urls"),
        )
        .withColumn("tile_token", s2_token_sql("tile_id"))
    )
    tiles_dir = os.path.join(args.out, "tiles")
    tiles.write.mode("overwrite").partitionBy("region_id").parquet(tiles_dir)

    n_tiles = spark.read.parquet(tiles_dir).count()
    n_joined = joined.count()
    print(
        json.dumps(
            {
                "job": args.job_id,
                "sf_dir": args.sf_dir,
                "joined_rows": n_joined,
                "tile_rows": n_tiles,
                "wall_sec": round(time.time() - t0, 3),
                "master": spark.sparkContext.master,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
