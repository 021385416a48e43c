"""Per-partition lineage checkpointing: resumable batch jobs.

North-rule requirement: "every stage checkpoints per-partition lineage
and metrics ... so a killed job resumes without recomputing completed
tiles."

Design (SURVEY.md §2.10): work is partitioned by a coarse cell prefix
(``s2_parent(cell_id, lineage_level)``).  A stage writes its output
parquet partitioned by that prefix; after each prefix's data is
committed, a metrics row ``(job_id, stage, cell_prefix, row_count,
checksum, status, wall_sec)`` is appended to a lineage table.  On
restart, the driver anti-joins the completed prefixes out of the input
and only recomputes the remainder — idempotent because each recomputed
prefix's output directory is REPLACED, not appended to
(``spark.sql.sources.partitionOverwriteMode=dynamic`` +
``mode("overwrite")``): a killed job may leave committed files in a
prefix whose metric row never landed, and the resume overwrites
exactly those prefixes, so no duplicates survive.

The lineage table itself is plain parquet here; on a production
cluster it would be an Iceberg table with snapshot isolation — the
protocol (write data, then commit the metric row; treat the metric row
as the commit marker) is the same.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sql_bitops import s2_parent
from .session import local_relation

LINEAGE_SCHEMA = (
    "job_id string, stage string, cell_prefix long, row_count long, "
    "checksum long, status string, wall_sec double, committed_at double"
)


class LineageLog:
    def __init__(self, spark: SparkSession, base_dir: str, job_id: str):
        self.spark = spark
        self.base_dir = base_dir
        self.job_id = job_id
        self.metrics_dir = os.path.join(base_dir, "_lineage")
        os.makedirs(self.metrics_dir, exist_ok=True)

    # -- metrics I/O -------------------------------------------------------------
    def _metrics_path(self) -> str:
        return os.path.join(self.metrics_dir, "metrics.parquet")

    def read_metrics(self) -> DataFrame:
        path = self._metrics_path()
        if not os.path.exists(path):
            return self._metrics_frame([])
        return self.spark.read.parquet(path)

    def completed_prefixes(self, stage: str) -> DataFrame:
        return (
            self.read_metrics()
            .where(
                (F.col("job_id") == self.job_id)
                & (F.col("stage") == stage)
                & (F.col("status") == "done")
            )
            .select("cell_prefix")
            .distinct()
        )

    def _metrics_frame(self, rows: list[tuple]) -> DataFrame:
        return local_relation(self.spark, rows, LINEAGE_SCHEMA)

    def _append_metrics(self, rows: list[tuple]) -> None:
        df = self._metrics_frame(rows)
        df.coalesce(1).write.mode("append").parquet(self._metrics_path())

    # -- the resumable stage runner ------------------------------------------------
    def run_stage(
        self,
        stage: str,
        input_df: DataFrame,
        transform,
        lineage_level: int = 4,
        leaf_col: str = "cell_id",
    ) -> str:
        """Run ``transform(df)`` per cell-prefix work unit, resumably.

        Returns the stage output directory.  On a fresh run all
        prefixes are computed; on restart, prefixes with a 'done'
        metric row are skipped entirely (their parquet output is
        already committed)."""
        out_dir = os.path.join(self.base_dir, stage)
        keyed = input_df.withColumn(
            "_lineage_prefix", s2_parent(F.col(leaf_col), lineage_level)
        )
        done = self.completed_prefixes(stage).withColumnRenamed(
            "cell_prefix", "_lineage_prefix"
        )
        remaining = keyed.join(F.broadcast(done), "_lineage_prefix", "leftanti")

        result = transform(remaining)
        if "_lineage_prefix" not in result.columns:
            raise ValueError(
                "transform must preserve the _lineage_prefix column"
            )

        t0 = time.time()
        # Dynamic partition overwrite: only the prefixes present in
        # `result` are replaced — completed prefixes (anti-joined out
        # above) keep their files, while prefixes half-written by a
        # killed attempt are atomically superseded instead of
        # accumulating duplicate rows.
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        prev_mode = self.spark.conf.get(mode_key, None)
        self.spark.conf.set(mode_key, "dynamic")
        try:
            (
                result.write.mode("overwrite")
                .partitionBy("_lineage_prefix")
                .parquet(out_dir)
            )
        finally:
            if prev_mode is None:
                self.spark.conf.unset(mode_key)
            else:
                self.spark.conf.set(mode_key, prev_mode)
        wall = time.time() - t0

        # Commit markers: per-prefix row counts + order-insensitive
        # checksum (xor-of-hashes), computed from the just-written data
        # so the metric reflects what is durably on disk.
        written = self.spark.read.parquet(out_dir).join(
            F.broadcast(done), "_lineage_prefix", "leftanti"
        )
        stats = (
            written.withColumn(
                "_rowhash", F.xxhash64(*[c for c in written.columns])
            )
            .groupBy("_lineage_prefix")
            .agg(
                F.count(F.lit(1)).alias("row_count"),
                F.expr("bit_xor(_rowhash)").alias("checksum"),
            )
            .collect()
        )
        now = time.time()
        self._append_metrics(
            [
                (
                    self.job_id,
                    stage,
                    int(r["_lineage_prefix"]),
                    int(r["row_count"]),
                    int(r["checksum"]) if r["checksum"] is not None else 0,
                    "done",
                    float(wall),
                    now,
                )
                for r in stats
            ]
        )
        return out_dir

    def summary(self) -> str:
        m = self.read_metrics().where(F.col("job_id") == self.job_id)
        agg = m.groupBy("stage", "status").agg(
            F.count(F.lit(1)).alias("prefixes"),
            F.sum("row_count").alias("rows"),
        )
        return json.dumps([r.asDict() for r in agg.collect()], default=str)
