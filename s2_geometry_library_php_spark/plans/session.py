"""SparkSession factory tuned for the engine, and the helper that
hands a driver-built table to Spark as a local relation.

Local sandbox runs on ``local[N]``; the same config block is what we
would pass to ``spark-submit`` on a real cluster (AQE on, skew join
on, Arrow batching for the UDF kernels).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def default_cores() -> int:
    """``local[N]`` width: ``SPARK_GRAFT_CPUS`` when set, else the CPUs
    this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def _default_driver_memory() -> str:
    """Half of physical memory, in MiB (``SPARK_DRIVER_MEM`` overrides)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 2 // (1 << 20)}m"


def get_spark(
    app_name: str = "s2-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # One BLAS/OpenMP thread per Python worker: Spark already runs one
    # task per core, so letting numpy's BLAS spawn its own per-core
    # pool inside EVERY worker oversubscribes cores^2 threads (the
    # loop-containment and cosine kernels are matrix products).  Must
    # be set before the workers fork; also exported to executors for
    # cluster deployments.
    for v in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
    ):
        os.environ.setdefault(v, "1")
    # Executor python workers import the engine via PYTHONPATH (they
    # do not see the driver's sys.path); cluster deployments ship the
    # package with spark-submit --py-files instead.
    pkg_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    if pkg_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
        )
    # spark-submit starts the JVM before this process and hands it over
    # through PYSPARK_GATEWAY_PORT: its master and driver JVM options are
    # already fixed, so keep them.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    cpus = default_cores()
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime coalescing + skew-join splitting (hot tiles).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow IPC for Python UDFs — the only JVM<->Python crossing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Broadcast the covering table even if stats are conservative.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # One Python worker pool per executor: Spark keys its worker
        # factories on (python exec, worker module, daemon module, env).
        # The SQL UDF runners add SPARK_SIMPLIFIED_TRACEBACK=1 to the env
        # and the RDD runner does not, so RDD-path Python (createDataFrame
        # of a list, .rdd jobs, SparkContext.runJob) would start a second
        # daemon and a second set of workers (~200 MB on a 4-core kNN
        # job).  Setting the variable for every worker makes the keys
        # equal: UDF tracebacks stay as they were, and RDD-path errors
        # now drop pyspark's own frames the same way.
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        # Local mode has no data locality to wait for; the default 3s
        # locality wait only adds scheduling jitter.
        .config("spark.locality.wait", "0s")
        .config("spark.ui.enabled", "false")
    )
    if master or not submitted:
        builder = builder.master(master or f"local[{cpus}]")
    if not submitted:
        builder = (
            builder.config(
                "spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
            )
            # Many distinct generated WholeStageCodegen classes across a
            # query suite overflow the default 240MB JIT code cache, after
            # which the JVM silently stops compiling and later queries run
            # interpreted (observed 10-30x slowdowns mid-suite).
            .config(
                "spark.driver.extraJavaOptions",
                "-Djava.net.preferIPv4Stack=true -XX:ReservedCodeCacheSize=2g "
                "-XX:+UseCodeCacheFlushing",
            )
            # Workers import the installed pyspark instead of re-reading
            # pyspark.zip, the py4j zip and the spark-core jar on every task
            # (s2_geometry_library_php_spark/_daemon.py; it keeps the zips
            # when the installed pyspark is missing or another version).
            # It is importable here through the PYTHONPATH set above; under
            # spark-submit the workers see the --py-files zip only per task,
            # after the daemon starts, so they keep the stock daemon.
            .config(
                "spark.python.daemon.module", "s2_geometry_library_php_spark._daemon"
            )
        )
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def local_relation(
    spark: SparkSession, data: pa.Table | list[tuple], schema: StructType | str
) -> DataFrame:
    """A driver-built table (coverings, region specs, edges, probe
    rings) as a local relation: its Arrow batches go to the JVM once
    and plan as a ``LocalTableScan``, so no action on it runs a Spark
    job or a Python worker.  ``spark.createDataFrame(list_of_tuples)``
    instead plans a ``PythonRDD`` scan that pickles the rows through
    the workers on every action.  ``data`` is a pyarrow Table or row
    tuples in ``schema``'s field order."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(data, pa.Table):
        arrow = to_arrow_schema(schema)
        columns = list(zip(*data)) if data else [()] * len(arrow)
        data = pa.table(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
        )
    return spark.createDataFrame(data, schema)
