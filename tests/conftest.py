import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from s2_geometry_library_php_spark.plans import get_spark

    # Partition-invariance knobs: results must not depend on
    # parallelism or shuffle fan-out, so CI-style sweeps can rerun
    # the suite at e.g. SPARK_TESTS_MASTER=local[2]
    # SPARK_TESTS_SHUFFLE=3 (odd counts catch boundary assumptions).
    # Unset, the master is get_spark's host-sized local[N].
    spark = get_spark(
        app_name="s2-tests",
        master=os.environ.get("SPARK_TESTS_MASTER"),
        shuffle_partitions=int(
            os.environ.get("SPARK_TESTS_SHUFFLE", "8")
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def docs(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from s2_geometry_library_php_spark.functions import s2_cell_id
    from s2_geometry_library_php_spark.sources import load_documents

    d = (
        load_documents(spark, SF)
        .withColumn("cell_id", s2_cell_id("lat", "lon"))
        .select("doc_id", "text", "lang", "source", "lat", "lon", "cell_id")
        .cache()
    )
    d.count()
    return d
