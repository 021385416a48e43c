"""Python workers import the installed pyspark, not the shipped archives.

``plans.get_spark`` runs the workers under
``s2_geometry_library_php_spark._daemon``, which drops ``pyspark.zip``,
the py4j zip and code-free jars from ``sys.path`` before the stock
pyspark daemon starts, and ``get_spark``'s executor env gives RDD-path
Python the UDF runners' worker pool.  The Spark tests check the live
workers; the rest check the drop rule on fake archives, without Spark."""

import os
import sys
import zipfile

import pytest

from s2_geometry_library_php_spark import _daemon
from tools.make_pyfiles import build

VERSION = b"__version__: str = '9.9.9'\n"


def test_worker_imports_installed_pyspark(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def probe(x: pd.Series) -> pd.Series:
        import zipimport

        import pyspark

        zips = [
            k for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)
        ]
        assert not zips, zips
        assert os.path.isfile(pyspark.__file__), pyspark.__file__
        return x * 0.5 + 3.0

    df = spark.range(0, 2000, numPartitions=4).select(
        "id", probe(F.col("id").cast("double")).alias("y")
    )
    got = {r.id: r.y for r in df.collect()}
    assert got == {i: i * 0.5 + 3.0 for i in range(2000)}


def test_python_rdd_actions_share_the_udf_worker_pool(spark):
    """RDD-path Python (here a ``parallelize().map()`` job) runs in the
    Arrow UDF workers: every worker of both paths is a child of one
    daemon."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    @F.arrow_udf("long")
    def daemon_pid(x: pa.Array) -> pa.Array:
        return pa.array([os.getppid()] * len(x), pa.int64())

    udf_pids = {
        r.pid for r in spark.range(0, 4000, numPartitions=4)
        .select(daemon_pid("id").alias("pid")).distinct().collect()
    }
    rdd_pids = set(
        spark.sparkContext.parallelize(range(8), 4).map(lambda _: os.getppid()).collect()
    )
    assert len(udf_pids) == 1, udf_pids
    assert rdd_pids == udf_pids


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def _installed(root, version=VERSION, py4j=True):
    (root / "pyspark").mkdir(parents=True)
    (root / "pyspark" / "__init__.py").write_bytes(b"")
    (root / "pyspark" / "version.py").write_bytes(version)
    if py4j:
        (root / "py4j").mkdir()
        (root / "py4j" / "__init__.py").write_bytes(b"")
    return str(root)


@pytest.fixture
def shipped(tmp_path):
    """The archives Spark puts first on a worker's path."""
    return [
        _zip(tmp_path / "pyspark.zip", {
            "pyspark/__init__.py": b"",
            "pyspark/version.py": VERSION,
        }),
        _zip(tmp_path / "py4j-0.0-src.zip", {"py4j/__init__.py": b""}),
        _zip(tmp_path / "spark-core.jar", {
            "META-INF/MANIFEST.MF": b"",
            "org/apache/spark/SparkContext.class": b"",
        }),
    ]


def test_matching_install_drops_the_shipped_archives(tmp_path, shipped):
    site = _installed(tmp_path / "site")
    assert _daemon.pruned_path(shipped + [site]) == [site]


def test_zip_of_another_version_is_kept(tmp_path, shipped):
    site = _installed(tmp_path / "site", version=b"__version__ = '1.0'\n")
    assert _daemon.pruned_path(shipped + [site]) == shipped[:2] + [site]


@pytest.mark.parametrize("py4j", [False, True])
def test_no_installed_pyspark_keeps_the_zips(tmp_path, shipped, py4j):
    site = tmp_path / "site"
    (site / "py4j" if py4j else site).mkdir(parents=True)
    if py4j:
        (site / "py4j" / "__init__.py").write_bytes(b"")
    assert _daemon.pruned_path(shipped + [str(site)]) == shipped[:2] + [str(site)]


def test_installed_pyspark_without_py4j_keeps_the_zips(tmp_path, shipped):
    site = _installed(tmp_path / "site", py4j=False)
    assert _daemon.pruned_path(shipped + [site]) == shipped[:2] + [site]


def test_jar_with_python_is_kept(tmp_path, shipped):
    site = _installed(tmp_path / "site")
    jars = [
        _zip(tmp_path / f"with{ext}.jar", {f"pkg/mod{ext}": b"", "a.class": b""})
        for ext in (".py", ".pyc", ".so")
    ]
    assert _daemon.pruned_path(shipped + jars + [site]) == jars + [site]


def test_engine_pyfiles_zip_is_never_dropped(tmp_path, shipped):
    engine = build(str(tmp_path / "dist"))
    site = _installed(tmp_path / "site")
    assert _daemon.pruned_path(shipped + [engine, site]) == [engine, site]
    assert _daemon.pruned_path([engine] + shipped[2:]) == [engine]


def test_prune_clears_the_importer_cache(tmp_path, shipped, monkeypatch):
    site = _installed(tmp_path / "site")
    pyspark_zip = shipped[0]
    cache = {
        pyspark_zip: object(),
        os.path.join(pyspark_zip, "pyspark"): object(),
        os.path.join(pyspark_zip, "pyspark", "sql"): object(),
        shipped[2]: object(),
        pyspark_zip + "-other": None,
    }
    monkeypatch.setattr(sys, "path", shipped + [site])
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    _daemon.prune_sys_path()
    assert sys.path == [site]
    assert pyspark_zip + "-other" in sys.path_importer_cache
    assert set(sys.path_importer_cache) & set(cache) == {pyspark_zip + "-other"}
