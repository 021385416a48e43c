"""Python worker daemon that imports the installed pyspark.

Spark starts every Python worker with ``pyspark.zip``, the py4j zip and
the spark-core jar first on ``sys.path``.  ``pyspark.worker`` calls
``importlib.invalidate_caches()`` once per task, and every zipimporter
then re-reads its archive's central directory in pure Python: about
0.2 CPU s per task (16 zipimporters, measured on a 4-vCPU host), none
of it spent on data.

Run as ``spark.python.daemon.module`` (``plans.get_spark``), this module
prunes the path before anything imports pyspark, then hands over to the
unmodified ``pyspark.daemon``:

* the pyspark and py4j archives go only when a pyspark and a py4j are
  importable from the remaining entries and that pyspark's
  ``version.py`` equals the archive's; otherwise they stay;
* a ``.jar`` that holds no ``.py``, ``.pyc`` or ``.so`` goes, since it
  can satisfy no import.

It must not import pyspark (or the engine's ``plans``) at module level.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder

_CODE = (".py", ".pyc", ".so")
_VERSION = "pyspark/version.py"


def _members(entry: str) -> list[str] | None:
    """Member names of the archive at path entry ``entry``, else None."""
    if not os.path.isfile(entry):
        return None
    try:
        with zipfile.ZipFile(entry) as zf:
            return zf.namelist()
    except (OSError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str]) -> bytes | None:
    """``pyspark/version.py`` of the pyspark importable from ``path``,
    when py4j is importable too and pyspark is a plain directory."""
    spark = PathFinder.find_spec("pyspark", path)
    if spark is None or PathFinder.find_spec("py4j", path) is None:
        return None
    try:
        dirs = spark.submodule_search_locations
        with open(os.path.join(dirs[0], "version.py"), "rb") as fh:
            return fh.read()
    except (OSError, TypeError, IndexError):
        return None


def pruned_path(path: list[str]) -> list[str]:
    """``path`` without the archives that can serve no import the rest
    of it cannot (rules in the module docstring).  Only archives that
    hold nothing but ``pyspark`` and ``py4j`` count as shipped, so an
    engine ``--py-files`` zip is never dropped."""
    members = {e: _members(e) for e in path}
    dead = {
        e for e, names in members.items()
        if names is not None and e.endswith(".jar")
        and not any(n.endswith(_CODE) for n in names)
    }
    shipped = {
        e for e, names in members.items()
        if names and {n.split("/", 1)[0] for n in names} <= {"pyspark", "py4j"}
    }
    rest = [e for e in path if e not in dead and e not in shipped]
    versions = set()
    for entry in shipped:
        if _VERSION in members[entry]:
            with zipfile.ZipFile(entry) as zf:
                versions.add(zf.read(_VERSION))
    if len(versions) == 1 and versions == {_installed_version(rest)}:
        return rest
    return [e for e in path if e not in dead]


def prune_sys_path() -> None:
    """Apply :func:`pruned_path` to ``sys.path`` and drop the removed
    entries, and their sub-package keys, from the importer cache."""
    kept = pruned_path(sys.path)
    gone = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in gone):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    prune_sys_path()
    from pyspark import daemon

    daemon.manager()
