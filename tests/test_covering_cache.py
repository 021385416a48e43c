"""The covering cache: keyed on the s2core code, never serving coverings
that other code computed, and never failing on a damaged file."""

import importlib
import os

import pytest

# the operators package re-exports the function under the module's name
sj = importlib.import_module("s2_geometry_library_php_spark.operators.spatial_join")

REGIONS = [
    {"region_id": 1, "kind": "cap", "params": [48.85, 2.35, 0.01]},
    {"region_id": 2, "kind": "rect", "params": [0.17, 0.21, 0.35, 0.40]},
]


@pytest.fixture
def covers(monkeypatch, tmp_path):
    """A private disk cache and an empty memory cache; returns the list
    of region ids the coverer ran for."""
    monkeypatch.setattr(sj, "_DISK_CACHE_DIR", str(tmp_path))
    monkeypatch.setattr(sj, "_COVERING_CACHE", {})
    calls = []
    real = sj.covering_rows

    def counting(region, region_id, *args):
        calls.append(region_id)
        return real(region, region_id, *args)

    monkeypatch.setattr(sj, "covering_rows", counting)
    return calls


def _forget_memory(monkeypatch):
    monkeypatch.setattr(sj, "_COVERING_CACHE", {})


def test_disk_hit_skips_the_coverer(covers, monkeypatch):
    rows = sj.compute_coverings(REGIONS, max_cells=8)
    assert covers == [1, 2]
    _forget_memory(monkeypatch)
    assert sj.compute_coverings(REGIONS, max_cells=8) == rows
    assert covers == [1, 2]


def test_changed_code_digest_misses_and_recomputes(covers, monkeypatch):
    rows = sj.compute_coverings(REGIONS, max_cells=8)
    monkeypatch.setattr(sj, "_s2core_digest", lambda: "other code")
    assert sj.compute_coverings(REGIONS, max_cells=8) == rows
    assert covers == [1, 2, 1, 2]


def test_truncated_cache_file_recomputes(covers, monkeypatch, tmp_path):
    rows = sj.compute_coverings(REGIONS, max_cells=8)
    (path,) = [p for p in tmp_path.iterdir() if p.suffix == ".json"]
    data = path.read_bytes()
    for cut in (0, 1, len(data) // 2, len(data) - 1):
        path.write_bytes(data[:cut])
        _forget_memory(monkeypatch)
        assert sj.compute_coverings(REGIONS, max_cells=8) == rows
    assert covers == [1, 2] * 5
    assert os.path.getsize(path) == len(data)  # rewritten whole


def test_source_digest_is_computed_once_per_process():
    sj._s2core_digest()
    hits = sj._s2core_digest.cache_info().hits
    assert len(sj._s2core_digest()) == 64
    assert sj._s2core_digest.cache_info().hits == hits + 1
