"""Per-layer measurements taken from outside the engine.

* ``kernel_bench``: single-thread s2core kernels in ns per element,
  printed beside the BASELINE.md reference anchors.
* ``parse_event_log``: per-operator totals (shuffle bytes, spill, rows
  sent to Python workers, GC, tasks) from a Spark event log, read
  offline after the session stops.
* ``RssSampler``: peak summed RSS of this process and its descendants
  (the JVM and its Python workers).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import numpy as np

# Every per-layer metric of a traced run, with its unit.  A layer a
# workload does not exercise reports 0.
PER_LAYER_UNITS = {
    "traced.job_s": "s",
    "traced.job_cpu_s": "s",
    "traced.cold_cpu_s": "s",
    "sources.scan_s": "s",
    "functions.encode_s": "s",
    "functions.encode_ns_per_row": "ns",
    "functions.crossing_overhead_ns_per_row": "ns",
    "s2core.encode_ns": "ns",
    "s2core.crossing_ns": "ns",
    "s2core.loop_contains_ns": "ns",
    "s2core.edge_cover_ns": "ns",
    "s2core.cover_ms_per_region": "ms",
    "spatial_join.cover_s": "s",
    "spatial_join.prefilter_pass_frac": "fraction",
    "spatial_join.candidate_rows": "count",
    "spatial_join.candidates_s": "s",
    "spatial_join.interior_frac": "fraction",
    "spatial_join.refine_s": "s",
    "spatial_join.refine_pass_frac": "fraction",
    "tiling.agg_s": "s",
    "tiling.tiles_written": "count",
    "knn.knn_s": "s",
    "knn.rows": "count",
    "radius_join.pairs_s": "s",
    "radius_join.pairs": "count",
    "plans.shuffle_write_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "plans.python_rows_sent": "count",
    "plans.gc_s": "s",
    "plans.tasks": "count",
}

COVER_LOOPS = 3  # synthetic 128-vertex loops timed by the coverer bench

# BASELINE.md reference anchors (upstream S2 Java measurements).
ANCHORS = {
    "s2core.crossing_ns": "~30 ns per EdgeCrosser.robustCrossing",
    "s2core.edge_cover_ns": "~1200 ns per edge-index insert (BM_QuadEdgeInsertionCost)",
}


def _median_time(fn, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _random_unit(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.normal(size=(n, 3))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def kernel_bench(workload) -> dict[str, float]:
    """s2core kernels on one thread (numpy elementwise code runs on the
    calling thread).  Encode runs on the workload's points;
    crossing, loop containment, edge covering and the coverer run on
    seeded synthetic inputs, the same for every workload."""
    from s2_geometry_library_php_spark.s2core import cellid, geom
    from s2_geometry_library_php_spark.s2core.cell import Cell
    from s2_geometry_library_php_spark.s2core.coverer import RegionCoverer
    from s2_geometry_library_php_spark.s2core.edges import edge_covering
    from s2_geometry_library_php_spark.s2core.region import region_from_params
    from s2_geometry_library_php_spark.operators.spatial_join import JOIN_LEVEL_GRID

    from workloads import JOIN_MAX_CELLS, star_loop

    out: dict[str, float] = {}
    rng = np.random.default_rng([workload.seed, 9])

    n = min(200_000, workload.n_points())
    lat, lon = workload.lat[:n], workload.lon[:n]
    out["s2core.encode_ns"] = _median_time(
        lambda: cellid.cell_id_from_latlng_degrees(lat, lon)) / n * 1e9

    m = 100_000
    a, b, c, d = (_random_unit(rng, m) for _ in range(4))
    out["s2core.crossing_ns"] = _median_time(
        lambda: geom.robust_crossing_vec(a, b, c, d)) / m * 1e9

    loops = [region_from_params("loop", star_loop(rng, 30.0 + 6 * i, -100.0, 2.6, 128))
             for i in range(COVER_LOOPS)]
    la = rng.uniform(27.0, 33.0, 20_000)
    lo = rng.uniform(-103.0, -97.0, 20_000)
    pts = geom.latlng_to_xyz(np.radians(la), np.radians(lo))
    v = loops[0].vertices
    out["s2core.loop_contains_ns"] = _median_time(
        lambda: geom.loop_contains_points(v, loops[0].origin_inside, pts)
    ) / (len(pts) * len(v)) * 1e9

    out["s2core.edge_cover_ns"] = _median_time(
        lambda: [edge_covering(v[i], v[(i + 1) % len(v)]) for i in range(len(v))]
    ) / len(v) * 1e9

    # The join's covering build per region: exterior covering on the
    # join's level grid plus the exact interior flag of every cell.
    def cover_all():
        for region in loops:
            cells = RegionCoverer(
                min_level=JOIN_LEVEL_GRID[0], max_level=JOIN_LEVEL_GRID[-1],
                level_mod=3, max_cells=JOIN_MAX_CELLS,
            ).get_covering(region)
            for cell in cells:
                region.contains_cell(Cell(cell))

    out["s2core.cover_ms_per_region"] = _median_time(cover_all, repeats=1) / len(loops) * 1e3
    return out


def _python_row_accumulators(plan: dict, acc: set[int]) -> None:
    """Accumulator ids of 'number of output rows' on every node that
    evaluates Python (ArrowEvalPython, MapInPandas, ...)."""
    if "Python" in plan.get("nodeName", "") or "Pandas" in plan.get("nodeName", ""):
        for metric in plan.get("metrics", []):
            if metric.get("name") == "number of output rows":
                acc.add(int(metric["accumulatorId"]))
    for child in plan.get("children", []):
        _python_row_accumulators(child, acc)


def parse_event_log(events_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Totals over the tasks launched in [t0_ms, t1_ms] (epoch ms)."""
    (name,) = os.listdir(events_dir)
    python_acc: set[int] = set()
    tasks = []
    with open(os.path.join(events_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_row_accumulators(ev.get("sparkPlanInfo", {}), python_acc)
            elif kind == "SparkListenerTaskEnd":
                launch = ev["Task Info"]["Launch Time"]
                if t0_ms <= launch <= t1_ms:
                    tasks.append(ev)
    totals = dict(shuffle_write_bytes=0, spill_bytes=0, python_rows_sent=0, gc_ms=0)
    for ev in tasks:
        tm = ev.get("Task Metrics") or {}
        totals["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
        totals["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0)
        totals["gc_ms"] += tm.get("JVM GC Time", 0)
        for acc in ev["Task Info"].get("Accumulables", []):
            if int(acc["ID"]) in python_acc:
                totals["python_rows_sent"] += int(acc.get("Update", 0))
    return {
        "plans.shuffle_write_bytes": float(totals["shuffle_write_bytes"]),
        "plans.spill_bytes": float(totals["spill_bytes"]),
        "plans.python_rows_sent": float(totals["python_rows_sent"]),
        "plans.gc_s": totals["gc_ms"] / 1e3,
        "plans.tasks": float(len(tasks)),
    }


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    their reaped children included."""
    total = 0
    for pid in (root, *descendants(root)):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM since boot,
    summed over its vCPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root: int) -> tuple[int, int]:
    """Summed RSS of ``root`` and its descendants: all of them, and the
    Python processes alone (the driver and the Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = python = 0
    for pid in (root, *descendants(root)):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            exe = os.readlink(f"/proc/{pid}/exe")
        except OSError:
            continue
        total += rss
        if "python" in os.path.basename(exe):
            python += rss
    return total, python


class RssSampler:
    """Samples the summed RSS of this process tree until ``stop``: the
    peak of all of it, and of its Python processes alone."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = self.python_peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self._sample(pid)
            if self._done.wait(self.interval_s):
                return

    def _sample(self, pid: int) -> None:
        total, python = _tree_rss_bytes(pid)
        self.peak_mb = max(self.peak_mb, total / 2**20)
        self.python_peak_mb = max(self.python_peak_mb, python / 2**20)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> "RssSampler":
        self._done.set()
        self._thread.join()
        self._sample(os.getpid())
        return self
