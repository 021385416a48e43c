"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 8 --trace 0

Run from the repository root.  Each run writes its seeded inputs as
parquet into a private work directory under ``.perfbench_work/``, brings
up the engine's Spark session at local[4], and runs real jobs (parquet
in, result table written to disk): one cold, then the workload's
``steady_jobs`` and more while ``--seconds`` have not passed, reading
the wall time and the process tree's CPU time around each.  Every
job's output is checked against an oracle computed with numpy outside
the timed path.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics (cumulative-prefix timings, s2core kernels, and the
Spark event log parsed offline).  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "s2_geometry_library_php_spark"

CPUS = 4  # local[4]: the benchmark's fixed parallelism
DRIVER_MEM = "4g"
PREFIX_REPEATS = 3  # the first run of a prefix compiles its plan; the median drops it


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _private_env(work: str, event_dir: str | None) -> None:
    """Points every scratch location of this run into ``work``: Python's
    and the JVM's temp dirs (the engine's covering disk cache lives in
    ``$TMPDIR``), Spark's block/shuffle dirs, and - traced runs only -
    the Spark event log."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # No hsperfdata files in /tmp; JVM temp files stay private.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Every run imports the engine from source, none from bytecode
        # an earlier run left in the checkout.
        PYTHONDONTWRITEBYTECODE="1",
    )
    submit = ["pyspark-shell"]
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        submit = [
            "--conf", "spark.eventLog.enabled=true",
            # One plain JSON-lines file, parsed after the session stops.
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            *submit,
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit)
    tempfile.tempdir = None


def _start_session():
    """Brings up the engine's session (a new JVM); returns it and the
    seconds it took."""
    from s2_geometry_library_php_spark.plans import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stops Spark, then the JVM gateway process, and waits for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _reap_children() -> None:
    """Terminates and waits for any process this run left behind."""
    from layers import descendants

    pids = descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _digest(rows) -> str:
    return f"{rows.shape}:{hashlib.sha256(rows.tobytes()).hexdigest()[:16]}"


class Runner:
    """Times jobs of one workload and checks each against the oracle."""

    def __init__(self, workload, spark, work: str, expected: list[str]):
        self.w = workload
        self.spark = spark
        self.work = work
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self._n = 0

    def timed_job(self, parts: dict | None = None) -> tuple[float, float] | None:
        """Runs the full job once; returns its wall seconds and the CPU
        seconds the process tree spent on it, or None if it raised or
        its output disagrees with the oracle."""
        from layers import tree_cpu_s

        self._n += 1
        out = os.path.join(self.work, "out", f"job-{self._n}")
        self.attempted += 1
        try:
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            self.w.job(self.spark, out, parts)
            secs = time.perf_counter() - t0
            cpu = tree_cpu_s(os.getpid()) - c0
            got = [_digest(r) for r in self.w.written(out)]
        except Exception:  # noqa: BLE001 - counted, reported, run goes on
            print(f"job {self._n} raised:", file=sys.stderr)
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)
        if got != self.expected:
            print(f"job {self._n} output {got} != oracle {self.expected}", file=sys.stderr)
            self.failed += 1
            return None
        return secs, cpu

    def steady(self, seconds: float,
               parts_log: list | None = None) -> tuple[list[float], list[float]]:
        """Timed jobs, the workload's ``steady_jobs`` at least and for
        ``seconds`` at least; returns their wall and CPU seconds."""
        walls, cpus = [], []
        t_end = time.perf_counter() + seconds
        while len(walls) < self.w.steady_jobs or time.perf_counter() < t_end:
            parts = {} if parts_log is not None else None
            job = self.timed_job(parts)
            if job is not None:
                walls.append(job[0])
                cpus.append(job[1])
                if parts_log is not None:
                    parts_log.append(parts)
            elif self.failed > 3 * max(1, len(walls)):
                break  # failing repeatedly: stop early, the result says so
        return walls, cpus


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _series(name: str, values: list[float]) -> str:
    return f"{name} of the {len(values)} steady jobs: " + ", ".join(
        f"{v:.3f}" for v in values)


def run_plain(args, workload, work: str, expected: list[str]) -> tuple[Runner, dict]:
    from layers import RssSampler, steal_s

    spark, setup_s = _start_session()
    _print_session(spark)
    try:
        runner = Runner(workload, spark, work, expected)
        cold = runner.timed_job()
        # Memory of the steady jobs: the cold job's transient worker
        # spawns vary from run to run.
        rss = RssSampler().start()
        steal0 = steal_s()
        walls, cpus = runner.steady(args.seconds)
        steal = steal_s() - steal0
        rss.stop()
    finally:
        _stop_session(spark)
    if cold is None or not walls:
        _fail(f"no successful job ({runner.failed} of {runner.attempted} failed)")
    # The mean, not the median: over a session's first jobs the JIT
    # compiles much the same code, but not always during the same job.
    job_cpu_s = sum(cpus) / len(cpus)
    metrics = {
        "setup_s": _metric(setup_s, "s"),
        "job_cpu_s": _metric(job_cpu_s, "s"),
        "points_per_cpu_s": _metric(workload.n_points() / job_cpu_s, "1/s"),
        "python_rss_mb": _metric(rss.python_peak_mb, "MB"),
    }
    # Printed, not reported: wall times, which move with the CPU time
    # the host steals from the VM; the cold job, which varies by 15-20%
    # between runs (the traced run reports its CPU seconds); and the
    # JVM's resident heap, which follows G1's sizing (3.1-5.9 GB).
    print(f"cold job {cold[0]:.3f} s wall, {cold[1]:.2f} CPU s; the steady jobs "
          f"lost {steal:.1f} CPU s to host steal")
    print(_series("job_s (wall)", walls))
    print(_series("job_cpu_s", cpus))
    print(f"peak RSS with the JVM {rss.peak_mb:.0f} MB")
    return runner, metrics


def _time_sink(build) -> float:
    """Median wall seconds to run a frame to Spark's no-op sink."""
    times = []
    for _ in range(PREFIX_REPEATS):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run_traced(args, workload, work: str, expected: list[str],
               event_dir: str) -> tuple[Runner, dict]:
    import layers

    from s2_geometry_library_php_spark.operators.spatial_join import compute_coverings

    from workloads import JOIN_MAX_CELLS

    m = dict.fromkeys(layers.PER_LAYER_UNITS, 0.0)
    # Coverings first, while this run's private covering cache is empty.
    if workload.regions:
        t0 = time.perf_counter()
        compute_coverings(workload.regions, max_cells=JOIN_MAX_CELLS)
        m["spatial_join.cover_s"] = time.perf_counter() - t0

    spark, _ = _start_session()
    _print_session(spark)
    try:
        runner = Runner(workload, spark, work, expected)
        cold = runner.timed_job()  # worker spawn, codegen, coverings
        prefix = {name: _time_sink(build) for name, build in workload.prefixes(spark)}
        m.update(workload.layer_counts(spark))
        parts_log: list[dict] = []
        t_lo = time.time() * 1e3
        walls, cpus = runner.steady(args.seconds, parts_log)
        t_hi = time.time() * 1e3
    finally:
        _stop_session(spark)

    if cold is None or not walls:
        _fail(f"no successful job ({runner.failed} of {runner.attempted} failed)")
    job_s = statistics.median(walls)
    n = workload.n_points()
    m["traced.job_s"] = job_s
    m["traced.job_cpu_s"] = sum(cpus) / len(cpus)
    m["traced.cold_cpu_s"] = cold[1]
    m["sources.scan_s"] = prefix["scan"]
    m["functions.encode_s"] = max(prefix["encode"] - prefix["scan"], 0.0)
    # Core-nanoseconds per row, so it compares with the 1-thread kernel.
    m["functions.encode_ns_per_row"] = m["functions.encode_s"] * CPUS / n * 1e9
    if "candidates" in prefix:
        m["spatial_join.candidates_s"] = max(prefix["candidates"] - prefix["encode"], 0.0)
        m["spatial_join.refine_s"] = max(prefix["join"] - prefix["candidates"], 0.0)
        m["tiling.agg_s"] = max(job_s - prefix["join"], 0.0)
    for key in ("knn.knn_s", "radius_join.pairs_s"):
        vals = [p[key] for p in parts_log if key in p]
        m[key] = statistics.median(vals) if vals else 0.0

    m.update(layers.kernel_bench(workload))
    m["functions.crossing_overhead_ns_per_row"] = (
        m["functions.encode_ns_per_row"] - m["s2core.encode_ns"]
    )
    jobs = max(len(walls), 1)
    for key, val in layers.parse_event_log(event_dir, t_lo, t_hi).items():
        m[key] = val / jobs  # per steady job

    metrics = {k: _metric(m[k], unit) for k, unit in layers.PER_LAYER_UNITS.items()}
    print(_series("traced.job_s (wall)", walls))
    print(_series("traced.job_cpu_s", cpus))
    return runner, metrics


def _print_session(spark) -> None:
    print(f"spark {spark.version} master {spark.sparkContext.master} "
          f"shuffle.partitions {spark.conf.get('spark.sql.shuffle.partitions')}")


def _print_env(args) -> None:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    print(f"nproc {os.cpu_count()} mem {mem_gb:.1f} GiB "
          f"SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
          f"SPARK_DRIVER_MEM={os.environ['SPARK_DRIVER_MEM']}")
    print(f"python {platform.python_version()} pyspark {pyspark.__version__} "
          f"pyarrow {pyarrow.__version__} numpy {numpy.__version__} pandas {pandas.__version__}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        _fail(f"engine package {ENGINE}/ not found under {ROOT}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    from layers import ANCHORS
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"--workload must be one of {sorted(WORKLOADS)}")

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    event_dir = os.path.join(work, "events") if args.trace else None
    _private_env(work, event_dir)
    try:
        _print_env(args)
        workload = WORKLOADS[args.workload](args.seed, os.path.join(work, "input"))
        t0 = time.perf_counter()
        workload.generate()
        expected = [_digest(r) for r in workload.expected()]
        print(f"inputs: {workload.n_points()} points, {len(workload.regions)} regions; "
              f"written and oracle computed in {time.perf_counter() - t0:.1f} s")
        if args.trace:
            runner, metrics = run_traced(args, workload, work, expected, event_dir)
        else:
            runner, metrics = run_plain(args, workload, work, expected)
    finally:
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    print(f"failed_frac {runner.failed / runner.attempted:.4f} "
          f"({runner.failed} of {runner.attempted} jobs)")
    for name, m in metrics.items():
        anchor = ANCHORS.get(name)
        print(f"  {name:<42} {m['value']:>16.6g} {m['unit']:<8}"
              + (f" (BASELINE.md anchor: {anchor})" if anchor else ""))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
