"""Seeded inputs and the batch jobs the benchmark times.

Every job reads its points from parquet on disk and writes its result
table to disk, calling only the engine's public API.  Each workload
also exposes the cumulative prefixes of its job (scan, +encode, ...),
which the traced run times to attribute the job to layers from the
outside.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle

# Input sizes, chosen so one run (session set-up, cold job, steady
# jobs) takes about a minute on 4 vCPU.  A job's time is mostly fixed
# per-stage cost (300k flagship points take ~6 s, 100k ~4 s), so small
# inputs buy more steady jobs per run.  neighbors uses the same point
# mix at half the size: its kNN driver loop re-scans the points every
# round.
FLAGSHIP_POINTS = 100_000
NEIGHBORS_POINTS = 50_000
INPUT_FILES = 8  # >= 2x local[4] cores, so the scan is parallel

# 30% of the points fall in Gaussian clusters around these cities; the
# sigma makes the r = 2e-6 rad self-join of 50k points find ~10 pairs.
HOT_CITIES = (
    (48.8566, 2.3522),  # Paris: inside the 10 km cap fixture
    (40.7128, -74.0060),  # New York: 500 km cap + convex quad fixture
    (35.6762, 139.6503),  # Tokyo
    (-6.2088, 106.8456),  # Jakarta: inside the 55 degree cap fixture
    (-23.5505, -46.6333),  # Sao Paulo
)
HOT_FRACTION = 0.3
HOT_SIGMA_DEG = 0.08

TILE_LEVEL = 12
ROLLUP_LEVELS = (10, 8, 6, 4, 2)
KNN_PROBES = 200
KNN_K = 10
PAIR_RADIUS_RAD = 2e-6
JOIN_MAX_CELLS = 8  # spatial_join's default covering size


def _read_rows(path: str, columns: list[str]) -> np.ndarray:
    table = pq.read_table(path, columns=columns)
    return oracle.canonical(np.stack([table[c].to_numpy() for c in columns], axis=1)
                            if table.num_rows else np.zeros((0, len(columns))))


def _write_points(path: str, lat: np.ndarray, lon: np.ndarray) -> None:
    os.makedirs(path, exist_ok=True)
    n = len(lat)
    bounds = np.linspace(0, n, INPUT_FILES + 1).astype(np.int64)
    for i in range(INPUT_FILES):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        table = pa.table(
            {
                "doc_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                "lat": pa.array(lat[lo:hi]),
                "lon": pa.array(lon[lo:hi]),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def mixed_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """~70% uniform on the sphere, ~30% in the hot-city clusters."""
    n_hot = int(round(n * HOT_FRACTION))
    n_uni = n - n_hot
    lat_u = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n_uni)))
    lon_u = rng.uniform(-180.0, 180.0, n_uni)
    city = np.asarray(HOT_CITIES)[rng.integers(0, len(HOT_CITIES), n_hot)]
    lat_h = city[:, 0] + rng.normal(0.0, HOT_SIGMA_DEG, n_hot)
    lon_h = city[:, 1] + rng.normal(0.0, HOT_SIGMA_DEG, n_hot) / np.cos(
        np.radians(city[:, 0])
    )
    perm = rng.permutation(n)
    lat = np.clip(np.concatenate([lat_u, lat_h])[perm], -90.0, 90.0)
    lon = (np.concatenate([lon_u, lon_h])[perm] + 180.0) % 360.0 - 180.0
    return lat, lon


def star_loop(rng: np.random.Generator, lat_c: float, lng_c: float,
              radius_deg: float, n_vertices: int) -> list[float]:
    """A star-shaped CCW loop around (lat_c, lng_c), built in the
    gnomonic plane so its great-circle edges cannot self-intersect.
    Returns the engine's loop params: [lat0, lng0, lat1, lng1, ...]."""
    la, ln = math.radians(lat_c), math.radians(lng_c)
    c = np.array([math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln), math.sin(la)])
    east = np.array([-math.sin(ln), math.cos(ln), 0.0])
    north = np.cross(c, east)
    theta = 2 * np.pi * (np.arange(n_vertices) + rng.uniform(0.0, 0.6, n_vertices)) / n_vertices
    r = math.tan(math.radians(radius_deg)) * rng.uniform(0.55, 1.0, n_vertices)
    p = c[None, :] + (r * np.cos(theta))[:, None] * east + (r * np.sin(theta))[:, None] * north
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    lat = np.degrees(np.arctan2(p[:, 2], np.hypot(p[:, 0], p[:, 1])))
    lng = np.degrees(np.arctan2(p[:, 1], p[:, 0]))
    return [float(x) for pair in zip(lat, lng) for x in pair]


class Workload:
    """One seeded input set plus the job over it.

    ``generate`` writes the inputs and keeps the arrays the oracle
    needs; ``job`` runs the timed job and writes its result under
    ``out``; ``written`` reads that result back as canonical row
    arrays, in the order ``expected`` gives the oracle's; ``prefixes``
    lists (layer, frame builder) cumulative prefixes of the same job,
    each run to a no-op sink; ``layer_counts`` gives the untimed row
    counts of the traced run."""

    name = ""
    regions: list[dict] = []
    # Timed jobs after the cold one, at least, however short --seconds
    # is.  A session's jobs get cheaper for 10-15 jobs as the JIT catches
    # up, and not equally fast in every session; a fixed count times the
    # same stretch of that curve in every run, and a longer stretch
    # averages more of its run-to-run differences.
    steady_jobs = 3

    def __init__(self, seed: int, input_dir: str):
        self.seed = seed
        self.points_path = os.path.join(input_dir, "points")

    def n_points(self) -> int:
        return len(self.lat)

    def read(self, spark):
        return spark.read.parquet(self.points_path)

    def encoded(self, spark):
        from s2_geometry_library_php_spark.functions import s2_cell_id

        return self.read(spark).withColumn("cell_id", s2_cell_id("lat", "lon"))

    def prefixes(self, spark):
        return [
            ("scan", lambda: self.read(spark)),
            ("encode", lambda: self.encoded(spark)),
        ]


class Flagship(Workload):
    """scan -> encode -> bbox prefilter -> prefix explode -> broadcast
    covering join -> boundary refine -> regions per doc -> tile
    aggregate + rollup -> tile table written."""

    name = "flagship"
    steady_jobs = 5  # its jobs take ~4 s, neighbors' ~6.5 s

    def generate(self):
        from s2_geometry_library_php_spark.sources import region_fixtures

        rng = np.random.default_rng([self.seed, 1])
        self.lat, self.lon = mixed_points(rng, FLAGSHIP_POINTS)
        _write_points(self.points_path, self.lat, self.lon)
        self.regions = region_fixtures()

    def joined(self, spark):
        from s2_geometry_library_php_spark.operators import spatial_join

        return spatial_join(spark, self.encoded(spark), self.regions,
                            max_cells=JOIN_MAX_CELLS)

    def candidates(self, spark):
        """The join up to its refine, as ``spatial_join`` builds it: bbox
        prefilter, prefix explode and broadcast equi-join against the
        covering table."""
        from pyspark.sql import functions as F

        from s2_geometry_library_php_spark.functions import s2_parent
        from s2_geometry_library_php_spark.operators import build_covering_table
        from s2_geometry_library_php_spark.operators.spatial_join import (
            bbox_prefilter_expr,
            compute_coverings,
        )

        rows = compute_coverings(self.regions, max_cells=JOIN_MAX_CELLS)
        levels = sorted({level for _, _, level, _ in rows})
        cov = build_covering_table(spark, self.regions, max_cells=JOIN_MAX_CELLS)
        probe = (
            self.encoded(spark)
            .where(bbox_prefilter_expr(self.regions, "lat", "lon"))
            .withColumn(
                "_prefix",
                F.explode(F.array(*[s2_parent(F.col("cell_id"), lv) for lv in levels])),
            )
        )
        return probe.join(
            F.broadcast(cov.drop("cov_level")), F.col("_prefix") == F.col("cov_cell")
        )

    def per_doc(self, spark):
        """Matched docs, one row each, with their region count."""
        return self.joined(spark).groupBy("doc_id", "lat", "lon", "cell_id").count()

    def job(self, spark, out: str, parts: dict | None = None) -> None:
        from s2_geometry_library_php_spark.operators import tile_aggregate, tile_rollup

        tiles = tile_aggregate(self.per_doc(spark), TILE_LEVEL)
        tile_rollup(tiles, TILE_LEVEL, list(ROLLUP_LEVELS)).write.parquet(out)

    def expected(self):
        self._tiles = oracle.tile_rows(self.lat, self.lon, self.regions, TILE_LEVEL,
                                       ROLLUP_LEVELS)
        return (self._tiles,)

    def written(self, out: str):
        return (_read_rows(out, ["level", "tile_id", "doc_count"]),)

    def prefixes(self, spark):
        return [
            *super().prefixes(spark),
            ("candidates", lambda: self.candidates(spark)),
            ("join", lambda: self.joined(spark)),
        ]

    def layer_counts(self, spark) -> dict[str, float]:
        """Row counts of the join's filter/refine funnel."""
        from pyspark.sql import functions as F

        from s2_geometry_library_php_spark.operators.spatial_join import (
            bbox_prefilter_expr,
        )

        passed = self.read(spark).where(bbox_prefilter_expr(self.regions, "lat", "lon")).count()
        cand = self.candidates(spark).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_interior").cast("long")).alias("interior"),
        ).first()
        n_cand, interior = cand["n"], cand["interior"] or 0
        boundary = n_cand - interior
        out_rows = self.joined(spark).count()
        return {
            "spatial_join.prefilter_pass_frac": passed / self.n_points(),
            "spatial_join.candidate_rows": float(n_cand),
            "spatial_join.interior_frac": interior / n_cand if n_cand else 0.0,
            # Share of boundary candidates the exact refine keeps.
            "spatial_join.refine_pass_frac": (
                (out_rows - interior) / boundary if boundary else 0.0),
            "tiling.tiles_written": float(len(self._tiles)),
        }


class Neighbors(Workload):
    """scan -> encode -> kNN of seeded probes (multi-round ring join)
    written; then the self radius join (shuffled ring equi-join) of
    the same points written.  No coverings, no refine."""

    name = "neighbors"

    def generate(self):
        rng = np.random.default_rng([self.seed, 1])
        self.lat, self.lon = mixed_points(rng, NEIGHBORS_POINTS)
        _write_points(self.points_path, self.lat, self.lon)
        self.probe_lat, self.probe_lon = mixed_points(
            np.random.default_rng([self.seed, 3]), KNN_PROBES
        )

    def probes(self, spark):
        return spark.createDataFrame(
            [(i, float(a), float(b))
             for i, (a, b) in enumerate(zip(self.probe_lat, self.probe_lon))],
            "probe_id long, lat double, lon double",
        )

    def job(self, spark, out: str, parts: dict | None = None) -> None:
        """kNN then radius pairs; ``parts`` receives each one's seconds."""
        from s2_geometry_library_php_spark.operators import knn_join, self_radius_pairs

        t0 = time.perf_counter()
        knn_join(spark, self.probes(spark), self.encoded(spark), KNN_K).select(
            "probe_id", "rank", "doc_id").write.parquet(os.path.join(out, "knn"))
        t1 = time.perf_counter()
        self_radius_pairs(self.read(spark), PAIR_RADIUS_RAD).select(
            "id_a", "id_b").write.parquet(os.path.join(out, "pairs"))
        if parts is not None:
            parts["knn.knn_s"] = t1 - t0
            parts["radius_join.pairs_s"] = time.perf_counter() - t1

    def expected(self):
        self._knn = oracle.knn_rows(self.lat, self.lon, self.probe_lat, self.probe_lon, KNN_K)
        self._pairs = oracle.radius_pair_rows(self.lat, self.lon, PAIR_RADIUS_RAD)
        return self._knn, self._pairs

    def written(self, out: str):
        return (
            _read_rows(os.path.join(out, "knn"), ["probe_id", "rank", "doc_id"]),
            _read_rows(os.path.join(out, "pairs"), ["id_a", "id_b"]),
        )

    def layer_counts(self, spark) -> dict[str, float]:
        return {
            "knn.rows": float(len(self._knn)),
            "radius_join.pairs": float(len(self._pairs)),
        }


WORKLOADS = {w.name: w for w in (Flagship, Neighbors)}
