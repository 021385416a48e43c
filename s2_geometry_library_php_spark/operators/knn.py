"""kNN via cell-neighbor ring expansion + window top-k (SURVEY.md §2.7).

The reference has no kNN operator; this composes its primitives the
way its edge index composes candidates: seed at the probe's level-L
cell, widen with the 8-neighborhood ring (the ``getAllNeighbors`` the
port references but never defines, S2CellUnion.php:383), then exact
re-rank with the stable ``angle()`` distance (S2Point.php:110-112).

Correctness guarantee: a probe's candidate ring (3x3 cells at level
L) contains every point within MIN_WIDTH(L) of the probe — one full
cell of padding beyond the probe's own cell.  If the k-th best
candidate distance < MIN_WIDTH(L) the result is provably exact;
probes that fail the guarantee (or have < k candidates) are retried
at a coarser level, driver-side loop (mirrors the reference's
adaptive brute-force-vs-index switch, S2EdgeIndex.php:162-204).

Python crossings: the probe side never reaches a Python worker.  The
probes are collected once and encoded, parented and ring-expanded on
the driver with the numpy kernels.  A round evaluates one Arrow UDF,
the ring kernel (:func:`ring_topk`), once per doc row: with the
round's ring cells, probe unit vectors and ``k`` in its closure it
looks each doc's level-L cell up among the ring cells with the
covering joins' lookup (``cellid.covering_pairs``; a doc with a null
or non-finite coordinate has no cell), and keeps per probe only the
pairs within a slack of the batch's k-th smallest numpy distance.
The survivors join the round's probe table (a broadcast local
relation), and the JVM computes the exact distance and the window
top-k on them alone (:func:`_window_topk`, shared with
:func:`knn_brute_force`).  The driver decides satisfied / failed /
retry level from one collected per-probe stats frame.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..functions.udfs import latlng_angle_cols
from ..plans.session import local_relation
from ..s2core import arrow_io as aio
from ..s2core import cellid as cid
from ..s2core import geom
from ..s2core.metric import MIN_WIDTH
from ..s2core.probe import finite_leaves

#: ring rounds before the brute-force fallback takes the stragglers
MAX_ROUNDS = 3
#: levels auto_start_level backs off from the uniform-density level
_START_LEVEL_MARGIN = 3
#: input partitions _estimate_count samples before extrapolating
_ESTIMATE_PARTITIONS = 8


def knn_brute_force(
    probes: DataFrame,
    docs: DataFrame,
    k: int,
    probe_id: str = "probe_id",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Exact baseline: broadcast probes x docs, window top-k.
    O(P x N) — the oracle for tests and fine for small P."""
    p = probes.select(
        F.col(probe_id),
        F.col("lat").alias("_plat"),
        F.col("lon").alias("_plon"),
    )
    return _window_topk(docs.crossJoin(F.broadcast(p)), k, probe_id, doc_id)


def _window_topk(cand: DataFrame, k: int, probe_id: str, doc_id: str) -> DataFrame:
    """The JVM tail of every kNN plan: the exact ``latlng_angle_cols``
    distance of each candidate, then the window top-k by distance and
    doc id.  A pair without a distance (a null or non-finite coordinate)
    ranks after all others (nulls last, NaN above all numbers) and is
    dropped after the window: a filter below it would be pushed into
    the join condition and evaluate the distance twice more per pair."""
    dist = latlng_angle_cols(
        F.col("_plat"), F.col("_plon"), F.col("lat"), F.col("lon")
    ).alias("dist_rad")
    w = Window.partitionBy(probe_id).orderBy(
        F.col("dist_rad").asc_nulls_last(), F.col(doc_id).asc()
    )
    return (
        cand.select(probe_id, doc_id, dist)
        .withColumn("rank", F.row_number().over(w))
        .where(
            (F.col("rank") <= k)
            & F.col("dist_rad").isNotNull()
            & ~F.isnan("dist_rad")
        )
    )


def auto_start_level(n_docs: int, k: int) -> int:
    """Pick L so the exactness guarantee is expected to hold on the
    first round: the k-th neighbor distance under a uniform density
    (~2*sqrt(k/n) rad) must be below MIN_WIDTH(L) = sqrt(2)/3 *
    2^(1-L), then back off ``_START_LEVEL_MARGIN`` levels.

    The margin is the skew allowance: real geo corpora have
    orders-of-magnitude density variation (oceans vs cities), so the
    uniform-density level leaves sparse-area probes unsatisfied and
    forces extra adaptive rounds — and each ROUND costs a fixed
    scheduling + doc-probe pass, while each coarser level only grows
    the candidate re-rank (one whole-stage-codegen pass) 16x from a
    tiny base.  Measured on the benchmark corpus (500k docs, 100
    uniform probes): margin 3 turns three rounds into ~one and runs
    2-3x faster end-to-end than margin 1."""
    import math

    if n_docs <= 0 or k <= 0:
        return 0
    expected_kth = 2.0 * math.sqrt(k / n_docs)
    level = int(1 + math.log2((math.sqrt(2) / 3) / expected_kth))
    return max(0, min(18, level - _START_LEVEL_MARGIN))


def _estimate_count(docs: DataFrame) -> int:
    """Approximate row count from a bounded number of partitions —
    O(sample) work instead of a full scan, good to the factor-of-2
    accuracy auto_start_level needs.  Runs one small job over at most
    ``_ESTIMATE_PARTITIONS`` input partitions and extrapolates linearly.
    The constant projection lets Catalyst prune every real column
    (including any UDF-computed ones) before rows cross to Python."""
    rdd = docs.select(F.lit(1).alias("_one")).rdd
    n_parts = rdd.getNumPartitions()
    if n_parts <= _ESTIMATE_PARTITIONS:
        return docs.count()
    sampled = rdd.context.runJob(
        rdd,
        lambda it: [sum(1 for _ in it)],
        partitions=list(range(_ESTIMATE_PARTITIONS)),
    )
    per_part = sum(sampled) / max(len(sampled), 1)
    return max(1, int(per_part * n_parts))


# Bound on |numpy angle - JVM angle| for one (probe, doc) pair
# (``geom.angle_xyz`` against ``latlng_angle_cols``): both
# sides compute atan2(|u x v|, u.v) in the same operation order over
# unit vectors whose components carry a few ulps of sin/cos error, so
# they differ by a few ulps of the angle (measured: at most 4.4e-16 rad
# over 200k random, near, identical and antipodal pairs; 14% differ at
# all).  The ring kernel keeps pairs within RANK_SLACK >= 2 x ANGLE_ERROR
# of its k-th numpy angle, so a pair it drops has k docs strictly closer
# in the JVM metric too.
ANGLE_ERROR = 1e-13
RANK_SLACK = 2 * ANGLE_ERROR
# Pairs per kernel chunk: bounds the worker's pair arrays (about twenty
# arrays of this length) whatever the batch size and ring fan-out.  On
# the benchmark's round (50k docs, 200 probes, level 2) 4k pairs ran 3%
# slower than the fastest size, 8k, at half its peak RSS (0.8 MB).
CHUNK_PAIRS = 1 << 12


class ProbeRing(NamedTuple):
    """One round's probes and their distinct 3x3 rings at one level.
    ``probes`` is the (probe_id, _plat, _plon, _pidx) local relation the
    survivors join; the kernel holds the rest: the ring cells (uint64,
    sorted), each cell's probe index (``owner``) and the probes' unit
    vectors (three contiguous arrays)."""

    probes: DataFrame
    cells: np.ndarray
    owner: np.ndarray
    xyz: tuple[np.ndarray, np.ndarray, np.ndarray]


def probe_rings(
    spark: SparkSession,
    probes: pa.Table,
    leaf: np.ndarray,
    level: int,
    id_field: StructField,
) -> ProbeRing:
    """The round's :class:`ProbeRing`, built on the driver: ``probes``
    holds the (probe_id, _plat, _plon) columns and ``leaf`` their leaf
    cell ids (uint64).  No Spark job and no Python worker."""
    values, offsets = cid.distinct_rings(cid.parent(leaf, level), True)
    owner = np.repeat(np.arange(len(leaf), dtype=np.int32), np.diff(offsets))
    cells = cid.from_signed(values)
    order = np.argsort(cells, kind="stable")
    table = probes.append_column(
        "_pidx", pa.array(np.arange(len(leaf), dtype=np.int32))
    )
    xyz = geom.latlng_to_xyz(
        np.radians(probes.column("_plat").to_numpy(zero_copy_only=False)),
        np.radians(probes.column("_plon").to_numpy(zero_copy_only=False)),
    )
    return ProbeRing(
        _local_relation(spark, table, id_field),
        cells[order],
        owner[order],
        tuple(np.ascontiguousarray(xyz.T)),
    )


def _local_relation(
    spark: SparkSession, table: pa.Table, id_field: StructField
) -> DataFrame:
    """A driver-built probe table (probe id first, then coordinates and
    probe indices) as a local relation (``plans.local_relation``).  The
    probe id keeps the caller's Spark type."""
    spark_type = {pa.float64(): DoubleType(), pa.int32(): IntegerType()}
    fields = [StructField(id_field.name, id_field.dataType)] + [
        StructField(f.name, spark_type[f.type]) for f in list(table.schema)[1:]
    ]
    return local_relation(spark, table, StructType(fields))


def ring_topk(ring: ProbeRing, k: int, level: int, chunk_pairs: int):
    """The docs side of a ring round: ``kernel(lat, lon)`` (degree
    arrays) -> (offsets, probe indices), the probes each doc is kept
    for as a flattened list column (doc ``i``'s are
    ``values[offsets[i]:offsets[i + 1]]``, in ring-cell order).

    Per batch: encode the docs (``s2core.probe.finite_leaves``: a doc
    with a non-finite or null coordinate has no cell and no pair) and
    count each doc's ring cells equal to its level-L cell (one per probe
    whose ring holds it).  Then, docs in chunks of about
    ``chunk_pairs`` pairs, expand the pairs (``cellid.covering_pairs``)
    and compute a numpy angle per (doc, probe) pair: each chunk's k
    smallest angles per probe merge into the batch's running k
    smallest, and the chunk keeps the pairs within RANK_SLACK of the
    running k-th; at the end of the batch the kept pairs are cut to its
    final k-th.  A dropped pair has k docs strictly closer in the JVM
    metric, so the kept set holds each probe's exact top k of the batch,
    and the union over batches the global top k."""
    # The kernel calls only numpy and s2core, which every worker imports
    # already: a helper from this module would make each worker import
    # the whole operators package (~1.7 MB of RSS per worker).
    cells, owner = ring.cells, ring.owner
    px, py, pz = ring.xyz
    n_probes = len(px)

    def kernel(lat: np.ndarray, lon: np.ndarray):
        n = len(lat)
        if k <= 0:  # the window keeps no rank
            return np.zeros(n + 1, np.int64), owner[:0]
        leaf, finite = finite_leaves(lat, lon)
        with np.errstate(invalid="ignore"):  # unpaired non-finite docs
            xyz = geom.latlng_to_xyz(np.radians(lat), np.radians(lon))
        dx, dy, dz = np.ascontiguousarray(xyz.T)
        # Doc-aligned chunk cuts from each doc's pair count.
        key = cid.parent(leaf, level)
        count = np.searchsorted(cells, key, "right") - np.searchsorted(cells, key)
        count *= finite
        cuts = np.searchsorted(
            np.cumsum(count), np.arange(chunk_pairs, count.sum(), chunk_pairs), "right"
        )
        # Each probe's k smallest angles in the batch so far.
        best = np.full((n_probes, k), np.inf)
        kept = []
        for a, b in zip(np.r_[0, cuts], np.r_[cuts, n]):
            pt, idx = cid.covering_pairs(cells, leaf[a:b], (level,), finite[a:b])
            pt, j = pt + a, owner[idx]
            d = geom.angle_xyz((px[j], py[j], pz[j]), (dx[pt], dy[pt], dz[pt]))
            # A pair beyond the running k-th can neither enter ``best``
            # nor be kept: drop it before the sort.
            near = d <= best[j, k - 1] + RANK_SLACK
            pt, j, d = pt[near], j[near], d[near]
            # Merge the chunk's k smallest per probe into ``best``.
            by = np.lexsort((d, j))
            js = j[by]
            rank = np.arange(len(js)) - np.searchsorted(js, js)
            top = rank < k
            rows = np.unique(js[top])
            merged = np.full((len(rows), 2 * k), np.inf)
            merged[:, :k] = best[rows]
            merged[np.searchsorted(rows, js[top]), k + rank[top]] = d[by][top]
            merged.sort(axis=1)
            best[rows] = merged[:, :k]
            keep = d <= best[j, k - 1] + RANK_SLACK
            kept.append((pt[keep], j[keep], d[keep]))
        # The chunks kept against the k-th smallest so far; cut to the
        # batch's k-th smallest.
        doc, probe, d = (np.concatenate(x) for x in zip(*kept))
        keep = d <= best[probe, k - 1] + RANK_SLACK
        doc, probe = doc[keep], probe[keep]
        return np.searchsorted(doc, np.arange(n + 1)), probe

    return kernel


def _ring_topk_udf(ring: ProbeRing, k: int, level: int):
    """:func:`ring_topk` as an Arrow UDF with the ring in its closure:
    shipped once per executor, no ring table and no join."""
    kernel = ring_topk(ring, k, level, CHUNK_PAIRS)

    @F.arrow_udf(ArrayType(IntegerType()))
    def ring_topk_udf(lat: pa.Array, lon: pa.Array) -> pa.Array:
        offsets, probes = kernel(aio.float64_values(lat), aio.float64_values(lon))
        return aio.list_array(offsets, aio.array(probes))

    return ring_topk_udf


def ring_round_topk(
    ring: ProbeRing,
    docs: DataFrame,
    k: int,
    level: int,
    probe_id: str = "probe_id",
    doc_id: str = "doc_id",
) -> DataFrame:
    """One ring-expansion round: the docs' level-L cells against the
    probes' 3x3 rings at ``level`` (``ring``, see probe_rings), with a
    batch-local numpy top-k in the same Arrow crossing
    (:func:`ring_topk`); the surviving (doc, probe) pairs join the
    broadcast probe table, and the JVM re-ranks them with the exact
    distance and keeps the window top-k.  ``docs`` needs only
    (doc_id, lat, lon)."""
    kept = _ring_topk_udf(ring, k, level)
    # explode_outer + an explicit not-null filter, not an inner explode:
    # for an inner explode the optimizer infers size(_kept) > 0 and
    # pushes it below the projection, evaluating the UDF a second time
    # in its own ArrowEvalPython node.
    cand = (
        docs.select(doc_id, "lat", "lon")
        .withColumn("_kept", kept(F.col("lat"), F.col("lon")))
        .withColumn("_pidx", F.explode_outer("_kept"))
        .where(F.col("_pidx").isNotNull())
        .join(F.broadcast(ring.probes), "_pidx")
    )
    return _window_topk(cand, k, probe_id, doc_id)


def knn_join(
    spark: SparkSession,
    probes: DataFrame,
    docs: DataFrame,
    k: int,
    start_level: int | None = None,
    probe_id: str = "probe_id",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Scalable kNN: match the docs' level-L cells against each probe's
    3x3 ring, exact re-rank, provable-exactness check, coarser retry for
    unsatisfied probes, brute-force for stragglers (the reference's
    adaptive brute-vs-index spirit, S2EdgeIndex.php:162-204).

    ``docs`` needs (doc_id, lat, lon); probes need (probe_id, lat, lon).
    The probes are the SMALL side by contract: they are collected once,
    encoded and ring-expanded on the driver with the numpy kernels, and
    each round ships its rings in the docs-side kernel's closure and its
    probe table as a broadcast local relation, so the probe side costs
    no Python worker at all.  The big ``docs`` side is only ever
    scanned, never shuffled; only each batch's top-k survivors reach the
    JVM window.  Each round runs one pinned top-k job and one collect of
    its per-probe stats.
    """
    if start_level is None:
        # auto_start_level only needs the ORDER OF MAGNITUDE of the
        # corpus size (it feeds a log2), so a bounded sample of
        # partitions serves rather than a full-corpus count(); pass
        # start_level to skip the estimate's driver action.
        start_level = auto_start_level(_estimate_count(docs), k)

    id_field = probes.schema[probe_id]
    todo = probes.select(
        probe_id,
        F.col("lat").cast("double").alias("_plat"),
        F.col("lon").cast("double").alias("_plon"),
    ).toArrow()
    leaf = cid.cell_id_from_latlng_degrees(
        todo.column("_plat").to_numpy(zero_copy_only=False),
        todo.column("_plon").to_numpy(zero_copy_only=False),
    )
    results: list[DataFrame] = []
    by_probe = Window.partitionBy(probe_id)
    level = start_level
    for rnd in range(MAX_ROUNDS):
        if level < 0 or (rnd > 0 and todo.num_rows == 0):
            break
        # Exactness: k candidates found AND kth distance < MIN_WIDTH(L),
        # judged per probe over its top-k rows.  Each round's top-k is
        # probe-sized (<= P x k rows) and read twice (the stats collect
        # below and the final union), so it is materialized EAGERLY with
        # a lineage cut (localCheckpoint): a lazy frame would rerun the
        # docs-side kernel and join for each reader.  Keep the next
        # round's rings a fresh local relation, never derived from this
        # frame: a round's plan nested inside the next round's broadcast
        # build runs pathologically (a measured 6-25x wall blow-up).
        guarantee = float(MIN_WIDTH.get_value(level))
        ring = probe_rings(spark, todo, leaf, level, id_field)
        topk = (
            ring_round_topk(ring, docs, k, level, probe_id=probe_id, doc_id=doc_id)
            .withColumn("_n", F.count(F.lit(1)).over(by_probe))
            .withColumn("_kth", F.max("dist_rad").over(by_probe))
            .withColumn(
                "_ok", (F.col("_n") >= k) & (F.col("_kth") < F.lit(guarantee))
            )
            .localCheckpoint(eager=True)
        )
        results.append(
            topk.where("_ok").select(probe_id, doc_id, "dist_rad", "rank")
        )
        # One stats row per probe that found any candidate.
        stats = topk.where(F.col("rank") == 1).select(
            probe_id, "_n", "_kth", "_ok"
        ).toArrow()
        ok = pc.fill_null(stats.column("_ok"), False).to_numpy()
        done = pc.is_in(
            todo.column(probe_id),
            value_set=stats.column(probe_id).filter(ok).combine_chunks(),
        ).to_numpy()
        todo, leaf = todo.filter(~done), leaf[~done]
        # Data-driven retry level: a failed probe's MEASURED k-th
        # candidate distance upper-bounds its true k-th distance (the
        # candidates are a subset of the corpus), so the coarsest level
        # whose MIN_WIDTH covers the worst failed probe provably
        # satisfies every failed probe that found >= k candidates on
        # the NEXT round — one retry instead of blind 2-level drops
        # that overshoot into quarter-sphere rings (a measured 7x wall
        # cost on the benchmark corpus).  Probes with < k candidates
        # carry no bound and keep the 2-level drop.
        failed = ~ok
        kth = stats.column("_kth").to_numpy(zero_copy_only=False)[failed]
        n_cand = stats.column("_n").to_numpy(zero_copy_only=False)[failed]
        if failed.any() and not np.isnan(kth).all() and n_cand.min() >= k:
            level = min(
                level - 1, MIN_WIDTH.get_max_level(1.05 * float(np.nanmax(kth)))
            )
        else:
            level -= 2  # no distance bound available: 16x coarser cells
    if todo.num_rows:
        # Final fallback: brute force for the stragglers.
        stragglers = _local_relation(
            spark, todo.rename_columns([probe_id, "lat", "lon"]), id_field
        )
        results.append(
            knn_brute_force(
                stragglers, docs, k, probe_id=probe_id, doc_id=doc_id
            )
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out
