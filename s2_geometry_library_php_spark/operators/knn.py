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
the driver with the numpy kernels; each round's rings ship as a
broadcast local relation.  A round evaluates one pandas UDF, the
caller's docs encode, once per doc row (the docs-side join key is
non-nullable, see ``join_key``), and the driver decides satisfied /
failed / retry level from one collected per-probe stats frame.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.sql_bitops import s2_parent
from ..functions.udfs import distinct_rings, latlng_angle_cols
from ..plans.session import local_relation
from ..s2core import cellid as cid
from ..s2core.metric import MIN_WIDTH


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
    joined = docs.crossJoin(F.broadcast(p))
    dist = latlng_angle_cols(
        F.col("_plat"), F.col("_plon"), F.col("lat"), F.col("lon")
    ).alias("dist_rad")
    w = Window.partitionBy(probe_id).orderBy(
        F.col("dist_rad").asc(), F.col(doc_id).asc()
    )
    return (
        joined.select(probe_id, doc_id, dist)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def auto_start_level(n_docs: int, k: int, margin: int = 3) -> int:
    """Pick L so the exactness guarantee is expected to hold on the
    first round: the k-th neighbor distance under a uniform density
    (~2*sqrt(k/n) rad) must be below MIN_WIDTH(L) = sqrt(2)/3 *
    2^(1-L), then back off ``margin`` levels.

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
    level = int(1 + math.log2((math.sqrt(2) / 3) / expected_kth)) - margin
    return max(0, min(18, level))


def _estimate_count(docs: DataFrame, max_partitions: int = 8) -> int:
    """Approximate row count from a bounded number of partitions —
    O(sample) work instead of a full scan, good to the factor-of-2
    accuracy auto_start_level needs.  Runs one small job over at most
    ``max_partitions`` input partitions and extrapolates linearly.
    The constant projection lets Catalyst prune every real column
    (including any UDF-computed ones) before rows cross to Python."""
    rdd = docs.select(F.lit(1).alias("_one")).rdd
    n_parts = rdd.getNumPartitions()
    if n_parts <= max_partitions:
        return docs.count()
    sampled = rdd.context.runJob(
        rdd,
        lambda it: [sum(1 for _ in it)],
        partitions=list(range(max_partitions)),
    )
    per_part = sum(sampled) / max(len(sampled), 1)
    return max(1, int(per_part * n_parts))


def join_key(col):
    """An engine-built cell equi-join key, made non-nullable.  A
    nullable key makes the optimizer infer ``isnotnull(key)`` for the
    join and push it below the projection that computes the key; when
    that projection evaluates a pandas UDF (the leaf encode), the pushed
    filter evaluates the UDF a second time in its own ArrowEvalPython
    node.  A non-nullable key carries the constraint already, so no
    filter is inferred.  The answer is unchanged: the encode never
    returns null, and a null caller cell id becomes 0, which is no
    valid cell id and so matches no ring cell, as a null key would."""
    return F.coalesce(col, F.lit(0).cast("long"))


def probe_ring_frame(
    spark: SparkSession,
    probes: pa.Table,
    leaf: np.ndarray,
    level: int,
    id_field: StructField,
) -> DataFrame:
    """Each probe's distinct 3x3 ring at ``level`` (its own cell
    included) as a local relation of (probe_id, _plat, _plon,
    _cand_cell) rows, built on the driver: ``probes`` holds the
    (probe_id, _plat, _plon) columns and ``leaf`` their leaf cell ids
    (uint64).  No Spark job and no Python worker."""
    values, offsets = distinct_rings(cid.parent(leaf, level), True)
    rows = np.repeat(np.arange(len(leaf)), np.diff(offsets))
    table = probes.take(pa.array(rows)).append_column(
        "_cand_cell", pa.array(values)
    )
    return _local_relation(spark, table, id_field)


def _local_relation(
    spark: SparkSession, table: pa.Table, id_field: StructField
) -> DataFrame:
    """A driver-built probe table (probe id first, then coordinates and
    cell ids) as a local relation (``plans.local_relation``).  The
    probe id keeps the caller's Spark type."""
    spark_type = {pa.float64(): DoubleType(), pa.int64(): LongType()}
    fields = [StructField(id_field.name, id_field.dataType)] + [
        StructField(f.name, spark_type[f.type]) for f in list(table.schema)[1:]
    ]
    return local_relation(spark, table, StructType(fields))


def ring_round_topk(
    ring: DataFrame,
    docs: DataFrame,
    k: int,
    level: int,
    probe_id: str = "probe_id",
    doc_id: str = "doc_id",
    leaf_col: str = "cell_id",
) -> DataFrame:
    """One ring-expansion round: the probes' 3x3 cell neighborhoods at
    ``level`` (``ring``: one (probe_id, _plat, _plon, _cand_cell) row
    per probe and ring cell, see probe_ring_frame) equi-joined
    (broadcast, no doc shuffle) against the docs' level-L prefix,
    exact re-rank, window top-k."""
    cand = F.broadcast(ring).join(
        docs.withColumn(
            "_dcell", join_key(s2_parent(F.col(leaf_col), level))
        ),
        F.col("_cand_cell") == F.col("_dcell"),
        "inner",
    )
    dist = latlng_angle_cols(
        F.col("_plat"), F.col("_plon"), F.col("lat"), F.col("lon")
    ).alias("dist_rad")
    w = Window.partitionBy(probe_id).orderBy(
        F.col("dist_rad").asc(), F.col(doc_id).asc()
    )
    return (
        cand.select(probe_id, doc_id, dist)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def knn_join(
    spark: SparkSession,
    probes: DataFrame,
    docs: DataFrame,
    k: int,
    start_level: int | None = None,
    probe_id: str = "probe_id",
    doc_id: str = "doc_id",
    leaf_col: str = "cell_id",
    max_rounds: int = 3,
    n_docs_hint: int | None = None,
) -> DataFrame:
    """Scalable kNN: equi-join docs' level-L prefix against each
    probe's 3x3 ring, exact re-rank, provable-exactness check, coarser
    retry for unsatisfied probes, brute-force for stragglers (the
    reference's adaptive brute-vs-index spirit, S2EdgeIndex.php:162-204).

    ``docs`` must carry the leaf ``cell_id``; probes need (probe_id,
    lat, lon).  The probes are the SMALL side by contract: they are
    collected once, encoded and ring-expanded on the driver with the
    numpy kernels, and each round ships its rings as a broadcast local
    relation, so the probe side costs no Python worker at all.  The big
    ``docs`` side is only ever hash-probed, never shuffled.  Each round
    runs one pinned top-k job and one collect of its per-probe stats.
    """
    if start_level is None:
        # auto_start_level only needs the ORDER OF MAGNITUDE of the
        # corpus size (it feeds a log2), so any cheap estimate serves:
        # pass n_docs_hint (e.g. from table stats / a prior count) to
        # avoid any driver action; otherwise estimate from a bounded
        # sample of partitions rather than a full-corpus count().
        n = n_docs_hint if n_docs_hint is not None else _estimate_count(docs)
        start_level = auto_start_level(n, k)

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
    for rnd in range(max_rounds):
        if level < 0 or (rnd > 0 and todo.num_rows == 0):
            break
        # Exactness: k candidates found AND kth distance < MIN_WIDTH(L),
        # judged per probe over its top-k rows.  Each round's top-k is
        # probe-sized (<= P x k rows) and read twice (the stats collect
        # below and the final union), so it is materialized EAGERLY with
        # a lineage cut (localCheckpoint): a lazy frame would rerun the
        # docs-side join and encode for each reader.  Keep the next
        # round's rings a fresh local relation, never derived from this
        # frame: a round's plan nested inside the next round's broadcast
        # build runs pathologically (a measured 6-25x wall blow-up).
        guarantee = float(MIN_WIDTH.get_value(level))
        ring = probe_ring_frame(spark, todo, leaf, level, id_field)
        topk = (
            ring_round_topk(
                ring, docs, k, level,
                probe_id=probe_id, doc_id=doc_id, leaf_col=leaf_col,
            )
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
