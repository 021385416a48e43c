"""Tiling / multi-resolution rollup operators (SURVEY.md §2.8).

The Spark-native realization of the reference's cell hierarchy: tile
assignment is a pure bitwise parent expression
(S2CellId.php:330-340), so tile group-bys stay entirely inside
whole-stage codegen; partial+final aggregation comes free from
Catalyst.

Centroids add linearly (documented at S2.php:369-399): per-tile
centroid = normalize(sum of unit xyz), computed with native trig
columns — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.sql_bitops import s2_parent, s2_token_sql, sql_s2_parent, sql_s2_token

MAX_LEVEL = 30


def _sql_col(name: str) -> str:
    return ".".join(f"`{part}`" for part in name.split("."))


def _xyz_sql(lat_col: str, lon_col: str) -> list[str]:
    """Unit vectors of two degree columns (S2LatLng.php:138-143) as SQL
    text, in ``unit_vector_cols``' operation order: _x, _y, _z."""
    lat, lon = f"radians({_sql_col(lat_col)})", f"radians({_sql_col(lon_col)})"
    return [
        f"cos({lon}) * cos({lat}) AS _x",
        f"sin({lon}) * cos({lat}) AS _y",
        f"sin({lat}) AS _z",
    ]


def tile_aggregate(
    docs: DataFrame,
    level: int,
    leaf_col: str = "cell_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    distinct_col: str | None = None,
) -> DataFrame:
    """Per-tile stats at one level: count, centroid, approx distinct.

    Output: (tile_id, doc_count[, approx_distinct], centroid_lat,
    centroid_lon, tile_token).

    The plan is built from SQL text (the ``sql_s2_*`` twins), one
    ``selectExpr`` per step: a Column expression costs a py4j round
    trip per operator, the text the same few calls for any expression.
    """
    pre = [
        f"{sql_s2_parent(_sql_col(leaf_col), level)} AS tile_id",
        *_xyz_sql(lat_col, lon_col),
    ]
    aggs = ["count(1) AS doc_count", "sum(_x) AS _sx", "sum(_y) AS _sy", "sum(_z) AS _sz"]
    out = ["tile_id", "doc_count"]
    if distinct_col is not None:
        pre.append(f"{_sql_col(distinct_col)} AS _distinct")
        aggs.append("approx_count_distinct(_distinct) AS approx_distinct")
        out.append("approx_distinct")
    return (
        docs.selectExpr(*pre)
        .groupBy("tile_id")
        .agg(*(F.expr(e) for e in aggs))
        .selectExpr(
            *out,
            "degrees(atan2(_sz, hypot(_sx, _sy))) AS centroid_lat",
            "degrees(atan2(_sy, _sx)) AS centroid_lon",
            f"{sql_s2_token('tile_id')} AS tile_token",
        )
    )


def tile_rollup(
    tiles: DataFrame,
    from_level: int,
    to_levels: list[int],
    tile_col: str = "tile_id",
    count_col: str = "doc_count",
) -> DataFrame:
    """Roll a fine tiling up to coarser levels in one aggregation: each
    tile row expands to one ``(level, tile_id)`` row per output level
    (``from_level`` itself and its parent at each distinct level of
    ``to_levels`` below it; others are ignored), and one
    ``groupBy(level, tile_id)`` sums the counts.  The plan has one
    exchange for every level, with map-side partial aggregation.  The
    sums are integer counts, so rolling every level from the finest
    gives the same rows as rolling level by level.  Built from SQL
    text, as in :func:`tile_aggregate`.

    Input contract: one row per fine tile (a tile aggregate); repeated
    tile rows are summed.

    Output: (level, tile_id, doc_count, tile_token) over all levels."""
    tile = _sql_col(tile_col)
    levels = [int(from_level)] + sorted(
        {int(lvl) for lvl in to_levels if lvl < from_level}, reverse=True
    )
    parents = ", ".join(
        f"named_struct('level', {lvl}, 'tile_id', "
        f"{tile if lvl == levels[0] else sql_s2_parent(tile, lvl)})"
        for lvl in levels
    )
    return (
        tiles.selectExpr(f"inline(array({parents}))", f"{_sql_col(count_col)} AS _n")
        .groupBy("level", "tile_id")
        .agg(F.expr("sum(_n) AS doc_count"))
        .selectExpr("*", f"{sql_s2_token('tile_id')} AS tile_token")
    )


def rasterize_tiles(
    tiles: DataFrame,
    fine_level: int,
    coarse_level: int,
    tile_col: str = "tile_id",
    value_col: str = "doc_count",
) -> DataFrame:
    """Raster side of raster<->vector materialization: fine-level tile
    values gathered into ONE dense Hilbert-ordered grid per
    coarse-level parent.

    Output: ``(raster_id, raster_token, raster array<long>)`` with
    ``4^(fine-coarse)`` entries; entry ``i`` is the value of the
    parent's ``i``-th level-``fine_level`` descendant in cell-id
    (Hilbert curve) order, 0 where no input row exists.  The position
    is the fine tile's path bits below the parent prefix
    (S2CellId.php:58-78 id layout: 2 bits per level between the face
    and the trailing 1), so position extraction and the whole gather
    stay native SQL — one partial-agg groupBy on the parent, no
    Python.  ``vectorize_raster`` is the exact inverse.

    Pick ``fine - coarse <= 6`` (<= 4096 entries) so a raster row
    stays a few KB — the standard tile-server payload shape.

    Input contract: ONE row per fine tile (a tile aggregate, e.g.
    :func:`tile_aggregate` output).  Duplicate tile rows fail loudly —
    ``map_from_entries`` raises DUPLICATED_MAP_KEY under the default
    ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` — rather than silently
    picking one value; aggregate first if rows may repeat."""
    dl = int(fine_level) - int(coarse_level)
    if not (0 < dl <= 8):
        raise ValueError(
            f"need 0 < fine-coarse <= 8, got levels {fine_level}/{coarse_level}"
        )
    n = 4**dl
    shift = 2 * (MAX_LEVEL - int(fine_level)) + 1
    pos = F.shiftrightunsigned(F.col(tile_col), shift).bitwiseAND(
        F.lit(n - 1)
    )
    keyed = tiles.select(
        s2_parent(F.col(tile_col), int(coarse_level)).alias("raster_id"),
        pos.cast("int").alias("_pos"),
        F.col(value_col).cast("long").alias("_v"),
    )
    grid = F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i), F.lit(0)),
    )
    return (
        keyed.groupBy("raster_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_pos", "_v"))
            ).alias("_m")
        )
        .select(
            "raster_id",
            s2_token_sql("raster_id").alias("raster_token"),
            grid.alias("raster"),
        )
    )


def vectorize_raster(
    rasters: DataFrame,
    fine_level: int,
    coarse_level: int,
    raster_col: str = "raster_id",
    array_col: str = "raster",
) -> DataFrame:
    """Exact inverse of :func:`rasterize_tiles`: each raster entry
    back to its fine-level tile row ``(tile_id, tile_token,
    doc_count)``.  The child id is pure bit reassembly — parent prefix
    (parent id minus its lsb) + position path bits + child lsb — so
    the whole explode stays native SQL.  Zero entries (no data) are
    dropped."""
    dl = int(fine_level) - int(coarse_level)
    if not (0 < dl <= 8):
        raise ValueError(
            f"need 0 < fine-coarse <= 8, got levels {fine_level}/{coarse_level}"
        )
    shift = 2 * (MAX_LEVEL - int(fine_level)) + 1
    parent_lsb = 1 << (2 * (MAX_LEVEL - int(coarse_level)))
    child_lsb = 1 << (2 * (MAX_LEVEL - int(fine_level)))
    exploded = rasters.select(
        F.col(raster_col),
        F.posexplode(F.col(array_col)).alias("_pos", "doc_count"),
    ).where(F.col("doc_count") != 0)
    child = (
        F.col(raster_col)
        - F.lit(parent_lsb)
        + F.shiftleft(F.col("_pos").cast("long"), shift)
        + F.lit(child_lsb)
    )
    return (
        exploded.withColumn("tile_id", child)
        .withColumn("tile_token", s2_token_sql("tile_id"))
        .select("tile_id", "tile_token", "doc_count")
    )


def tile_polygons(tiles: DataFrame, tile_col: str = "tile_id") -> DataFrame:
    """Vector side of raster<->vector materialization: tile -> corner
    polygon [lat0,lng0,...lat3,lng3] + center (S2Cell.php:126-138,
    S2CellId.php:123-159)."""
    from ..functions.udfs import (
        s2_cell_center_lat,
        s2_cell_center_lng,
        s2_cell_vertices_udf,
    )

    return (
        tiles.withColumn("tile_token", s2_token_sql(tile_col))
        .withColumn("vertices", s2_cell_vertices_udf(F.col(tile_col)))
        .withColumn("center_lat", s2_cell_center_lat(F.col(tile_col)))
        .withColumn("center_lon", s2_cell_center_lng(F.col(tile_col)))
    )


def plan_salt_buckets(
    docs: DataFrame,
    level: int,
    leaf_col: str = "cell_id",
    rows_per_bucket: int = 1_000_000,
    sample_fraction: float = 0.01,
    seed: int = 7,
) -> dict[int, int]:
    """Sample the level-L tile histogram and derive per-prefix salt
    bucket counts for hot tiles (SURVEY.md §4.2: salting decisions come
    from measured skew, not assumptions).

    Returns {prefix_cell_id: n_buckets} only for prefixes whose
    estimated row count exceeds ``rows_per_bucket`` — everything else
    keeps one bucket and costs nothing."""
    import math

    sampled = (
        docs.sample(fraction=sample_fraction, seed=seed)
        .groupBy(s2_parent(F.col(leaf_col), level).alias("_prefix"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    scale = 1.0 / sample_fraction
    out: dict[int, int] = {}
    for r in sampled:
        est = r._n * scale
        if est > rows_per_bucket:
            out[int(r._prefix)] = int(math.ceil(est / rows_per_bucket))
    return out


def salt_columns(
    salt_plan: dict[int, int], level: int, leaf_col: str = "cell_id"
):
    """(prefix, salt) column pair implementing a salt plan from
    :func:`plan_salt_buckets`.  The single definition both the
    repartition and any balance/diagnostic measurement must share —
    two inlined copies would silently drift apart."""
    prefix = s2_parent(F.col(leaf_col), level)
    if salt_plan:
        buckets = F.coalesce(
            F.create_map(
                *[F.lit(x) for kv in salt_plan.items() for x in kv]
            )[prefix],
            F.lit(1),
        )
    else:
        buckets = F.lit(1)
    salt = (F.pmod(F.xxhash64(F.col(leaf_col)), buckets)).cast("int")
    return prefix, salt


def salted_repartition_planned(
    docs: DataFrame,
    level: int,
    salt_plan: dict[int, int],
    leaf_col: str = "cell_id",
) -> DataFrame:
    """Skew-defusing repartition with per-prefix salt counts from
    :func:`plan_salt_buckets`: hot prefixes spread over their measured
    bucket count, cold prefixes stay single-bucket (no extra shuffle
    width wasted on the long tail)."""
    prefix, salt = salt_columns(salt_plan, level, leaf_col)
    return docs.repartition(prefix, salt)


def plan_adaptive_tiling(
    docs: DataFrame,
    target_rows_per_tile: int,
    min_level: int = 4,
    max_level: int = 10,
    leaf_col: str = "cell_id",
) -> DataFrame:
    """Density-adaptive quadtree tiling: choose, per area, the COARSEST
    level in [min_level, max_level] whose tile holds at most
    ``target_rows_per_tile`` rows.  Dense areas (hot cities) descend to
    fine tiles; sparse ocean stays coarse — the data-layout answer to
    the same hot-tile skew the salting machinery defuses at shuffle
    time (north rule: explicit skew handling on cell-ID prefixes).

    Selection rule (applied level by level on the rolled-up histogram,
    never on the raw docs): a level-L tile is kept iff

    * its own count <= target (or L == max_level: the hot floor —
      a tile still over target at the finest level is kept anyway and
      handed to :func:`salted_repartition_planned` downstream), AND
    * L == min_level, or its parent's count > target (otherwise the
      parent was already kept and this tile is interior).

    Counts are monotone non-increasing with level along an ancestor
    chain, so every occupied leaf has EXACTLY one kept ancestor: the
    output is a disjoint covering of the occupied space — the same
    invariant S2CellUnion.normalize maintains (S2CellUnion.php:619-643),
    derived from data density instead of geometry.

    Scale shape: ONE shuffle of the docs (the level-``max_level``
    histogram groupBy, with map-side partial aggregation); every
    coarser level comes from one expand-and-aggregate of that tiny
    histogram (:func:`tile_rollup`), and the keep rule is one window
    over its output: a tile's parent count is the sum of the counts of
    the parent's occupied children, its siblings.  No checkpoint, no
    per-level join.  At 10^12 rows the level-10 histogram is at most a
    few million rows — driver never sees it.

    ``target_rows_per_tile`` is a planning scalar: at bench scale we
    pass an exact count; a 100-TB job reads the table row count from
    catalog metadata (free in Iceberg/Delta snapshots) or estimates it
    from a sample exactly like :func:`plan_salt_buckets`.

    Returns (level:int, tile_id:long, doc_count:long).
    """
    if not min_level <= max_level:
        raise ValueError("min_level must be <= max_level")
    t = int(target_rows_per_tile)
    fine = docs.groupBy(s2_parent(F.col(leaf_col), max_level).alias("tile_id")).agg(
        F.count(F.lit(1)).alias("doc_count")
    )
    # The parent cell at level - 1: 2 * (30 - (level - 1)) trailing bits.
    lsb = "shiftleft(1L, 62 - 2 * level)"
    siblings = f"PARTITION BY level, (tile_id & -{lsb}) | {lsb}"
    return (
        tile_rollup(fine, max_level, range(min_level, max_level))
        .selectExpr(
            "level", "tile_id", "doc_count",
            f"sum(doc_count) OVER ({siblings}) AS _parent_count",
        )
        .where(
            f"(level = {max_level} OR doc_count <= {t}) "
            f"AND (level = {min_level} OR _parent_count > {t})"
        )
        .select("level", "tile_id", "doc_count")
    )


def assign_adaptive_tiles(
    docs: DataFrame,
    tiles: DataFrame,
    min_level: int = 4,
    max_level: int = 10,
    leaf_col: str = "cell_id",
) -> DataFrame:
    """Assign each doc to its (unique) adaptive tile from
    :func:`plan_adaptive_tiling` without shuffling the docs: one
    broadcast LEFT hash join per level present in the tiling — the
    doc side's join key is the pure bitwise parent expression, so the
    whole chain stays inside whole-stage codegen and the 100-TB frame
    never moves.  (A single join after exploding each doc to all its
    ancestors would amplify the big side K-fold before the join —
    strictly worse.)

    Adds ``tile_id`` and ``tile_level`` columns."""
    tiles = tiles.localCheckpoint(eager=False)
    out = docs
    id_cols = []
    lvl_cols = []
    for lvl in range(min_level, max_level + 1):
        side = tiles.where(F.col("level") == lvl).select(
            F.col("tile_id").alias(f"_at{lvl}")
        )
        out = out.join(
            F.broadcast(side),
            s2_parent(F.col(leaf_col), lvl) == F.col(f"_at{lvl}"),
            "left",
        )
        id_cols.append(F.col(f"_at{lvl}"))
        lvl_cols.append(
            F.when(F.col(f"_at{lvl}").isNotNull(), F.lit(lvl))
        )
    out = (
        out.withColumn("tile_id", F.coalesce(*id_cols))
        .withColumn("tile_level", F.coalesce(*lvl_cols))
        .drop(*[f"_at{lvl}" for lvl in range(min_level, max_level + 1)])
    )
    return out


def write_adaptive_partitioned(
    df: DataFrame,
    path: str,
    tiles: DataFrame,
    min_level: int = 4,
    max_level: int = 10,
    leaf_col: str = "cell_id",
) -> None:
    """Persist a corpus partitioned by its ADAPTIVE tile token (from
    :func:`plan_adaptive_tiling`): unlike the fixed-level layout of
    :func:`write_tile_partitioned`, every partition directory holds at
    most ~target rows by construction, so file sizes stay bounded under
    arbitrary density skew — the property an Iceberg-style table needs
    to keep compaction and scan planning sane at 10^12 rows.  Rows are
    Hilbert-clustered inside partitions for min/max file pruning."""
    out = (
        assign_adaptive_tiles(df, tiles, min_level, max_level, leaf_col)
        .withColumn("tile_pfx", s2_token_sql("tile_id"))
        .drop("tile_id", "tile_level")
    )
    hilbert_sorted_writer(out, leaf_col).write.partitionBy(
        "tile_pfx"
    ).mode("overwrite").parquet(path)


def read_adaptive_partition(
    spark,
    path: str,
    cell_id: int,
    min_level: int = 4,
    max_level: int = 10,
) -> DataFrame:
    """Read back exactly the adaptive partition holding ``cell_id``:
    the owning tile is SOME ancestor in [min_level, max_level], and
    exactly one of those tokens exists as a partition value, so an
    ``IN`` filter over the <= (max-min+1) ancestor tokens prunes to one
    directory at plan time (Catalyst PartitionFilters) — no tile-set
    lookup needed at read time."""
    import numpy as np

    from ..s2core import cellid as cid

    ids = cid.from_signed(np.asarray([cell_id], dtype=np.int64))
    toks = [
        cid.token_from_id(cid.parent(ids, lvl))[0]
        for lvl in range(min_level, max_level + 1)
    ]
    return spark.read.parquet(path).where(F.col("tile_pfx").isin(toks))


def tile_balance(assigned: DataFrame, tile_col: str = "tile_id"):
    """(max_rows, mean_rows, n_tiles) over the per-tile row histogram —
    the skew diagnostic the bench reports for fixed vs adaptive vs
    salted layouts.  One aggregation over the (small) histogram."""
    row = (
        assigned.groupBy(tile_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.max("_n").alias("mx"),
            F.avg("_n").alias("mean"),
            F.count(F.lit(1)).alias("k"),
        )
        .collect()[0]
    )
    return int(row.mx), float(row.mean), int(row.k)


def hilbert_sorted_writer(df: DataFrame, leaf_col: str = "cell_id"):
    """Write layout: GLOBAL Hilbert clustering — range-repartition on
    the unsigned cell order (each output file owns a disjoint keyspace
    slice), then sort within partitions so rows inside a file are in
    Hilbert order too.  Downstream tile queries then prune whole files
    on parquet min/max stats, not just directories (SURVEY.md §2.9).
    Returns the clustered frame ready for .write."""
    from ..functions.sql_bitops import s2_unsigned_order

    order = s2_unsigned_order(F.col(leaf_col))
    return df.repartitionByRange(order).sortWithinPartitions(order)


def write_tile_partitioned(
    df: DataFrame,
    path: str,
    partition_level: int = 4,
    leaf_col: str = "cell_id",
) -> None:
    """Persist a corpus partitioned by its level-L tile token and
    Hilbert-sorted inside each partition — the Iceberg-style layout
    where a tile-scoped query prunes to its directory at PLAN time
    (Catalyst PartitionFilters) and clusters reads within files.

    Readers filter on ``tile_pfx`` (= s2_token of the level-L parent);
    :func:`read_tile_partition` builds that filter from any cell id.

    The range-repartition on the unsigned cell order inside
    :func:`hilbert_sorted_writer` doubles as the small-files guard:
    all rows of a level-L tile are CONTIGUOUS in that order (the tile
    is a prefix of the cell id), so each tile directory receives its
    rows from one — or a few adjacent — tasks instead of one file per
    shuffle partition per tile."""
    out = df.withColumn(
        "tile_pfx", s2_token_sql(sql_s2_parent(leaf_col, partition_level))
    )
    hilbert_sorted_writer(out, leaf_col).write.partitionBy(
        "tile_pfx"
    ).mode("overwrite").parquet(path)


def read_tile_partition(
    spark, path: str, cell_id: int, partition_level: int = 4
) -> DataFrame:
    """Read back exactly the partition holding ``cell_id``'s level-L
    tile — the partition-pruned access path (the filter lands in the
    scan's PartitionFilters, so only one directory is listed/read)."""
    import numpy as np

    from ..s2core import cellid as cid

    tok = cid.token_from_id(
        cid.parent(
            cid.from_signed(np.asarray([cell_id], dtype=np.int64)),
            partition_level,
        )
    )[0]
    return spark.read.parquet(path).where(F.col("tile_pfx") == tok)


def smooth_tile_values(
    tiles: DataFrame,
    value_col: str = "doc_count",
    tile_col: str = "tile_id",
    center_weight: float = 0.5,
) -> DataFrame:
    """Discrete kernel smoothing on the S2 grid (raster analytics —
    heatmap/density smoothing over tile aggregates): each tile keeps
    ``center_weight`` of its mass and splits the remainder EQUALLY
    among its same-level all-neighbors (8 everywhere except the 24
    cube-corner cells, which have 7 — the split uses the actual
    count, so total mass is conserved EXACTLY up to float addition:
    the sphere has no raster edge to lose mass over).

    Output: ``(tile_id, smoothed)`` — every tile that holds mass
    after smoothing, including ring tiles absent from the input
    (their input mass is 0).  Iterate for wider kernels.

    Scale shape: one Arrow neighbor expansion (<=9 rows per input
    tile), one hash ``groupBy(tile)`` with map-side partial
    aggregation — the same equi-join/groupBy skeleton as every tile
    rollup; no geometry at aggregation time.
    """
    from ..functions.udfs import s2_all_neighbors_udf

    t = tiles.select(
        F.col(tile_col).alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
        s2_all_neighbors_udf(F.col(tile_col)).alias("_nb"),
    ).withColumn("_k", F.size("_nb"))
    center = t.select(
        F.col("_t").alias(tile_col),
        (F.col("_v") * F.lit(float(center_weight))).alias("_m"),
    )
    spread = t.select(
        F.explode("_nb").alias(tile_col),
        (
            F.col("_v")
            * F.lit(1.0 - float(center_weight))
            / F.col("_k")
        ).alias("_m"),
    )
    return (
        center.unionByName(spread)
        .groupBy(tile_col)
        .agg(F.sum("_m").alias("smoothed"))
    )
