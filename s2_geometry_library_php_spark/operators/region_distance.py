"""k-nearest-regions: point -> S2LatLngRect distance as NATIVE SQL.

The reference's ``S2LatLngRect::getDistance(S2LatLng)``
(S2LatLngRect.php:222-243) dispatches on whether the point's
longitude falls inside the rect's lng interval (pure latitude clamp)
or outside (point-to-meridian-edge distance on the nearer boundary
meridian, chosen by which half of the lng-interval complement holds
the point).  Every branch is closed-form trigonometry, so the whole
operator compiles to one whole-stage-codegen expression over a
``probes x broadcast(regions)`` join — no Python in the hot path, no
shuffle of the probe side.  The numpy twin (``LatLngRect.
get_distance_latlng``, the faithful port) is the independent oracle.

Plan shape at 100 TB: the regions table is dimension-sized (bounds +
two precomputed scalars per region) and broadcast; probes stream
through the join + window top-k.  For k-nearest over a LARGE region
table, the same expression works after an S2-cell prejoin (cover each
rect, ring-expand probes) — the kNN operator's candidate machinery.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.udfs import angle3, unit_vector_cols
from ..plans.session import local_relation
from ..s2core import geom

RECT_SCHEMA = (
    "region_id long, lat_lo double, lat_hi double, lng_lo double, "
    "lng_hi double, cc double"
)


def _region_bounds(region_specs: list[dict]) -> list[tuple]:
    """[(region_id, LatLngRect)] — each region's exact rect bound,
    computed ONCE driver-side (shared by the rect table and the block
    summaries, so 10^5-region sets build each region only once)."""
    from ..s2core.region import region_from_params

    out = []
    for spec in region_specs:
        reg = region_from_params(
            spec["kind"], spec["params"], spec.get("loop_offsets")
        )
        out.append((int(spec["region_id"]), reg.get_rect_bound()))
    return out


def regions_rect_df(
    spark: SparkSession, region_specs: list[dict], bounds: list | None = None
) -> DataFrame:
    """(region_id, rect bound radians, complement-center) — one row
    per region, computed once driver-side from the exact kernels."""
    rows = []
    for rid, b in bounds if bounds is not None else _region_bounds(region_specs):
        rows.append(
            (
                rid,
                float(b.lat.lo),
                float(b.lat.hi),
                float(b.lng.lo),
                float(b.lng.hi),
                float(b.lng.complement_center()),
            )
        )
    return local_relation(spark, rows, RECT_SCHEMA)


def rect_distance_col(lat_col, lon_col, prefix: str = ""):
    """Point-to-rect min distance (radians) as a pure Column over a
    frame carrying the RECT_SCHEMA columns (optionally renamed with
    ``prefix`` — the block/superblock folds carry their rects as
    ``b_``/``s_`` columns).  lat_col/lon_col are DEGREE columns; the
    -180 -> +180 remap mirrors S1Interval."""
    plat = F.radians(lat_col)
    plng = F.radians(
        F.when(lon_col == F.lit(-180.0), F.lit(180.0)).otherwise(lon_col)
    )
    lat_lo, lat_hi = F.col(prefix + "lat_lo"), F.col(prefix + "lat_hi")
    lng_lo, lng_hi, cc = (
        F.col(prefix + "lng_lo"),
        F.col(prefix + "lng_hi"),
        F.col(prefix + "cc"),
    )

    lng_inverted = lng_lo > lng_hi
    lng_contains = F.when(
        lng_inverted, (plng >= lng_lo) | (plng <= lng_hi)
    ).otherwise((plng >= lng_lo) & (plng <= lng_hi))
    lat_clamp = F.greatest(F.lit(0.0), plat - lat_hi, lat_lo - plat)

    # nearer boundary meridian: S1Interval(lng_hi, complement-center)
    # holds the point <=> the hi side (S2LatLngRect.php:231-238)
    hi_side_inverted = lng_hi > cc
    hi_side = F.when(hi_side_inverted, (plng >= lng_hi) | (plng <= cc)).otherwise(
        (plng >= lng_hi) & (plng <= cc)
    )
    a_lng = F.when(hi_side, lng_hi).otherwise(lng_lo)

    # point -> meridian-segment distance: the segment's great circle
    # is the full meridian; the perpendicular foot is at latitude
    # atan2(sin plat, cos plat * cos dlng) on the near half-meridian
    # (cos dlng >= 0).  Foot on the segment -> arc distance
    # asin(|cos plat * sin dlng|); otherwise nearer endpoint.
    dlng = plng - a_lng
    cosd = F.cos(dlng)
    lat_proj = F.atan2(F.sin(plat), F.cos(plat) * cosd)
    on_segment = (cosd >= 0) & (lat_proj >= lat_lo) & (lat_proj <= lat_hi)
    seg_dist = F.asin(
        F.least(F.lit(1.0), F.abs(F.cos(plat) * F.sin(dlng)))
    )
    p = unit_vector_cols(plat, plng)
    end_dist = F.least(
        angle3(p, unit_vector_cols(lat_lo, a_lng)),
        angle3(p, unit_vector_cols(lat_hi, a_lng)),
    )
    meridian_dist = F.when(on_segment, seg_dist).otherwise(end_dist)
    return F.when(lng_contains, lat_clamp).otherwise(meridian_dist)


BLOCK_SCHEMA = (
    "sb_id int, block_id int, blat double, blng double, bangle double, "
    "b_lat_lo double, b_lat_hi double, b_lng_lo double, b_lng_hi double, "
    "b_cc double, n_regions int, region_ids array<long>"
)

SB_SCHEMA = (
    "sb_id int, slat double, slng double, sangle double, "
    "s_lat_lo double, s_lat_hi double, s_lng_lo double, s_lng_hi double, "
    "s_cc double, n_blocks int"
)


def _fold_rects(rects):
    """Union-fold a list of LatLngRect bounds (R1 lat ∪, S1 lng ∪)."""
    from ..s2core.cell import R1Interval, S1Interval

    lat, lng = R1Interval.empty(), S1Interval.empty()
    for b in rects:
        lat, lng = lat.union(b.lat), lng.union(b.lng)
    return lat, lng


def region_block_summaries(
    bounds: list[tuple], block_size: int, sb_size: int
) -> tuple[list[tuple], list[tuple]]:
    """Two-level Hilbert-ordered prune index over region RECT bounds.

    The ranking metric is distance to each region's rect bound, so
    BOTH prune bounds derive from the SAME metric (the round-3 prune
    folded CAP bounds, which is unsound: a near-pole region's rect
    spans all longitudes, giving rect-distance ~0 where cap-distance
    is large — such a region could be pruned out of the true top-k):

    * UPPER bound (k-th-distance): each region's rect CENTER is a
      point inside its rect, so dist(p, rect_r) <= angle(p, center_r);
      a block stores an enclosing cone over its members' centers
      (axis = normalized mean, radius = max angle), giving
      dist(p, rect_r) <= angle(p, axis) + radius for >= k members.
    * LOWER bound: each block stores the UNION of its members' rects
      (R1 lat ∪, S1 lng ∪ — ``S1Interval.union``); every member rect
      is a subset, so dist(p, block_rect) <= dist(p, rect_r).

    Level 2 repeats both folds over ``sb_size`` consecutive blocks
    (Hilbert order preserved), so ~10^6 regions score only
    n/(block*sb) superblocks per probe before descending — the
    logarithmic shape of the reference's adaptive edge index
    (S2EdgeIndex.php:189-204) rather than a linear block scan.

    Returns (block_rows :: BLOCK_SCHEMA, sb_rows :: SB_SCHEMA)."""
    import numpy as np

    from ..s2core import cellid as cid_mod

    # rect-center representative point per region (radians -> xyz)
    clat = np.array([0.5 * (b.lat.lo + b.lat.hi) for _, b in bounds])
    clng = np.array([b.lng.get_center() for _, b in bounds])
    cx = np.cos(clat) * np.cos(clng)
    cy = np.cos(clat) * np.sin(clng)
    cz = np.sin(clat)
    centers = np.stack([cx, cy, cz], axis=1)
    keys = cid_mod.cell_id_from_point(cx, cy, cz)
    order = np.argsort(keys.astype(np.uint64))

    def cone(axes):
        axis = axes.mean(axis=0)
        n = float(geom.norm(axis))
        axis = axis / n if n > 0 else np.array([1.0, 0.0, 0.0])
        dots = np.clip(geom.dot(axes, axis), -1.0, 1.0)
        return axis, float(np.arccos(dots.min()))

    block_rows, blocks_meta = [], []
    n = len(bounds)
    n_blocks = max(1, n // block_size)
    for bi in range(n_blocks):
        lo = bi * block_size
        hi = (bi + 1) * block_size if bi < n_blocks - 1 else n
        members = [int(j) for j in order[lo:hi]]
        axis, radius = cone(centers[members])
        lat_i, lng_i = _fold_rects([bounds[j][1] for j in members])
        blat = math.atan2(axis[2], math.hypot(axis[0], axis[1]))
        blng = math.atan2(axis[1], axis[0])
        sb_id = bi // sb_size
        block_rows.append(
            (
                sb_id,
                bi,
                blat,
                blng,
                radius,
                float(lat_i.lo),
                float(lat_i.hi),
                float(lng_i.lo),
                float(lng_i.hi),
                float(lng_i.complement_center()),
                len(members),
                [bounds[j][0] for j in members],
            )
        )
        blocks_meta.append((sb_id, axis, radius, lat_i, lng_i))

    sb_rows = []
    n_sb = (n_blocks + sb_size - 1) // sb_size
    for si in range(n_sb):
        # blocks_meta is appended in bi order, so sb_id = bi // sb_size
        # makes each superblock's members a contiguous slice (an
        # all-blocks scan per superblock would be quadratic at the
        # ~31k-block scale this index targets)
        mine = blocks_meta[si * sb_size : (si + 1) * sb_size]
        assert all(m[0] == si for m in mine)
        axes = np.vstack([m[1] for m in mine])
        saxis = axes.mean(axis=0)
        nn = float(geom.norm(saxis))
        saxis = saxis / nn if nn > 0 else np.array([1.0, 0.0, 0.0])
        # cone must cover every member CONE, not just its axis
        sradius = max(
            float(np.arccos(np.clip(float(geom.dot(m[1], saxis)), -1.0, 1.0))) + m[2]
            for m in mine
        )
        lat_i, lng_i = mine[0][3], mine[0][4]
        for m in mine[1:]:
            lat_i, lng_i = lat_i.union(m[3]), lng_i.union(m[4])
        slat = math.atan2(saxis[2], math.hypot(saxis[0], saxis[1]))
        slng = math.atan2(saxis[1], saxis[0])
        sb_rows.append(
            (
                si,
                slat,
                slng,
                min(sradius, math.pi),
                float(lat_i.lo),
                float(lat_i.hi),
                float(lng_i.lo),
                float(lng_i.hi),
                float(lng_i.complement_center()),
                len(mine),
            )
        )
    return block_rows, sb_rows


def knn_regions(
    spark: SparkSession,
    probes: DataFrame,
    region_specs: list[dict],
    k: int,
    probe_id: str = "probe_id",
    prune_threshold: int = 1000,
    block_size: int = 32,
    sb_size: int = 32,
) -> DataFrame:
    """k nearest regions per probe, by distance to each region's
    exact rect bound.  Output: (probe_id, region_id, rank, dist6);
    ranking key is the ROUNDED distance with region_id tiebreak
    (deterministic, engine-portable).

    Plan shape: for a dimension-sized region set (<= prune_threshold)
    every probe ranks every region — a broadcast crossJoin is the
    right plan and stays.  Above the threshold a TWO-LEVEL RECT-BLOCK
    PRUNE runs (``region_block_summaries``): each probe scores only
    the ~n/(block_size*sb_size) superblocks — upper bound from the
    rect-center cone, lower bound from the folded block rect, both in
    the SAME rect-distance metric the ranking uses (a cap-metric
    lower bound is unsound here; see region_block_summaries) — then
    descends into surviving superblocks' blocks, tightens the bound
    with the block cones, and only surviving blocks explode into
    candidate regions for the exact rect-distance expression.  All
    prune joins are broadcasts; the pre-top-k shuffles are the
    probe-sized groupBy min and the probe-partitioned window (same
    key as the final top-k window, so the exchange is reused) — the
    plan survives 100x more probes or regions unchanged."""
    bounds = _region_bounds(region_specs)
    rects = regions_rect_df(spark, region_specs, bounds)
    eps = F.lit(5e-6)  # covers dist6 rounding at the k-th boundary
    if len(region_specs) <= max(prune_threshold, 2 * max(block_size, k)):
        joined = probes.crossJoin(F.broadcast(rects))
    else:
        block_rows, sb_rows = region_block_summaries(
            bounds, max(block_size, k), sb_size
        )
        blocks = local_relation(spark, block_rows, BLOCK_SCHEMA)
        sblocks = local_relation(spark, sb_rows, SB_SCHEMA)
        plat = F.radians(F.col("lat"))
        plng = F.radians(
            F.when(F.col("lon") == F.lit(-180.0), F.lit(180.0)).otherwise(
                F.col("lon")
            )
        )
        p = unit_vector_cols(plat, plng)
        sb_ub = angle3(p, unit_vector_cols(F.col("slat"), F.col("slng"))) + F.col(
            "sangle"
        )
        # Pass 0a: per-probe k-th-distance upper bound = min over
        # superblocks of (angle to cone axis + cone radius) — every
        # superblock carries >= k regions, all within that bound.
        # groupBy keeps the shuffle at ONE row per probe.
        kth = (
            probes.crossJoin(
                F.broadcast(sblocks.select("sb_id", "slat", "slng", "sangle"))
            )
            .groupBy(probe_id, "lat", "lon")
            .agg(F.min(sb_ub).alias("_ub0"))
        )
        # Pass 0b: superblock survivors by rect-metric lower bound.
        cand_sb = (
            kth.crossJoin(F.broadcast(sblocks))
            .where(
                rect_distance_col(F.col("lat"), F.col("lon"), prefix="s_")
                <= F.col("_ub0") + eps
            )
            .select(probe_id, "lat", "lon", "_ub0", "sb_id")
        )
        # Pass 1: descend into surviving superblocks' blocks; tighten
        # the bound with the block cones (window on the probe key —
        # the same partitioning the final top-k needs), then keep
        # blocks whose folded-rect lower bound beats it.
        blk_ub = angle3(p, unit_vector_cols(F.col("blat"), F.col("blng"))) + F.col(
            "bangle"
        )
        wprobe = Window.partitionBy(probe_id)
        cand = (
            cand_sb.join(F.broadcast(blocks), "sb_id")
            .withColumn(
                "_ub1", F.min(F.least(F.col("_ub0"), blk_ub)).over(wprobe)
            )
            .where(
                rect_distance_col(F.col("lat"), F.col("lon"), prefix="b_")
                <= F.col("_ub1") + eps
            )
            .select(
                probe_id,
                "lat",
                "lon",
                F.explode("region_ids").alias("region_id"),
            )
        )
        joined = cand.join(F.broadcast(rects), "region_id")
    dist6 = F.round(rect_distance_col(F.col("lat"), F.col("lon")), 6)
    w = Window.partitionBy(probe_id).orderBy(
        F.col("dist6").asc(), F.col("region_id").asc()
    )
    return (
        joined.select(probe_id, "region_id", dist6.alias("dist6"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def knn_regions_numpy(
    region_specs: list[dict],
    probes: list[tuple],
    k: int,
) -> list[tuple]:
    """Independent oracle: the faithful-port kernel
    ``LatLngRect.get_distance_latlng`` per (probe, region), same
    rounded ranking.  probes: [(probe_id, lat_deg, lon_deg)]."""
    from ..s2core.region import region_from_params

    bounds = []
    for spec in region_specs:
        reg = region_from_params(
            spec["kind"], spec["params"], spec.get("loop_offsets")
        )
        bounds.append((int(spec["region_id"]), reg.get_rect_bound()))
    rows = []
    for pid, plat, plon in probes:
        plat_r = math.radians(plat)
        plng_r = math.radians(180.0 if plon == -180.0 else plon)
        dists = sorted(
            (round(b.get_distance_latlng(plat_r, plng_r), 6), rid)
            for rid, b in bounds
        )
        for r, (d, rid) in enumerate(dists[:k], start=1):
            rows.append((int(pid), rid, r, float(d)))
    return rows
