"""Dump physical plans of the headline operators to EXPLAIN.md.

The plan-shape assertions that matter at 100 TB, checked by eye here
and cited in README:
* flagship spatial join: scan -> bbox prefilter -> ONE ArrowEvalPython
  (the docs encode and the fused covering lookup + refine) ->
  explode_outer; no join and no exchange;
* region-table spatial join: the flagship's plan, its executor-built
  coverings collected before planning;
* polyline project join: the flagship's shape with the buffered
  polyline coverings in the closure of ONE ArrowEvalPython (covering
  lookup + projection, cut to the distance) -> explode_outer; no join;
* kNN ring round: ONE ArrowEvalPython (the ring kernel: encode, ring
  lookup and batch-local top-k) -> explode_outer of the survivors ->
  broadcast probe join; the window's sorts see only the survivors;
* edge-crossing joins: the query edges' local relation -> ONE
  ArrowEvalPython (edge index lookup + robustCrossing refine) ->
  explode_outer -> one count around one exchange; no join;
* cell-set union and difference: normalize is two window sorts around
  one ancestor aggregate, all three on one exchange by face (no
  SinglePartition exchange); the difference adds ONE ArrowEvalPython
  (the lookup in B's complement) and no join;
* cell-set leaf membership: ONE ArrowEvalPython (the lookup in the
  collected set's ranges) under a one-element explode_outer and a
  filter, the leaf encode below it evaluated once; no join, no
  exchange;
* parquet scans show PushedFilters / narrow ReadSchema (column
  pruning drops text/html when not selected);
* bitwise tile math stays inside WholeStageCodegen (no Python), and
  a tile rollup is one expand and one aggregation around one exchange.

Each section header carries the plan's Python-node count
(ArrowEvalPython, MapIn*, FlatMapGroupsIn*): every such node is one
crossing into a Python worker per task.

Usage: python tools/dump_plans.py  (writes EXPLAIN.md at the repository
root)
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

# A physical-plan tree line names its node then its id, "Name (n)".
PYTHON_NODE = re.compile(
    r"\b(\w*EvalPython|MapIn\w+|FlatMapGroupsIn\w+|FlatMapCoGroupsIn\w+) \(\d+\)"
)


def main() -> None:
    from pyspark.sql import functions as F

    from s2_geometry_library_php_spark.functions import s2_cell_id
    from s2_geometry_library_php_spark.operators import (
        spatial_join,
        tile_aggregate,
        tile_rollup,
    )
    from s2_geometry_library_php_spark.operators.knn import knn_join
    from s2_geometry_library_php_spark.plans import get_spark
    from s2_geometry_library_php_spark.sources import (
        load_documents,
        region_fixtures,
    )

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_documents(spark, SF).withColumn(
        "cell_id", s2_cell_id("lat", "lon")
    )

    plans: list[tuple[str, object]] = []

    plans.append(
        (
            "scan with pruning (doc_id/lat/lon only; lang filter pushed)",
            load_documents(spark, SF)
            .where(F.col("lang") == "en")
            .select("doc_id", "lat", "lon"),
        )
    )
    plans.append(
        (
            "flagship spatial join (bbox prefilter below one "
            "ArrowEvalPython shared by the docs encode and the fused "
            "covering lookup + refine; explode_outer into one row per "
            "region; no join, no exchange)",
            spatial_join(
                spark,
                docs.select("doc_id", "lat", "lon", "cell_id"),
                region_fixtures(),
            ),
        )
    )
    from s2_geometry_library_php_spark.operators.spatial_join import (
        regions_to_df,
        spatial_join_region_table,
    )

    plans.append(
        (
            "region-table spatial join (coverings built in executors "
            "and collected with the region specs before planning; then "
            "the flagship's shape: one ArrowEvalPython shared by the "
            "docs encode and the covering lookup + refine; no join)",
            spatial_join_region_table(
                spark,
                docs.select("doc_id", "lat", "lon", "cell_id"),
                regions_to_df(spark, region_fixtures()),
            ),
        )
    )
    from s2_geometry_library_php_spark.operators.polyline_join import (
        polyline_project_join,
        polyline_region_crossing_join,
        polyline_self_crossing_join,
        synth_grid_lines,
    )

    plans.append(
        (
            "polyline project join (buffered edge coverings in the closure "
            "of one ArrowEvalPython, which looks the docs up and projects "
            "the candidates, its distance the proximity refine; "
            "explode_outer, no join; the docs encode is the only other "
            "Python node)",
            polyline_project_join(
                spark,
                docs.select("doc_id", "lat", "lon", "cell_id"),
                [{"line_id": 1, "vertices": [[48.5, 1.8], [48.9, 2.4], [49.3, 3.0]]}],
                0.01,
            ),
        )
    )
    plans.append(
        (
            "polyline x region-boundary crossing join (polyline edges as "
            "a local relation into one ArrowEvalPython: each edge's "
            "lookup in the boundary edge index held in its closure and "
            "the robustCrossing refine; explode_outer, one count around "
            "one exchange; no join)",
            polyline_region_crossing_join(
                spark, synth_grid_lines(64), region_fixtures()
            ),
        )
    )
    plans.append(
        (
            "polyline self-crossing join (the same shape, the polylines' "
            "own edges the index; each edge meets only edges of a greater "
            "line id, so line_a < line_b; no join, one exchange)",
            polyline_self_crossing_join(spark, synth_grid_lines(1024)),
        )
    )
    plans.append(
        ("tile aggregation level 8", tile_aggregate(docs, 8))
    )
    plans.append(
        (
            "tile rollup 8 -> 6 -> 4 (each tile expanded to its level "
            "parents, one partial-agg groupBy(level, tile_id): one "
            "exchange for every level, no union, no checkpoint)",
            tile_rollup(tile_aggregate(docs, 8), 8, [6, 4]),
        )
    )
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField

    from s2_geometry_library_php_spark.operators.knn import (
        probe_rings,
        ring_round_topk,
    )
    from s2_geometry_library_php_spark.s2core import cellid as cid

    probes = pa.table(
        {
            "probe_id": pa.array([0, 1], pa.int64()),
            "_plat": pa.array([48.85, -33.9]),
            "_plon": pa.array([2.35, 151.2]),
        }
    )
    ring = probe_rings(
        spark,
        probes,
        cid.cell_id_from_latlng_degrees(
            probes.column("_plat").to_numpy(), probes.column("_plon").to_numpy()
        ),
        8,
        StructField("probe_id", LongType()),
    )
    plans.append(
        (
            "kNN ring round (one Arrow UDF over the docs' lat/lon: "
            "encode, level-8 ring lookup in the driver-built 3x3 probe "
            "rings, batch-local numpy top-k -> explode the survivors -> "
            "broadcast join with the probe table -> exact re-rank -> "
            "window top-k on the survivors only; docs never shuffled, "
            "the unused cell_id encode pruned)",
            ring_round_topk(
                ring, docs.select("doc_id", "lat", "lon", "cell_id"), 5, 8
            ),
        )
    )

    from s2_geometry_library_php_spark.operators.cellsets import (
        cells_contain_point,
        cells_difference,
        cells_union,
    )
    from s2_geometry_library_php_spark.s2core.coverer import RegionCoverer
    from s2_geometry_library_php_spark.s2core.region import CapRegion

    cells_a, cells_b = (
        spark.createDataFrame(
            [
                (cid.to_signed_scalar(c),)
                for c in RegionCoverer(max_cells=12).get_covering(CapRegion(lat, lat, 0.05))
            ],
            "cell_id long",
        )
        for lat in (0.0, 1.0)
    )
    plans.append(
        (
            "cell-set union (normalize: repeated and contained cells "
            "dropped by a window sort per face, every fully covered cell "
            "found by one explode of each cell's self and ancestors and "
            "one aggregation by face and cell, contained cells dropped "
            "again per face; one exchange, on the face, serves all "
            "three; no SinglePartition exchange, no driver loop, no "
            "checkpoint)",
            cells_union(cells_a, cells_b),
        )
    )
    plans.append(
        (
            "cell-set difference (B collected once, its complement held "
            "sorted in the closure of one ArrowEvalPython over A that "
            "emits each A cell's pieces; explode_outer, then the "
            "union's normalize, which drops repeated pieces too; one "
            "exchange, no join)",
            cells_difference(cells_a, cells_b),
        )
    )
    plans.append(
        (
            "cell-set leaf membership (the set collected once, its "
            "ranges held sorted in the closure of one ArrowEvalPython "
            "over the leaves: two binary searches per leaf; the flag "
            "filtered above a one-element explode_outer, so the leaf "
            "encode below runs once; no join, no exchange)",
            cells_contain_point(
                cells_a,
                docs.select("doc_id", F.col("cell_id").alias("leaf_id")),
            ),
        )
    )

    # --- round-2 operators ---------------------------------------------------
    from s2_geometry_library_php_spark.functions.dedup import (
        ngram_jaccard_pairs,
    )
    from s2_geometry_library_php_spark.operators.measures import (
        region_measures,
    )
    from s2_geometry_library_php_spark.operators.region_distance import (
        knn_regions,
    )
    from s2_geometry_library_php_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    raw_docs = load_documents(spark, SF)
    plans.append(
        (
            "n-gram Jaccard (prefix-filter candidates: equi-joins only, "
            "no bucket self cross-join)",
            ngram_jaccard_pairs(raw_docs, threshold=0.2),
        )
    )
    plans.append(
        (
            "k-nearest-regions (probes x broadcast rect bounds; distance "
            "fully inside WholeStageCodegen)",
            knn_regions(
                spark,
                spark.createDataFrame(
                    [(0, 48.85, 2.35)], "probe_id long, lat double, lon double"
                ),
                region_fixtures(),
                3,
            ),
        )
    )
    plans.append(
        (
            "region measures (native triangle-fan trig + one partial-agg "
            "groupBy)",
            region_measures(spark, region_fixtures()),
        )
    )
    plans.append(
        (
            "embedding near-dup (LSH bucket self-join, Hamming-1 probes; "
            "shuffle keyed on (table,bucket), never N^2)",
            embedding_near_dup_pairs(
                spark.read.parquet(f"{SF}/embeddings.parquet"), 0.4
            ),
        )
    )

    from s2_geometry_library_php_spark.functions.dedup import winnow_pairs
    from s2_geometry_library_php_spark.operators.similarity import (
        ann_ivf_topk,
        train_ivf_centroids,
    )

    plans.append(
        (
            "winnowing near-dup pairs (fingerprint equi-join, banding "
            "shuffle shape)",
            winnow_pairs(raw_docs),
        )
    )
    import duckdb as _d

    _vecs = _d.sql(
        f"SELECT embedding FROM '{SF}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    import numpy as _np

    _cents = train_ivf_centroids(
        _np.asarray([r[0] for r in _vecs], dtype=_np.float64), 16
    )
    _emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    _q = _emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plans.append(
        (
            "IVF ANN (corpus assigned once, queries probe n_probe lists "
            "via broadcast equi-join)",
            ann_ivf_topk(_emb, _q, 10, _cents, n_probe=6),
        )
    )

    # --- round-3 operators ---------------------------------------------------
    from s2_geometry_library_php_spark.operators.spatial_join import (
        compute_coverings,
    )
    from s2_geometry_library_php_spark.plans.range_rewrite import (
        rewrite_range_join_sql,
    )

    leaf_probe = docs.select("doc_id", F.col("cell_id").alias("leaf"))
    cov = compute_coverings(region_fixtures())
    rrows = []
    for rid, cell_s, _lvl, _interior in cov:
        u = cell_s & 0xFFFFFFFFFFFFFFFF
        lsb = u & (-u & 0xFFFFFFFFFFFFFFFF)
        rrows.append(
            (
                int(rid),
                cid.to_signed_scalar(u - (lsb - 1)),
                cid.to_signed_scalar(u + (lsb - 1)),
            )
        )
    spark.createDataFrame(
        rrows, "region_id long, cell_min long, cell_max long"
    ).createOrReplaceTempView("ex_cov_ranges")
    leaf_probe.createOrReplaceTempView("ex_probe_docs")
    plans.append(
        (
            "ad-hoc SQL range θ-join auto-rewritten (leaf BETWEEN "
            "cell_min AND cell_max -> banded-prefix BroadcastHashJoin; "
            "no BroadcastNestedLoopJoin survives)",
            rewrite_range_join_sql(
                spark,
                "SELECT region_id, COUNT(*) AS n_docs "
                "FROM ex_probe_docs p JOIN ex_cov_ranges r "
                "ON p.leaf BETWEEN r.cell_min AND r.cell_max "
                "GROUP BY region_id",
            ),
        )
    )

    import math as _math

    _rng_idx = range(1200)
    big_specs = [
        {
            "region_id": i,
            "kind": "rect",
            "params": [
                _math.radians(-70 + (i * 7919) % 130),
                _math.radians(-70 + (i * 7919) % 130 + 3.0),
                _math.radians(-170 + (i * 104729) % 320),
                _math.radians(-170 + (i * 104729) % 320 + 5.0),
            ],
        }
        for i in _rng_idx
    ]
    plans.append(
        (
            "k-nearest-regions ABOVE the prune threshold (TWO-LEVEL "
            "rect-block prune: probe x broadcast superblock cones -> "
            "per-probe k-th upper bound -> surviving superblocks' "
            "blocks via hash join on sb_id, window-tightened bound -> "
            "surviving blocks explode to candidates via hash join on "
            "region_id -> exact rect distance; no all-regions product)",
            knn_regions(
                spark,
                spark.createDataFrame(
                    [(0, 48.85, 2.35)], "probe_id long, lat double, lon double"
                ),
                big_specs,
                5,
                prune_threshold=100,
                block_size=32,
                sb_size=4,
            ),
        )
    )

    # --- round-4 curation operators ------------------------------------------
    from s2_geometry_library_php_spark.functions.decontaminate import (
        decontaminate,
    )
    from s2_geometry_library_php_spark.functions.hostcap import cap_per_host
    from s2_geometry_library_php_spark.functions.importance import (
        bucket_weights,
        importance_scores,
    )
    from s2_geometry_library_php_spark.functions.pii import redact_pii
    from s2_geometry_library_php_spark.functions.urltools import (
        synth_messy_url_sql,
    )

    bench_slice = raw_docs.where("doc_id % 83 = 0").select("text")
    plans.append(
        (
            "benchmark decontamination (corpus side: scan -> generate "
            "-> broadcast semi-join -> doc-level distinct -> anti-join; "
            "benchmark side reduces to its distinct gram set and "
            "broadcasts; no SortMergeJoin / BroadcastNestedLoopJoin)",
            decontaminate(raw_docs, bench_slice, n=3),
        )
    )
    docs_u = raw_docs.withColumn(
        "url", F.expr(synth_messy_url_sql("doc_id"))
    )
    plans.append(
        (
            "per-host cap (TWO-PHASE salted exact top-K: window over "
            "(host, doc_id % n_salts) spreads the hot host across "
            "tasks, then a window over host on the <= cap*n_salts "
            "bounded survivors — never one task per hot host)",
            cap_per_host(docs_u, 12),
        )
    )
    _wts = bucket_weights(bench_slice, raw_docs, n_buckets=512)
    plans.append(
        (
            "DSIR importance scores (bounded weight table collected "
            "into an array literal; scoring is scan -> project — the "
            "corpus is never exchanged or joined)",
            importance_scores(raw_docs, _wts, n_buckets=512),
        )
    )
    plans.append(
        (
            "PII redaction (pure projection: regexp chain + counts "
            "inside WholeStageCodegen, zero shuffles)",
            redact_pii(raw_docs, with_counts=True),
        )
    )
    from s2_geometry_library_php_spark.operators.radius_join import (
        self_radius_pairs,
    )

    plans.append(
        (
            "within-radius self-join (level picked from MIN_WIDTH, "
            "right side explodes to its <=9-cell neighbor ring from one "
            "fused encode+ring kernel and streams, hash equi-join on the "
            "ring cell built from one row per point, exact-angle refine "
            "in WholeStageCodegen; no theta-join)",
            self_radius_pairs(docs.select("doc_id", "lat", "lon"), 0.001),
        )
    )
    from s2_geometry_library_php_spark.operators.tiling import (
        rasterize_tiles,
    )

    plans.append(
        (
            "raster tile materialization (fine tiles -> dense "
            "Hilbert-ordered 4^dl grid per parent: position from path "
            "bits, map_from_entries gather, all native SQL, one "
            "partial-agg groupBy on the parent)",
            rasterize_tiles(tile_aggregate(docs, 10), 10, 7),
        )
    )
    from s2_geometry_library_php_spark.functions.exact_substr import (
        strip_duplicate_spans,
    )

    plans.append(
        (
            "exact-substring span dedup (two linear gram scans; "
            "frequency pass is pure partial-agg HashAggregate — "
            "min(packed long), NOT min(struct), which would force a "
            "partition-sorting SortAggregate of the corpus-sized gram "
            "stream; only duplicated occurrences reach the island "
            "window; islands broadcast back onto the un-exchanged "
            "corpus scan)",
            strip_duplicate_spans(
                raw_docs.select("doc_id", "text"), k=50
            ),
        )
    )

    from s2_geometry_library_php_spark.operators.trajectory import (
        trajectory_stats,
    )

    plans.append(
        (
            "trajectory stats (ONE exchange: window partitionBy "
            "entity, step angles native in WholeStageCodegen, the "
            "groupBy reuses the window's hash partitioning — "
            "SortAggregate rides the window's existing sort)",
            trajectory_stats(
                raw_docs.select(
                    (F.col("doc_id") % 100).alias("user_id"),
                    F.col("doc_id").alias("ts"),
                    F.col("lat"),
                    F.col("lon"),
                )
            ),
        )
    )

    from s2_geometry_library_php_spark.operators.similarity import (
        sample_training_vectors,
        semdedup_drops,
        semdedup_lists_for,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    _n_emb = emb.count()
    _sd_lists = semdedup_lists_for(_n_emb, 256)
    _, _sd_tv = sample_training_vectors(emb, _sd_lists)
    _sd_cents = train_ivf_centroids(_sd_tv, _sd_lists)
    plans.append(
        (
            "SemDeDup drops (one shuffle keyed on the cluster id -> "
            "FlatMapGroupsInPandas gram matmul per cluster; centroids "
            "ride the closure, corpus scanned once)",
            semdedup_drops(emb, _sd_cents),
        )
    )

    from s2_geometry_library_php_spark.operators.corpus_pipeline import (
        clean_corpus,
    )

    plans.append(
        (
            "release-pipeline gate frame with the Arrow repetition "
            "gate (cheap native gates filter BELOW ArrowEvalPython; "
            "annotation projection deferred ABOVE it — the Python "
            "worker sees only cheap-gate survivors, and annotation "
            "columns compute only for repetition survivors)",
            clean_corpus(
                spark,
                raw_docs.select("doc_id", "text"),
                near_dup_threshold=None,
                repetition_thresholds={},
                reuse=False,
            ),
        )
    )

    out = ["# EXPLAIN — physical plans of the headline operators\n"]
    out.append(
        "Generated by tools/dump_plans.py at sf0.01 on "
        f"{spark.sparkContext.master}; the\n"
        "shapes (not the statistics) are what hold at cluster scale.\n"
        "Each header ends with the plan's Python-node count\n"
        "(ArrowEvalPython, MapIn*, FlatMapGroupsIn*): one crossing into a\n"
        "Python worker per task each.\n"
    )
    for title, df in plans:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().strip()
        n_python = len(PYTHON_NODE.findall(plan))
        out.append(
            f"\n## {title} [Python nodes: {n_python}]\n\n```\n{plan}\n```\n"
        )
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md")


if __name__ == "__main__":
    main()
