"""spark-submit entrypoint for the corpus-cleaning pipeline: the
end-to-end pretraining-corpus job (clean -> dedup -> tile -> bucketed
layout), resumable via the same lineage log as the flagship.

    python tools/make_pyfiles.py
    spark-submit --master <cluster> \
        --py-files dist/s2_geometry_library_php_spark.zip \
        tools/run_corpus_pipeline.py --sf-dir /data/sfX --out /data/clean

Stage 1 (resumable, lineage-checkpointed per cell prefix): annotate +
gates + exact dedup — the embarrassingly-prefix-parallel part, so a
killed run skips completed prefixes on restart.  Stage 2 (global, one
plan): optional benchmark decontamination (--benchmark-path: broadcast
n-gram scrub BEFORE pair generation, so contaminated docs never join),
then MinHash-LSH near-dup removal over the committed stage-1 output —
near-dup pairs and benchmark grams cross prefixes, so this stage is
deliberately NOT prefix-sharded.  Release gates (global, still lazy):
--max-docs-per-host applies the two-phase salted per-host cap to the
survivors; --redact-pii scrubs survivor text LAST (after all dedup, so
content fingerprints stay honest).  Stage 3: survivors written as a
parquet table bucketed on tile_id, ready for shuffle-free recurring
joins (sources/bucketed.py).  Prints one JSON metrics line.

The session comes from ``plans.get_spark``, which keeps the master
spark-submit set."""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--langs", default="en", help="comma list; '' = all")
    ap.add_argument("--min-tokens", type=int, default=3)
    ap.add_argument("--near-dup-threshold", type=float, default=0.8)
    ap.add_argument("--transitive", action="store_true")
    ap.add_argument("--tile-level", type=int, default=8)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--lineage-level", type=int, default=4)
    ap.add_argument("--job-id", default="corpus_clean")
    ap.add_argument(
        "--benchmark-path",
        default="",
        help="parquet of eval texts (column 'text'); if set, docs "
        "sharing an n-gram with it are dropped before near-dup",
    )
    ap.add_argument("--decontaminate-n", type=int, default=13)
    ap.add_argument("--max-docs-per-host", type=int, default=0)
    ap.add_argument("--redact-pii", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from s2_geometry_library_php_spark.plans import get_spark

    spark = get_spark(app_name="s2-corpus-pipeline")

    from s2_geometry_library_php_spark.functions import s2_cell_id
    from s2_geometry_library_php_spark.functions.dedup import (
        exact_duplicate_groups,
        minhash_band_pairs,
    )
    from s2_geometry_library_php_spark.operators import annotate_corpus
    from s2_geometry_library_php_spark.operators.corpus_pipeline import (
        min_label_components,
        quality_gate,
    )
    from s2_geometry_library_php_spark.plans.lineage import LineageLog
    from s2_geometry_library_php_spark.sources import load_documents
    from s2_geometry_library_php_spark.sources.bucketed import write_bucketed

    t0 = time.time()
    langs = [x for x in args.langs.split(",") if x]
    docs = load_documents(spark, args.sf_dir).select(
        "doc_id", "url", "text", "lat", "lon"
    )

    def gate_and_exact_dedup(df):
        ann = annotate_corpus(df)
        gated = ann.where(quality_gate(args.min_tokens))
        if langs:
            gated = gated.where(F.col("lang_guess").isin(langs))
        keepers = exact_duplicate_groups(gated).select(
            F.col("keeper_doc_id").alias("doc_id")
        )
        return gated.join(keepers, "doc_id", "left_semi")

    # stage 1: prefix-sharded, resumable
    docs_encoded = docs.withColumn("cell_id", s2_cell_id("lat", "lon"))
    log = LineageLog(spark, args.out, args.job_id)
    stage_dir = log.run_stage(
        "gate_exact_dedup",
        docs_encoded,
        gate_and_exact_dedup,
        lineage_level=args.lineage_level,
    )

    # stage 2: global decontamination (optional) + near-dup removal
    # over the committed output
    unique = spark.read.parquet(stage_dir)
    if args.benchmark_path:
        from s2_geometry_library_php_spark.functions.decontaminate import (
            decontaminate,
        )

        bench = spark.read.parquet(args.benchmark_path).select("text")
        unique = decontaminate(unique, bench, n=args.decontaminate_n)
    pairs = minhash_band_pairs(
        unique, threshold=args.near_dup_threshold
    )
    if args.transitive:
        comp = min_label_components(pairs)
        losers = comp.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
    else:
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = unique.join(losers, "doc_id", "left_anti").withColumn(
        "tile_id",
        F.expr(
            f"cast(shiftrightunsigned(cell_id, "
            f"{64 - 3 - 2 * args.tile_level}) as long)"
        ),
    )

    # release gates: host-diversity cap, then PII scrub LAST
    if args.max_docs_per_host > 0:
        from s2_geometry_library_php_spark.functions.hostcap import (
            cap_per_host,
        )

        survivors = cap_per_host(survivors, args.max_docs_per_host)
    if args.redact_pii:
        from s2_geometry_library_php_spark.functions.pii import redact_pii

        survivors = redact_pii(survivors)

    # stage 3: bucketed layout for recurring tile joins
    table = f"{args.job_id}_clean"
    write_bucketed(
        survivors,
        table,
        "tile_id",
        args.n_buckets,
        path=os.path.join(args.out, "clean_bucketed"),
    )

    n_out = spark.table(table).count()
    print(
        json.dumps(
            {
                "job": args.job_id,
                "sf_dir": args.sf_dir,
                "survivors": n_out,
                "table": table,
                "wall_sec": round(time.time() - t0, 3),
                "master": spark.sparkContext.master,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
