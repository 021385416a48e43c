"""Per-stage COLD attribution of the release pipeline (VERDICT r4 #5).

The bench's `corpus_release_pipeline` showed a 33x cold/steady spread
(196.97s cold vs 5.89s steady at sf0.1).  Steady-state re-reads the
persisted gate frame; a one-shot 100 TB run pays the cold path.  This
tool measures WHERE the cold seconds go by timing cumulative prefixes
of the exact same plan (same corpus replication, same spark conf as
bench.py) with the cache cleared between runs — the delta between
consecutive prefixes is that stage's cold cost.

Stages (mirroring operators/corpus_pipeline.clean_corpus order under
the bench's release kwargs):

    scan            cached-docs count (baseline)
    url_dedup       canonical-URL groupBy + semi-join
    gates           annotate (lang/quality/token regex) + cheap gates
    repetition      + Gopher repetition gate (per-row gram sort)
    decontaminate   + benchmark n-gram scrub (gram explode, anti-join)
    exact_dedup     + content-fingerprint keeper semi-join
    near_dup        + MinHash LSH band pairs anti-join
    host_cap        + two-phase per-host top-K
    full (pii)      clean_corpus itself (persist boundary included)

Usage:  python tools/cold_attribution.py [--sf-dir DIR] [--replicate R]
Writes a JSON report to bench_runs/cold_attrib_<stamp>.json and prints
a markdown table for BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s2_geometry_library_php_spark.plans import default_cores  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument(
        "--replicate",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_REPLICATE", "100")),
    )
    ap.add_argument(
        "--cpus",
        type=int,
        default=default_cores(),
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from s2_geometry_library_php_spark.plans import get_spark
    from s2_geometry_library_php_spark.functions.urltools import (
        synth_messy_url_sql,
        url_dedup,
    )
    from s2_geometry_library_php_spark.functions.quality_gates import (
        repetition_gate_arrow,
    )
    from s2_geometry_library_php_spark.functions.decontaminate import (
        decontaminate,
    )
    from s2_geometry_library_php_spark.functions.dedup import (
        exact_duplicate_groups,
        minhash_band_pairs,
    )
    from s2_geometry_library_php_spark.functions.hostcap import cap_per_host
    from s2_geometry_library_php_spark.operators.corpus_pipeline import (
        annotate_corpus,
        clean_corpus,
        quality_gate,
    )
    from s2_geometry_library_php_spark.sources import load_documents

    spark = get_spark(
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus, 8),
    )

    base = load_documents(spark, args.sf_dir).select(
        "doc_id", "url", "text", "lat", "lon"
    )
    replicate = args.replicate
    docs = (
        base.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        )
        .withColumn("doc_id", F.col("doc_id") * replicate + F.col("rep"))
        .withColumn(
            "lat",
            F.greatest(
                F.lit(-89.95),
                F.least(
                    F.lit(89.95),
                    F.col("lat") + (F.col("rep") % 97 - 48) * 1e-3,
                ),
            ),
        )
        .withColumn("lon", F.col("lon") + (F.col("rep") % 89 - 44) * 1e-3)
        .drop("rep")
        .repartition(spark.sparkContext.defaultParallelism * 2)
    )
    # the bench caches the replicated corpus before any timed query —
    # the release pipeline's cold number is measured with docs warm
    docs = docs.cache()
    docs_u = docs.select("doc_id", "text", "lat", "lon").withColumn(
        "url", F.expr(synth_messy_url_sql("doc_id"))
    )
    bench_slice = docs_u.where("doc_id % 9973 = 0").select("text")

    # --- cumulative prefixes of the release plan ----------------------------
    def p_url(d):
        return url_dedup(d)

    def p_gates(d):
        g = annotate_corpus(p_url(d))
        return g.where(quality_gate() & F.col("lang_guess").isin(["en"]))

    def p_rep(d):
        return p_gates(d).where(repetition_gate_arrow("text", {}))

    def p_decon(d):
        return decontaminate(p_rep(d), bench_slice, n=5)

    def p_exact(d):
        g = p_decon(d)
        keepers = exact_duplicate_groups(g, "text").select(
            F.col("keeper_doc_id").alias("doc_id")
        )
        return g.join(keepers, "doc_id", "left_semi")

    def p_near(d):
        eu = p_exact(d)
        pairs = minhash_band_pairs(eu, "text", threshold=0.8)
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        return eu.join(losers, "doc_id", "left_anti")

    def p_cap(d):
        return cap_per_host(p_near(d), 5000)

    def p_full(d):
        return clean_corpus(
            spark,
            d,
            dedup_by_url=True,
            repetition_thresholds={},
            decontaminate_against=bench_slice,
            decontaminate_n=5,
            max_docs_per_host=5000,
            redact_pii=True,
        )

    prefixes = [
        ("scan", lambda d: d),
        ("url_dedup", p_url),
        ("gates", p_gates),
        ("repetition", p_rep),
        ("decontaminate", p_decon),
        ("exact_dedup", p_exact),
        ("near_dup", p_near),
        ("host_cap", p_cap),
        ("full_clean_corpus", p_full),
    ]

    results: dict[str, dict] = {}
    prev = 0.0
    for name, build in prefixes:
        # fresh cold state: drop every cached frame (including any
        # persist clean_corpus registered), then re-warm ONLY the docs
        # cache exactly like the bench does before its timed loop
        spark.catalog.clearCache()
        docs.cache().count()
        t0 = time.time()
        n = build(docs_u).count()
        dt = time.time() - t0
        results[name] = {
            "cold_sec": round(dt, 3),
            "delta_sec": round(dt - prev, 3),
            "rows": n,
        }
        prev = dt
        print(f"{name:20s} cold={dt:8.2f}s  delta={results[name]['delta_sec']:8.2f}s  rows={n}", flush=True)

    stamp = time.strftime("%Y%m%dT%H%MZ", time.gmtime())
    out = {
        "sf_dir": args.sf_dir,
        "replicate": replicate,
        "cpus": args.cpus,
        "stages": results,
    }
    path = f"bench_runs/cold_attrib_{stamp}.json"
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1)
    os.replace(tmp, path)
    print(f"\nwrote {path}")
    print("\n| stage | cold cumulative (s) | stage delta (s) | rows |")
    print("|---|---|---|---|")
    for name, r in results.items():
        print(f"| {name} | {r['cold_sec']} | {r['delta_sec']} | {r['rows']} |")

    spark.stop()


if __name__ == "__main__":
    main()
