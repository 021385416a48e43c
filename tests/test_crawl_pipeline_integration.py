"""End-to-end curation chain over the documents table: load the
Common-Crawl-style pages through ``load_documents`` (url and geocode
derived by the shared SQL), plant re-crawls, mirrored copies and PII,
clean the corpus (gates + URL/exact/near dedup), and tile-assign on
S2 cells.

Everything here is the same lazy-plan machinery the parquet-backed
driver queries use; this file checks that the chain's stages compose
over the loader's schema (doc_id, text, url, lat, lon).
"""

import pytest
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.operators.corpus_pipeline import (
    annotate_corpus,
    clean_corpus,
)
from s2_geometry_library_php_spark.sources.documents import load_documents

SF = "/root/testdata/sf0.001"
#: doc_id offsets of the planted rows (the table's ids are < 500)
RECRAWL, MIRROR = 10_000, 20_000


@pytest.fixture(scope="module")
def crawl_docs(spark):
    """The pipeline's input contract (doc_id, text, url, lat, lon):
    the documents table, every 7th page carrying an email address,
    plus every 10th page re-crawled under a messier spelling of its
    URL (same canonical form, edited text, so only URL dedup drops it)
    and every 10th (offset 5) mirrored under a new URL with the same
    text (so only exact dedup drops it)."""
    docs = load_documents(spark, SF).select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 7 = 3 THEN text || ' write to ops' "
            "|| CAST(doc_id AS STRING) || '@example.org' ELSE text END"
        ).alias("text"),
        "url",
        "lat",
        "lon",
    )
    recrawl = docs.where("doc_id % 10 = 0").select(
        (F.col("doc_id") + RECRAWL).alias("doc_id"),
        F.concat("text", F.lit(" and more")).alias("text"),
        F.expr(
            "concat('HTTPS://WWW.', "
            "upper(regexp_extract(url, '^https://([^/]+)', 1)), ':443', "
            "regexp_extract(url, '^https://[^/]+(.*)$', 1), '#top')"
        ).alias("url"),
        "lat",
        "lon",
    )
    mirror = docs.where("doc_id % 10 = 5").select(
        (F.col("doc_id") + MIRROR).alias("doc_id"),
        "text",
        F.expr("concat('https://mirror.example/d/', CAST(doc_id AS STRING))")
        .alias("url"),
        "lat",
        "lon",
    )
    return docs.unionByName(recrawl).unionByName(mirror)


@pytest.fixture(scope="module")
def cleaned(spark, crawl_docs):
    return clean_corpus(
        spark,
        crawl_docs,
        langs=("en",),
        dedup_by_url=True,
        near_dup_threshold=None,  # exact-dedup stage proves itself below
    ).cache()


def test_crawl_pipeline_survivors_and_gates(spark, crawl_docs, cleaned):
    n = cleaned.count()
    assert 0 < n < crawl_docs.count()
    # mirrors plant exact duplicate texts: the exact-dedup stage must
    # leave no repeated text among survivors, and never a mirror
    assert cleaned.groupBy("text").count().filter("count > 1").count() == 0
    assert cleaned.filter(F.col("doc_id") >= MIRROR).count() == 0
    # URL dedup ran on the CANONICAL form: no two survivors may share
    # it, and no re-crawl outlives its original
    from s2_geometry_library_php_spark.functions.urltools import canonical_url_column

    dup_canon = (
        cleaned.withColumn("c", canonical_url_column("url"))
        .groupBy("c")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup_canon == 0
    assert cleaned.filter(F.col("doc_id") >= RECRAWL).count() == 0
    # language gate: every survivor's guess is the gated language
    assert cleaned.filter(F.col("lang_guess") != "en").count() == 0


def test_crawl_pipeline_tile_is_cell_prefix(spark, cleaned):
    """tile_id must be the level-8 shifted prefix of the leaf cell id —
    the same invariant the fixture-backed pipeline test asserts."""
    bad = cleaned.filter(
        F.col("tile_id") != F.expr(f"cast(shiftrightunsigned(cell_id, {64 - 3 - 16}) as long)")
    ).count()
    assert bad == 0


def test_crawl_pipeline_deterministic_rerun(spark, crawl_docs, cleaned):
    """Re-read + pipeline rerun = identical survivor set (derived
    columns are scalar SQL, keep/drop decisions are content-pure)."""
    again = clean_corpus(
        spark,
        crawl_docs,
        langs=("en",),
        dedup_by_url=True,
        near_dup_threshold=None,
    )
    a = sorted(r.doc_id for r in cleaned.select("doc_id").collect())
    b = sorted(r.doc_id for r in again.select("doc_id").collect())
    assert a == b


def test_crawl_pipeline_near_dup_subset(spark, crawl_docs, cleaned):
    """Adding the LSH near-dup stage can only remove survivors."""
    full = clean_corpus(
        spark,
        crawl_docs,
        langs=("en",),
        dedup_by_url=True,
        near_dup_threshold=0.8,
    )
    full_ids = {r.doc_id for r in full.select("doc_id").collect()}
    base_ids = {r.doc_id for r in cleaned.select("doc_id").collect()}
    assert full_ids <= base_ids
    assert len(full_ids) > 0


def test_crawl_annotate_runs_native(spark, crawl_docs):
    """annotate_corpus over the loaded pages stays a single narrow
    plan: no Exchange may appear (signals are scalar SQL over the
    scan)."""
    ann = annotate_corpus(crawl_docs)
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert ann.filter(F.col("cell_id").isNull()).count() == 0


def test_crawl_release_pipeline_all_stages(spark, crawl_docs, cleaned):
    """The FULL release chain: gates + URL dedup + exact dedup +
    decontamination + host cap + PII redaction in one lazy plan.
    Survivors are a subset of the base clean set, per-host counts
    respect the cap, and no raw PII pattern survives in text."""
    from s2_geometry_library_php_spark.functions.hostcap import host_column
    from s2_geometry_library_php_spark.functions.pii import (
        pii_count_columns,
    )

    bench_id = cleaned.agg(F.min("doc_id")).collect()[0][0]
    bench = crawl_docs.where(F.col("doc_id") == bench_id).select("text")
    release = clean_corpus(
        spark,
        crawl_docs,
        langs=("en",),
        dedup_by_url=True,
        near_dup_threshold=None,
        decontaminate_against=bench,
        decontaminate_n=13,
        max_docs_per_host=1,
        redact_pii=True,
    )
    rows = release.cache().collect()
    assert rows  # the chain must not silently empty the corpus
    ids = {r["doc_id"] for r in rows}
    base_ids = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    assert ids < base_ids
    # the benchmark doc itself never survives
    assert bench_id not in ids
    # host cap holds, and binds: some host had more than one survivor
    per_host = (
        release.withColumn("h", host_column("url"))
        .groupBy("h")
        .count()
        .collect()
    )
    assert per_host and all(r["count"] <= 1 for r in per_host)
    base_max = (
        cleaned.groupBy(host_column("url")).count().agg(F.max("count"))
    ).collect()[0][0]
    assert base_max > 1
    # PII scrubbed: the planted addresses reached the release redacted
    assert any("<EMAIL>" in r["text"] for r in rows)
    leftover = release.select(
        *[c.alias(n) for n, c in pii_count_columns("text").items()]
    ).agg(F.sum("n_email"), F.sum("n_ipv4"), F.sum("n_phone")).collect()[0]
    assert list(leftover) == [0, 0, 0]
