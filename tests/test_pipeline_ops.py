"""Dedup / text / multimodal / lineage / streaming tests."""

import os
import tempfile
import time

import numpy as np
from pyspark.sql import functions as F


def test_exact_dedup_finds_injected_duplicates(spark, docs):
    from s2_geometry_library_php_spark.functions.dedup import (
        exact_duplicate_groups,
    )

    base = docs.select("doc_id", "text").limit(50)
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    groups = exact_duplicate_groups(base.unionByName(dup))
    dups = groups.where(F.col("dup_count") >= 2)
    assert dups.count() >= 45  # all injected pairs group (minus text collisions)
    # keeper is the min id (the original)
    assert dups.where(F.col("keeper_doc_id") >= 100000).count() == 0


def test_minhash_detects_near_duplicates(spark, docs):
    from s2_geometry_library_php_spark.functions.dedup import (
        minhash_band_pairs,
    )

    base = docs.select("doc_id", "text").limit(30)
    # inject exact copies — must share all bands
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_band_pairs(base.unionByName(dup)).collect()
    }
    base_ids = [r.doc_id for r in base.collect()]
    hit = sum((i, i + 100000) in pairs for i in base_ids)
    assert hit >= 28


def test_minhash_banding_calibration_detects_at_threshold():
    """calibrate_banding's (n_perm, bands) must give detection
    probability >= 0.9 AT the target Jaccard threshold — closed-form
    on the S-curve, and empirically on seeded corpora run through the
    pipeline's own salted-md5 min-hash scheme."""
    import hashlib

    from s2_geometry_library_php_spark.functions.dedup import (
        calibrate_banding,
    )

    for t in (0.5, 0.7, 0.8, 0.9):
        n_perm, bands = calibrate_banding(t)
        assert n_perm % bands == 0
        r = n_perm // bands
        assert 1.0 - (1.0 - t**r) ** bands >= 0.9, (t, n_perm, bands)

    t = 0.7
    n_perm, bands = calibrate_banding(t)
    r = n_perm // bands

    def sig(shingles):
        return [
            min(
                hashlib.md5((str(k) + s).encode()).hexdigest()
                for s in shingles
            )
            for k in range(n_perm)
        ]

    def share_band(sa, sb):
        return any(
            sa[b * r : (b + 1) * r] == sb[b * r : (b + 1) * r]
            for b in range(bands)
        )

    trials = 200
    det = 0
    far = 0
    for i in range(trials):
        common = [f"c{i}_{j}" for j in range(14)]
        ua = [f"a{i}_{j}" for j in range(3)]
        ub = [f"b{i}_{j}" for j in range(3)]
        # |A ∩ B| = 14, |A ∪ B| = 20 -> Jaccard exactly 0.7
        det += share_band(sig(common + ua), sig(common + ub))
        # Jaccard 5/25 = 0.2: S-curve tail, should almost never fire
        common2 = [f"d{i}_{j}" for j in range(5)]
        ua2 = [f"e{i}_{j}" for j in range(10)]
        ub2 = [f"f{i}_{j}" for j in range(10)]
        far += share_band(sig(common2 + ua2), sig(common2 + ub2))
    assert det / trials >= 0.85, det  # >= 0.9 minus sampling noise
    assert far / trials <= 0.10, far


def test_prefix_len_exact_integer_boundary(spark):
    """prefix_len_col must equal the exact integer arithmetic
    |S| - ceil(t*|S|) + 1 for every set size — in particular where
    t*|S| is mathematically an integer (e.g. t=0.7, |S|=10), where a
    bare double ceil can round one ulp high and shorten the prefix."""
    import math as _math
    from fractions import Fraction

    from s2_geometry_library_php_spark.functions.dedup import prefix_len_col

    df = spark.createDataFrame([(n,) for n in range(1, 201)], "n int")
    for t in (0.3, 0.5, 0.7, 0.75, 0.8, 0.9):
        got = {
            r.n: r.p
            for r in df.select(
                "n", prefix_len_col(F.col("n"), t).alias("p")
            ).collect()
        }
        ft = Fraction(str(t))
        for n in range(1, 201):
            want = n - _math.ceil(ft * n) + 1
            assert got[n] == want, (t, n, got[n], want)


def test_lang_id_prefers_marker_language(spark):
    from s2_geometry_library_php_spark.functions.text import lang_id_column

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the park"),
            (2, "der hund und die katze ist nicht da"),
            (3, "le chat et la maison est pour une personne"),
            (4, "xyzzy qwerty plugh"),
            (5, "这是中文文本"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.lp
        for r in df.select(
            "doc_id", lang_id_column("text").alias("lp")
        ).collect()
    }
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und", 5: "zh"}


def test_multimodal_plumbing(spark):
    from s2_geometry_library_php_spark.functions.multimodal import (
        extract_features,
        synth_media_table,
    )

    media = synth_media_table(spark, 30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r.feature) == 16
        assert abs(sum(r.feature) - 1.0) < 1e-5  # histogram normalizes


def test_lineage_resume_skips_completed(spark, docs):
    from s2_geometry_library_php_spark.plans.lineage import LineageLog

    with tempfile.TemporaryDirectory() as tmp:
        log = LineageLog(spark, tmp, "job-1")

        calls = []

        def transform(df):
            calls.append(1)
            return df.withColumn("n2", F.col("doc_id") * 2)

        # First run: a prefix-aligned subset (faces 0-3, i.e. positive
        # cell ids) — simulates a job killed after committing some
        # prefixes.  Lineage is per-PREFIX: a done prefix is fully done.
        first = docs.where(F.col("cell_id") >= 0)
        log.run_stage("double", first, transform, lineage_level=2)
        done1 = log.completed_prefixes("double").count()
        assert done1 > 0

        # Resume with the FULL input: completed prefixes are skipped,
        # remaining ones computed; the union is exact with no dups.
        log.run_stage("double", docs, transform, lineage_level=2)
        out = spark.read.parquet(os.path.join(tmp, "double"))
        assert (
            out.groupBy("doc_id").count().where(F.col("count") > 1).count()
            == 0
        )
        assert out.count() == docs.count()
        assert len(calls) == 2


def test_lineage_resume_overwrites_unmarked_prefixes(spark, docs):
    """A killed job can leave COMMITTED data files in a prefix whose
    metric row never landed (task-level commit).  The resume must
    replace those prefixes (dynamic partition overwrite), not append —
    the round-1 append-mode bug duplicated every such row."""
    from s2_geometry_library_php_spark.plans.lineage import LineageLog

    with tempfile.TemporaryDirectory() as tmp:
        log = LineageLog(spark, tmp, "job-kill")

        def transform(df):
            return df.withColumn("n2", F.col("doc_id") * 2)

        # Simulate the kill: data for SOME prefixes is durably on disk
        # (normal partitioned write, exactly what a half-finished stage
        # leaves), but NO metric rows exist for any of them.
        from s2_geometry_library_php_spark.functions.sql_bitops import (
            s2_parent,
        )

        partial = (
            docs.where(F.col("cell_id") >= 0)
            .withColumn("_lineage_prefix", s2_parent(F.col("cell_id"), 2))
        )
        transform(partial).write.mode("append").partitionBy(
            "_lineage_prefix"
        ).parquet(os.path.join(tmp, "double"))
        assert log.completed_prefixes("double").count() == 0

        # Resume with the full input: every prefix is "not done", so
        # everything recomputes — and the stale files must be replaced.
        log.run_stage("double", docs, transform, lineage_level=2)
        out = spark.read.parquet(os.path.join(tmp, "double"))
        assert (
            out.groupBy("doc_id").count().where(F.col("count") > 1).count()
            == 0
        )
        assert out.count() == docs.count()


def test_streaming_incremental_tiles(spark, docs, tmp_path):
    from s2_geometry_library_php_spark.streaming import (
        incremental_tile_stream,
    )

    src = str(tmp_path / "stream_src")
    docs.select("doc_id", "lat", "lon").withColumn(
        "warc_ts", F.current_timestamp()
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    tiles = incremental_tile_stream(stream, tile_level=4)
    q = (
        tiles.writeStream.format("memory")
        .queryName("tiles_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT sum(doc_count) AS n FROM tiles_stream"
    ).collect()[0]
    assert int(out.n) == docs.count()


def test_streaming_dedup_across_microbatches(spark, docs, tmp_path):
    """A duplicate arriving in a LATER micro-batch must be suppressed
    by the fingerprint state (two files, maxFilesPerTrigger=1)."""
    from s2_geometry_library_php_spark.streaming import (
        streaming_distinct_documents,
    )

    src = str(tmp_path / "dd_src")
    base = docs.select("doc_id", "text").limit(40).withColumn(
        "warc_ts", F.current_timestamp()
    )
    # batch 1: originals; batch 2: same texts under new ids + 10 fresh
    base.coalesce(1).write.parquet(src)
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    fresh = (
        docs.select("doc_id", "text")
        .orderBy(F.desc("doc_id"))
        .limit(10)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("warc_ts", F.current_timestamp())
    )
    dup.unionByName(fresh).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_distinct_documents(stream)
    import tempfile
    import uuid

    ckpt = f"{tempfile.gettempdir()}/s2ddtest_{uuid.uuid4().hex[:8]}"
    q = (
        out.select("doc_id", "fingerprint")
        .writeStream.format("memory")
        .queryName("dd_test_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("dd_test_out")
    batch_distinct = (
        spark.read.parquet(src)
        .select(F.md5(F.col("text")).alias("x"))
        .distinct()
        .count()
    )
    # one survivor per distinct content; all batch-1 texts deduped
    assert got.select("fingerprint").distinct().count() == got.count()
    assert got.count() == batch_distinct
    # dup-batch ids only survive for the fresh texts
    assert got.where(
        (F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)
    ).count() == 0


def test_winnow_fingerprints_detect_duplicates(spark, docs):
    """Winnowing guarantee: an exact copy shares ALL fingerprints; a
    doc sharing a long substring shares at least one; unrelated texts
    share few."""
    from s2_geometry_library_php_spark.functions.dedup import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
        winnow_pairs,
    )

    base = docs.select("doc_id", "text").limit(25)
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnow_pairs(base.unionByName(dup), min_shared=4).collect()
    }
    for r in base.collect():
        n_fp = len(winnow_fingerprints(r.text))
        if n_fp >= 4:
            key = (r.doc_id, r.doc_id + 100000)
            assert key in pairs
            assert pairs[key] == n_fp  # exact copy shares everything

    # substring guarantee: any shared run >= K+W-1 chars yields a
    # shared fingerprint
    a = "x" * 10 + "the quick brown fox jumps over the lazy dog today" + "y" * 10
    b = "p" * 7 + "the quick brown fox jumps over the lazy dog today" + "q" * 13
    shared = set(winnow_fingerprints(a)) & set(winnow_fingerprints(b))
    assert len("the quick brown fox jumps over the lazy dog today") >= (
        WINNOW_K + WINNOW_W - 1
    )
    assert shared


def test_streaming_sessionize_across_microbatches(spark, tmp_path):
    """Session chains must survive the micro-batch boundary: a user's
    events split by TIME into two files (maxFilesPerTrigger=1) must
    yield the same session count as one batch — including a session
    that SPANS the boundary (short gap across files => no new
    session)."""
    from s2_geometry_library_php_spark.streaming import (
        user_sessionize_stream,
    )

    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, user, minutes):
        return (i, user, base + dt.timedelta(minutes=minutes))

    early = [
        # user 1: two events 10 min apart (one session so far)
        ev(1, 1, 0), ev(2, 1, 10),
        # user 2: one event
        ev(3, 2, 0),
    ]
    late = [
        # user 1: +15 min after file-1's last -> SAME session spans
        # the boundary; then a 60-min gap -> second session
        ev(4, 1, 25), ev(5, 1, 85),
        # user 2: 45-min gap -> second session
        ev(6, 2, 45),
    ]
    src = str(tmp_path / "sess_src")
    schema = "event_id long, user_id long, ts timestamp"
    spark.createDataFrame(early, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(late, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = user_sessionize_stream(stream)
    import tempfile
    import uuid

    ckpt = f"{tempfile.gettempdir()}/s2sstest_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName("sess_test_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in spark.sql(
            "SELECT user_id, max(n_sessions) AS n_sessions, "
            "max(n_events) AS n_events FROM sess_test_out GROUP BY user_id"
        ).collect()
    }
    assert got == {1: (2, 4), 2: (2, 2)}
