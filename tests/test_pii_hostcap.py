"""PII redaction (functions/pii.py) and per-host capping
(functions/hostcap.py).

PII: handcrafted redaction cases per rule (including the decoys the
rules must NOT touch), Spark-vs-DuckDB byte-parity on the shared
synthetic generator, and count-column parity.

Host cap: two-phase == single-window equality (the scale claim),
salt-count invariance, DuckDB row_number oracle parity, cap
semantics (<= cap per host, exact keeper set, determinism), and the
clean_corpus integration of both stages."""

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.functions.hostcap import (
    cap_per_host,
    cap_per_host_duckdb,
    host_column,
    host_duckdb,
)
from s2_geometry_library_php_spark.functions.pii import (
    pii_count_columns,
    pii_count_duckdb,
    redact_pii,
    redact_pii_column,
    redact_pii_duckdb,
    synth_pii_text_sql,
)
from s2_geometry_library_php_spark.operators.sampling import (
    sample_priority_column,
)

REDACT_CASES = [
    # emails
    ("mail me at john.doe+x@sub.example.org now",
     "mail me at <EMAIL> now"),
    ("a@b.co and c_d%e@f-g.h.io", "<EMAIL> and <EMAIL>"),
    # ipv4
    ("server 192.168.0.1 down", "server <IP> down"),
    ("edge 1.2.3.4, end", "edge <IP>, end"),
    ("server at 1.2.3.4.", "server at <IP>."),
    ("hosts 10.0.0.1. Then 10.0.0.2.x", "hosts <IP>. Then <IP>.x"),
    # adjacent spans share a context char; the second pass gets them
    ("ips 1.1.1.1 2.2.2.2 3.3.3.3 4.4.4.4 end",
     "ips <IP> <IP> <IP> <IP> end"),
    ("1.1.1.1 2.2.2.2.", "<IP> <IP>."),
    ("555-123-4567 555-765-4321 +4915112345678 +4915112345679",
     "<PHONE> <PHONE> <PHONE> <PHONE>"),
    # phones: separator form and E.164
    ("call 555-123-4567 today", "call <PHONE> today"),
    ("call 555 1234 4567 today", "call <PHONE> today"),
    ("intl +4915112345678 ok", "intl <PHONE> ok"),
    # decoys that must survive untouched
    ("order #1234567890 total", "order #1234567890 total"),
    ("version v1.2.3 released", "version v1.2.3 released"),
    ("run 1.2.3.4.5. end", "run 1.2.3.4.5. end"),
    ("year 2026 and pi 3.14159", "year 2026 and pi 3.14159"),
    ("just @ nothing here", "just @ nothing here"),
    # email absorbs its digits before the phone rule can see them
    ("x 5551234567@tel.example.com y", "x <EMAIL> y"),
    ("", ""),
]


def _spark_redact(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return [
        r["t"]
        for r in df.select(redact_pii_column("text").alias("t")).collect()
    ]


def test_redaction_cases(spark):
    raws = [c[0] for c in REDACT_CASES]
    got = _spark_redact(spark, raws)
    for (raw, want), out in zip(REDACT_CASES, got):
        assert out == want, f"{raw!r} -> {out!r}, want {want!r}"


def test_redaction_duckdb_twin_on_cases(spark):
    raws = [c[0] for c in REDACT_CASES]
    con = duckdb.connect()
    got = [
        con.execute(
            f"SELECT {redact_pii_duckdb('?')}", [r]
        ).fetchone()[0]
        for r in raws
    ]
    assert got == [c[1] for c in REDACT_CASES]


def test_engine_parity_on_synthetic_corpus(spark):
    """Spark and DuckDB redact the shared generator byte-identically
    (the property the driver oracle pattern relies on)."""
    n = 400
    gen = synth_pii_text_sql("doc_id")
    sdf = spark.range(n).withColumnRenamed("id", "doc_id").selectExpr(
        "doc_id", f"{gen} AS text"
    )
    spark_rows = {
        r["doc_id"]: r["t"]
        for r in sdf.select(
            "doc_id", redact_pii_column("text").alias("t")
        ).collect()
    }
    con = duckdb.connect()
    duck_rows = dict(
        con.execute(
            f"SELECT doc_id, {redact_pii_duckdb(gen)} "
            f"FROM range(0, {n}) t(doc_id) ORDER BY doc_id"
        ).fetchall()
    )
    assert spark_rows == duck_rows
    # every rule fired somewhere
    joined = " ".join(spark_rows.values())
    for tok in ("<EMAIL>", "<IP>", "<PHONE>"):
        assert tok in joined


def test_count_columns_parity(spark):
    n = 300
    gen = synth_pii_text_sql("doc_id")
    sdf = spark.range(n).withColumnRenamed("id", "doc_id").selectExpr(
        "doc_id", f"{gen} AS text"
    )
    for name, col in pii_count_columns("text").items():
        sdf = sdf.withColumn(name, col)
    spark_rows = {
        r["doc_id"]: (r["n_email"], r["n_ipv4"], r["n_phone"])
        for r in sdf.collect()
    }
    twins = pii_count_duckdb(gen)
    con = duckdb.connect()
    duck_rows = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            f"SELECT doc_id, {twins['n_email']}, {twins['n_ipv4']}, "
            f"{twins['n_phone']} FROM range(0, {n}) t(doc_id)"
        ).fetchall()
    }
    assert spark_rows == duck_rows
    # generator branches: exactly one PII span in branches 0-3, none in 4
    for d, (ne, ni, np_) in spark_rows.items():
        assert ne + ni + np_ == (0 if d % 5 == 4 else 1), d


def test_counts_match_redactions_on_adjacent_spans(spark):
    """Each engine counts both passes of each rule: every span the
    redaction removes, including sentence-final and shared-context
    ones."""
    texts = {
        "server at 1.2.3.4.": (0, 1, 0),
        "ips 1.1.1.1 2.2.2.2 3.3.3.3 4.4.4.4.": (0, 4, 0),
        "a@b.co c@d.io 555-123-4567 555-765-4321": (2, 0, 2),
        "run 1.2.3.4.5. end": (0, 0, 0),
    }
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    counts = pii_count_columns("text")
    got = {
        r["text"]: (r["n_email"], r["n_ipv4"], r["n_phone"])
        for r in df.select("text", *[c.alias(n) for n, c in counts.items()]).collect()
    }
    twins = pii_count_duckdb("text")
    con = duckdb.connect()
    duck = {
        t: con.execute(
            f"SELECT {twins['n_email']}, {twins['n_ipv4']}, {twins['n_phone']} "
            "FROM (SELECT ? AS text)",
            [t],
        ).fetchone()
        for t in texts
    }
    assert got == texts
    assert duck == texts


def test_redact_pii_frame_helper(spark):
    df = spark.createDataFrame(
        [(1, "mail a@b.co"), (2, "clean")], "doc_id long, text string"
    )
    out = redact_pii(df, with_counts=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["text"] == "mail <EMAIL>"
    assert rows[1]["n_email"] == 1
    assert rows[2]["text"] == "clean"
    assert rows[2]["n_email"] == 0
    assert set(out.columns) == {
        "doc_id", "text", "n_email", "n_ipv4", "n_phone"
    }


# ---------------------------------------------------------------- hostcap

HOST_CASES = [
    ("http://WWW.Example.COM/a", "example.com"),
    ("https://sub.Example.com:8443/x?q=1", "sub.example.com:8443"),
    ("ftp://Files.example.org/pub", "files.example.org"),
    ("www.bare.com/path", "bare.com"),
    ("bare.com", "bare.com"),
]


def test_host_column_and_twin(spark):
    raws = [c[0] for c in HOST_CASES]
    df = spark.createDataFrame([(r,) for r in raws], "url string")
    got = [
        r["h"] for r in df.select(host_column("url").alias("h")).collect()
    ]
    assert got == [c[1] for c in HOST_CASES]
    con = duckdb.connect()
    duck = [
        con.execute(
            f"SELECT {host_duckdb('u')} FROM (SELECT ? AS u)", [r]
        ).fetchone()[0]
        for r in raws
    ]
    assert duck == [c[1] for c in HOST_CASES]


def _skewed_urls(spark, n=3000):
    """Synthetic skewed crawl: host 0 takes ~half the rows (the
    hot-host pathology the two-phase plan exists for)."""
    return spark.range(n).withColumnRenamed("id", "doc_id").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 2 = 0 THEN "
        "  'http://WWW.Mega-Host0.example.com/p/' || CAST(doc_id AS STRING) "
        "ELSE "
        "  'https://site' || CAST(doc_id % 37 AS STRING) "
        "  || '.example.com/p/' || CAST(doc_id AS STRING) END AS url",
    )


def test_cap_two_phase_equals_single_window(spark):
    docs = _skewed_urls(spark)
    cap = 7
    got = {r["doc_id"] for r in cap_per_host(docs, cap).collect()}
    # reference: one global window (fine at test scale)
    ranked = docs.withColumn("_h", host_column("url")).withColumn(
        "_p", sample_priority_column("doc_id")
    )
    w = Window.partitionBy("_h").orderBy("_p", "doc_id")
    want = {
        r["doc_id"]
        for r in ranked.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .collect()
    }
    assert got == want


def test_cap_salt_count_invariance(spark):
    docs = _skewed_urls(spark, n=1200)
    sets = [
        frozenset(
            r["doc_id"]
            for r in cap_per_host(docs, 5, n_salts=k).collect()
        )
        for k in (1, 4, 32)
    ]
    assert sets[0] == sets[1] == sets[2]


def test_cap_duckdb_oracle_parity(spark):
    n, cap = 1500, 4
    docs = _skewed_urls(spark, n=n)
    got = sorted(r["doc_id"] for r in cap_per_host(docs, cap).collect())
    url_sql = (
        "CASE WHEN doc_id % 2 = 0 THEN "
        "  'http://WWW.Mega-Host0.example.com/p/' || CAST(doc_id AS STRING) "
        "ELSE "
        "  'https://site' || CAST(doc_id % 37 AS STRING) "
        "  || '.example.com/p/' || CAST(doc_id AS STRING) END"
    )
    rn = cap_per_host_duckdb(cap, url_expr=url_sql)
    con = duckdb.connect()
    want = [
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM (SELECT doc_id, {rn} AS rn "
            f"FROM range(0, {n}) t(doc_id)) WHERE rn <= {cap} "
            f"ORDER BY doc_id"
        ).fetchall()
    ]
    assert got == want


def test_cap_semantics_and_stats(spark):
    docs = _skewed_urls(spark, n=2000)
    cap = 3
    out = cap_per_host(docs, cap)
    per_host = (
        out.withColumn("h", host_column("url"))
        .groupBy("h")
        .count()
        .collect()
    )
    assert all(r["count"] <= cap for r in per_host)
    # hosts with <= cap docs keep everything
    stats = {
        r["h"]: r["count"]
        for r in docs.groupBy(host_column("url").alias("h")).count().collect()
    }
    kept = {r["h"]: r["count"] for r in per_host}
    for h, n in stats.items():
        assert kept.get(h, 0) == min(n, cap), h
    # the skew is real: hot host dominates the census
    assert stats["mega-host0.example.com"] == 1000
    # determinism
    again = {r["doc_id"] for r in cap_per_host(docs, cap).collect()}
    assert again == {r["doc_id"] for r in out.collect()}
    with pytest.raises(ValueError):
        cap_per_host(docs, 0)


def test_clean_corpus_integration(spark):
    """clean_corpus(max_docs_per_host=.., redact_pii=True): caps hold
    per host and survivor text is scrubbed."""
    from s2_geometry_library_php_spark.operators.corpus_pipeline import (
        clean_corpus,
    )

    n = 400
    gen = synth_pii_text_sql("doc_id")
    docs = spark.range(n).withColumnRenamed("id", "doc_id").selectExpr(
        "doc_id",
        "'http://host' || CAST(doc_id % 6 AS STRING) "
        "|| '.example.com/p/' || CAST(doc_id AS STRING) AS url",
        # lang-gate-friendly English filler + a PII span
        f"'the quick brown fox and the lazy dog with ' || {gen} AS text",
    )
    out = clean_corpus(
        spark,
        docs,
        langs=None,
        near_dup_threshold=None,
        max_docs_per_host=10,
        redact_pii=True,
    )
    rows = out.collect()
    assert 0 < len(rows) <= 60
    per_host = {}
    for r in rows:
        h = r["url"].split("//")[1].split("/")[0]
        per_host[h] = per_host.get(h, 0) + 1
    assert all(v <= 10 for v in per_host.values())
    txt = " ".join(r["text"] for r in rows)
    assert "@" not in txt.replace("<EMAIL>", "")
    assert any(
        tok in txt for tok in ("<EMAIL>", "<IP>", "<PHONE>")
    )


def test_cap_rejects_reserved_column_names(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "http://a/x", 0)], ["doc_id", "url", "_pri"]
    )
    with _pytest.raises(ValueError, match="_pri"):
        cap_per_host(df, cap=1)


def test_streaming_pii_redaction_stateless(spark, tmp_path):
    """PII redaction is a pure projection, so it rides a stream
    unchanged: availableNow output == batch redaction of the same
    rows."""
    from s2_geometry_library_php_spark.functions.pii import (
        redact_pii_column,
        synth_pii_text_sql,
    )

    docs = spark.range(120).withColumnRenamed("id", "doc_id").selectExpr(
        "doc_id", f"{synth_pii_text_sql('doc_id')} AS text"
    )
    stage = str(tmp_path / "src")
    docs.coalesce(2).write.parquet(stage)
    stream = (
        spark.readStream.schema(docs.schema).format("parquet").load(stage)
    )
    q = (
        stream.select("doc_id", redact_pii_column("text").alias("red"))
        .writeStream.format("memory")
        .queryName("t_pii_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r["doc_id"], r["red"])
        for r in spark.table("t_pii_stream").collect()
    }
    want = {
        (r["doc_id"], r["red"])
        for r in docs.select(
            "doc_id", redact_pii_column("text").alias("red")
        ).collect()
    }
    assert got == want
    assert any("<EMAIL>" in t or "<IP>" in t or "<PHONE>" in t
               for _, t in got)
