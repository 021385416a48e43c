"""Benchmark decontamination (functions/decontaminate.py).

Covers: handcrafted overlap cases, pure-Python twin equality on the
synthetic small-vocab corpus, Spark-vs-DuckDB flag parity (the oracle
pattern), drop/flag mode semantics, the corpus-never-shuffles plan
claim (benchmark side broadcast), and clean_corpus integration."""

import duckdb
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.functions.decontaminate import (
    benchmark_grams,
    contaminated_duckdb_cte,
    contaminated_ids,
    decontaminate,
    doc_ngrams,
)


def _py_grams(text, n):
    w = text.split(" ")
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _py_flags(docs, bench, n):
    bg = set()
    for t in bench:
        bg |= _py_grams(t, n)
    return {i: bool(_py_grams(t, n) & bg) for i, t in docs.items()}


def _vocab_corpus(spark, n_docs=300, seed_mod=997):
    """Deterministic small-vocab corpus (mirrors the testdata shape:
    ~10-60 words from a tiny vocabulary, so cross-document gram
    collisions actually happen)."""
    vocab_case = (
        "CASE CAST(x % 13 AS INT) "
        + " ".join(
            f"WHEN {i} THEN '{w}'"
            for i, w in enumerate(
                "key row scan fast table value part hash merge sort "
                "line window group".split()
            )
        )
        + " END"
    )
    return spark.range(n_docs).withColumnRenamed("id", "doc_id").selectExpr(
        "doc_id",
        f"""array_join(transform(
              sequence(1, 10 + CAST(doc_id % 47 AS INT)),
              i -> {vocab_case.replace('x', f'((doc_id * 31 + i * 17) * (doc_id * 31 + i * 17) + i) % {seed_mod}')}
            ), ' ') AS text""",
    )


def test_handcrafted_overlap(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),       # shares 'b c d' with bench
            (2, "x y z w v"),       # disjoint
            (3, "c d e f g"),       # shares 'c d e'
            (4, "b c"),             # too short for a 3-gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("q b c d e r",)], "text string"
    )
    hits = {
        r["doc_id"] for r in contaminated_ids(docs, bench, n=3).collect()
    }
    assert hits == {1, 3}
    dropped = decontaminate(docs, bench, n=3, mode="drop")
    assert {r["doc_id"] for r in dropped.collect()} == {2, 4}
    flagged = {
        r["doc_id"]: r["is_contaminated"]
        for r in decontaminate(docs, bench, n=3, mode="flag").collect()
    }
    assert flagged == {1: True, 2: False, 3: True, 4: False}
    with pytest.raises(ValueError):
        decontaminate(docs, bench, n=3, mode="purge")


def test_python_twin_on_vocab_corpus(spark):
    docs = _vocab_corpus(spark)
    bench = docs.where("doc_id % 41 = 0").select("text")
    n = 4
    got = {
        r["doc_id"]: r["is_contaminated"]
        for r in decontaminate(docs, bench, n=n, mode="flag").collect()
    }
    docs_py = {r["doc_id"]: r["text"] for r in docs.collect()}
    bench_py = [r["text"] for r in bench.collect()]
    want = _py_flags(docs_py, bench_py, n)
    assert got == want
    # the fixture is non-degenerate: benchmark members hit, and some
    # NON-members hit too (real cross-document collisions)
    assert all(got[i] for i in docs_py if i % 41 == 0)
    nontrivial = [i for i in docs_py if i % 41 != 0 and got[i]]
    clean = [i for i in docs_py if not got[i]]
    assert nontrivial and clean


def test_duckdb_twin_parity(spark):
    docs = _vocab_corpus(spark, n_docs=200)
    bench = docs.where("doc_id % 29 = 0").select("text")
    n = 4
    got = {
        r["doc_id"]: r["is_contaminated"]
        for r in decontaminate(docs, bench, n=n, mode="flag").collect()
    }
    con = duckdb.connect()
    con.register("docs_v", docs.toPandas())
    con.register("bench_v", bench.toPandas())
    sql = contaminated_duckdb_cte(
        n, bench_rel="bench_v", docs_rel="docs_v"
    )
    want = dict(con.execute(sql).fetchall())
    assert got == want


def test_plan_broadcasts_benchmark_side(spark):
    docs = _vocab_corpus(spark)
    bench = docs.where("doc_id % 41 = 0").select("text")
    plan = decontaminate(docs, bench, n=4, mode="drop")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the corpus side must not sort-merge or nested-loop against the
    # benchmark grams
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gram_edge_cases(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "a a a a a")],
        "doc_id long, text string",
    )
    rows = doc_ngrams(docs, 3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["gram"])
    assert 1 not in by_doc and 2 not in by_doc
    assert by_doc[3] == ["a a a"] * 3
    bench = spark.createDataFrame([("",), ("a a a",)], "text string")
    bg = {r["gram"] for r in benchmark_grams(bench, 3).collect()}
    assert bg == {"a a a"}


def test_clean_corpus_integration(spark):
    from s2_geometry_library_php_spark.operators.corpus_pipeline import (
        clean_corpus,
    )

    docs = _vocab_corpus(spark, n_docs=250)
    bench = docs.where("doc_id % 31 = 0").select("text")
    base = clean_corpus(
        spark, docs, langs=None, near_dup_threshold=None
    )
    scrubbed = clean_corpus(
        spark,
        docs,
        langs=None,
        near_dup_threshold=None,
        decontaminate_against=bench,
        decontaminate_n=4,
    )
    base_ids = {r["doc_id"] for r in base.collect()}
    scrub_ids = {r["doc_id"] for r in scrubbed.collect()}
    assert scrub_ids < base_ids
    # no benchmark member survives
    assert not any(i % 31 == 0 for i in scrub_ids)


def test_fuzz_python_twin(spark):
    """Hypothesis fuzz: random small-vocab corpora + random benchmark
    subsets, Spark flags == pure-Python twin (batched: one DataFrame
    per example)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["a", "b", "c", "aa", "é", ""])
    doc = st.lists(word, min_size=0, max_size=12).map(" ".join)

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(doc, min_size=1, max_size=25),
        st.integers(min_value=1, max_value=4),
        st.integers(min_value=0, max_value=4),
    )
    def run(texts, n, bench_step):
        bench_idx = set(range(0, len(texts), bench_step + 1))
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        bench = docs.where(
            F.col("doc_id").isin([int(i) for i in bench_idx])
        ).select("text")
        got = {
            r["doc_id"]: r["is_contaminated"]
            for r in decontaminate(
                docs, bench, n=n, mode="flag"
            ).collect()
        }
        want = _py_flags(
            dict(enumerate(texts)),
            [texts[i] for i in bench_idx],
            n,
        )
        assert got == want

    run()
