"""DSIR-style importance scoring (functions/importance.py).

Covers: bucket-hash parity on adversarial words, pure-Python twin of
the whole scoring chain, Spark-vs-DuckDB score parity (the oracle
pattern), selection semantics (target-like docs outscore background),
broadcast-plan shape, and determinism."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.functions.importance import (
    HASH_MOD,
    LLR_SCALE,
    bucket_weights,
    dsir_select,
    importance_scores,
    importance_scores_duckdb_cte,
    word_bucket_duckdb,
    word_bucket_sql,
)

B = 1024  # test bucket count


def _py_bucket(word, n_buckets=B):
    acc = 0
    for ch in word:
        acc = (acc * 31 + ord(ch)) % HASH_MOD
    return acc % n_buckets


def _py_scores(docs, target, n_buckets=B):
    def words(t):
        return t.split(" ")

    ct, cb = {}, {}
    nt = nb = 0
    for t in target:
        for w in words(t):
            ct[_py_bucket(w, n_buckets)] = (
                ct.get(_py_bucket(w, n_buckets), 0) + 1
            )
            nt += 1
    for t in docs.values():
        for w in words(t):
            cb[_py_bucket(w, n_buckets)] = (
                cb.get(_py_bucket(w, n_buckets), 0) + 1
            )
            nb += 1
    wts = {}
    for b in range(n_buckets):
        llr = math.log((ct.get(b, 0) + 1) / (nt + n_buckets)) - math.log(
            (cb.get(b, 0) + 1) / (nb + n_buckets)
        )
        # round-half-away-from-zero, matching Spark HALF_UP / DuckDB
        v = llr * LLR_SCALE
        wts[b] = int(math.floor(v + 0.5)) if v >= 0 else int(
            math.ceil(v - 0.5)
        )
    return {
        i: sum(wts[_py_bucket(w, n_buckets)] for w in words(t))
        for i, t in docs.items()
    }


WORDS = [
    "table",
    "Table",
    "",
    "é",
    "\U0001f600",
    "a b",  # never arises from the split, but hash is total anyway
    "naïve",
    "x" * 50,
]


def test_bucket_hash_parity(spark):
    df = spark.createDataFrame([(w,) for w in WORDS], "w string")
    got = [
        r["b"]
        for r in df.select(
            F.expr(word_bucket_sql("w", B)).alias("b")
        ).collect()
    ]
    con = duckdb.connect()
    duck = [
        con.execute(
            f"SELECT {word_bucket_duckdb('w', B)} FROM (SELECT ? AS w)",
            [w],
        ).fetchone()[0]
        for w in WORDS
    ]
    py = [_py_bucket(w) for w in WORDS]
    assert got == duck == py


def _corpus(spark):
    """Background docs from a 'crawl' vocab; target-flavored docs mix
    in domain words the crawl rarely uses."""
    return spark.range(240).withColumnRenamed("id", "doc_id").selectExpr(
        "doc_id",
        """array_join(transform(
             sequence(1, 12 + CAST(doc_id % 29 AS INT)),
             i -> CASE
               WHEN doc_id % 4 = 0 AND
                    CAST((doc_id * 7 + i * 13) % 3 AS INT) = 0
               THEN element_at(array('theorem','lemma','proof','axiom'),
                    CAST((doc_id + i * i) % 4 AS INT) + 1)
               ELSE element_at(array('click','here','buy','now','cheap',
                    'deal','offer','win','free','page'),
                    CAST((doc_id * 31 + i * i * 17) % 10 AS INT) + 1)
             END), ' ') AS text""",
    )


def test_python_twin_and_duckdb_parity(spark):
    docs = _corpus(spark)
    target = docs.where("doc_id % 4 = 0").select("text")
    w = bucket_weights(target, docs, n_buckets=B)
    scored = importance_scores(docs, w, n_buckets=B)
    got = {
        r["doc_id"]: r["importance_score"] for r in scored.collect()
    }
    # pure-Python twin
    docs_py = {r["doc_id"]: r["text"] for r in docs.collect()}
    target_py = [t for i, t in docs_py.items() if i % 4 == 0]
    assert got == _py_scores(docs_py, target_py)
    # DuckDB twin
    con = duckdb.connect()
    con.register("docs_v", docs.toPandas())
    sql = importance_scores_duckdb_cte(
        B,
        target_rel="(SELECT text FROM docs_v WHERE doc_id % 4 = 0)",
        docs_rel="docs_v",
    )
    want = dict(con.execute(sql).fetchall())
    assert got == want


def test_selection_semantics(spark):
    docs = _corpus(spark)
    target = docs.where("doc_id % 4 = 0").select("text")
    w = bucket_weights(target, docs, n_buckets=B)
    scored = {
        r["doc_id"]: r["importance_score"]
        for r in importance_scores(docs, w, n_buckets=B).collect()
    }
    t_scores = [s for i, s in scored.items() if i % 4 == 0]
    b_scores = [s for i, s in scored.items() if i % 4 != 0]
    # the score separates the classes COMPLETELY on this fixture
    # (target docs carry domain words the crawl never uses)
    assert min(t_scores) > max(b_scores)
    thresh = (min(t_scores) + max(b_scores)) // 2
    kept = dsir_select(docs, target, n_buckets=B, min_score=thresh)
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {i for i in scored if i % 4 == 0}
    assert "importance_score" in kept.columns
    # determinism
    again = {r["doc_id"] for r in dsir_select(
        docs, target, n_buckets=B, min_score=thresh
    ).collect()}
    assert again == ids


def test_plan_shape(spark):
    docs = _corpus(spark)
    target = docs.where("doc_id % 4 = 0").select("text")
    w = bucket_weights(target, docs, n_buckets=B)
    plan = (
        importance_scores(docs, w, n_buckets=B)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # scoring is a pure projection over the weight-array literal: the
    # corpus is NEVER exchanged or joined
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_word_bucket_totality(spark):
    # the weights and the scores count every word of the split, empty
    # strings included ('a','','b' / '' / 'x','y','z'): the Python twin
    # splits the same way, so a dropped or extra word moves every score
    texts = {1: "a  b", 2: "", 3: "x y z"}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    target = docs.where("doc_id = 3").select("text")
    w = bucket_weights(target, docs, n_buckets=B)
    got = {
        r["doc_id"]: r["importance_score"]
        for r in importance_scores(docs, w, n_buckets=B).collect()
    }
    assert got == _py_scores(texts, [texts[3]])
