"""Adversarial-unicode equivalence of the text-analysis Spark/DuckDB
twin pairs (functions/text.py).

The driver's oracle hash-check exercises the twins on realistic corpus
text; this suite pins them on the inputs most likely to diverge between
the two engines (and between formulations — round 4 switched
the punctuation count behind ``punct_ratio_ppm`` / ``mean_word_len_ppm``
from ``regexp_replace`` to ``translate``, which must count code points
identically).  Every compared value is an integer or a string, so the
twins must agree exactly:

* non-BMP characters (emoji — 2 UTF-16 units, 1 code point),
* CJK (forces 'zh' through the rlike branch),
* NBSP / tab / newline (none are the ' ' split separator),
* consecutive / leading / trailing spaces (empty split segments),
* empty and all-punct documents (greatest(...,1) denominators).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from s2_geometry_library_php_spark.functions.text import (
    fingerprint_column,
    fingerprint_duckdb,
    lang_id_column,
    lang_id_duckdb,
    quality_columns_ppm,
    quality_duckdb_ppm,
    token_count_column,
    token_count_duckdb,
)

ADVERSARIAL = [
    "",
    " ",
    "   ",
    "the the the",
    "a b c",                      # NBSP is not the split char
    "tab\tseparated\twords here",
    "line one\nline two\nline one",
    "emoji \U0001f600\U0001f680 mix the and of",
    "\U0001f600\U0001f600\U0001f600",  # all non-BMP punct
    "!!!???...",                       # all ASCII punct
    "der die das und ist",            # de markers
    "le la les et est que",           # fr markers
    "一鿿 mixed with english the and of",  # CJK forces zh
    "MiXeD CaSe The AND Of",
    " leading and trailing ",
    "num3r1c 123 456 789",
    "vertical\x0btab\x0bdoc",        # Java \s vs RE2 \s divergence probe
    "mixed \x0b \f \r ws\x0b",       # every Java-\s char explicitly
    "İstanbul THE and OF",      # dotted capital I: full-vs-simple lower
    "ΒΣ xΣ σς THE",                  # Greek final sigma context rule
    "STRASSE ẞ ß The And",           # sharp s family
    "punct-heavy: a,b;c.d!e?f(g)h[i]j",
    "éèê accents café déjà",
    "russian-translit i v ne na chto",
    "the quick brown fox jumps over the lazy dog " * 3,
]


@pytest.fixture(scope="module")
def fixture_path(spark, tmp_path_factory):
    import pandas as pd

    p = os.path.join(str(tmp_path_factory.mktemp("txt")), "adv.parquet")
    pd.DataFrame(
        {"doc_id": range(len(ADVERSARIAL)), "text": ADVERSARIAL}
    ).to_parquet(p)
    return p


def _spark_rows(spark, path):
    df = spark.read.parquet(path)
    cols = quality_columns_ppm("text")
    out = df.select(
        "doc_id",
        lang_id_column("text").alias("lang_pred"),
        token_count_column("text").alias("n_tokens"),
        fingerprint_column("text").alias("fp"),
        *[c.alias(n) for n, c in cols.items()],
    ).orderBy("doc_id")
    return [r.asDict() for r in out.collect()]


def _duck_rows(path):
    q = quality_duckdb_ppm("text")
    sql = (
        "SELECT doc_id, "
        f"{lang_id_duckdb('text')} AS lang_pred, "
        f"{token_count_duckdb('text')} AS n_tokens, "
        f"{fingerprint_duckdb('text')} AS fp, "
        + ", ".join(f"{e} AS {n}" for n, e in q.items())
        + f" FROM read_parquet('{path}') ORDER BY doc_id"
    )
    con = duckdb.connect()
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, row)) for row in cur.fetchall()]


def test_text_twins_match_on_adversarial_unicode(spark, fixture_path):
    got = _spark_rows(spark, fixture_path)
    want = _duck_rows(fixture_path)
    assert len(got) == len(want) == len(ADVERSARIAL)
    for g, w in zip(got, want):
        for k in w:
            assert g[k] == w[k], (g["doc_id"], k, ADVERSARIAL[g["doc_id"]])
