"""Repetition-quality gates (functions/quality_gates.py): crafted
webtext fixtures vs a pure-Python twin, Spark vs DuckDB twin
equivalence on real testdata, and the pipeline gate behavior.  Every
signal is an integer in parts per million, compared exactly."""

import os
from collections import Counter

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.functions.quality_gates import (
    DEFAULT_THRESHOLDS,
    repetition_columns_ppm,
    repetition_duckdb_ppm,
    repetition_gate_arrow,
)
from s2_geometry_library_php_spark.functions.text import PPM

SF = "/root/testdata/sf0.001"

NAMES = [
    "dup_line_fraction_ppm",
    "dup_line_char_fraction_ppm",
    "top2gram_char_fraction_ppm",
    "top3gram_char_fraction_ppm",
    "dup_5gram_fraction_ppm",
]


def native_gate(thresholds=None):
    """The Spark ppm Columns checked against the same integer limits
    as the Arrow gate: keep iff every signal_ppm < round(t * 1e6)."""
    limits = {**DEFAULT_THRESHOLDS, **(thresholds or {})}
    cols = repetition_columns_ppm("text")
    keep = F.lit(True)
    for name, t in limits.items():
        keep = keep & (cols[name + "_ppm"] < F.lit(round(t * PPM)))
    return keep


def ref_signals(text: str) -> dict[str, int]:
    """Pure-Python twin of repetition_columns_ppm, written
    independently of the gate's kernel."""
    lines = text.split("\n")
    n_lines = len(lines)
    lc = Counter(lines)
    rep_chars = sum((c - 1) * len(l) for l, c in lc.items())
    line_chars = sum(len(l) for l in lines)
    words = text.split(" ")
    n_chars = len(text)

    def top(n: int) -> int:
        grams = [
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        ]
        if not grams:
            return 0
        cnt = Counter(grams)
        nc, g = min((-c, g) for g, c in cnt.items())
        if -nc < 2:
            return 0
        return -nc * len(g) * PPM // max(n_chars, 1)

    def dup(n: int) -> int:
        grams = [
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        ]
        if not grams:
            return 0
        return (len(grams) - len(set(grams))) * PPM // len(grams)

    return {
        "dup_line_fraction_ppm": (
            (n_lines - len(set(lines))) * PPM // max(n_lines, 1)
        ),
        "dup_line_char_fraction_ppm": rep_chars * PPM // max(line_chars, 1),
        "top2gram_char_fraction_ppm": top(2),
        "top3gram_char_fraction_ppm": top(3),
        "dup_5gram_fraction_ppm": dup(5),
    }


FIXTURES = [
    # (doc_id, text) — real-webtext shapes the synthetic corpus lacks
    (0, "the cat sat on the mat and the cat sat again"),
    (1, "buy now\nbuy now\nbuy now\nlimited offer"),           # dup lines
    (2, "spam spam spam spam spam spam spam spam"),            # 1 hot gram
    (3, "line one\nline two\nline three"),                     # unique lines
    (4, "a b c d e a b c d e a b c d e a b c d e"),            # dup 5-grams
    (5, "word"),                                               # < n words
    (6, ""),                                                   # empty
    (7, "x y\nx y\nlonger unique line here\nx y"),             # mixed
    (8, "tie tie bar bar"),  # 2-gram tie -> lexicographic break
]


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(FIXTURES, columns=["doc_id", "text"])
    )


def _collect_signals(df):
    cols = repetition_columns_ppm("text")
    rows = (
        df.select(
            "doc_id", *[c.alias(n) for n, c in cols.items()]
        )
        .orderBy("doc_id")
        .collect()
    )
    return {r["doc_id"]: {n: r[n] for n in NAMES} for r in rows}


def test_fixtures_match_python_twin(fixture_df):
    got = _collect_signals(fixture_df)
    for doc_id, text in FIXTURES:
        want = ref_signals(text)
        for n in NAMES:
            assert got[doc_id][n] == want[n], (doc_id, n, text)


def test_fixture_values_sanity(fixture_df):
    got = _collect_signals(fixture_df)
    # 3 of 4 lines identical
    assert got[1]["dup_line_fraction_ppm"] == 500_000
    assert got[1]["dup_line_char_fraction_ppm"] > 400_000
    # "spam spam" covers nearly all of doc 2
    assert got[2]["top2gram_char_fraction_ppm"] > 200_000
    assert got[4]["dup_5gram_fraction_ppm"] > 500_000
    # degenerate docs -> all zeros
    for doc_id in (5, 6):
        for n in NAMES:
            assert got[doc_id][n] == 0
    # unique lines -> zero line dup
    assert got[3]["dup_line_fraction_ppm"] == 0


def test_spark_duckdb_twins_on_fixtures(fixture_df, tmp_path):
    pq = os.path.join(str(tmp_path), "fx.parquet")
    fixture_df.toPandas().to_parquet(pq)
    con = duckdb.connect()
    exprs = repetition_duckdb_ppm("text")
    sql = "SELECT doc_id, " + ", ".join(
        f"{e} AS {n}" for n, e in exprs.items()
    ) + f" FROM read_parquet('{pq}') ORDER BY doc_id"
    ddb = con.execute(sql).fetchall()
    got = _collect_signals(fixture_df)
    for row in ddb:
        doc_id = row[0]
        for i, n in enumerate(NAMES):
            assert got[doc_id][n] == row[i + 1], (doc_id, n)


def test_spark_duckdb_twins_on_testdata(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = _collect_signals(docs)
    con = duckdb.connect()
    exprs = repetition_duckdb_ppm("text")
    sql = "SELECT doc_id, " + ", ".join(
        f"{e} AS {n}" for n, e in exprs.items()
    ) + f" FROM read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
    mismatches = 0
    for row in con.execute(sql).fetchall():
        for i, n in enumerate(NAMES):
            if got[row[0]][n] != row[i + 1]:
                mismatches += 1
    assert mismatches == 0
    # every signal is a BIGINT in Spark, not a float that compares equal
    assert all(isinstance(x, int) for v in got.values() for x in v.values())
    # the word-gram signals must be non-trivial on the corpus
    assert any(v["top2gram_char_fraction_ppm"] > 50_000 for v in got.values())


def test_repetition_gate_keeps_and_drops(fixture_df):
    kept = {
        r["doc_id"]
        for r in fixture_df.where(repetition_gate_arrow("text")).collect()
    }
    # spam/repeat docs fail the gate, clean docs pass
    assert 2 not in kept          # one hot 2-gram
    assert 4 not in kept          # duplicate 5-grams
    assert 1 not in kept          # duplicate lines
    assert 0 not in kept          # 11-char trigram repeated in 45 chars
    assert 3 in kept              # unique lines
    assert 8 in kept              # count-1 gram ties are not repetition


def test_gate_custom_threshold_overrides(fixture_df):
    # loosening every threshold far enough keeps everything (note:
    # overlapping-gram char fractions can exceed 1.0)
    loose = {n: 10.0 for n in DEFAULT_THRESHOLDS}
    kept = fixture_df.where(
        repetition_gate_arrow("text", loose)
    ).count()
    assert kept == len(FIXTURES)


def test_gate_boundary_repetition_strict_punct_inclusive(spark):
    """A ratio exactly at its threshold: the repetition gate keeps
    only signal_ppm < limit, so it drops the document; the punctuation
    gate keeps punct_ratio_ppm <= limit, so it keeps it."""
    from s2_geometry_library_php_spark.operators.corpus_pipeline import (
        clean_corpus,
    )

    # two identical lines: dup_line_fraction == 1/2 exactly
    rep = spark.createDataFrame([(1, "x y\nx y")], "doc_id long, text string")
    loose = {n: 10.0 for n in DEFAULT_THRESHOLDS}

    def kept(df, **kw):
        out = clean_corpus(spark, df, langs=None, near_dup_threshold=None, **kw)
        return out.count()

    assert kept(rep, repetition_thresholds={**loose, "dup_line_fraction": 0.5}) == 0
    assert (
        kept(rep, repetition_thresholds={**loose, "dup_line_fraction": 0.500001})
        == 1
    )
    # one of two characters is punctuation: punct_ratio == 1/2 exactly
    punct = spark.createDataFrame([(1, "a!")], "doc_id long, text string")
    assert kept(punct, min_tokens=1, max_punct_ratio=0.5) == 1
    assert kept(punct, min_tokens=1, max_punct_ratio=0.499999) == 0


def test_clean_corpus_repetition_gate_wires_through(spark):
    from pyspark.sql import functions as F

    from s2_geometry_library_php_spark.operators.corpus_pipeline import (
        clean_corpus,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, "the quick brown fox is that with and of to in it"),
                (2, "spam spam spam spam spam spam spam the and of to"),
            ],
            columns=["doc_id", "text"],
        )
    )
    base = clean_corpus(
        spark, df, langs=None, near_dup_threshold=None
    )
    gated = clean_corpus(
        spark,
        df,
        langs=None,
        near_dup_threshold=None,
        repetition_thresholds={},
    )
    assert {r["doc_id"] for r in base.select("doc_id").collect()} == {1, 2}
    assert {r["doc_id"] for r in gated.select("doc_id").collect()} == {1}


# --- hypothesis fuzz: random webtext vs the pure-Python twin -------------------------
from hypothesis import given, settings
from hypothesis import strategies as st

# Small vocab + newlines forces line/gram collisions; occasional long
# runs exercise the hot-gram argmax ties.
_WORD = st.sampled_from(["the", "cat", "spam", "a", "bb", "offer", "now"])
_SEP = st.sampled_from([" ", " ", " ", "\n"])


@st.composite
def _webtext(draw):
    n = draw(st.integers(min_value=0, max_value=40))
    parts = []
    for i in range(n):
        if i:
            parts.append(draw(_SEP))
        parts.append(draw(_WORD))
    return "".join(parts)


@settings(max_examples=4, deadline=None)
@given(st.lists(_webtext(), min_size=1, max_size=25))
def test_repetition_fuzz_matches_python_twin(spark, texts):
    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, t) for i, t in enumerate(texts)],
            columns=["doc_id", "text"],
        )
    )
    got = _collect_signals(df)
    for i, t in enumerate(texts):
        assert got[i] == ref_signals(t), t


# --- integer-exact (ppm) twins ------------------------------------------------------
def test_quality_ppm_twins_bit_exact(spark, tmp_path):
    """text.quality_columns_ppm == text.quality_duckdb_ppm exactly on
    the sf0.001 corpus plus unicode/empty edge rows."""
    from s2_geometry_library_php_spark.functions.text import (
        quality_columns_ppm,
        quality_duckdb_ppm,
    )

    edge = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10_001, 10_002, 10_003, 10_004],
                "text": ["", "héllo wörld! ¿qué?", "a  b", "猫 the cat!!!"],
            }
        )
    )
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .where("doc_id < 200")
        .unionByName(edge)
    )
    cols = quality_columns_ppm("text")
    names = list(cols)
    rows = (
        docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])
        .orderBy("doc_id")
        .collect()
    )
    got = {r["doc_id"]: tuple(r[n] for n in names) for r in rows}
    pq = os.path.join(str(tmp_path), "q.parquet")
    docs.toPandas().to_parquet(pq)
    con = duckdb.connect()
    exprs = quality_duckdb_ppm("text")
    sql = (
        "SELECT doc_id, "
        + ", ".join(f"{exprs[n]} AS {n}" for n in names)
        + f" FROM read_parquet('{pq}') ORDER BY doc_id"
    )
    for row in con.execute(sql).fetchall():
        assert got[row[0]] == tuple(row[1:]), row[0]


# --- Arrow gate parity (the pipeline hot path) ---------------------------------------
from s2_geometry_library_php_spark.functions.quality_gates import (  # noqa: E402
    _signal_thunks,
)


def repetition_signals_ppm(text: str) -> dict[str, int]:
    """Every signal of the Arrow gate's kernel, evaluated (the gate
    itself stops at the first failing one)."""
    return {f"{n}_ppm": sig() for n, sig in _signal_thunks(text).items()}


# adversarial shapes for the exact twin: words containing newlines
# (tie-break order stress), multi-space runs (empty words), unicode
ADVERSARIAL = [
    (100, "b\na x b\na x"),          # gram strings contain '\n' < ' '
    (101, "a  b  a  b  a  b"),       # empty words from double spaces
    (102, "héllo wörld héllo wörld héllo wörld"),  # non-ASCII lengths
    (103, " leading and trailing "),
    (104, "\n\n\n"),                 # only empty lines
    (105, "tie tie tie bar bar bar"),  # 3-way count tie at 2-grams
]


@pytest.fixture(scope="module")
def parity_df(spark):
    rows = FIXTURES + ADVERSARIAL + [(999, None)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_signals_exact_twin_bit_identical(parity_df):
    """The Arrow gate's kernel (``_signal_thunks``) == the native
    ppm Columns, integer for integer."""
    got = _collect_signals(parity_df.where("text is not null"))
    for doc_id, text in FIXTURES + ADVERSARIAL:
        assert got[doc_id] == repetition_signals_ppm(text), (doc_id, text)


def test_arrow_gate_matches_native_on_fixtures(parity_df):
    for th in (None, {}, {"top2gram_char_fraction": 0.11}):
        kept_native = {
            r["doc_id"]
            for r in parity_df.where(native_gate(th)).collect()
        }
        kept_arrow = {
            r["doc_id"]
            for r in parity_df.where(
                repetition_gate_arrow("text", th)
            ).collect()
        }
        assert kept_native == kept_arrow, th
    assert 999 not in kept_native  # null text dropped by both


def test_arrow_gate_matches_native_on_testdata(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kept_native = {
        r["doc_id"]
        for r in docs.where(native_gate()).collect()
    }
    kept_arrow = {
        r["doc_id"]
        for r in docs.where(repetition_gate_arrow("text")).collect()
    }
    assert kept_native == kept_arrow
    assert 0 < len(kept_arrow) < docs.count()  # gate is non-trivial


def test_arrow_gate_unknown_signal_raises():
    with pytest.raises(KeyError):
        repetition_gate_arrow("text", {"not_a_signal": 0.5})


@settings(max_examples=4, deadline=None)
@given(st.lists(_webtext(), min_size=1, max_size=25))
def test_arrow_gate_fuzz_matches_native(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    # tight thresholds so the fuzz actually exercises both branches
    th = {n: 0.12 for n in DEFAULT_THRESHOLDS}
    kept_native = {
        r["doc_id"] for r in df.where(native_gate(th)).collect()
    }
    kept_arrow = {
        r["doc_id"] for r in df.where(repetition_gate_arrow("text", th)).collect()
    }
    assert kept_native == kept_arrow, texts


def test_arrow_gate_empty_frame(spark):
    # zero-row Arrow batches through the pandas UDF (driver smoke
    # gotcha: empty frames must not break the gate)
    df = spark.createDataFrame([], "doc_id long, text string")
    assert df.where(repetition_gate_arrow("text")).count() == 0
