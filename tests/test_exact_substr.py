"""Token-span exact-substring dedup (functions/exact_substr.py):
keep-first span removal, island merging, thresholds, short-doc and
column preservation, and a hypothesis fuzz against the pure-Python
twin."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.functions.exact_substr import (
    duplicate_grams,
    duplicate_spans,
    strip_duplicate_spans,
    strip_duplicate_spans_py,
)

K = 8

#: a 24-token region shared verbatim by two documents
REGION = " ".join(f"shared{i}" for i in range(24))
PRE_A = " ".join(f"apre{i}" for i in range(5))
POST_A = " ".join(f"apost{i}" for i in range(6))
PRE_B = " ".join(f"bpre{i}" for i in range(7))
POST_B = " ".join(f"bpost{i}" for i in range(4))


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _collect(df):
    return {r["doc_id"]: r["text"] for r in df.collect()}


def test_second_doc_loses_exactly_the_shared_region(spark):
    rows = [
        (1, f"{PRE_A} {REGION} {POST_A}"),
        (2, f"{PRE_B} {REGION} {POST_B}"),
    ]
    out = _collect(strip_duplicate_spans(_mkdocs(spark, rows), k=K))
    assert out[1] == rows[0][1]  # global first copy kept verbatim
    assert out[2] == f"{PRE_B} {POST_B}"


def test_overlapping_grams_merge_to_one_span(spark):
    rows = [
        (1, f"{PRE_A} {REGION} {POST_A}"),
        (2, f"{PRE_B} {REGION} {POST_B}"),
    ]
    spans = duplicate_spans(_mkdocs(spark, rows), k=K).collect()
    # the 24-token region yields 24-K+1 duplicated grams but ONE island
    assert len(spans) == 1
    (s,) = spans
    assert s["doc_id"] == 2
    assert s["span_start"] == 7  # after bpre0..bpre6
    assert s["span_end"] == 7 + 24


def test_within_doc_repeat_keeps_first_occurrence(spark):
    phrase = " ".join(f"loop{i}" for i in range(K))
    rows = [(3, f"{phrase} {PRE_A} {phrase}")]
    out = _collect(strip_duplicate_spans(_mkdocs(spark, rows), k=K))
    assert out[3] == f"{phrase} {PRE_A}"


def test_keep_first_false_removes_all_copies(spark):
    rows = [
        (1, f"{PRE_A} {REGION}"),
        (2, f"{PRE_B} {REGION}"),
    ]
    out = _collect(
        strip_duplicate_spans(_mkdocs(spark, rows), k=K, keep_first=False)
    )
    assert out[1] == PRE_A
    assert out[2] == PRE_B


def test_min_count_threshold(spark):
    rows = [
        (1, f"{PRE_A} {REGION}"),
        (2, f"{PRE_B} {REGION}"),
    ]
    # a pair is below min_count=3 -> nothing marked, texts unchanged
    df = _mkdocs(spark, rows)
    assert duplicate_grams(df, k=K, min_count=3).count() == 0
    out = _collect(strip_duplicate_spans(df, k=K, min_count=3))
    assert out == dict(rows)


def test_short_docs_untouched(spark):
    rows = [(1, "tiny doc"), (2, "tiny doc"), (3, "")]
    out = _collect(strip_duplicate_spans(_mkdocs(spark, rows), k=K))
    assert out == dict(rows)


def test_rows_and_columns_preserved(spark):
    rows = [
        (1, f"{PRE_A} {REGION}", "en"),
        (2, f"{PRE_B} {REGION}", "de"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    out = strip_duplicate_spans(df, k=K)
    assert out.count() == 2
    assert out.columns == ["doc_id", "text", "lang"]
    assert {r["lang"] for r in out.collect()} == {"en", "de"}


def test_matches_python_twin_on_handwritten_corpus(spark):
    rows = [
        (10, f"{PRE_A} {REGION} {POST_A}"),
        (11, f"{PRE_B} {REGION} {POST_B}"),
        (12, REGION),
        (13, f"{REGION} {REGION}"),
        (14, PRE_A),
        (15, ""),
    ]
    out = _collect(strip_duplicate_spans(_mkdocs(spark, rows), k=K))
    assert out == strip_duplicate_spans_py(rows, k=K)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta"]),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=2, max_value=4),
    keep_first=st.booleans(),
)
@settings(max_examples=4, deadline=None)
def test_fuzz_matches_python_twin(spark, texts, k, keep_first):
    rows = [(i, t) for i, t in enumerate(texts)]
    out = _collect(
        strip_duplicate_spans(
            _mkdocs(spark, rows), k=k, keep_first=keep_first
        )
    )
    assert out == strip_duplicate_spans_py(rows, k=k, keep_first=keep_first)
