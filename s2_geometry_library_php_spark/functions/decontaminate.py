"""Benchmark decontamination for training corpora (the eval-overlap
scrub every published model card documents: GPT-3 dropped training
documents sharing 13-grams with benchmark data — Brown et al. 2020
appendix C; PaLM, Llama and Dolma run the same n-gram-collision rule
— Soldaini et al. 2024 §2.4).

Semantics: a document is *contaminated* iff at least one of its word
``n``-grams (single-space tokenization, the engine's standard —
``functions/quality_gates._grams``) appears anywhere in the benchmark
set.  ``mode='drop'`` removes contaminated documents; ``mode='flag'``
keeps them with a boolean column (the auditable form).

Scale shape — benchmark sets are eval-sized (10^3..10^6 grams), the
corpus is 10^12 documents, so the plan must never shuffle the corpus:

* the benchmark's distinct gram set reduces on the SMALL side only
  (one tiny shuffle) and broadcasts;
* corpus grams are generated by a native ``transform``/``explode``
  projection that rides the ingest scan, probed against the broadcast
  hash relation, and collapsed back to doc level by a semi-join —
  Catalyst plans the whole thing as scan → generate → two
  BroadcastHashJoins, zero exchanges on the corpus side;
* gram explosion multiplies rows by ~words-per-doc but each row is a
  probe-and-drop against a broadcast set — no wide state.

DuckDB twin (:func:`contaminated_duckdb_cte`) computes the identical
flag for oracle checks.  No reference counterpart (the reference is a
geometry library); this is the LLM-data-pipeline layer (SURVEY
"beyond the reference"), feeding
``operators/corpus_pipeline.clean_corpus(decontaminate_against=...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .quality_gates import _grams

#: GPT-3's published collision width; tests and the synthetic-corpus
#: oracle use smaller n because tiny vocabularies make 13-grams
#: collision-free
DEFAULT_NGRAM = 13


def doc_ngrams(
    docs: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id_col, gram)`` — one row per word-``n``-gram occurrence.
    Pure projection + generate: no shuffle."""
    words = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col), F.explode(_grams(words, n)).alias("gram")
    )


def benchmark_grams(
    benchmark: DataFrame, n: int, text_col: str = "text"
) -> DataFrame:
    """The benchmark's DISTINCT gram set — the broadcast side.  The
    distinct is one shuffle of eval-sized data."""
    words = F.split(F.col(text_col), " ")
    return (
        benchmark.select(F.explode(_grams(words, n)).alias("gram"))
        .distinct()
    )


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = DEFAULT_NGRAM,
    text_col: str = "text",
    bench_text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct ids of documents sharing >= 1 ``n``-gram with the
    benchmark.  Corpus side: generate → broadcast semi-join →
    doc-level distinct (partial-aggregated map-side, so the shuffle
    carries at most one row per contaminated doc)."""
    grams = doc_ngrams(docs, n, text_col, id_col)
    bench = F.broadcast(benchmark_grams(benchmark, n, bench_text_col))
    return grams.join(bench, "gram", "left_semi").select(id_col).distinct()


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = DEFAULT_NGRAM,
    mode: str = "drop",
    text_col: str = "text",
    bench_text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``mode='drop'``: docs with contaminated rows anti-joined away.
    ``mode='flag'``: all docs plus boolean ``is_contaminated``."""
    if mode not in ("drop", "flag"):
        raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")
    hits = contaminated_ids(
        docs, benchmark, n, text_col, bench_text_col, id_col
    )
    if mode == "drop":
        return docs.join(hits, id_col, "left_anti")
    flagged = hits.withColumn("is_contaminated", F.lit(True))
    return docs.join(flagged, id_col, "left").withColumn(
        "is_contaminated",
        F.coalesce(F.col("is_contaminated"), F.lit(False)),
    )


def grams_duckdb(text_expr: str, n: int) -> str:
    """DuckDB SCALAR expression: the list of word-``n``-grams of
    ``text_expr``.  Twin of :func:`~.quality_gates._grams`'s
    tokenization: split on single space, grams joined by single space
    (scalar ``range(a, b)`` is end-exclusive, hence the ``+ 2``)."""
    w = f"string_split({text_expr}, ' ')"
    return (
        f"list_transform(range(1, greatest(len({w}) - {n} + 2, 1)), "
        f"i -> array_to_string(list_slice({w}, i, i + {n} - 1), ' '))"
    )


def contaminated_duckdb_cte(
    n: int,
    bench_rel: str,
    docs_rel: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """A DuckDB query yielding ``(id_col, is_contaminated)`` for
    every row of ``docs_rel`` — the engine-exact twin of
    ``decontaminate(mode='flag')``, shaped like the Spark plan
    (explode both sides, equi-join on gram, doc-level distinct)."""
    return f"""
WITH bg AS (
  SELECT DISTINCT unnest({grams_duckdb(f'b.{text_col}', n)}) AS gram
  FROM {bench_rel} b
), dg AS (
  SELECT d.{id_col}, unnest({grams_duckdb(f'd.{text_col}', n)}) AS gram
  FROM {docs_rel} d
), hits AS (
  SELECT DISTINCT {id_col} FROM dg JOIN bg USING (gram)
)
SELECT d.{id_col},
       d.{id_col} IN (SELECT {id_col} FROM hits) AS is_contaminated
FROM {docs_rel} d
"""
