"""PII redaction for web corpora (the scrub every published
pretraining pipeline runs before release: C4 drops pages on a
blocklist, CCNet/RefinedWeb/Dolma replace emails / IP addresses /
phone numbers with typed placeholder tokens so downstream models
never memorize them — Soldaini et al. 2024 §2.3, Penedo et al. 2023
§3.4).

Rule set (deterministic, documented, applied in this order so the
output is byte-reproducible):

1. **email** — ``local@domain.tld`` where local is
   ``[A-Za-z0-9._%+-]+``, the domain labels are alphanumeric/dot/
   hyphen and the TLD is >= 2 letters → ``<EMAIL>``.  Runs FIRST so
   the digit-bearing local parts ("john1984@…") can never be
   half-eaten by the phone pattern.
2. **IPv4** — four 1-3 digit octets joined by dots, word-bounded →
   ``<IP>``.  A second form takes a trailing ``.`` followed by the end
   or a non-digit, so a sentence-final address (``at 1.2.3.4.``) is
   redacted while a five-part dotted run is not.  Runs before phones
   so dotted quads never match the digit-run pattern.
3. **phone** — either a separator-form number ``\\d{3}[ -]\\d{3,4}
   [ -]\\d{4}`` (US/EU convention) or an E.164 international form
   ``+\\d{7,15}`` → ``<PHONE>``.  Deliberately conservative: bare
   undelimited digit runs are NOT redacted (they are overwhelmingly
   ids, prices, years — redacting them destroys factual text).

Everything is a chain of native ``regexp_replace`` / ``regexp_count``
expressions — JVM-side, whole-stage codegen, zero Python in the hot
path — with exact DuckDB twins for oracle checks.  The patterns use
only the regex subset where Java's engine and RE2 agree byte-for-byte
(character classes, bounded repetition, capturing groups with
capture-and-restore replacement; no lookaround, no pattern
backreferences) — NOT ``\\b``: Java's word boundary is
Unicode-aware (``é`` is a word char, so ``é555`` has no boundary)
while RE2's is ASCII-only, a divergence the hypothesis fuzz caught
on digit runs adjacent to non-ASCII letters.  Boundaries are
therefore explicit ASCII context classes ``(^|[^0-9A-Za-z_])``
captured and re-inserted by the replacement ($1 in Java, \\1 in
RE2), so the Spark output and the DuckDB twin are identical on any
input.  Two PII spans separated by a single character share one
context char, so one pass redacts only the first; every rule
therefore runs twice, in both engines alike.  The second pass
catches every span the first skipped (the skipped spans now sit
between placeholders, which hold no digits), and a third would change
nothing.

Scale shape: a per-row projection that rides the ingest scan — no
shuffle, no UDF.  Counting twins (:func:`pii_count_columns`) let a
pipeline report "n PII spans removed" per partition through the
metrics sink without a second pass.

No reference counterpart (the reference is a geometry library); this
is the LLM-data-pipeline layer (SURVEY "beyond the reference"),
feeding ``operators/corpus_pipeline.clean_corpus(redact_pii=True)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (name, pattern, spark_replacement, duckdb_replacement) — applied
#: in order; patterns restrict themselves to the Java-regex ∩ RE2
#: common subset (module docstring).  Context boundaries are explicit
#: ASCII classes captured and restored by the replacement (the two
#: engines' backref syntax differs: $n vs \n), never ``\b``.
#: Rules may repeat a name (phone has two forms); counts sum by name.
PII_RULES: tuple[tuple[str, str, str, str], ...] = (
    (
        "email",
        r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9\-]+(?:\.[A-Za-z0-9\-]+)*\.[A-Za-z]{2,}",
        "<EMAIL>",
        "<EMAIL>",
    ),
    (
        "ipv4",
        r"(^|[^0-9A-Za-z_.])((?:\d{1,3}\.){3}\d{1,3})($|[^0-9A-Za-z_.])",
        "$1<IP>$3",
        r"\1<IP>\3",
    ),
    (
        "ipv4",
        r"(^|[^0-9A-Za-z_.])((?:\d{1,3}\.){3}\d{1,3})\.($|[^0-9])",
        "$1<IP>.$3",
        r"\1<IP>.\3",
    ),
    (
        "phone",
        r"(^|[^0-9A-Za-z_])(\d{3}[ \-]\d{3,4}[ \-]\d{4})($|[^0-9A-Za-z_])",
        "$1<PHONE>$3",
        r"\1<PHONE>\3",
    ),
    (
        "phone",
        r"(\+\d{7,15})($|[^0-9A-Za-z_])",
        "<PHONE>$2",
        r"<PHONE>\2",
    ),
)


def redact_pii_column(text_col) -> Column:
    """``text_col`` with every PII span replaced by its typed
    placeholder — two native ``regexp_replace`` passes per rule,
    applied in the documented order."""
    out = F.col(text_col) if isinstance(text_col, str) else text_col
    for _, pattern, repl, _duck in PII_RULES:
        out = F.regexp_replace(F.regexp_replace(out, pattern, repl), pattern, repl)
    return out


def pii_count_columns(text_col) -> dict[str, Column]:
    """Per-type span counts on the ORIGINAL text (``n_email``,
    ``n_ipv4``, ``n_phone``) — native ``regexp_count``, same
    patterns (same-name rules sum), counting both passes of each rule.
    Count before redacting: after replacement the spans are gone."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    out: dict[str, Column] = {}
    for name, pattern, repl, _duck in PII_RULES:
        c = F.regexp_count(col, F.lit(pattern)) + F.regexp_count(
            F.regexp_replace(col, pattern, repl), F.lit(pattern)
        )
        key = f"n_{name}"
        out[key] = (out[key] + c) if key in out else c
    return out


def redact_pii_duckdb(text_expr: str) -> str:
    """DuckDB scalar expression computing the byte-identical redacted
    text ('g' flag matches Spark's always-global replace; patterns
    are single-quote-free so plain literal embedding is safe)."""
    out = text_expr
    for _, pattern, _repl, duck_repl in PII_RULES:
        for _pass in range(2):
            out = f"regexp_replace({out}, '{pattern}', '{duck_repl}', 'g')"
    return out


def pii_count_duckdb(text_expr: str) -> dict[str, str]:
    """DuckDB twins of :func:`pii_count_columns` (RE2
    ``regexp_extract_all`` list length == Spark ``regexp_count``;
    same-name rules sum)."""
    out: dict[str, str] = {}
    for name, pattern, _repl, duck_repl in PII_RULES:
        once = f"regexp_replace({text_expr}, '{pattern}', '{duck_repl}', 'g')"
        term = (
            f"len(regexp_extract_all({text_expr}, '{pattern}')) + "
            f"len(regexp_extract_all({once}, '{pattern}'))"
        )
        key = f"n_{name}"
        out[key] = f"{out[key]} + {term}" if key in out else term
    return {k: f"CAST({v} AS INTEGER)" for k, v in out.items()}


def synth_pii_text_sql(id_col: str = "doc_id") -> str:
    """Deterministic 'leaky web page' generator as a SQL scalar valid
    in BOTH Spark SQL and DuckDB — shared by tests and oracles so both
    engines redact byte-identical input.  Cycles every rule plus
    near-miss decoys (bare digit runs, short version strings) that
    must NOT be redacted."""
    d = id_col
    return (
        f"'Contact user' || CAST({d} % 50 AS STRING) || "
        f"CASE {d} % 5 "
        f"WHEN 0 THEN ' at bob.smith+' || CAST({d} % 9 AS STRING) "
        f"|| '@Mail-Host' || CAST({d} % 7 AS STRING) || '.example.org ' "
        f"WHEN 1 THEN ' via 10.' || CAST({d} % 256 AS STRING) || '.0.' "
        f"|| CAST({d} % 100 AS STRING) || ' today ' "
        f"WHEN 2 THEN ' on 555-' || CAST(100 + {d} % 900 AS STRING) "
        f"|| '-' || CAST(1000 + {d} % 9000 AS STRING) || ' now ' "
        f"WHEN 3 THEN ' or +4915' || CAST(1000000 + {d} % 899999 AS STRING) "
        f"|| ' anytime ' "
        f"ELSE ' (order #' || CAST(100000 + {d} AS STRING) "
        f"|| ', v1.2.3, year 2026) ' END || "
        f"'regarding item ' || CAST({d} AS STRING)"
    )


def redact_pii(
    docs: DataFrame, text_col: str = "text", with_counts: bool = False
) -> DataFrame:
    """``docs`` with ``text_col`` redacted in place; ``with_counts``
    additionally attaches the per-type span counts (measured on the
    pre-redaction text).  Pure projection — no shuffle."""
    out = docs
    if with_counts:
        for name, col in pii_count_columns(text_col).items():
            out = out.withColumn(name, col)
    return out.withColumn(text_col, redact_pii_column(text_col))
