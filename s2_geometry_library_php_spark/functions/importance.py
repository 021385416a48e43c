"""DSIR-style data-selection scoring (Xie et al. 2023, "Data
Selection for Language Models via Importance Resampling"): score every
corpus document by how much more likely its hashed-unigram profile is
under a TARGET distribution (the domain you want more of) than under
the BACKGROUND (the raw crawl), then keep the high scorers.

Pipeline shape:

1. **bucket hash** — each word hashes to one of ``n_buckets`` buckets
   via a polynomial codepoint hash (``(acc*31 + codepoint) mod
   1000003``, then mod ``n_buckets``).  Engine-exact: Spark's
   ``aggregate(split(w,''), ...)`` over ``ascii`` and DuckDB's
   ``list_reduce``/``string_split`` produce identical codepoints and
   identical integer arithmetic (verified on non-BMP emoji, empty
   strings, unicode confusables).  DSIR's hashing is what bounds the
   model: ``n_buckets`` doubles, not an open vocabulary.
2. **bucket distributions** — Laplace-smoothed occurrence
   frequencies of target and background: one ``groupBy(bucket)`` each,
   output bounded by ``n_buckets``.
3. **integer micro-LLR weights** — ``w(b) = round(1e6 * (ln
   p_target(b) - ln p_background(b)))`` as BIGINT.  Quantizing the
   per-bucket weight ONCE makes every downstream score an exact
   integer sum: no float associativity drift between partitions,
   engines, or reruns (knife-edge ties of ``round`` at the 1e-6 digit
   are measure-zero on log ratios).
4. **document score** — ``sum(w(bucket(word)))`` over the document's
   words, computed as a PURE PROJECTION: the bounded weight table
   collects into an array literal (a planning-sized driver collect,
   like the salt histogram) and the score is a native
   transform/aggregate expression per row.

Scale shape at 10^12 docs: the corpus is NEVER exchanged — scoring is
scan → project with zero shuffles and zero joins; the distribution
passes shuffle at most ``n_buckets`` rows after map-side combine, and
the target set is domain-sized and reduces to ``n_buckets`` rows
immediately.

No reference counterpart (the reference is a geometry library); this
is the LLM-data-pipeline layer (SURVEY "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: polynomial-hash modulus (prime, keeps the accumulator < 2^20 so
#: acc*31 + codepoint never nears 2^63)
HASH_MOD = 1000003

#: default bucket count — DSIR's published scale for unigram models
DEFAULT_BUCKETS = 8192

#: micro-LLR quantization: weights are round(1e6 * llr) as BIGINT
LLR_SCALE = 1_000_000


def word_bucket_sql(word_expr: str, n_buckets: int) -> str:
    """The bucket of ``word_expr`` as a SQL scalar valid in BOTH
    Spark SQL and DuckDB... almost: the char-split/reduce syntax
    differs, so this returns the SPARK form; use
    :func:`word_bucket_duckdb` for the twin.  Kept separate because
    each engine's higher-order-function dialect is different while
    the arithmetic is identical."""
    return (
        f"aggregate(split({word_expr}, ''), 0L, "
        f"(acc, c) -> (acc * 31 + ascii(c)) % {HASH_MOD}) % {n_buckets}"
    )


def word_bucket_duckdb(word_expr: str, n_buckets: int) -> str:
    """DuckDB twin of :func:`word_bucket_sql` (identical integer
    arithmetic over identical codepoints)."""
    return (
        f"list_reduce(list_prepend(0, list_transform("
        f"string_split({word_expr}, ''), c -> ascii(c))), "
        f"(acc, x) -> (acc * 31 + x) % {HASH_MOD}) % {n_buckets}"
    )


def bucket_weights(
    target: DataFrame,
    background: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    text_col: str = "text",
) -> DataFrame:
    """``(bucket, weight)`` — integer micro-LLR per bucket (module
    docstring step 2-3).  Buckets absent from both corpora get weight
    from the smoothing alone (ln(Nb+B) - ln(Nt+B) scaled), so the
    output always has exactly ``n_buckets`` rows."""
    def counts(df: DataFrame, name: str) -> DataFrame:
        w = df.select(
            F.explode(F.split(F.col(text_col), " ")).alias("_w")
        ).select(F.expr(word_bucket_sql("_w", n_buckets)).alias("bucket"))
        return w.groupBy("bucket").agg(F.count("*").alias(name))

    spark = target.sparkSession
    all_buckets = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    t = counts(target, "ct")
    b = counts(background, "cb")
    joined = (
        all_buckets.join(t, "bucket", "left")
        .join(b, "bucket", "left")
        .fillna(0, ["ct", "cb"])
    )
    # Every word maps to exactly ONE bucket, so the corpus totals are
    # sum(ct)/sum(cb) over the already-aggregated n_buckets-row frame —
    # a whole-frame window over <= n_buckets rows.  The eager
    # per-corpus F.sum(size(split(...))) collects this replaces each
    # re-scanned the full corpus (for dsir_select, the background IS
    # the corpus) just to fetch one number.
    from pyspark.sql import Window

    w_all = Window.partitionBy(F.lit(1))
    nt = F.sum("ct").over(w_all)
    nb = F.sum("cb").over(w_all)
    bb = F.lit(n_buckets)
    llr = F.log((F.col("ct") + 1) / (nt + bb)) - F.log(
        (F.col("cb") + 1) / (nb + bb)
    )
    return joined.select(
        "bucket",
        F.round(llr * F.lit(LLR_SCALE)).cast("long").alias("weight"),
    )


def importance_scores(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``docs`` plus ``importance_score`` (BIGINT micro-LLR sum over
    the document's words; empty docs score the empty-word bucket's
    weight times one — deterministic like everything else).

    Corpus plan: ZERO shuffles and zero joins.  The weight table is
    ``n_buckets`` rows BY DESIGN (that bound is what DSIR's hashing
    buys), so it collects driver-side — the same planning-sized
    collect class as the salt histogram — into an array literal, and
    each document's score is a pure per-row expression: transform
    words → bucket → ``element_at`` into the literal → sum.  The
    join-back formulation this replaces planned a corpus-wide
    SortMergeJoin on ``id_col`` (the whole corpus exchanged twice);
    this one never exchanges the corpus at all."""
    arr = [0] * n_buckets
    for r in weights.collect():  # <= n_buckets rows, planning-sized
        arr[int(r["bucket"])] = int(r["weight"])
    arr_lit = F.lit(arr)
    words = F.split(F.col(text_col), " ")

    def bucket_of(w: Column) -> Column:
        return (
            F.aggregate(
                F.split(w, ""),
                F.lit(0).cast("long"),
                lambda acc, c: (acc * F.lit(31) + F.ascii(c))
                % F.lit(HASH_MOD),
            )
            % F.lit(n_buckets)
        )

    score = F.aggregate(
        F.transform(
            words,
            lambda w: F.element_at(
                arr_lit, (bucket_of(w) + F.lit(1)).cast("int")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # NULL text scores 0, matching the DuckDB twin's LEFT JOIN +
    # COALESCE (unnest of NULL emits no rows there; here split(NULL)
    # would otherwise propagate NULL and dsir_select would drop the
    # row in one engine but keep it in the other)
    return docs.withColumn("importance_score", F.coalesce(score, F.lit(0)))


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    min_score: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-call DSIR selection: weights from (target, docs-as-
    background), scores attached, rows below ``min_score`` dropped.
    ``min_score=0`` keeps documents that look more target-like than
    background-like — the published decision boundary."""
    w = bucket_weights(target, docs, n_buckets, text_col)
    return importance_scores(docs, w, n_buckets, text_col, id_col).where(
        F.col("importance_score") >= F.lit(int(min_score))
    )


def importance_scores_duckdb_cte(
    n_buckets: int,
    target_rel: str,
    docs_rel: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB query yielding ``(id_col, importance_score)`` for every
    row of ``docs_rel`` (background = ``docs_rel``) — the engine-
    exact twin of :func:`bucket_weights` + :func:`importance_scores`.
    Identical integer hash, identical Laplace smoothing, identical
    micro-LLR quantization, exact BIGINT sums."""
    wb = word_bucket_duckdb("w", n_buckets)
    return f"""
WITH tw AS (
  SELECT {wb} AS bucket FROM (
    SELECT unnest(string_split(t.{text_col}, ' ')) AS w FROM {target_rel} t
  )
), bw AS (
  SELECT {wb} AS bucket FROM (
    SELECT unnest(string_split(d.{text_col}, ' ')) AS w FROM {docs_rel} d
  )
), tc AS (SELECT bucket, count(*) AS ct FROM tw GROUP BY bucket),
bc AS (SELECT bucket, count(*) AS cb FROM bw GROUP BY bucket),
nt AS (SELECT count(*) AS n FROM tw),
nb AS (SELECT count(*) AS n FROM bw),
wts AS (
  SELECT g.bucket,
         CAST(round({LLR_SCALE} * (
           ln((COALESCE(tc.ct, 0) + 1.0) / (nt.n + {n_buckets})) -
           ln((COALESCE(bc.cb, 0) + 1.0) / (nb.n + {n_buckets}))
         )) AS BIGINT) AS weight
  FROM (SELECT CAST(range AS INT) AS bucket
        FROM range(0, {n_buckets})) g
  LEFT JOIN tc ON tc.bucket = g.bucket
  LEFT JOIN bc ON bc.bucket = g.bucket
  CROSS JOIN nt CROSS JOIN nb
), dwb AS (
  SELECT {id_col}, {wb} AS bucket FROM (
    SELECT d.{id_col}, unnest(string_split(d.{text_col}, ' ')) AS w
    FROM {docs_rel} d
  )
), ds AS (
  SELECT dwb.{id_col}, sum(wts.weight) AS importance_score
  FROM dwb JOIN wts USING (bucket)
  GROUP BY dwb.{id_col}
)
SELECT d.{id_col},
       COALESCE(ds.importance_score, 0) AS importance_score
FROM {docs_rel} d LEFT JOIN ds ON ds.{id_col} = d.{id_col}
"""
