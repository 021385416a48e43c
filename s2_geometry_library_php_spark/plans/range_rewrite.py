"""Ad-hoc SQL range-predicate rewrite: ``leaf BETWEEN cell_min AND
cell_max`` θ-joins become banded-prefix hash equi-joins.

The operator API (``operators.spatial_join``) looks coverings up
inside the scan and needs no join, but a SQL user writing the natural
range predicate against a covering table gets a BroadcastNestedLoopJoin —
every probe row tested against every range (the exact shape the
reference's contiguous-range trick exists to avoid,
S2CellId.php:293-324, S2EdgeIndex.php:385-420).  SURVEY §4.2 marks
this auto-rewrite as the one candidate for a custom Catalyst rule;
this module realizes it *without* a JVM rule, as a deterministic
source-level rewrite:

* ``range_join`` — DataFrame form.  For every (cell_min, cell_max)
  pair that is a valid cell descendant range (rangeMin/rangeMax of
  some cell — what covering tables contain by construction), the
  membership test ``leaf BETWEEN min AND max`` is EXACTLY equivalent
  to ``s2_parent(leaf, level(cell)) = cell``.  Ranges are banded by
  level (≤ 31 bands, collected from the dimension side in one tiny
  action); the probe emits one parent key per band and the join is a
  plain hash equi-join on (level, key).  Rows whose (min, max) do NOT
  form a valid cell range — arbitrary intervals — are routed through
  a residual θ-join arm, so the rewrite is semantics-preserving for
  ANY input, not just cell-shaped ranges; the residual arm is skipped
  entirely when the (tiny) dimension scan finds none.

* ``rewrite_range_join_sql`` — SQL text form.  Pattern-matches the
  canonical single-join shape ``... FROM <probe> p JOIN <ranges> r ON
  p.leaf BETWEEN r.lo AND r.hi ...`` AND the comma-FROM predicate
  shape ``... FROM [t0 x,] <probe> p, <ranges> r WHERE p.leaf BETWEEN
  r.lo AND r.hi [AND ...] ...`` (extra FROM tables are carried
  through unchanged); on a match the probe/ranges pair is swapped for
  a temp view holding ``range_join``'s output and their alias
  qualifiers are stripped.  Anything that does not match cleanly (or
  would make a stripped column ambiguous, or contains quoted string
  literals the textual strip could corrupt) falls back to
  ``spark.sql`` unchanged WITH a logged warning — the rewrite never
  changes results, only the physical plan, and it never declines
  silently.
"""

from __future__ import annotations

import itertools
import logging
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sql_bitops import MAX_LEVEL, s2_parent

_rj_counter = itertools.count()
_log = logging.getLogger(__name__)


def _valid_cell_range(lo, hi):
    """(lo, hi) is rangeMin/rangeMax of some cell  ⟺  span = hi-lo is
    2*(lsb-1) for a power-of-4 lsb whose bit is the candidate cell's
    lowest set bit.  ALL-INTEGER column arithmetic: 64-bit cell ids
    exceed double's 53-bit mantissa, so any float step misclassifies
    (a) non-cell intervals near 2^61 as valid (wrong join rows) and
    (b) fine-level ranges with |id| > 2^53 as invalid (silent
    fallback to the θ-arm).  ``try_subtract``/``try_add`` keep the
    check total for adversarial intervals that would overflow signed
    longs (null ⇒ not a cell range ⇒ residual arm).

    Returns (valid, cell, level) — level derived from lsb here so the
    caller never needs ``-cell`` (which traps on Long.MIN_VALUE under
    ANSI mode)."""
    span = F.try_subtract(hi, lo)  # null on signed overflow
    lsb = F.shiftright(span, 1) + F.lit(1)  # exact: span >= 0 checked below
    cell = F.try_add(lo, lsb - F.lit(1))
    is_pow = lsb.bitwiseAND(lsb - F.lit(1)) == F.lit(0)
    # lsb must sit on an even bit (level quantum is 2 bits) => set bit
    # count of (lsb-1) even
    even_bit = F.bit_count(lsb - F.lit(1)) % F.lit(2) == F.lit(0)
    # cell & -cell == lsb, negation-free: low bits below lsb all zero
    # and the lsb bit itself set
    low_bits = (cell.bitwiseAND(lsb - F.lit(1)) == F.lit(0)) & (
        cell.bitwiseAND(lsb) != F.lit(0)
    )
    # the trailing-bit pattern alone admits PSEUDO-cells outside the
    # S2 keyspace, where the equi-join arm would diverge from the
    # literal theta-join: lsb > 2^60 ("level -1", e.g. the interval
    # [1, 2^63-1] whose candidate cell 2^62 parents only faces 0-1),
    # and face bits 110/111 (a face-6/7 "cell" whose range dips into
    # face-5 leaves that s2_parent can never map back to it).  Bound
    # both: level in [0,30] and face < 6.
    in_keyspace = (lsb <= F.lit(1 << 60)) & (
        F.shiftrightunsigned(cell, 61) < F.lit(6)
    )
    valid = F.coalesce(
        (span >= F.lit(0))
        & (span.bitwiseAND(F.lit(1)) == F.lit(0))
        & is_pow
        & even_bit
        & low_bits
        & in_keyspace,
        F.lit(False),
    )
    level = (
        F.lit(MAX_LEVEL) - F.shiftright(F.bit_count(lsb - F.lit(1)), 1)
    ).cast("int")
    return valid, cell, level


def range_join(
    probe: DataFrame,
    ranges: DataFrame,
    leaf_col: str,
    min_col: str,
    max_col: str,
    broadcast: bool = True,
) -> DataFrame:
    """Equi-join rewrite of ``probe.leaf BETWEEN ranges.min AND
    ranges.max``.  Output columns: all probe columns then all ranges
    columns (SQL join order).  ``broadcast=True`` hints the dimension
    side (covering tables are dimension-sized by contract); set False
    to let AQE decide for a large build side."""
    valid, cell, lvl = _valid_cell_range(F.col(min_col), F.col(max_col))
    tagged = ranges.withColumn("__rj_valid", valid).withColumn(
        "__rj_cell", cell
    )

    # one tiny action on the dimension side: bands present + residual?
    census = (
        tagged.groupBy(F.when(F.col("__rj_valid"), lvl).alias("__rj_level"))
        .count()
        .collect()
    )
    levels = sorted(
        int(r["__rj_level"]) for r in census if r["__rj_level"] is not None
    )
    has_residual = any(r["__rj_level"] is None for r in census)

    build_valid = tagged.where("__rj_valid").withColumn("__rj_level", lvl)
    if broadcast:
        build_valid = F.broadcast(build_valid)

    out_cols = [f"p.{c}" for c in probe.columns] + [
        f"r.{c}" for c in ranges.columns
    ]
    parts = []
    if levels:
        keys = F.array(
            *[
                F.struct(
                    F.lit(lv).cast("int").alias("__rj_level"),
                    s2_parent(F.col(leaf_col), lv).alias("__rj_key"),
                )
                for lv in levels
            ]
        )
        probe_keys = probe.withColumn("__rj_k", F.explode(keys)).select(
            *probe.columns,
            F.col("__rj_k.__rj_level").alias("__rj_level"),
            F.col("__rj_k.__rj_key").alias("__rj_key"),
        )
        parts.append(
            probe_keys.alias("p")
            .join(
                build_valid.alias("r"),
                (F.col("p.__rj_level") == F.col("r.__rj_level"))
                & (F.col("p.__rj_key") == F.col("r.__rj_cell")),
            )
            .select(*out_cols)
        )
    if has_residual:
        resid = tagged.where(~F.col("__rj_valid"))
        if broadcast:
            resid = F.broadcast(resid)
        parts.append(
            probe.alias("p")
            .join(
                resid.alias("r"),
                F.col(f"p.{leaf_col}").between(
                    F.col(f"r.{min_col}"), F.col(f"r.{max_col}")
                ),
            )
            .select(*out_cols)
        )
    if not parts:  # empty ranges table
        return probe.alias("p").join(
            ranges.alias("r"), F.lit(False)
        ).select(*out_cols)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# canonical single-JOIN shape:
#   ... FROM probe p JOIN ranges r ON p.leaf BETWEEN r.lo AND r.hi ...
_SQL_PAT_JOIN = re.compile(
    r"^(?P<head>\s*SELECT\b.*?\bFROM)\s+"
    r"(?P<t1>[\w.]+)\s+(?:AS\s+)?(?P<a>\w+)\s+"
    r"JOIN\s+(?P<t2>[\w.]+)\s+(?:AS\s+)?(?P<b>\w+)\s+"
    r"ON\s+(?P<qa>\w+)\.(?P<leaf>\w+)\s+BETWEEN\s+"
    r"(?P<qb1>\w+)\.(?P<mn>\w+)\s+AND\s+(?P<qb2>\w+)\.(?P<mx>\w+)"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)

# comma-FROM / WHERE-predicate shape (also the multi-table form):
#   ... FROM t0 x, probe p, ranges r
#   WHERE p.leaf BETWEEN r.lo AND r.hi [AND ...] ...
_SQL_PAT_WHERE = re.compile(
    r"^(?P<head>\s*SELECT\b.*?\bFROM)\s+"
    r"(?P<tables>[\w.]+\s+(?:AS\s+)?\w+(?:\s*,\s*[\w.]+\s+(?:AS\s+)?\w+)*)\s+"
    r"WHERE\s+(?P<qa>\w+)\.(?P<leaf>\w+)\s+BETWEEN\s+"
    r"(?P<qb1>\w+)\.(?P<mn>\w+)\s+AND\s+(?P<qb2>\w+)\.(?P<mx>\w+)"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)

_TBL_ALIAS = re.compile(
    r"^([\w.]+)\s+(?:AS\s+)?(\w+)$", re.IGNORECASE
)

# What may legally follow the matched BETWEEN in the re-assembled SQL.
# Anything else (an OR disjunction, arithmetic on a range bound, a
# trailing semicolon, ...) means the textual splice would produce
# invalid or wrong SQL -> fall back to the literal theta-join.
_CLAUSE_KW = re.compile(
    r"^(?:GROUP|ORDER|LIMIT|HAVING|WINDOW|UNION)\b", re.IGNORECASE
)
# the warning is about genuine range theta-joins only: a two-sided
# column BETWEEN (qualifier.col BETWEEN qualifier.col AND ...), not a
# scalar-literal BETWEEN filter that hash-plans fine
_COL_BETWEEN = re.compile(
    r"\w+\.\w+\s+BETWEEN\s+\w+\.", re.IGNORECASE
)


def _fallback(spark: SparkSession, sql: str, why: str) -> DataFrame:
    """Run the SQL unchanged, but LOUDLY: a BETWEEN θ-join that the
    rewrite declines is exactly the BroadcastNestedLoopJoin shape the
    module exists to remove, so the decline is logged, never silent."""
    if _COL_BETWEEN.search(sql):
        _log.warning(
            "rewrite_range_join_sql: falling back to the literal "
            "theta-join (%s); expect a nested-loop plan. SQL: %.200s",
            why,
            sql,
        )
    return spark.sql(sql)


def rewrite_range_join_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Run ``sql``, auto-rewriting the cell-range θ-join to the
    banded-prefix equi-join when the text matches either the single
    ``JOIN ... ON leaf BETWEEN`` shape or the (multi-table) comma-FROM
    ``WHERE leaf BETWEEN`` shape; otherwise (or when the rewrite would
    be ambiguous) identical to ``spark.sql(sql)`` plus a logged
    warning.  The rewrite never changes results, only the plan."""
    # Alias-qualifier stripping is textual; a quoted literal like
    # 'p.foo' would be corrupted by it, so any quoted span disables
    # the rewrite outright (conservative and cheap).
    if "'" in sql or '"' in sql:
        return _fallback(spark, sql, "quoted string literal present")

    m = _SQL_PAT_JOIN.match(sql)
    if m:
        g = m.groupdict()
        if g["qa"] != g["a"] or g["qb1"] != g["b"] or g["qb2"] != g["b"]:
            return _fallback(spark, sql, "qualifier/alias mismatch")
        others = []
        stripped = g["rest"].lstrip()
        if stripped and not re.match(
            r"^WHERE\b", stripped, re.IGNORECASE
        ) and not _CLAUSE_KW.match(stripped):
            # e.g. a compound ON (... AND p.x = r.y) — the splice
            # would emit "FROM <view> AND ..." which does not parse
            return _fallback(
                spark, sql, "unsupported ON-clause continuation"
            )
    else:
        m = _SQL_PAT_WHERE.match(sql)
        if not m:
            return _fallback(spark, sql, "no recognized join shape")
        g = m.groupdict()
        if g["qb1"] != g["qb2"] or g["qa"] == g["qb1"]:
            return _fallback(spark, sql, "qualifier/alias mismatch")
        alias_to_tbl = {}
        order = []
        for part in re.split(r"\s*,\s*", g["tables"].strip()):
            tm = _TBL_ALIAS.match(part)
            if not tm:
                return _fallback(spark, sql, "unparseable FROM list")
            alias_to_tbl[tm.group(2)] = tm.group(1)
            order.append(tm.group(2))
        if g["qa"] not in alias_to_tbl or g["qb1"] not in alias_to_tbl:
            return _fallback(spark, sql, "BETWEEN aliases not in FROM")
        g["a"], g["b"] = g["qa"], g["qb1"]
        g["t1"], g["t2"] = alias_to_tbl[g["a"]], alias_to_tbl[g["b"]]
        others = [
            (alias_to_tbl[al], al)
            for al in order
            if al not in (g["a"], g["b"])
        ]
        # remaining WHERE predicates (if any) re-attach after the view
        rest = g["rest"]
        stripped = rest.lstrip()
        if re.match(r"^AND\b", stripped, re.IGNORECASE):
            g["rest"] = " WHERE " + stripped[3:].lstrip()
        elif stripped and not _CLAUSE_KW.match(stripped):
            # OR-disjunctions and arithmetic on a bound (BETWEEN
            # r.lo AND r.hi + 1) change the predicate itself; the
            # rewrite cannot represent them — run the SQL unchanged
            return _fallback(
                spark, sql, "unsupported WHERE-clause continuation"
            )

    probe = spark.table(g["t1"])
    ranges = spark.table(g["t2"])
    taken = set(probe.columns) | set(ranges.columns)
    dup = set(probe.columns) & set(ranges.columns)
    if dup or g["leaf"] not in probe.columns or not {
        g["mn"], g["mx"]
    } <= set(ranges.columns):
        return _fallback(spark, sql, "ambiguous after alias-stripping")
    for tbl, _al in others:
        if set(spark.table(tbl).columns) & taken:
            return _fallback(
                spark, sql, "extra FROM table shares column names"
            )
    joined = range_join(probe, ranges, g["leaf"], g["mn"], g["mx"])
    view = f"__s2_range_join_{next(_rj_counter)}"
    joined.createOrReplaceTempView(view)
    from_clause = ", ".join(
        [view] + [f"{tbl} {al}" for tbl, al in others]
    )
    strip = re.compile(rf"\b(?:{g['a']}|{g['b']})\.")
    new_sql = (
        strip.sub("", g["head"])
        + f" {from_clause}"
        + strip.sub("", g["rest"])
    )
    return spark.sql(new_sql)
