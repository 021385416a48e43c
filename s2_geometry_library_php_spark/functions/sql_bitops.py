"""Native Spark SQL cell-id bit operations (pure JVM, whole-stage
codegen — no Python in the hot relational path).

These are the Column twins of the numpy kernels in
``s2core.cellid`` (cross-validated in tests):

* level / isLeaf bit tricks (S2CellId.php:211-253),
* parent(level) (S2CellId.php:330-340),
* rangeMin/rangeMax contiguous descendant ranges (S2CellId.php:293-302),
* unsigned-order comparator via sign-flip (S2CellId.php:907-920),
* token = hex, trailing zeros stripped (S2CellId.php:491-512).

Every builder has a ``sql_*`` twin returning the equivalent ANSI SQL
text; the same text is valid DuckDB SQL, which is what makes the
driver's oracle comparisons exact for these operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..s2core.cellid import to_signed_scalar

MAX_LEVEL = 30
_MIN_LONG = -(1 << 63)


def _lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


# --- Column builders -----------------------------------------------------------
def s2_level(cell_id: Column) -> Column:
    """level = 30 - ctz(id)/2, ctz via bit_count((id & -id) - 1)."""
    lsb = cell_id.bitwiseAND(-cell_id)
    return (
        F.lit(MAX_LEVEL) - (F.bit_count(lsb - F.lit(1)) / F.lit(2)).cast("long")
    ).cast("long")


def s2_is_leaf(cell_id: Column) -> Column:
    return cell_id.bitwiseAND(F.lit(1)) == F.lit(1)


def s2_parent(cell_id: Column, level: int) -> Column:
    lsb = _lsb_for_level(level)
    return cell_id.bitwiseAND(F.lit(to_signed_scalar(-lsb))).bitwiseOR(F.lit(lsb))


def s2_range_min(cell_id: Column) -> Column:
    lsb = cell_id.bitwiseAND(-cell_id)
    return cell_id - (lsb - F.lit(1))


def s2_range_max(cell_id: Column) -> Column:
    lsb = cell_id.bitwiseAND(-cell_id)
    return cell_id + (lsb - F.lit(1))


def s2_contains_range(leaf_id: Column, cell_min: Column, cell_max: Column) -> Column:
    """Range membership: valid with *signed* comparisons because a
    cell's descendant range never crosses the int64 sign boundary (the
    face bits are shared)."""
    return (leaf_id >= cell_min) & (leaf_id <= cell_max)


def s2_unsigned_order(cell_id: Column) -> Column:
    """Sign-flipped sort key: orderBy(this) == unsigned Hilbert order
    (the reference's +PHP_INT_MIN trick, S2CellId.php:907-920)."""
    return cell_id.bitwiseXOR(F.lit(_MIN_LONG))


def s2_token_sql(cell_id_sql: str) -> Column:
    """Token via JVM string ops (hex of the unsigned long, strip
    trailing zeros; 'X' for 0)."""
    return F.expr(sql_s2_token(cell_id_sql))


# --- ANSI SQL text twins (valid in both Spark SQL and DuckDB) --------------------
def sql_s2_level(cell_id: str) -> str:
    return (
        f"(30 - CAST(bit_count(({cell_id} & -{cell_id}) - 1) / 2 AS BIGINT))"
    )


def sql_s2_parent(cell_id: str, level: int) -> str:
    lsb = _lsb_for_level(level)
    return f"(({cell_id} & {to_signed_scalar(-lsb)}) | {lsb})"


def sql_s2_range_min(cell_id: str) -> str:
    return f"({cell_id} - (({cell_id} & -{cell_id}) - 1))"


def sql_s2_range_max(cell_id: str) -> str:
    return f"({cell_id} + (({cell_id} & -{cell_id}) - 1))"


def sql_s2_token(cell_id: str) -> str:
    """Spark: hex(long) gives the unsigned 64-bit hex (no leading
    zeros); DuckDB twin uses hex() too. Trailing zeros stripped with a
    regex, 'X' for id 0."""
    return (
        f"CASE WHEN {cell_id} = 0 THEN 'X' "
        f"ELSE regexp_replace(lower(lpad(hex({cell_id}), 16, '0')), '0+$', '') END"
    )
