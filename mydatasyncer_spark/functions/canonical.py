"""Canonical value stringification for cross-type equality.

The reference compares rows entirely in string space after
canonicalizing every value (``convertValueToString``,
ref: dbsync.go:57-129). Two rules are load-bearing for diff
correctness:

1. **whole-float collapse** — ``float64(42)`` canonicalizes to
   ``"42"``, not ``"42.0"`` (ref: dbsync.go:94-98), so a JSON number
   ``42`` equals a DB-side string ``"42"``;
2. **timestamps → RFC3339 UTC** (ref: dbsync.go:99-100).

Plus: bool → "true"/"false", NULL → "" (ref: dbsync.go:646-656).

We keep *typed* schemas end-to-end (an improvement over the
reference) and use these expressions only where cross-representation
equality is required: the diff join key and the row-inequality
comparison. No UDFs.

:func:`canonical_sql` is the one home of the type rules: it renders
them as Spark SQL text, and every Column here (:func:`canonical_str`,
:func:`canonical_col`, :func:`row_fingerprint`) is one ``F.expr`` over
that text. Building a plan from text costs one parse per expression,
where composing the same rule Column by Column costs a driver round
trip per function call — the difference is most of the diff's plan
build time at sync sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Null-ish string tokens (case/whitespace-insensitive) treated as null
# by the PK validator (ref: primary_key_validator.go:151-161).
NULL_TOKENS = ["", "null", "nil", "n/a", "na", "none", "undefined"]

RFC3339_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"

_FIELD_SEP = "\x1f"  # row_fingerprint's field separator
# a plain decimal string ("69195.0", "-1.50"), and a trailing dot
_DECIMAL_RE = r"^-?\d+\.\d+$"
_TRAILING_DOT_RE = r"\.$"


def sql_ident(name: str) -> str:
    """Backtick-quoted identifier (embedded backticks doubled): exact
    column-name resolution whatever characters the name holds."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """Spark SQL string literal (backslash-escaped quote and backslash)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def canonical_sql(name: str, dtype: T.DataType) -> str:
    """Canonical string form of column ``name`` of type ``dtype``, as
    Spark SQL text (never NULL; NULL → "")."""
    c = sql_ident(name)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        # Whole values within long range render via a long cast;
        # everything else uses Spark's double→string (documented
        # divergence from Go's ``%v`` for scientific notation —
        # irrelevant to diff correctness because both sides of every
        # comparison use this same rule).
        base = (
            f"CASE WHEN {c} = floor({c}) AND abs({c}) < 9.2E18"
            f" THEN CAST(CAST({c} AS BIGINT) AS STRING)"
            f" ELSE CAST({c} AS STRING) END"
        )
    elif isinstance(dtype, T.BooleanType):
        # no ELSE: NULL stays NULL and reaches the coalesce as ""
        base = f"CASE WHEN {c} THEN 'true' WHEN NOT {c} THEN 'false' END"
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        base = f"date_format({c}, {sql_str(RFC3339_FORMAT)})"
    elif isinstance(dtype, T.DateType):
        base = f"date_format({c}, 'yyyy-MM-dd')"
    elif isinstance(dtype, T.DecimalType):
        # trim trailing fractional zeros so DECIMAL(10,2) 42.00 == "42"
        base = _trim_decimal_zeros(f"CAST({c} AS STRING)")
    elif isinstance(dtype, T.StringType):
        # strings that *look* like plain decimals get the same
        # whole-float collapse ("69195.0" == double 69195.0); the
        # strict regex leaves leading-zero identifiers ("007") and
        # anything non-numeric untouched. The reference never needed
        # this (both its compare sides are raw strings); with typed
        # schemas it is what makes CSV-vs-typed diffs faithful.
        base = (
            f"CASE WHEN {c} RLIKE {sql_str(_DECIMAL_RE)}"
            f" THEN {_trim_decimal_zeros(c)} ELSE {c} END"
        )
    else:
        base = f"CAST({c} AS STRING)"
    return f"coalesce({base}, '')"


def _trim_decimal_zeros(s: str) -> str:
    trimmed = (
        f"regexp_replace(regexp_replace({s}, '0+$', ''),"
        f" {sql_str(_TRAILING_DOT_RE)}, '')"
    )
    return f"CASE WHEN contains({s}, '.') THEN {trimmed} ELSE {s} END"


def canonical_str(name: str, dtype: T.DataType) -> Column:
    """:func:`canonical_sql` as a Column."""
    return F.expr(canonical_sql(name, dtype))


def canonical_col(df: DataFrame, name: str) -> Column:
    """``canonical_str`` resolved against ``df``'s schema."""
    return canonical_str(name, df.schema[name].dataType)


def row_fingerprint(df: DataFrame, cols: list[str]) -> Column:
    """64-bit fingerprint of a row's canonical string tuple.

    Used for the J3 row-inequality test: two rows differ iff their
    fingerprints differ (ref: compareRecords, dbsync.go:695-715, which
    compares column-by-column in string space). A field separator
    keeps ("ab","c") distinct from ("a","bc").
    """
    schema = df.schema
    sep = sql_str(_FIELD_SEP)
    parts = ", ".join(
        f"{canonical_sql(name, schema[name].dataType)}, {sep}" for name in cols
    )
    return F.expr(f"xxhash64({parts})")


def is_nullish(col: Column) -> Column:
    """True for NULL or any null-token string (ref: primary_key_validator.go:151-161).

    Trims ALL leading/trailing whitespace (tabs/newlines included) —
    Spark's ``trim`` strips only spaces, but the reference uses Go's
    ``strings.TrimSpace``; found by the hypothesis property test."""
    stripped = F.regexp_replace(col.cast("string"), r"^\s+|\s+$", "")
    return col.isNull() | F.lower(stripped).isin(NULL_TOKENS)
