"""The SQL-text canonical rules equal the Column-built rules they
replaced.

``functions/canonical.canonical_sql`` renders every type rule as Spark
SQL text. Stored fingerprints, diff join keys and pruning buckets are
hashes of these strings, so a rewrite that changed one output would
silently re-key every stored snapshot. The reference below is a frozen
copy of the Column-by-Column rules as they stood before the rewrite
(with the NULL-boolean fix, the one output meant to change);
the property compares canonical strings, row fingerprints and bucket
ids over typed random rows, including NULLs and column names that need
quoting. A handful of examples keeps it inside the fast gate.
"""

from __future__ import annotations

import datetime
import decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mydatasyncer_spark.functions.canonical import (
    canonical_col,
    canonical_str,
    row_fingerprint,
    sql_ident,
)
from mydatasyncer_spark.operators.diff import bucket_col

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --- frozen reference: the Column-built rules -------------------------


def _ref_canonical_float(col: Column) -> Column:
    is_whole = (col == F.floor(col)) & (F.abs(col) < F.lit(9.2e18))
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(is_whole, col.cast("long").cast("string")).otherwise(
            col.cast("string")
        )
    )


def _ref_trim_decimal_zeros(s: Column) -> Column:
    has_frac = s.contains(".")
    trimmed = F.regexp_replace(F.regexp_replace(s, r"0+$", ""), r"\.$", "")
    return F.when(has_frac, trimmed).otherwise(s)


def ref_canonical_str(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        base = _ref_canonical_float(col)
    elif isinstance(dtype, T.BooleanType):
        # the one deliberate departure from the frozen rules: a NULL
        # boolean canonicalizes as "" (it used to read "false")
        base = F.when(col, F.lit("true")).when(~col, F.lit("false"))
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        base = F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    elif isinstance(dtype, T.DateType):
        base = F.date_format(col, "yyyy-MM-dd")
    elif isinstance(dtype, T.DecimalType):
        base = _ref_trim_decimal_zeros(col.cast("string"))
    elif isinstance(dtype, T.StringType):
        is_decimal = col.rlike(r"^-?\d+\.\d+$")
        base = F.when(is_decimal, _ref_trim_decimal_zeros(col)).otherwise(col)
    else:
        base = col.cast("string")
    return F.coalesce(base, F.lit(""))


def ref_canonical_col(df, name: str) -> Column:
    # names are resolved exactly (quoted): the rules are what is frozen
    return ref_canonical_str(F.col(sql_ident(name)), df.schema[name].dataType)


def ref_row_fingerprint(df, cols: list[str]) -> Column:
    parts = []
    for name in cols:
        parts.append(ref_canonical_col(df, name))
        parts.append(F.lit("\x1f"))
    return F.xxhash64(*parts)


def ref_bucket_col(df, primary_key: str, n_buckets: int) -> Column:
    return F.pmod(
        F.xxhash64(ref_canonical_col(df, primary_key)), F.lit(n_buckets)
    )


# --- typed random rows ------------------------------------------------

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ts ntz", T.TimestampNTZType()),
        T.StructField("price", T.DecimalType(12, 2)),
        T.StructField("wide`dec", T.DecimalType(30, 9)),
        T.StructField("amount", T.DoubleType()),
        T.StructField("ratio", T.FloatType()),
        T.StructField("text", T.StringType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("day", T.DateType()),
    ]
)

_DOUBLE_EDGES = [
    -0.0, 0.0, 42.0, -99.0, 0.001, 9.1e18, -9.1e18, 9.3e18, -9.3e18,
    9007199254740993.0,
    1.7976931348623157e308, float("inf"), float("-inf"), float("nan"),
]
_STRING_EDGES = [
    "", "007", "1.0", "42.000", "-0.50", "1.", ".5", "-0.0", "69195.0",
    "a.b", "2024-01-01T00:00:00Z", " 1.0", "1e3",
]

_moment = st.datetimes(
    min_value=datetime.datetime(1900, 1, 1),
    max_value=datetime.datetime(2100, 12, 31),
)
_double = st.one_of(
    st.sampled_from(_DOUBLE_EDGES),
    st.integers(min_value=-(2**53), max_value=2**53).map(float),
    st.floats(allow_nan=True, allow_infinity=True),
)
_string = st.one_of(
    st.sampled_from(_STRING_EDGES),
    st.from_regex(r"-?[0-9]{1,6}\.[0-9]{1,4}", fullmatch=True),
    st.text(max_size=6),
)


def _nullable(s):
    return st.one_of(st.none(), s)


_row = st.tuples(
    _nullable(st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    _nullable(_moment),
    _nullable(_moment),
    _nullable(
        st.decimals(
            min_value=-(10**9), max_value=10**9, places=2,
            allow_nan=False, allow_infinity=False,
        )
    ),
    _nullable(
        st.decimals(
            min_value=-(10**12), max_value=10**12, places=9,
            allow_nan=False, allow_infinity=False,
        )
    ),
    _nullable(_double),
    _nullable(st.floats(width=32, allow_nan=True, allow_infinity=True)),
    _nullable(_string),
    _nullable(st.booleans()),
    _nullable(st.dates(min_value=datetime.date(1900, 1, 1))),
)


def _both(df, cols):
    """Per row: (new canonical strings, reference canonical strings,
    new fingerprint, reference fingerprint, new bucket, reference
    bucket) — one job."""
    n = len(cols)
    out = df.select(
        *[canonical_col(df, c).alias(f"n{i}") for i, c in enumerate(cols)],
        *[ref_canonical_col(df, c).alias(f"r{i}") for i, c in enumerate(cols)],
        row_fingerprint(df, cols).alias("nfp"),
        ref_row_fingerprint(df, cols).alias("rfp"),
        bucket_col(df, "text", 64).alias("nb"),
        ref_bucket_col(df, "text", 64).alias("rb"),
    ).collect()
    return [
        (
            [r[f"n{i}"] for i in range(n)],
            [r[f"r{i}"] for i in range(n)],
            r["nfp"], r["rfp"], r["nb"], r["rb"],
        )
        for r in out
    ]


@settings(**SETTINGS)
@given(st.lists(_row, min_size=1, max_size=25))
def test_sql_rules_equal_column_rules(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    for new, ref, nfp, rfp, nb, rb in _both(df, df.columns):
        assert new == ref
        assert nfp == rfp
        assert nb == rb


def test_edge_values_and_quoted_names(spark):
    """Every listed edge value, each in a NULL-holding column, under
    names that need quoting."""
    n = max(len(_DOUBLE_EDGES), len(_STRING_EDGES))
    rows = [
        (
            i,
            datetime.datetime(2023, 12, 25, 6, 30, 45, 123456),
            datetime.datetime(1970, 1, 1),
            decimal.Decimal("42.00") if i % 2 else decimal.Decimal("-0.50"),
            decimal.Decimal("1.000000000"),
            _DOUBLE_EDGES[i % len(_DOUBLE_EDGES)],
            float(_DOUBLE_EDGES[i % len(_DOUBLE_EDGES)]),
            _STRING_EDGES[i % len(_STRING_EDGES)],
            bool(i % 2),
            datetime.date(2024, 2, 29),
        )
        for i in range(n)
    ]
    rows.append(tuple([None] * len(SCHEMA.fields)))
    df = spark.createDataFrame(rows, SCHEMA)
    for new, ref, nfp, rfp, nb, rb in _both(df, df.columns):
        assert new == ref
        assert nfp == rfp
        assert nb == rb


def test_negative_zero_is_pinned(spark):
    """-0.0 canonicalizes as it always has: the whole-float collapse
    sends it through the long cast, so it equals 0.0 and "0"."""
    df = spark.createDataFrame([(-0.0,), (0.0,)], "v double")
    got = [r["c"] for r in df.select(canonical_str("v", T.DoubleType()).alias("c")).collect()]
    assert got == ["0", "0"]


def test_null_boolean_is_not_false(spark):
    """NULL, false and true are three canonical strings and three
    fingerprints, so a NULL <-> false change is an update."""
    df = spark.createDataFrame(
        [(1, None), (2, False), (3, True)], "id long, b boolean"
    )
    got = df.select(
        canonical_str("b", T.BooleanType()).alias("c"),
        row_fingerprint(df, ["b"]).alias("fp"),
    ).collect()
    assert [r["c"] for r in got] == ["", "false", "true"]
    assert len({r["fp"] for r in got}) == 3
