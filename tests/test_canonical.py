"""Canonicalization rules — the type-fidelity matrix from the
reference's richest fixture (ref: main_test.go:465-512, FIXTURES.md F2)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from mydatasyncer_spark.functions.canonical import (
    canonical_col,
    canonical_str,
    is_nullish,
    row_fingerprint,
)


def _canon_one(spark, value, dtype):
    df = spark.createDataFrame([(value,)], T.StructType([T.StructField("v", dtype)]))
    return df.select(canonical_str("v", dtype).alias("c")).first()["c"]


def test_whole_float_collapse(spark):
    # ref: dbsync.go:94-98 — float64(42) must canonicalize to "42"
    assert _canon_one(spark, 42.0, T.DoubleType()) == "42"
    assert _canon_one(spark, 100.0, T.DoubleType()) == "100"
    assert _canon_one(spark, 0.0, T.DoubleType()) == "0"
    assert _canon_one(spark, -99.0, T.DoubleType()) == "-99"


def test_fractional_float_preserved(spark):
    assert _canon_one(spark, 3.14159, T.DoubleType()) == "3.14159"
    assert _canon_one(spark, -0.5, T.DoubleType()) == "-0.5"


def test_large_int_precision(spark):
    # ref: main_test.go — 9007199254740991 survives as float64-representable int
    assert _canon_one(spark, 9007199254740000.0, T.DoubleType()) == "9007199254740000"


def test_bool_and_null(spark):
    assert _canon_one(spark, True, T.BooleanType()) == "true"
    assert _canon_one(spark, False, T.BooleanType()) == "false"
    assert _canon_one(spark, None, T.StringType()) == ""
    assert _canon_one(spark, None, T.DoubleType()) == ""


def test_timestamp_rfc3339(spark):
    ts = datetime.datetime(2023, 12, 25, 6, 30, 45)
    assert _canon_one(spark, ts, T.TimestampType()) == "2023-12-25T06:30:45Z"


def test_decimal_trailing_zeros(spark):
    from decimal import Decimal

    assert _canon_one(spark, Decimal("42.00"), T.DecimalType(10, 2)) == "42"
    assert _canon_one(spark, Decimal("42.50"), T.DecimalType(10, 2)) == "42.5"


def test_int_vs_string_key_equality(spark):
    """JSON 123 must equal DB-side "123" (ref: dbsync.go:28-48)."""
    left = spark.createDataFrame([(123,)], "k long")
    right = spark.createDataFrame([("123",)], "k string")
    l = left.select(canonical_col(left, "k").alias("c"))
    r = right.select(canonical_col(right, "k").alias("c"))
    assert l.join(r, "c").count() == 1


def test_row_fingerprint_detects_change(spark):
    a = spark.createDataFrame([(1, "x", 2.0)], "id long, s string, v double")
    b = spark.createDataFrame([(1, "x", 3.0)], "id long, s string, v double")
    same = spark.createDataFrame([(1, "x", 2.0)], "id long, s string, v double")
    cols = ["id", "s", "v"]
    fa = a.select(row_fingerprint(a, cols).alias("f")).first()["f"]
    fb = b.select(row_fingerprint(b, cols).alias("f")).first()["f"]
    fs = same.select(row_fingerprint(same, cols).alias("f")).first()["f"]
    assert fa != fb
    assert fa == fs


def test_fingerprint_separator_ambiguity(spark):
    a = spark.createDataFrame([("ab", "c")], "x string, y string")
    b = spark.createDataFrame([("a", "bc")], "x string, y string")
    fa = a.select(row_fingerprint(a, ["x", "y"]).alias("f")).first()["f"]
    fb = b.select(row_fingerprint(b, ["x", "y"]).alias("f")).first()["f"]
    assert fa != fb


def test_nullish_tokens(spark):
    # ref: primary_key_validator.go:151-161
    df = spark.createDataFrame(
        [("",), ("null",), (" NIL ",), ("n/a",), ("ok",), (None,)], "v string"
    )
    got = df.select(is_nullish(F.col("v")).alias("n")).collect()
    assert [r["n"] for r in got] == [True, True, True, True, False, True]


# --- type-fidelity matrix edges (ref: main_test.go:465-512) -----------


def test_large_int_float64_precision_loss(spark):
    """The reference parses JSON numbers as float64, so integers past
    2^53 silently lose precision (its own fixture pins
    9007199254740000, ref: main_test.go:476). Encode the same
    contract: the canonical form is the float64-rounded integer, not
    scientific notation."""
    # 2^53-1: largest exactly-representable — survives bit-perfect
    assert (
        _canon_one(spark, 9007199254740991.0, T.DoubleType())
        == "9007199254740991"
    )
    # 2^53+1 is NOT representable: float64 rounds to 2^53
    assert (
        _canon_one(spark, float(9007199254740993), T.DoubleType())
        == "9007199254740992"
    )
    # the reference fixture's own pinned value, positive and negative
    assert (
        _canon_one(spark, 9007199254740000.0, T.DoubleType())
        == "9007199254740000"
    )
    assert (
        _canon_one(spark, -9007199254740000.0, T.DoubleType())
        == "-9007199254740000"
    )


def test_float64_extremes_no_long_overflow(spark):
    """ref: main_test.go:503-506 pins ±1.7976931348623157e+308 and the
    int32 extremes. Max float64 IS mathematically whole, so the
    whole-float collapse must explicitly refuse the long cast (it
    would overflow) and keep Spark's double rendering — internally
    consistent on both diff sides, which is the actual contract."""
    big = 1.7976931348623157e308
    assert _canon_one(spark, big, T.DoubleType()) == "1.7976931348623157E308"
    assert (
        _canon_one(spark, -big, T.DoubleType()) == "-1.7976931348623157E308"
    )
    # small fractions stay positional, never collapse (ref row: 0.001)
    assert _canon_one(spark, 0.001, T.DoubleType()) == "0.001"
    # int32 extremes pass through the integer path untouched
    assert _canon_one(spark, 2147483647, T.IntegerType()) == "2147483647"
    assert _canon_one(spark, -2147483648, T.IntegerType()) == "-2147483648"
    # whole floats just past the long boundary must not wrap negative
    assert _canon_one(spark, 9.3e18, T.DoubleType()) == "9.3E18"


def test_rfc3339_timezone_offset(spark, tmp_path):
    """+09:00-offset RFC3339 must equal its UTC instant after
    coercion (ref: main_test.go:480 pins 15:30:45+09:00 ==
    06:30:45Z)."""
    import json

    from mydatasyncer_spark.sources.readers import coerce_rfc3339, read_json

    p = tmp_path / "tz.json"
    p.write_text(
        json.dumps(
            [
                {"id": 1, "ts": "2023-12-25T15:30:45+09:00"},
                {"id": 2, "ts": "2023-12-25T06:30:45Z"},
            ]
        )
    )
    df = coerce_rfc3339(read_json(spark, str(p)))
    got = {r["id"]: r["ts"] for r in df.collect()}
    assert got[1] == got[2]
    canon = df.select(
        "id", canonical_col(df, "ts").alias("c")
    ).collect()
    cs = {r["id"]: r["c"] for r in canon}
    assert cs[1] == cs[2] == "2023-12-25T06:30:45Z"


def test_csv_true_into_int_rejected(spark, tmp_path):
    """CSV "true" into an int column fails loudly, mirroring the
    reference's documented MySQL `Error 1366: Incorrect integer
    value: 'true'` (業務運用における懸念事項レポート.md:18-39) — the
    strict FAILFAST read surfaces it at scan time instead of
    mid-transaction."""
    import pytest

    from mydatasyncer_spark.sources.readers import read_csv

    p = tmp_path / "feat.csv"
    p.write_text("id,is_featured\n1,true\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("is_featured", T.IntegerType()),
        ]
    )
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        read_csv(spark, str(p), schema=schema).collect()
