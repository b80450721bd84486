"""Property-based tests (hypothesis) for the canonicalization rules —
beyond the reference's example-based coverage (SURVEY.md §5 notes it
has no property testing).

Each property batches the generated values into ONE DataFrame per
hypothesis example, so a whole run costs a handful of Spark jobs.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mydatasyncer_spark.functions.canonical import canonical_str, is_nullish

import pytest
# full-suite-only: fuzz/property suite, excluded from the default
# fast gate (pytest.ini); run with -m slow
pytestmark = pytest.mark.slow

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def canon_batch(spark, values, dtype):
    df = spark.createDataFrame(
        [(v,) for v in values], T.StructType([T.StructField("v", dtype)])
    )
    return [
        r["c"] for r in df.select(canonical_str("v", dtype).alias("c")).collect()
    ]


whole_doubles = st.integers(min_value=-(2**53) + 1, max_value=2**53 - 1).map(float)


@settings(**SETTINGS)
@given(st.lists(whole_doubles, min_size=1, max_size=30))
def test_whole_double_equals_long_and_string_forms(spark, xs):
    """Cross-type identity: double 42.0, long 42, and string "42" all
    canonicalize identically (the reason diff joins match across
    CSV/JSON/DB representations)."""
    as_double = canon_batch(spark, xs, T.DoubleType())
    as_long = canon_batch(spark, [int(x) for x in xs], T.LongType())
    as_string = canon_batch(spark, [str(int(x)) for x in xs], T.StringType())
    assert as_double == as_long == as_string
    assert all("." not in c for c in as_double)


@settings(**SETTINGS)
@given(
    st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=2,
        max_size=30,
    )
)
def test_canonical_injective_within_doubles(spark, xs):
    """canonical(x) == canonical(y) iff x == y — no two distinct
    doubles collapse to the same string (else the diff would miss
    real updates)."""
    cs = canon_batch(spark, xs, T.DoubleType())
    for x, cx in zip(xs, cs):
        for y, cy in zip(xs, cs):
            assert (cx == cy) == (x == y), (x, y, cx, cy)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**6), max_value=10**6),
            st.integers(min_value=0, max_value=999999),
            st.integers(min_value=1, max_value=6),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_string_decimal_matches_double(spark, specs):
    """A CSV string like "69195.500000" and the double it parses to
    canonicalize identically (trailing-zero trim == whole-float
    collapse composed with shortest-repr printing)."""
    literals = []
    for whole, frac, ndigits in specs:
        frac = frac % (10**ndigits)
        literals.append(f"{whole}.{str(frac).zfill(ndigits)}")
    as_string = canon_batch(spark, literals, T.StringType())
    as_double = canon_batch(spark, [float(s) for s in literals], T.DoubleType())
    assert as_string == as_double


@settings(**SETTINGS)
@given(
    st.lists(
        st.sampled_from(["", "null", "NIL", " n/a ", "NA", "None", "UNDEFINED", "\tnull\n"]),
        min_size=1,
        max_size=20,
    )
)
def test_null_tokens_case_and_space_insensitive(spark, tokens):
    df = spark.createDataFrame([(t,) for t in tokens], "v string")
    flags = [r["f"] for r in df.select(is_nullish(F.col("v")).alias("f")).collect()]
    assert all(flags)


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1,
            max_size=12,
        ).filter(
            lambda s: s.lower() not in {"", "null", "nil", "n/a", "na", "none", "undefined"}
        ),
        min_size=1,
        max_size=20,
    )
)
def test_non_tokens_not_nullish(spark, strings):
    df = spark.createDataFrame([(s,) for s in strings], "v string")
    flags = [r["f"] for r in df.select(is_nullish(F.col("v")).alias("f")).collect()]
    assert not any(flags)
