"""Results never depend on DataFrame origin capture.

The engine's session turns PySpark's origin capture off
(``spark.python.sql.dataFrameDebugging.enabled=false``) to save driver
time; a vanilla session keeps it on. The same query is built and run
under both settings (the pattern of running one query under two
configurations and asserting equal results) and the row hashes must
match.
"""

from __future__ import annotations

import datetime
import decimal

import pytest
import pyspark.errors.utils as error_utils
from pyspark.sql import functions as F

import __spark_entry__ as entry
from mydatasyncer_spark.operators.diff import diff_snapshots


@pytest.fixture()
def origin_capture():
    """Setter for PySpark's process-wide origin-capture switch (the
    cached value of the conf); the saved value is restored after."""
    saved = error_utils._enable_debugging_cache

    def set_capture(on: bool) -> None:
        error_utils._enable_debugging_cache = on

    yield set_capture
    error_utils._enable_debugging_cache = saved


def row_hashes(df) -> list[int]:
    return sorted(
        r[0] for r in df.select(F.xxhash64(*df.columns)).collect()
    )


def under_both(origin_capture, build) -> dict[bool, list]:
    out = {}
    for on in (True, False):
        origin_capture(on)
        out[on] = build()
    return out


def test_diff_snapshots_on_typed_pair(spark, origin_capture):
    file_rows = [
        (1, 42.0, datetime.datetime(2024, 1, 1, 12), decimal.Decimal("1.50"), "a"),
        (2, 3.25, datetime.datetime(2024, 1, 2), decimal.Decimal("2.00"), "b"),
        (4, 7.0, None, None, "new"),
    ]
    db_rows = [
        ("1", "42", "2024-01-01T12:00:00Z", "1.5", "a"),
        ("2", "3.5", "2024-01-02T00:00:00Z", "2", "b"),
        ("3", "9", "2024-01-03T00:00:00Z", "3", "gone"),
    ]

    def build():
        f = spark.createDataFrame(
            file_rows, "id long, v double, ts timestamp, p decimal(10,2), s string"
        )
        d = spark.createDataFrame(
            db_rows, "id string, v string, ts string, p string, s string"
        )
        diff = diff_snapshots(f, d, "id")
        return [
            row_hashes(leg)
            for leg in (diff.to_insert, diff.to_update, diff.to_delete)
        ]

    got = under_both(origin_capture, build)
    assert got[True] == got[False]
    assert [len(leg) for leg in got[False]] == [1, 1, 1]


@pytest.mark.parametrize(
    "name", ["canonical_stringify", "scd2_keep_policy", "diff_plan_counts"]
)
def test_registry_queries(spark, sf_dir, origin_capture, name):
    fn = entry.queries()[name]
    got = under_both(origin_capture, lambda: row_hashes(fn(spark, sf_dir)))
    assert got[True] == got[False]
    assert got[False]
