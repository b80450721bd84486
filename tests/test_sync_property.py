"""Property-based end-to-end invariant: for ANY file snapshot and ANY
prior DB state, a diff sync with delete enabled leaves the DB exactly
equal to the snapshot (the reference's defining guarantee, expressed
as one hypothesis property instead of a fixture zoo).

Values deliberately include the sharp edges: null-ish tokens,
whitespace, floats that collapse to integer form, and keys present in
one side only.
"""

from __future__ import annotations

import sqlite3

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mydatasyncer_spark.config import SyncConfig, TableSpec
from mydatasyncer_spark.sinks.applier import DbApiBackend
from mydatasyncer_spark.syncer import sync

# full-suite-only: fuzz/property suite, excluded from the default
# fast gate (pytest.ini); run with -m slow
pytestmark = pytest.mark.slow

VALUES = st.sampled_from(
    ["x", "y", "null", "", " padded ", "42", "42.0", "3.14", "true", "weird,val"]
)

ROWS = st.dictionaries(
    keys=st.integers(min_value=1, max_value=12),
    values=st.tuples(VALUES, VALUES),
    max_size=8,
)


def _csv_quote(v: str) -> str:
    if "," in v or '"' in v:
        return '"' + v.replace('"', '""') + '"'
    return v


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(file_rows=ROWS, db_rows=ROWS)
def test_diff_sync_converges_to_snapshot(spark, tmp_path_factory, file_rows, db_rows):
    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, a TEXT, b TEXT)")
    conn.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(k, a, b) for k, (a, b) in db_rows.items()],
    )
    conn.commit()

    path = tmp_path_factory.mktemp("snap") / "t.csv"
    lines = ["id,a,b"] + [
        f"{k},{_csv_quote(a)},{_csv_quote(b)}" for k, (a, b) in sorted(file_rows.items())
    ]
    path.write_text("\n".join(lines) + "\n")

    cfg = SyncConfig(
        tables=[
            TableSpec(
                name="t",
                file_path=str(path),
                primary_key="id",
                sync_mode="diff",
                delete_not_in_file=True,
            )
        ]
    )
    if not file_rows:
        # empty snapshot + delete_not_in_file wipes the table (O11) —
        # covered by TestEmptyFilePolicies; the CSV would have no rows
        conn.close()
        return
    sync(spark, DbApiBackend(conn), cfg)

    got = {
        r[0]: (r[1], r[2])
        for r in conn.execute("SELECT id, a, b FROM t").fetchall()
    }
    conn.close()
    # DB state must equal the snapshot in CANONICAL space: the sync
    # writes the file-side representation for inserted/updated rows,
    # and rows that only differ canonically (e.g. "42" vs "42.0")
    # legitimately keep the DB representation
    from mydatasyncer_spark.functions.canonical import canonical_str
    from pyspark.sql import types as T

    def canon(pairs):
        df = spark.createDataFrame(
            [(k, a, b) for k, (a, b) in sorted(pairs.items())],
            "id long, a string, b string",
        )
        return {
            r["id"]: (r["ca"], r["cb"])
            for r in df.select(
                "id",
                canonical_str("a", T.StringType()).alias("ca"),
                canonical_str("b", T.StringType()).alias("cb"),
            ).collect()
        }

    assert set(got) == set(file_rows), "key sets must match the snapshot"
    assert canon(got) == canon(file_rows)


# ------------------------------------------------------ r5 properties


INTERVALS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=120),   # start
        st.integers(min_value=0, max_value=40),    # normal length
    ),
    min_size=1,
    max_size=14,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=INTERVALS,
    right=INTERVALS,
    outlier=st.booleans(),
    mode=st.sampled_from(["closed", "half_open"]),
)
def test_interval_overlap_equals_brute_force_any_input(
    spark, left, right, outlier, mode
):
    """For ANY interval sets (optionally with a huge outlier) and
    BOTH bound conventions, the bucketized+segmented join equals the
    brute-force theta join — exact recall, exactly-once, regardless
    of bucket/segment geometry."""
    from mydatasyncer_spark.operators.intervals import interval_overlap_join

    lrows = [
        ("u", i, float(s), float(s + ln)) for i, (s, ln) in enumerate(left)
    ]
    if outlier:
        lrows.append(("u", 999, 10.0, 5000.0))
    rrows = [
        ("u", 1000 + i, float(s), float(s + ln))
        for i, (s, ln) in enumerate(right)
    ]
    l = spark.createDataFrame(lrows, "k string, lid long, ls double, le double")
    r = spark.createDataFrame(rrows, "k string, rid long, rs double, re double")
    got = sorted(
        (row["lid"], row["rid"])
        for row in interval_overlap_join(
            l, r, "ls", "le", "rs", "re", on=["k"],
            bucket_seconds=7, max_buckets_per_row=3,
            how_overlap=mode,
        ).collect()
    )
    want = sorted(
        (lid, rid)
        for _, lid, ls, le in lrows
        for _, rid, rs, re_ in rrows
        if (
            (ls <= re_ and rs <= le)
            if mode == "closed"
            else (ls < re_ and rs < le)
        )
    )
    assert got == want


KEYED_ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
        st.integers(min_value=0, max_value=10_000),
    ),
    min_size=0,
    max_size=30,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fact_rows=KEYED_ROWS,
    dim_keys=st.lists(
        st.integers(min_value=0, max_value=6), max_size=6, unique=True
    ),
    hot=st.one_of(
        st.none(),
        st.lists(st.integers(min_value=0, max_value=6), max_size=3),
    ),
    how=st.sampled_from(["inner", "left", "right"]),
)
def test_salted_join_equals_plain_join_any_input(
    spark, fact_rows, dim_keys, hot, how
):
    """For ANY fact/dim contents (NULL keys, dup payloads, arbitrary
    hot-key lists — even keys absent from the data), salted_join is
    row-identical to the plain join in all three modes."""
    from mydatasyncer_spark.operators.partitioning import salted_join

    fact = spark.createDataFrame(fact_rows, "k int, payload int")
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in dim_keys], "k int, attr string"
    )
    got = sorted(
        (
            (r["k"], r["payload"], r["attr"])
            for r in salted_join(
                fact, dim, ["k"], 4, how, hot_keys=hot
            ).collect()
        ),
        key=repr,
    )
    want = sorted(
        (
            (r["k"], r["payload"], r["attr"])
            for r in fact.join(dim, ["k"], how).collect()
        ),
        key=repr,
    )
    assert got == want
