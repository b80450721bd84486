"""r14 sweep: coerce_rfc3339's column-type probe is single-pass.

The probe previously launched up to TWO Spark jobs per string column
(an all-RFC aggregate, then a has-any-value aggregate) — a
50-string-column snapshot cost up to 100 full scans before the sync
even started. One aggregate row now answers both questions for every
target column at once: exactly one job, any width.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from mydatasyncer_spark.sources.readers import coerce_rfc3339, read_json


@pytest.fixture(scope="module")
def wide_df(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("coerce") / "wide.json"
    rows = [
        {
            "id": 1,
            "all_rfc": "2023-12-25T06:30:45Z",
            "mixed": "2023-12-25T06:30:45Z",
            "all_null": None,
            "plain": "hello",
            "rfc_with_null": "2024-01-01T00:00:00Z",
        },
        {
            "id": 2,
            "all_rfc": "2023-12-26T00:00:00+09:00",
            "mixed": "not a timestamp",
            "all_null": None,
            "plain": "world",
            "rfc_with_null": None,
        },
    ]
    p.write_text(json.dumps(rows))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("all_rfc", T.StringType()),
            T.StructField("mixed", T.StringType()),
            T.StructField("all_null", T.StringType()),
            T.StructField("plain", T.StringType()),
            T.StructField("rfc_with_null", T.StringType()),
        ]
    )
    return read_json(spark, str(p), schema=schema)


def test_semantics_unchanged_across_column_kinds(spark, wide_df):
    out = coerce_rfc3339(wide_df)
    types = {f.name: f.dataType for f in out.schema.fields}
    # every non-null value RFC3339 -> converted (nulls allowed)
    assert isinstance(types["all_rfc"], T.TimestampType)
    assert isinstance(types["rfc_with_null"], T.TimestampType)
    # any non-matching value -> column left as string
    assert isinstance(types["mixed"], T.StringType)
    assert isinstance(types["plain"], T.StringType)
    # all-NULL column: nothing to type on -> left as string
    assert isinstance(types["all_null"], T.StringType)
    # non-string columns never touched
    assert isinstance(types["id"], T.LongType)
    # values survive conversion (both rows carry real instants)
    got = {r["id"]: r["all_rfc"] for r in out.collect()}
    assert got[1] is not None and got[2] is not None


def test_empty_frame_left_untouched(spark):
    df = spark.createDataFrame([], "id long, ts string")
    out = coerce_rfc3339(df)
    assert isinstance(out.schema["ts"].dataType, T.StringType)
    assert out.count() == 0


def test_probe_job_count_is_independent_of_width(spark, wide_df):
    """The load-bearing pin: probing five string columns costs exactly
    as many Spark jobs as probing one (a single aggregate pass answers
    every column at once — AQE may split that one query into a small
    constant number of jobs, but the count must not scale with column
    count; the old code paid up to two jobs PER column)."""
    sc = spark.sparkContext

    def jobs_for(df, group):
        sc.setJobGroup(group, "coerce_rfc3339 probe job-count pin")
        try:
            coerce_rfc3339(df)  # probe runs eagerly; no action needed
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    narrow = wide_df.select("id", "all_rfc")
    n_narrow = len(jobs_for(narrow, "coerce-pin-narrow"))
    n_wide = len(jobs_for(wide_df, "coerce-pin-wide"))
    assert n_narrow >= 1
    assert n_wide == n_narrow, (n_narrow, n_wide)


def test_no_string_columns_runs_no_job(spark):
    df = spark.range(5).selectExpr("id", "id * 2 AS x")
    sc = spark.sparkContext
    group = "coerce-probe-nojob"
    sc.setJobGroup(group, "no string columns -> no probe job")
    try:
        out = coerce_rfc3339(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert out.columns == ["id", "x"]


def _csv_table(tmp_path, n_strings: int):
    """A diff-mode CSV snapshot (PK, one RFC3339 column, and
    ``n_strings`` plain string columns) and its sqlite target."""
    import sqlite3

    from mydatasyncer_spark.config import SyncConfig, TableSpec

    names = ["id", "ts"] + [f"s{i}" for i in range(n_strings)]
    path = tmp_path / f"snap{n_strings}.csv"
    lines = [",".join(names)]
    for k in range(20):
        vals = [str(k), f"2024-01-{k % 28 + 1:02d}T00:00:00Z"]
        vals += [f"v{k}_{i}" for i in range(n_strings)]
        lines.append(",".join(vals))
    path.write_text("\n".join(lines) + "\n")
    conn = sqlite3.connect(":memory:")
    conn.execute(
        "CREATE TABLE snap (id INTEGER PRIMARY KEY, "
        + ", ".join(f"{n} TEXT" for n in names[1:])
        + ")"
    )
    conn.executemany(
        f"INSERT INTO snap VALUES ({', '.join('?' * len(names))})",
        [(k, "2024-01-01T00:00:00Z", *["old"] * n_strings) for k in range(15)],
    )
    spec = TableSpec(
        name="snap", file_path=str(path), primary_key="id", sync_mode="diff"
    )
    return conn, SyncConfig(tables=[spec]), spec


def _unfused_prepare(syncer, spec):
    """``Syncer._prepare``'s pinned diff, with the RFC3339 probe as its
    own job chain ahead of validation, as the sync read path used to
    run it."""
    from mydatasyncer_spark.operators.columns import determine_sync_columns
    from mydatasyncer_spark.operators.diff import diff_snapshots
    from mydatasyncer_spark.operators.validation import validate_primary_keys
    from mydatasyncer_spark.sources.readers import read_file

    file_df = coerce_rfc3339(read_file(syncer.spark, spec.file_path))
    validate_primary_keys(file_df, spec.primary_key, strict=True)
    cols = determine_sync_columns(
        file_cols=file_df.columns,
        db_cols=syncer.backend.table_columns(spec.name),
        config_cols=spec.columns,
        primary_key=spec.primary_key,
    )
    db_df = syncer.backend.read_snapshot(syncer.spark, spec.name, cols)
    return diff_snapshots(
        file_df.select(*cols), db_df, spec.primary_key, columns=cols
    ).pin()


def test_prepare_folds_probe_into_validation(spark, tmp_path):
    """One diff-mode table's prepare answers the RFC3339 probe from the
    PK-validation aggregate: two jobs fewer than probing first, and no
    more jobs for more string columns."""
    from mydatasyncer_spark.sinks.applier import DbApiBackend
    from mydatasyncer_spark.syncer import Syncer

    sc = spark.sparkContext

    def jobs(n_strings, group, prepare):
        conn, cfg, spec = _csv_table(tmp_path, n_strings)
        syncer = Syncer(spark, DbApiBackend(conn), cfg)
        sc.setJobGroup(group, "sync prepare job-count pin")
        try:
            diff = prepare(syncer, spec)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert diff.to_insert.count() == 5
        diff.release()
        conn.close()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def fused_prepare(syncer, spec):
        return syncer._prepare(spec).diff

    fused = jobs(2, "prepare-fused", fused_prepare)
    unfused = jobs(2, "prepare-unfused", _unfused_prepare)
    wide = jobs(6, "prepare-fused-wide", fused_prepare)
    assert unfused - fused == 2, (unfused, fused)
    assert wide == fused, (fused, wide)
