"""PK validator dataflow (ref: primary_key_validator_test.go)."""

from __future__ import annotations

import pytest

from mydatasyncer_spark.errors import ValidationError
from mydatasyncer_spark.operators.validation import (
    R_DUPLICATE,
    R_MISSING,
    R_NULLISH,
    R_TOO_LONG,
    R_UNTRIMMED,
    annotate_issues,
    validate_primary_keys,
)


@pytest.fixture(scope="module")
def dirty(spark):
    rows = [
        ("1", "ok"),
        ("2", "ok"),
        ("2", "dup of 2"),
        ("", "empty"),
        ("null", "token"),
        (" 9 ", "untrimmed"),
        ("x" * 300, "long"),
        (None, "none"),
    ]
    return spark.createDataFrame(rows, "id string, note string")


def test_reasons(spark, dirty):
    got = {
        r["note"]: r["reason"]
        for r in annotate_issues(dirty, "id").collect()
    }
    assert got["ok"] is None
    assert got["dup of 2"] == R_DUPLICATE
    assert got["empty"] == R_NULLISH
    assert got["token"] == R_NULLISH
    assert got["untrimmed"] == R_UNTRIMMED
    assert got["long"] == R_TOO_LONG
    assert got["none"] == R_NULLISH


def test_first_occurrence_valid(spark, dirty):
    rows = annotate_issues(dirty, "id").filter("id = '2'").collect()
    reasons = sorted((r["reason"] is None) for r in rows)
    assert reasons == [False, True]  # exactly one of the two is valid


def test_missing_column(spark, dirty):
    got = annotate_issues(dirty.drop("id"), "id").select("reason").distinct().collect()
    assert [r["reason"] for r in got] == [R_MISSING]


def test_strict_raises_with_report(spark, dirty):
    with pytest.raises(ValidationError) as err:
        validate_primary_keys(dirty, "id", strict=True)
    report = err.value.report
    assert report.total == 8
    assert report.invalid == 6
    assert report.by_reason[R_NULLISH] == 3
    assert report.duplicate_keys[0] == ("2", 2)


def test_clean_data_passes(spark):
    df = spark.createDataFrame([("1",), ("2",)], "id string")
    report = validate_primary_keys(df, "id", strict=True)
    assert report.invalid == 0 and report.total == 2


class TestProfileColumns:
    def test_profile_stats(self, spark):
        from mydatasyncer_spark.operators.validation import profile_columns

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a"), (None, "b")],
            "id long, v string",
        )
        prof = {
            r["column_name"]: r
            for r in profile_columns(df, ["id", "v"]).collect()
        }
        assert prof["id"]["n_rows"] == 4
        assert prof["id"]["n_nulls"] == 1
        assert prof["id"]["n_distinct"] == 3
        assert (prof["id"]["min_val"], prof["id"]["max_val"]) == ("1", "3")
        assert prof["v"]["n_nulls"] == 1
        assert prof["v"]["n_distinct"] == 2
        assert (prof["v"]["min_val"], prof["v"]["max_val"]) == ("a", "b")

    def test_hostile_column_names_are_escaped(self, spark):
        """Quotes/backticks in a column name must not break (or alter)
        the generated stack() expression."""
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.validation import profile_columns

        df = spark.createDataFrame([(1,), (2,)], "id long").select(
            F.col("id").alias("o'quote`tick")
        )
        prof = profile_columns(df, ["o'quote`tick"]).collect()
        assert len(prof) == 1
        assert prof[0]["column_name"] == "o'quote`tick"
        assert prof[0]["n_rows"] == 2
        assert prof[0]["n_distinct"] == 2

    def test_no_expand_plan(self, spark):
        """The profile must NOT plan through the multi-DISTINCT Expand
        rewrite (r14): Expand duplicates every row (columns+1)-fold and
        the min/max string buffers force the dedup into a full-sort
        SortAggregate. The split shape is one ungrouped stats pass +
        one column-pruned count(DISTINCT) subtree per column — so
        len(columns)+1 scans, zero Expand nodes."""
        from mydatasyncer_spark.operators.validation import profile_columns

        df = spark.range(0, 100).selectExpr("id", "id % 7 AS v")
        plan = (
            profile_columns(df, ["id", "v"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Expand" not in plan
        assert plan.count("Range (0, 100") == 3  # stats + 2 nd legs

    def test_matches_fused_aggregate_on_edge_values(self, spark):
        """Row-for-row identity with the straightforward single
        fused aggregate on edge inputs: empty frame, all-NULL column,
        NaN / -0.0 doubles (countDistinct and groupBy both collapse
        NaNs and signed zeros)."""
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.validation import profile_columns

        def fused(df, columns):
            aggs = [F.count(F.lit(1)).alias("_rows")]
            for c in columns:
                aggs += [
                    F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                    .cast("bigint")
                    .alias(f"_nulls_{c}"),
                    F.countDistinct(c).alias(f"_nd_{c}"),
                    F.min(c).cast("string").alias(f"_min_{c}"),
                    F.max(c).cast("string").alias(f"_max_{c}"),
                ]
            one = df.agg(*aggs)
            stack = ", ".join(
                f"'{c}', _rows, _nulls_{c}, _nd_{c}, _min_{c}, _max_{c}"
                for c in columns
            )
            return one.selectExpr(
                f"stack({len(columns)}, {stack}) AS "
                "(column_name, n_rows, n_nulls, n_distinct, min_val,"
                " max_val)"
            )

        df = spark.createDataFrame(
            [
                (1, float("nan"), None),
                (2, float("nan"), None),
                (3, -0.0, None),
                (4, 0.0, None),
                (None, 1.5, None),
            ],
            "id long, d double, z string",
        )
        cols = ["id", "d", "z"]
        got = sorted(map(tuple, profile_columns(df, cols).collect()))
        want = sorted(map(tuple, fused(df, cols).collect()))
        assert got == want
        empty = df.limit(0)
        got_e = sorted(map(tuple, profile_columns(empty, cols).collect()))
        want_e = sorted(map(tuple, fused(empty, cols).collect()))
        assert got_e == want_e
        # schema (incl. nullability) unchanged from the fused shape
        assert profile_columns(df, cols).schema == fused(df, cols).schema


class TestEntropyProfilers:
    def test_entropy_extremes(self, spark):
        from mydatasyncer_spark.operators.validation import column_entropy

        df = spark.range(0, 256).selectExpr(
            "CAST(id AS STRING) AS uniform",  # 256 distinct: H = 8 bits
            "'x' AS constant",                # H = 0
            "CAST(id % 2 AS STRING) AS coin", # H = 1 bit
        )
        got = {
            r["column_name"]: r
            for r in column_entropy(
                df, ["uniform", "constant", "coin"]
            ).collect()
        }
        assert got["uniform"]["entropy_bits"] == 8.0
        assert got["uniform"]["n_distinct"] == 256
        assert got["constant"]["entropy_bits"] == 0.0
        assert got["coin"]["entropy_bits"] == 1.0

    def test_null_is_a_regular_value(self, spark):
        from mydatasyncer_spark.operators.validation import column_entropy

        df = spark.createDataFrame(
            [(None,), ("a",)], "v string"
        )
        [row] = column_entropy(df, ["v"]).collect()
        assert row["n_distinct"] == 2
        assert row["entropy_bits"] == 1.0

    def test_mutual_information_extremes(self, spark):
        from mydatasyncer_spark.operators.validation import (
            mutual_information,
        )

        # b = f(a): functional dependency -> I(A;B) = H(B)
        fd = spark.range(0, 400).selectExpr(
            "CAST(id % 8 AS STRING) AS a", "CAST((id % 8) % 2 AS STRING) AS b"
        )
        [r] = mutual_information(fd, "a", "b").collect()
        assert r["mi_bits"] == r["h_b"] == 1.0
        # independent columns -> I ~= 0
        ind = spark.range(0, 400).selectExpr(
            "CAST(id % 2 AS STRING) AS a", "CAST(CAST(id / 2 AS INT) % 2 AS STRING) AS b"
        )
        [r2] = mutual_information(ind, "a", "b").collect()
        assert abs(r2["mi_bits"]) < 1e-6


def _jobs_in(spark, group, fn):
    """Spark jobs ``fn`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestSinglePassReport:
    """The report's histogram is one two-level aggregate over the keys;
    the failure listings run only on invalid input."""

    def test_samples_ordered_by_reason_then_key(self, spark):
        """Failure samples are the first SAMPLE_LIMIT invalid rows in
        (reason, canonical key) order, whatever the partitioning."""
        from mydatasyncer_spark.operators.validation import R_TAB, SAMPLE_LIMIT

        rows = [(f"k{i:02d} ", i) for i in range(12)]  # untrimmed
        rows += [(f"k{i:02d}\t", i) for i in range(12)]  # tab
        rows += [(f"ok{i}", i) for i in range(12)]
        schema = "id string, n int"
        want = sorted(
            [(R_TAB, k) for k, _ in rows if k.endswith("\t")]
            + [(R_UNTRIMMED, k) for k, _ in rows if k.endswith(" ")]
        )[:SAMPLE_LIMIT]
        for parts, seed in ((1, 0), (4, 1), (7, 2)):
            df = spark.createDataFrame(rows, schema).repartition(parts)
            df = df.orderBy((df.n * 7919 + seed) % 13)
            report = validate_primary_keys(df, "id", strict=False)
            got = [(s["reason"], s["id"]) for s in report.samples]
            assert got == want, parts

    def test_nullish_keys_are_not_duplicate_keys(self, spark):
        rows = [("",), ("",), (None,), (None,), ("null",), ("NULL",),
                ("5",), ("5",), ("6",)]
        df = spark.createDataFrame(rows, "id string")
        report = validate_primary_keys(df, "id", strict=False)
        assert report.duplicate_keys == [("5", 2)]
        assert report.by_reason == {R_NULLISH: 6, R_DUPLICATE: 1}

    def test_histogram_equals_annotate_issues_on_random_keys(self, spark):
        """Property: on random dirty keys (null tokens, padding, tabs,
        line breaks, over-long keys, repeats) the single-pass
        histogram equals the per-row annotate_issues histogram."""
        import random

        atoms = ["1", "2", "a", "", " ", "null", " NIL", "N/A\t", "x\ny",
                 "t\tab", " pad", "pad ", "q" * 256, "7", "Undefined"]
        for seed in range(4):
            rng = random.Random(seed)
            keys = [
                None if rng.random() < 0.08 else rng.choice(atoms)
                for _ in range(rng.randint(20, 60))
            ]
            df = spark.createDataFrame(
                [(k, i) for i, k in enumerate(keys)], "id string, i int"
            )
            want = {
                r["reason"]: r["n"]
                for r in annotate_issues(df, "id")
                .groupBy("reason")
                .count()
                .withColumnRenamed("count", "n")
                .collect()
                if r["reason"] is not None
            }
            report = validate_primary_keys(df, "id", strict=False)
            assert report.by_reason == want, (seed, keys)
            assert report.total == len(keys)
            assert report.invalid == sum(want.values())

    def test_clean_frame_runs_only_the_two_level_aggregate(self, spark):
        """Job-count pin: on clean input nothing runs beyond the
        two-level aggregate (no duplicate-key or sample query)."""
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(str(i), i) for i in range(50)], "id string, v int"
        )

        def two_level():
            df.groupBy(F.col("id").cast("string")).count().agg(
                F.sum("count")
            ).collect()

        budget = _jobs_in(spark, "pk-two-level-agg", two_level)
        used = _jobs_in(
            spark,
            "pk-validate-clean",
            lambda: validate_primary_keys(df, "id", strict=True),
        )
        assert 1 <= used <= budget, (used, budget)


class TestRfc3339Keys:
    """The RFC3339 probe rides the PK-validation aggregate; a PK
    column that coerces is validated as timestamps."""

    def test_two_spellings_of_one_instant_are_duplicates(self, spark, tmp_path):
        """A string PK holding one instant in two RFC3339 spellings
        coerces to one timestamp key: a strict diff sync rejects it
        with one duplicate, before touching the target."""
        import sqlite3

        from mydatasyncer_spark.config import SyncConfig, TableSpec
        from mydatasyncer_spark.sinks.applier import DbApiBackend
        from mydatasyncer_spark.syncer import sync

        path = tmp_path / "events.csv"
        path.write_text(
            "id,note\n"
            "2024-01-01T00:00:00Z,first\n"
            "2024-01-01T00:00:00+00:00,second\n"
            "2024-01-02T00:00:00Z,third\n"
        )
        conn = sqlite3.connect(":memory:")
        conn.execute("CREATE TABLE events (id TEXT PRIMARY KEY, note TEXT)")
        cfg = SyncConfig(
            tables=[
                TableSpec(
                    name="events",
                    file_path=str(path),
                    primary_key="id",
                    sync_mode="diff",
                )
            ]
        )
        with pytest.raises(ValidationError) as err:
            sync(spark, DbApiBackend(conn), cfg)
        report = err.value.report
        assert report.total == 3
        assert report.by_reason == {R_DUPLICATE: 1}
        assert len(report.duplicate_keys) == 1
        assert conn.execute("SELECT COUNT(*) FROM events").fetchone() == (0,)
        conn.close()

    def test_folded_probe_equals_standalone_probe(self, spark):
        from pyspark.sql import types as T

        from mydatasyncer_spark.sources.readers import coerce_rfc3339

        rows = [
            ("k1", "2023-12-25T06:30:45Z", "2023-12-25T06:30:45Z", None, "a", 1),
            ("k2", "2023-12-26T00:00:00+09:00", "nope", None, None, 2),
            ("k2", None, None, None, "b", 3),
        ]
        df = spark.createDataFrame(
            rows, "id string, rfc string, mixed string, nul string, s string, n int"
        )

        def converted(frame):
            out = coerce_rfc3339(frame)
            return [
                f.name
                for f in out.schema.fields
                if isinstance(f.dataType, T.TimestampType)
            ]

        for frame, pk in ((df, "id"), (df, "absent"), (df.limit(0), "id")):
            report = validate_primary_keys(
                frame, pk, strict=False, probe_rfc3339=True
            )
            assert report.rfc3339_columns == converted(frame), pk
            plain = validate_primary_keys(frame, pk, strict=False)
            assert plain.rfc3339_columns is None
            assert (plain.total, plain.by_reason) == (
                report.total,
                report.by_reason,
            )
        assert converted(df) == ["rfc"]
