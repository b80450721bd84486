"""One-pass classification equivalence: the single-full-outer
derivations — diff_changes, the IVM views over its classified frame
(maintain_rollup, maintain_rollup_minmax, affected_join_keys) and
scd2_apply_onepass — must match an independent reference for any
mutation mix, including NULL group values, NULL measure values, NULL
join keys, group moves, group death/birth, and both SCD2 absent-key
policies. The rollups compare against a full recompute over the new
snapshot, the affected keys against a key set built on the driver
from the collected snapshots, SCD2 against the leg-wise
scd2_apply."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mydatasyncer_spark.operators.diff import (
    DiffResult,
    diff_changes,
    diff_snapshots,
)
from mydatasyncer_spark.operators.ivm import (
    affected_join_keys,
    maintain_rollup,
    maintain_rollup_minmax,
    rollup_state,
    rollup_state_minmax,
)
from mydatasyncer_spark.operators.scd import (
    scd2_apply,
    scd2_apply_onepass,
    scd2_init,
)

SCHEMA = "id long, g string, v double"


def _rows(df):
    return sorted(map(str, df.collect()))


def _frames(spark, seed, with_nulls=True):
    """Random old/new snapshot pair: deletes, group moves (incl. to/
    from NULL group), value changes (incl. to/from NULL), inserts."""
    rng = random.Random(seed)
    groups = ["a", "b", "c", None] if with_nulls else ["a", "b", "c"]

    def val():
        if with_nulls and rng.random() < 0.1:
            return None
        return round(rng.uniform(1, 500), 2)

    old = [(i, rng.choice(groups), val()) for i in range(150)]
    new = []
    for i, g, v in old:
        roll = rng.random()
        if roll < 0.15:
            continue  # delete
        if roll < 0.30:
            new.append((i, rng.choice(groups), v))  # maybe move group
        elif roll < 0.45:
            new.append((i, g, val()))  # value change (maybe to NULL)
        else:
            new.append((i, g, v))  # unchanged
    new += [
        (1000 + k, rng.choice(groups + ["e"]), val()) for k in range(15)
    ]
    return (
        spark.createDataFrame(old, SCHEMA),
        spark.createDataFrame(new, SCHEMA),
    )


class TestDiffChanges:
    @pytest.mark.parametrize("seed", [3, 11])
    def test_classification_matches_leg_counts(self, spark, seed):
        old_df, new_df = self._pair(spark, seed)
        diff = diff_snapshots(new_df, old_df, "id")
        ch = diff_changes(new_df, old_df, "id")
        by_kind = {
            r["_kind"]: r["n"]
            for r in ch.groupBy("_kind").agg(F.count("*").alias("n")).collect()
        }
        assert by_kind.get("insert", 0) == diff.to_insert.count()
        assert by_kind.get("update", 0) == diff.to_update.count()
        assert by_kind.get("delete", 0) == diff.to_delete.count()

    def test_delete_gate(self, spark):
        old_df, new_df = self._pair(spark, 7)
        ch = diff_changes(new_df, old_df, "id", delete_not_in_file=False)
        assert ch.filter(F.col("_kind") == "delete").count() == 0

    def test_after_before_images(self, spark):
        old_df = spark.createDataFrame([(1, "x", 5.0), (2, "y", 3.0)], SCHEMA)
        new_df = spark.createDataFrame([(1, "x", 9.0), (3, "z", 1.0)], SCHEMA)
        ch = {r["_kind"]: r for r in diff_changes(new_df, old_df, "id").collect()}
        assert ch["update"]["_after"]["v"] == 9.0
        assert ch["update"]["_before"]["v"] == 5.0
        assert ch["insert"]["_after"]["id"] == 3
        assert ch["insert"]["_before"] is None
        assert ch["delete"]["_before"]["id"] == 2
        assert ch["delete"]["_after"] is None

    def _pair(self, spark, seed):
        return _frames(spark, seed)


def _narrow(new_df, old_df, payload):
    """The registry queries' form: one classification join carrying
    only the columns the view reads."""
    return DiffResult.of_changes(
        diff_changes(new_df, old_df, "id", new_df.columns, payload=payload)
    )


def _full_outer_joins(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "FullOuter"
    )


class TestRollupOnePassEquivalence:
    @pytest.mark.parametrize("seed", [3, 11, 42])
    def test_sum_rollup_matches_legacy_and_recompute(self, spark, seed):
        old_df, new_df = _frames(spark, seed)
        state = rollup_state(old_df, ["g"], "v")
        recompute = _rows(rollup_state(new_df, ["g"], "v"))
        for diff in (
            diff_snapshots(new_df, old_df, "id"),
            _narrow(new_df, old_df, ["g", "v"]),
        ):
            assert _rows(maintain_rollup(state, diff, ["g"], "v")) == recompute

    @pytest.mark.parametrize("seed", [5, 23, 99])
    def test_minmax_rollup_matches_legacy_and_recompute(self, spark, seed):
        old_df, new_df = _frames(spark, seed)
        state = rollup_state_minmax(old_df, ["g"], "v")
        recompute = _rows(rollup_state_minmax(new_df, ["g"], "v"))
        for diff in (
            diff_snapshots(new_df, old_df, "id"),
            _narrow(new_df, old_df, ["g", "v"]),
        ):
            maintained = maintain_rollup_minmax(
                state, diff, new_df, ["g"], "v"
            )
            assert _rows(maintained) == recompute

    def test_minmax_extremum_removal_repairs(self, spark):
        """A delete of the stored minimum must route through the
        damaged-group repair."""
        old_df = spark.createDataFrame(
            [(1, "x", 1.0), (2, "x", 5.0), (3, "x", 9.0)], SCHEMA
        )
        new_df = spark.createDataFrame(
            [(2, "x", 5.0), (3, "x", 9.0)], SCHEMA
        )
        state = rollup_state_minmax(old_df, ["g"], "v")
        onepass = maintain_rollup_minmax(
            state, _narrow(new_df, old_df, ["g", "v"]), new_df, ["g"], "v"
        )
        [r] = onepass.collect()
        assert (r["min_val"], r["max_val"], r["n_rows"]) == (5.0, 9.0, 2)

    def test_one_classification_join_per_use(self, spark):
        """Over an unpinned diff_snapshots the rollup runs the diff's
        one classification join plus its state merge — not one
        classification join per diff leg."""
        old_df, new_df = _frames(spark, 3)
        diff = diff_snapshots(new_df, old_df, "id")
        state = rollup_state(old_df, ["g"], "v")
        assert _full_outer_joins(maintain_rollup(state, diff, ["g"], "v")) == 2


def _driver_affected_keys(old_df, new_df, key):
    """Affected keys from the collected snapshots: an insert's
    after-key, a delete's before-key, both keys of an update — NULL
    included."""
    old = {r["id"]: r for r in old_df.collect()}
    new = {r["id"]: r for r in new_df.collect()}
    keys = set()
    for i in old.keys() | new.keys():
        o, n = old.get(i), new.get(i)
        if o is None:
            keys.add(n[key])
        elif n is None:
            keys.add(o[key])
        elif o != n:
            keys.update((o[key], n[key]))
    return sorted(keys, key=lambda x: (x is None, x))


def _key_list(df, key):
    return sorted((r[key] for r in df.collect()), key=lambda x: (x is None, x))


class TestAffectedKeysOnePassEquivalence:
    @pytest.mark.parametrize("seed", [3, 42])
    def test_key_set_matches_legacy(self, spark, seed):
        old_df, new_df = _frames(spark, seed)
        expected = _driver_affected_keys(old_df, new_df, "g")
        for diff in (
            diff_snapshots(new_df, old_df, "id"),
            _narrow(new_df, old_df, ["g"]),
        ):
            assert _key_list(affected_join_keys(diff, "g"), "g") == expected

    def test_null_key_move_contributes_both_sides(self, spark):
        """An update moving a row from the NULL group to 'x' must
        dirty BOTH keys — including NULL."""
        old_df = spark.createDataFrame([(1, None, 5.0)], SCHEMA)
        new_df = spark.createDataFrame([(1, "x", 5.0)], SCHEMA)
        keys = affected_join_keys(_narrow(new_df, old_df, ["g"]), "g")
        assert _key_list(keys, "g") == ["x", None]

    def test_one_classification_join_per_use(self, spark):
        """Over an unpinned diff_snapshots the key scope runs the
        diff's one classification join, not one per diff leg."""
        old_df, new_df = _frames(spark, 3)
        diff = diff_snapshots(new_df, old_df, "id")
        assert _full_outer_joins(affected_join_keys(diff, "g")) == 1


class TestScd2OnePassEquivalence:
    @pytest.mark.parametrize("seed", [3, 11, 42])
    @pytest.mark.parametrize("delete_absent", [True, False])
    def test_history_matches_legacy(self, spark, seed, delete_absent):
        old_df, new_df = _frames(spark, seed)
        hist = scd2_init(old_df, "2020-01-01")
        legacy = scd2_apply(
            hist, new_df, "id", "2020-06-01", delete_absent=delete_absent
        )
        onepass = scd2_apply_onepass(
            hist, new_df, "id", "2020-06-01", delete_absent=delete_absent
        )
        assert _rows(onepass) == _rows(legacy)

    def test_second_apply_with_closed_history(self, spark):
        """Non-current rows pass through untouched; a later apply on
        the one-pass-built history equals the legacy chain."""
        s0 = spark.createDataFrame([(1, "x", 5.0), (2, "y", 3.0)], SCHEMA)
        s1 = spark.createDataFrame([(1, "x", 9.0), (3, "z", 1.0)], SCHEMA)
        s2 = spark.createDataFrame([(1, "x", 9.0), (3, "w", 2.0)], SCHEMA)
        hist0 = scd2_init(s0, "2020-01-01")
        legacy = scd2_apply(
            scd2_apply(hist0, s1, "id", "2020-02-01"), s2, "id", "2020-03-01"
        )
        onepass = scd2_apply_onepass(
            scd2_apply_onepass(hist0, s1, "id", "2020-02-01"),
            s2,
            "id",
            "2020-03-01",
        )
        assert _rows(onepass) == _rows(legacy)

    def test_timestamp_effectivity(self, spark):
        s0 = spark.createDataFrame([(1, "x", 5.0)], SCHEMA)
        s1 = spark.createDataFrame([(1, "x", 6.0)], SCHEMA)
        hist = scd2_init(s0, "2020-01-01 00:00:00", effective_type="timestamp_ntz")
        legacy = scd2_apply(hist, s1, "id", "2020-01-01 12:00:00")
        onepass = scd2_apply_onepass(hist, s1, "id", "2020-01-01 12:00:00")
        assert _rows(onepass) == _rows(legacy)
