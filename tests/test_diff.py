"""Diff-engine algebra, mirroring the reference's golden triple
(ref: TestDiffData, dbsync_test.go:541-577): file = {1 changed,
2 unchanged, 4 new}, db = {1, 2, 3} ⇒ insert [4], update [1], delete [3]."""

from __future__ import annotations

import pytest

from mydatasyncer_spark.operators.diff import (
    BEFORE_COL,
    detect_deletes,
    detect_inserts,
    detect_updates,
    diff_snapshots,
)


@pytest.fixture(scope="module")
def snapshots(spark):
    file_df = spark.createDataFrame(
        [(1, "Alice", 30.0), (2, "Bob", 25.0), (4, "Dave", 40.0)],
        "id long, name string, score double",
    )
    db_df = spark.createDataFrame(
        [(1, "Alice", 99.0), (2, "Bob", 25.0), (3, "Carol", 35.0)],
        "id long, name string, score double",
    )
    return file_df, db_df


def test_golden_triple(spark, snapshots):
    file_df, db_df = snapshots
    result = diff_snapshots(file_df, db_df, "id")
    assert [r["id"] for r in result.to_insert.collect()] == [4]
    updates = result.to_update.collect()
    assert [r["id"] for r in updates] == [1]
    assert updates[0][BEFORE_COL]["score"] == 99.0
    assert updates[0]["score"] == 30.0
    assert [r["id"] for r in result.to_delete.collect()] == [3]
    assert result.counts() == {"insert": 1, "update": 1, "delete": 1}


def test_delete_gating(snapshots):
    file_df, db_df = snapshots
    result = diff_snapshots(file_df, db_df, "id", delete_not_in_file=False)
    assert result.to_delete.count() == 0


def test_cross_type_pk(spark):
    """JSON-style float 42.0 key matches DB string "42" (J5)."""
    file_df = spark.createDataFrame([(42.0, "x")], "id double, v string")
    db_df = spark.createDataFrame([("42", "x")], "id string, v string")
    assert detect_inserts(file_df, db_df, "id").count() == 0
    assert detect_deletes(file_df, db_df, "id").count() == 0


def test_null_vs_empty_update(spark):
    """NULL and "" both canonicalize to "" (ref: dbsync.go:654) —
    so NULL→"" is NOT an update, matching the reference's stringify."""
    file_df = spark.createDataFrame([(1, "")], "id long, v string")
    db_df = spark.createDataFrame([(1, None)], "id long, v string")
    assert detect_updates(file_df, db_df, "id", ["id", "v"]).count() == 0


def test_empty_file_diff(spark, snapshots):
    _, db_df = snapshots
    empty = spark.createDataFrame([], "id long, name string, score double")
    result = diff_snapshots(empty, db_df, "id")
    assert result.to_insert.count() == 0
    assert result.to_update.count() == 0
    assert result.to_delete.count() == 3


def test_column_subset_diff(spark, snapshots):
    """Diff restricted to (id, name) ignores score changes."""
    file_df, db_df = snapshots
    result = diff_snapshots(file_df, db_df, "id", columns=["id", "name"])
    assert result.to_update.count() == 0
    assert [r["id"] for r in result.to_insert.collect()] == [4]


class TestClassifiedTriple:
    """diff_snapshots splits ONE classified full-outer join; its legs
    must equal the single-leg anti/inner joins row for row (duplicate
    and NULL keys included), and a pinned triple reads only the pin."""

    @staticmethod
    def _rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    @staticmethod
    def _shape(df):
        return [(f.name, f.dataType) for f in df.schema]

    def test_legs_equal_single_leg_joins_on_random_frames(self, spark):
        import random

        def frame(rng):
            rows = [
                (
                    None if rng.random() < 0.1 else rng.randint(0, 12),
                    rng.choice(["a", "b", None]),
                    rng.randint(0, 2),
                )
                for _ in range(rng.randint(10, 30))
            ]
            return spark.createDataFrame(rows, "id long, s string, v int")

        cols = ["id", "s", "v"]
        for seed in range(3):
            rng = random.Random(seed)
            f, d = frame(rng), frame(rng)
            got = diff_snapshots(f, d, "id")
            want = {
                "insert": detect_inserts(f, d, "id"),
                "update": detect_updates(f, d, "id", cols),
                "delete": detect_deletes(f, d, "id"),
            }
            legs = {
                "insert": got.to_insert,
                "update": got.to_update,
                "delete": got.to_delete,
            }
            for leg, df in legs.items():
                assert self._shape(df) == self._shape(want[leg]), leg
                assert self._rows(df) == self._rows(want[leg]), (seed, leg)

    def test_pin_serves_every_leg_and_release_frees_it(self, spark, snapshots):
        file_df, db_df = snapshots
        pinned = diff_snapshots(file_df, db_df, "id").pin()
        rdd_id = pinned.changes._jdf.queryExecution().analyzed().rdd().id()
        persistent = spark.sparkContext._jsc.getPersistentRDDs()
        assert persistent.containsKey(rdd_id)
        for leg in (pinned.to_insert, pinned.to_update, pinned.to_delete):
            plan = leg._jdf.queryExecution().executedPlan().toString()
            assert "Scan ExistingRDD" in plan and "Join" not in plan, plan
        assert pinned.counts() == {"insert": 1, "update": 1, "delete": 1}
        pinned.release()
        persistent = spark.sparkContext._jsc.getPersistentRDDs()
        assert not persistent.containsKey(rdd_id)

    def test_pinned_delete_gating(self, snapshots):
        file_df, db_df = snapshots
        gated = diff_snapshots(file_df, db_df, "id", delete_not_in_file=False)
        pinned = gated.pin()
        try:
            assert pinned.counts() == {"insert": 1, "update": 1, "delete": 0}
        finally:
            pinned.release()


class TestDiffCounts:
    """diff_counts must classify identically to the three-join
    diff_snapshots — same semantics, one-pass plan."""

    def test_matches_golden_triple(self, snapshots):
        from mydatasyncer_spark.operators.diff import diff_counts

        file_df, db_df = snapshots
        row = diff_counts(file_df, db_df, "id").first()
        assert (row["n_insert"], row["n_update"], row["n_delete"]) == (1, 1, 1)

    def test_matches_diff_snapshots_on_random_frames(self, spark):
        import random

        from mydatasyncer_spark.operators.diff import diff_counts

        rng = random.Random(7)
        rows_f = [(i, rng.randint(0, 3)) for i in range(200) if rng.random() < 0.8]
        rows_d = [(i, rng.randint(0, 3)) for i in range(200) if rng.random() < 0.8]
        f = spark.createDataFrame(rows_f, "id long, v long")
        d = spark.createDataFrame(rows_d, "id long, v long")
        expected = diff_snapshots(f, d, "id").counts()
        row = diff_counts(f, d, "id").first()
        assert row["n_insert"] == expected["insert"]
        assert row["n_update"] == expected["update"]
        assert row["n_delete"] == expected["delete"]

    def test_delete_gating(self, snapshots):
        from mydatasyncer_spark.operators.diff import diff_counts

        file_df, db_df = snapshots
        row = diff_counts(file_df, db_df, "id", delete_not_in_file=False).first()
        assert row["n_delete"] == 0 and row["n_insert"] == 1


class TestPrunedDiff:
    """diff_snapshots_pruned must produce the exact triple of the full
    diff — the bucket-fingerprint pre-pass is an optimization, never a
    semantic change."""

    def _triple_sets(self, result):
        ins = {tuple(r) for r in result.to_insert.collect()}
        upd = {tuple(r)[:-1] for r in result.to_update.collect()}
        dele = {tuple(r) for r in result.to_delete.collect()}
        return ins, upd, dele

    @pytest.mark.parametrize("n_buckets", [1, 4, 64])
    def test_matches_full_diff(self, spark, snapshots, n_buckets):
        from mydatasyncer_spark.operators.diff import (
            diff_snapshots_pruned,
        )

        file_df, db_df = snapshots
        full = diff_snapshots(file_df, db_df, "id")
        pruned = diff_snapshots_pruned(
            file_df, db_df, "id", n_buckets=n_buckets
        )
        assert self._triple_sets(pruned) == self._triple_sets(full)

    def test_matches_on_random_frames(self, spark):
        import random

        from mydatasyncer_spark.operators.diff import diff_snapshots_pruned

        rng = random.Random(11)
        rows_f = [(i, rng.randint(0, 3)) for i in range(300) if rng.random() < 0.8]
        rows_d = [(i, rng.randint(0, 3)) for i in range(300) if rng.random() < 0.8]
        f = spark.createDataFrame(rows_f, "id long, v long")
        d = spark.createDataFrame(rows_d, "id long, v long")
        full = diff_snapshots(f, d, "id").counts()
        pruned = diff_snapshots_pruned(f, d, "id", n_buckets=16).counts()
        assert pruned == full

    def test_identical_snapshots_skip_everything(self, spark):
        from mydatasyncer_spark.operators.diff import (
            changed_buckets,
            diff_snapshots_pruned,
        )

        rows = [(i, i % 5) for i in range(100)]
        f = spark.createDataFrame(rows, "id long, v long")
        d = spark.createDataFrame(rows, "id long, v long")
        assert changed_buckets(f, d, "id", n_buckets=32) == []
        result = diff_snapshots_pruned(f, d, "id", n_buckets=32)
        assert result.counts() == {"insert": 0, "update": 0, "delete": 0}

    def test_localized_change_touches_few_buckets(self, spark):
        from mydatasyncer_spark.operators.diff import changed_buckets

        rows = [(i, 0) for i in range(1000)]
        f = spark.createDataFrame(rows, "id long, v long")
        # mutate exactly one row -> exactly one changed bucket
        d = spark.createDataFrame(
            [(i, 1 if i == 77 else 0) for i in range(1000)], "id long, v long"
        )
        assert len(changed_buckets(f, d, "id", n_buckets=64)) == 1

    def test_range_bucket_fn_localizes_key_range_changes(self, spark):
        """A key-range change cluster scatters over ~every hash bucket
        but lands in ONE range bucket — the bucket_fn override is what
        makes pruning effective for append-mostly daily syncs."""
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.diff import (
            changed_buckets,
            diff_snapshots,
            diff_snapshots_pruned,
        )

        rows_d = [(i, 0) for i in range(1024)]
        # all 16 mutations inside key range [512, 528)
        rows_f = [(i, 1 if 512 <= i < 528 else 0) for i in range(1024)]
        d = spark.createDataFrame(rows_d, "id long, v long")
        f = spark.createDataFrame(rows_f, "id long, v long")
        range_fn = lambda df: F.expr("pmod(id div 16, 64)")  # noqa: E731
        hashed = changed_buckets(f, d, "id", n_buckets=64)
        ranged = changed_buckets(f, d, "id", n_buckets=64, bucket_fn=range_fn)
        assert len(ranged) == 1  # keys 512..527 = range bucket 32
        assert len(hashed) > len(ranged)  # hash scatters the cluster
        pruned = diff_snapshots_pruned(
            f, d, "id", n_buckets=64, bucket_fn=range_fn
        )
        assert pruned.counts() == diff_snapshots(f, d, "id").counts()

    def test_delete_gating(self, snapshots):
        from mydatasyncer_spark.operators.diff import diff_snapshots_pruned

        file_df, db_df = snapshots
        result = diff_snapshots_pruned(
            file_df, db_df, "id", delete_not_in_file=False
        )
        c = result.counts()
        assert c["delete"] == 0 and c["insert"] == 1

    def test_cross_type_bucketing(self, spark):
        """int-PK side and string-PK side land in the same buckets
        (canonical-key bucketing, J5)."""
        from mydatasyncer_spark.operators.diff import diff_snapshots_pruned

        f = spark.createDataFrame([("1", "a"), ("2", "b")], "id string, v string")
        d = spark.createDataFrame([(1, "a"), (3, "c")], "id long, v string")
        c = diff_snapshots_pruned(f, d, "id", n_buckets=8).counts()
        # id=1 identical across types, id=2 insert, id=3 delete
        assert c == {"insert": 1, "update": 0, "delete": 1}


class TestPrunedDiffCounts:
    """diff_counts_pruned (r14) must count identically to the
    leg-by-leg triple of diff_snapshots_pruned — the one-pass
    classification is a plan change, never a semantic one."""

    def _as_tuple(self, df):
        row = df.first()
        return (row["n_insert"], row["n_update"], row["n_delete"])

    @pytest.mark.parametrize("n_buckets", [1, 4, 64])
    def test_matches_pruned_triple(self, spark, snapshots, n_buckets):
        from mydatasyncer_spark.operators.diff import (
            diff_counts_pruned,
            diff_snapshots_pruned,
        )

        file_df, db_df = snapshots
        c = diff_snapshots_pruned(
            file_df, db_df, "id", n_buckets=n_buckets
        ).counts()
        assert self._as_tuple(
            diff_counts_pruned(file_df, db_df, "id", n_buckets=n_buckets)
        ) == (c["insert"], c["update"], c["delete"])

    def test_matches_on_random_frames(self, spark):
        import random

        from mydatasyncer_spark.operators.diff import diff_counts_pruned

        rng = random.Random(13)
        rows_f = [(i, rng.randint(0, 3)) for i in range(300) if rng.random() < 0.8]
        rows_d = [(i, rng.randint(0, 3)) for i in range(300) if rng.random() < 0.8]
        f = spark.createDataFrame(rows_f, "id long, v long")
        d = spark.createDataFrame(rows_d, "id long, v long")
        full = diff_snapshots(f, d, "id").counts()
        assert self._as_tuple(diff_counts_pruned(f, d, "id", n_buckets=16)) == (
            full["insert"],
            full["update"],
            full["delete"],
        )

    def test_classification_reads_the_pinned_frames(self, spark):
        """The one pruned-diff path: both sides are pinned with
        localCheckpoint, and the classification join reads those two
        pinned frames (lineage truncated — no source scan below it),
        pruned by an IN-filter on the collected bucket ids, never by
        a broadcast left-semi join on the changed-bucket frame."""
        from mydatasyncer_spark.operators.diff import diff_counts_pruned

        f = spark.createDataFrame(
            [(i, 9 if i == 7 else i % 3) for i in range(200)], "id long, v long"
        )
        d = spark.createDataFrame(
            [(i, i % 3) for i in range(200)], "id long, v long"
        )
        out = diff_counts_pruned(f, d, "id", n_buckets=16)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan ExistingRDD") == 2, plan
        assert "LocalTableScan" not in plan, plan
        assert "LeftSemi" not in plan and "BroadcastHashJoin" not in plan, plan
        assert self._as_tuple(out) == (0, 1, 0)

    def test_duplicated_pair_swap_is_detected(self, spark):
        """The r14-sweep blind spot, closed in r15: XOR self-cancels
        duplicate rows, so a bucket swapping a duplicated row pair
        {A,A} for {C,C} used to preserve (count, xor) and go unseen
        DETERMINISTICALLY. The exact-sum third statistic must flag
        the bucket."""
        from mydatasyncer_spark.operators.diff import changed_buckets

        f = spark.createDataFrame(
            [(1, "x"), (1, "x")], "id long, v string"
        )
        d = spark.createDataFrame(
            [(1, "y"), (1, "y")], "id long, v string"
        )
        assert changed_buckets(f, d, "id", n_buckets=4) != []
        # and a genuinely identical duplicated pair stays unchanged
        same = spark.createDataFrame(
            [(1, "x"), (1, "x")], "id long, v string"
        )
        assert changed_buckets(f, same, "id", n_buckets=4) == []

    def test_identical_snapshots_count_zero_not_null(self, spark):
        """No changed buckets prunes EVERYTHING — the sums over the
        empty classification must coalesce to 0, exactly like count()
        over an empty DiffResult leg."""
        from mydatasyncer_spark.operators.diff import diff_counts_pruned

        rows = [(i, i % 5) for i in range(100)]
        f = spark.createDataFrame(rows, "id long, v long")
        d = spark.createDataFrame(rows, "id long, v long")
        assert self._as_tuple(
            diff_counts_pruned(f, d, "id", n_buckets=32)
        ) == (0, 0, 0)

    def test_range_bucket_fn(self, spark):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.diff import diff_counts_pruned

        rows_d = [(i, 0) for i in range(1024)]
        rows_f = [(i, 1 if 512 <= i < 528 else 0) for i in range(1024)]
        d = spark.createDataFrame(rows_d, "id long, v long")
        f = spark.createDataFrame(rows_f, "id long, v long")
        range_fn = lambda df: F.expr("pmod(id div 16, 64)")  # noqa: E731
        assert self._as_tuple(
            diff_counts_pruned(f, d, "id", n_buckets=64, bucket_fn=range_fn)
        ) == (0, 16, 0)

    def test_delete_gating(self, snapshots):
        from mydatasyncer_spark.operators.diff import diff_counts_pruned

        file_df, db_df = snapshots
        t = self._as_tuple(
            diff_counts_pruned(
                file_df, db_df, "id", delete_not_in_file=False
            )
        )
        assert t[2] == 0 and t[0] == 1

    def test_bucket_filter_prunes_partitioned_layout(self, spark, tmp_path):
        """On a snapshot STORED partitioned by bucket_col, a bucket
        IN-filter must reach the scan as a PartitionFilter — file-level
        pruning, the reason the pruned diff scales at 100 TB."""
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.diff import bucket_col
        from mydatasyncer_spark.sources.writers import write_partitioned

        df = spark.range(0, 500).select(
            F.col("id"), (F.col("id") % 9).alias("v")
        )
        df = df.withColumn("bucket", bucket_col(df, "id", 16))
        out = str(tmp_path / "bucketed_snapshot")
        write_partitioned(df, out, ["bucket"])
        back = spark.read.parquet(out)
        plan = (
            back.filter(F.col("bucket").isin([1, 2, 3]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan
        seg = plan.split("PartitionFilters")[1][:200]
        assert "bucket" in seg and "IN (1,2,3)" in seg.replace(" ", "").replace(
            "IN(", "IN ("
        )


class TestScd2:
    """SCD type-2 maintenance over the diff legs (operators/scd)."""

    def _hist(self, spark, rows):
        return spark.createDataFrame(rows, "id long, v string")

    def test_two_epochs_chain_versions(self, spark):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.scd import scd2_apply, scd2_init

        t0 = self._hist(spark, [(1, "a"), (2, "b"), (3, "c")])
        h = scd2_init(t0, "2024-01-01")
        # epoch 1: 1 updated, 3 deleted, 4 inserted
        t1 = self._hist(spark, [(1, "a2"), (2, "b"), (4, "d")])
        h = scd2_apply(h, t1, "id", "2024-02-01")
        # epoch 2: 1 updated again, 3 reappears (new version after gap)
        t2 = self._hist(spark, [(1, "a3"), (2, "b"), (4, "d"), (3, "c9")])
        h = scd2_apply(h, t2, "id", "2024-03-01")
        rows = {
            (r["id"], str(r["valid_from"]), r["v"]): (
                None if r["valid_to"] is None else str(r["valid_to"]),
                r["is_current"],
            )
            for r in h.collect()
        }
        assert rows[(1, "2024-01-01", "a")] == ("2024-02-01", False)
        assert rows[(1, "2024-02-01", "a2")] == ("2024-03-01", False)
        assert rows[(1, "2024-03-01", "a3")] == (None, True)
        assert rows[(2, "2024-01-01", "b")] == (None, True)  # untouched
        assert rows[(3, "2024-01-01", "c")] == ("2024-02-01", False)
        assert rows[(3, "2024-03-01", "c9")] == (None, True)  # rebirth
        assert rows[(4, "2024-02-01", "d")] == (None, True)
        assert len(rows) == 7
        # exactly one current version per live key
        cur = h.filter(F.col("is_current")).groupBy("id").count().collect()
        assert all(r["count"] == 1 for r in cur)

    def test_idempotent_when_snapshot_unchanged(self, spark):
        from mydatasyncer_spark.operators.scd import scd2_apply, scd2_init

        t0 = self._hist(spark, [(1, "a"), (2, "b")])
        h = scd2_init(t0, "2024-01-01")
        h2 = scd2_apply(h, t0, "id", "2024-05-01")
        got = sorted(
            (r["id"], str(r["valid_from"]), r["valid_to"], r["is_current"])
            for r in h2.collect()
        )
        assert got == [
            (1, "2024-01-01", None, True),
            (2, "2024-01-01", None, True),
        ]

    def test_pruned_diff_fn_produces_identical_history(self, spark):
        """scd2_apply(diff_fn=diff_snapshots_pruned) must emit exactly
        the history the full diff emits — pruning is invisible in the
        output, so the delta-sized daily-sync path is safe to use."""
        from mydatasyncer_spark.operators.diff import diff_snapshots_pruned
        from mydatasyncer_spark.operators.scd import scd2_apply, scd2_init

        t0 = self._hist(
            spark, [(i, f"v{i}") for i in range(1, 40)]
        )
        h = scd2_init(t0, "2024-01-01")
        # localized change: only ids 5..8 mutate, 100 appears, 7 gone
        t1_rows = [
            (i, f"v{i}" if not 5 <= i <= 8 else f"w{i}")
            for i in range(1, 40)
            if i != 7
        ] + [(100, "new")]
        t1 = self._hist(spark, t1_rows)
        full = scd2_apply(h, t1, "id", "2024-02-01")
        pruned = scd2_apply(
            h, t1, "id", "2024-02-01",
            diff_fn=lambda s, c, pk: diff_snapshots_pruned(
                s, c, pk, n_buckets=16
            ),
        )
        key = lambda r: (r["id"], str(r["valid_from"]), r["v"],
                         str(r["valid_to"]), r["is_current"])
        assert sorted(map(key, full.collect())) == sorted(
            map(key, pruned.collect())
        )


class TestScd2Randomized:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """Seeded random epoch sequences folded through scd2_apply,
    checked against a pure-Python reference model of type-2 history
    — updates, deletes, rebirths, no-ops, and multi-epoch chains in
    random combination."""

    def test_random_epoch_sequences_match_reference_model(self, spark):
        import random

        from mydatasyncer_spark.operators.scd import scd2_apply, scd2_init

        for seed in (3, 41):
            rng = random.Random(seed)
            dates = [f"2024-{m:02d}-01" for m in range(1, 7)]
            snap = {k: f"v{k}.0" for k in range(1, 1 + rng.randrange(5, 9))}
            next_key = 100
            # reference model: key -> list of [value, from, to|None]
            model = {
                k: [[v, dates[0], None]] for k, v in snap.items()
            }
            h = scd2_init(
                spark.createDataFrame(
                    sorted(snap.items()), "id long, v string"
                ),
                dates[0],
            )
            for d in dates[1:]:
                prev = dict(snap)
                for k in list(snap):
                    r = rng.random()
                    if r < 0.2:
                        del snap[k]          # delete
                    elif r < 0.5:
                        snap[k] = snap[k] + "x"  # update
                if rng.random() < 0.7:
                    snap[next_key] = f"v{next_key}.0"  # insert
                    next_key += 1
                if rng.random() < 0.3 and len(prev) > len(snap):
                    # rebirth: a just-deleted key reappears changed
                    dead = sorted(set(prev) - set(snap))[0]
                    snap[dead] = prev[dead] + "_reborn"
                # fold the reference model
                for k in prev:
                    if k not in snap:
                        model[k][-1][2] = d  # close
                for k, v in snap.items():
                    if k not in prev:
                        model.setdefault(k, [])
                        model[k].append([v, d, None])  # open (or rebirth)
                    elif v != prev[k]:
                        model[k][-1][2] = d
                        model[k].append([v, d, None])
                h = scd2_apply(
                    h,
                    spark.createDataFrame(
                        sorted(snap.items()), "id long, v string"
                    ),
                    "id",
                    d,
                    # truncate lineage between epochs, as the real
                    # deployment does by persisting history to parquet
                    # (continuous_scd2_table) — a lazily-chained
                    # 5-epoch plan re-derives every prior diff
                ).localCheckpoint(eager=True)
            want = {
                (k, v, frm, to, to is None)
                for k, versions in model.items()
                for v, frm, to in versions
            }
            got = {
                (
                    r["id"],
                    r["v"],
                    str(r["valid_from"]),
                    None if r["valid_to"] is None else str(r["valid_to"]),
                    r["is_current"],
                )
                for r in h.collect()
            }
            assert got == want, seed
            # live keys carry exactly one current version each
            cur = [k for k, _, _, to, _ in got if to is None]
            assert sorted(cur) == sorted(snap), seed
