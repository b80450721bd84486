"""E2E sync-state tests against a real (sqlite) database, mirroring
the reference's golden-state layer (ref: main_test.go:201-513,
dbsync_test.go:106-738): run the full pipeline, assert exact final
table contents, verify dry-run mutates nothing and failures roll back
everything."""

from __future__ import annotations

import sqlite3

import pytest

from mydatasyncer_spark.config import SyncConfig, TableSpec
from mydatasyncer_spark.sinks.applier import (
    DbApiBackend,
    Transaction,
    apply_diff,
    stage_and_apply,
)
from mydatasyncer_spark.syncer import sync


@pytest.fixture()
def db():
    conn = sqlite3.connect(":memory:")
    conn.execute(
        "CREATE TABLE test_table (id INTEGER PRIMARY KEY, name TEXT, value TEXT)"
    )
    conn.executemany(
        "INSERT INTO test_table VALUES (?, ?, ?)",
        [(1, "Alice", "old"), (2, "Bob", "keep"), (3, "Carol", "gone")],
    )
    conn.commit()
    yield conn
    conn.close()


def rows(conn, table="test_table", order="id"):
    return conn.execute(f"SELECT * FROM {table} ORDER BY {order}").fetchall()


def write_csv(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


SF_DIR_FOR_WRITER = "/root/testdata/sf0.001"

CSV_DIFF = "id,name,value\n1,Alice,new\n2,Bob,keep\n4,Dave,fresh\n"


class TestSingleTableDiff:
    def test_diff_with_delete(self, spark, db, tmp_path):
        path = write_csv(tmp_path, "data.csv", CSV_DIFF)
        cfg = SyncConfig(
            tables=[
                TableSpec(
                    name="test_table",
                    file_path=path,
                    primary_key="id",
                    sync_mode="diff",
                    delete_not_in_file=True,
                )
            ]
        )
        out = sync(spark, DbApiBackend(db), cfg)
        assert rows(db) == [
            (1, "Alice", "new"),
            (2, "Bob", "keep"),
            (4, "Dave", "fresh"),
        ]
        stats = out.stats["test_table"]
        assert (stats.inserted, stats.updated, stats.deleted) == (1, 1, 1)

    def test_diff_without_delete_keeps_db_only_rows(self, spark, db, tmp_path):
        path = write_csv(tmp_path, "data.csv", CSV_DIFF)
        cfg = SyncConfig(
            tables=[
                TableSpec(
                    name="test_table",
                    file_path=path,
                    primary_key="id",
                    sync_mode="diff",
                    delete_not_in_file=False,
                )
            ]
        )
        sync(spark, DbApiBackend(db), cfg)
        assert (3, "Carol", "gone") in rows(db)
        assert (4, "Dave", "fresh") in rows(db)

    def test_diff_with_bucket_pruning_same_state(self, spark, db, tmp_path):
        """pruneBuckets>0 routes through diff_snapshots_pruned; the
        synced DB state must be byte-identical to the full-diff path."""
        path = write_csv(tmp_path, "data.csv", CSV_DIFF)
        cfg = SyncConfig(
            tables=[
                TableSpec(
                    name="test_table",
                    file_path=path,
                    primary_key="id",
                    sync_mode="diff",
                    delete_not_in_file=True,
                    prune_buckets=8,
                )
            ]
        )
        out = sync(spark, DbApiBackend(db), cfg)
        assert rows(db) == [
            (1, "Alice", "new"),
            (2, "Bob", "keep"),
            (4, "Dave", "fresh"),
        ]
        stats = out.stats["test_table"]
        assert (stats.inserted, stats.updated, stats.deleted) == (1, 1, 1)


class TestOverwrite:
    def test_overwrite_replaces_all(self, spark, db, tmp_path):
        path = write_csv(tmp_path, "data.csv", "id,name,value\n7,Zoe,only\n")
        cfg = SyncConfig(
            tables=[
                TableSpec(
                    name="test_table",
                    file_path=path,
                    primary_key="id",
                    sync_mode="overwrite",
                )
            ]
        )
        sync(spark, DbApiBackend(db), cfg)
        assert rows(db) == [(7, "Zoe", "only")]

    def test_overwrite_empty_file_wipes_table(self, spark, db, tmp_path):
        # O11 sharp edge (ref: main_test.go:306-325)
        path = write_csv(tmp_path, "data.csv", "id,name,value\n")
        cfg = SyncConfig(
            tables=[
                TableSpec(
                    name="test_table", file_path=path, sync_mode="overwrite"
                )
            ]
        )
        sync(spark, DbApiBackend(db), cfg)
        assert rows(db) == []


class TestEmptyFilePolicies:
    def _cfg(self, path, delete):
        return SyncConfig(
            tables=[
                TableSpec(
                    name="test_table",
                    file_path=path,
                    primary_key="id",
                    sync_mode="diff",
                    delete_not_in_file=delete,
                )
            ]
        )

    def test_empty_diff_no_delete_is_noop(self, spark, db, tmp_path):
        path = write_csv(tmp_path, "data.csv", "id,name,value\n")
        before = rows(db)
        sync(spark, DbApiBackend(db), self._cfg(path, delete=False))
        assert rows(db) == before

    def test_empty_diff_with_delete_wipes(self, spark, db, tmp_path):
        path = write_csv(tmp_path, "data.csv", "id,name,value\n")
        sync(spark, DbApiBackend(db), self._cfg(path, delete=True))
        assert rows(db) == []


class TestDryRun:
    def test_dry_run_mutates_nothing(self, spark, db, tmp_path):
        # ref: TestE2EMultiTableSync_DryRun main_test.go:1133-1194
        path = write_csv(tmp_path, "data.csv", CSV_DIFF)
        before = rows(db)
        cfg = SyncConfig(
            tables=[
                TableSpec(
                    name="test_table",
                    file_path=path,
                    primary_key="id",
                    sync_mode="diff",
                    delete_not_in_file=True,
                )
            ],
            dry_run=True,
        )
        out = sync(spark, DbApiBackend(db), cfg)
        assert rows(db) == before
        plan = out.plans["test_table"]
        assert (plan.insert_count, plan.update_count, plan.delete_count) == (1, 1, 1)
        assert "1 inserts" in plan.render()
        # after-values come from the file side: CSV strings
        assert plan.update_samples[0]["id"] == "1"
        assert plan.update_samples[0]["_before"]["value"] == "old"


class TestMultiTable:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    @pytest.fixture()
    def fk_db(self):
        conn = sqlite3.connect(":memory:")
        conn.execute("PRAGMA foreign_keys = ON")
        conn.execute("CREATE TABLE categories (id INTEGER PRIMARY KEY, name TEXT)")
        conn.execute(
            "CREATE TABLE products (id INTEGER PRIMARY KEY, name TEXT, "
            "category_id INTEGER REFERENCES categories(id))"
        )
        conn.executemany("INSERT INTO categories VALUES (?, ?)", [(1, "a"), (2, "b")])
        conn.executemany(
            "INSERT INTO products VALUES (?, ?, ?)", [(10, "p1", 1), (20, "p2", 2)]
        )
        conn.commit()
        yield conn
        conn.close()

    def test_fk_ordered_two_phase(self, spark, fk_db, tmp_path):
        """Category 2 and its product disappear; a new product arrives
        referencing a new category: deletes must run child→parent
        (product 20 before category 2), inserts parent→child
        (category 3 before product 30). Any other ordering violates
        the FK constraints (PRAGMA foreign_keys=ON enforces them)."""
        cat = write_csv(tmp_path, "cat.csv", "id,name\n1,a\n3,c\n")
        prod = write_csv(tmp_path, "prod.csv", "id,name,category_id\n10,p1,1\n30,p3,3\n")
        cfg = SyncConfig(
            tables=[
                TableSpec(
                    name="products",
                    file_path=prod,
                    primary_key="id",
                    sync_mode="diff",
                    delete_not_in_file=True,
                    dependencies=["categories"],
                ),
                TableSpec(
                    name="categories",
                    file_path=cat,
                    primary_key="id",
                    sync_mode="diff",
                    delete_not_in_file=True,
                ),
            ]
        )
        sync(spark, DbApiBackend(fk_db), cfg)
        assert rows(fk_db, "categories") == [(1, "a"), (3, "c")]
        assert rows(fk_db, "products") == [(10, "p1", 1), (30, "p3", 3)]

    def test_rollback_all_or_nothing(self, spark, fk_db, tmp_path):
        """A failure in the second table rolls back the first too
        (ref: all-or-nothing, dbsync.go:928-930)."""
        cat = write_csv(tmp_path, "cat.csv", "id,name\n1,a\n3,c\n")
        # product references category 99 which won't exist -> FK error
        prod = write_csv(tmp_path, "prod.csv", "id,name,category_id\n10,p1,1\n20,p2,99\n")
        before_cat = rows(fk_db, "categories")
        before_prod = rows(fk_db, "products")
        cfg = SyncConfig(
            tables=[
                TableSpec(
                    name="products",
                    file_path=prod,
                    primary_key="id",
                    sync_mode="diff",
                    delete_not_in_file=True,
                    dependencies=["categories"],
                ),
                TableSpec(
                    name="categories",
                    file_path=cat,
                    primary_key="id",
                    sync_mode="diff",
                    delete_not_in_file=True,
                ),
            ]
        )
        with pytest.raises(Exception):
            sync(spark, DbApiBackend(fk_db), cfg)
        assert rows(fk_db, "categories") == before_cat
        assert rows(fk_db, "products") == before_prod


class TestStagingApplier:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    def test_stage_and_apply_set_based(self, spark, db):
        to_insert = spark.createDataFrame(
            [(4, "Dave", "fresh")], "id long, name string, value string"
        )
        to_update = spark.createDataFrame(
            [(1, "Alice", "new")], "id long, name string, value string"
        )
        to_delete = spark.createDataFrame([(3,)], "id long")
        backend = DbApiBackend(db)
        with Transaction(db):
            stats = stage_and_apply(
                backend,
                "test_table",
                ["id", "name", "value"],
                "id",
                to_insert,
                to_update,
                to_delete,
            )
        assert rows(db) == [
            (1, "Alice", "new"),
            (2, "Bob", "keep"),
            (4, "Dave", "fresh"),
        ]
        assert (stats.inserted, stats.updated, stats.deleted) == (1, 1, 1)

    def test_partial_apply_rolls_back_when_a_later_leg_fails(self, spark):
        """r14 sweep: stage_and_apply's cleanup (drop_staged) COMMITS
        — by design, so dropped staging releases catalog locks — but
        pre-fix it ran in a bare finally, so a failure in the DELETE
        step committed the already-applied inserts/updates on its way
        out and the caller's Transaction had nothing left to roll
        back: a half-applied triple, the exact all-or-nothing breach
        O6 exists to prevent. The failure now rolls back BEFORE the
        cleanup commit."""
        conn = sqlite3.connect(":memory:")
        conn.execute("PRAGMA foreign_keys=ON")
        conn.execute(
            "CREATE TABLE parent (id INTEGER PRIMARY KEY, name TEXT)"
        )
        conn.execute(
            "CREATE TABLE child (id INTEGER PRIMARY KEY, "
            "pid INTEGER REFERENCES parent(id))"
        )
        conn.executemany(
            "INSERT INTO parent VALUES (?, ?)", [(1, "a"), (2, "b")]
        )
        conn.execute("INSERT INTO child VALUES (10, 2)")
        conn.commit()
        backend = DbApiBackend(conn)
        to_insert = spark.createDataFrame(
            [(3, "c")], "id long, name string"
        )
        empty = to_insert.limit(0)
        # deleting parent 2 violates child's FK -> the LAST apply step
        # fails after the insert step already succeeded
        to_delete = spark.createDataFrame([(2,)], "id long")
        with pytest.raises(Exception):
            with Transaction(conn):
                stage_and_apply(
                    backend,
                    "parent",
                    ["id", "name"],
                    "id",
                    to_insert,
                    empty,
                    to_delete,
                )
        # the successful insert leg must NOT survive the failed delete
        assert rows(conn, "parent") == [(1, "a"), (2, "b")]
        # staging is still cleaned up on the failure path
        stg = [
            r[0]
            for r in conn.execute(
                "SELECT name FROM sqlite_master WHERE name LIKE 'stg_%'"
            ).fetchall()
        ]
        assert stg == []
        conn.close()

    def test_immutable_column_excluded(self, spark, db):
        backend = DbApiBackend(db)
        to_update = spark.createDataFrame(
            [(1, "Malicious", "new")], "id long, name string, value string"
        )
        empty = to_update.limit(0)
        with Transaction(db):
            apply_diff(
                backend,
                "test_table",
                ["id", "name", "value"],
                "id",
                empty,
                to_update,
                empty.select("id"),
                immutable_columns=["name"],
            )
        assert rows(db)[0] == (1, "Alice", "new")  # name untouched, value updated


class TestTimestampInjection:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    def test_timestamps_set_on_insert_and_update(self, spark):
        conn = sqlite3.connect(":memory:")
        conn.execute(
            "CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT, "
            "created_at TEXT, updated_at TEXT)"
        )
        conn.execute("INSERT INTO t VALUES (1, 'old', 'orig', 'orig')")
        conn.commit()
        backend = DbApiBackend(conn)
        to_insert = spark.createDataFrame([(2, "new")], "id long, v string")
        to_update = spark.createDataFrame([(1, "upd")], "id long, v string")
        empty = to_insert.limit(0)
        with Transaction(conn):
            apply_diff(
                backend,
                "t",
                ["id", "v"],
                "id",
                to_insert,
                to_update,
                empty.select("id"),
                timestamp_columns=["created_at", "updated_at"],
                immutable_columns=["created_at"],
                now_fn=lambda: "NOW",
            )
        got = conn.execute("SELECT * FROM t ORDER BY id").fetchall()
        # update: created_at immutable stays, updated_at set
        assert got[0] == (1, "upd", "orig", "NOW")
        # insert: both timestamp columns set
        assert got[1] == (2, "new", "NOW", "NOW")
        conn.close()


class TestSqliteTimestampRoundTrip:
    def test_resync_of_same_file_updates_nothing(self, spark, tmp_path):
        """Timestamps the engine writes into sqlite must read back equal
        to the file's canonical form: re-syncing an unchanged file is a
        no-op, not a rewrite of every row the first sync touched."""
        conn = sqlite3.connect(":memory:")
        conn.execute(
            "CREATE TABLE ev (id INTEGER PRIMARY KEY, name TEXT, ts TEXT)"
        )
        conn.execute("INSERT INTO ev VALUES (1, 'old', '2024-01-05T10:00:00Z')")
        conn.commit()
        path = write_csv(
            tmp_path,
            "ev.csv",
            "id,name,ts\n"
            "1,new,2024-01-05T10:00:00Z\n"
            "2,added,1995-06-28T23:59:59Z\n",
        )
        cfg = SyncConfig(
            tables=[TableSpec(name="ev", file_path=path, primary_key="id")]
        )
        first = sync(spark, DbApiBackend(conn), cfg).stats["ev"]
        assert (first.inserted, first.updated) == (1, 1)
        assert rows(conn, "ev") == [
            (1, "new", "2024-01-05T10:00:00Z"),
            (2, "added", "1995-06-28T23:59:59Z"),
        ]
        second = sync(spark, DbApiBackend(conn), cfg).stats["ev"]
        assert (second.inserted, second.updated, second.deleted) == (0, 0, 0)
        conn.close()

    def test_only_datetimes_are_rebound(self):
        import datetime

        from mydatasyncer_spark.sinks.applier import _sqlite_value

        aware = datetime.datetime(
            2024, 1, 5, 12, 0, 0, 123456,
            tzinfo=datetime.timezone(datetime.timedelta(hours=2)),
        )
        assert _sqlite_value(aware) == "2024-01-05T10:00:00Z"
        for v in ("NOW", 7, 1.5, None, datetime.date(2024, 1, 5)):
            assert _sqlite_value(v) == v


def test_global_timeout_enforced(spark, db, tmp_path):
    """O12: a run past its deadline aborts with SyncError before any
    writes (ref: 5-minute deadline, main.go:60-62)."""
    from mydatasyncer_spark.config import SyncConfig, TableSpec
    from mydatasyncer_spark.errors import SyncError
    from mydatasyncer_spark.sinks.applier import DbApiBackend
    from mydatasyncer_spark.syncer import Syncer

    path = write_csv(tmp_path, "t.csv", CSV_DIFF)
    cfg = SyncConfig(
        tables=[
            TableSpec(
                name="test_table",
                file_path=path,
                primary_key="id",
                sync_mode="diff",
            )
        ],
        timeout_seconds=0,
    )
    before = rows(db)
    with pytest.raises(SyncError, match="timeout"):
        Syncer(spark, DbApiBackend(db), cfg).run()
    assert rows(db) == before


def test_missing_input_path_fails_before_any_work(spark, db, tmp_path):
    """S4: every table's input path is checked up front — a missing
    path raises SyncError naming it and the target is unchanged; a
    dataset directory and a glob with a match both pass the check."""
    from mydatasyncer_spark.errors import SyncError
    from mydatasyncer_spark.sources.readers import validate_file_paths

    def cfg(path):
        return SyncConfig(
            tables=[
                TableSpec(
                    name="test_table",
                    file_path=path,
                    primary_key="id",
                    sync_mode="diff",
                    delete_not_in_file=True,
                )
            ]
        )

    missing = str(tmp_path / "nope.csv")
    before = rows(db)
    with pytest.raises(SyncError, match="nope.csv"):
        sync(spark, DbApiBackend(db), cfg(missing))
    assert rows(db) == before

    write_csv(tmp_path, "data.csv", CSV_DIFF)
    validate_file_paths([str(tmp_path), str(tmp_path / "*.csv")])
    with pytest.raises(SyncError, match="none"):
        validate_file_paths([str(tmp_path / "*.none")])


def test_csv_strict_column_count(spark, tmp_path):
    """S1 parity: any row with the wrong field count aborts the read
    (ref: strict per-row count check, loader.go:120-122) — FAILFAST
    surfaces it as a read error in both directions."""
    from mydatasyncer_spark.sources.readers import read_csv

    extra = write_csv(tmp_path, "extra.csv", "id,name\n1,Alice\n2,Bob,EXTRA\n")
    with pytest.raises(Exception, match="(?i)malformed|failed_read"):
        read_csv(spark, extra).collect()
    short = write_csv(tmp_path, "short.csv", "id,name\n1,Alice\n2\n")
    with pytest.raises(Exception, match="(?i)malformed|failed_read"):
        read_csv(spark, short).collect()


class TestPartitionedWriter:
    def test_one_file_per_partition(self, spark, tmp_path):
        import glob

        from mydatasyncer_spark.contract import table
        from mydatasyncer_spark.sources.writers import write_partitioned

        out = str(tmp_path / "events_by_type")
        ev = table(spark, SF_DIR_FOR_WRITER, "events")
        write_partitioned(ev, out, ["event_type"])
        dirs = sorted(glob.glob(f"{out}/event_type=*"))
        assert len(dirs) == 5
        for d in dirs:
            files = glob.glob(f"{d}/*.parquet")
            assert len(files) == 1, d
        assert spark.read.parquet(out).count() == ev.count()

    def test_salted_multi_file_partitions(self, spark, tmp_path):
        import glob

        from mydatasyncer_spark.contract import table
        from mydatasyncer_spark.sources.writers import write_partitioned

        out = str(tmp_path / "events_salted")
        ev = table(spark, SF_DIR_FOR_WRITER, "events")
        write_partitioned(ev, out, ["event_type"], files_per_partition=3)
        counts = []
        for d in glob.glob(f"{out}/event_type=*"):
            n = len(glob.glob(f"{d}/*.parquet"))
            assert 1 <= n <= 3, (d, n)
            counts.append(n)
        # the salt must actually fan out (AQE used to coalesce the
        # salted repartition back to one task → one file everywhere)
        assert max(counts) > 1, counts
        assert spark.read.parquet(out).count() == ev.count()

    def test_clustered_rows_sorted_inside_files(self, spark, tmp_path):
        import glob

        import pyarrow.parquet as pq

        from mydatasyncer_spark.contract import table
        from mydatasyncer_spark.sources.writers import write_clustered

        out = str(tmp_path / "events_clustered")
        ev = table(spark, SF_DIR_FOR_WRITER, "events")
        write_clustered(ev, out, ["event_type"], ["user_id", "ts"])
        files = glob.glob(f"{out}/event_type=*/*.parquet")
        assert files
        for f in files:
            t = pq.read_table(f, columns=["user_id"])
            vals = t.column("user_id").to_pylist()
            assert vals == sorted(vals), f
        assert spark.read.parquet(out).count() == ev.count()

    def test_range_sorted_files_nonoverlapping(self, spark, tmp_path):
        import glob

        import pyarrow.parquet as pq

        from mydatasyncer_spark.contract import table
        from mydatasyncer_spark.sources.writers import write_range_sorted

        out = str(tmp_path / "orders_range")
        o = table(spark, SF_DIR_FOR_WRITER, "orders")
        write_range_sorted(o, out, ["o_orderkey"], num_files=4)
        files = glob.glob(f"{out}/*.parquet")
        assert 2 <= len(files) <= 4, files
        ranges = []
        for f in files:
            keys = pq.read_table(f, columns=["o_orderkey"]).column(
                "o_orderkey"
            ).to_pylist()
            assert keys == sorted(keys), f
            ranges.append((keys[0], keys[-1]))
        # total order across files: key ranges must not overlap
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, ranges
        assert spark.read.parquet(out).count() == o.count()


def test_projection_of_missing_column_errors(spark, tmp_path):
    """Requesting a column the file doesn't carry errors loudly
    (ref: loader_test.go:249-311 'missing required key'), never a
    silent narrowing."""
    from mydatasyncer_spark.sources.readers import read_csv, read_json

    c = tmp_path / "p.csv"
    c.write_text("id,name\n1,a\n")
    with pytest.raises(Exception, match="missing required column"):
        read_csv(spark, str(c), columns=["id", "name", "value"])
    j = tmp_path / "p.json"
    j.write_text('[{"id": 1, "name": "a"}]')
    with pytest.raises(Exception, match="missing required column"):
        read_json(spark, str(j), columns=["id", "value"])
    # requesting existing columns still projects (and prunes the scan)
    assert read_csv(spark, str(c), columns=["id"]).columns == ["id"]


class TestFormatDispatchExtensions:
    def test_orc_round_trip(self, spark, tmp_path):
        from mydatasyncer_spark.contract import table
        from mydatasyncer_spark.sources.readers import read_file

        o = table(spark, SF_DIR_FOR_WRITER, "orders")
        out = str(tmp_path / "orders_orc")
        o.write.orc(out)
        back = read_file(spark, out, fmt="orc")
        assert back.count() == o.count()
        assert set(back.columns) == set(o.columns)

    def test_orc_directory_sniff(self, spark, tmp_path):
        from mydatasyncer_spark.contract import table
        from mydatasyncer_spark.sources.readers import read_file

        o = table(spark, SF_DIR_FOR_WRITER, "region")
        out = str(tmp_path / "region_orc")
        o.write.orc(out)
        # no fmt hint: dispatch sniffs part-file extensions
        assert read_file(spark, out).count() == o.count()

    def test_gzip_csv_dispatches_as_csv(self, spark, tmp_path):
        import gzip

        from mydatasyncer_spark.sources.readers import read_file

        p = tmp_path / "snap.csv.gz"
        with gzip.open(p, "wt") as fh:
            fh.write("id,name\n1,a\n2,b\n")
        df = read_file(spark, str(p))
        assert df.count() == 2
        assert df.columns == ["id", "name"]

    def test_tsv_dispatches_with_tab_delimiter(self, spark, tmp_path):
        from mydatasyncer_spark.sources.readers import read_file

        p = tmp_path / "snap.tsv"
        p.write_text("id\tname\n1\ta,b\n2\tc\n")
        df = read_file(spark, str(p))
        assert df.columns == ["id", "name"]
        rows = {r["id"]: r["name"] for r in df.collect()}
        assert rows == {"1": "a,b", "2": "c"}  # comma survives in-field
