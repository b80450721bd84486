"""A multi-table sync prepares its tables on a thread pool.

Spark-only steps run on ``session.SparkPool`` threads, DB calls stay on
the calling thread (the sqlite connections below are thread-bound, so
a DB call from a pool thread would raise), writes keep the DAG order,
and a failed prepare leaves no pinned blocks behind.
"""

from __future__ import annotations

import sqlite3
import threading

import pytest

from mydatasyncer_spark.config import SyncConfig, TableSpec
from mydatasyncer_spark.errors import SyncError, ValidationError
from mydatasyncer_spark.operators.diff import diff_counts_pruned
from mydatasyncer_spark.session import SparkPool
from mydatasyncer_spark.sinks.applier import DbApiBackend
from mydatasyncer_spark.syncer import Syncer


def _persistent(spark) -> set[int]:
    """Ids of the RDDs persisted now (pins included). Compared as sets:
    pins left by earlier tests may be cleaned up meanwhile."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _csv(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def _spec(name, path, deps=()):
    return TableSpec(
        name=name,
        file_path=path,
        primary_key="id",
        sync_mode="diff",
        delete_not_in_file=True,
        dependencies=list(deps),
    )


# --- pins are released when prepare or planning fails ----------------


@pytest.fixture()
def pair_db():
    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE a (id INTEGER PRIMARY KEY, v TEXT)")
    conn.execute("CREATE TABLE b (id INTEGER PRIMARY KEY, v TEXT)")
    conn.executemany("INSERT INTO a VALUES (?, ?)", [(1, "x"), (2, "y")])
    conn.executemany("INSERT INTO b VALUES (?, ?)", [(1, "x"), (2, "y")])
    conn.commit()
    yield conn
    conn.close()


def _pair_config(tmp_path, b_text, dry_run=False):
    # b depends on a, so a's diff is pinned before b's DB step
    return SyncConfig(
        tables=[
            _spec("b", _csv(tmp_path, "b.csv", b_text), deps=["a"]),
            _spec("a", _csv(tmp_path, "a.csv", "id,v\n1,x\n3,z\n")),
        ],
        dry_run=dry_run,
    )


def _fail_second_deadline_check(monkeypatch):
    calls = []

    def check(self):
        calls.append(1)
        if len(calls) == 2:
            raise SyncError("sync exceeded 0s global timeout")

    monkeypatch.setattr(Syncer, "_check_deadline", check)


def _fail_planning(monkeypatch):
    def plan(self, prep):
        raise RuntimeError("planning failed")

    monkeypatch.setattr(Syncer, "_plan_for", plan)


@pytest.mark.parametrize(
    "failure, b_text, dry_run, error",
    [
        ("duplicate_key", "id,v\n1,x\n1,dup\n", False, ValidationError),
        ("deadline", "id,v\n1,x\n", False, SyncError),
        ("dry_run_plan", "id,v\n1,x\n", True, RuntimeError),
    ],
    ids=["duplicate_key", "deadline", "dry_run_plan"],
)
def test_failed_sync_releases_every_pin(
    spark, pair_db, tmp_path, monkeypatch, failure, b_text, dry_run, error
):
    if failure == "deadline":
        _fail_second_deadline_check(monkeypatch)
    elif failure == "dry_run_plan":
        _fail_planning(monkeypatch)
    before_rows = pair_db.execute("SELECT * FROM a ORDER BY id").fetchall()
    before = _persistent(spark)
    cfg = _pair_config(tmp_path, b_text, dry_run=dry_run)
    with pytest.raises(error):
        Syncer(spark, DbApiBackend(pair_db), cfg).run()
    assert _persistent(spark) - before == set()
    assert pair_db.execute("SELECT * FROM a ORDER BY id").fetchall() == before_rows


def test_earliest_failing_table_wins(spark, pair_db, tmp_path):
    """Both tables fail validation; the error is the first one's in
    insert order, and no pin is left behind."""
    before = _persistent(spark)
    cfg = SyncConfig(
        tables=[
            _spec("b", _csv(tmp_path, "b.csv", "id,v\n2,x\n2,dup\n"), ["a"]),
            _spec("a", _csv(tmp_path, "a.csv", "id,v\n7,x\n7,dup\n")),
        ]
    )
    with pytest.raises(ValidationError) as info:
        Syncer(spark, DbApiBackend(pair_db), cfg).run()
    assert [k for k, _ in info.value.report.duplicate_keys] == ["7"]
    assert _persistent(spark) - before == set()


# --- one pool idiom: the caller's properties, one clone per task ------


def test_pool_jobs_run_in_the_callers_job_group(spark, pair_db, tmp_path):
    """Jobs started on pool threads (``diff_counts_pruned``'s two pins,
    a multi-table sync's prepare) carry the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listener_bus = sc._jsc.sc().listenerBus()
    listener_bus.waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup())
    file_df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    db_df = spark.createDataFrame([(1, "a"), (3, "c")], "id long, v string")
    sc.setJobGroup("pool-inherit", "jobs started on pool threads")
    try:
        row = diff_counts_pruned(file_df, db_df, "id", n_buckets=4).first()
        Syncer(
            spark, DbApiBackend(pair_db), _pair_config(tmp_path, "id,v\n1,x\n")
        ).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (row["n_insert"], row["n_update"], row["n_delete"]) == (1, 0, 1)
    listener_bus.waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup()) - ungrouped_before == set()
    assert len(tracker.getJobIdsForGroup("pool-inherit")) > 0


def test_pool_task_properties_are_not_shared(spark):
    """A property one task sets is seen neither by its sibling nor by
    the caller; both tasks start from the caller's value."""
    sc = spark.sparkContext
    key = "mydatasyncer.test.pool"
    sc.setLocalProperty(key, "caller")
    was_set = threading.Event()
    read_done = threading.Event()

    def setter():
        start = sc.getLocalProperty(key)
        sc.setLocalProperty(key, "setter")
        was_set.set()
        assert read_done.wait(60)
        return start, sc.getLocalProperty(key)

    def reader():
        assert was_set.wait(60)
        try:
            return sc.getLocalProperty(key)
        finally:
            read_done.set()

    try:
        with SparkPool(spark, 2) as pool:
            fut_set = pool.submit(setter)
            fut_read = pool.submit(reader)
            assert fut_set.result() == ("caller", "setter")
            assert fut_read.result() == "caller"
        assert sc.getLocalProperty(key) == "caller"
    finally:
        sc.setLocalProperty(key, None)


# --- a three-table FK chain: same writes, same order as a serial run --


def _chain_db():
    conn = sqlite3.connect(":memory:")
    conn.execute("PRAGMA foreign_keys = ON")
    conn.execute("CREATE TABLE region (id INTEGER PRIMARY KEY, name TEXT)")
    conn.execute(
        "CREATE TABLE customer (id INTEGER PRIMARY KEY, name TEXT, "
        "region_id INTEGER REFERENCES region(id))"
    )
    conn.execute(
        "CREATE TABLE orders (id INTEGER PRIMARY KEY, total TEXT, "
        "customer_id INTEGER REFERENCES customer(id))"
    )
    conn.executemany(
        "INSERT INTO region VALUES (?, ?)", [(r, f"r{r}") for r in range(1, 5)]
    )
    conn.executemany(
        "INSERT INTO customer VALUES (?, ?, ?)",
        [(c, f"c{c}", c % 4 + 1) for c in range(10, 30)],
    )
    conn.executemany(
        "INSERT INTO orders VALUES (?, ?, ?)",
        [(o, f"t{o}", 10 + o % 20) for o in range(100, 140)],
    )
    conn.commit()
    return conn


def _chain_config(tmp_path):
    """Region 4 leaves with its customers and their orders; region 5
    arrives with a new customer and a new order; one name and one
    total change."""
    regions = [(r, f"r{r}") for r in (1, 2, 3, 5)]
    regions[0] = (1, "r1-renamed")
    customers = [(c, f"c{c}", c % 4 + 1) for c in range(10, 30) if c % 4 != 3]
    customers.append((30, "c30", 5))
    orders = [
        (o, f"t{o}", 10 + o % 20)
        for o in range(100, 140)
        if (10 + o % 20) % 4 != 3
    ]
    orders[0] = (orders[0][0], "changed", orders[0][2])
    orders.append((200, "t200", 30))

    def text(header, rows):
        return header + "".join(",".join(map(str, r)) + "\n" for r in rows)

    tables = [
        _spec(
            "orders",
            _csv(tmp_path, "orders.csv", text("id,total,customer_id\n", orders)),
            deps=["customer"],
        ),
        _spec(
            "customer",
            _csv(tmp_path, "customer.csv", text("id,name,region_id\n", customers)),
            deps=["region"],
        ),
        _spec("region", _csv(tmp_path, "region.csv", text("id,name\n", regions))),
    ]
    want = {"region": regions, "customer": customers, "orders": orders}
    return SyncConfig(tables=tables), want


def _serial_prepare_all(self, names, specs):
    return {n: self._prepare(specs[n]) for n in names}


def _write_order(statements, verb):
    seen = []
    for sql in statements:
        if sql.startswith(verb):
            table = sql.split()[2]
            if table not in seen:
                seen.append(table)
    return seen


def test_three_table_fk_chain_matches_serial_run(spark, tmp_path, monkeypatch):
    cfg, want = _chain_config(tmp_path)

    def run():
        conn = _chain_db()
        statements = []
        conn.set_trace_callback(statements.append)
        stats = Syncer(spark, DbApiBackend(conn), cfg).run().stats
        conn.set_trace_callback(None)
        tables = {
            t: conn.execute(f"SELECT * FROM {t} ORDER BY id").fetchall()
            for t in want
        }
        conn.close()
        return stats, tables, statements

    stats, tables, statements = run()
    assert tables == {t: sorted(rows) for t, rows in want.items()}
    # deletes child -> parent, inserts parent -> child (FK-enforced too)
    assert _write_order(statements, "DELETE FROM") == [
        "orders", "customer", "region"
    ]
    assert _write_order(statements, "INSERT INTO") == [
        "region", "customer", "orders"
    ]
    counts = {t: (s.inserted, s.updated, s.deleted) for t, s in stats.items()}
    assert counts == {
        "region": (1, 1, 1),
        "customer": (1, 0, 5),
        "orders": (1, 1, 10),
    }
    monkeypatch.setattr(Syncer, "_prepare_all", _serial_prepare_all)
    serial_stats, serial_tables, _ = run()
    assert stats == serial_stats
    assert tables == serial_tables
