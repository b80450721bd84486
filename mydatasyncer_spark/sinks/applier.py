"""Transactional insert/update/delete applier (S7-S10, O6-O7).

Spark's JDBC writer supports append/overwrite only — no UPDATE, no
DELETE, no cross-partition transaction — while the reference needs
all-or-nothing mixed DML (ref: dbsync.go:915-1011). The design
(SURVEY.md §4.3):

1. the diff triple is computed fully in Spark (distributed);
2. **stage**: each leg lands in a staging table via a parallel,
   batched append (``df.write.jdbc`` on a cluster);
3. **apply atomically on the driver** over ONE connection/transaction
   in the reference's operation order — set-based statements
   (``INSERT … SELECT``, ``UPDATE … JOIN``, ``DELETE … JOIN``)
   so the transaction holds locks only for the apply, never the scan.

Two backends:

- :class:`DbApiBackend` — any DB-API 2.0 connection (sqlite3,
  mysql-connector, psycopg). Staging goes through batched
  ``executemany`` over ``toLocalIterator`` chunks: the portable path,
  also the test path (sqlite). Fine for diff legs that are small
  relative to the table (the common case for incremental sync);
  for huge legs use the JDBC backend.
- :class:`~mydatasyncer_spark.sinks.jdbc.JdbcBackend` — stages with
  Spark's parallel JDBC writer, then applies over a single driver
  connection obtained from the driver JVM; no row ever crosses the
  Python driver. Lives in ``sinks/jdbc.py``; both backends share
  :func:`stage_and_apply` through the same staging protocol
  (``stage_leg`` / ``execute_update`` / ``drop_staging``) and the
  dialect-aware SQL in ``sinks/dialects.py``.

Operation order within one table is insert → update → delete
(ref: dbsync.go:534-563); multi-table phase ordering lives in
``syncer.py`` (O5/O7).
"""

from __future__ import annotations

import datetime
import itertools
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from mydatasyncer_spark.sinks.dialects import Dialect, get_dialect

BATCH_SIZE = 1000


def _chunks(rows: Iterator, size: int = BATCH_SIZE):
    while True:
        batch = list(itertools.islice(rows, size))
        if not batch:
            return
        yield batch


def _sqlite_value(v):
    """sqlite has no timestamp type: a datetime binds as the RFC3339
    UTC text that ``canonical_str`` compares against (second
    precision, the canonical form), not sqlite3's default
    ``'1995-06-28 00:00:00'``, which would differ from the file side
    on every later sync. Converted as an instant: naive values are the
    process-local wall time PySpark returns for timestamps. Every other
    value binds unchanged."""
    if isinstance(v, datetime.datetime):
        return v.astimezone(datetime.UTC).strftime("%Y-%m-%dT%H:%M:%SZ")
    return v


@dataclass
class ApplyStats:
    inserted: int = 0
    updated: int = 0
    deleted: int = 0


class DbApiBackend:
    """Applies a diff triple over one DB-API connection, atomically.

    ``placeholder`` is the driver's paramstyle token ("?" for sqlite /
    mysql-connector's pyformat needs "%s").
    """

    def __init__(
        self,
        connection,
        placeholder: str = "?",
        dialect: str | Dialect = "sqlite",
    ):
        self.conn = connection
        self.ph = placeholder
        self.dialect = get_dialect(dialect)

    def _bind(self, rows: Iterator[tuple]) -> Iterator[tuple]:
        if self.dialect.name != "sqlite":
            return rows
        return (tuple(_sqlite_value(v) for v in r) for r in rows)

    # -- DDL helpers -------------------------------------------------
    def table_columns(self, table: str) -> list[str]:
        """Column names in ordinal order (ref: getTableColumns,
        dbsync.go:253-279 — information_schema equivalent)."""
        cur = self.conn.execute(f"SELECT * FROM {table} LIMIT 0")
        return [d[0] for d in cur.description]

    def read_snapshot(
        self, spark: SparkSession, table: str, columns: list[str]
    ) -> DataFrame:
        """DB-side snapshot as a DataFrame (ref: getCurrentDBData,
        dbsync.go:597-679 — but distributed, not a driver hash map).

        DB-API has no partitioned read; on a cluster use
        ``spark.read.jdbc`` with partitionColumn instead (JdbcBackend).
        """
        cols = ", ".join(columns)
        cur = self.conn.execute(f"SELECT {cols} FROM {table}")
        rows = cur.fetchall()
        if not rows:
            return spark.createDataFrame([], self._snapshot_schema(table, columns))
        return spark.createDataFrame([tuple(r) for r in rows], columns)

    def _snapshot_schema(self, table: str, columns: list[str]):
        return ", ".join(f"{c} string" for c in columns)

    # -- DML legs ----------------------------------------------------
    def insert_rows(
        self, table: str, columns: list[str], rows: Iterator[tuple]
    ) -> int:
        """Bulk insert (ref: bulkInsert, dbsync.go:783-827) — batched
        multi-row executemany instead of one giant statement."""
        cols = ", ".join(columns)
        phs = ", ".join([self.ph] * len(columns))
        sql = f"INSERT INTO {table} ({cols}) VALUES ({phs})"
        n = 0
        cur = self.conn.cursor()
        for batch in _chunks(self._bind(rows)):
            cur.executemany(sql, batch)
            n += len(batch)
        return n

    def update_rows(
        self,
        table: str,
        set_columns: list[str],
        primary_key: str,
        rows: Iterator[tuple],
    ) -> int:
        """Prepared per-key update (ref: bulkUpdate, dbsync.go:830-891).
        ``rows`` yields (set values..., pk value)."""
        sets = ", ".join(f"{c} = {self.ph}" for c in set_columns)
        sql = f"UPDATE {table} SET {sets} WHERE {primary_key} = {self.ph}"
        n = 0
        cur = self.conn.cursor()
        for batch in _chunks(self._bind(rows)):
            cur.executemany(sql, batch)
            n += len(batch)
        return n

    def delete_rows(
        self, table: str, primary_key: str, keys: Iterator[tuple]
    ) -> int:
        """IN-list batched delete (ref: bulkDelete, dbsync.go:895-913)."""
        n = 0
        cur = self.conn.cursor()
        for batch in _chunks(self._bind(keys)):
            phs = ", ".join([self.ph] * len(batch))
            sql = f"DELETE FROM {table} WHERE {primary_key} IN ({phs})"
            cur.execute(sql, [k[0] for k in batch])
            n += len(batch)
        return n

    def truncate(self, table: str) -> None:
        """Full clear, step 1 of overwrite (ref: dbsync.go:496-500)."""
        self.conn.execute(f"DELETE FROM {table}")

    # -- staging protocol (shared with JdbcBackend) ------------------
    def execute_update(self, sql: str) -> int:
        return self.conn.execute(sql).rowcount

    def stage_leg(
        self,
        df: DataFrame,
        staging: str,
        columns: list[str],
        source_table: str | None = None,
    ) -> None:
        """Portable staging: empty CTAS clone of the target, then the
        batched bulk insert. This leg funnels through the driver —
        acceptable for incremental diffs; the JDBC backend replaces
        it with Spark's parallel writer for huge legs."""
        self.drop_staging(staging)
        self.conn.execute(
            self.dialect.create_staging_sql(staging, source_table, columns)
        )
        self.insert_rows(
            self.dialect.quote(staging),
            [self.dialect.quote(c) for c in columns],
            (tuple(r[c] for c in columns) for r in df.toLocalIterator()),
        )

    def drop_staging(self, staging: str) -> None:
        self.conn.execute(
            f"DROP TABLE IF EXISTS {self.dialect.quote(staging)}"
        )


class Transaction:
    """Single ACID boundary over one connection (O6/O7,
    ref: dbsync.go:422-426, 980-987): BEGIN → apply → COMMIT, with
    rollback on any failure."""

    def __init__(self, connection):
        self.conn = connection

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc_type is None:
            self.conn.commit()
        else:
            self.conn.rollback()
        return False


def apply_diff(
    backend: DbApiBackend,
    table: str,
    columns: list[str],
    primary_key: str,
    to_insert: DataFrame,
    to_update: DataFrame,
    to_delete: DataFrame,
    timestamp_columns: list[str] | None = None,
    immutable_columns: list[str] | None = None,
    now_fn: Callable[[], object] | None = None,
) -> ApplyStats:
    """Apply one table's triple in insert → update → delete order
    (ref: executeSyncOperations, dbsync.go:532-565). Caller owns the
    transaction boundary (so multi-table syncs share one tx).

    Timestamp columns are set to "now" on insert and on update unless
    immutable (O9, ref: dbsync.go:793-799, 849-856); immutable columns
    are excluded from the UPDATE SET entirely (O10, ref:
    dbsync.go:842-847).
    """
    ts_cols = [c for c in (timestamp_columns or []) if c not in columns]
    immutable = set(immutable_columns or [])
    now = (now_fn or (lambda: datetime.datetime.now(datetime.UTC)))()
    stats = ApplyStats()

    insert_cols = columns + ts_cols
    stats.inserted = backend.insert_rows(
        table,
        insert_cols,
        (
            tuple(row[c] for c in columns) + tuple(now for _ in ts_cols)
            for row in to_insert.toLocalIterator()
        ),
    )

    set_cols = [c for c in columns if c != primary_key and c not in immutable]
    upd_ts = [c for c in ts_cols if c not in immutable]
    stats.updated = backend.update_rows(
        table,
        set_cols + upd_ts,
        primary_key,
        (
            tuple(row[c] for c in set_cols)
            + tuple(now for _ in upd_ts)
            + (row[primary_key],)
            for row in to_update.toLocalIterator()
        ),
    )

    stats.deleted = backend.delete_rows(
        table,
        primary_key,
        ((row[primary_key],) for row in to_delete.select(primary_key).toLocalIterator()),
    )
    return stats


@dataclass
class StagedLegs:
    """Handle to one table's staged diff: what landed where, plus the
    column lists the set-based apply statements need."""

    table: str
    primary_key: str
    ins_cols: list[str]
    set_cols: list[str]
    stg_ins: str
    stg_upd: str
    stg_del: str


def stage_legs(
    backend,
    table: str,
    columns: list[str],
    primary_key: str,
    to_insert: DataFrame,
    to_update: DataFrame,
    to_delete: DataFrame,
    immutable_columns: list[str] | None = None,
    timestamp_columns: list[str] | None = None,
    now_fn: Callable[[], object] | None = None,
    target_schema=None,
) -> StagedLegs:
    """SURVEY.md §4.3 step 2: land each diff leg in a staging table —
    via Spark's parallel JDBC writer (:class:`~mydatasyncer_spark.
    sinks.jdbc.JdbcBackend`) or the portable batched bulk insert
    (:class:`DbApiBackend`).

    ``target_schema`` (a StructType, typically the DB snapshot's
    schema) aligns leg column types Spark-side before staging:
    file snapshots arrive all-string from CSV, and strict engines
    (Derby, Postgres) won't implicitly cast VARCHAR into BIGINT
    during ``INSERT … SELECT``, so the cast must happen before the
    staging write — distributed, not per-row on the driver (the
    typed replacement for the reference's per-value convertValue,
    ref: loader.go:28-43).

    Runs OUTSIDE the transaction on purpose: staging is pure DDL+load
    (MySQL DDL implicit-commits, so creating staging tables inside a
    transaction would silently break atomicity), and keeping it out
    means the transaction holds locks only for the set-based apply.

    Timestamp columns are injected Spark-side as literals (O9, ref:
    dbsync.go:793-799, 849-856) — set on insert, refreshed on update
    unless immutable; immutable columns never appear in the UPDATE
    SET list (O10, ref: dbsync.go:842-847).
    """
    from pyspark.sql import functions as F

    d = backend.dialect
    immutable = set(immutable_columns or [])
    ts_cols = [c for c in (timestamp_columns or []) if c not in columns]
    now = (now_fn or (lambda: datetime.datetime.now(datetime.UTC)))()
    set_cols = [c for c in columns if c != primary_key and c not in immutable]
    upd_ts = [c for c in ts_cols if c not in immutable]

    ins_cols = columns + ts_cols
    for c in ts_cols:
        to_insert = to_insert.withColumn(c, F.lit(now))
    upd_cols = columns + upd_ts
    for c in upd_ts:
        to_update = to_update.withColumn(c, F.lit(now))

    if target_schema is not None:
        types = {f.name: f.dataType for f in target_schema.fields}

        def _align(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
                    for c in df.columns
                ]
            )

        to_insert = _align(to_insert)
        to_update = _align(to_update)
        to_delete = _align(to_delete)

    legs = StagedLegs(
        table=table,
        primary_key=primary_key,
        ins_cols=ins_cols,
        set_cols=set_cols + upd_ts,
        stg_ins=d.staging_name("ins", table),
        stg_upd=d.staging_name("upd", table),
        stg_del=d.staging_name("del", table),
    )
    backend.stage_leg(to_insert, legs.stg_ins, ins_cols, source_table=table)
    backend.stage_leg(to_update, legs.stg_upd, upd_cols, source_table=table)
    backend.stage_leg(
        to_delete.select(primary_key),
        legs.stg_del,
        [primary_key],
        source_table=table,
    )
    return legs


def apply_staged_deletes(backend, legs: StagedLegs) -> int:
    """Set-based delete from the staged key leg (phase-A half of the
    two-phase multi-table order). Caller owns the transaction."""
    return backend.execute_update(
        backend.dialect.staged_delete_sql(
            legs.table, legs.primary_key, legs.stg_del
        )
    )


def apply_staged_upserts(backend, legs: StagedLegs) -> tuple[int, int]:
    """Set-based insert + update from the staged legs (phase-B half).
    Caller owns the transaction."""
    d = backend.dialect
    inserted = backend.execute_update(
        d.staged_insert_sql(legs.table, legs.ins_cols, legs.stg_ins)
    )
    updated = 0
    if legs.set_cols:
        updated = backend.execute_update(
            d.staged_update_sql(
                legs.table, legs.set_cols, legs.primary_key, legs.stg_upd
            )
        )
    return inserted, updated


def drop_staged(backend, legs: StagedLegs) -> None:
    """Cleanup, OUTSIDE the transaction (MySQL: DROP TABLE
    implicit-commits). Commits the drops: on an autocommit-off apply
    connection, uncommitted DDL keeps catalog locks that would block
    the next run's staging writers (observed as Derby 40XL1 lock
    timeouts)."""
    for stg in (legs.stg_ins, legs.stg_upd, legs.stg_del):
        backend.drop_staging(stg)
    backend.conn.commit()


def stage_and_apply(
    backend,
    table: str,
    columns: list[str],
    primary_key: str,
    to_insert: DataFrame,
    to_update: DataFrame,
    to_delete: DataFrame,
    immutable_columns: list[str] | None = None,
    timestamp_columns: list[str] | None = None,
    now_fn: Callable[[], object] | None = None,
) -> ApplyStats:
    """Single-table convenience over :func:`stage_legs` →
    :func:`apply_staged_upserts`/:func:`apply_staged_deletes` →
    :func:`drop_staged`, applying in the reference's insert → update
    → delete order (ref: executeSyncOperations, dbsync.go:532-565).

    Caller owns the transaction boundary around this call. Note the
    MySQL caveat documented on :func:`stage_legs`: for a strict
    MySQL transaction window, call the three pieces yourself with
    staging and cleanup outside the transaction (that is exactly what
    ``Syncer(staging=True)`` does).
    """
    legs = stage_legs(
        backend,
        table,
        columns,
        primary_key,
        to_insert,
        to_update,
        to_delete,
        immutable_columns,
        timestamp_columns,
        now_fn,
    )
    try:
        stats = ApplyStats()
        stats.inserted, stats.updated = apply_staged_upserts(backend, legs)
        stats.deleted = apply_staged_deletes(backend, legs)
    except BaseException:
        # roll back BEFORE the cleanup: drop_staged COMMITS (the
        # Derby catalog-lock release documented there), so running it
        # first would commit an already-half-applied triple that the
        # caller's Transaction could no longer undo — the O6
        # all-or-nothing breach (r14 sweep; pinned by the sqlite
        # FK-blocked-delete-after-successful-insert test)
        try:
            backend.conn.rollback()
        finally:
            drop_staged(backend, legs)
        raise
    drop_staged(backend, legs)
    return stats


def overwrite_table(
    backend: DbApiBackend,
    table: str,
    columns: list[str],
    df: DataFrame,
    timestamp_columns: list[str] | None = None,
    now_fn: Callable[[], object] | None = None,
) -> ApplyStats:
    """Overwrite mode: truncate + bulk insert (S10+S7,
    ref: syncOverwrite, dbsync.go:494-518). Caller owns the tx."""
    ts_cols = [c for c in (timestamp_columns or []) if c not in columns]
    now = (now_fn or (lambda: datetime.datetime.now(datetime.UTC)))()
    backend.truncate(table)
    inserted = backend.insert_rows(
        table,
        columns + ts_cols,
        (
            tuple(row[c] for c in columns) + tuple(now for _ in ts_cols)
            for row in df.toLocalIterator()
        ),
    )
    return ApplyStats(inserted=inserted)
