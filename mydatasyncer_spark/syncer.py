"""End-to-end sync orchestration (O1-O12).

The lifecycle mirrors the reference's EP1/EP2 entry points
(ref: main.go:59-134, dbsync.go:407-491, 915-1011) with Spark doing
every data-heavy step and the driver sequencing only the transactional
writes:

0. check every table's input path exists, before any Spark or DB work
   (S4, ref: ValidateFilePaths, loader.go:281-288);
1. load file snapshots (lazy DataFrames — *all* tables resolved before
   the transaction opens, ref: dbsync.go:936-951);
2. strict PK validation for diff-mode tables (V1) — its row total is
   also the empty-file test and the dry-run's file row count, and the
   same aggregate answers the RFC3339 probe that types the snapshot;
3. resolve sync columns per table (P4/P5);
4. compute each diff as ONE classified full-outer join (J2-J4) and
   pin it once (``DiffResult.pin``); the insert/update/delete legs
   are projections of the pin, so the write transaction never waits
   on a recomputation and no leg rescans the snapshots.

   Steps 1-4 of a multi-table sync run concurrently per table: each
   table's Spark-only steps (1-2, then 4) run on a small thread pool,
   while the calling thread makes every DB call (the DB column list
   of step 3 and the DB snapshot), one table at a time in insert
   order. The dependency DAG orders the writes, not these reads. A
   one-table sync starts no thread. A failed prepare releases every
   pin already taken and raises the earliest failing table's error;
5. dry-run → build plans and stop, zero writes (O8);
6. else apply: single table in insert→update→delete order inside one
   transaction; multi-table in two phases inside ONE global
   transaction — deletes child→parent, then inserts+updates
   parent→child (O5/O7, ref: executeMultiTableSync, dbsync.go:1068-1098).

Empty-input policy (O11, ref: dbsync.go:409-420, 447-459):
- empty file + diff without delete  → no-op;
- empty file + overwrite            → table is wiped;
- empty file + diff with delete     → all DB rows deleted.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from mydatasyncer_spark.config import (
    SYNC_MODE_DIFF,
    SYNC_MODE_OVERWRITE,
    SyncConfig,
    TableSpec,
)
from mydatasyncer_spark.dag import DependencyGraph
from mydatasyncer_spark.errors import SyncError
from mydatasyncer_spark.operators.columns import determine_sync_columns
from mydatasyncer_spark.operators.diff import (
    DiffResult,
    diff_snapshots,
    diff_snapshots_pruned,
)
from mydatasyncer_spark.operators.validation import validate_primary_keys
from mydatasyncer_spark.plans.dryrun import ExecutionPlan, build_plan
from mydatasyncer_spark.session import SparkPool
from mydatasyncer_spark.sinks.applier import (
    ApplyStats,
    DbApiBackend,
    StagedLegs,
    Transaction,
    apply_diff,
    apply_staged_deletes,
    apply_staged_upserts,
    drop_staged,
    overwrite_table,
    stage_legs,
)
from mydatasyncer_spark.sources.readers import (
    coerce_rfc3339,
    read_file,
    validate_file_paths,
)

#: pool size cap for preparing several tables at once
_PREPARE_THREADS = 4


@dataclass
class SyncOutcome:
    stats: dict[str, ApplyStats] = field(default_factory=dict)
    plans: dict[str, ExecutionPlan] = field(default_factory=dict)

    @property
    def dry_run(self) -> bool:
        return bool(self.plans)


@dataclass
class _Prepared:
    spec: TableSpec
    sync_columns: list[str]
    file_df: DataFrame
    db_df: DataFrame
    diff: DiffResult | None
    file_empty: bool
    #: file row total from diff-mode validation (None in overwrite mode)
    file_count: int | None = None

    @property
    def file_rows(self) -> DataFrame:
        """The file snapshot projected to the sync columns it carries
        (an empty DB-shaped frame for an empty file)."""
        if self.file_empty:
            return self.db_df.limit(0)
        return self.file_df.select(
            *[c for c in self.sync_columns if c in self.file_df.columns]
        )


class Syncer:
    """``staging=True`` switches the write path from the per-row
    batched apply to the SURVEY.md §4.3 staged design: every diff leg
    lands in a staging table first (Spark's parallel JDBC writer under
    a :class:`~mydatasyncer_spark.sinks.jdbc.JdbcBackend` — no row
    crosses the Python driver), staging and cleanup happen OUTSIDE
    the global transaction (MySQL DDL implicit-commits), and the
    transaction wraps only the set-based applies in the two-phase
    order. A backend without the per-row methods (anything but a
    :class:`DbApiBackend`, e.g. ``JdbcBackend``) always takes the
    staged path."""

    def __init__(
        self,
        spark: SparkSession,
        backend: DbApiBackend,
        config: SyncConfig,
        staging: bool = False,
    ):
        config.validate()
        self.spark = spark
        self.backend = backend
        self.config = config
        self.staging = staging
        self._deadline = time.monotonic() + config.timeout_seconds

    def _check_deadline(self) -> None:
        # O12: 5-minute global run deadline (ref: main.go:60-62)
        if time.monotonic() > self._deadline:
            raise SyncError(
                f"sync exceeded {self.config.timeout_seconds}s global timeout"
            )

    # ------------------------------------------------------------ pipeline
    def _prepare(self, spec: TableSpec) -> _Prepared:
        """Steps 1-4 for one table on the calling thread — everything
        distributed, nothing inside the write transaction."""
        return self._diff(self._snapshot(spec, *self._load(spec)))

    def _load(self, spec: TableSpec) -> tuple[DataFrame, bool, int | None]:
        """Steps 1-2: the file snapshot, typed and validated, whether
        it is empty, and its validated row total (None in overwrite
        mode). Spark only, so it may run on a pool thread."""
        raw = read_file(self.spark, spec.file_path)
        if spec.sync_mode != SYNC_MODE_DIFF:
            file_df = coerce_rfc3339(raw)
            return file_df, file_df.isEmpty(), None
        # one aggregate validates the keys AND answers the RFC3339
        # probe, so coercion runs no job of its own
        report = validate_primary_keys(
            raw, spec.primary_key, strict=False, probe_rfc3339=True
        )
        file_df = coerce_rfc3339(raw, probed=report.rfc3339_columns)
        if report.invalid or spec.primary_key in report.rfc3339_columns:
            # the verdict (and the failure report) is the coerced
            # frame's: two spellings of one instant are one key
            report = validate_primary_keys(
                file_df, spec.primary_key, strict=True
            )
        # an empty file validates clean; its total doubles as the
        # emptiness test, so no separate probe job runs
        return file_df, report.total == 0, report.total

    def _snapshot(
        self,
        spec: TableSpec,
        file_df: DataFrame,
        file_empty: bool,
        file_count: int | None,
    ) -> _Prepared:
        """Step 3 and the DB snapshot: the table's DB calls, always on
        the calling thread (sqlite connections are bound to the thread
        that opened them; a JDBC backend shares one connection)."""
        self._check_deadline()
        cols = determine_sync_columns(
            file_cols=[] if file_empty else file_df.columns,
            db_cols=self.backend.table_columns(spec.name),
            config_cols=spec.columns,
            primary_key=spec.primary_key,
        )
        db_df = self.backend.read_snapshot(self.spark, spec.name, cols)
        return _Prepared(
            spec, cols, file_df, db_df, None, file_empty, file_count
        )

    def _diff(self, prep: _Prepared) -> _Prepared:
        """Step 4: the classified diff, pinned so the write transaction
        never re-triggers the scan/join. Spark only."""
        spec = prep.spec
        if spec.sync_mode != SYNC_MODE_DIFF:
            return prep
        if spec.prune_buckets > 0:
            diff = diff_snapshots_pruned(
                prep.file_rows,
                prep.db_df,
                spec.primary_key,
                columns=prep.sync_columns,
                n_buckets=spec.prune_buckets,
                delete_not_in_file=spec.delete_not_in_file,
            )
        else:
            diff = diff_snapshots(
                prep.file_rows,
                prep.db_df,
                spec.primary_key,
                columns=prep.sync_columns,
                delete_not_in_file=spec.delete_not_in_file,
            )
        prep.diff = diff.pin()
        return prep

    def _prepare_all(
        self, names: list[str], specs: dict[str, TableSpec]
    ) -> dict[str, _Prepared]:
        """Steps 1-4 for every table, in ``names`` order.

        One table runs inline. Several run their Spark-only steps
        (:meth:`_load`, :meth:`_diff`) on a :class:`SparkPool` while
        this thread takes the loads in order and makes each table's DB
        calls (:meth:`_snapshot`) before submitting its diff. On
        failure, the error is the earliest failing table's; in-flight
        work is awaited first and every pin taken is released."""
        if len(names) == 1:
            return {names[0]: self._prepare(specs[names[0]])}
        prepared: dict[str, _Prepared] = {}
        try:
            with SparkPool(
                self.spark, min(len(names), _PREPARE_THREADS)
            ) as pool:
                loads = [pool.submit(self._load, specs[n]) for n in names]
                diffs = []
                failed: Exception | None = None
                try:
                    for name, load in zip(names, loads):
                        prep = self._snapshot(specs[name], *load.result())
                        diffs.append(pool.submit(self._diff, prep))
                except Exception as exc:
                    failed = exc
                    for load in loads:
                        load.cancel()
                # every submitted diff is a table's before the failed
                # one, so its error comes first
                errors = []
                for name, fut in zip(names, diffs):
                    try:
                        prepared[name] = fut.result()
                    except Exception as exc:
                        errors.append(exc)
                if failed is not None:
                    errors.append(failed)
                if errors:
                    raise errors[0]
        except BaseException:
            self._release(prepared)
            raise
        return prepared

    def _plan_for(self, prep: _Prepared) -> ExecutionPlan:
        spec = prep.spec
        diff = prep.diff
        if spec.sync_mode == SYNC_MODE_OVERWRITE:
            # overwrite plan = delete-all + insert-all (ref: dbsync.go:359-370)
            empty = prep.db_df.limit(0)
            diff = DiffResult(prep.file_rows, empty, prep.db_df)
        n_file = prep.file_count
        if n_file is None:
            n_file = 0 if prep.file_empty else prep.file_df.count()
        return build_plan(
            spec.name,
            spec.sync_mode,
            spec.primary_key,
            prep.sync_columns,
            diff,
            n_file,
            prep.db_df.count(),
            spec.timestamp_columns,
            spec.immutable_columns,
        )

    # ------------------------------------------------------------- execute
    def run(self) -> SyncOutcome:
        outcome = SyncOutcome()
        order = [t.name for t in self.config.tables]
        deps = {t.name: list(t.dependencies) for t in self.config.tables}
        graph = DependencyGraph(deps)
        insert_order, delete_order = graph.sync_order()
        specs = {t.name: t for t in self.config.tables}
        validate_file_paths([t.file_path for t in self.config.tables])

        # Phase 0: prepare everything outside the transaction
        prepared = self._prepare_all(insert_order, specs)
        try:
            if self.config.dry_run:
                for name in insert_order:
                    outcome.plans[name] = self._plan_for(prepared[name])
                return outcome

            if self.staging or not isinstance(self.backend, DbApiBackend):
                return self._run_staged(
                    outcome, prepared, insert_order, delete_order
                )

            with Transaction(self.backend.conn):
                # Phase A: deletes, child → parent (skip unless
                # diff + deleteNotInFile, ref: dbsync.go:1077-1079)
                for name in delete_order:
                    self._check_deadline()
                    prep = prepared[name]
                    spec = prep.spec
                    stats = outcome.stats.setdefault(name, ApplyStats())
                    if spec.sync_mode == SYNC_MODE_OVERWRITE:
                        continue  # overwrite truncates in phase B
                    if spec.delete_not_in_file and prep.diff is not None:
                        stats.deleted = self.backend.delete_rows(
                            spec.name,
                            spec.primary_key,
                            (
                                (r[spec.primary_key],)
                                for r in prep.diff.to_delete.select(
                                    spec.primary_key
                                ).toLocalIterator()
                            ),
                        )
                # Phase B: inserts + updates, parent → child
                for name in insert_order:
                    self._check_deadline()
                    prep = prepared[name]
                    spec = prep.spec
                    stats = outcome.stats[name]
                    if spec.sync_mode == SYNC_MODE_OVERWRITE:
                        ow = overwrite_table(
                            self.backend,
                            spec.name,
                            prep.sync_columns if not prep.file_empty else [],
                            prep.file_rows,
                            spec.timestamp_columns,
                        )
                        stats.inserted = ow.inserted
                        continue
                    part = apply_diff(
                        self.backend,
                        spec.name,
                        prep.sync_columns,
                        spec.primary_key,
                        prep.diff.to_insert,
                        prep.diff.to_update,
                        prep.diff.to_delete.limit(0),  # deletes done in phase A
                        spec.timestamp_columns,
                        spec.immutable_columns,
                    )
                    stats.inserted, stats.updated = part.inserted, part.updated
        finally:
            self._release(prepared)
        return outcome

    def _run_staged(
        self,
        outcome: SyncOutcome,
        prepared: dict[str, _Prepared],
        insert_order: list[str],
        delete_order: list[str],
    ) -> SyncOutcome:
        """Staged write path: stage everything (no tx) → one global
        transaction over the set-based applies in two-phase order →
        cleanup (no tx)."""
        staged: dict[str, StagedLegs] = {}
        try:
            for name in insert_order:
                self._check_deadline()
                prep = prepared[name]
                spec = prep.spec
                empty = prep.db_df.limit(0)
                if spec.sync_mode == SYNC_MODE_OVERWRITE:
                    to_insert = prep.file_rows
                    to_update, to_delete = empty, empty
                else:
                    to_insert = prep.diff.to_insert
                    to_update = prep.diff.to_update
                    to_delete = (
                        prep.diff.to_delete
                        if spec.delete_not_in_file
                        else empty
                    )
                staged[name] = stage_legs(
                    self.backend,
                    spec.name,
                    prep.sync_columns,
                    spec.primary_key,
                    to_insert,
                    to_update,
                    to_delete,
                    spec.immutable_columns,
                    spec.timestamp_columns,
                    target_schema=prep.db_df.schema,
                )
            with Transaction(self.backend.conn):
                # Phase A: deletes, child → parent
                for name in delete_order:
                    self._check_deadline()
                    spec = prepared[name].spec
                    stats = outcome.stats.setdefault(name, ApplyStats())
                    if spec.sync_mode == SYNC_MODE_OVERWRITE:
                        continue
                    if spec.delete_not_in_file:
                        stats.deleted = apply_staged_deletes(
                            self.backend, staged[name]
                        )
                # Phase B: truncates/inserts/updates, parent → child
                for name in insert_order:
                    self._check_deadline()
                    spec = prepared[name].spec
                    stats = outcome.stats[name]
                    if spec.sync_mode == SYNC_MODE_OVERWRITE:
                        self.backend.truncate(spec.name)
                    ins, upd = apply_staged_upserts(
                        self.backend, staged[name]
                    )
                    stats.inserted, stats.updated = ins, upd
        finally:
            for legs in staged.values():
                drop_staged(self.backend, legs)
        return outcome

    @staticmethod
    def _release(prepared: dict[str, _Prepared]) -> None:
        for prep in prepared.values():
            if prep.diff is not None:
                prep.diff.release()


def sync(
    spark: SparkSession,
    backend: DbApiBackend,
    config: SyncConfig,
    staging: bool = False,
) -> SyncOutcome:
    return Syncer(spark, backend, config, staging=staging).run()
