"""Snapshot diff engine — the reference's central "query".

``diffData`` (ref: dbsync.go:762-780) iterates file records and
probes a driver-RAM hash map of the DB snapshot. Re-expressed
Spark-first, that dataflow is ONE full-outer join on a canonicalized
primary-key column whose rows are classified and then split three
ways (:func:`diff_changes`, :func:`diff_snapshots`):

- **insert**  = file row with no DB match   (ref: dbsync.go:731-733, J2)
- **update**  = matched pair whose canonical string tuples differ
  (ref: dbsync.go:734-739 + compareRecords 695-715, J3)
- **delete**  = DB row with no file match, gated on
  ``delete_not_in_file`` (ref: findRecordsToDelete, dbsync.go:746-758, J4)

An unmatched outer row is exactly a left-anti row and a matched pair
exactly an inner-join row, so the split equals the three single-leg
joins (:func:`detect_inserts`, :func:`detect_updates`,
:func:`detect_deletes`, kept for single-leg consumers) for duplicate
and NULL keys too. A caller that pulls all three legs pins the one
classified frame (:meth:`DiffResult.pin`) and the legs read it,
instead of each leg rescanning both snapshots.

Cross-type key equality (JSON ``123`` == DB ``"123"``, ref:
dbsync.go:28-48, J5) comes from joining on ``canonical_str(pk)``
rather than the raw column.

Scale notes: one exchange per side on the canonical key; nothing is
materialized on the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mydatasyncer_spark.functions.canonical import canonical_col, row_fingerprint
from mydatasyncer_spark.operators.partitioning import ensure_min_parallelism

_KEY = "_pk_canon"
BEFORE_COL = "_before"
#: classification label column of :func:`diff_changes`
KIND_COL = "_kind"
#: after-image struct column of :func:`diff_changes` (NULL for deletes)
AFTER_COL = "_after"


@dataclass
class DiffResult:
    """The plan-level triple (ref: DiffOperations, dbsync.go:138-142).

    ``to_update`` carries the *after* (file-side) values in the sync
    columns plus a ``_before`` struct with the DB-side values
    (ref: UpdateOperation, dbsync.go:132-135).

    ``changes`` is the classified :func:`diff_changes` frame the legs
    project (None for a hand-built triple).
    """

    to_insert: DataFrame
    to_update: DataFrame
    to_delete: DataFrame
    changes: DataFrame | None = None
    _pinned: bool = field(default=False, repr=False)

    @classmethod
    def of_changes(
        cls, changes: DataFrame, delete_not_in_file: bool = True
    ) -> "DiffResult":
        """The triple as projections of one classified frame:
        insert = ``_after.*``, update = ``_after.*`` + ``_before``,
        delete = ``_before.*`` — the same names, types and order as
        the single-leg joins. With deletes gated off the delete leg
        is an empty relation (no job when pulled)."""

        def kind(k: str) -> DataFrame:
            return changes.filter(F.col(KIND_COL) == k)

        to_delete = kind("delete").select(f"{BEFORE_COL}.*")
        return cls(
            kind("insert").select(f"{AFTER_COL}.*"),
            kind("update").select(f"{AFTER_COL}.*", BEFORE_COL),
            to_delete if delete_not_in_file else to_delete.limit(0),
            changes,
        )

    def pin(self) -> "DiffResult":
        """Materialize ``changes`` once (eager ``localCheckpoint``:
        executor blocks, not replicated) and re-project the legs from
        it, so pulling all three legs reads the pin instead of running
        the join three times. Release with :meth:`release`."""
        pinned = DiffResult.of_changes(self.changes.localCheckpoint(eager=True))
        pinned._pinned = True
        return pinned

    def release(self) -> None:
        """Free the blocks :meth:`pin` materialized (no-op otherwise).
        ``DataFrame.unpersist`` only drops cache-manager entries, so
        the checkpoint's own RDD is unpersisted."""
        if self._pinned:
            self.changes._jdf.queryExecution().analyzed().rdd().unpersist(
                False
            )

    def counts(self) -> dict[str, int]:
        return {
            "insert": self.to_insert.count(),
            "update": self.to_update.count(),
            "delete": self.to_delete.count(),
        }


def with_canonical_key(df: DataFrame, primary_key: str) -> DataFrame:
    """Append the canonical join-key column (J5).

    Deliberately NOT pre-repartitioned: canonicalization is a cheap
    scalar projection, the join exchange right after redistributes
    anyway, and a forced widening here measurably added more exchange
    + planning cost than it saved (see operators/partitioning.py for
    the fan-out cases where widening IS worth it)."""
    return df.withColumn(_KEY, canonical_col(df, primary_key))


def detect_inserts(
    file_df: DataFrame, db_df: DataFrame, primary_key: str
) -> DataFrame:
    """File rows whose canonical PK is absent from the DB (J2)."""
    f = with_canonical_key(file_df, primary_key)
    d = with_canonical_key(db_df, primary_key).select(_KEY)
    return f.join(d, _KEY, "left_anti").drop(_KEY)


def detect_deletes(
    file_df: DataFrame, db_df: DataFrame, primary_key: str
) -> DataFrame:
    """DB rows whose canonical PK is absent from the file (J4)."""
    d = with_canonical_key(db_df, primary_key)
    f = with_canonical_key(file_df, primary_key).select(_KEY)
    return d.join(f, _KEY, "left_anti").drop(_KEY)


def detect_updates(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str],
) -> DataFrame:
    """PK present in both and any column differs (J3).

    Output: after-values in ``columns`` + ``_before`` struct of the
    DB-side values.
    """
    f = with_canonical_key(file_df.select(*columns), primary_key)
    d = with_canonical_key(db_df.select(*columns), primary_key)
    joined = f.alias("f").join(d.alias("d"), _KEY, "inner")
    fa, da = joined.select("f.*").drop(_KEY), joined.select("d.*").drop(_KEY)
    differs = row_fingerprint(fa, columns) != row_fingerprint(da, columns)
    return (
        joined.filter(differs)
        .select(
            *[F.col(f"f.{c}").alias(c) for c in columns],
            F.struct(*[F.col(f"d.{c}").alias(c) for c in columns]).alias(
                BEFORE_COL
            ),
        )
    )


def changed_columns(
    file_df: DataFrame, db_df: DataFrame, columns: list[str]
) -> Column:
    """Array of column names whose canonical values differ — used by
    the dry-run report's changed-vs-unchanged display
    (ref: dbsync.go:207-218)."""
    flags = [
        F.when(
            canonical_col(file_df, c) != canonical_col(db_df, c), F.lit(c)
        )
        for c in columns
    ]
    return F.array_compact(F.array(*flags))


def diff_counts(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    delete_not_in_file: bool = True,
) -> DataFrame:
    """One-pass plan counts (the dry-run's J1 in its cheapest form).

    Where :func:`diff_snapshots` carries every sync column through its
    join (the legs themselves are needed), the counts triple only
    needs row *classification* — so each side is pre-collapsed to
    ``(canonical_key, row_fingerprint)`` before the full-outer join;
    at 100 TB the shuffle payload drops from every sync column to
    16 bytes/row.
    Returns a one-row DataFrame ``(n_insert, n_update, n_delete)``.
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    f = with_canonical_key(file_df.select(*columns), primary_key)
    d = with_canonical_key(db_df.select(*columns), primary_key)
    fs = f.select(F.col(_KEY), row_fingerprint(f, columns).alias("_f_fp"))
    ds = d.select(F.col(_KEY), row_fingerprint(d, columns).alias("_d_fp"))
    return _classify_counts(fs, ds, delete_not_in_file)


def _classify_counts(
    fs: DataFrame, ds: DataFrame, delete_not_in_file: bool
) -> DataFrame:
    """The one-pass classification aggregate over pre-collapsed sides
    ``(canonical key, fingerprint)`` — shared by :func:`diff_counts`
    and :func:`diff_counts_pruned` so the localized bench pair sits on
    byte-identical counting machinery."""
    j = fs.join(ds, _KEY, "full_outer")
    is_ins = F.col("_d_fp").isNull()
    is_del = F.col("_f_fp").isNull()
    is_upd = (~is_ins) & (~is_del) & (F.col("_f_fp") != F.col("_d_fp"))
    n_del = (
        F.sum(F.when(is_del, 1).otherwise(0)).cast("bigint")
        if delete_not_in_file
        else F.lit(0).cast("bigint")
    )
    return j.agg(
        F.sum(F.when(is_ins, 1).otherwise(0)).cast("bigint").alias("n_insert"),
        F.sum(F.when(is_upd, 1).otherwise(0)).cast("bigint").alias("n_update"),
        n_del.alias("n_delete"),
    )


def diff_changes(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    payload: list[str] | None = None,
    delete_not_in_file: bool = True,
) -> DataFrame:
    """One-pass classified change rows — the row-level twin of
    :func:`diff_counts`, and the frame :func:`diff_snapshots` splits
    into its three legs.

    One full-outer join over ``(canonical_key, row_fingerprint,
    payload...)`` classifies every row in a single pass. Consumers
    that only need *which rows changed and how* plus a few payload
    columns (IVM delta derivation, affected-key scopes, SCD2
    maintenance) pass a narrow ``payload``: at 100 TB the exchange
    then carries 16 bytes + the payload per row, once.

    Returns one row per changed key with:

    - ``_kind`` — ``'insert'`` / ``'update'`` / ``'delete'``
    - ``_after`` — struct of ``payload`` columns from the file side
      (NULL struct for deletes)
    - ``_before`` — struct of ``payload`` columns from the db side
      (NULL struct for inserts)

    ``payload`` defaults to all sync ``columns``. Update detection is
    inequality of the per-side :func:`row_fingerprint` (one xxhash64
    of the canonical string tuple per side instead of an OR-chain of
    N null-safe comparisons; a 64-bit collision hides an update).
    Unchanged rows never leave the join.

    Duplicate and NULL keys classify exactly like the single-leg
    joins: an unmatched row (NULL keys never match) is one insert or
    delete row, and every matched pair is one update candidate.
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    if payload is None:
        payload = columns
    f = with_canonical_key(file_df.select(*columns), primary_key)
    d = with_canonical_key(db_df.select(*columns), primary_key)
    fs = f.select(
        F.col(_KEY),
        row_fingerprint(f, columns).alias("_f_fp"),
        F.struct(*[F.col(c) for c in payload]).alias(AFTER_COL),
    )
    ds = d.select(
        F.col(_KEY),
        row_fingerprint(d, columns).alias("_d_fp"),
        F.struct(*[F.col(c) for c in payload]).alias(BEFORE_COL),
    )
    j = fs.join(ds, _KEY, "full_outer")
    # a present side's fingerprint is never NULL (xxhash64 over
    # strings); NULL fp == that side absent from the full outer
    is_ins = F.col("_d_fp").isNull()
    is_del = F.col("_f_fp").isNull()
    is_upd = (~is_ins) & (~is_del) & (F.col("_f_fp") != F.col("_d_fp"))
    kind = (
        F.when(is_ins, F.lit("insert"))
        .when(is_upd, F.lit("update"))
        .when(is_del & F.lit(delete_not_in_file), F.lit("delete"))
    )
    return (
        j.select(kind.alias(KIND_COL), AFTER_COL, BEFORE_COL)
        .filter(F.col(KIND_COL).isNotNull())
    )


#: widen cap for the pruned diff's single-split-input widening: the
#: post-exchange work is ONE narrow fingerprint pass (not a fan-out),
#: so full-cluster width pays more task-wave scheduling than the
#: extra cores return — width 8 beat width 32 on 8-core AND 32-core
#: configs (data-regime-derived, not core-count-derived; see
#: ensure_min_parallelism). Irrelevant at scale, where inputs carry
#: their own splits and the widen never fires.
_PIN_WIDEN_TARGET = 8


def _changed_bucket_ids(
    fs: DataFrame, f_fp: str, ds: DataFrame, d_fp: str
) -> list[int]:
    """Sorted ``_bucket`` ids whose content differs between two
    ``(_bucket, fingerprint)`` frames — the one bucket-summary kernel
    behind :func:`changed_buckets` and :func:`diff_counts_pruned`.

    Each side collapses to one ``(count, xor, exact sum)`` row per
    bucket of its row fingerprints (order-independent, map-side
    partially aggregated). XOR alone self-cancels duplicate rows: a
    bucket swapping a duplicated pair ``{A,A}`` for ``{C,C}`` keeps
    ``(count, xor)`` — the decimal sum breaks that cancellation. A
    ``decimal(38,0)`` sum of 64-bit fingerprints only overflows past
    ~1e19 rows in one bucket, and with ANSI mode off (the session
    default) overflow yields NULL rather than an error — so the sums
    compare null-safely, and a NULL on one side only flags the
    bucket. One-sided presence flags it too. The collect is bounded
    by the bucket count (a few hundred ints, never row data)."""

    def summary(s: DataFrame, fp: str, side: str) -> DataFrame:
        return s.groupBy("_bucket").agg(
            F.count(F.lit(1)).alias(f"_n_{side}"),
            F.bit_xor(fp).alias(f"_x_{side}"),
            F.sum(F.col(fp).cast("decimal(38,0)")).alias(f"_s_{side}"),
        )

    j = summary(fs, f_fp, "f").join(
        summary(ds, d_fp, "d"), "_bucket", "full_outer"
    )
    changed = j.filter(
        F.col("_n_f").isNull()
        | F.col("_n_d").isNull()
        | (F.col("_n_f") != F.col("_n_d"))
        | (F.col("_x_f") != F.col("_x_d"))
        | ~F.col("_s_f").eqNullSafe(F.col("_s_d"))
    ).select("_bucket")
    return sorted(r["_bucket"] for r in changed.collect())


def diff_counts_pruned(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    n_buckets: int = 256,
    delete_not_in_file: bool = True,
    bucket_fn: "Callable[[DataFrame], Column] | None" = None,
) -> DataFrame:
    """:func:`diff_counts`, but classified only over the key-hash
    buckets whose fingerprints changed — the counts twin of
    :func:`diff_snapshots_pruned`.

    Each side collapses ONCE to the narrow ``(bucket, canonical key,
    row fingerprint)`` frame — widened through one keyed exchange
    first so the fingerprint computes across the cluster even off a
    single-split source (no-op at scale) — then pinned with an eager
    ``localCheckpoint`` (~17 bytes/row of executor-local state per
    side, cheaper than a second full read of every sync column;
    blocks are NOT replicated and have no lineage to recompute from,
    so an executor loss mid-query fails the job with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` and the caller re-runs it —
    acceptable for a derived frame inside one query). The changed-bucket summary aggregates FROM the pinned
    frames and the classification join filters the SAME frames, so
    each wide snapshot is read once — and every post-pin plan is
    lineage-truncated, which keeps driver-side analysis of the
    pruned query cheap even on small inputs.

    The counts are byte-identical to the full diff (pruning stays
    invisible, modulo the documented fingerprint collision odds; the
    sums are zero-coalesced so the no-changed-buckets case counts 0,
    exactly like ``count()`` over an empty leg).
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    if bucket_fn is None:
        bucket_fn = lambda d: bucket_col(d, primary_key, n_buckets)  # noqa: E731

    def pinned(df: DataFrame, fp: str) -> DataFrame:
        p = df.select(*columns)
        keyed = with_canonical_key(
            p.select(bucket_fn(p).alias("_bucket"), *columns), primary_key
        )
        # widen (keyed on the join key) BEFORE the narrow projection,
        # so the per-row fingerprint runs across the cluster instead
        # of inside a single-split source task (measured: Spark does
        # not move the projection below a repartition)
        wide = ensure_min_parallelism(keyed, _KEY, target=_PIN_WIDEN_TARGET)
        return wide.select(
            "_bucket", F.col(_KEY), row_fingerprint(wide, columns).alias(fp)
        ).localCheckpoint(eager=True)

    # the two pins are independent jobs — run them concurrently so one
    # side's stragglers back-fill with the other side's tasks (guide
    # §2.6; measured: serial pins cost ~2× the pair's wall at sf0.1)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_f = pool.submit(pinned, file_df, "_f_fp")
        fut_d = pool.submit(pinned, db_df, "_d_fp")
        fs, ds = fut_f.result(), fut_d.result()
    buckets = _changed_bucket_ids(fs, "_f_fp", ds, "_d_fp")
    out = _classify_counts(
        fs.filter(F.col("_bucket").isin(buckets)).drop("_bucket"),
        ds.filter(F.col("_bucket").isin(buckets)).drop("_bucket"),
        delete_not_in_file,
    )
    return out.select(
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
            for c in ("n_insert", "n_update", "n_delete")
        ]
    )


def bucket_col(df: DataFrame, primary_key: str, n_buckets: int) -> Column:
    """Stable key-hash bucket id in ``[0, n_buckets)`` — the unit of
    diff pruning. Canonical-key based, so both snapshot sides bucket
    identically regardless of physical type (J5)."""
    return F.pmod(F.xxhash64(canonical_col(df, primary_key)), F.lit(n_buckets))


def changed_buckets(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    n_buckets: int = 256,
    bucket_fn: "Callable[[DataFrame], Column] | None" = None,
) -> list[int]:
    """Bucket ids whose content differs between the two snapshots.

    Each side collapses to ``n_buckets`` summary rows of
    ``(count, xor, exact sum)`` over its row fingerprints, computed
    in one narrow scan (see :func:`_changed_bucket_ids`). A bucket
    matching on all three statistics is declared unchanged. The
    triple shares the fingerprint trade-off of
    :func:`row_fingerprint`: a change pattern colliding on count AND xor
    AND exact sum goes unseen — hash-collision-class odds.

    ``bucket_fn`` overrides the default key-hash bucketing with any
    deterministic ``DataFrame -> Column`` in ``[0, n_buckets)`` — e.g.
    a key-RANGE bucket for data whose daily changes cluster by key
    (append-mostly tables), where range buckets localize changes that
    a hash would scatter across every bucket. It sees the FULL frame
    (not the sync-column projection), so a caller can bucket by a
    stored partition column that isn't a sync column — e.g. the SCD2
    table's ``_pk_bucket``, which makes the downstream pruned re-read
    partition-prunable.
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    if bucket_fn is None:
        bucket_fn = lambda d: bucket_col(d, primary_key, n_buckets)  # noqa: E731

    def fingerprinted(df: DataFrame) -> DataFrame:
        p = df.select(bucket_fn(df).alias("_bucket"), *columns)
        return p.select("_bucket", row_fingerprint(p, columns).alias("_fp"))

    return _changed_bucket_ids(
        fingerprinted(file_df), "_fp", fingerprinted(db_df), "_fp"
    )


def diff_snapshots_pruned(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    n_buckets: int = 256,
    delete_not_in_file: bool = True,
    bucket_fn: "Callable[[DataFrame], Column] | None" = None,
) -> DiffResult:
    """:func:`diff_snapshots`, but the classification join only reads
    the key-hash buckets whose fingerprints changed.

    Why this matters at 100 TB: a daily sync typically touches a tiny
    fraction of rows, yet the full diff still shuffles BOTH entire
    snapshots into the join. The bucket-fingerprint pre-pass costs one
    narrow scan per side (16 bytes/row into a map-side partial agg,
    ``n_buckets`` rows out) and then the wide join runs over only the
    changed slice — with unchanged data never entering an exchange.
    When the snapshots are *stored* bucketed on the same key hash
    (``sources/writers.write_partitioned`` on :func:`bucket_col`), the
    bucket filter also prunes whole files at the scan, making the
    read itself incremental.

    Result-identical to the full diff (the pruning is invisible in
    the output, modulo the documented fingerprint collision odds).
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    if bucket_fn is None:
        bucket_fn = lambda d: bucket_col(d, primary_key, n_buckets)  # noqa: E731
    file_p = file_df.select(*columns)
    db_p = db_df.select(*columns)
    buckets = changed_buckets(
        file_p, db_p, primary_key, columns, n_buckets, bucket_fn
    )
    if not buckets:
        file_p, db_p = file_p.limit(0), db_p.limit(0)
        return diff_snapshots(
            file_p, db_p, primary_key, columns, delete_not_in_file
        )
    fb = file_p.filter(bucket_fn(file_p).isin(buckets))
    db = db_p.filter(bucket_fn(db_p).isin(buckets))
    return diff_snapshots(fb, db, primary_key, columns, delete_not_in_file)


def diff_snapshots(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    delete_not_in_file: bool = True,
) -> DiffResult:
    """Full diff (J1): insert/update/delete triple over sync columns,
    each leg a projection of one :func:`diff_changes` full-outer join
    (see :meth:`DiffResult.of_changes`). Pulled unpinned, every leg
    re-runs that join; :meth:`DiffResult.pin` runs it once.

    When ``delete_not_in_file`` is false no row classifies as a
    delete and the delete leg is an empty relation (the reference
    gates J4 the same way, ref: dbsync.go:746-749).
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    changes = diff_changes(
        file_df,
        db_df,
        primary_key,
        columns,
        delete_not_in_file=delete_not_in_file,
    )
    return DiffResult.of_changes(changes, delete_not_in_file)
