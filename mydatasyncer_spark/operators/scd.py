"""Slowly-changing-dimension type-2 maintenance over diff deltas.

The reference's diff (insert/update/delete, ref: dbsync.go:717-760)
overwrites state; a warehouse usually wants HISTORY: every version of
a row kept, with [valid_from, valid_to) effectivity and an is_current
flag. SCD2 maintenance is exactly the diff triple re-targeted:

- insert  → open a new current version,
- update  → close the current version at ``ts``, open a new one,
- delete  → close the current version (no successor).

Scale shape: everything is equi joins / anti joins on the primary key
(the same legs as ``operators/diff``) plus one union — no windows, no
driver state. The emitted frame is the NEW history; with a
MERGE-capable store you'd apply ``closed`` and ``opened`` as two
set-based statements instead of rewriting (the applier's staged
protocol does exactly that for mutable sinks), and a partition-by-
is_current layout means the rewrite only ever touches the current
partition while closed history stays immutable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mydatasyncer_spark.operators.diff import DiffResult, diff_snapshots

VALID_FROM = "valid_from"
VALID_TO = "valid_to"
IS_CURRENT = "is_current"


def scd2_init(
    snapshot: DataFrame, ts: str, effective_type: str = "date"
) -> DataFrame:
    """Bootstrap a history table from a first snapshot: every row is
    the open current version effective at ``ts`` (a date/timestamp
    string literal).

    ``effective_type`` fixes the GRANULARITY of the whole history:
    the default ``"date"`` matches the reference's daily-sync
    contract (two same-day versions of a key are unrepresentable —
    the second apply simply supersedes); ``"timestamp"`` gives
    sub-day effectivity, letting intraday applies stack versions.
    Every later :func:`scd2_apply` / :func:`scd2_asof_join` derives
    the type from the history's ``valid_from`` column, so this one
    choice threads through the whole lifecycle."""
    return snapshot.select(
        "*",
        F.lit(ts).cast(effective_type).alias(VALID_FROM),
        F.lit(None).cast(effective_type).alias(VALID_TO),
        F.lit(True).alias(IS_CURRENT),
    )


def _effective_type(history: DataFrame):
    """The history's effectivity granularity = ``valid_from``'s
    dtype (date for daily histories, timestamp for sub-day)."""
    return history.schema[VALID_FROM].dataType


def scd2_apply(
    history: DataFrame,
    snapshot: DataFrame,
    primary_key: str,
    ts: str,
    columns: list[str] | None = None,
    diff_fn=None,
    delete_absent: bool = True,
) -> DataFrame:
    """New history = history with the diff between the incoming
    ``snapshot`` and the CURRENT versions folded in at ``ts``.

    Closed-out rows keep their attribute values (the whole point of
    SCD2: the old version survives with ``valid_to = ts``); changed
    and brand-new rows open as current versions with
    ``valid_from = ts``. Rows absent from the snapshot close with no
    successor. Non-current history passes through untouched.

    Empty-snapshot POLICY: with the default ``delete_absent=True``
    the snapshot is authoritative — rows absent from it close, so an
    empty snapshot closes EVERYTHING (the reference's
    ``deleteNotInFile: true`` semantics, ref: dbsync.go:409-420).
    Pass ``delete_absent=False`` for append/update-only feeds: absent
    rows then stay current and an empty snapshot is a no-op.

    ``diff_fn(snapshot, current, primary_key)`` defaults to the full
    :func:`~mydatasyncer_spark.operators.diff.diff_snapshots`; pass
    ``diff_snapshots_pruned`` (or a ``bucket_fn`` partial of it) for
    the daily-sync shape where changes are localized — the wide diff
    joins then only read the key buckets whose fingerprints changed,
    and since everything downstream is delta-sized, the WHOLE history
    update becomes proportional to the changed slice, not the corpus.
    """
    closed, surviving_current, opened = _scd2_legs(
        history, snapshot, primary_key, ts, columns, diff_fn,
        delete_absent=delete_absent,
    )
    if columns is None:
        columns = [c for c in snapshot.columns]
    meta = [VALID_FROM, VALID_TO, IS_CURRENT]
    past = history.filter(~F.col(IS_CURRENT)).select(*columns, *meta)
    return (
        past.unionByName(closed)
        .unionByName(surviving_current)
        .unionByName(opened)
    )


def scd2_apply_onepass(
    history: DataFrame,
    snapshot: DataFrame,
    primary_key: str,
    ts: str,
    columns: list[str] | None = None,
    delete_absent: bool = True,
) -> DataFrame:
    """:func:`scd2_apply` in one classification pass (r14
    optimization).

    The legacy leg composition expands to FIVE wide join subtrees at
    plan level: the diff's insert anti + update inner (the update
    subtree feeding both closing_keys and opened), plus the
    closed/surviving semi/anti pair re-joining the current slice
    against the closing keys. But every SCD2 decision is per-key —
    close, survive, open — so one full-outer join of ``(canonical_key,
    row_fingerprint, row)`` between the snapshot and the CURRENT slice
    classifies each key, and each joined row explodes directly into
    its 1–2 output versions:

    - snapshot-only → open a new current version at ``ts``
    - both, fingerprints differ → close the old at ``ts`` AND open
      the new
    - current-only → close at ``ts`` (or survive untouched when
      ``delete_absent=False``)
    - both, fingerprints equal → survive untouched

    Non-current history passes through unioned, exactly as before.
    Bit-identical to :func:`scd2_apply` (equivalence-pinned by tests
    incl. the policy matrix and NULL-key/NULL-value rows) under the
    SCD2 contract's one-current-version-per-key invariant — with
    duplicate keys in the current slice the legacy path closes the
    whole key group when ANY pair differs, while this per-pair
    classification would keep the equal pairs; keep the legacy path
    for histories that can violate the invariant. At 100 TB both
    sides are scanned and shuffled once instead of five times.
    """
    from mydatasyncer_spark.operators.diff import (
        _KEY,
        _classify,
        _fingerprinted,
        _struct_of,
    )

    if columns is None:
        columns = [c for c in snapshot.columns]
    eff_type = _effective_type(history)
    cur = history.filter(F.col(IS_CURRENT)).select(*columns, VALID_FROM)
    fs = _fingerprinted(
        snapshot, primary_key, columns, "_f_fp",
        _struct_of(columns).alias("_f_p"),
    )
    ds = _fingerprinted(
        cur, primary_key, columns, "_d_fp",
        _struct_of(columns).alias("_d_p"),
        F.col(VALID_FROM).alias("_d_vf"),
    )
    j = fs.join(ds, _KEY, "full_outer")
    is_ins, is_upd, is_del = _classify()
    ts_lit = F.lit(ts).cast(eff_type)
    null_eff = F.lit(None).cast(eff_type)
    opened = F.struct(
        *[F.col(f"_f_p.{c}").alias(c) for c in columns],
        ts_lit.alias(VALID_FROM),
        null_eff.alias(VALID_TO),
        F.lit(True).alias(IS_CURRENT),
    )
    closed = F.struct(
        *[F.col(f"_d_p.{c}").alias(c) for c in columns],
        F.col("_d_vf").alias(VALID_FROM),
        ts_lit.alias(VALID_TO),
        F.lit(False).alias(IS_CURRENT),
    )
    surviving = F.struct(
        *[F.col(f"_d_p.{c}").alias(c) for c in columns],
        F.col("_d_vf").alias(VALID_FROM),
        null_eff.alias(VALID_TO),
        F.lit(True).alias(IS_CURRENT),
    )
    on_absent = F.array(closed) if delete_absent else F.array(surviving)
    rows = (
        F.when(is_ins, F.array(opened))
        .when(is_upd, F.array(closed, opened))
        .when(is_del, on_absent)
        .otherwise(F.array(surviving))
    )
    out = j.select(F.explode(rows).alias("_r")).select("_r.*")
    meta = [VALID_FROM, VALID_TO, IS_CURRENT]
    past = history.filter(~F.col(IS_CURRENT)).select(*columns, *meta)
    return past.unionByName(out)


def _scd2_legs(
    history: DataFrame,
    snapshot: DataFrame,
    primary_key: str,
    ts: str,
    columns: list[str] | None = None,
    diff_fn=None,
    delete_absent: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three delta legs of an SCD2 maintenance step:
    ``(closed, surviving_current, opened)`` — all equi/anti/semi joins
    on the primary key over the CURRENT slice only; non-current
    history is never read."""
    if columns is None:
        columns = [c for c in snapshot.columns]
    if diff_fn is None:
        diff_fn = diff_snapshots
    eff_type = _effective_type(history)
    cur = history.filter(F.col(IS_CURRENT)).select(*columns, VALID_FROM)
    diff = diff_fn(
        snapshot.select(*columns), cur.select(*columns), primary_key
    )
    if not delete_absent:
        # composes with ANY diff_fn (the gate needn't be in its
        # signature): absent rows simply never close
        diff = DiffResult(
            diff.to_insert, diff.to_update, diff.to_delete.limit(0)
        )
    # keys whose current version must close: updated or deleted
    closing_keys = (
        diff.to_update.select(primary_key)
        .unionByName(diff.to_delete.select(primary_key))
    )
    # delta-sized key set: AQE broadcasts it when small, falls back to
    # a shuffle semi join when a reload changes everything
    closed = cur.join(closing_keys, primary_key, "left_semi").select(
        *columns,
        F.col(VALID_FROM),
        F.lit(ts).cast(eff_type).alias(VALID_TO),
        F.lit(False).alias(IS_CURRENT),
    )
    surviving_current = cur.join(
        closing_keys, primary_key, "left_anti"
    ).select(
        *columns,
        F.col(VALID_FROM),
        F.lit(None).cast(eff_type).alias(VALID_TO),
        F.lit(True).alias(IS_CURRENT),
    )
    opened = (
        diff.to_insert.select(*columns)
        .unionByName(diff.to_update.select(*columns))
        .select(
            *columns,
            F.lit(ts).cast(eff_type).alias(VALID_FROM),
            F.lit(None).cast(eff_type).alias(VALID_TO),
            F.lit(True).alias(IS_CURRENT),
        )
    )
    return closed, surviving_current, opened


#: derived partition column for the bucketed layout — not a data column
BUCKET_COL = "_pk_bucket"
_NBUCKETS_PROP = "mydatasyncer.scd2.n_buckets"


def _bucket_expr(primary_key: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(primary_key)), F.lit(int(n_buckets)))


def scd2_init_table(
    spark,
    table: str,
    snapshot: DataFrame,
    ts: str,
    primary_key: str | None = None,
    n_buckets: int | None = None,
    effective_type: str = "date",
) -> None:
    """Bootstrap a MANAGED history table partitioned by
    ``is_current`` from a first snapshot (the layout
    :func:`scd2_apply_to_table` maintains incrementally).

    With ``n_buckets`` (requires ``primary_key``) the layout is
    additionally sub-partitioned by a PK hash bucket: applies then
    rewrite only the CURRENT-side buckets the delta touches instead
    of the whole current slice — at 100 TB the difference between a
    delta-proportional write and a daily full-snapshot rewrite. The
    bucket count is recorded as a table property so applies recompute
    identical bucket values. ``effective_type`` as in
    :func:`scd2_init` — later applies derive it from the stored
    ``valid_from`` column."""
    h = scd2_init(snapshot, ts, effective_type)
    if n_buckets is not None:
        if primary_key is None:
            raise ValueError("n_buckets requires primary_key")
        h = h.withColumn(BUCKET_COL, _bucket_expr(primary_key, n_buckets))
        h.write.partitionBy(IS_CURRENT, BUCKET_COL).saveAsTable(table)
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES"
            f"('{_NBUCKETS_PROP}'='{int(n_buckets)}')"
        )
    else:
        h.write.partitionBy(IS_CURRENT).saveAsTable(table)


def _table_n_buckets(spark, table: str) -> int | None:
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    for r in rows:
        if r["key"] == _NBUCKETS_PROP:
            return int(r["value"])
    return None


def scd2_apply_to_table(
    spark,
    table: str,
    snapshot: DataFrame,
    primary_key: str,
    ts: str,
    columns: list[str] | None = None,
    diff_fn=None,
    compute_stats: bool = False,
    delete_absent: bool = True,
    pruned: bool = False,
) -> dict:
    """Apply one SCD2 maintenance step to a managed history table
    WITHOUT rewriting closed history.

    :func:`scd2_apply` returns the whole new history — materializing
    it rewrites every closed version on every daily apply, which at
    100 TB means the immutable 99% of the table is re-encoded for a
    delta-sized change. This variant targets a table partitioned by
    ``is_current`` (:func:`scd2_init_table`) and turns the step into
    two set-based writes, the partition-scoped MERGE shape of
    ``sinks/table_merge.py``:

    - newly-closed versions APPEND into the ``is_current=false``
      partition (existing closed files are never opened, let alone
      rewritten — the byte-identity test pins this), and
    - the ``is_current=true`` partition alone is REPLACED by
      surviving + newly-opened versions via dynamic partition
      overwrite.

    So the daily write cost is the current slice plus the delta —
    closed history only ever gains files. On a BUCKETED layout
    (:func:`scd2_init_table` with ``n_buckets``) it is better still:
    only the current-side buckets holding a closed or opened key are
    rewritten, so the write is delta-proportional, not
    current-slice-proportional. To also make the READ side
    delta-proportional on a bucketed layout pass ``pruned=True``: a
    per-bucket fingerprint pre-pass (one narrow scan per side,
    ``n_buckets`` rows out — ``operators/diff.changed_buckets``
    keyed on the STORED ``_pk_bucket`` partition column) finds the
    changed buckets, and the wide diff joins then re-read only those
    bucket DIRECTORIES — genuine partition pruning at the scan, not
    just exchange avoidance. (``diff_fn=diff_snapshots_pruned`` also
    composes, but recomputes the bucket hash as an expression, which
    prunes exchanges yet cannot prune partitions.) Returns
    ``{"closed": n, "opened": n}`` plus ``pruned_buckets`` (the
    changed-bucket list) when ``pruned`` (counts -1 unless
    ``compute_stats``).

    A current partition the delta EMPTIES (every current row of a
    bucket — or of the whole unbucketed current slice — closes with
    no replacement) is cleared explicitly: dynamic partition
    overwrite only replaces partitions it writes rows into, so
    relying on it alone would leave those rows both closed AND still
    current.

    Empty-snapshot POLICY: as in :func:`scd2_apply`, the default
    ``delete_absent=True`` treats the snapshot as authoritative — an
    empty snapshot closes every current row (reference
    ``deleteNotInFile: true``, ref: dbsync.go:409-420);
    ``delete_absent=False`` makes absent rows stay current.

    Durability: the legs are pinned with ``localCheckpoint`` (blocks
    cached on executors, NOT replicated storage) before the table is
    mutated. Losing an executor mid-apply can therefore fail the
    job; the writes are staged append-then-overwrite, so on failure
    re-run the apply from the same snapshot (a re-applied snapshot
    diffs empty against already-updated state — idempotent). Swap in
    a reliable ``df.checkpoint()`` via ``spark.sparkContext.
    setCheckpointDir`` if executor loss must not fail the apply.

    Crash window (honest caveat, restored r14): the current-rows
    rewrite is an ``insertInto(overwrite=True)`` with no staging — a
    crash INSIDE its job commit can leave a current partition
    partially replaced, and unlike the streaming bucketed stores
    (whose replay rebuilds affected buckets from source data), SCD2
    history is NOT rebuildable from the current snapshot alone: the
    closed-row lineage lives only in the table. The re-run-the-apply
    recovery above covers a crash BETWEEN the append and the
    overwrite; for a crash inside the overwrite's commit, pair the
    table with a transactional format (Delta/Iceberg) if that window
    matters. ``insertInto`` honors only the SESSION
    ``partitionOverwriteMode`` conf (the per-write DataFrameWriter
    option is ignored for catalog tables — verified on Spark 4.1),
    so the dynamic-mode toggle below is session-wide for the write's
    duration; don't run concurrent partition-overwrite writers on
    the same session.
    """
    history = spark.table(table)
    n_buckets = (
        _table_n_buckets(spark, table)
        if BUCKET_COL in history.columns
        else None
    )
    meta = {VALID_FROM, VALID_TO, IS_CURRENT, BUCKET_COL}
    cols = [c for c in history.columns if c not in meta]
    if columns is not None:
        # unlike scd2_apply (whose OUTPUT is the selected columns), a
        # managed table has a fixed schema: the step must produce every
        # stored data column, so only a permutation of the full set is
        # meaningful here. Fail fast — before any Spark work — instead
        # of the late AnalysisException the wide legs used to throw.
        if set(columns) != set(cols):
            raise ValueError(
                "scd2_apply_to_table needs the table's full data-column"
                f" set {sorted(cols)}; got {sorted(columns)}. Project "
                "the snapshot (or use scd2_apply) for partial-column "
                "histories."
            )
        cols = columns
    pruned_bkts: list[int] | None = None
    if pruned:
        if n_buckets is None:
            raise ValueError(
                "pruned=True needs a bucketed layout "
                "(scd2_init_table with n_buckets)"
            )
        from mydatasyncer_spark.operators.diff import changed_buckets

        # fingerprint pre-pass keyed on the STORED bucket column for
        # the table side (the snapshot recomputes the same hash):
        # bounded driver list, and the .isin filter below lands on
        # the partition column, so the wide legs prune directories
        def bfn(d: DataFrame):
            if BUCKET_COL in d.columns:
                return F.col(BUCKET_COL).cast("long")
            return _bucket_expr(primary_key, n_buckets)

        pruned_bkts = changed_buckets(
            snapshot,
            history.filter(F.col(IS_CURRENT)),
            primary_key,
            cols,
            n_buckets,
            bfn,
        )
        history = history.filter(
            F.col(BUCKET_COL).isin(pruned_bkts)
            if pruned_bkts
            else F.lit(False)
        )
        snapshot = snapshot.filter(
            _bucket_expr(primary_key, n_buckets).isin(pruned_bkts)
            if pruned_bkts
            else F.lit(False)
        )
    closed, surviving, opened = _scd2_legs(
        history, snapshot, primary_key, ts, cols, diff_fn,
        delete_absent=delete_absent,
    )
    order = history.columns  # partition columns last, Spark's layout

    def shape(df: DataFrame) -> DataFrame:
        if n_buckets is not None:
            df = df.withColumn(
                BUCKET_COL, _bucket_expr(primary_key, n_buckets)
            )
        return df.select(*order)

    # materialize the legs BEFORE any write: they read the table the
    # writes below overwrite (the copy in copy-on-write)
    closed = shape(closed).localCheckpoint()
    new_current = surviving.unionByName(opened)
    if n_buckets is not None:
        # delta-sized bucket list (bounded by n_buckets): only these
        # current-side partitions are rewritten
        changed = sorted(
            r[0]
            for r in closed.select(BUCKET_COL)
            .unionByName(
                opened.select(
                    _bucket_expr(primary_key, n_buckets).alias(BUCKET_COL)
                )
            )
            .distinct()
            .collect()
        )
        new_current = new_current.filter(
            _bucket_expr(primary_key, n_buckets).isin(changed)
            if changed
            else F.lit(False)
        )
    new_current = shape(new_current).localCheckpoint()
    stats = {"closed": -1, "opened": -1}
    if pruned_bkts is not None:
        stats["pruned_buckets"] = pruned_bkts
    if compute_stats:
        stats["closed"] = closed.count()
        stats["opened"] = new_current.filter(
            F.col(VALID_FROM) == F.lit(ts).cast(_effective_type(history))
        ).count()
    if closed.isEmpty() and new_current.isEmpty():
        return stats
    # current partitions the delta EMPTIES: dynamic overwrite below
    # never clears a partition it writes no rows into, so find the
    # must-rewrite partitions that end up with zero surviving/opened
    # rows and clear them explicitly after the writes (bounded
    # collects: <= n_buckets values / one isEmpty probe)
    if n_buckets is not None:
        present = {
            r[0] for r in new_current.select(BUCKET_COL).distinct().collect()
        }
        empty_specs = [
            f"{IS_CURRENT}=true, {BUCKET_COL}={int(b)}"
            for b in changed
            if b not in present
        ]
    else:
        empty_specs = (
            [f"{IS_CURRENT}=true"] if new_current.isEmpty() else []
        )
    closed.write.insertInto(table, overwrite=False)
    conf = spark.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode", None)
    try:
        conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        new_current.write.insertInto(table, overwrite=True)
        if empty_specs:
            conf.set(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            _clear_partitions(spark, table, empty_specs, history, order)
    finally:
        if prev is not None:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        else:
            conf.unset("spark.sql.sources.partitionOverwriteMode")
    return stats


def _clear_partitions(
    spark, table: str, specs: list[str], history: DataFrame, order: list[str]
) -> None:
    """Truncate the given fully-static partition specs of ``table``
    by static-mode ``INSERT OVERWRITE`` from an EMPTY frame — the
    file-source path that works on any catalog (the in-memory
    catalog rejects ``ALTER TABLE ... DROP PARTITION`` for
    datasource tables). Caller must have partitionOverwriteMode set
    to ``static``."""
    import uuid as _uuid

    part = {IS_CURRENT, BUCKET_COL}
    data_cols = [c for c in order if c not in part]
    view = f"scd2_empty_{_uuid.uuid4().hex[:12]}"
    spark.createDataFrame(
        [], history.select(*data_cols).schema
    ).createOrReplaceTempView(view)
    try:
        for spec in specs:
            spark.sql(
                f"INSERT OVERWRITE TABLE {table} PARTITION ({spec}) "
                f"SELECT * FROM {view}"
            )
    finally:
        spark.catalog.dropTempView(view)


def scd2_asof_join(
    fact: DataFrame,
    history: DataFrame,
    primary_key: str,
    ts_col: str,
    history_cols: list[str] | None = None,
) -> DataFrame:
    """Point-in-time join: each fact row picks up the dimension
    VERSION that was effective at its event time — the lookup every
    SCD2 history exists to serve (state ``as of`` a column, not a
    constant; :func:`scd2_apply`'s time-travel filter generalized to
    per-row timestamps).

    Scale shape: an EQUI join on ``primary_key`` with the
    half-open effectivity check ``valid_from <= ts < valid_to`` as a
    cheap residual — per key there are only a handful of versions,
    so the residual never amplifies rows and no range/window
    machinery is needed. Versions are half-open and non-overlapping
    per key by SCD2 construction, so at most ONE version matches a
    fact row; facts dated before the key's first version (or with an
    unknown key) drop out, exactly like an inner dimension lookup.
    Pass ``history_cols`` to prune the dimension payload BEFORE the
    join (column pruning at the scan on a stored history).

    The fact timestamp is cast to the HISTORY's effectivity dtype
    (``valid_from``'s): against a date-grained history (the
    reference's daily-sync contract) event times floor to the day;
    against a ``scd2_init(..., effective_type="timestamp")`` history
    the comparison keeps full sub-day precision, so two same-day
    versions resolve correctly.
    """
    meta = [VALID_FROM, VALID_TO, IS_CURRENT]
    if history_cols is not None:
        history = history.select(primary_key, *history_cols, *meta)
    # the bucketed managed layout carries its partition helper column;
    # it is not dimension payload
    h = history.drop(IS_CURRENT, BUCKET_COL)
    ts = F.col(ts_col).cast(_effective_type(history))
    eff = (F.col(VALID_FROM) <= ts) & (
        F.col(VALID_TO).isNull() | (ts < F.col(VALID_TO))
    )
    return fact.join(h, primary_key).filter(eff).drop(VALID_FROM, VALID_TO)
