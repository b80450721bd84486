"""The one crash-safe rewrite protocol for every persisted parquet store.

A store is never rewritten in place. :func:`write` stages the new
copy to a sibling directory, proves it reads back (the count it
returns), then publishes it by a rename swap: two constant-time
metadata operations (delete the store, rename the copy). A crash
anywhere in the staging write leaves the old store serving. A crash
inside the swap leaves a complete staged copy that :func:`restore`
adopts. Streams call :func:`restore` at batch start and maintenance
ops call it first, before they read or append, so a crashed rewrite
is resolved before anything builds on a missing or stale store.

The rewrite records how its copy must be restored before the first
byte is written: the staging directory's name carries the mode.

- ``MERGE`` (``path + "_staging_merge"``) is for compactions that
  keep the store's layout, whose copy holds the same content as the
  store. A store that reads back complete beside a complete copy may
  hold rows appended after the crash, so the restore takes the union
  of both with full-row duplicates dropped. The union is staged to ``path +
  "_restore_merge"`` first; a complete merge dir supersedes on the
  next call if the restore itself crashes.
- ``SUPERSEDE`` (``path + "_staging"``) is for every other rewrite:
  rebuilds, refreezes, migrations, whole-replace state, model stores
  and compactions that change the id-bucket layout. The complete
  copy is the newest version and replaces the store; mixing it with
  the old one would mix two quantizers, two token orders, two
  training runs or two bucket moduli.

Restore states, the same for both modes:

- no staging dir: a few existence probes, no Spark job, False;
- copy marked (``_SUCCESS``) and readable: adopt it (merge mode
  unions a complete store into it first), True;
- copy marked but unreadable: never destroy the serving store for
  it; delete the copy, False;
- copy unmarked beside a readable store (the write died while
  staging, or markers are disabled): False; a supersede copy is
  deleted, a merge copy is left for the next compaction to overwrite;
- copy unmarked, store unreadable: the success-markers-disabled
  window, where readability cannot tell a complete copy from a
  partial one. Adopt only when ``verify(copy)`` passes (a store
  kind's refusing reader), or with no verifier when the copy reads.

Rewrites and restores are not run concurrently with ingestion into
the same store.

Upgrading a store with a pending copy: releases before this module
staged every rewrite at ``path + "_staging"`` and let the caller's
restore choose union or supersede. Such a copy now reads as
SUPERSEDE, so a leftover compaction copy would replace a store that
took appends after the crash. Run the old release's restore (or its
next compaction or stream batch) on every store before upgrading;
:func:`pending` is True for a store that still holds one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.utils import AnalysisException

from mydatasyncer_spark.sources.writers import _hadoop_fs

#: restore modes a rewrite records with its staged copy
MERGE = "merge"
SUPERSEDE = "supersede"

#: sibling dir of a SUPERSEDE rewrite's staged copy
INDEX_STAGING_SUFFIX = "_staging"
#: sibling dir of a MERGE rewrite's staged copy
MERGE_STAGING_SUFFIX = "_staging_merge"
#: sibling dir a merge restore stages its union to
RESTORE_MERGE_SUFFIX = "_restore_merge"

_SUFFIX = {MERGE: MERGE_STAGING_SUFFIX, SUPERSEDE: INDEX_STAGING_SUFFIX}


def staging_path(path: str, mode: str) -> str:
    """Where a ``mode`` rewrite of ``path`` stages its copy."""
    return path.rstrip("/") + _SUFFIX[mode]


def _job_succeeded(spark, path: str) -> bool:
    """The committer's ``_SUCCESS`` marker — a directory whose write
    JOB finished (task outputs can be visible per-task under
    v2/direct committers, so mere readability proves nothing)."""
    jvm, fs, _ = _hadoop_fs(spark, path)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path, "_SUCCESS"))


def delete(spark, path: str) -> None:
    """Recursively delete ``path`` (a no-op when it is absent)."""
    _, fs, p = _hadoop_fs(spark, path)
    fs.delete(p, True)


def _readable(spark, path: str) -> bool:
    try:
        spark.read.parquet(path)
        return True
    except AnalysisException:
        return False


def complete(spark, path: str, marker_ref: str) -> bool:
    """Readable and job-committed. When the deployment disables
    success markers (``marker_ref``, a store the same pipeline writes,
    carries none) readability alone decides — degraded crash-window
    protection instead of repairing the store on every batch."""
    return _readable(spark, path) and (
        _job_succeeded(spark, path) or not _job_succeeded(spark, marker_ref)
    )


def pending(spark, path: str) -> bool:
    """True when a crashed rewrite left a readable staged copy that
    nobody restored — the ``pending_staging`` field of every
    store report."""
    return any(_readable(spark, staging_path(path, m)) for m in _SUFFIX)


def _swap(spark, staged: str, path: str) -> None:
    """Publish a staged copy PROVEN to read back by rename: delete
    the store, rename the copy. Both are metadata operations, so the
    crash window does not scale with store size; a crash between
    them leaves (no store, complete copy), which :func:`restore`
    adopts. Staging is a sibling dir on the same filesystem, so
    rename is cheap everywhere (object-store committers degrade it to
    a server-side copy, never a recompute)."""
    jvm, fs, _ = _hadoop_fs(spark, path)
    dst = jvm.org.apache.hadoop.fs.Path(path)
    fs.delete(dst, True)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(staged), dst):
        raise IOError(
            f"staged swap: rename {staged} -> {path} failed; the "
            "complete staged copy is intact, re-run restore"
        )


def write(
    spark,
    frame: DataFrame,
    path: str,
    mode: str,
    partition_by: list[str] | None = None,
) -> int:
    """Replace the parquet dir at ``path`` with ``frame``: stage to
    :func:`staging_path` (``mode`` says how a crash is restored),
    count the staged copy back, then swap it in by rename. Returns
    the rows written. ``partition_by`` is the store's directory
    layout. An empty frame written partitioned leaves only
    ``_SUCCESS`` (no schema-bearing file), so it is staged
    unpartitioned instead, keeping the partition columns as ordinary
    empty columns. A pending copy from an earlier crash is
    overwritten, not restored: ``frame`` may be derived from the store
    itself, and the store is not touched until the copy is complete."""
    staging = staging_path(path, mode)
    w = frame.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    try:
        rows = spark.read.parquet(staging).count()
    except AnalysisException:
        if not partition_by or not frame.isEmpty():
            raise
        frame.write.mode("overwrite").parquet(staging)
        rows = 0
    _swap(spark, staging, path)
    return rows


def _layout(spark, path: str) -> list[str]:
    """Partition columns of a parquet dir, read off its first
    ``col=value`` directory chain."""
    _, fs, p = _hadoop_fs(spark, path)
    cols: list[str] = []
    while fs.exists(p):
        sub = [
            st.getPath()
            for st in fs.listStatus(p)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if not sub:
            break
        cols.append(sub[0].getName().split("=", 1)[0])
        p = sub[0]
    return cols


def _adopt(spark, staging: str, path: str, mode: str, verify) -> bool:
    if not _job_succeeded(spark, staging):
        ok = verify(staging) if verify else _readable(spark, staging)
        if _readable(spark, path) or not ok:
            if mode == SUPERSEDE:
                delete(spark, staging)
            return False
    elif not _readable(spark, staging):
        delete(spark, staging)
        return False
    if mode == MERGE and _job_succeeded(spark, path) and _readable(
        spark, path
    ):
        # rows appended after the crash live only in the store
        merged = path.rstrip("/") + RESTORE_MERGE_SUFFIX
        union = (
            spark.read.parquet(staging)
            .unionByName(spark.read.parquet(path))
            .distinct()
        )
        parts = _layout(spark, staging) or _layout(spark, path)
        w = union.write.mode("overwrite")
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(merged)
        delete(spark, staging)
        _swap(spark, merged, path)
        return True
    _swap(spark, staging, path)
    return True


def restore(spark, path: str, verify=None) -> bool:
    """Resolve whatever a crashed :func:`write` (or a crashed merge
    restore) left beside ``path``; True when a staged copy was
    adopted. The mode comes from the copy's directory name, so any
    caller resolves any rewrite's crash the same way. ``verify`` is
    the store kind's refusing reader for the markers-disabled
    fallback (see the module docstring)."""
    jvm, fs, _ = _hadoop_fs(spark, path)
    merged = path.rstrip("/") + RESTORE_MERGE_SUFFIX
    found = [
        p
        for p in (merged, *(staging_path(path, m) for m in _SUFFIX))
        if fs.exists(jvm.org.apache.hadoop.fs.Path(p))
    ]
    if not found:
        return False
    restored = False
    if merged in found:
        if _job_succeeded(spark, merged) and _readable(spark, merged):
            # a merge restore crashed after staging its union, which
            # holds the staged copy and the store at merge time
            delete(spark, staging_path(path, MERGE))
            _swap(spark, merged, path)
            restored = True
        else:
            delete(spark, merged)
    for mode in _SUFFIX:
        staging = staging_path(path, mode)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(staging)):
            restored = _adopt(spark, staging, path, mode, verify) or restored
    return restored
