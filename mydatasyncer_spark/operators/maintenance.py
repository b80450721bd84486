"""Maintenance ops for the persisted stores: compaction, index
rebuilds, model-store writes and the decision-signal reports that say
when each one pays.

Every continuous-ingestion store appends one small file per
micro-batch — the MinHash signature index and survivors table
(``streaming/continuous.continuous_dedup``), pairs tables, the
mergeable-sketch partials tables (``_continuous_partials``), and the
bucket-partitioned IVF index (``continuous_ann_index``). A standing
stream therefore accumulates unbounded file counts, and crash
replays / per-task-visible committers can leave duplicate rows.
:func:`compact_table` rewrites such a store deduplicated and sized.
Every rewrite here goes through :mod:`~mydatasyncer_spark.operators.
staging`, whose docstring states the crash contract once.

Scale note: compaction is the ONLY corpus-linear maintenance op and
runs between drains (it overwrites paths a concurrent ingest would
read) — per-batch ingest work stays batch-sized; this just caps the
file-count (and replay-duplicate) tax a standing pipeline pays on
every scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mydatasyncer_spark.operators import staging
from mydatasyncer_spark.operators.dedup import (
    ID_BUCKET_COL,
    _stage_compaction,
    id_bucket_layout,
)


def _bucket_occupancy(bucketed, bucket_col: str = "_b") -> dict:
    """One aggregate pass over ``(bucket)`` rows: total rows, buckets
    used, largest-bucket fraction, and the Σ bᵢ²/N² expected-scan
    estimator (probability bᵢ/N of a store-distributed probe landing
    in bucket i × fraction bᵢ/N read) — the shared math of every
    occupancy/drift report (LSH, IVF, band, containment)."""
    row = (
        bucketed.groupBy(bucket_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.coalesce(F.sum("_c"), F.lit(0)).alias("_n"),
            F.coalesce(
                F.sum(F.col("_c") * F.col("_c")), F.lit(0)
            ).alias("_sq"),
            F.count(F.lit(1)).alias("_used"),
            F.coalesce(F.max("_c"), F.lit(0)).alias("_max"),
        )
        .collect()[0]
    )
    n = int(row["_n"])
    return {
        "rows": n,
        "buckets_used": int(row["_used"]),
        "largest_bucket_fraction": int(row["_max"]) / n if n else 0.0,
        "expected_scan": float(row["_sq"]) / (n * n) if n else 0.0,
    }


def compact_table(
    spark,
    path: str,
    dedupe_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    files_per_billion_rows: int = 2000,
) -> dict:
    """Rewrite an append-only parquet store deduplicated and
    file-count-sized, through the crash-safe staged protocol.

    ``dedupe_cols`` picks the duplicate notion: ``None`` drops exact
    FULL-ROW duplicates — the right call for stores where distinct
    facts always differ in some column (pairs tables; partials
    tables, whose rows carry the stamping batch id) and replay
    artifacts are bit-identical copies. A key list
    (``["doc_id"]``-style) dedupes by key with an ARBITRARY survivor
    — only correct when duplicates of a key are guaranteed identical
    (the signature/IVF indexes, whose writers anti-join each batch
    against the index first) or when the store's contract is
    explicitly at-least-once-reconcile-downstream (the
    ``continuous_dedup`` survivors table).

    ``partition_by`` preserves a partitioned layout (the IVF index's
    ``["bucket"]``): rows are shuffled onto the partition key before
    the final write so each partition directory lands few large
    files instead of one sliver per original file.

    File sizing matches ``jaccard_compact``: ``files_per_billion_rows``
    per 1e9 rows of the store as read (pre-dedupe), floor 1. The
    rewrite is one MERGE write of :mod:`~mydatasyncer_spark.operators.staging`.
    Returns ``{"rows", "removed_rows", "files",
    "restored_from_staging"}``. WHEN to run it:
    :func:`compaction_report` measures the store's current
    duplicate-row and file-count tax (and surfaces a crashed
    rewrite's pending staging dir).

    Per-store recipes (named wrappers exist for all but pairs tables):

    - MinHash signature index → ``dedupe_cols=[id_col]``
    - ``continuous_dedup`` survivors → ``dedupe_cols=[id_col]``
    - pairs tables → full-row (``None``)
    - sketch/quantile partials → full-row (``None``)
    - IVF index → ``dedupe_cols=["neighbor_id"],
      partition_by=["bucket"]``
    """
    restored = staging.restore(spark, path)
    df = spark.read.parquet(path)
    deduped = (
        df.dropDuplicates(dedupe_cols)
        if dedupe_cols
        else df.dropDuplicates()
    )
    return _stage_compaction(
        spark,
        path,
        deduped,
        df.count(),
        id_bucket_layout(df.columns, partition_by),
        restored,
        files_per_billion_rows,
    )


def restore_model_store(spark, path: str) -> bool:
    """Resolve a crashed :func:`write_model_store` rewrite with
    :func:`~mydatasyncer_spark.operators.staging.restore`. Model
    stores (:func:`~mydatasyncer_spark.operators.classify.
    quality_model_frame`, :func:`~mydatasyncer_spark.operators.
    tokenizer.bpe_merges_frame`, :func:`~mydatasyncer_spark.
    operators.text.unigram_model_frame`) are rewritten whole per
    retrain, so a complete staged copy SUPERSEDES the store: "staged
    ∪ old" would mix feature/rank rows from two training runs,
    exactly the state the stores' refusal matrices reject.

    The one model-store addition is the markers-disabled verifier:
    with the staged copy unmarked and the store unreadable,
    readability proves nothing (a v2/direct committer leaves
    individually-complete files from a partial job — including a
    FIRST-EVER write that crashed mid-staging, where no old store
    exists to fall back to), so adoption is gated on the copy
    resolving through its kind's refusing reader (the
    :func:`model_store_report` dispatch). A genuine crashed swap's
    copy was a complete verified store and resolves; a partial first
    write fails its own fingerprint and is deleted."""
    return staging.restore(
        spark, path, verify=lambda p: model_store_report(spark, p)["valid"]
    )


def write_model_store(spark, frame, path: str) -> int:
    """The ONE sanctioned way to (re)write a write-once model store:
    a SUPERSEDE :func:`~mydatasyncer_spark.operators.staging.write`.
    A crash anywhere in the (long) artifact-production phase leaves
    the OLD store serving a standing
    ``continuous_curation(model_store_path=...)`` stream untouched;
    the only residual window is the rename swap, closed mechanically
    by :func:`restore_model_store` (or the next write), never by
    retraining. A bare ``mode("overwrite")`` instead half-deletes the
    store for the whole rewrite: the stream's resolve-and-refuse
    reader fails LOUDLY but the stream is DOWN until a human
    RETRAINS.

    ``frame`` is a self-describing store frame (``quality_model_
    frame`` / ``bpe_merges_frame`` / ``unigram_model_frame``) whose
    provenance rides column metadata; the parquet round-trip through
    staging preserves the footer (pinned in
    tests/test_model_stores.py). A pending crashed rewrite at
    ``path`` is SUPERSEDED outright, deliberately not restored first:
    restoring would rewrite ``path`` before ``frame`` is evaluated,
    and a frame derived from the stored table itself (the
    re-baseline flow: read the store, stamp a new baseline, write it
    back) would then read mid-swap state. Returns the row count
    written."""
    return staging.write(spark, frame, path, staging.SUPERSEDE)


def model_store_report(spark, path: str) -> dict:
    """The write-once model stores' operational probe — completing
    the every-store-has-a-report symmetry (``compaction_report`` for
    append stores, ``*_occupancy_report``/``*_drift_report`` for the
    index families, this for the trained-model stores). An ops probe
    REPORTS instead of refusing: where the resolve-and-refuse readers
    raise (that is their job — never score under suspect weights),
    this catches the refusal and surfaces it as ``valid=False`` +
    the reader's own message, so "is this store healthy, and is a
    crashed rewrite pending?" is one call, not a try/except at every
    call site.

    Keys: ``kind`` (``quality_classifier`` / ``bpe_merges`` /
    ``unigram_logprobs`` / ``unknown``), ``readable``, ``valid``,
    ``error`` (the refusal text when invalid), ``rows`` (``None``
    whenever the store does not resolve — unreadable, unknown shape,
    or refused),
    ``pending_staging`` (a crashed :func:`write_model_store` left a
    staging dir — :func:`restore_model_store` resolves it), and the
    kind's provenance summary (``n_features``/``bias``/
    ``baseline_recorded`` for the classifier, ``n_merges``/
    ``baseline_recorded`` for the merge table, ``baseline`` bin
    count + ``docs`` for the unigram table). Cost: the classifier /
    merge resolves collect their driver-sized stores; the unigram
    leg reads footer metadata plus a parquet-metadata count — no
    corpus-scale scan."""
    from pyspark.sql.utils import AnalysisException

    report: dict = {
        "pending_staging": staging.pending(spark, path),
        "readable": True,
        "valid": False,
        "kind": "unknown",
        "error": None,
        # present on EVERY report — unhealthy stores (the ones the
        # probe exists for) report rows=None, never a KeyError
        "rows": None,
    }
    try:
        store = spark.read.parquet(path)
    except AnalysisException as exc:
        report["readable"] = False
        report["error"] = str(exc).split("\n")[0][:200]
        return report
    cols = set(store.columns)
    try:
        if {"feature", "weight"} <= cols:
            from mydatasyncer_spark.operators.classify import (
                recorded_model,
            )

            report["kind"] = "quality_classifier"
            w, b, base = recorded_model(store)
            report.update(
                valid=True,
                rows=len(w),
                n_features=len(w),
                bias=b,
                baseline_recorded=base is not None,
            )
        elif {"rank", "left", "right"} <= cols:
            from mydatasyncer_spark.operators.tokenizer import (
                recorded_merges,
            )

            report["kind"] = "bpe_merges"
            merges, base = recorded_merges(store)
            report.update(
                valid=True,
                rows=len(merges),
                n_merges=len(merges),
                baseline_recorded=base is not None,
            )
        elif {"tok", "logp"} <= cols:
            from mydatasyncer_spark.operators.text import (
                recorded_unigram_baseline,
            )

            report["kind"] = "unigram_logprobs"
            base = recorded_unigram_baseline(store)
            report.update(
                valid=True,
                rows=store.count(),
                baseline_bins=len(base["hist"]),
                baseline_docs=int(base["docs"]),
                baseline_recorded=True,
            )
        else:
            report["error"] = (
                "unknown store shape: columns "
                + ", ".join(sorted(cols))
            )
    except ValueError as exc:
        report["error"] = str(exc)
    return report


def compaction_report(
    spark,
    path: str,
    dedupe_cols: list[str] | None = None,
) -> dict:
    """The :func:`compact_table` DECISION signal — the compaction
    twin of ``jaccard_drift_report``: what a standing store's append
    history costs right now, as the numbers an operator needs to
    decide whether a compaction pays.

    Reported (one listing + one aggregate pass over the store):

    - ``rows`` / ``duplicate_rows`` — duplicates under the SAME
      notion compaction would use (full-row when ``dedupe_cols`` is
      None, by key otherwise); replay/committer artifacts compaction
      would remove.
    - ``files`` / ``rows_per_file`` — the file-count tax every scan
      pays; a standing stream appends ≥ 1 file per batch, so
      ``rows_per_file`` decays toward batch size over time.
    - ``pending_staging`` — True when a crashed rewrite left a
      staging dir; the next maintenance call (or
      :func:`~mydatasyncer_spark.operators.staging.restore`) resolves
      it. A True here with no
      maintenance scheduled is a crash nobody noticed.

    Run-compact-when contract: compact when ``duplicate_rows`` > 0
    (duplicate partials demonstrably skew merged sketch estimates —
    pinned in the compaction tests) or when ``rows_per_file`` falls
    well below the target (``files_per_billion_rows`` ⇒ ~500k
    rows/file); between drains, like every maintenance op."""

    df = spark.read.parquet(path)
    data_cols = df.columns
    # count_distinct over bare columns SKIPS any row containing a
    # NULL (SQL DISTINCT-aggregate semantics) — wrapping in a struct
    # makes it match dropDuplicates exactly, which treats NULLs as
    # equal values (an SCD2 gold store's current rows all carry
    # valid_to = NULL and must not be reported as duplicates)
    if dedupe_cols:
        distinct_rows = F.count_distinct(
            F.struct(*[F.col(c) for c in dedupe_cols])
        )
    else:
        distinct_rows = F.count_distinct(
            F.struct(*[F.col(c) for c in data_cols])
        )
    # input_file_name is non-deterministic and must be PROJECTED
    # before it can feed an aggregate
    agg = df.withColumn("_file", F.input_file_name()).agg(
        F.count(F.lit(1)).alias("_rows"),
        distinct_rows.alias("_distinct"),
        F.count_distinct(F.col("_file")).alias("_files"),
    ).collect()[0]
    rows, distinct, files = (
        int(agg["_rows"]),
        int(agg["_distinct"]),
        int(agg["_files"]),
    )
    return {
        "rows": rows,
        "duplicate_rows": rows - distinct,
        "files": files,
        "rows_per_file": rows / files if files else 0.0,
        "pending_staging": staging.pending(spark, path),
    }


def compact_minhash_index(
    spark,
    path: str,
    id_col: str = "doc_id",
    band_store_path: str | None = None,
    n_id_buckets: int | None = None,
) -> dict:
    """Compact a ``continuous_dedup`` signature index: duplicates of
    an id are bit-identical replay copies (the stream anti-joins each
    batch against the index before appending), so key-dedupe is
    lossless. ``band_store_path`` additionally REBUILDS a
    :func:`~mydatasyncer_spark.operators.dedup.minhash_band_store`
    from the compacted index under its own recorded k/band_size/
    bucket-count provenance — duplicate and orphaned band rows gone
    in one pass (the ``jaccard_compact`` prefix-store contract).
    ``n_id_buckets`` converts the index to (or re-buckets) the
    :func:`~mydatasyncer_spark.operators.dedup.id_bucketed_index`
    layout in the same single staged write, which makes the
    incremental join's estimate-side index read
    candidate-proportional; an existing bucketed layout is preserved
    when omitted (the ``jaccard_compact`` contract)."""
    from mydatasyncer_spark.operators.dedup import (
        _BAND_BS_KEY,
        _BAND_K_KEY,
        _BAND_NB_KEY,
        BAND_BUCKET_COL,
        _compact_id_index,
        minhash_band_store,
    )

    stats = _compact_id_index(spark, path, id_col, n_id_buckets)
    if band_store_path is not None:
        store = spark.read.parquet(band_store_path)
        meta = (
            store.schema["band_key"].metadata
            if "band_key" in store.columns
            else {}
        )
        bk, bs = meta.get(_BAND_K_KEY), meta.get(_BAND_BS_KEY)
        if bk is None or bs is None:
            raise ValueError(
                "band store carries no k/band_size metadata — rebuild "
                "it explicitly with minhash_band_store"
            )
        nb = meta.get(_BAND_NB_KEY)
        rebuilt = minhash_band_store(
            spark.read.parquet(path),
            id_col,
            int(bk),
            int(bs),
            int(nb) if nb is not None else None,
        )
        w = rebuilt.write.mode("overwrite")
        if nb is not None:
            w = w.partitionBy(BAND_BUCKET_COL)
        w.parquet(band_store_path)
    return stats


def compact_survivors(spark, path: str, id_col: str = "doc_id") -> dict:
    """Compact a ``continuous_dedup`` survivors table — survivors are
    written at-least-once (crash between the survivors and index
    writes replays the append); this IS the documented downstream
    reconciliation, made durable."""
    return compact_table(spark, path, dedupe_cols=[id_col])


def compact_partials(spark, path: str) -> dict:
    """Compact a ``_continuous_partials`` store (HLL / KLL / theta
    partials): rows carry their stamping batch id, so identical
    partials from DIFFERENT batches differ in that column and both
    survive — only per-task-committer duplicates collapse. Merged
    estimates are unchanged by construction."""
    return compact_table(spark, path)


def compact_ivf_index(spark, path: str, id_col: str = "neighbor_id") -> dict:
    """Compact a ``continuous_ann_index`` IVF layout, preserving the
    ``bucket`` partitioning that probe queries prune on. Key-dedupe
    by ``neighbor_id`` alone is correct ONLY under the frozen-
    centroid contract (one bucket per vector — see
    :func:`ivf_rebuild`): appending under retrained centroids
    without rebuilding could place one id in two buckets, and this
    dedupe would then drop an arbitrary one. The provenance guard on
    the index writers refuses exactly that append."""
    return compact_table(
        spark, path, dedupe_cols=[id_col], partition_by=["bucket"]
    )


def compact_lsh_index(spark, path: str, id_col: str = "neighbor_id") -> dict:
    """Compact an :func:`~mydatasyncer_spark.operators.similarity.
    lsh_index` layout (appended corpus increments), preserving the
    ``bucket`` partitioning probe queries prune on. Key-dedupe by
    ``neighbor_id`` is lossless here unconditionally: the sign-bit
    bucket is a deterministic function of the vector and the
    recorded ``(dim, n_planes)`` — there is no retrain that could
    ever place one id in two buckets (the hazard
    :func:`compact_ivf_index` documents), and the reader guard
    refuses a mixed-family store outright."""
    return compact_table(
        spark, path, dedupe_cols=[id_col], partition_by=["bucket"]
    )


def lsh_occupancy_report(
    spark,
    path: str,
    dim: int,
    candidate_planes: list[int] | None = None,
) -> dict:
    """The ``n_planes`` DECISION signal for an :func:`~mydatasyncer_
    spark.operators.similarity.lsh_index` — the LSH member of the
    decision-signal family. There is no drift here (the hyperplane
    family is deterministic, nothing trains), but the family CHOICE
    has a cost shape the operator should see: sign-bit buckets skew
    badly on correlated embeddings (real corpora), and every probe
    that lands in a hot bucket pays that bucket's size.

    Reported, from one pass per candidate over the STORED vectors
    (``cv`` — nothing is written, no store is rebuilt):

    - ``rows`` and, per candidate plane count ``p`` (default: the
      recorded count and its ±1 neighbors): ``buckets_used`` (of
      ``2**p``), ``largest_bucket_fraction``, and
      ``expected_scan`` — Σ bᵢ²/N², the expected fraction of the
      index a corpus-distributed probe reads (the same estimator as
      :func:`ivf_drift_report`). More planes always splits cost but
      trades recall (a near-pair must agree on EVERY sign bit), so
      the report shows the cost side and the caller picks the
      cheapest family whose recall their threshold tolerates.
    - ``recorded_planes`` — the store's own family, resolved from
      provenance; REFUSED when the store records none and no
      candidates are given (occupancy under a guessed family is
      meaningless).
    - ``pending_staging`` — same crashed-rewrite surface as the
      other reports.

    Changing the family means a fresh :func:`~mydatasyncer_spark.
    operators.similarity.lsh_index` build — there is no in-place
    rebuild op because, unlike IVF centroids, the family is an input
    everywhere (readers refuse a mismatch), so the switch is
    build-new-then-repoint."""

    from mydatasyncer_spark.operators.similarity import (
        _LSH_DIM_KEY,
        _LSH_PLANES_KEY,
        lsh_bucket,
    )

    idx = spark.read.parquet(path)
    meta = (
        idx.schema["neighbor_id"].metadata
        if "neighbor_id" in idx.columns
        else {}
    )
    rec_dim = meta.get(_LSH_DIM_KEY)
    if rec_dim is not None and int(rec_dim) != int(dim):
        # a wrong dim null-pads every hyperplane dot: every vector
        # degenerates to bucket 0 and the report returns plausible-
        # looking nonsense (buckets_used=1, expected_scan=1.0) — the
        # same guessed-family hazard the plane-count refusal covers,
        # and the store records the right value; refuse instead
        raise ValueError(
            f"lsh_occupancy_report: dim={int(dim)} does not match "
            f"the store's recorded dim={int(rec_dim)} — occupancy "
            "under a mismatched dimensionality is meaningless"
        )
    rec = meta.get(_LSH_PLANES_KEY)
    if candidate_planes is None:
        if rec is None:
            raise ValueError(
                "lsh_occupancy_report: the store records no plane "
                "count and no candidate_planes were given — "
                "occupancy under a guessed family is meaningless; "
                "pass candidate_planes explicitly"
            )
        candidate_planes = sorted(
            {p for p in (int(rec) - 1, int(rec), int(rec) + 1) if p >= 1}
        )
    vecs = idx.select(F.col("cv"))

    def _occ(p: int) -> dict:
        occ = _bucket_occupancy(
            vecs.select(lsh_bucket(F.col("cv"), dim, p).alias("_b"))
        )
        del occ["rows"]
        return {"n_planes": p, **occ}

    return {
        "rows": idx.count(),
        "recorded_planes": int(rec) if rec is not None else None,
        "candidates": [_occ(int(p)) for p in candidate_planes],
        "pending_staging": staging.pending(spark, path),
    }


def ivf_drift_report(
    spark,
    path: str,
    dim: int,
    n_centroids: int | None = None,
    n_iter: int = 5,
    centroids: list[list[float]] | None = None,
    train_fraction: float = 1.0,
    seed: int = 42,
) -> dict:
    """The :func:`ivf_rebuild` DECISION signal — completing the
    maintenance decision-signal family (``jaccard_drift_report`` →
    refreeze, :func:`compaction_report` → compact, this → rebuild):
    how stale the index's frozen quantizer is, as the payoff numbers
    an operator needs to decide whether a retrain-rebuild pays.

    Drift mechanics: centroids are frozen at index creation, so a
    drifting corpus piles new vectors into whichever frozen buckets
    sit nearest — probe IO concentrates (a probe-1 query reads its
    bucket's files) and quantization error grows (vectors far from
    every centroid sit near bucket boundaries, where probe-1 recall
    degrades). Correctness of what IS returned never changes; cost
    and recall do. Reported:

    - ``rows`` / ``buckets_used`` / ``largest_bucket_fraction`` —
      occupancy shape under the frozen quantizer (balanced ≈ 1/k).
    - ``expected_scan_frozen`` / ``expected_scan_retrained`` and
      their ``scan_ratio`` — Σ bᵢ²/N², the expected fraction of the
      index a corpus-distributed probe-1 query reads (probability
      bᵢ/N of landing in bucket i × fraction bᵢ/N read), under the
      CURRENT buckets vs under a LAZILY retrained quantizer (nothing
      is written). ``scan_ratio`` is the probe-IO payoff: 1.0 means
      a rebuild buys nothing; 2.0 means expected probe reads halve.
    - ``inertia_frozen`` / ``inertia_retrained`` / ``inertia_ratio``
      — the spherical-k-means objective under both quantizers
      (:func:`~mydatasyncer_spark.operators.similarity.
      kmeans_inertia`), the recall-proxy payoff.
    - ``centroids_retrained`` — the retrained quantizer itself; pass
      it to :func:`ivf_rebuild` ``centroids=`` to reuse the training
      this report already paid for.
    - ``pending_staging`` — a crashed rewrite's staging dir nobody
      restored (same surface as :func:`compaction_report`).

    Run-rebuild-when contract: rebuild when ``scan_ratio`` exceeds
    ~1.5 or ``inertia_ratio`` exceeds ~1.2, or earlier when
    ``largest_bucket_fraction`` approaches a small multiple of 1/k
    (one hot bucket makes every probe that lands there corpus-scale).
    Post-rebuild both ratios return to 1.0 — the fixpoint the tests
    pin. Cost note: the retrained leg runs the same k-means the
    rebuild would (``train_fraction`` samples it at scale), so run
    this between drains at the cadence you'd consider rebuilding,
    not per batch.

    Centroids resolve from the index's recorded values
    (:func:`~mydatasyncer_spark.operators.similarity.
    recorded_centroids` — the self-describing layout); an index
    recording none REFUSES without explicit ``centroids`` (measuring
    drift against guessed defaults would report nonsense)."""

    from mydatasyncer_spark.operators.similarity import (
        ivf_buckets,
        kmeans_centroids,
        kmeans_inertia,
        recorded_centroids,
    )

    idx = spark.read.parquet(path)
    cens = centroids or recorded_centroids(idx)
    if cens is None:
        raise ValueError(
            "ivf_drift_report: the index records no centroid values "
            "and none were passed — drift against a guessed "
            "quantizer is meaningless; pass centroids= (or "
            "ivf_rebuild first: a rebuilt index is self-describing)"
        )
    k = int(n_centroids) if n_centroids is not None else len(cens)
    vecs = idx.select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("cv").alias("embedding"),
    )

    def _occupancy(bucketed) -> tuple[int, int, int, float]:
        occ = _bucket_occupancy(bucketed)
        n = occ["rows"]
        return (
            n,
            occ["buckets_used"],
            int(round(occ["largest_bucket_fraction"] * n)) if n else 0,
            occ["expected_scan"],
        )

    rows, used, largest, scan_frozen = _occupancy(
        idx.select(F.col("bucket").cast("int").alias("_b"))
    )
    train = (
        vecs.sample(fraction=float(train_fraction), seed=seed)
        if float(train_fraction) < 1.0
        else vecs
    )
    new_cens = kmeans_centroids(train, dim, k, n_iter)
    _, _, _, scan_new = _occupancy(
        vecs.select(
            ivf_buckets(F.col("embedding"), new_cens, 1)[0].alias("_b")
        )
    )
    inertia_frozen = kmeans_inertia(vecs, cens)
    inertia_new = kmeans_inertia(vecs, new_cens)
    return {
        "rows": rows,
        "buckets_used": used,
        "largest_bucket_fraction": largest / rows if rows else 0.0,
        "expected_scan_frozen": scan_frozen,
        "expected_scan_retrained": scan_new,
        "scan_ratio": scan_frozen / scan_new if scan_new else None,
        "inertia_frozen": inertia_frozen,
        "inertia_retrained": inertia_new,
        "inertia_ratio": (
            inertia_frozen / inertia_new if inertia_new else None
        ),
        "centroids_retrained": new_cens,
        "pending_staging": staging.pending(spark, path),
    }


def ivf_rebuild(
    spark,
    path: str,
    dim: int,
    n_centroids: int = 8,
    n_iter: int = 5,
    id_col: str = "neighbor_id",
    centroids: list[list[float]] | None = None,
    train_fraction: float = 1.0,
    seed: int = 42,
) -> dict:
    """Staged retrain-and-rebuild for a bucket-partitioned IVF index
    — the embedding analogue of ``jaccard_refreeze``: the ONE
    sanctioned way to change an index's frozen centroid set.

    Centroids are frozen at index creation (a vector's bucket
    depends only on itself and the centroids — that invariant is
    what keeps continuous ingestion row-identical to a batch build).
    When drift makes them stale (WHEN: :func:`ivf_drift_report`
    measures the probe-IO and quantization payoff of rebuilding),
    this op: (1) retrains via ``kmeans_centroids`` over the STORED
    vectors (``train_fraction`` samples them first — at 100 TB train
    on a sample, reassign everything), or takes an explicit
    ``centroids`` list; (2) re-assigns every stored row's bucket
    under the new quantizer and rewrites the index through the
    crash-safe staged protocol, preserving the ``bucket``
    partitioning (and an id-bucket sub-layout, whose assignments
    retraining never moves); (3) stamps the new
    :func:`~mydatasyncer_spark.operators.similarity.
    centroid_fingerprint` into the index metadata, so every
    dependent reader — ``ivf_topk_indexed``,
    ``continuous_ann_index``, ``continuous_semantic_dedup`` — now
    REFUSES the old centroid set instead of silently probing wrong
    buckets. The rebuilt index also records the centroid VALUES
    (:func:`~mydatasyncer_spark.operators.similarity.
    recorded_centroids`, when k×dim fits the footer budget), so
    those streams and readers restarted with NO centroid config
    pick up the new quantizer from the index itself — the rebuild
    changes it in one place; explicit ``centroids=`` from this op's
    return value remains the over-budget fallback.

    Crash story: the rewrite is a SUPERSEDE
    :func:`~mydatasyncer_spark.operators.staging.write`, so a crash
    leaves the old index or a complete copy under the new quantizer,
    and the restore (run first here, and by compaction and the
    streams) adopts the copy whole — never a union of rows bucketed
    under two centroid sets. Returns ``{"rows", "centroids",
    "restored_from_staging"}``."""
    from mydatasyncer_spark.operators.dedup import (
        _id_bucket_modulus,
        id_bucketed_index,
    )
    from mydatasyncer_spark.operators.similarity import (
        ivf_index,
        kmeans_centroids,
    )

    restored = staging.restore(spark, path)
    idx = spark.read.parquet(path)
    # an id-bucket sub-layout survives the rebuild (retraining moves
    # centroid buckets, never id->bucket assignments)
    idx_nb = (
        _id_bucket_modulus(idx, id_col)
        if ID_BUCKET_COL in idx.columns
        else None
    )
    vecs = idx.select(
        F.col(id_col).alias("vec_id"), F.col("cv").alias("embedding")
    )
    if centroids is None:
        train = (
            vecs.sample(fraction=float(train_fraction), seed=seed)
            if float(train_fraction) < 1.0
            else vecs
        )
        centroids = kmeans_centroids(train, dim, n_centroids, n_iter)
    centroids = [list(map(float, cen)) for cen in centroids]
    rebuilt = ivf_index(
        vecs, dim, len(centroids), "vec_id", "embedding", centroids
    )
    if idx_nb is not None:
        rebuilt = id_bucketed_index(rebuilt, "neighbor_id", idx_nb)
    rows = staging.write(
        spark,
        rebuilt,
        path,
        staging.SUPERSEDE,
        id_bucket_layout(rebuilt.columns, ["bucket"]),
    )
    return {
        "rows": rows,
        "centroids": centroids,
        "restored_from_staging": restored,
    }


def compact_pq_index(spark, path: str, id_col: str = "neighbor_id") -> dict:
    """Compact a ``continuous_pq_index`` IVF-PQ layout, preserving
    the ``bucket`` partitioning probe queries prune on. Key-dedupe by
    ``neighbor_id`` is lossless under the frozen-quantizer contract
    (bucket AND codes are deterministic functions of the vector, the
    frozen centroids, and the frozen codebooks — the append-time
    provenance guards refuse any other append), the same argument as
    :func:`compact_ivf_index` extended to the codebook axis."""
    return compact_table(
        spark, path, dedupe_cols=[id_col], partition_by=["bucket"]
    )


def pq_drift_report(
    spark,
    path: str,
    corpus,
    dim: int,
    m: int | None = None,
    ksub: int | None = None,
    n_iter: int = 5,
    train_fraction: float = 1.0,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[list[float]]] | None = None,
    centroids: list[list[float]] | None = None,
) -> dict:
    """The :func:`pq_rebuild` DECISION signal — the PQ member of the
    decision-signal family (``jaccard_drift_report`` -> refreeze,
    :func:`ivf_drift_report` -> IVF rebuild, this -> codebook
    rebuild): how stale the store's frozen codebooks are on the
    corpus it now encodes.

    Unlike the IVF report this one needs the TRUE vectors
    (``corpus``): a PQ store holds only lossy codes, so
    reconstruction error is measurable only against the originals —
    the same reason :func:`pq_rebuild` takes the corpus. Reported:

    - ``mse_frozen`` / ``mse_retrained`` / ``mse_ratio`` — mean
      squared reconstruction error under the store's recorded books
      vs under books lazily retrained on today's corpus (nothing is
      written). ADC ranking quality degrades monotonically with
      reconstruction error (Jégou et al. 2011, §4), so the ratio is
      the recall-proxy payoff of a rebuild: 1.0 means retraining
      buys nothing.
    - ``books_retrained`` — pass to :func:`pq_rebuild` ``books=`` to
      reuse the training this report already paid for.
    - ``rows`` / ``pending_staging`` — the usual store surface.

    Run-rebuild-when contract: rebuild when ``mse_ratio`` exceeds
    ~1.3 sustained (one noisy batch is not drift); post-rebuild the
    ratio returns to ~1.0 — the fixpoint the tests pin. The store's
    books resolve from its own metadata, validated against the
    recorded fingerprint; a store recording neither values nor a
    matching fingerprint REFUSES without explicit ``books=`` (error
    against guessed books is meaningless). ``books=`` is the escape
    hatch for OVER-BUDGET stores — dim*ksub past the footer budget
    records only the fingerprint, so no rebuild can ever make such a
    store value-self-describing; pass the books the store was encoded
    with (the :func:`~mydatasyncer_spark.operators.similarity.
    pq_adc_topk` contract — a wrong set is refused by fingerprint)."""

    from mydatasyncer_spark.operators.similarity import (
        _check_ivf_provenance,
        _resolve_codebooks,
        ivf_residuals,
        pq_quantization_error,
        pq_train,
        recorded_centroids,
        recorded_pq_residual,
    )

    store = spark.read.parquet(path)
    books = _resolve_codebooks(
        store,
        dim,
        m or 0,
        ksub or 0,
        books,
        "pq_drift_report",
    )
    m = m or len(books)
    ksub = ksub or len(books[0])
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    if recorded_pq_residual(store):
        # an IVFADC store quantizes residuals, so reconstruction
        # error is only meaningful over residuals under the store's
        # OWN coarse quantizer. centroids= is the over-budget escape
        # hatch (k×dim past the footer budget records only the
        # fingerprint, and NO rebuild can change that — the books=
        # situation, on the coarse axis); a wrong explicit set is
        # refused via the recorded fingerprint.
        cens = centroids or recorded_centroids(store)
        if cens is None:
            raise ValueError(
                "pq_drift_report: the residual store records no "
                "centroid values and none were passed — residuals "
                "under a guessed coarse quantizer measure nothing; "
                "pass centroids= (the set the store was bucketed "
                "under — the recorded fingerprint guards it)"
            )
        _check_ivf_provenance(store, cens, "pq_drift_report")
        vecs = ivf_residuals(vecs, cens)
    train = (
        vecs.sample(fraction=float(train_fraction), seed=seed)
        if float(train_fraction) < 1.0
        else vecs
    )
    new_books = pq_train(train, dim, m, ksub, n_iter)
    mse_frozen = pq_quantization_error(vecs, books, "embedding")
    mse_new = pq_quantization_error(vecs, new_books, "embedding")
    return {
        "rows": store.count(),
        "mse_frozen": mse_frozen,
        "mse_retrained": mse_new,
        "mse_ratio": mse_frozen / mse_new if mse_new else None,
        "books_retrained": new_books,
        "pending_staging": staging.pending(spark, path),
    }


def pq_rebuild(
    spark,
    path: str,
    corpus,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[list[float]]] | None = None,
    centroids: list[list[float]] | None = None,
    train_fraction: float = 1.0,
    seed: int = 42,
) -> dict:
    """Staged retrain-and-re-encode for a bucket-partitioned IVF-PQ
    store — the codebook twin of :func:`ivf_rebuild`, and the ONE
    sanctioned way to change a PQ store's frozen codebooks.

    The one structural difference from :func:`ivf_rebuild`: a PQ
    store CANNOT rebuild from itself — it holds lossy codes, not
    vectors — so the TRUE corpus is a required input and the rebuild
    re-encodes it from scratch (at 100 TB that is one corpus pass:
    exactly what any re-encode costs, and why
    :func:`pq_drift_report` exists to decide whether it pays).
    Books retrain via :func:`~mydatasyncer_spark.operators.
    similarity.pq_train` over ``train_fraction`` of the corpus (or
    take the report's ``books_retrained``); the coarse centroids are
    kept from the store's own metadata unless explicitly replaced
    (retraining THEM is :func:`ivf_rebuild`'s job — the two
    quantizers drift and rebuild independently).

    Crash story: the :func:`ivf_rebuild` one — a SUPERSEDE staged
    write, restored first here. The rebuilt store stamps BOTH new
    fingerprints, so every dependent reader/stream refuses
    stale-books probes from that moment. Returns ``{"rows", "books",
    "centroids", "restored_from_staging"}``."""
    from mydatasyncer_spark.operators.similarity import (
        ivf_residuals,
        pq_index,
        pq_train,
        recorded_centroids,
        recorded_pq_residual,
    )

    from mydatasyncer_spark.operators.dedup import (
        _id_bucket_modulus,
        id_bucketed_index,
    )

    restored = staging.restore(spark, path)
    store = spark.read.parquet(path)
    # the IVFADC residual construction survives the rebuild: books
    # retrain over residuals under the (possibly replaced) coarse
    # quantizer and the rebuilt store re-stamps the flag
    was_residual = recorded_pq_residual(store)
    # an id-bucket sub-layout survives the rebuild (retraining moves
    # codes and centroid buckets, never id->bucket assignments) —
    # the ivf_rebuild contract
    idx_nb = (
        _id_bucket_modulus(store, "neighbor_id")
        if ID_BUCKET_COL in store.columns
        else None
    )
    if centroids is None:
        centroids = recorded_centroids(store)
        if centroids is None:
            raise ValueError(
                "pq_rebuild: the store records no centroid values and "
                "none were passed — re-bucketing under guessed "
                "centroids would scatter rows where probes never "
                "look; pass centroids="
            )
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    if books is None:
        train = (
            vecs.sample(fraction=float(train_fraction), seed=seed)
            if float(train_fraction) < 1.0
            else vecs
        )
        if was_residual:
            train = ivf_residuals(train, centroids)
        books = pq_train(train, dim, m, ksub, n_iter)
    books = [
        [list(map(float, cen)) for cen in book] for book in books
    ]
    centroids = [list(map(float, cen)) for cen in centroids]
    rebuilt = pq_index(
        vecs,
        dim,
        m=len(books),
        ksub=len(books[0]),
        n_centroids=len(centroids),
        id_col="vec_id",
        vec_col="embedding",
        books=books,
        centroids=centroids,
        residual=was_residual,
    )
    if idx_nb is not None:
        rebuilt = id_bucketed_index(rebuilt, "neighbor_id", idx_nb)
    rows = staging.write(
        spark,
        rebuilt,
        path,
        staging.SUPERSEDE,
        id_bucket_layout(rebuilt.columns, ["bucket"]),
    )
    return {
        "rows": rows,
        "books": books,
        "centroids": centroids,
        "restored_from_staging": restored,
    }


def band_occupancy_report(
    spark,
    path: str,
    candidate_buckets: list[int] | None = None,
) -> dict:
    """The MinHash band store's member of the decision-signal family
    (``lsh_occupancy_report``'s shape, for
    :func:`~mydatasyncer_spark.operators.dedup.minhash_band_store`):
    two independent cost axes an operator tunes, measured from one
    pass each over the STORED rows — nothing is written.

    **Axis 1 — the bucket modulus** (``n_band_buckets``): per
    candidate modulus ``p`` (default: the recorded one and its
    2x/half neighbors), ``buckets_used`` (of ``p``),
    ``largest_bucket_fraction``, and ``expected_scan`` — Σ bᵢ²/N²,
    the expected fraction of the store a store-distributed probe
    band reads (the family estimator). More buckets always splits
    IO but widens the per-ingest IN list and shrinks files; the
    report shows the curve, the caller picks the knee, and changing
    the modulus is a ``compact_minhash_index(band_store_path=...,
    n_band_buckets=...)`` rebuild away.

    **Axis 2 — the banding scheme** (``k``/``band_size``), which no
    modulus can fix: ``collision_pairs`` — Σ C(c,2) over distinct
    ``(band, band_key)`` groups, the EXACT number of candidate pairs
    a full self-probe would generate (the verification-stage cost) —
    and ``largest_band_key_fraction`` (one hot band key makes every
    probe that collides there pay that group's size). A
    collision-heavy store wants a larger ``band_size`` (fewer, more
    selective collisions — recall trades down); that change is a
    fresh :func:`~mydatasyncer_spark.operators.dedup.
    minhash_band_store` build under the new scheme, which readers
    then enforce via the recorded provenance.

    ``recorded`` carries the store's own ``(k, band_size,
    n_band_buckets)`` from ``band_key`` metadata; a store recording
    no modulus REFUSES modulus candidates it wasn't given (occupancy
    under a guessed modulus is meaningless — the lsh-report
    contract). ``pending_staging`` surfaces a crashed rewrite."""

    from mydatasyncer_spark.operators.dedup import (
        _BAND_BS_KEY,
        _BAND_K_KEY,
        _BAND_NB_KEY,
    )

    store = spark.read.parquet(path)
    meta = (
        store.schema["band_key"].metadata
        if "band_key" in store.columns
        else {}
    )
    rec_nb = meta.get(_BAND_NB_KEY)
    if candidate_buckets is None:
        if rec_nb is None:
            raise ValueError(
                "band_occupancy_report: the store records no bucket "
                "count and no candidate_buckets were given — "
                "occupancy under a guessed modulus is meaningless; "
                "pass candidate_buckets explicitly"
            )
        nb = int(rec_nb)
        candidate_buckets = sorted(
            {p for p in (max(1, nb // 2), nb, nb * 2)}
        )

    def _occ(p: int) -> dict:
        occ = _bucket_occupancy(
            store.select(
                F.pmod(
                    F.xxhash64("band", "band_key"), F.lit(int(p))
                ).alias("_b")
            )
        )
        del occ["rows"]
        return {"n_band_buckets": int(p), **occ}

    coll = (
        store.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.coalesce(F.sum("_c"), F.lit(0)).alias("_n"),
            F.coalesce(
                F.sum(F.col("_c") * (F.col("_c") - 1) / 2), F.lit(0)
            ).alias("_pairs"),
            F.coalesce(F.max("_c"), F.lit(0)).alias("_max"),
        )
        .collect()[0]
    )
    n_rows = int(coll["_n"])
    return {
        "rows": n_rows,
        "recorded": {
            "k": int(meta[_BAND_K_KEY]) if _BAND_K_KEY in meta else None,
            "band_size": (
                int(meta[_BAND_BS_KEY]) if _BAND_BS_KEY in meta else None
            ),
            "n_band_buckets": int(rec_nb) if rec_nb is not None else None,
        },
        "collision_pairs": int(coll["_pairs"]),
        "largest_band_key_fraction": (
            int(coll["_max"]) / n_rows if n_rows else 0.0
        ),
        "candidates": [_occ(int(p)) for p in candidate_buckets],
        "pending_staging": staging.pending(spark, path),
    }


def containment_occupancy_report(
    spark,
    path: str,
    candidate_buckets: list[int] | None = None,
) -> dict:
    """The containment inverted store's member of the
    decision-signal family — the same two axes as
    :func:`band_occupancy_report`, on posting rows:

    **Axis 1 — the token-bucket modulus** (``n_token_buckets``):
    per candidate ``p``, bucket occupancy and the Σ bᵢ²/N² expected
    scan fraction under ``xxhash64(_ptok) % p`` — the probe-side
    cost of the explicit-IN pruned scan. Change it by rebuilding the
    store (``jaccard_compact`` rebuilds it alongside the index).

    **Axis 2 — token-df skew**, which no modulus can fix: the
    candidate join keys on the token, so every probe prefix row
    carrying token t joins df(t) posting rows.
    ``largest_token_fraction`` (max df / N) exposes the stop-word
    shape; ``candidate_rows_per_probe_token`` — Σ df²/N, the
    expected posting rows ONE probe token drawn
    postings-proportionally joins — is the candidate-stage cost a
    drifting (stopword-accreting) corpus inflates. There is no df
    cutoff to tune here (containment exactness needs every token);
    the lever this signal points at is the PROBE side's token order
    and threshold (rarest-first prefixes shrink with higher
    thresholds), or upstream tokenization.

    The store must be a genuine full-explosion containment store
    (``_CONTAIN_FULL_KEY``): a prefix store reports fictitious dfs
    and is REFUSED — the same structural-shape hazard
    :func:`~mydatasyncer_spark.operators.dedup.containment_join`
    guards."""

    from mydatasyncer_spark.operators.dedup import (
        _CONTAIN_FULL_KEY,
        _CONTAIN_NB_KEY,
    )

    store = spark.read.parquet(path)
    meta = (
        store.schema["_ptok"].metadata
        if "_ptok" in store.columns
        else {}
    )
    if not meta.get(_CONTAIN_FULL_KEY):
        raise ValueError(
            "containment_occupancy_report: the frame does not record "
            "the full-explosion marker — a prefix store (or a "
            "metadata-stripped frame) reports fictitious token "
            "frequencies; rebuild via containment_inverted_store"
        )
    rec_nb = meta.get(_CONTAIN_NB_KEY)
    if candidate_buckets is None:
        if rec_nb is None:
            raise ValueError(
                "containment_occupancy_report: the store records no "
                "bucket count and no candidate_buckets were given — "
                "occupancy under a guessed modulus is meaningless; "
                "pass candidate_buckets explicitly"
            )
        nb = int(rec_nb)
        candidate_buckets = sorted(
            {p for p in (max(1, nb // 2), nb, nb * 2)}
        )

    def _occ(p: int) -> dict:
        occ = _bucket_occupancy(
            store.select(
                F.pmod(F.xxhash64("_ptok"), F.lit(int(p))).alias("_b")
            )
        )
        del occ["rows"]
        return {"n_token_buckets": int(p), **occ}

    df_stats = (
        store.groupBy("_ptok")
        .agg(F.count(F.lit(1)).alias("_df"))
        .agg(
            F.coalesce(F.sum("_df"), F.lit(0)).alias("_n"),
            F.coalesce(
                F.sum(F.col("_df") * F.col("_df")), F.lit(0)
            ).alias("_sq"),
            F.count(F.lit(1)).alias("_toks"),
            F.coalesce(F.max("_df"), F.lit(0)).alias("_max"),
        )
        .collect()[0]
    )
    n_rows = int(df_stats["_n"])
    return {
        "rows": n_rows,
        "distinct_tokens": int(df_stats["_toks"]),
        "recorded_buckets": int(rec_nb) if rec_nb is not None else None,
        "largest_token_fraction": (
            int(df_stats["_max"]) / n_rows if n_rows else 0.0
        ),
        "candidate_rows_per_probe_token": (
            float(df_stats["_sq"]) / n_rows if n_rows else 0.0
        ),
        "candidates": [_occ(int(p)) for p in candidate_buckets],
        "pending_staging": staging.pending(spark, path),
    }


def compact_content_keys(spark, path: str) -> dict:
    """Compact a ``continuous_curation`` content-key store. Keys
    append at-least-once by contract (they are written LAST, after
    the survivor/index writes, so replays re-append), which makes
    key-dedupe by ``_ckey`` lossless — duplicates of a key are
    bit-identical ``(key, first-processor id)`` rows except when a
    replay raced a different id to the same content, where EITHER
    row serves the anti-join equally. Preserves the
    ``_ckey_bucket`` partitioning the stream's explicit-IN pruning
    reads."""
    from mydatasyncer_spark.streaming.continuous import (
        _CKEY_BUCKET_COL,
    )

    return compact_table(
        spark,
        path,
        dedupe_cols=["_ckey"],
        partition_by=[_CKEY_BUCKET_COL],
    )
