"""Deduplication operators for training-data pipelines (SURVEY.md §7 M4).

Five strategies, each designed for the 100 TB shape of the problem:

- **exact** — hash-groupBy on a normalization fingerprint: one
  shuffle on the hash key, map-side partial aggregation; survivors
  picked deterministically (min id).
- **MinHash + LSH** — shingle → k seeded min-hashes → band buckets →
  bucket-join. The O(n²) pair space collapses to per-bucket joins;
  the band join is an equi-join Spark shuffles by bucket key, so
  skew is bounded by bucket size, not corpus size.
- **SimHash** — 16-bit signature from token-hash bit votes; one
  explode + one groupBy per corpus pass. Candidate pairs share a
  signature (hamming-0 buckets; at scale, index rotations catch
  hamming ≤ k).
- **n-gram Jaccard** — exact verification measure; used standalone
  over blocked pairs.
- **embedding cosine** — near-dup by cosine over an embedding
  column, blocked (here by label; at scale by coarse quantizer /
  LSH bucket) to avoid the full cross-join.

Everything is expressed with built-in array/higher-order functions —
no Python UDFs — and every hash routes through the cross-engine
``hash48`` family so DuckDB oracles reproduce results exactly.

Pin contract (every eager ``localCheckpoint`` in this module): the
pinned frame is a DERIVED intermediate built and consumed inside ONE
query — blocks are executor-local, NOT replicated, and have no
lineage to recompute from, so an executor loss mid-query fails the
job with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` and the caller re-runs
it from the parquet source (acceptable: nothing durable depends on
the pin; streaming-standing state lives in persisted stores instead,
see streaming/continuous.py). Each site notes its size bound; any pin
that can be corpus-sized also names the persisted store that replaces
it as the standing 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mydatasyncer_spark.functions.hashing import seeded_hash48
from mydatasyncer_spark.operators.text import (
    char_shingles,
    normalize_text,
    tokens,
)

from mydatasyncer_spark.operators import staging
from mydatasyncer_spark.operators.partitioning import (
    fanout_repartition as _fanout_repartition,
)

MINHASH_K = 16
LSH_BAND_SIZE = 4  # 16 hashes -> 4 bands of 4
SIMHASH_BITS = 16


# ------------------------------------------------------------------ exact


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized text: groups by full md5 and keeps
    the smallest id per group (deterministic survivor)."""
    key = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(F.col(id_col), key)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Only the groups that actually contain duplicates."""
    return exact_dedup(df, text_col, id_col).filter(F.col("group_size") > 1)


# ---------------------------------------------------------------- minhash


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    shingle_n: int = 5,
) -> DataFrame:
    """id → k min-hash columns ``mh0..mh{k-1}``.

    Entirely per-row: shingling, hashing, and the k permutation
    minima run as higher-order array functions inside one projection
    — no explode, no groupBy, no shuffle beyond the parallelism
    repartition. The explode+groupBy formulation materializes
    ~|shingles| rows per document and aggregates them back; the array
    form keeps each document a single row end-to-end, which is both
    faster (measured 0.73s → 0.47s at sf0.1) and strictly less
    shuffle-prone at scale. The parallelism repartition happens while
    each row is still one small (id, normalized-text) pair — without
    it, parallelism is tied to the input's split count (a single
    small parquet = one core doing all the hashing).

    Each step is projected so the next lambda references a real
    attribute — see char_shingles's lambda-re-evaluation note.
    """
    from mydatasyncer_spark.functions.hashing import hash48, permuted_hash

    norm_docs = _fanout_repartition(
        df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("_norm")),
        id_col,
    )
    sh = norm_docs.select(
        F.col(id_col), char_shingles(F.col("_norm"), shingle_n).alias("_sh")
    )
    hashes = sh.select(
        id_col, F.transform("_sh", lambda s: hash48(s)).alias("_h")
    )

    def _mh(seed: int) -> Column:
        # single-arg lambda only: pyspark reads a second lambda
        # parameter as the ARRAY INDEX, silently shadowing any
        # default-bound seed
        return F.array_min(
            F.transform("_h", lambda h: permuted_hash(h, seed))
        ).alias(f"mh{seed}")

    return hashes.select(id_col, *[_mh(s) for s in range(k)])


def lsh_bands(
    signatures: DataFrame,
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    band_size: int = LSH_BAND_SIZE,
) -> DataFrame:
    """Signature → (band index, band key) rows for bucket joining."""
    n_bands = k // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh{b * band_size + i}") for i in range(band_size)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("band_key"),
            )
        )
    return signatures.select(
        id_col, F.explode(F.array(*bands)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    band_size: int = LSH_BAND_SIZE,
    shingle_n: int = 5,
    eager: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band,
    with their estimated Jaccard (fraction of matching min-hashes).

    Two shuffles total past the signature build: the per-(band,
    band_key) self-join, and the across-band pair dedup. The full
    signature rides the band rows as one array column (k·8 bytes), so
    estimated Jaccard is a ``zip_with`` fold computed inline — no
    signature re-join, no separate distinct (the dedup groupBy does
    it). The previous join-back formulation spent 4 shuffles on the
    verification leg alone; dropping them took the sf0.1 wall from
    ~5s to ~2.5s, and at scale removes two corpus-sized exchanges.
    """
    # cached: the signature table feeds both sides of the band
    # self-join. The cache is owned by this function: the result is
    # materialized (localCheckpoint) before sig is unpersisted in the
    # finally, so repeated calls don't leak cached partitions.
    sig = minhash_signature(df, text_col, id_col, k, shingle_n).persist()
    try:
        banded = _banded_with_sig(sig, id_col, k, band_size)
        a, b = banded.alias("a"), banded.alias("b")
        scored = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _est_jaccard(k),
        )
        # across-band dedup; est_jaccard is identical on every copy of
        # a pair, so min() is just "pick the value"
        out = scored.groupBy("id_a", "id_b").agg(
            F.min("est_jaccard").alias("est_jaccard")
        )
        # eager: pairs are tiny relative to the corpus; materializing
        # here lets the signature cache be released deterministically.
        # eager=False keeps the lazy plan (and the signature cache
        # alive!) — for plan inspection only.
        return out.localCheckpoint() if eager else out
    finally:
        if eager:
            sig.unpersist()


def _banded_with_sig(
    sig: DataFrame, id_col: str, k: int, band_size: int
) -> DataFrame:
    """(id, full signature array, band, band_key) rows — the join-ready
    form of a signature table. Shared by the batch self-join and the
    incremental new-vs-index join."""
    n_bands = k // band_size
    band_structs = []
    for bi in range(n_bands):
        cols = [F.col(f"mh{bi * band_size + i}") for i in range(band_size)]
        band_structs.append(
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("band_key"),
            )
        )
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh{s}") for s in range(k)]).alias("_sig"),
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select(
        id_col,
        "_sig",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def _est_jaccard(k: int) -> Column:
    return F.round(
        F.aggregate(
            F.zip_with(
                F.col("a._sig"),
                F.col("b._sig"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(k)),
        6,
    ).alias("est_jaccard")


def _store_candidates_scored(
    sig_new: DataFrame,
    corpus_signatures: DataFrame,
    corpus_bands: DataFrame,
    id_col: str,
    k: int,
    band_size: int,
    n_band_buckets: int | None,
    broadcast_batch: bool,
) -> DataFrame:
    """new-vs-corpus candidates from a persisted
    :func:`minhash_band_store` (narrow rows, bucket-keyed join for
    DPP), scored by rejoining both sides' signature tables by id —
    the corpus side semi-pruned to candidate ids first, so the
    signature index never shuffles. Provenance guards fail fast on
    any mismatch that would silently change the band scheme."""
    meta = (
        corpus_bands.schema["band_key"].metadata
        if "band_key" in corpus_bands.columns
        else {}
    )
    for key, val, what in (
        (_BAND_K_KEY, k, "k"),
        (_BAND_BS_KEY, band_size, "band_size"),
    ):
        rec = meta.get(key)
        if rec is not None and int(rec) != int(val):
            raise ValueError(
                f"corpus_bands was built with {what}={int(rec)}; "
                f"joining with {what}={int(val)} produces "
                "incomparable band keys — rebuild the store or match "
                "the parameters"
            )
    bucketed = BAND_BUCKET_COL in corpus_bands.columns
    bn = lsh_bands(sig_new, id_col, k, band_size)
    if bucketed:
        nb_meta = meta.get(_BAND_NB_KEY)
        if n_band_buckets is None:
            n_band_buckets = nb_meta
        elif nb_meta is not None and int(nb_meta) != int(n_band_buckets):
            raise ValueError(
                f"corpus_bands was written with {int(nb_meta)} band "
                f"buckets; n_band_buckets={int(n_band_buckets)} would "
                "silently miss pairs"
            )
        if n_band_buckets is None:
            raise ValueError(
                "a bucketed corpus_bands needs n_band_buckets (the "
                "bucket count the store was written with)"
            )
        bn = bn.withColumn(
            BAND_BUCKET_COL,
            F.pmod(
                F.xxhash64("band", "band_key"),
                F.lit(int(n_band_buckets)),
            ),
        )
        # STATIC partition pruning: the batch's touched buckets are a
        # bounded driver list (≤ n_band_buckets values, from the
        # already-persisted batch signatures), and an explicit IN on
        # the partition column prunes directories at PLANNING time —
        # guaranteed, visible as PartitionFilters in the scan, and
        # independent of the optimizer's DPP selectivity heuristics
        # (which pass on this probe side: a banded batch is a pure
        # projection with no filter Spark deems selective)
        touched = [
            r[0]
            for r in bn.select(BAND_BUCKET_COL).distinct().collect()
        ]
        corpus_bands = corpus_bands.filter(
            F.col(BAND_BUCKET_COL).isin(touched)
        )
    # side-rename both frames: the two may derive from the SAME base
    # scan (store built inline over the corpus source), where
    # df[col]-style cross-references are ambiguous self-join refs
    side_cols = ["band", "band_key"] + ([BAND_BUCKET_COL] if bucketed else [])

    def _side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"_id_{tag}"),
            *[F.col(c).alias(f"_{c}_{tag}") for c in side_cols],
        )

    bn = _side(bn, "a")
    cb = _side(corpus_bands, "b")
    if broadcast_batch:
        bn = F.broadcast(bn)
    cond = F.lit(True)
    for c in side_cols:
        cond = cond & (F.col(f"_{c}_a") == F.col(f"_{c}_b"))
    cond = cond & (F.col("_id_a") != F.col("_id_b"))
    cand = (
        bn.join(cb, cond)
        .select(
            F.col("_id_a").alias("id_a"), F.col("_id_b").alias("id_b")
        )
        .distinct()
    )
    sig_cols = [F.col(f"mh{s}") for s in range(k)]
    sa = sig_new.select(
        F.col(id_col).alias("id_a"), F.array(*sig_cols).alias("_sa")
    )
    if ID_BUCKET_COL in corpus_signatures.columns:
        # id-bucketed signature index: materialize the (batch-sized)
        # candidate set once, then statically prune the estimate-side
        # index scan to the candidate ids' bucket directories — the
        # _verify_pairs contract applied to the signature rejoin
        cand = cand.localCheckpoint(eager=True)
        corpus_signatures = _prune_to_id_buckets(
            corpus_signatures,
            cand.select(F.col("id_b").alias(id_col)),
            id_col,
        )
    ids_b = cand.select(F.col("id_b").alias(id_col)).distinct()
    if broadcast_batch:
        ids_b = F.broadcast(ids_b)
    sb = (
        corpus_signatures.join(ids_b, id_col, "left_semi")
        .select(F.col(id_col).alias("id_b"), F.array(*sig_cols).alias("_sb"))
    )
    if broadcast_batch:
        sa = F.broadcast(sa)
    est = F.round(
        F.aggregate(
            F.zip_with(
                F.col("_sa"),
                F.col("_sb"),
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(k)),
        6,
    ).alias("est_jaccard")
    return cand.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", est
    )


#: partition column of a bucketed MinHash band store (not data)
BAND_BUCKET_COL = "_band_bucket"
#: metadata keys carrying a band store's provenance on ``band_key``
_BAND_NB_KEY = "minhash_band_buckets"
_BAND_K_KEY = "minhash_band_k"
_BAND_BS_KEY = "minhash_band_size"


def minhash_band_store(
    corpus_signatures: DataFrame,
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    band_size: int = LSH_BAND_SIZE,
    n_band_buckets: int | None = None,
) -> DataFrame:
    """Materializable corpus BAND rows ``(id, band, band_key)`` for
    :func:`minhash_lsh_pairs_incremental` — the MinHash analogue of
    :func:`jaccard_prefix_store` / :func:`containment_inverted_store`,
    completing the pattern across all three incremental ingest
    families: write this frame ``partitionBy(BAND_BUCKET_COL)`` (pass
    ``n_band_buckets``) and hand the read-back frame to the join as
    ``corpus_bands``. The candidate join then also keys on the band
    bucket AND statically prunes the store scan to the batch's
    touched-bucket list (a bounded ≤ ``n_band_buckets`` driver
    collect — explicit IN on the partition column, so the pruning is
    planning-time-guaranteed rather than left to the optimizer's DPP
    selectivity heuristics) — per-ingest corpus band IO ∝ the
    batch's band keys, not corpus size (without it every ingest
    scans and explodes the whole signature index).

    Rows are NARROW (no signature arrays — the prefix-store trade,
    same rationale as ``_prefix_rows``): estimated Jaccard is
    verified by joining BOTH candidate sides back to their signature
    tables by id, the corpus side semi-pruned to candidate ids first,
    so the store stays ~n_bands small rows per doc instead of
    carrying k hashes on each.

    Provenance rides ``band_key`` column metadata and is
    fail-fast-guarded at join time: ``k`` and ``band_size`` (a store
    banded under a different scheme produces incomparable keys —
    silently zero or garbage candidates) and the bucket count (a
    wrong modulus silently drops true band collisions). Maintain
    like the other stores: append each ingested batch's own band
    rows; rebuild via ``operators/maintenance.compact_minhash_index
    (band_store_path=...)``."""
    rows = lsh_bands(corpus_signatures, id_col, k, band_size)
    meta: dict = {_BAND_K_KEY: int(k), _BAND_BS_KEY: int(band_size)}
    if n_band_buckets is not None:
        meta[_BAND_NB_KEY] = int(n_band_buckets)
    rows = rows.withColumn(
        "band_key", F.col("band_key").alias("band_key", metadata=meta)
    )
    if n_band_buckets is not None:
        rows = rows.withColumn(
            BAND_BUCKET_COL,
            F.pmod(
                F.xxhash64("band", "band_key"),
                F.lit(int(n_band_buckets)),
            ),
        )
    return rows


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    corpus_signatures: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    band_size: int = LSH_BAND_SIZE,
    shingle_n: int = 5,
    include_new_pairs: bool = True,
    eager: bool = True,
    corpus_bands: DataFrame | None = None,
    n_band_buckets: int | None = None,
    broadcast_batch: bool | None = None,
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs for a NEW document batch against an
    existing corpus signature index — the daily-ingest shape.

    ``new_signatures`` (r14, optional) short-circuits the internal
    :func:`minhash_signature` pass over ``new_df`` with a
    caller-supplied signature frame for EXACTLY the batch rows (same
    ``k``/``shingle_n`` — signatures are row-local, so
    ``minhash_signature(all).filter(batch_predicate)`` is
    bit-identical to ``minhash_signature(batch)``). Callers that
    already hold signatures for a superset of the batch (e.g. one
    signature pass over the whole snapshot split into corpus + batch
    halves) avoid hashing the batch text twice. The caller owns the
    frame's lifecycle (no persist/unpersist is done on it here).

    ``corpus_signatures`` is :func:`minhash_signature` output,
    typically written once and stored (the "index": k small ints per
    document — ~128 bytes/doc, reusable every ingest). This joins the
    new batch's bands against the index's bands plus (optionally) a
    new-vs-new self-join, so per-ingest cost scales with
    |batch| × bucket-collisions, never corpus × corpus. The corpus
    side is banded by pure projection over the stored index — corpus
    text is NOT re-shingled, and corpus-vs-corpus pairs are never
    formed.

    Output matches :func:`minhash_lsh_pairs`: ``(id_a, id_b,
    est_jaccard)``. New-vs-corpus pairs carry the new id in ``id_a``;
    new-vs-new pairs are ordered ``id_a < id_b``. An id present on
    both sides (re-ingest of an indexed doc) never pairs with itself.

    After pruning, append the batch's signatures to the index so the
    next ingest sees them.

    The 100 TB standing-pipeline path adds ``corpus_bands``: a
    persisted :func:`minhash_band_store` read back from a
    ``partitionBy(BAND_BUCKET_COL)`` layout. The batch's band rows
    then bucket with the store's recorded modulus, the store scan is
    statically pruned to the batch's touched-bucket list (bounded
    driver collect, explicit IN on the partition column), and the
    candidate join keys on the bucket too — per-ingest corpus IO ∝
    the batch's bands, and the signature index is touched only
    semi-pruned to candidate ids for the estimate.
    ``corpus_signatures`` stays required alongside it (the estimate
    needs the indexed hashes). Provenance guards refuse a store
    banded under a different ``k``/``band_size`` or bucket modulus
    instead of silently missing pairs. ``broadcast_batch`` (default:
    on exactly when ``corpus_bands`` is given) broadcast-hints the
    batch-derived sides, keeping the corpus exchange-free and
    DPP-eligible.
    """
    if broadcast_batch is None:
        broadcast_batch = corpus_bands is not None
    owns_sig = new_signatures is None
    if owns_sig:
        sig_new = minhash_signature(
            new_df, text_col, id_col, k, shingle_n
        ).persist()
    else:
        sig_new = new_signatures
    try:
        banded_new = _banded_with_sig(sig_new, id_col, k, band_size)
        if corpus_bands is not None:
            vs_corpus = _store_candidates_scored(
                sig_new,
                corpus_signatures,
                corpus_bands,
                id_col,
                k,
                band_size,
                n_band_buckets,
                broadcast_batch,
            )
        else:
            banded_idx = _banded_with_sig(
                corpus_signatures, id_col, k, band_size
            )
            a, b = banded_new.alias("a"), banded_idx.alias("b")
            vs_corpus = a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
            ).select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                _est_jaccard(k),
            )
        scored = vs_corpus
        if include_new_pairs:
            a2, b2 = banded_new.alias("a"), banded_new.alias("b")
            vs_new = a2.join(
                b2,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            ).select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                _est_jaccard(k),
            )
            scored = vs_corpus.unionByName(vs_new)
        out = scored.groupBy("id_a", "id_b").agg(
            F.min("est_jaccard").alias("est_jaccard")
        )
        return out.localCheckpoint() if eager else out
    finally:
        if eager and owns_sig:
            sig_new.unpersist()


def _clusters_single_task(
    pair_df: DataFrame, id_a: str, id_b: str
) -> DataFrame:
    """Small-graph fast path: union-find over all pairs in ONE task.

    The pair graph of a dedup run is orders of magnitude smaller than
    the corpus (only near-dup pairs survive), and below the caller's
    threshold it fits trivially in a single task's memory — where
    union-find with union-by-min + path compression computes the
    exact same min-label components as the iterative path in one job
    instead of ~5 (measured: ~3.6s → ~0.4s at sf0.1). Arrow-batched
    ``mapInPandas``, not a driver collect: the driver never holds the
    edges, and the task is as spillable as any other."""
    import pandas as pd

    def uf(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["src"].values, pdf["dst"].values):
                a, b = int(a), int(b)
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union-by-min: the root IS the component minimum
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        nodes = sorted(parent)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(nodes, dtype="int64"),
                "cluster_id": pd.Series(
                    [find(n) for n in nodes], dtype="int64"
                ),
            }
        )

    edges = pair_df.select(
        F.col(id_a).cast("long").alias("src"),
        F.col(id_b).cast("long").alias("dst"),
    ).coalesce(1)
    return edges.mapInPandas(uf, "doc_id long, cluster_id long")


def dedup_clusters(
    pair_df: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    single_task_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id)
    where cluster_id = the minimum doc id transitively reachable.
    Turns pairwise match output (MinHash/SimHash/embedding) into the
    keep-one-per-cluster decision a dedup pipeline actually needs.

    Pair graphs at or below ``single_task_threshold`` pairs (~16 MB
    of long pairs at the default 1M) take the
    :func:`_clusters_single_task` union-find path — one job, exact
    same labels (pytest-pinned equivalence). Above it, iterative
    min-label propagation with POINTER DOUBLING: each step
    takes the min over neighbors' labels, then additionally adopts the
    label of the current label (label-of-label contraction), which
    collapses chains exponentially. On small graphs the loop cost is
    driver-coordination overhead (plan + job scheduling), not compute,
    so the structure minimizes jobs and shuffles per step:

    - **self-loops**: every node carries an (id, id) edge, so the
      neighbor-min aggregate already includes the node's own label —
      no separate labels-side join to re-attach it. Self-loop (and
      any other) edge duplicates are harmless under min-aggregation,
      so the edge build needs NO distinct: one repartition shuffle
      total, persisted in the layout the per-step join wants.
    - **labels from the edge cache**: the initial label table is the
      distinct self-loop subset of the cached edges — a cache scan,
      not a second pass over ``pair_df``.
    - **sized width**: the label/edge tables are pair-graph-sized —
      orders of magnitude smaller than the corpus — so the loop runs
      on ``ceil(4·|pairs| / 200k)`` partitions (floor 4, cap 4×
      cluster parallelism) instead of the session shuffle width; on
      small graphs this halves step wall time, at scale the
      bytes-based term dominates and width grows with the data.
    - **two steps per job**: convergence is checked every second
      step, halving checkpoint+action count; the worst case wastes
      one already-converged propagation.
    - **sum-convergence**: per-node labels only ever decrease, so the
      label sum strictly decreases until the fixed point; equality of
      consecutive sums == convergence. The sum is a cheap scan of the
      just-checkpointed round (~80ms) — no extra join, no chg column.

    Labels are localCheckpoint'ed per job so lineage stays flat.
    Only nodes that appear in some pair are labeled (singletons are
    their own trivial cluster)."""
    from mydatasyncer_spark.operators.partitioning import cluster_parallelism

    # width heuristic from one count of the (small, typically already
    # materialized) pair table: n_edges <= 4 * n_pairs after
    # symmetrize + self-loops. Callers should hand in a materialized
    # pair_df (minhash_lsh_pairs returns a checkpointed one) — the
    # pair plan is re-scanned a handful of times below.
    from pyspark.sql import types as T

    integral = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    n_pairs = pair_df.count()
    if n_pairs <= single_task_threshold and isinstance(
        pair_df.schema[id_a].dataType, integral
    ):
        return _clusters_single_task(pair_df, id_a, id_b)
    npart = max(
        4, min(-(-4 * n_pairs // 200_000), 4 * cluster_parallelism(pair_df))
    )
    fwd = pair_df.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pair_df.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    loop_a = pair_df.select(F.col(id_a).alias("src"), F.col(id_a).alias("dst"))
    loop_b = pair_df.select(F.col(id_b).alias("src"), F.col(id_b).alias("dst"))
    # persist AFTER the repartition so every step's join reads the
    # already-dst-partitioned cache instead of re-shuffling
    edges = (
        fwd.union(rev)
        .union(loop_a)
        .union(loop_b)
        .repartition(npart, "dst")
        .persist()
    )
    labels = (
        edges.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .coalesce(npart)
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(max_iter):
        cur = labels
        for _step in range(2):
            cur = (
                edges.join(cur, edges.dst == cur.id)
                .groupBy("src")
                .agg(F.min("label").alias("label"))
                .select(F.col("src").alias("id"), "label")
            )
            # pointer doubling: follow one hop of label indirection
            lol = cur.select(
                F.col("id").alias("lid"), F.col("label").alias("label2")
            )
            cur = cur.join(lol, cur.label == lol.lid, "left").select(
                "id",
                F.least(F.col("label"), F.coalesce("label2", "label")).alias(
                    "label"
                ),
            )
        updated = cur.coalesce(npart).localCheckpoint()
        # decimal, not long: at 1e10+ nodes a raw long sum could wrap
        cur_sum = updated.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = updated
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


# ---------------------------------------------------------------- simhash


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """id → ``simhash`` integer signature.

    Classic bit-vote construction: each distinct token hashes to
    ``bits`` bits; bit b of the signature is 1 iff the sum of
    (+1/−1) votes across tokens is positive. One explode + one
    groupBy(id) — single shuffle.
    """
    tok = _fanout_repartition(
        df.select(
            F.col(id_col),
            F.array_distinct(tokens(F.col(text_col))).alias("_toks"),
        ),
        id_col,
    ).select(F.col(id_col), F.explode("_toks").alias("tok"))
    h = seeded_hash48(F.col("tok"), 0)
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(h.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sig: Column = F.lit(0)
    for b in range(bits):
        sig = sig + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return votes.select(id_col, sig.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 1,
) -> DataFrame:
    """(id_a < id_b) pairs within ``max_hamming`` signature bits — the
    bit-flip index that upgrades SimHash from exact-bucket to real
    near-dup recall.

    Standard variant trick: each doc emits its signature plus every
    signature within ``max_hamming`` single-bit flips (1 + bits keys
    for hamming 1; + C(bits,2) for hamming 2), and VARIANT keys
    equi-join against ORIGINAL keys — a doc at hamming distance h ≤
    max_hamming from another shares at least one (variant, original)
    bucket. The pair space stays bucket-bounded (same argument as the
    MinHash band join); the fan-out factor is the fixed variant count,
    independent of corpus size. Exact hamming distance is re-computed
    per candidate (bit_count of the XOR) and pairs are filtered to
    ``<= max_hamming``, so false bucket collisions never survive.
    """
    if max_hamming not in (1, 2):
        raise ValueError("max_hamming must be 1 or 2")
    masks = [0] + [1 << b for b in range(bits)]
    if max_hamming == 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(bits)
            for j in range(i + 1, bits)
        ]
    # Pin the signature table (r14): it feeds BOTH the variant
    # explode and the original-key side of the bucket join — built
    # lazily, the corpus tokenize+hash subtree executed twice. One
    # row of (id, 64-bit signature) per doc, the cheapest possible
    # materialization of a corpus pass.
    sig = simhash(df, text_col, id_col, bits).localCheckpoint(eager=True)
    variants = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[F.col("simhash").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("vkey"),
    )
    orig = sig.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b")
    )
    ham = F.expr("bit_count(sig_a ^ sig_b)")
    return (
        variants.join(orig, variants.vkey == orig.sig_b)
        .filter(F.col(id_col) < F.col("id_b"))
        .select(
            F.col(id_col).alias("id_a"),
            "id_b",
            F.col("simhash").alias("sig_a"),
            "sig_b",
        )
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


# ----------------------------------------------------------- ngram jaccard


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (as sets)."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    union = (F.size(da) + F.size(db)).cast("double") - inter
    return F.round(inter / F.greatest(union, F.lit(1.0)), 6)


def ngram_jaccard_pairs(
    df: DataFrame,
    pair_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for given (id_a, id_b) pairs —
    the verification stage after any blocking scheme."""
    grams = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("_t") - F.lit(n - 1), F.lit(1)),
                ),
                lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, n)),
            )
        ).alias("grams"),
    )
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("ga"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("gb"))
    return (
        pair_df.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", jaccard(F.col("ga"), F.col("gb")).alias("jaccard"))
    )


def edit_distance_pairs(
    df: DataFrame,
    pair_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Levenshtein distance (plus a length-normalized
    similarity) for given (id_a, id_b) pairs — the strictest
    verification measure after any blocking scheme.

    Levenshtein is O(len_a × len_b) PER PAIR, so it belongs strictly
    AFTER candidate pruning (LSH/SimHash buckets), never on raw pair
    spaces. Distance is computed on normalized text by the JVM
    built-in; similarity = 1 - dist/max_len ∈ [0, 1].
    """
    norm = df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_n")
    )
    ta = norm.select(F.col(id_col).alias("id_a"), F.col("_n").alias("ta"))
    tb = norm.select(F.col(id_col).alias("id_b"), F.col("_n").alias("tb"))
    dist = F.levenshtein(F.col("ta"), F.col("tb"))
    max_len = F.greatest(
        F.length("ta"), F.length("tb"), F.lit(1)
    )
    return (
        pair_df.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            dist.cast("bigint").alias("edit_distance"),
            F.round(
                F.lit(1.0) - dist / max_len.cast("double"), 6
            ).alias("edit_similarity"),
        )
    )


# ---------------------------------------------- exact similarity join


def _ordered_token_rows(
    df: DataFrame,
    id_col: str,
    token_order: DataFrame,
) -> DataFrame:
    """Per-doc ordered token array under the given ``(_tok, _df)``
    order: ``(id, n, toks)`` with ``toks`` sorted rarest-first (ties
    by token). The sorted struct array IS the full distinct token
    set, so this one table serves both prefix generation and the
    exact verification join."""
    ex = df.select(F.col(id_col), F.explode("toks").alias("_tok"))
    return (
        ex.join(token_order, "_tok", "left")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.coalesce(F.col("_df"), F.lit(0)).alias("_df"),
                            F.col("_tok"),
                        )
                    )
                ),
                lambda s: s.getField("_tok"),
            ).alias("toks")
        )
        .select(F.col(id_col), F.size("toks").alias("n"), "toks")
    )


def _prefix_rows(ordered: DataFrame, id_col: str, t: float, side: str) -> DataFrame:
    """Explode each doc's rarest-first prefix (length
    ``n - ceil(t*n) + 1``) into NARROW rows ``(_id, _n, _ptok)`` —
    token arrays stay behind in ``ordered`` and rejoin by id after
    pair dedup. Carrying the arrays on prefix rows instead is the
    MinHash-style trade and loses twice here: arrays are unbounded
    (signatures are fixed 128B), and prefix-collision multiplicity
    then pays the expensive set intersection per COLLISION rather
    than per PAIR (measured 3x slower end-to-end)."""
    plen = F.col("n") - F.ceil(F.col("n") * F.lit(t)).cast("int") + F.lit(1)
    return ordered.select(
        F.col(id_col).alias(f"_id_{side}"),
        F.col("n").alias(f"_n_{side}"),
        F.explode(F.slice("toks", 1, plen)).alias("_ptok"),
    )


#: partition column of an id-bucketed index layout (not a data column)
ID_BUCKET_COL = "_id_bucket"
#: metadata key (on the id column) carrying the id-bucket modulus
_ID_NB_KEY = "id_bucket_count"


def id_bucket_layout(
    columns: list[str], partition_by: list[str] | None = None
) -> list[str]:
    """Partition columns a store rewrite uses so the reserved
    :data:`ID_BUCKET_COL` layout is never silently flattened (the
    verify-side partition pruning its readers rely on): with no
    ``partition_by``, partition by the id bucket when the frame
    carries it; with one, append the id bucket when the frame carries
    it and the list lacks it (the IVF index's ``bucket/_id_bucket``
    nesting survives a caller naming only its primary key)."""
    parts = list(partition_by or [])
    if ID_BUCKET_COL in columns and ID_BUCKET_COL not in parts:
        parts.append(ID_BUCKET_COL)
    return parts


def id_bucketed_index(
    df: DataFrame, id_col: str = "doc_id", n_id_buckets: int = 64
) -> DataFrame:
    """Annotate any id-keyed index frame (ordered Jaccard index,
    MinHash signature index) with an id-hash bucket column for a
    ``partitionBy(ID_BUCKET_COL)`` layout — the LAST corpus-linear
    read of the incremental paths made delta-proportional: candidate
    generation already reads batch-proportionally through the
    token/band stores, but verification (exact intersection /
    signature estimate) then re-joins the INDEX by candidate id,
    which is a full scan of the heaviest column however small the
    candidate set. With this layout the verify step first collects
    the candidate ids' distinct buckets (bounded ≤ ``n_id_buckets``)
    and statically prunes the index scan to those directories — the
    same explicit-IN-on-the-partition-column contract as
    :func:`minhash_band_store` (planning-time-guaranteed, no DPP
    heuristics).

    The modulus rides the ID column's metadata; ALL writers must
    derive it from the stored index (the append helpers and
    compaction do) — rows bucketed under a different modulus land in
    directories the prune never reads, which is why a bucketed index
    without readable provenance is REFUSED at verify time rather
    than scanned unpruned. Convert a standing unbucketed index with
    ``jaccard_compact(..., n_id_buckets=...)``; appending an
    UNbucketed row set to a bucketed layout fails loudly at read
    time (conflicting directory structures), never silently."""
    nb = int(n_id_buckets)
    if nb <= 0:
        raise ValueError("n_id_buckets must be positive")
    # MERGE with any metadata the id column already carries (the IVF
    # index rides its centroid fingerprint there) — replacing would
    # silently strip another guard's provenance
    meta = dict(df.schema[id_col].metadata)
    meta[_ID_NB_KEY] = nb
    return df.withColumn(
        ID_BUCKET_COL, F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb))
    ).withColumn(id_col, F.col(id_col).alias(id_col, metadata=meta))


def _id_bucket_modulus(df: DataFrame, id_col: str) -> int:
    """The id-bucket modulus a bucketed index was written with —
    REQUIRED once the bucket column exists (pruning with a guessed
    modulus silently misses pairs)."""
    nb = df.schema[id_col].metadata.get(_ID_NB_KEY)
    if nb is None:
        raise ValueError(
            "index carries an id-bucket column but no bucket-count "
            "metadata — rebuild the layout with id_bucketed_index / "
            "jaccard_compact(n_id_buckets=...)"
        )
    return int(nb)


def _prune_to_id_buckets(
    b_src: DataFrame, ids: DataFrame, id_col: str
) -> DataFrame:
    """Statically prune an id-bucketed index scan to the bucket
    directories of the given (already-materialized, batch-sized) id
    frame: bounded ≤ modulus driver collect, explicit IN on the
    partition column."""
    nb = _id_bucket_modulus(b_src, id_col)
    touched = [
        r[0]
        for r in ids.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb))
        )
        .distinct()
        .collect()
    ]
    return b_src.filter(F.col(ID_BUCKET_COL).isin(touched))


def _verify_pairs(
    pairs: DataFrame,
    a_src: DataFrame,
    b_src: DataFrame,
    id_col: str,
    t: float,
    out_col: str,
    containment: bool = False,
    prune_b: bool = False,
    prune_b_broadcast: bool = True,
) -> DataFrame:
    """Exact verification of DISTINCT candidate id pairs: join each
    side's token array back by id (delta-sized equi joins,
    AQE-broadcastable) and score once per pair. ``containment``
    divides by |a| instead of the union size. The threshold applies
    to the UNROUNDED score, so results are engine-identical.

    ``prune_b`` semi-joins ``b_src`` down to the candidate ids (the
    id list broadcast when ``prune_b_broadcast``, a shuffled semi
    otherwise — for batches whose candidate set is itself too large
    to broadcast) BEFORE the array rejoin — when ``b_src`` is a
    stored corpus index this keeps the corpus side of the plan
    scan-only: no corpus-wide exchange ever forms below a join. The
    candidate subtree is referenced twice, but it ends in a
    ``distinct()`` whose exchange Spark reuses (ReusedExchange), so
    the work below it still runs once.

    When ``b_src`` additionally carries the :data:`ID_BUCKET_COL`
    layout (:func:`id_bucketed_index`), the semi's scan is also
    STATICALLY pruned to the candidate ids' bucket directories: the
    candidate pairs are materialized once (eager ``localCheckpoint``
    — batch-sized; also what lets the bounded bucket collect and the
    final query share one computation of the candidate subtree), the
    distinct buckets are collected (≤ modulus values), and the index
    scan gets an explicit IN on the partition column — verification
    READ IO ∝ candidates, not corpus. Note this makes operator
    CONSTRUCTION run the (batch-sized) candidate jobs when the index
    is bucketed — static pruning needs the bucket list before the
    plan exists; an explain() afterwards therefore shows only the
    verify stage above the checkpoint."""
    if prune_b:
        if ID_BUCKET_COL in b_src.columns:
            pairs = pairs.localCheckpoint(eager=True)
        ids_b = pairs.select(F.col("_id_b").alias(id_col)).distinct()
        if ID_BUCKET_COL in b_src.columns:
            b_src = _prune_to_id_buckets(b_src, ids_b, id_col)
        if prune_b_broadcast:
            ids_b = F.broadcast(ids_b)
        b_src = b_src.join(ids_b, id_col, "left_semi")
    ta = a_src.select(
        F.col(id_col).alias("_id_a"),
        F.col("toks").alias("_t_a"),
        F.col("n").alias("_n_a"),
    )
    tb = b_src.select(
        F.col(id_col).alias("_id_b"),
        F.col("toks").alias("_t_b"),
        F.col("n").alias("_n_b"),
    )
    inter = F.size(F.array_intersect("_t_a", "_t_b")).cast("double")
    if containment:
        denom = F.greatest(F.col("_n_a").cast("double"), F.lit(1.0))
    else:
        denom = F.greatest(
            F.col("_n_a").cast("double")
            + F.col("_n_b").cast("double")
            - inter,
            F.lit(1.0),
        )
    raw = inter / denom
    return (
        pairs.join(ta, "_id_a")
        .join(tb, "_id_b")
        .filter(raw >= F.lit(t))
        .select(
            F.col("_id_a").alias("id_a"),
            F.col("_id_b").alias("id_b"),
            F.round(raw, 6).alias(out_col),
        )
    )


def jaccard_self_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
) -> DataFrame:
    """EXACT all-pairs token-set Jaccard self-join above ``threshold``
    — the SSJoin/prefix-filter family (Chaudhuri et al. ICDE'06,
    Xiao et al. PPJoin), the complement of the approximate MinHash
    path: zero false negatives AND zero false positives.

    Why it scales (the whole point of prefix filtering): two sets
    with Jaccard >= t MUST share at least one token among each set's
    FIRST ``n - ceil(t*n) + 1`` tokens under any fixed global token
    order. Ordering tokens rarest-document-frequency-first makes
    those prefix tokens the rarest ones, so the candidate equi-join
    on prefix tokens shuffles tiny buckets — never the O(n²) pair
    space and never the hot-token buckets a naive token join would
    build. A size filter (``t*|a| <= |b| <= |a|/t``) prunes further.

    Plan shape: one narrow token-frequency aggregate, one groupBy
    building each doc's ordered token array, a NARROW prefix
    equi-join (ids + sizes only), pair dedup, then ONE exact
    intersection per distinct candidate pair via id-keyed joins back
    to the token table — all built-in array/higher-order functions,
    no UDFs, nothing quadratic in the corpus. Returns
    ``(id_a, id_b, jaccard)`` with ``id_a < id_b``, jaccard rounded
    to 6 places (threshold applied UNROUNDED, engine-identical).
    """
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    toks = jaccard_prefix_index(df, text_col, id_col)
    token_order = (
        toks.select(F.explode("toks").alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    # Pin the ordered token table (r14): it feeds FOUR plan legs
    # (both prefix sides + both verification rejoins), and its
    # subtree embeds the tokenize + order-count passes — built
    # lazily, the corpus was re-tokenized once per leg (the
    # containment_join pin, applied to the symmetric join).
    # Size bound: corpus-TOKEN-sized (one row per doc with its sorted
    # token array) — the largest pin in this module; the standing
    # 100 TB path is the persisted jaccard_prefix_store + ordered
    # index (the jaccard_ingest_stored shape), this self-join is the
    # one-off full-corpus analysis where one materialized pass beats
    # four recomputes. Executor-loss recovery: module pin contract.
    ordered = _ordered_token_rows(toks, id_col, token_order).localCheckpoint(
        eager=True
    )
    a = _prefix_rows(ordered, id_col, t, "a")
    b = _prefix_rows(ordered, id_col, t, "b")
    cand = (
        a.join(
            b,
            (a["_ptok"] == b["_ptok"])
            & (F.col("_id_a") < F.col("_id_b"))
            & (F.col("_n_b") * F.lit(t) <= F.col("_n_a"))
            & (F.col("_n_a") * F.lit(t) <= F.col("_n_b")),
        )
        .select("_id_a", "_id_b")
        .distinct()
    )
    return _verify_pairs(cand, ordered, ordered, id_col, t, "jaccard")


def jaccard_prefix_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Build (or extend) the corpus index for
    :func:`jaccard_join_incremental`: one row per document with its
    DISTINCT token set and size — tokenized once, text never re-read
    by later ingests. Append each ingested batch's index rows so the
    next ingest sees them (same contract as the MinHash signature
    index). ``id_col`` must be UNIQUE — duplicate ids would merge
    token sets downstream; the validation operator (V3) is the
    guard, as everywhere else in the engine."""
    toks = F.array_distinct(tokens(F.col(text_col)))
    return df.select(
        F.col(id_col), toks.alias("toks"), F.size(toks).alias("n")
    )


def jaccard_token_order(index: DataFrame) -> DataFrame:
    """The FROZEN ``(token, df)`` total-order table for the ordered
    index contract: document frequency of every token across the
    given :func:`jaccard_prefix_index` rows (rarest first downstream;
    ties break by token string). Persist this alongside the ordered
    index at build time — every later ingest orders its batch under
    it, so the corpus is never re-ordered. One row per token (the
    groupBy guarantees uniqueness, which the ordering join relies
    on); tokens absent from the table order as df 0 on every side,
    so the combined relation stays one fixed total order and the
    prefix filter stays EXACT as the vocabulary grows."""
    return (
        index.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def jaccard_ordered_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_order: DataFrame | None = None,
) -> DataFrame:
    """The STORED-ORDER corpus index for
    :func:`jaccard_join_incremental`'s ``corpus_ordered=True`` path:
    ``(id, n, toks)`` with each doc's distinct token set sorted
    rarest-first under the FROZEN ``token_order``
    (:func:`jaccard_token_order`) — the ordering work happens ONCE at
    index build/extend time, so later ingests slice prefixes straight
    off the stored arrays instead of re-ordering the corpus
    (`ref behavioral parity: the reference never re-reads synced
    rows either — dbsync.go keeps per-run work delta-sized`).

    ``df`` is either raw documents (tokenized here) or an existing
    :func:`jaccard_prefix_index` frame (detected by its
    ``toks``/``n`` columns — text is then never re-read). Append each
    ingested batch's ordered rows (built under the SAME frozen order)
    so the next ingest sees them."""
    if token_order is None:
        raise ValueError(
            "jaccard_ordered_index requires the frozen token_order "
            "(build it once with jaccard_token_order and persist it "
            "alongside the index)"
        )
    cols = token_order.columns
    order = token_order.select(
        F.col(cols[0]).alias("_tok"), F.col(cols[1]).alias("_df")
    )
    if "toks" in df.columns and "n" in df.columns:
        idx = df.select(id_col, "toks", "n")
    else:
        idx = jaccard_prefix_index(df, text_col, id_col)
    return _ordered_token_rows(idx, id_col, order)


#: partition column of a bucketed prefix store (not a data column)
PREFIX_BUCKET_COL = "_tok_bucket"
#: metadata key carrying a prefix store's build threshold
_PREFIX_T_KEY = "jaccard_prefix_threshold"
#: metadata key carrying a bucketed prefix store's bucket count
_PREFIX_NB_KEY = "jaccard_prefix_buckets"


def jaccard_prefix_store(
    ordered_index: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    n_token_buckets: int | None = None,
) -> DataFrame:
    """Materializable corpus PREFIX rows ``(_id_b, _n_b, _ptok)`` for
    the stored-order ingest — the last scan-side cost of
    :func:`jaccard_join_incremental` made delta-proportional: write
    this frame ``partitionBy(PREFIX_BUCKET_COL)`` (pass
    ``n_token_buckets``) and hand the read-back frame to the join as
    ``corpus_prefix``. The candidate equi-join then also keys on the
    token bucket, so Spark's dynamic partition pruning reads ONLY the
    bucket directories the batch's prefix tokens hash into —
    per-ingest prefix IO scales with the batch's vocabulary, not the
    corpus (the verify scan still reads the ordered index, pruned to
    candidate ids by the semi join).

    EXACTNESS PRECONDITION: prefixes lengthen as the threshold
    drops, so a store built at threshold ``t_b`` is exact for any
    join threshold ``>= t_b`` (longer-than-needed prefixes only add
    candidates, which verification discards) and WRONG below it —
    build the store at the lowest threshold you will ever query. The
    build threshold rides along as ``_ptok`` column METADATA
    (survives the parquet round-trip at zero row cost), and
    :func:`jaccard_join_incremental` refuses a join below it instead
    of silently missing pairs. Maintain the store like the index:
    append each ingested batch's own prefix rows (same call over the
    batch's ordered rows). NOTE: a store whose files MIX
    metadata-less (pre-contract) and metadata-carrying parquet reads
    back with whichever footer Spark samples — the guards then fire
    nondeterministically; rebuild such a store once (this function,
    or :func:`jaccard_compact`) rather than appending to it."""
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    rows = _prefix_rows(ordered_index, id_col, t, "b")
    # both provenance facts ride the _ptok DATA column's metadata —
    # the partition column itself is rebuilt from directory names on
    # read, so metadata attached to it would not survive
    meta = {_PREFIX_T_KEY: t}
    if n_token_buckets is not None:
        meta[_PREFIX_NB_KEY] = int(n_token_buckets)
    rows = rows.withColumn(
        "_ptok", F.col("_ptok").alias("_ptok", metadata=meta)
    )
    if n_token_buckets is not None:
        rows = rows.withColumn(
            PREFIX_BUCKET_COL,
            F.pmod(F.xxhash64("_ptok"), F.lit(int(n_token_buckets))),
        )
    return rows


#: metadata key carrying a containment inverted store's bucket count
_CONTAIN_NB_KEY = "containment_inv_buckets"
#: metadata marker: the store holds the FULL corpus token explosion
#: (what distinguishes it from a prefix-only jaccard_prefix_store)
_CONTAIN_FULL_KEY = "containment_inv_full"


def containment_inverted_store(
    corpus_index: DataFrame,
    id_col: str = "doc_id",
    n_token_buckets: int | None = None,
) -> DataFrame:
    """Materializable corpus INVERTED-INDEX rows ``(_id_b, _ptok)``
    for :func:`containment_join`'s probe mode — the containment
    analogue of :func:`jaccard_prefix_store`: write this frame
    ``partitionBy(PREFIX_BUCKET_COL)`` (pass ``n_token_buckets``) and
    hand the read-back frame to the join as ``corpus_inv``. The
    candidate equi-join then also keys on the token bucket and the
    store scan is statically pruned to the probe's touched-bucket
    list (explicit IN on the partition column — planning-time
    guaranteed at any probe size), so only the bucket directories
    the probe's prefix tokens hash into are read — per-probe corpus
    IO scales with the probe batch's vocabulary, not the corpus
    (today's store-less probe scans the full corpus token explosion
    every time and only then filters it).

    Two properties make this store SIMPLER than the Jaccard one:

    - **Threshold-free.** Containment puts no bound on the corpus
      doc, so the corpus side is the FULL token explosion — valid
      for every join threshold; there is no build-threshold
      precondition and no below-threshold refusal.
    - **Order-free.** An inverted index has no token ordering, so
      the frozen-order lifecycle (migration, re-freeze) never
      invalidates it; only index membership changes do (append the
      ingested batch's own explosion; :func:`jaccard_compact`
      rebuilds it alongside the index).

    The one hazard is structural: a :func:`jaccard_prefix_store`
    frame has the SAME column shape but holds PREFIX rows only —
    passed as ``corpus_inv`` it would silently miss pairs. Both
    stores therefore ride provenance in ``_ptok`` metadata
    (full-explosion marker + bucket count here, build threshold
    there) and :func:`containment_join` refuses a prefix store."""
    rows = corpus_index.select(
        F.col(id_col).alias("_id_b"), F.explode("toks").alias("_ptok")
    )
    meta: dict = {_CONTAIN_FULL_KEY: True}
    if n_token_buckets is not None:
        meta[_CONTAIN_NB_KEY] = int(n_token_buckets)
    rows = rows.withColumn(
        "_ptok", F.col("_ptok").alias("_ptok", metadata=meta)
    )
    if n_token_buckets is not None:
        rows = rows.withColumn(
            PREFIX_BUCKET_COL,
            F.pmod(F.xxhash64("_ptok"), F.lit(int(n_token_buckets))),
        )
    return rows


def _stage_compaction(
    spark,
    path: str,
    deduped: DataFrame,
    raw: int,
    parts: list[str],
    restored: bool,
    files_per_billion_rows: int = 2000,
    mode: str = staging.MERGE,
) -> dict:
    """Size a deduplicated store frame and stage it once as a
    ``mode`` rewrite of ``path`` — the shared tail of every
    compaction. ``files_per_billion_rows`` per 1e9 PRE-dedupe rows
    (``raw``, the count the caller already took), floor 1. The frame
    is repartitioned, never coalesced, so the dedupe above it keeps
    full shuffle parallelism; a partitioned layout is clustered on
    its key, so each directory lands few large files instead of one
    sliver per task. Returns ``{"rows", "removed_rows", "files",
    "restored_from_staging"}``."""
    import math

    n_files = max(1, math.ceil(raw * files_per_billion_rows / 1e9))
    sized = deduped.repartition(n_files, *[F.col(c) for c in parts])
    rows = staging.write(spark, sized, path, mode, parts)
    return {
        "rows": rows,
        "removed_rows": raw - rows,
        "files": n_files,
        "restored_from_staging": restored,
    }


def _compact_id_index(
    spark,
    path: str,
    id_col: str,
    n_id_buckets: int | None,
    files_per_billion_rows: int = 2000,
) -> dict:
    """Dedupe an id-keyed index by id and (re)bucket it in ONE staged
    write: an explicit ``n_id_buckets`` converts (or re-buckets) the
    :func:`id_bucketed_index` layout, otherwise an existing bucketed
    layout is kept under its recorded modulus. A layout change stages
    as SUPERSEDE: a union with the old layout would keep two rows per
    id, one in a directory the new modulus never prunes to."""
    restored = staging.restore(spark, path)
    index = spark.read.parquet(path)
    bucketed = ID_BUCKET_COL in index.columns
    mode = staging.MERGE
    if n_id_buckets is None:
        target_nb = _id_bucket_modulus(index, id_col) if bucketed else None
    else:
        target_nb = int(n_id_buckets)
        if not bucketed or target_nb != index.schema[id_col].metadata.get(
            _ID_NB_KEY
        ):
            mode = staging.SUPERSEDE
    deduped = index.dropDuplicates([id_col])
    if ID_BUCKET_COL in deduped.columns:
        deduped = deduped.drop(ID_BUCKET_COL)
    parts = []
    if target_nb is not None:
        deduped = id_bucketed_index(deduped, id_col, target_nb)
        parts = [ID_BUCKET_COL]
    return _stage_compaction(
        spark,
        path,
        deduped,
        index.count(),
        parts,
        restored,
        files_per_billion_rows,
        mode,
    )


def jaccard_compact(
    spark,
    index_path: str,
    id_col: str = "doc_id",
    prefix_store_path: str | None = None,
    files_per_billion_rows: int = 2000,
    containment_store_path: str | None = None,
    n_id_buckets: int | None = None,
) -> dict:
    """Maintenance compaction for a standing ordered-index pipeline:
    every ingest/stream batch APPENDS to the index (and prefix
    store), so over time they accumulate one small file per batch —
    and crash replays may leave duplicate store rows (harmless for
    exactness, but paid on every scan) or, under per-task-visible
    committers, duplicate index rows. This rewrites the index
    deduplicated by id and file-count-sized, and — when
    ``prefix_store_path`` is given — REBUILDS the store from the
    compacted index (same threshold and bucket count, read back from
    the store's own ``_ptok`` metadata), which removes duplicate and
    orphaned store rows in one pass. ``containment_store_path`` does
    the same for a :func:`containment_inverted_store` (bucket count
    from its own metadata; threshold-free by construction).

    Duplicate ids are resolved by ``dropDuplicates([id_col])`` — an
    ARBITRARY survivor, which is only correct because the streaming
    path anti-joins each batch against the index before appending
    (duplicates can then only be bit-identical replay copies).
    Out-of-band appends that re-ingest an id with CHANGED text must
    reconcile themselves before compacting.

    ``n_id_buckets`` CONVERTS the index to (or re-buckets) the
    :func:`id_bucketed_index` layout during the rewrite — compaction
    is the designated layout converter for a standing stream, whose
    appends merely follow whatever layout is stored. An existing
    bucketed layout is preserved under its recorded modulus when the
    parameter is omitted.

    Run it between drains/ingests (like any layout maintenance — it
    overwrites the paths a concurrent ingest would be reading). The
    frozen order file is untouched: compaction reorders FILES, never
    tokens. The index rewrite is one staged write of
    :mod:`~mydatasyncer_spark.operators.staging` (MERGE, or SUPERSEDE
    when ``n_id_buckets`` changes the layout): a crash leaves the
    old index or a staged copy that the next compaction, or the
    streaming twin's next batch, restores; a crash mid-STORE-rebuild
    is healed the same way the streaming backfill is (the store's
    completeness gate / a rerun of this op). ``index_files`` is sized
    from the pre-dedupe row count. Returns ``{"docs": n,
    "removed_index_rows": n, "index_files": n,
    "restored_from_staging": bool}``.
    """
    stats = _compact_id_index(
        spark, index_path, id_col, n_id_buckets, files_per_billion_rows
    )
    if prefix_store_path is not None:
        store = spark.read.parquet(prefix_store_path)
        meta = (
            store.schema["_ptok"].metadata
            if "_ptok" in store.columns
            else {}
        )
        t_build = meta.get(_PREFIX_T_KEY)
        if t_build is None:
            raise ValueError(
                "prefix store carries no build-threshold metadata — "
                "rebuild it explicitly with jaccard_prefix_store"
            )
        nb = meta.get(_PREFIX_NB_KEY)
        rebuilt = jaccard_prefix_store(
            spark.read.parquet(index_path),
            float(t_build),
            id_col,
            int(nb) if nb is not None else None,
        )
        if nb is not None:
            rebuilt.write.partitionBy(PREFIX_BUCKET_COL).mode(
                "overwrite"
            ).parquet(prefix_store_path)
        else:
            rebuilt.write.mode("overwrite").parquet(prefix_store_path)
    if containment_store_path is not None:
        cstore = spark.read.parquet(containment_store_path)
        cmeta = (
            cstore.schema["_ptok"].metadata
            if "_ptok" in cstore.columns
            else {}
        )
        cnb = cmeta.get(_CONTAIN_NB_KEY)
        if cnb is None and PREFIX_BUCKET_COL in cstore.columns:
            raise ValueError(
                "containment store is bucketed but carries no "
                "bucket-count metadata — rebuild it explicitly with "
                "containment_inverted_store"
            )
        crebuilt = containment_inverted_store(
            spark.read.parquet(index_path),
            id_col,
            int(cnb) if cnb is not None else None,
        )
        if cnb is not None:
            crebuilt.write.partitionBy(PREFIX_BUCKET_COL).mode(
                "overwrite"
            ).parquet(containment_store_path)
        else:
            crebuilt.write.mode("overwrite").parquet(
                containment_store_path
            )
    return {
        "docs": stats["rows"],
        "removed_index_rows": stats["removed_rows"],
        "index_files": stats["files"],
        "restored_from_staging": stats["restored_from_staging"],
    }


def jaccard_refreeze(
    spark,
    index_path: str,
    order_path: str | None = None,
    id_col: str = "doc_id",
    prefix_store_path: str | None = None,
    store_threshold: float | None = None,
    store_buckets: int | None = None,
) -> dict:
    """Re-freeze the token order of a drifted ordered-index pipeline.

    The frozen ``(token, df)`` order stays EXACT forever (any fixed
    total order is lossless for the prefix filter), but tokens unseen
    at freeze time order as df 0 — FIRST in every prefix. As the
    corpus drifts, those df-0 tokens crowd prefixes and, being common
    among the NEW documents, turn them into hot candidate-join keys:
    correctness holds, candidate-collision cost grows. This op
    recomputes the order from the grown index (df depends only on
    MEMBERSHIP, so the result is deterministic regardless of current
    array ordering), re-sorts every stored array under it through the
    staged rewrite protocol, and rebuilds the prefix store (whose
    rows are order-dependent slices; a
    :func:`containment_inverted_store` is order-free and untouched).
    Run it between drains, like :func:`jaccard_compact`.

    WHEN to run it: :func:`jaccard_drift_report` measures the drift
    — refreeze when its ``collision_ratio`` (candidate-collision
    estimate under the stale order vs the order this op would
    compute — the direct payoff) exceeds ~1.5, or earlier when
    ``df0_prefix_fraction`` (the leading indicator: prefix slots
    already occupied by freeze-unseen tokens) exceeds ~0.1.

    Crash contract (the migration's story, made re-runnable): the OLD
    order file is deleted BEFORE the staged copy is written, so every
    crash window leaves either (a) everything old and consistent, or
    (b) a missing order file — which the streaming twin's migration
    path heals by recomputing the SAME df order and re-sorting
    (idempotent on already-sorted arrays), restoring any complete
    staged copy first. At no point can a stale order file coexist
    with re-sorted arrays. The stale prefix store is deleted in the
    same pre-swap window (migration's rule) and rebuilt at the end
    under its recorded threshold/bucket count —
    ``store_threshold``/``store_buckets`` override that recording,
    which is also how a RERUN recovers when the prior attempt
    crashed after the store delete (nothing left to read provenance
    from). Returns ``{"docs": n, "vocab": n,
    "restored_from_staging": bool}``."""
    from pyspark.sql.utils import AnalysisException

    restored = staging.restore(spark, index_path)
    order_loc = order_path or index_path.rstrip("/") + "_order"
    index = spark.read.parquet(index_path)
    # pin the new order BEFORE any file mutation: its lineage reads
    # the index files the overwrite below deletes (same pin as the
    # streaming migration, commit 73a927a)
    new_order = jaccard_token_order(index).localCheckpoint(eager=True)
    store_t, store_nb = store_threshold, store_buckets
    if prefix_store_path is not None and store_t is None:
        # provenance from the store itself; a store a PRIOR crashed
        # refreeze already deleted cannot reveal it — rerun recovery
        # passes store_threshold/store_buckets explicitly instead
        try:
            store = spark.read.parquet(prefix_store_path)
        except AnalysisException as exc:
            raise ValueError(
                f"prefix store at {prefix_store_path!r} is unreadable "
                "(crashed earlier refreeze?) and no store_threshold "
                "was given — pass store_threshold/store_buckets to "
                "rebuild it, or rebuild via jaccard_prefix_store"
            ) from exc
        meta = (
            store.schema["_ptok"].metadata
            if "_ptok" in store.columns
            else {}
        )
        store_t = meta.get(_PREFIX_T_KEY)
        if store_t is None:
            raise ValueError(
                "prefix store carries no build-threshold metadata — "
                "rebuild it explicitly with jaccard_prefix_store"
            )
        store_nb = meta.get(_PREFIX_NB_KEY)
    reordered = jaccard_ordered_index(
        index, id_col=id_col, token_order=new_order
    )
    if ID_BUCKET_COL in index.columns:
        # an id-bucketed layout survives the re-freeze (re-ordering
        # changes array contents, never id→bucket assignment)
        reordered = id_bucketed_index(
            reordered, id_col, _id_bucket_modulus(index, id_col)
        )
    # order first: from here on, any crash reads as "order missing"
    # (the migration trigger) — never as stale-order-over-new-arrays
    staging.delete(spark, order_loc)
    if prefix_store_path is not None:
        staging.delete(spark, prefix_store_path)
    docs = staging.write(
        spark,
        reordered,
        index_path,
        staging.SUPERSEDE,
        id_bucket_layout(reordered.columns),
    )
    new_order.write.mode("overwrite").parquet(order_loc)
    if prefix_store_path is not None:
        rebuilt = jaccard_prefix_store(
            spark.read.parquet(index_path),
            float(store_t),
            id_col,
            int(store_nb) if store_nb is not None else None,
        )
        if store_nb is not None:
            rebuilt.write.partitionBy(PREFIX_BUCKET_COL).mode(
                "overwrite"
            ).parquet(prefix_store_path)
        else:
            rebuilt.write.mode("overwrite").parquet(prefix_store_path)
    return {
        "docs": docs,
        "vocab": new_order.count(),
        "restored_from_staging": restored,
    }


def jaccard_drift_report(
    spark,
    index_path: str,
    order_path: str | None = None,
    id_col: str = "doc_id",
    threshold: float | None = None,
    prefix_store_path: str | None = None,
) -> dict:
    """The :func:`jaccard_refreeze` DECISION signal: how much the
    corpus has drifted from its frozen token order, as the three
    numbers an operator needs to decide whether a re-freeze pays.

    Drift mechanics (the refreeze docstring's story, measured):
    tokens unseen at freeze time order as df 0 — FIRST in every
    prefix — so as the corpus drifts, genuinely common new tokens
    crowd prefixes and become hot candidate-join keys. Correctness
    never degrades; candidate-collision COST does. Reported, all
    computed from the stored index + order (prefix-row COUNT is
    order-invariant — only prefix COMPOSITION drifts, which is why
    the report measures composition and collision mass, not row
    counts):

    - ``df0_prefix_fraction`` — fraction of stored prefix rows whose
      token is absent from the frozen order (df 0). 0.0 on a fresh
      freeze; grows monotonically with drift.
    - ``unseen_vocab_fraction`` — fraction of the index's current
      vocabulary absent from the frozen order.
    - ``collisions_frozen`` / ``collisions_refrozen`` and their
      ``collision_ratio`` — the candidate-collision estimate
      (Σ C(c_tok, 2) over prefix rows by token: exactly the pair
      count of the prefix self-join, computed as an aggregate, no
      join) under the CURRENT frozen order vs under the order a
      refreeze would compute. ``collision_ratio`` is the direct
      payoff estimate: 1.0 means refreeze buys nothing; 2.0 means
      the candidate space halves.

    Run-refreeze-when contract: ``collision_ratio`` IS the payoff —
    refreeze when it exceeds ~1.5, or earlier when
    ``df0_prefix_fraction`` exceeds ~0.1 (df-0 prefix tokens are the
    leading indicator; they inflate every future ingest's candidate
    join). Cost note: the ``collisions_refrozen`` leg recomputes the
    membership order and re-sorts arrays LAZILY (nothing is written)
    — corpus-linear like the refreeze itself, so run this between
    drains at the cadence you'd consider refreezing, not per batch.

    ``threshold`` defaults to the prefix store's recorded build
    threshold when ``prefix_store_path`` is given (the stored slices
    are what actually collide); pass it explicitly otherwise."""
    from pyspark.sql.utils import AnalysisException

    order_loc = order_path or index_path.rstrip("/") + "_order"
    t = threshold
    if t is None and prefix_store_path is not None:
        try:
            store = spark.read.parquet(prefix_store_path)
        except AnalysisException as exc:
            raise ValueError(
                f"prefix store at {prefix_store_path!r} is unreadable "
                "— pass threshold explicitly"
            ) from exc
        meta = (
            store.schema["_ptok"].metadata
            if "_ptok" in store.columns
            else {}
        )
        t = meta.get(_PREFIX_T_KEY)
    if t is None:
        raise ValueError(
            "threshold is required (or pass prefix_store_path so the "
            "store's recorded build threshold can be used)"
        )
    t = float(t)
    index = spark.read.parquet(index_path)
    order = spark.read.parquet(order_loc)
    frozen = order.select(
        F.col(order.columns[0]).alias("_ptok"),
        F.col(order.columns[1]).alias("_frozen_df"),
    )

    def _collisions(pfx: DataFrame) -> int:
        per_tok = pfx.groupBy("_ptok").agg(
            F.count(F.lit(1)).alias("_c")
        )
        row = per_tok.agg(
            F.coalesce(
                F.sum(F.col("_c") * (F.col("_c") - 1) / 2), F.lit(0.0)
            ).alias("_pairs")
        ).collect()[0]
        return int(row["_pairs"])

    # stored arrays are sorted under the frozen order (the ordered-
    # index contract), so the stale prefixes are plain slices
    pfx_frozen = _prefix_rows(index, id_col, t, "a")
    comp = pfx_frozen.join(frozen, "_ptok", "left").agg(
        F.count(F.lit(1)).alias("_rows"),
        F.sum(
            F.when(F.col("_frozen_df").isNull(), 1).otherwise(0)
        ).alias("_df0"),
    ).collect()[0]
    prefix_rows = int(comp["_rows"] or 0)
    df0_rows = int(comp["_df0"] or 0)
    vocab = index.select(F.explode("toks").alias("_ptok")).distinct()
    v = vocab.join(frozen, "_ptok", "left").agg(
        F.count(F.lit(1)).alias("_v"),
        F.sum(
            F.when(F.col("_frozen_df").isNull(), 1).otherwise(0)
        ).alias("_unseen"),
    ).collect()[0]
    # the refrozen leg: membership order recomputed, arrays re-sorted
    # lazily — nothing written, same cost class as the refreeze
    refrozen_order = jaccard_token_order(index).select(
        F.col("token").alias("_tok"), F.col("df").alias("_df")
    )
    pfx_refrozen = _prefix_rows(
        _ordered_token_rows(index, id_col, refrozen_order), id_col, t, "a"
    )
    collisions_frozen = _collisions(pfx_frozen)
    collisions_refrozen = _collisions(pfx_refrozen)
    return {
        "docs": index.count(),
        "threshold": t,
        "prefix_rows": prefix_rows,
        "df0_prefix_fraction": (
            df0_rows / prefix_rows if prefix_rows else 0.0
        ),
        "unseen_vocab_fraction": (
            int(v["_unseen"] or 0) / int(v["_v"]) if int(v["_v"]) else 0.0
        ),
        "collisions_frozen": collisions_frozen,
        "collisions_refrozen": collisions_refrozen,
        "collision_ratio": (
            collisions_frozen / collisions_refrozen
            if collisions_refrozen
            else (float("inf") if collisions_frozen else 1.0)
        ),
    }


def jaccard_join_incremental(
    new_df: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    include_new_pairs: bool = True,
    token_order: DataFrame | None = None,
    corpus_ordered: bool = False,
    broadcast_batch: bool | None = None,
    corpus_prefix: DataFrame | None = None,
    n_token_buckets: int | None = None,
) -> DataFrame:
    """EXACT Jaccard pairs for a NEW document batch against an
    indexed corpus — the daily-ingest twin of
    :func:`jaccard_self_join` (the exact counterpart of
    :func:`minhash_lsh_pairs_incremental`): per-ingest cost scales
    with |batch| x candidate collisions, never corpus x corpus, and
    corpus TEXT is never re-read (only the token arrays stored in
    :func:`jaccard_prefix_index`).

    Exactness of the prefix filter holds under ANY single fixed total
    token order applied to BOTH sides. By default the order is
    (document frequency in the index, token) recomputed per ingest
    from the index itself — one narrow explode+count over token
    arrays; batch-only tokens get df 0 (they cannot be shared with
    any indexed doc, so their front position is harmless). That
    default path also re-SORTS every indexed doc's array per ingest
    (a corpus-wide explode+shuffle+groupBy) — fine for one-off runs,
    wrong for a standing daily pipeline.

    The 100 TB path is ``corpus_ordered=True``: ``corpus_index`` is
    then a :func:`jaccard_ordered_index` (arrays STORED rarest-first)
    and ``token_order`` is REQUIRED — the ``(token, df)`` frame
    frozen when that index was built. Corpus prefixes are then plain
    ``slice`` projections over the stored arrays, the batch is
    ordered under the frozen order pruned to the batch's own
    vocabulary, and verification semi-joins the index down to the
    candidate ids first — the corpus side of the whole plan is
    scan-only: no corpus-wide exchange or aggregate, per-ingest cost
    ∝ |batch| × collisions plus linear index scans.
    ``broadcast_batch`` (default: on exactly when ``corpus_ordered``)
    broadcast-hints the batch-derived sides of those joins, which is
    what keeps the corpus side exchange-free; turn it off for batches
    too large to broadcast (the joins then shuffle, but still never
    aggregate the corpus). To make even the prefix SCAN
    delta-proportional, persist a :func:`jaccard_prefix_store`
    partitioned by token bucket and pass it as ``corpus_prefix`` (+
    ``n_token_buckets``): the candidate join then also keys on the
    bucket and dynamic partition pruning reads only the directories
    the batch's prefix tokens hash into.

    Verification joins each pair side back to its OWN token table, so
    a re-ingested id (possibly with changed text) compares new tokens
    against the INDEXED tokens — and never pairs with itself.
    Returns ``(id_a, id_b, jaccard)`` with new ids in ``id_a`` for
    new-vs-corpus pairs and ``id_a < id_b`` for new-vs-new pairs
    (emitted when ``include_new_pairs``). NOTE: when a batch
    RE-INGESTS both ids of an already-indexed pair, up to three rows
    describe it (x_new vs y_indexed, y_new vs x_indexed, x_new vs
    y_new) — deliberate, since the three scores can differ when the
    text changed. Feeds that re-deliver unchanged docs should
    anti-join the batch against the index first (exactly what
    ``streaming/continuous.continuous_jaccard_index`` does) or dedupe
    downstream on ``least/greatest(id_a, id_b)``.
    """
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if corpus_ordered and token_order is None:
        raise ValueError(
            "corpus_ordered=True requires the frozen token_order the "
            "ordered index was built under"
        )
    new_toks = jaccard_prefix_index(new_df, text_col, id_col)
    if token_order is None:
        token_order = (
            corpus_index.select(F.explode("toks").alias("_tok"))
            .groupBy("_tok")
            .agg(F.count(F.lit(1)).alias("_df"))
        )
    else:
        cols = token_order.columns
        token_order = token_order.select(
            F.col(cols[0]).alias("_tok"), F.col(cols[1]).alias("_df")
        )
    if broadcast_batch is None:
        broadcast_batch = corpus_ordered
    if corpus_ordered:
        # prune the (possibly corpus-vocabulary-sized) stored order to
        # the batch's own tokens before the ordering join: rows for
        # tokens the batch lacks can never join, and the pruned table
        # is batch-vocabulary-sized, hence broadcastable. Missing
        # tokens still coalesce to df 0, so the order is unchanged.
        batch_vocab = new_toks.select(
            F.explode("toks").alias("_tok")
        ).distinct()
        if broadcast_batch:
            batch_vocab = F.broadcast(batch_vocab)
        token_order = token_order.join(batch_vocab, "_tok", "left_semi")
        if broadcast_batch:
            token_order = F.broadcast(token_order)
        corpus_cols = [F.col(id_col), F.col("n"), F.col("toks")]
        if ID_BUCKET_COL in corpus_index.columns:
            # id-bucketed layout: ride the partition column into the
            # verify step so its scan prunes to candidate-id buckets
            corpus_cols.append(F.col(ID_BUCKET_COL))
        corpus_src = corpus_index.select(*corpus_cols)
    else:
        corpus_src = _ordered_token_rows(corpus_index, id_col, token_order)
    # pin the ordered batch ONCE (r14): it feeds the prefix-candidate
    # explode, the verification a-side (twice with new-new pairs on),
    # and the new-new b-side — built lazily, each leg re-tokenized and
    # re-ordered the batch from source (≥4 extra batch-source scans in
    # the plan). Batch-sized by the operator's own contract, so the
    # eager pin is the cheapest frame this plan materializes. Same
    # rows, same pairs.
    new_ordered = _ordered_token_rows(new_toks, id_col, token_order)
    new_ordered = new_ordered.localCheckpoint(eager=True)
    pa = _prefix_rows(new_ordered, id_col, t, "a")
    if corpus_prefix is not None:
        # a persisted jaccard_prefix_store: skip deriving prefix rows
        # from the index; with the bucket partition column present the
        # join also keys on it, so dynamic partition pruning reads
        # only the batch-touched token-bucket directories
        if not corpus_ordered:
            raise ValueError("corpus_prefix requires corpus_ordered=True")
        pc = corpus_prefix
        if "_ptok" in pc.columns:
            t_build = pc.schema["_ptok"].metadata.get(_PREFIX_T_KEY)
            if t_build is not None and t < float(t_build) - 1e-9:
                raise ValueError(
                    f"corpus_prefix was built at threshold {t_build}; "
                    f"joining at {t} would silently miss pairs — "
                    "rebuild the store at (or below) the join threshold"
                )
        if PREFIX_BUCKET_COL in pc.columns:
            # the store's bucket count rides _ptok's metadata (a
            # prefix store always carries _ptok — the candidate join
            # keys on it): derive it when the caller didn't pass one,
            # and refuse a MISMATCH — a wrong modulus makes the
            # bucket equality silently drop true prefix matches
            nb_meta = pc.schema["_ptok"].metadata.get(_PREFIX_NB_KEY)
            if n_token_buckets is None:
                n_token_buckets = nb_meta
            elif nb_meta is not None and int(nb_meta) != int(
                n_token_buckets
            ):
                raise ValueError(
                    f"corpus_prefix was written with "
                    f"{int(nb_meta)} token buckets; n_token_buckets="
                    f"{int(n_token_buckets)} would silently miss pairs"
                )
            if n_token_buckets is None:
                raise ValueError(
                    "a bucketed corpus_prefix needs n_token_buckets "
                    "(the bucket count the store was written with)"
                )
            pa = pa.withColumn(
                PREFIX_BUCKET_COL,
                F.pmod(F.xxhash64("_ptok"), F.lit(int(n_token_buckets))),
            )
            # STATIC partition pruning (r14): the batch's touched
            # buckets are a bounded driver list (≤ n_token_buckets
            # values, collected off the PINNED batch-sized prefix
            # rows) and an explicit IN on the partition column prunes
            # store directories at planning time — the
            # minhash/containment store contract, replacing the DPP
            # subquery this path previously leaned on (which lapses
            # over a checkpointed probe side and was only
            # heuristic-eligible anyway)
            touched = [
                r[0]
                for r in pa.select(PREFIX_BUCKET_COL).distinct().collect()
            ]
            pc = pc.filter(F.col(PREFIX_BUCKET_COL).isin(touched))
    else:
        pc = _prefix_rows(corpus_src, id_col, t, "b")
    if broadcast_batch:
        pa = F.broadcast(pa)
    size_ok = (F.col("_n_b") * F.lit(t) <= F.col("_n_a")) & (
        F.col("_n_a") * F.lit(t) <= F.col("_n_b")
    )
    cand_cond = (
        (pa["_ptok"] == pc["_ptok"])
        & (F.col("_id_a") != F.col("_id_b"))
        & size_ok
    )
    if corpus_prefix is not None and PREFIX_BUCKET_COL in pc.columns:
        cand_cond = (
            pa[PREFIX_BUCKET_COL] == pc[PREFIX_BUCKET_COL]
        ) & cand_cond
    cand_corpus = (
        pa.join(pc, cand_cond).select("_id_a", "_id_b").distinct()
    )
    out = _verify_pairs(
        cand_corpus, new_ordered, corpus_src, id_col, t, "jaccard",
        prune_b=corpus_ordered, prune_b_broadcast=broadcast_batch,
    )
    if include_new_pairs:
        pb = _prefix_rows(new_ordered, id_col, t, "b")
        cand_new = (
            pa.join(
                pb,
                (pa["_ptok"] == pb["_ptok"])
                & (F.col("_id_a") < F.col("_id_b"))
                & size_ok,
            )
            .select("_id_a", "_id_b")
            .distinct()
        )
        out = out.unionByName(
            _verify_pairs(
                cand_new, new_ordered, new_ordered, id_col, t, "jaccard"
            )
        )
    return out


def containment_join(
    probe_df: DataFrame,
    corpus_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    token_order: DataFrame | None = None,
    prefilter_index: bool = True,
    corpus_inv: DataFrame | None = None,
    n_token_buckets: int | None = None,
    broadcast_probe: bool | None = None,
) -> DataFrame:
    """EXACT containment join: pairs where the PROBE doc's token set
    is ``threshold``-contained in a corpus doc —
    ``|probe ∩ corpus| / |probe| >= t``. The asymmetric cousin of
    :func:`jaccard_self_join` for curation's "is this doc mostly a
    quote/chunk of an existing one" question, which Jaccard misses
    when the corpus doc is much longer.

    Exactness: if containment >= t, at most ``|a| - ceil(t*|a|)``
    probe tokens are missing from the corpus doc, so under ANY fixed
    token order at least one of the probe's FIRST
    ``|a| - ceil(t*|a|) + 1`` tokens is shared. Candidates therefore
    come from probe-PREFIX tokens equi-joined against the corpus's
    inverted index (containment puts no upper bound on the corpus
    doc's size, so the corpus side cannot be prefix- or
    size-filtered — this join is inherently heavier than the Jaccard
    one). ONLY the probe side needs ordering at all: the corpus
    inverted index and the verification intersections are
    order-independent, so the corpus is never re-sorted here.
    Rarest-first ordering keeps probe prefixes in rare-token buckets;
    residual hot-token skew is AQE skew-join territory. Candidate
    rows are narrow (ids only); the single exact intersection per
    pair happens in id-keyed verification joins.

    In probe-vs-corpus mode (``corpus_df`` given — the daily-curation
    shape) only corpus tokens that occur in some probe PREFIX can
    ever produce a candidate, so with ``prefilter_index`` (default)
    the inverted index is semi-joined by the broadcast distinct probe
    prefix tokens BEFORE the candidate join — the corpus side then
    streams through scan-side filters instead of shuffling its whole
    inverted index. Lossless by construction; disable it only when
    the probe side is itself corpus-sized. Self-mode keeps the full
    index (every corpus token is then also a probe token).
    ``token_order`` (an optional frozen ``(token, df)`` frame, e.g.
    :func:`jaccard_token_order` of the corpus) skips the per-call
    vocabulary count; exactness holds under any fixed order either
    way — the corpus side is a FULL inverted index, never
    prefix-filtered, so only the probe's own prefix depends on the
    order. In the ``corpus_inv`` store path the default order is
    therefore computed from the PROBE alone (batch-sized — the
    probe-∪-corpus default would re-explode the corpus index per
    probe batch, the one corpus-linear step left in that path);
    probe-internal dfs approximate global rarity, so pass a frozen
    corpus order when candidate-collision volume matters.

    The 100 TB standing-pipeline path adds ``corpus_inv``: a
    persisted :func:`containment_inverted_store` read back from a
    ``partitionBy(PREFIX_BUCKET_COL)`` layout. The probe's prefix
    rows then bucket their tokens with the store's recorded modulus
    and the store scan is STATICALLY pruned to the probe's
    touched-bucket list (a bounded ≤ ``n_token_buckets`` driver
    collect off the checkpointed batch-sized prefix rows — explicit
    IN on the partition column, so the pruning is
    planning-time-guaranteed at ANY probe size, including
    ``broadcast_probe=False`` where DPP eligibility would silently
    lapse) — per-probe corpus READ IO ∝ probe vocabulary instead of
    corpus size (the semi-prefilter above only removed the shuffle;
    the scan stayed corpus-linear). ``corpus_df`` stays required
    alongside it (the verification arrays live in the INDEX, not the
    store; verification semi-prunes it to candidate ids, so that
    side stays scan-only as well). Fail-fast provenance guards
    mirror the Jaccard store: a :func:`jaccard_prefix_store` (prefix
    rows only — would silently miss pairs) is refused by its
    build-threshold metadata, a store WITHOUT the positive
    full-explosion marker (metadata-stripped or hand-built — same
    silent-miss hazard) is refused, a bucketed store without a
    discoverable modulus is refused, and a bucket-count mismatch is
    refused. ``broadcast_probe`` (default: on exactly when
    ``corpus_inv`` is given) broadcast-hints the probe-derived
    sides, which keeps the corpus exchange-free; disable for probe
    batches too large to broadcast — the static prune holds either
    way.

    ``corpus_df=None`` means self-containment over ``probe_df``
    (pairs with distinct ids, both directions possible). Either side
    may be a pre-built token index instead of raw documents — a
    :func:`jaccard_prefix_index` or :func:`jaccard_ordered_index`
    frame, detected by its ``toks``/``n`` columns — so a standing
    curation pipeline probes daily batches against a STORED corpus
    index without ever re-reading or re-tokenizing corpus text (the
    same contract as the incremental Jaccard ingest). Returns
    ``(id_a, id_b, containment)``: ``id_a`` the probe/contained doc,
    ``id_b`` the corpus/containing doc, containment rounded to 6
    places (threshold applied unrounded). Zero-token probes never
    pair.
    """
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    self_mode = corpus_df is None
    if corpus_inv is not None and self_mode:
        raise ValueError(
            "corpus_inv requires probe-vs-corpus mode (pass corpus_df "
            "— verification reads token arrays from the index, the "
            "store holds only inverted-index rows)"
        )
    if self_mode:
        corpus_df = probe_df

    def as_index(df: DataFrame) -> DataFrame:
        if "toks" in df.columns and "n" in df.columns:
            cols = [id_col, "toks", "n"]
            if ID_BUCKET_COL in df.columns:
                cols.append(ID_BUCKET_COL)  # verify-side prune rides it
            return df.select(*cols)
        return jaccard_prefix_index(df, text_col, id_col)

    probe = as_index(probe_df)
    corpus = probe if self_mode else as_index(corpus_df)
    if token_order is None and corpus_inv is not None:
        # store path: order from the PROBE alone — batch-sized work.
        # Exact under ANY probe order: the corpus side is the FULL
        # inverted index (never prefix-filtered), so the containment
        # bound only needs the probe's own prefix under some fixed
        # order. The probe-∪-corpus df order below would re-explode
        # the corpus INDEX per probe batch — the one corpus-linear
        # step left in an otherwise delta-proportional path. Probe-
        # internal dfs approximate global rarity; pass a frozen
        # corpus ``token_order`` when collision volume matters.
        token_order = (
            probe.select(F.explode("toks").alias("_tok"))
            .groupBy("_tok")
            .agg(F.count(F.lit(1)).alias("_df"))
        )
    elif token_order is None and self_mode:
        # self-mode: probe IS the corpus, so the probe-∪-corpus
        # union below would count every token exactly twice — the
        # (2·df, token) sort order is the (df, token) order, so one
        # count pass gives the IDENTICAL ordering for half the work
        # (r14; _df is consumed only by _ordered_token_rows' sort)
        token_order = (
            probe.select(F.explode("toks").alias("_tok"))
            .groupBy("_tok")
            .agg(F.count(F.lit(1)).alias("_df"))
        )
    elif token_order is None:
        # one fixed global order over BOTH vocabularies: rarest-first
        # by combined document frequency (ties by token)
        token_order = (
            probe.select(F.explode("toks").alias("_tok"))
            .unionByName(corpus.select(F.explode("toks").alias("_tok")))
            .groupBy("_tok")
            .agg(F.count(F.lit(1)).alias("_df"))
        )
    else:
        cols = token_order.columns
        token_order = token_order.select(
            F.col(cols[0]).alias("_tok"), F.col(cols[1]).alias("_df")
        )
    # Pin the ordered probe table (r14): it feeds the prefix explode
    # AND the verification a-side rejoin (in self-mode also the
    # inverted index and the verification b-side below) — built
    # lazily, the tokenize+order+sort subtree executed once per leg.
    # Probe-vs-corpus: batch-sized, always cheap. Self-mode: corpus-
    # sized like curation's exact-survivors pin — the standing
    # 100 TB path is the persisted corpus_inv store; self-mode is
    # the one-off analysis shape where one materialized pass beats
    # four recomputes.
    probe_ordered = _ordered_token_rows(
        probe, id_col, token_order
    ).localCheckpoint(eager=True)
    pfx = _prefix_rows(probe_ordered, id_col, t, "a")
    if broadcast_probe is None:
        broadcast_probe = corpus_inv is not None
    if corpus_inv is not None:
        inv = corpus_inv
        meta = (
            inv.schema["_ptok"].metadata if "_ptok" in inv.columns else {}
        )
        if meta.get(_PREFIX_T_KEY) is not None:
            raise ValueError(
                "corpus_inv is a jaccard_prefix_store (prefix rows "
                f"only, built at threshold {meta[_PREFIX_T_KEY]}) — "
                "containment needs the FULL corpus token explosion "
                "or it silently misses pairs; build the store with "
                "containment_inverted_store"
            )
        if not meta.get(_CONTAIN_FULL_KEY):
            # the POSITIVE guard: only a frame stamped by
            # containment_inverted_store is known to hold the full
            # explosion — a metadata-stripped store (an intermediate
            # transform dropped the footer) or an accidentally
            # filtered frame would be accepted structurally and
            # silently miss pairs
            raise ValueError(
                "corpus_inv carries no full-explosion marker — only "
                "containment_inverted_store output is known to hold "
                "the FULL corpus token explosion (a metadata-stripped "
                "or filtered frame would silently miss pairs); "
                "rebuild the store with containment_inverted_store"
            )
        if PREFIX_BUCKET_COL in inv.columns:
            nb_meta = meta.get(_CONTAIN_NB_KEY)
            if n_token_buckets is None:
                n_token_buckets = nb_meta
            elif nb_meta is not None and int(nb_meta) != int(
                n_token_buckets
            ):
                raise ValueError(
                    f"corpus_inv was written with {int(nb_meta)} token "
                    f"buckets; n_token_buckets={int(n_token_buckets)} "
                    "would silently miss pairs"
                )
            if n_token_buckets is None:
                raise ValueError(
                    "a bucketed corpus_inv needs n_token_buckets (the "
                    "bucket count the store was written with)"
                )
            pfx = pfx.withColumn(
                PREFIX_BUCKET_COL,
                F.pmod(F.xxhash64("_ptok"), F.lit(int(n_token_buckets))),
            ).localCheckpoint(eager=True)
            # STATIC partition pruning (the band-store / id-bucket
            # contract): the probe's touched buckets are a bounded
            # driver list (≤ n_token_buckets values, off the
            # checkpointed batch-sized prefix rows — one computation
            # shared with the candidate join), and an explicit IN on
            # the partition column prunes the store scan at PLANNING
            # time — guaranteed at ANY probe size, where DPP
            # eligibility silently lapses once broadcast_probe=False
            touched = [
                r[0]
                for r in pfx.select(PREFIX_BUCKET_COL)
                .distinct()
                .collect()
            ]
            inv = inv.filter(F.col(PREFIX_BUCKET_COL).isin(touched))
    else:
        # self-mode: the inverted index is the SAME token sets the
        # pinned ordered table holds (array order is irrelevant to an
        # inverted index), so explode the checkpoint instead of
        # re-tokenizing the corpus (r14)
        inv_src = probe_ordered if self_mode else corpus
        inv = inv_src.select(
            F.col(id_col).alias("_id_b"), F.explode("toks").alias("_ptok")
        )
        if not self_mode and prefilter_index:
            inv = inv.join(
                F.broadcast(pfx.select("_ptok").distinct()),
                "_ptok",
                "left_semi",
            )
    if broadcast_probe:
        pfx = F.broadcast(pfx)
    cond = pfx["_ptok"] == inv["_ptok"]
    if self_mode:
        cond = cond & (F.col("_id_a") != F.col("_id_b"))
    if corpus_inv is not None and PREFIX_BUCKET_COL in inv.columns:
        cond = (pfx[PREFIX_BUCKET_COL] == inv[PREFIX_BUCKET_COL]) & cond
    cand = pfx.join(inv, cond).select("_id_a", "_id_b").distinct()
    return _verify_pairs(
        cand,
        probe_ordered,
        # self-mode: verify against the pinned ordered arrays —
        # array_intersect sizes are order-independent, so the score
        # is bit-identical and the corpus is never re-tokenized (r14)
        probe_ordered if self_mode else corpus,
        id_col,
        t,
        "containment",
        containment=True,
        # candidate-id pruning pays off whenever the corpus is a
        # stored index: always with the inverted store, and also
        # store-less when the index carries the id-bucket layout
        # (verification then scan-prunes to candidate buckets)
        prune_b=corpus_inv is not None
        or (not self_mode and ID_BUCKET_COL in corpus.columns),
        prune_b_broadcast=broadcast_probe,
    )
