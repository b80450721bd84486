"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is forced end-to-end with a count over its result (no
collect of payload rows — the measured work is the distributed plan,
not driver materialization). Every query whose first shot exceeds
1.5s is re-measured twice more, interleaved across the slow set, and
reports its median of 3 (r14 — kills the cold-first-shot artifact
that inflated two consecutive rounds of shipped single-shot
numbers); per-shot lists land in BENCH_SIDECAR.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from mydatasyncer_spark.session import get_spark

# Headline subset: the heavier/representative queries. Kept explicit
# so bench timings stay comparable across rounds even as queries()
# grows.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "diff_insert",
    "diff_update",
    "diff_delete",
    "diff_pruned_localized",
    "diff_full_localized",
    "canonical_stringify",
    "pk_validation_histogram",
    "duplicate_key_detection",
    "sessionization",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "asof_purchase_view",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    # UI on: the jaccard-ingest scale probe reads per-stage shuffle
    # bytes from the status REST API (deterministic, unlike wall time)
    spark = get_spark(
        "mydatasyncer-bench",
        **{
            "spark.ui.enabled": "true",
            # the shuffle probe diffs the stages endpoint; keep far
            # more stage history than a bench run produces so eviction
            # can never corrupt a delta
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = entry_mod.queries()
    names = [n for n in HEADLINE if n in registry] + [
        n for n in sorted(registry) if n not in HEADLINE
    ]
    # Untimed warm-up: scan every table once and run one tiny
    # aggregate, so the timed loop measures query execution, not
    # first-use JVM/codegen warm-up (which otherwise lands entirely
    # on whichever query happens to run first).
    from mydatasyncer_spark.contract import TABLES, table

    warm_start = time.perf_counter()
    for t in TABLES:
        table(spark, sf_dir, t).count()
    # IO-side calibration: the r6 drift experiment showed a 2x
    # whole-run inflation that the CPU calibration did NOT track
    # (1.07s on the slow run vs 1.29s on the fast one) — the drift
    # lives in the IO path, which this first-touch scan captures.
    warmup_scan = round(time.perf_counter() - warm_start, 3)
    registry["q1_pricing_summary"](spark, sf_dir).count()
    # ... and spin up the Python worker pool (mapInPandas paths fork
    # one interpreter per core on first use — session setup, not query
    # execution)
    spark.range(0, 1024, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).count()
    # ... and the Arrow createDataFrame/collect machinery (store-frame
    # builders resolve through it; its first use imports the pandas
    # conversion stack — session setup, not query execution)
    import pandas as _pd

    spark.createDataFrame(
        _pd.DataFrame({"i": _pd.Series([0], dtype="int32")})
    ).collect()
    # Fixed calibration workload (pinned shape, no IO): measures this
    # box's compute speed at bench time so cross-round per-query
    # numbers can be normalized against machine drift (r5's uniform
    # ~20-45% slowdown on untouched code burned a round of signal).
    cal_start = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr(
        "sum(pmod(id * 2654435761, 1000003)) AS s"
    ).collect()
    calibration = round(time.perf_counter() - cal_start, 3)
    # The localized-diff pair exists to MEASURE the pruning win, and
    # the unpruned baseline showed 5-23s run-to-run variance in single
    # shots (BENCH_r04 review) — report the median of 3, with the two
    # queries' repetitions INTERLEAVED (full, pruned, full, pruned...)
    # so box-wide load drift between their timing windows cannot
    # invert the comparison; `value` stays the sum of recorded
    # (median) timings.
    pair = ("diff_full_localized", "diff_pruned_localized")
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # every shot of every query, for the sidecar (the printed line
    # carries only the medians)
    shots: dict[str, list[float]] = {}

    def timed_fn(fn) -> float:
        start = time.perf_counter()
        fn().count()
        return time.perf_counter() - start

    def timed(name: str) -> float:
        return timed_fn(lambda: registry[name](spark, sf_dir))

    def run_pair(pair_fns: dict) -> None:
        # interleaved median-of-3; an error lands on the member that
        # threw, the partner keeps its medians
        samples = {n: [] for n in pair_fns}
        for _ in range(3):
            for n, fn in pair_fns.items():
                if n in errors:
                    continue
                try:
                    samples[n].append(timed_fn(fn))
                except Exception as exc:
                    errors[n] = f"{type(exc).__name__}: {exc}"[:200]
        for n in pair_fns:
            if samples[n] and n not in errors:
                shots[n] = [round(x, 4) for x in samples[n]]
                timings[n] = round(
                    sorted(samples[n])[len(samples[n]) // 2], 4
                )

    run_pair({n: (lambda n=n: registry[n](spark, sf_dir)) for n in pair})

    # Stored-order Jaccard ingest pair (r8): the gate queries cannot
    # show the stored-order win because they build the ordering inside
    # the measured query — here the index/order build is UNTIMED setup
    # (that is the point of a stored index), and the timed part is the
    # daily-ingest shape: a SMALL batch against a LARGE stored corpus.
    # The reorder member re-sorts the whole stored corpus per ingest;
    # the stored member slices prefixes off the pre-ordered arrays.
    import json as _json
    import shutil
    import tempfile
    import urllib.request

    def shuffle_by_stage() -> dict:
        url = (
            f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
            f"{spark.sparkContext.applicationId}/stages"
        )
        with urllib.request.urlopen(url) as r:
            return {
                (s["stageId"], s.get("attemptId", 0)): s.get(
                    "shuffleWriteBytes", 0
                )
                for s in _json.load(r)
            }

    jaccard_shuffle_mb: dict[str, float] = {}
    jtmp = tempfile.mkdtemp(prefix="bench_jaccard_")
    try:
        from mydatasyncer_spark.contract import table as _table
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
            jaccard_ordered_index,
            jaccard_prefix_index,
            jaccard_token_order,
        )

        docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
        batch = docs.filter("doc_id % 100 = 1")
        # untimed setup: stored raw + ordered indexes at two corpus
        # sizes (full = every even id, quarter = every eighth)
        stored = {}
        for tag, pred in (("full", "doc_id % 2 = 0"), ("quarter", "doc_id % 8 = 0")):
            idx = jaccard_prefix_index(docs.filter(pred))
            order = jaccard_token_order(idx)
            idx.write.parquet(f"{jtmp}/idx_{tag}")
            order.write.parquet(f"{jtmp}/order_{tag}")
            jaccard_ordered_index(idx, token_order=order).write.parquet(
                f"{jtmp}/oidx_{tag}"
            )
            stored[tag] = (
                spark.read.parquet(f"{jtmp}/idx_{tag}"),
                spark.read.parquet(f"{jtmp}/oidx_{tag}"),
                spark.read.parquet(f"{jtmp}/order_{tag}"),
            )

        def reorder_fn(tag):
            return lambda: jaccard_join_incremental(
                batch, stored[tag][0], threshold=0.8
            )

        def stored_fn(tag):
            return lambda: jaccard_join_incremental(
                batch, stored[tag][1], threshold=0.8,
                token_order=stored[tag][2], corpus_ordered=True,
            )

        # wall-clock pair on the FULL corpus (interleaved median-of-3)
        run_pair(
            {
                "jaccard_ingest_reorder": reorder_fn("full"),
                "jaccard_ingest_stored": stored_fn("full"),
            }
        )
        # the scale signal wall time cannot show at sf0.1: per-ingest
        # SHUFFLE bytes as the corpus grows. Candidate volume is
        # corpus-proportional on this near-dup-dense fixture and would
        # swamp the signal, so the probe ingests a TOKEN-DISJOINT
        # batch (every token prefixed) — zero candidates, isolating
        # index-side cost: the reorder path re-sorts the whole corpus
        # (shuffle grows with the index), the stored path's shuffles
        # are batch-sized (flat).
        from pyspark.sql import functions as F

        disjoint = batch.withColumn(
            "text", F.regexp_replace("text", r"(\w+)", r"zz$1")
        )

        def probe_reorder(tag):
            return jaccard_join_incremental(
                disjoint, stored[tag][0], threshold=0.8
            )

        def probe_stored(tag):
            return jaccard_join_incremental(
                disjoint, stored[tag][1], threshold=0.8,
                token_order=stored[tag][2], corpus_ordered=True,
            )

        for name, df in (
            ("reorder_quarter", probe_reorder("quarter")),
            ("reorder_full", probe_reorder("full")),
            ("stored_quarter", probe_stored("quarter")),
            ("stored_full", probe_stored("full")),
        ):
            # sum only stages NEW since the snapshot: immune to the
            # UI evicting old stages between the two reads
            before = shuffle_by_stage()
            df.count()
            after = shuffle_by_stage()
            delta = sum(v for k, v in after.items() if k not in before)
            jaccard_shuffle_mb[name] = round(delta / 1e6, 3)
    except Exception as exc:
        errors["jaccard_ingest_pair"] = f"{type(exc).__name__}: {exc}"[:200]
    finally:
        shutil.rmtree(jtmp, ignore_errors=True)

    # Localized-diff scale probe (r15): at sf0.1 the localized pair's
    # WALL times cannot show the pruning win — both members are
    # dominated by single-split serial scans and per-job overhead on a
    # 20 MB page-cache-resident fixture. The scale signal is SHUFFLE
    # BYTES in the 100 TB configuration: the probe reads per-stage
    # shuffleWriteBytes deltas from the UI API (deterministic, like
    # the jaccard probe above). full shuffles every (key, fingerprint)
    # row into the classification join; the pinned pruned diff
    # shuffles only the changed-bucket slice (3/64 of the fixture)
    # plus 64-row bucket summaries. minParallelism=1
    # reproduces the at-scale plan shape: the pin path's
    # ensure_min_parallelism widen never fires on real multi-split
    # inputs, and its local-fixture-only exchange would otherwise
    # drown the scale signal this probe exists to record.
    diff_localized_shuffle_mb: dict[str, float] = {}
    try:
        from mydatasyncer_spark.contract import (
            localized_bucket,
            snapshot_db_localized,
            snapshot_file_localized,
        )
        from mydatasyncer_spark.operators.diff import (
            diff_counts,
            diff_counts_pruned,
        )
        from mydatasyncer_spark.operators.partitioning import (
            MIN_PARALLELISM_CONF,
        )

        spark.conf.set(MIN_PARALLELISM_CONF, "1")
        _lf = snapshot_file_localized(spark, sf_dir)
        _ld = snapshot_db_localized(spark, sf_dir)
        for probe_name, probe_fn in (
            (
                "full",
                lambda: diff_counts(_lf, _ld, "o_pk", _lf.columns),
            ),
            (
                "pruned_pin",
                lambda: diff_counts_pruned(
                    _lf,
                    _ld,
                    "o_pk",
                    _lf.columns,
                    n_buckets=64,
                    bucket_fn=localized_bucket,
                ),
            ),
        ):
            before = shuffle_by_stage()
            probe_fn().count()
            after = shuffle_by_stage()
            diff_localized_shuffle_mb[probe_name] = round(
                sum(v for k, v in after.items() if k not in before) / 1e6,
                3,
            )
    except Exception as exc:
        errors["diff_localized_probe"] = f"{type(exc).__name__}: {exc}"[:200]
    finally:
        try:
            spark.conf.unset(MIN_PARALLELISM_CONF)
        except Exception:
            pass

    # Deployment-shape IVF-PQ probe pair (r12): the PQ gate queries
    # build the encoding INLINE, so their wall time is dominated by
    # constant driver-side analysis/codegen of the doubled literal
    # surface — a number that does NOT scale with the corpus and is
    # not what a deployed probe pays. Here the store build + parquet
    # write is UNTIMED setup (that is the point of a stored index)
    # and the timed part is the probe over the PERSISTED store: raw
    # codes vs IVFADC residual codes at the identical stored byte
    # budget. The residual member's extra qc dot is query-side only
    # (zero per-candidate cost), so the two must probe at PARITY
    # within box noise despite residual ranking better — measured
    # medians at sf0.1: raw 2.04s / residual 2.24s (r12, quiet box).
    # Previously a hand-measured PARITY.md note; now recorded
    # per-round in BENCH_r*.json.
    ptmp = tempfile.mkdtemp(prefix="bench_pq_")
    try:
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators import similarity as S

        emb = _table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        pq_queries = emb.filter(F.col("vec_id") % 97 == 0)
        for tag, residual in (("raw", False), ("residual", True)):
            S.pq_index(
                emb, 64, m=8, ksub=16, n_centroids=8, residual=residual
            ).write.partitionBy("bucket").parquet(f"{ptmp}/{tag}")
        pq_stores = {
            tag: spark.read.parquet(f"{ptmp}/{tag}")
            for tag in ("raw", "residual")
        }

        def pq_probe(tag):
            # the estimator (raw ADC vs centroid-dot + residual ADC)
            # resolves from the store's own metadata — the probe call
            # is IDENTICAL for both members, as it is in deployment
            return lambda: S.pq_topk_indexed(
                pq_queries, pq_stores[tag], 64, k=5, n_centroids=8
            )

        run_pair(
            {
                "ann_pq_probe_stored_raw": pq_probe("raw"),
                "ann_pq_probe_stored_residual": pq_probe("residual"),
            }
        )
    except Exception as exc:
        errors["ann_pq_probe_pair"] = f"{type(exc).__name__}: {exc}"[:200]
    finally:
        shutil.rmtree(ptmp, ignore_errors=True)

    # Median-of-3 interleaved for every non-trivial query (r14; the
    # r13 verdict's prescription after two consecutive rounds of
    # single-shot noise burned the perf signal — shipped r13 single
    # shots ran 3-7x their judge-measured medians on untouched code).
    # Pass 1 gives every query one shot, in registry order. Every
    # query whose first shot exceeds the threshold then gets two more
    # shots, INTERLEAVED across the whole slow set (q1..qk, q1..qk),
    # so box-load drift during the re-measure window hits all of them
    # symmetrically instead of whichever query owned that second. The
    # median of 3 discards the cold-first-shot artifact; sub-threshold
    # queries keep their single shot (their absolute error is bounded
    # by the threshold).
    SLOW_THRESHOLD = 1.5
    for name in names:
        if name in pair:
            continue
        try:
            shots[name] = [round(timed(name), 4)]
        except Exception as exc:  # one broken query must not void the run
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
    slow = [
        n
        for n in names
        if n not in pair
        and n not in errors
        and shots.get(n)
        and shots[n][0] > SLOW_THRESHOLD
    ]
    for _ in range(2):
        for name in slow:
            if name in errors:
                continue
            try:
                shots[name].append(round(timed(name), 4))
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
    for name, s in shots.items():
        if name in errors or name in timings:
            continue  # pairs already recorded their medians
        timings[name] = sorted(s)[len(s) // 2]
    total = round(sum(timings.values()), 4)

    # The driver captures only the LAST 2000 chars of output — a JSON
    # line longer than that loses its head and becomes unparseable
    # (this voided BENCH_r02). Emit 2-decimal timings and, if still
    # too long, keep only the slowest queries plus a suppressed-count
    # marker; `value` always remains the total over ALL timed queries.
    # full per-shot record to a sidecar file: the printed line is
    # capped at ~1800 chars (driver capture), the sidecar is not —
    # it is what variance questions get answered from
    sidecar = {
        "sf": sf,
        "calibration": calibration,
        "warmup_scan": warmup_scan,
        "slow_threshold_sec": SLOW_THRESHOLD,
        "method": "median-of-3 interleaved for first-shot > threshold",
        "shots": shots,
        "errors": errors,
    }
    # One file per core-count config (r15): the driver's 8-core
    # scaling run used to clobber BENCH_SIDECAR.json and lose the
    # 32-core per-shot record for the ~100 suppressed fast queries.
    # The canonical name is still written (existing tooling reads
    # it); the _c{N} twin, written only when SPARK_GRAFT_CPUS names
    # the core count, survives a multi-config round.
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    here = os.path.dirname(os.path.abspath(__file__))
    fnames = ["BENCH_SIDECAR.json"]
    if cpus:
        fnames.append(f"BENCH_SIDECAR_c{cpus}.json")
    for fname in fnames:
        try:
            with open(os.path.join(here, fname), "w") as fh:
                json.dump(sidecar, fh, indent=1, sort_keys=True)
        except OSError:
            pass

    def payload(qdict: dict[str, float], suppressed: int) -> dict:
        out = {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": qdict,
            "sf": sf,
            "calibration": calibration,
            "warmup_scan": warmup_scan,
            "timing": "median3",
        }
        if jaccard_shuffle_mb:
            out["jaccard_ingest_shuffle_mb"] = jaccard_shuffle_mb
        if diff_localized_shuffle_mb:
            out["diff_localized_shuffle_mb"] = diff_localized_shuffle_mb
        if suppressed:
            out["suppressed_fast_queries"] = suppressed
        if errors:
            out["errors"] = {
                k: v[:60] for k, v in list(errors.items())[:5]
            }
        return out

    shown = {k: round(v, 2) for k, v in timings.items()}
    line = json.dumps(payload(shown, 0))
    if len(line) > 1800:
        by_slow = sorted(timings, key=timings.get, reverse=True)
        keep = len(by_slow)
        while keep > 1 and len(line) > 1800:
            keep = max(1, keep - 5)
            shown = {k: round(timings[k], 2) for k in by_slow[:keep]}
            line = json.dumps(payload(shown, len(timings) - keep))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
