"""r11: self-describing stores for the TRAINED MODEL artifacts —
the classifier weights(+bias+drift baseline) and the BPE merge table.
Every INDEX already rode its own provenance (recorded_centroids /
recorded_codebooks / the LSH family); these close the gap the r10
verdict named: model artifacts lived as Python lists threaded through
configs, so a restarted scoring stream had to be handed the right
weights AND the right baseline by hand, and nothing could refuse a
mismatched pairing. Contract pinned here: parquet round-trip
resolves everything configless; stripped provenance, mixed appends,
and rows contradicting their own fingerprint all REFUSE."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mydatasyncer_spark.operators.classify import (
    model_fingerprint,
    quality_model_frame,
    quality_weight_values,
    recorded_model,
    score_documents,
)
from mydatasyncer_spark.operators.tokenizer import (
    bpe_encode,
    bpe_merges_frame,
    bpe_pieces_per_word,
    bpe_train,
    merges_fingerprint,
    recorded_merges,
)


class TestQualityModelStore:
    def _store(self, spark, tmp_path, baseline=(0.25, 0.5, 0.25)):
        w = quality_weight_values(16)
        path = str(tmp_path / "model")
        quality_model_frame(
            spark, w, bias=-0.1, baseline=list(baseline)
        ).write.mode("overwrite").parquet(path)
        return w, path

    def test_round_trip_resolves_weights_bias_baseline(
        self, spark, tmp_path
    ):
        w, path = self._store(spark, tmp_path)
        rw, rb, rbase = recorded_model(spark.read.parquet(path))
        assert rw == w
        assert rb == -0.1
        assert rbase == [0.25, 0.5, 0.25]
        # scoring under the resolved artifact is EXACTLY scoring
        # under the originals
        docs = spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma")],
            "doc_id long, text string",
        )
        a = {
            r["doc_id"]: r["model_quality"]
            for r in score_documents(docs, w, -0.1).collect()
        }
        b = {
            r["doc_id"]: r["model_quality"]
            for r in score_documents(docs, rw, rb).collect()
        }
        assert a == b

    def test_baseline_optional(self, spark, tmp_path):
        w = quality_weight_values(8)
        path = str(tmp_path / "nobase")
        quality_model_frame(spark, w, bias=0.2).write.parquet(path)
        rw, rb, rbase = recorded_model(spark.read.parquet(path))
        assert (rw, rb, rbase) == (w, 0.2, None)

    def test_stripped_provenance_refused(self, spark, tmp_path):
        _, path = self._store(spark, tmp_path)
        stripped = spark.read.parquet(path).select(
            F.col("feature").alias("feature", metadata={}), "weight"
        )
        with pytest.raises(ValueError, match="records no provenance"):
            recorded_model(stripped)

    def test_tampered_rows_refused_by_fingerprint(
        self, spark, tmp_path
    ):
        _, path = self._store(spark, tmp_path)
        store = spark.read.parquet(path)
        tampered = store.select(
            "feature",
            F.when(F.col("feature") == 3, F.col("weight") * 2)
            .otherwise(F.col("weight"))
            .alias("weight"),
        )
        with pytest.raises(ValueError, match="recorded fingerprint"):
            recorded_model(tampered)

    def test_mixed_append_refused(self, spark, tmp_path):
        _, path = self._store(spark, tmp_path)
        # a second training run appended into the same path: feature
        # ids no longer form exactly 0..n-1
        quality_model_frame(
            spark, quality_weight_values(16, seed="other"), bias=0.0
        ).write.mode("append").parquet(path)
        with pytest.raises(ValueError, match="mixed appends"):
            recorded_model(spark.read.parquet(path))

    def test_not_a_store_refused(self, spark):
        junk = spark.createDataFrame([(1, "x")], "a int, b string")
        with pytest.raises(ValueError, match="not a quality-model"):
            recorded_model(junk)


class TestBpeMergeStore:
    def _corpus(self, spark):
        rows = [
            (i, "lower lowest newer newest wider widest " * 3)
            for i in range(10)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_round_trip_preserves_order_and_encoding(
        self, spark, tmp_path
    ):
        corpus = self._corpus(spark)
        merges = bpe_train(corpus, n_merges=30)
        assert len(merges) > 5
        base = bpe_pieces_per_word(corpus, merges)
        path = str(tmp_path / "merges")
        # scramble row order on write: rank, not file order, is the
        # merge priority the reader must reconstruct
        bpe_merges_frame(
            spark, merges, baseline_pieces_per_word=base
        ).repartition(8).write.parquet(path)
        got, got_base = recorded_merges(spark.read.parquet(path))
        assert got == [tuple(m) for m in merges]
        assert got_base == pytest.approx(base)
        # encoding under the resolved table is byte-identical
        a = [
            tuple(r["subwords"])
            for r in bpe_encode(corpus, merges)
            .orderBy("doc_id")
            .collect()
        ]
        b = [
            tuple(r["subwords"])
            for r in bpe_encode(corpus, got)
            .orderBy("doc_id")
            .collect()
        ]
        assert a == b

    def test_stripped_provenance_refused(self, spark, tmp_path):
        merges = bpe_train(self._corpus(spark), n_merges=10)
        path = str(tmp_path / "m")
        bpe_merges_frame(spark, merges).write.parquet(path)
        stripped = spark.read.parquet(path).select(
            F.col("rank").alias("rank", metadata={}), "left", "right"
        )
        with pytest.raises(ValueError, match="records no fingerprint"):
            recorded_merges(stripped)

    def test_tampered_rows_refused_by_fingerprint(
        self, spark, tmp_path
    ):
        merges = bpe_train(self._corpus(spark), n_merges=10)
        path = str(tmp_path / "m")
        bpe_merges_frame(spark, merges).write.parquet(path)
        tampered = spark.read.parquet(path).select(
            "rank",
            F.when(F.col("rank") == 1, F.lit("zz"))
            .otherwise(F.col("left"))
            .alias("left"),
            "right",
        )
        with pytest.raises(ValueError, match="recorded fingerprint"):
            recorded_merges(tampered)

    def test_mixed_append_refused(self, spark, tmp_path):
        corpus = self._corpus(spark)
        merges = bpe_train(corpus, n_merges=10)
        path = str(tmp_path / "m")
        bpe_merges_frame(spark, merges).write.parquet(path)
        bpe_merges_frame(spark, merges[:4]).write.mode(
            "append"
        ).parquet(path)
        with pytest.raises(ValueError, match="mixed appends"):
            recorded_merges(spark.read.parquet(path))

    def test_fingerprint_is_order_sensitive(self):
        m = [("a", "b"), ("c", "d")]
        assert merges_fingerprint(m) != merges_fingerprint(m[::-1])
        assert model_fingerprint([1.0, 2.0], 0.0) != model_fingerprint(
            [2.0, 1.0], 0.0
        )


class TestStoreReaderProperties:
    """Hypothesis: round-trip identity over arbitrary artifacts —
    weights including extremes/duplicated values, merge tables with
    repeated symbols — and fingerprint sensitivity to any single
    perturbation."""

    def test_model_round_trip_arbitrary_weights(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        @settings(
            max_examples=15,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            w=st.lists(
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
                min_size=1,
                max_size=64,
            ),
            b=st.floats(
                min_value=-10, max_value=10, allow_nan=False
            ),
        )
        def check(w, b):
            frame = quality_model_frame(spark, w, bias=b)
            rw, rb, rbase = recorded_model(frame)
            assert rw == [float(x) for x in w]
            assert rb == float(b)
            assert rbase is None

        check()

    def test_merges_round_trip_arbitrary_tables(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        sym = st.text(
            alphabet="ab</w>", min_size=1, max_size=6
        )

        @settings(
            max_examples=15,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            merges=st.lists(
                st.tuples(sym, sym), min_size=1, max_size=40
            )
        )
        def check(merges):
            frame = bpe_merges_frame(spark, merges)
            got, base = recorded_merges(frame)
            assert got == merges
            assert base is None

        check()


class TestConfiglessDrift:
    """r11: drift monitoring resolved entirely from the stores — the
    configless path, and the refusal when a store was persisted
    without its baseline."""

    def test_model_drift_from_store_matches_explicit(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.classify import (
            model_drift_report,
            score_drift_report,
            score_histogram,
        )

        docs = spark.createDataFrame(
            [(i, f"tok{i % 9} tok{(i * 3) % 9} filler") for i in range(40)],
            "doc_id long, text string",
        )
        w = quality_weight_values(16)
        base = score_histogram(docs, w, -0.1)
        path = str(tmp_path / "m")
        quality_model_frame(spark, w, bias=-0.1, baseline=base).write.parquet(
            path
        )
        store = spark.read.parquet(path)
        a = model_drift_report(docs, store)
        b = score_drift_report(docs, w, base, bias=-0.1)
        assert a == b
        assert a["psi"] < 0.01  # own corpus: fixpoint
        # baseline-less store refuses
        nobase = str(tmp_path / "nb")
        quality_model_frame(spark, w, bias=-0.1).write.parquet(nobase)
        with pytest.raises(ValueError, match="records no baseline"):
            model_drift_report(docs, spark.read.parquet(nobase))

    def test_bpe_drift_from_store_matches_explicit(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.tokenizer import (
            bpe_drift_from_store,
            bpe_drift_report,
        )

        corpus = spark.createDataFrame(
            [(i, "lower lowest newer newest " * 3) for i in range(8)],
            "doc_id long, text string",
        )
        merges = bpe_train(corpus, n_merges=15)
        base = bpe_pieces_per_word(corpus, merges)
        path = str(tmp_path / "m")
        bpe_merges_frame(spark, merges, base).write.parquet(path)
        store = spark.read.parquet(path)
        a = bpe_drift_from_store(corpus, store)
        b = bpe_drift_report(corpus, merges, base)
        assert a == b
        assert abs(a["compression_ratio"] - 1.0) < 1e-9
        nobase = str(tmp_path / "nb")
        bpe_merges_frame(spark, merges).write.parquet(nobase)
        with pytest.raises(ValueError, match="records no"):
            bpe_drift_from_store(corpus, spark.read.parquet(nobase))


class TestStagedModelStoreRewrite:
    """r12 (r11 verdict, what's-missing #5): model-store rewrites go
    through the pq_rebuild staging discipline — write_model_store
    stages the new store to a sibling ``_staging`` dir (``_SUCCESS``-
    gated) and only then swaps it in: a crash anywhere in artifact
    production leaves the OLD store serving untouched, and the final
    swap's residual window is entered with the complete staged copy
    on disk, so it closes mechanically (restore or next write) —
    never by retraining. A standing configless stream then keeps
    scoring under the old weights through a crashed retrain instead
    of going down on a half-deleted store its reader refuses.
    The restore rule is SUPERSEDE, never union: a write-once store
    merged with its predecessor mixes feature rows from two training
    runs — the exact state the refusal matrix rejects."""

    def _frames(self, spark):
        w1 = quality_weight_values(16)
        w2 = quality_weight_values(16, seed="retrained")
        return (
            w1,
            quality_model_frame(spark, w1, bias=-0.1),
            w2,
            quality_model_frame(spark, w2, bias=0.3),
        )

    def test_write_round_trips_and_cleans_staging(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import (
            write_model_store,
        )

        w1, f1, w2, f2 = self._frames(spark)
        path = str(tmp_path / "model")
        assert write_model_store(spark, f1, path) == 16
        assert recorded_model(spark.read.parquet(path))[:2] == (w1, -0.1)
        assert not (tmp_path / "model_staging").exists()
        # a retrain's rewrite swaps in the new store whole
        write_model_store(spark, f2, path)
        assert recorded_model(spark.read.parquet(path))[:2] == (w2, 0.3)
        assert not (tmp_path / "model_staging").exists()

    def test_crash_mid_staging_leaves_old_store_serving(
        self, spark, tmp_path
    ):
        """Retrain dies while WRITING the staged copy: the store path
        was never touched — the old model keeps serving — and the
        partial staging is dropped by the next restore/write."""
        from mydatasyncer_spark.operators.maintenance import (
            restore_model_store,
            write_model_store,
        )

        w1, f1, _, f2 = self._frames(spark)
        path = str(tmp_path / "model")
        write_model_store(spark, f1, path)
        # simulate the crash: staged copy present but its write job
        # never completed (no _SUCCESS marker)
        f2.write.parquet(path + "_staging")
        (tmp_path / "model_staging" / "_SUCCESS").unlink()
        # the serving path is untouched — a stream's per-batch resolve
        # still scores under the OLD weights, it never goes down
        assert recorded_model(spark.read.parquet(path))[:2] == (w1, -0.1)
        assert restore_model_store(spark, path) is False
        assert not (tmp_path / "model_staging").exists()
        assert recorded_model(spark.read.parquet(path))[:2] == (w1, -0.1)

    def test_crash_between_staging_and_swap_adopts_staged(
        self, spark, tmp_path
    ):
        """Retrain dies AFTER staging completed but before the swap:
        the old store serves until restore, which adopts the staged
        copy whole (supersede — never union with the old rows)."""
        from mydatasyncer_spark.operators.maintenance import (
            restore_model_store,
            write_model_store,
        )

        w1, f1, w2, f2 = self._frames(spark)
        path = str(tmp_path / "model")
        write_model_store(spark, f1, path)
        f2.write.parquet(path + "_staging")  # complete: has _SUCCESS
        # crash window: the OLD store is still the one serving
        assert recorded_model(spark.read.parquet(path))[:2] == (w1, -0.1)
        assert restore_model_store(spark, path) is True
        assert not (tmp_path / "model_staging").exists()
        assert recorded_model(spark.read.parquet(path))[:2] == (w2, 0.3)

    def test_crash_mid_swap_recovers_new_store(self, spark, tmp_path):
        """Retrain dies mid-overwrite of the path: the complete
        staged copy replays — the next write_model_store resolves it
        before writing, so even unattended the store self-heals."""
        import shutil

        from mydatasyncer_spark.operators.maintenance import (
            write_model_store,
        )

        w1, f1, w2, f2 = self._frames(spark)
        path = str(tmp_path / "model")
        write_model_store(spark, f1, path)
        f2.write.parquet(path + "_staging")
        shutil.rmtree(path)  # mid-overwrite: target half-deleted
        # the next retrain's write (not an explicit restore)
        # SUPERSEDES the crashed swap outright: its staging clobbers
        # the pending copy and its own swap repairs the path
        write_model_store(spark, f1, path)
        assert recorded_model(spark.read.parquet(path))[:2] == (w1, -0.1)
        assert not (tmp_path / "model_staging").exists()

    def test_bpe_store_same_protocol(self, spark, tmp_path):
        """The merge-table store rides the identical discipline —
        write_model_store is store-agnostic (provenance lives in the
        frame's own footer and survives the staging round-trip)."""
        from mydatasyncer_spark.operators.maintenance import (
            restore_model_store,
            write_model_store,
        )

        corpus = spark.createDataFrame(
            [(i, "lower lowest newer newest " * 3) for i in range(8)],
            "doc_id long, text string",
        )
        merges = bpe_train(corpus, n_merges=12)
        base = bpe_pieces_per_word(corpus, merges)
        path = str(tmp_path / "bpe")
        write_model_store(spark, bpe_merges_frame(spark, merges, base), path)
        rm, rb = recorded_merges(spark.read.parquet(path))
        assert rm == merges and rb == base
        # crash window between staging and swap, then adopt
        retrained = bpe_train(corpus, n_merges=6)
        bpe_merges_frame(spark, retrained).write.parquet(path + "_staging")
        assert recorded_merges(spark.read.parquet(path))[0] == merges
        assert restore_model_store(spark, path) is True
        assert recorded_merges(spark.read.parquet(path))[0] == retrained

    def test_rewrite_from_frame_derived_from_the_store_itself(
        self, spark, tmp_path
    ):
        """The re-baseline flow: read the stored table, stamp a new
        baseline onto it, write it back to the SAME path. Because
        write_model_store never touches the path before the staged
        copy is complete, a frame that lazily reads the store is safe
        — no restore-first rewrite can slide under its evaluation."""
        from mydatasyncer_spark.operators.maintenance import (
            write_model_store,
        )
        from mydatasyncer_spark.operators.text import (
            recorded_unigram_baseline,
            unigram_logprob_table,
            unigram_model_frame,
            unigram_perplexity,
        )

        corpus = spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon " * 2) for i in range(6)],
            "doc_id long, text string",
        )
        path = str(tmp_path / "lm")
        model = unigram_logprob_table(corpus)
        base1 = {"lo": 0.0, "hi": 2.0, "hist": [0.5, 0.5],
                 "oov_fraction": 0.0, "docs": 6}
        write_model_store(
            spark, unigram_model_frame(model, base1), path
        )
        # derive the rewrite INPUT from the stored table itself
        stored = spark.read.parquet(path)
        base2 = {"lo": 0.1, "hi": 2.1, "hist": [0.25, 0.75],
                 "oov_fraction": 0.01, "docs": 6}
        write_model_store(
            spark, unigram_model_frame(stored, base2), path
        )
        after = spark.read.parquet(path)
        got = recorded_unigram_baseline(after)
        assert got["hist"] == [0.25, 0.75] and got["lo"] == 0.1
        # the logprob rows themselves survived the self-read rewrite
        a = {
            (r["doc_id"], r["perplexity"])
            for r in unigram_perplexity(
                corpus, model=model, oov=False
            ).collect()
        }
        b = {
            (r["doc_id"], r["perplexity"])
            for r in unigram_perplexity(
                corpus, model=after, oov=False
            ).collect()
        }
        assert a == b


class TestModelStoreReport:
    """r12: the ops probe over the write-once stores — reports
    instead of refusing (the readers' refusals surface as
    valid=False + their own message), and exposes pending_staging
    like every other store family's report."""

    def test_healthy_quality_store(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import (
            model_store_report,
            write_model_store,
        )

        path = str(tmp_path / "m")
        write_model_store(
            spark,
            quality_model_frame(
                spark, quality_weight_values(16), bias=-0.1,
                baseline=[0.5, 0.5],
            ),
            path,
        )
        r = model_store_report(spark, path)
        assert r["kind"] == "quality_classifier"
        assert r["valid"] and r["readable"]
        assert r["n_features"] == 16 and r["bias"] == -0.1
        assert r["baseline_recorded"] is True
        assert r["pending_staging"] is False
        assert r["error"] is None

    def test_tampered_store_reports_not_raises(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import (
            model_store_report,
        )

        path = str(tmp_path / "m")
        quality_model_frame(
            spark, quality_weight_values(8), bias=0.0
        ).write.parquet(path)
        # mixed append — the reader refuses; the report must SAY so
        quality_model_frame(
            spark, quality_weight_values(8, seed="other"), bias=1.0
        ).write.mode("append").parquet(path)
        r = model_store_report(spark, path)
        assert r["kind"] == "quality_classifier"
        assert r["valid"] is False
        assert "mixed appends" in r["error"]

    def test_pending_staging_surfaced(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import (
            model_store_report,
            write_model_store,
        )

        path = str(tmp_path / "m")
        write_model_store(
            spark,
            quality_model_frame(spark, quality_weight_values(8)),
            path,
        )
        quality_model_frame(
            spark, quality_weight_values(8, seed="v2")
        ).write.parquet(path + "_staging")
        r = model_store_report(spark, path)
        assert r["pending_staging"] is True
        assert r["valid"] is True  # the SERVING store is healthy

    def test_bpe_and_unigram_kinds(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import (
            model_store_report,
            write_model_store,
        )
        from mydatasyncer_spark.operators.text import (
            unigram_logprob_table,
            unigram_model_frame,
        )

        corpus = spark.createDataFrame(
            [(i, "lower lowest newer newest " * 2) for i in range(6)],
            "doc_id long, text string",
        )
        bpath = str(tmp_path / "bpe")
        merges = bpe_train(corpus, n_merges=8)
        write_model_store(
            spark,
            bpe_merges_frame(spark, merges, bpe_pieces_per_word(corpus, merges)),
            bpath,
        )
        rb = model_store_report(spark, bpath)
        assert rb["kind"] == "bpe_merges" and rb["valid"]
        assert rb["n_merges"] == len(merges)
        assert rb["baseline_recorded"] is True

        upath = str(tmp_path / "lm")
        model = unigram_logprob_table(corpus)
        base = {"lo": 0.0, "hi": 2.0, "hist": [0.5, 0.5],
                "oov_fraction": 0.0, "docs": 6}
        write_model_store(
            spark, unigram_model_frame(model, base), upath
        )
        ru = model_store_report(spark, upath)
        assert ru["kind"] == "unigram_logprobs" and ru["valid"]
        assert ru["baseline_bins"] == 2 and ru["baseline_docs"] == 6
        # a bare logprob table (no recorded baseline) reports invalid
        bare = str(tmp_path / "bare")
        model.write.parquet(bare)
        rbare = model_store_report(spark, bare)
        assert rbare["kind"] == "unigram_logprobs"
        assert rbare["valid"] is False
        assert "records no" in rbare["error"]

    def test_unreadable_and_unknown(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import (
            model_store_report,
        )

        r = model_store_report(spark, str(tmp_path / "nothing"))
        assert r["readable"] is False and r["valid"] is False
        junk = str(tmp_path / "junk")
        spark.createDataFrame([(1, "x")], "a int, b string").write.parquet(junk)
        r2 = model_store_report(spark, junk)
        assert r2["kind"] == "unknown" and r2["valid"] is False
        assert "unknown store shape" in r2["error"]


class TestCrashStateMatrix:
    """Exhaustive pin of every state a crashed write_model_store can
    leave (the protocol admits exactly four), with BOTH resolution
    routes asserted per state: the serving path's readability/content
    at crash time, and convergence via restore_model_store AND via
    the next write. S1: crash mid-staging (partial staging, old path).
    S2: crash between staging-complete and swap. S3: crash mid-swap
    (path half-deleted, complete staging). S4: crash after the swap,
    before staging cleanup (both complete and NEW)."""

    def _setup(self, spark, tmp_path, state: str):
        import shutil

        from mydatasyncer_spark.operators.maintenance import (
            write_model_store,
        )

        w1 = quality_weight_values(8)
        w2 = quality_weight_values(8, seed="v2")
        path = str(tmp_path / "m")
        write_model_store(
            spark, quality_model_frame(spark, w1, bias=1.0), path
        )
        f2 = quality_model_frame(spark, w2, bias=2.0)
        if state == "S1":
            f2.write.parquet(path + "_staging")
            (tmp_path / "m_staging" / "_SUCCESS").unlink()
        elif state == "S2":
            f2.write.parquet(path + "_staging")
        elif state == "S3":
            f2.write.parquet(path + "_staging")
            shutil.rmtree(path)
        elif state == "S4":
            f2.write.parquet(path + "_staging")
            f2.write.mode("overwrite").parquet(path)
        return w1, w2, path

    @pytest.mark.parametrize("state", ["S1", "S2", "S3", "S4"])
    def test_serving_path_and_restore_convergence(
        self, spark, tmp_path, state
    ):
        from mydatasyncer_spark.operators.maintenance import (
            restore_model_store,
        )

        w1, w2, path = self._setup(spark, tmp_path, state)
        # at crash time: the path holds a COMPLETE resolvable store in
        # every state except the mid-swap window S3 (entered only with
        # the complete staged copy already on disk)
        if state != "S3":
            rw, rb, _ = recorded_model(spark.read.parquet(path))
            want = (w1, 1.0) if state in ("S1", "S2") else (w2, 2.0)
            assert (rw, rb) == want
        restored = restore_model_store(spark, path)
        assert restored is (state != "S1")
        rw, rb, _ = recorded_model(spark.read.parquet(path))
        assert (rw, rb) == ((w1, 1.0) if state == "S1" else (w2, 2.0))
        assert not (tmp_path / "m_staging").exists()

    @pytest.mark.parametrize("state", ["S1", "S2", "S3", "S4"])
    def test_next_write_converges_without_explicit_restore(
        self, spark, tmp_path, state
    ):
        from mydatasyncer_spark.operators.maintenance import (
            write_model_store,
        )

        _, _, path = self._setup(spark, tmp_path, state)
        w3 = quality_weight_values(8, seed="v3")
        write_model_store(
            spark, quality_model_frame(spark, w3, bias=3.0), path
        )
        rw, rb, _ = recorded_model(spark.read.parquet(path))
        assert (rw, rb) == (w3, 3.0)
        assert not (tmp_path / "m_staging").exists()


class TestRestoreGuards:
    """r13 (r12 verdict what's-wrong #1 + advisor findings): the two
    restore edges where "a staging dir exists" could destroy or
    masquerade as a healthy store. (1) A MARKED staging that does not
    read back — a crashed object-store copy that moved ``_SUCCESS``
    without every data file — must never take the serving store down
    with it: the old swap deleted the target before reading the
    staged copy. (2) With committer markers disabled, a FIRST-EVER
    write crashing mid-staging leaves a readable-but-partial staging
    and no serving store — exactly the state the old fallback adopted
    and reported success on. Adoption is now gated on the kind's
    refusing reader: a genuine crashed swap's staging resolves (it
    was a complete verified store), a partial first write fails its
    own fingerprint and is deleted."""

    def _serving(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import (
            write_model_store,
        )

        w1 = quality_weight_values(8)
        path = str(tmp_path / "m")
        write_model_store(
            spark, quality_model_frame(spark, w1, bias=1.0), path
        )
        return w1, path

    def test_marked_unreadable_staging_never_destroys_store(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.maintenance import (
            restore_model_store,
        )

        w1, path = self._serving(spark, tmp_path)
        staging = tmp_path / "m_staging"
        staging.mkdir()
        (staging / "_SUCCESS").touch()  # marker moved, data did not
        assert restore_model_store(spark, path) is False
        # the serving store survived AND the dead staging is cleaned
        assert recorded_model(spark.read.parquet(path))[:2] == (
            w1,
            1.0,
        )
        assert not staging.exists()

    def test_first_write_crash_markers_disabled_refused(
        self, spark, tmp_path
    ):
        """No store has ever existed at the path; the first write
        crashes mid-staging under a committer that leaves
        individually-complete files and no marker. The partial
        staging READS — readability proves nothing — but does not
        RESOLVE, so restore refuses, cleans, and returns False
        instead of promoting a partial store."""
        from mydatasyncer_spark.operators.maintenance import (
            restore_model_store,
        )

        path = str(tmp_path / "m")
        frame = quality_model_frame(
            spark, quality_weight_values(8), bias=1.0
        )
        frame.repartition(4).write.parquet(path + "_staging")
        staging = tmp_path / "m_staging"
        (staging / "_SUCCESS").unlink()
        # drop a part file that PROVABLY holds rows (repartition can
        # leave empty partitions whose loss would change nothing)
        import pyarrow.parquet as pq

        parts = sorted(staging.glob("part-*.parquet"))
        assert len(parts) >= 2
        victim = next(
            p
            for p in parts
            if pq.ParquetFile(p).metadata.num_rows > 0
        )
        victim.unlink()
        crc = staging / ("." + victim.name + ".crc")
        if crc.exists():
            crc.unlink()
        # sanity: the partial staging is spark-readable
        assert 0 < spark.read.parquet(path + "_staging").count() < 8
        assert restore_model_store(spark, path) is False
        assert not staging.exists()
        assert not (tmp_path / "m").exists()

    def test_markers_disabled_crashed_swap_still_adopts(
        self, spark, tmp_path
    ):
        """Regression guard for the state the fallback exists for: a
        complete (but unmarked) staged store and no serving path —
        the staged copy resolves through its reader, so restore
        still adopts it."""
        from mydatasyncer_spark.operators.maintenance import (
            restore_model_store,
        )

        w2 = quality_weight_values(8, seed="v2")
        path = str(tmp_path / "m")
        quality_model_frame(spark, w2, bias=2.0).write.parquet(
            path + "_staging"
        )
        (tmp_path / "m_staging" / "_SUCCESS").unlink()
        assert restore_model_store(spark, path) is True
        assert recorded_model(spark.read.parquet(path))[:2] == (
            w2,
            2.0,
        )
        assert not (tmp_path / "m_staging").exists()

    def test_report_rows_key_present_on_unhealthy_stores(
        self, spark, tmp_path
    ):
        """The report's documented key set holds on exactly the
        stores the probe exists for: unreadable, unknown-shape, and
        refused stores all carry rows=None instead of KeyError-ing
        callers that do report["rows"]."""
        from mydatasyncer_spark.operators.maintenance import (
            model_store_report,
        )

        assert (
            model_store_report(spark, str(tmp_path / "nothing"))["rows"]
            is None
        )
        junk = str(tmp_path / "junk")
        spark.createDataFrame(
            [(1, "x")], "a int, b string"
        ).write.parquet(junk)
        assert model_store_report(spark, junk)["rows"] is None
        refused = str(tmp_path / "refused")
        quality_model_frame(
            spark, quality_weight_values(8), bias=0.0
        ).write.parquet(refused)
        quality_model_frame(
            spark, quality_weight_values(8, seed="other"), bias=1.0
        ).write.mode("append").parquet(refused)
        r = model_store_report(spark, refused)
        assert r["valid"] is False and r["rows"] is None


class TestStagedProtocolFuzz:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """r13 (r12 verdict, next-round #6): randomized crash-point
    injection over random store kinds — the r10 PQ staged-protocol
    fuzz applied to write_model_store / restore_model_store. For
    every drawn (kind, crash state, markers on/off, first-write)
    combination the protocol's promises are asserted directly:
    whatever the serving path holds resolves through the kind's
    refusing reader to EXACTLY the old or the new artifact (never a
    third thing, silently); restore_model_store never raises, never
    installs a store the reader refuses, and always consumes the
    staging dir; and the next write converges to its own artifact
    regardless of the inherited wreckage. The unigram kind records
    no row fingerprint by documented design (text.py trust-model
    note), so it is fuzzed over the non-partial states where its
    footer-only resolution is the full contract."""

    def _artifacts(self, spark, kind):
        """(build(tag) -> frame, resolve(df) -> comparable) per kind;
        resolve raises ValueError when the store refuses."""
        if kind == "quality":
            def build(tag):
                return quality_model_frame(
                    spark,
                    quality_weight_values(8, seed=tag),
                    bias=float(len(tag)),
                )

            def resolve(df):
                w, b, _ = recorded_model(df)
                return ("q", tuple(w), b)

        elif kind == "bpe":
            def build(tag):
                merges = [(f"{tag}{i}", f"x{i}") for i in range(5)]
                return bpe_merges_frame(spark, merges, float(len(tag)))

            def resolve(df):
                m, b = recorded_merges(df)
                return ("b", tuple(m), b)

        else:  # unigram: footer-only resolution, by documented design
            from mydatasyncer_spark.operators.text import (
                recorded_unigram_baseline,
                unigram_model_frame,
            )

            def build(tag):
                model = spark.createDataFrame(
                    [(f"t{i}", -float(i + len(tag))) for i in range(6)],
                    "tok string, logp double",
                )
                base = {
                    "lo": 0.0,
                    "hi": float(len(tag)),
                    "hist": [0.5, 0.5],
                    "oov_fraction": 0.0,
                    "docs": len(tag),
                }
                return unigram_model_frame(model, base)

            def resolve(df):
                base = recorded_unigram_baseline(df)
                return ("u", base["hi"], base["docs"])

        return build, resolve

    def test_random_crash_states_converge(self, spark):
        import os
        import shutil
        import tempfile

        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from mydatasyncer_spark.operators.maintenance import (
            restore_model_store,
            write_model_store,
        )

        @settings(
            max_examples=12,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            kind=st.sampled_from(["quality", "bpe", "unigram"]),
            state=st.sampled_from(
                ["partial", "staged", "mid_swap", "post_swap"]
            ),
            markers=st.booleans(),
            first_write=st.booleans(),
            data=st.data(),
        )
        def check(kind, state, markers, first_write, data):
            if kind == "unigram" and state == "partial":
                state = "staged"  # no row fingerprint: partials are
                # outside its documented refusal matrix
            build, resolve = self._artifacts(spark, kind)
            old = build("old")
            new = build("newer")
            want_old = resolve(old)
            want_new = resolve(new)
            d = tempfile.mkdtemp()
            try:
                path = os.path.join(d, "store")
                staging = path + "_staging"
                if not first_write:
                    write_model_store(spark, old, path)
                # inject the crash state by hand, the way the matrix
                # tests do — never through the functions under test
                if state == "partial":
                    new.repartition(3).write.parquet(staging)
                    os.unlink(os.path.join(staging, "_SUCCESS"))
                    import glob as _glob

                    import pyarrow.parquet as _pq

                    parts = sorted(
                        _glob.glob(os.path.join(staging, "part-*.parquet"))
                    )
                    victims = [
                        p
                        for p in parts
                        if _pq.ParquetFile(p).metadata.num_rows > 0
                    ]
                    victim = victims[
                        data.draw(
                            st.integers(0, len(victims) - 1), label="victim"
                        )
                    ]
                    os.unlink(victim)
                    crc = os.path.join(
                        staging, "." + os.path.basename(victim) + ".crc"
                    )
                    if os.path.exists(crc):
                        os.unlink(crc)
                else:
                    new.write.parquet(staging)
                    if not markers:
                        os.unlink(os.path.join(staging, "_SUCCESS"))
                    if state == "mid_swap" and not first_write:
                        shutil.rmtree(path)
                    elif state == "post_swap":
                        new.write.mode("overwrite").parquet(path)

                # invariant 1: whatever the path serves RIGHT NOW is
                # old, new, absent, or a loud refusal — never a third
                # artifact
                self._assert_serves_known(
                    spark, resolve, path, (want_old, want_new)
                )
                # invariant 2: restore never raises, consumes staging,
                # and never installs a refused store
                restore_model_store(spark, path)
                assert not os.path.exists(staging)
                self._assert_serves_known(
                    spark, resolve, path, (want_old, want_new)
                )
                # invariant 3: the next write converges regardless
                final = build("final")
                write_model_store(spark, final, path)
                assert resolve(
                    spark.read.parquet(path)
                ) == resolve(final)
                assert not os.path.exists(staging)
            finally:
                shutil.rmtree(d, ignore_errors=True)

        check()

    @staticmethod
    def _assert_serves_known(spark, resolve, path, wanted):
        import os

        import pytest as _pytest
        from pyspark.sql.utils import AnalysisException

        if not os.path.exists(path):
            return
        try:
            df = spark.read.parquet(path)
        except AnalysisException:
            return  # unreadable = loud, acceptable mid-crash
        try:
            got = resolve(df)
        except ValueError:
            return  # refused = loud, acceptable mid-crash
        assert got in wanted, got


class TestStagedReplaceEmptyPartitioned:
    """r14 (advisor finding): a partitioned staged write of
    an EMPTY frame used to stage a dir holding only ``_SUCCESS`` — no
    schema-bearing file — so the prove-readable count raised and the
    caller's batch failed on every retry (the empty bucketed
    join-view bootstrap). Empty frames now stage unpartitioned,
    keeping the partition columns as readable data columns."""

    def test_empty_partitioned_replace_succeeds_and_reads(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.staging import SUPERSEDE, write

        path = str(tmp_path / "store")
        empty = spark.createDataFrame([], "k long, v string, b int")
        rows = write(spark, empty, path, SUPERSEDE, partition_by=["b"])
        assert rows == 0
        got = spark.read.parquet(path)
        assert got.count() == 0
        assert set(got.columns) == {"k", "v", "b"}
        # and a later NON-empty replace lays the partitioned layout
        frame = spark.createDataFrame(
            [(1, "x", 0), (2, "y", 1)], "k long, v string, b int"
        )
        assert write(spark, frame, path, SUPERSEDE, partition_by=["b"]) == 2
        import os

        assert os.path.isdir(os.path.join(path, "b=0"))
        assert spark.read.parquet(path).count() == 2
