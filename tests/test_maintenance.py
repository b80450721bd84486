"""Generalized staged compaction (r9): every append-only store —
MinHash signature index, survivors, pairs, sketch partials, the
bucket-partitioned IVF index — compacts through the same
``_SUCCESS``-gated staged-rewrite protocol as ``jaccard_compact``,
with results provably identical before and after."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


class TestIdBucketLayout:
    """The one id-bucket layout rule every store rewrite shares."""

    def test_no_list_partitions_by_id_bucket_when_present(self):
        from mydatasyncer_spark.operators.dedup import (
            ID_BUCKET_COL,
            id_bucket_layout,
        )

        assert id_bucket_layout(["doc_id", ID_BUCKET_COL]) == [ID_BUCKET_COL]
        assert id_bucket_layout(["doc_id"]) == []

    def test_list_without_id_bucket_gets_it_appended(self):
        from mydatasyncer_spark.operators.dedup import (
            ID_BUCKET_COL,
            id_bucket_layout,
        )

        cols = ["bucket", "neighbor_id", ID_BUCKET_COL]
        assert id_bucket_layout(cols, ["bucket"]) == ["bucket", ID_BUCKET_COL]
        assert id_bucket_layout(["bucket", "neighbor_id"], ["bucket"]) == [
            "bucket"
        ]

    def test_list_with_id_bucket_is_kept(self):
        from mydatasyncer_spark.operators.dedup import (
            ID_BUCKET_COL,
            id_bucket_layout,
        )

        parts = [ID_BUCKET_COL, "bucket"]
        cols = ["bucket", "neighbor_id", ID_BUCKET_COL]
        assert id_bucket_layout(cols, parts) == parts
        assert parts == [ID_BUCKET_COL, "bucket"]  # caller's list untouched


class TestCompactTable:
    def test_full_row_dedupe_and_file_shrink(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import compact_table

        path = str(tmp_path / "pairs")
        rows = [(i, i + 1, 0.9) for i in range(50)]
        df = spark.createDataFrame(rows, "id_a long, id_b long, score double")
        # many appends -> many files; one replayed append -> dup rows
        for lo in range(0, 50, 10):
            spark.createDataFrame(
                rows[lo : lo + 10], "id_a long, id_b long, score double"
            ).write.mode("append").parquet(path)
        spark.createDataFrame(
            rows[:10], "id_a long, id_b long, score double"
        ).write.mode("append").parquet(path)
        files_before = len(_parquet_files(path))
        assert spark.read.parquet(path).count() == 60
        stats = compact_table(spark, path)
        assert stats["rows"] == 50 and stats["removed_rows"] == 10
        got = {
            (r["id_a"], r["id_b"], r["score"])
            for r in spark.read.parquet(path).collect()
        }
        assert got == set(rows)
        assert len(_parquet_files(path)) < files_before

    def test_crash_mid_overwrite_restores_from_staging(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.dedup import INDEX_STAGING_SUFFIX
        from mydatasyncer_spark.operators.maintenance import compact_table

        path = str(tmp_path / "store")
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "k long, v double"
        )
        df.write.parquet(path)
        want = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
        # complete staging, then crash mid in-place overwrite
        spark.read.parquet(path).localCheckpoint(eager=True).write.parquet(
            path + INDEX_STAGING_SUFFIX
        )
        shutil.rmtree(path)
        stats = compact_table(spark, path)
        assert stats["restored_from_staging"] is True
        assert {
            (r["k"], r["v"]) for r in spark.read.parquet(path).collect()
        } == want
        assert not os.path.exists(path + INDEX_STAGING_SUFFIX)


class TestCompactMinhashAndSurvivors:
    DOCS = [
        (i, f"document number {i} with shared tokens alpha beta {i % 3}")
        for i in range(12)
    ]

    def test_signature_index_results_identical(self, spark, tmp_path):
        from mydatasyncer_spark.operators.dedup import (
            minhash_lsh_pairs_incremental,
            minhash_signature,
        )
        from mydatasyncer_spark.operators.maintenance import (
            compact_minhash_index,
        )

        path = str(tmp_path / "sig")
        docs = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        for lo in (0, 4, 8):  # three "batches", three appends
            minhash_signature(
                docs.filter(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 4)
                )
            ).write.mode("append").parquet(path)
        # per-task-visible committer artifact: one batch re-appended
        minhash_signature(docs.filter("doc_id < 4")).write.mode(
            "append"
        ).parquet(path)
        batch = spark.createDataFrame(
            [(100, self.DOCS[5][1]), (101, "nothing in common at all")],
            "doc_id long, text string",
        )

        def pairs(idx):
            return {
                (r["id_a"], r["id_b"])
                for r in minhash_lsh_pairs_incremental(
                    batch, idx
                ).collect()
            }

        before = pairs(spark.read.parquet(path))
        assert spark.read.parquet(path).count() == 16
        stats = compact_minhash_index(spark, path)
        assert stats["rows"] == 12 and stats["removed_rows"] == 4
        after = pairs(spark.read.parquet(path))
        assert after == before and before

    def test_survivors_at_least_once_reconciled(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import (
            compact_survivors,
        )

        path = str(tmp_path / "surv")
        df = spark.createDataFrame(
            self.DOCS, "doc_id long, text string"
        )
        df.write.parquet(path)
        # crash-replayed survivor append
        df.filter("doc_id < 3").write.mode("append").parquet(path)
        stats = compact_survivors(spark, path)
        assert stats["rows"] == len(self.DOCS)
        assert stats["removed_rows"] == 3
        got = {r["doc_id"] for r in spark.read.parquet(path).collect()}
        assert got == {d[0] for d in self.DOCS}


class TestCompactPartials:
    def test_merged_estimates_match_clean_baseline(self, spark, tmp_path):
        """Duplicate KLL/HLL partial rows (per-task committer
        artifacts) skew merged estimates — compaction restores the
        clean answer without touching legitimately-identical partials
        from different batches."""
        from mydatasyncer_spark.operators.maintenance import compact_partials
        from mydatasyncer_spark.operators.sketches import (
            quantile_estimate,
            quantile_sketch_merge,
            quantile_sketch_rollup,
        )

        path = str(tmp_path / "partials")
        rows = [("a", float(i)) for i in range(100)] + [
            ("b", float(i * 3)) for i in range(50)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        b0 = df.filter("v < 30")
        b1 = df.filter("v >= 30")
        p0 = quantile_sketch_rollup(b0, ["g"], "v").withColumn(
            "_batch_id", F.lit(0)
        )
        p1 = quantile_sketch_rollup(b1, ["g"], "v").withColumn(
            "_batch_id", F.lit(1)
        )
        p0.write.mode("append").parquet(path)
        p1.write.mode("append").parquet(path)

        def medians(pdf):
            est = quantile_estimate(
                quantile_sketch_merge(pdf, ["g"]), (0.5,)
            )
            return {r["g"]: r["q_50"] for r in est.collect()}

        clean = medians(spark.read.parquet(path))
        # duplicate batch 0's partials: merged medians now skew low
        p0.write.mode("append").parquet(path)
        assert medians(spark.read.parquet(path)) != clean
        stats = compact_partials(spark, path)
        assert stats["removed_rows"] == p0.count()
        assert medians(spark.read.parquet(path)) == clean


class TestCompactIvfIndex:
    VECS = [
        (i, [((i * 7 + j * 3) % 11) / 11.0 - 0.5 for j in range(4)])
        for i in range(1, 25)
    ]

    def test_topk_identical_and_partitioning_preserved(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.maintenance import (
            compact_ivf_index,
        )
        from mydatasyncer_spark.operators.similarity import (
            ivf_index,
            ivf_topk_indexed,
        )

        path = str(tmp_path / "ivf")
        vecs = spark.createDataFrame(
            self.VECS, "vec_id long, embedding array<double>"
        )
        idx = ivf_index(vecs, dim=4, n_centroids=4)
        for lo in (1, 9, 17):  # batch appends
            idx.filter(
                (F.col("neighbor_id") >= lo)
                & (F.col("neighbor_id") < lo + 8)
            ).write.mode("append").partitionBy("bucket").parquet(path)
        idx.filter("neighbor_id < 9").write.mode("append").partitionBy(
            "bucket"
        ).parquet(path)  # committer duplicate
        q = vecs.filter("vec_id % 7 = 0")

        def topk(stored):
            return {
                (r["query_id"], r["neighbor_id"], r["rank"])
                for r in ivf_topk_indexed(
                    q, stored, dim=4, k=3, n_centroids=4
                ).collect()
            }

        files_before = len(_parquet_files(path))
        stats = compact_ivf_index(spark, path)
        assert stats["rows"] == len(self.VECS)
        assert stats["removed_rows"] == 8
        stored = spark.read.parquet(path)
        assert topk(stored) == topk(idx)
        # bucket directory layout survived (DPP keeps pruning)
        assert glob.glob(os.path.join(path, "bucket=*"))
        assert len(_parquet_files(path)) < files_before

    def test_partitioned_crash_restore_preserves_layout(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.dedup import INDEX_STAGING_SUFFIX
        from mydatasyncer_spark.operators.maintenance import restore_staging
        from mydatasyncer_spark.operators.similarity import ivf_index

        path = str(tmp_path / "ivf")
        vecs = spark.createDataFrame(
            self.VECS, "vec_id long, embedding array<double>"
        )
        ivf_index(vecs, dim=4, n_centroids=4).write.partitionBy(
            "bucket"
        ).parquet(path)
        want = {
            (r["neighbor_id"], r["bucket"])
            for r in spark.read.parquet(path)
            .select("neighbor_id", "bucket")
            .collect()
        }
        spark.read.parquet(path).localCheckpoint(eager=True).write.partitionBy(
            "bucket"
        ).parquet(path + INDEX_STAGING_SUFFIX)
        shutil.rmtree(path)
        assert restore_staging(spark, path, ["bucket"]) is True
        assert glob.glob(os.path.join(path, "bucket=*"))
        assert {
            (r["neighbor_id"], r["bucket"])
            for r in spark.read.parquet(path)
            .select("neighbor_id", "bucket")
            .collect()
        } == want


class TestIvfRebuild:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """r10: the retrain-and-rebuild maintenance op for the IVF index
    (the jaccard_refreeze of the embedding side), plus the centroid
    provenance guard it completes: after a rebuild, every reader of
    the index refuses the OLD centroid set instead of silently
    probing wrong buckets."""

    VECS = [
        (i, [((i * 13 + j * 5) % 17) / 17.0 - 0.5 for j in range(4)])
        for i in range(1, 33)
    ]

    def _grown(self, spark, path):
        """An index grown by appends under the DEFAULT deterministic
        centroids — the drifted-quantizer starting point."""
        from mydatasyncer_spark.operators.similarity import ivf_index

        vecs = spark.createDataFrame(
            self.VECS, "vec_id long, embedding array<double>"
        )
        idx = ivf_index(vecs, dim=4, n_centroids=4)
        for lo in (1, 17):
            idx.filter(
                (F.col("neighbor_id") >= lo)
                & (F.col("neighbor_id") < lo + 16)
            ).write.mode("append").partitionBy("bucket").parquet(path)
        return vecs

    def test_rebuild_matches_fresh_build_and_old_centroids_refused(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.maintenance import ivf_rebuild
        from mydatasyncer_spark.operators.similarity import (
            ivf_centroid_values,
            ivf_index,
            ivf_topk_indexed,
        )

        path = str(tmp_path / "ivf")
        vecs = self._grown(spark, path)
        stats = ivf_rebuild(spark, path, dim=4, n_centroids=4)
        assert stats["rows"] == len(self.VECS)
        new_cens = stats["centroids"]
        # the trained quantizer differs from the deterministic default
        assert new_cens != [ivf_centroid_values(4, c) for c in range(4)]
        stored = spark.read.parquet(path)
        # bucket directory layout survived the staged rewrite
        assert glob.glob(os.path.join(path, "bucket=*"))
        q = vecs.filter("vec_id % 5 = 0")

        def topk(index):
            return {
                (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
                for r in ivf_topk_indexed(
                    q, index, dim=4, k=3, centroids=new_cens
                ).collect()
            }

        # identical to a FRESH batch build under the same centroids
        fresh = ivf_index(vecs, dim=4, centroids=new_cens)
        assert topk(stored) == topk(fresh) and topk(stored)
        # the old (default) centroid set, passed EXPLICITLY, is now
        # REFUSED — pre-rebuild it was the accepted one. (A call
        # passing nothing self-resolves the recorded set instead —
        # TestSelfDescribingIvf.)
        with pytest.raises(ValueError, match="DIFFERENT centroid"):
            ivf_topk_indexed(
                q, stored, dim=4, k=3,
                centroids=[ivf_centroid_values(4, c) for c in range(4)],
            )
        # a second rebuild under the SAME explicit centroids is a
        # fixpoint: rows and assignments unchanged
        again = ivf_rebuild(spark, path, dim=4, centroids=new_cens)
        assert again["rows"] == len(self.VECS)
        assert topk(spark.read.parquet(path)) == topk(fresh)

    def test_crash_mid_overwrite_restores_then_rebuilds(
        self, spark, tmp_path
    ):
        """A crash after staging completed but mid index-overwrite
        leaves staging + a deleted index; the next ivf_rebuild first
        restores the staged copy, then rebuilds on top of it."""
        from mydatasyncer_spark.operators.dedup import INDEX_STAGING_SUFFIX
        from mydatasyncer_spark.operators.maintenance import ivf_rebuild
        from mydatasyncer_spark.operators.similarity import (
            ivf_index,
            ivf_topk_indexed,
        )

        path = str(tmp_path / "ivf")
        vecs = self._grown(spark, path)
        # simulate the crash window: complete staged copy, index gone
        spark.read.parquet(path).localCheckpoint(
            eager=True
        ).write.partitionBy("bucket").parquet(path + INDEX_STAGING_SUFFIX)
        shutil.rmtree(path)
        stats = ivf_rebuild(spark, path, dim=4, n_centroids=4)
        assert stats["restored_from_staging"] is True
        assert stats["rows"] == len(self.VECS)
        q = vecs.filter("vec_id % 5 = 0")
        got = ivf_topk_indexed(
            q, spark.read.parquet(path), dim=4, k=3,
            centroids=stats["centroids"],
        )
        assert got.count() > 0

    def test_compact_preserves_provenance(self, spark, tmp_path):
        """compact_ivf_index must not strip the centroid fingerprint
        — a compacted index still refuses a mismatched quantizer."""
        from mydatasyncer_spark.operators.maintenance import (
            compact_ivf_index,
            ivf_rebuild,
        )
        from mydatasyncer_spark.operators.similarity import (
            ivf_topk_indexed,
        )

        from mydatasyncer_spark.operators.similarity import (
            ivf_centroid_values,
        )

        path = str(tmp_path / "ivf")
        vecs = self._grown(spark, path)
        stats = ivf_rebuild(spark, path, dim=4, n_centroids=4)
        compact_ivf_index(spark, path)
        q = vecs.filter("vec_id % 5 = 0")
        with pytest.raises(ValueError, match="DIFFERENT centroid"):
            ivf_topk_indexed(
                q, spark.read.parquet(path), dim=4, k=3,
                centroids=[ivf_centroid_values(4, c) for c in range(4)],
            )
        assert ivf_topk_indexed(
            q, spark.read.parquet(path), dim=4, k=3,
            centroids=stats["centroids"],
        ).count() > 0


class TestSelfDescribingIvf:
    """r10: the IVF index records its centroid VALUES (not just the
    fingerprint) in column metadata, so readers and restarting
    streams resolve the quantizer from the index itself — no
    centroid config to get wrong."""

    VECS = TestIvfRebuild.VECS

    def _trained_index(self, spark, path):
        """An index built + persisted under TRAINED (non-default)
        centroids — the case where a config-less reader would
        previously have probed wrong buckets."""
        from mydatasyncer_spark.operators.similarity import (
            ivf_index,
            kmeans_centroids,
        )

        vecs = spark.createDataFrame(
            self.VECS, "vec_id long, embedding array<double>"
        )
        cens = kmeans_centroids(vecs, dim=4, k=4, n_iter=3)
        ivf_index(vecs, dim=4, centroids=cens).write.partitionBy(
            "bucket"
        ).parquet(path)
        return vecs, cens

    def test_recorded_values_round_trip_and_configless_reader(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.similarity import (
            ivf_topk_indexed,
            recorded_centroids,
        )

        path = str(tmp_path / "ivf")
        vecs, cens = self._trained_index(spark, path)
        stored = spark.read.parquet(path)
        # exact value round-trip through the parquet footer
        assert recorded_centroids(stored) == [
            [float(x) for x in cen] for cen in cens
        ]
        q = vecs.filter("vec_id % 5 = 0")

        def topk(**kw):
            return {
                (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
                for r in ivf_topk_indexed(
                    q, stored, dim=4, k=3, **kw
                ).collect()
            }

        # a reader passing NOTHING resolves the trained quantizer
        # from the index — identical to the explicit call
        configless = topk()
        assert configless == topk(centroids=cens) and configless

    def test_compaction_and_rebuild_keep_the_index_self_describing(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.maintenance import (
            compact_ivf_index,
            ivf_rebuild,
        )
        from mydatasyncer_spark.operators.similarity import (
            ivf_topk_indexed,
            recorded_centroids,
        )

        path = str(tmp_path / "ivf")
        vecs, cens = self._trained_index(spark, path)
        compact_ivf_index(spark, path)
        want = [[float(x) for x in cen] for cen in cens]
        assert recorded_centroids(spark.read.parquet(path)) == want
        stats = ivf_rebuild(spark, path, dim=4, n_centroids=4)
        # the rebuild re-records the NEW quantizer; a config-less
        # reader follows it with no restart parameters
        rebuilt = spark.read.parquet(path)
        assert recorded_centroids(rebuilt) == stats["centroids"]
        q = vecs.filter("vec_id % 5 = 0")
        got = {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in ivf_topk_indexed(q, rebuilt, dim=4, k=3).collect()
        }
        explicit = {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in ivf_topk_indexed(
                q, rebuilt, dim=4, k=3, centroids=stats["centroids"]
            ).collect()
        }
        assert got == explicit and got

    def test_over_budget_index_fails_fast_not_wrong(
        self, spark, tmp_path, monkeypatch
    ):
        """Above the footer budget only the fingerprint is recorded —
        a config-less reader then REFUSES (defaults mismatch the
        trained fingerprint) instead of probing wrong buckets."""
        from mydatasyncer_spark.operators import similarity as sim

        monkeypatch.setattr(sim, "_IVF_CENS_MAX_NUMBERS", 0)
        path = str(tmp_path / "ivf")
        vecs, cens = self._trained_index(spark, path)
        stored = spark.read.parquet(path)
        assert sim.recorded_centroids(stored) is None
        q = vecs.filter("vec_id % 5 = 0")
        with pytest.raises(ValueError, match="DIFFERENT centroid"):
            sim.ivf_topk_indexed(q, stored, dim=4, k=3)
        # the explicit fallback documented on ivf_rebuild still works
        assert sim.ivf_topk_indexed(
            q, stored, dim=4, k=3, centroids=cens
        ).count() > 0

    def test_inconsistent_metadata_raises(self, spark, tmp_path):
        """Recorded values that don't hash to the recorded
        fingerprint are a mixed-quantizer store — refuse, returning
        neither set."""
        import json

        from mydatasyncer_spark.operators.similarity import (
            _IVF_CENS_KEY,
            _IVF_FP_KEY,
            centroid_fingerprint,
            recorded_centroids,
        )

        vecs = spark.createDataFrame(
            self.VECS[:4], "vec_id long, embedding array<double>"
        )
        poisoned = vecs.select(
            F.col("vec_id").alias(
                "neighbor_id",
                metadata={
                    _IVF_FP_KEY: centroid_fingerprint([[1.0, 0.0]]),
                    _IVF_CENS_KEY: json.dumps([[0.0, 1.0]]),
                },
            )
        )
        with pytest.raises(ValueError, match="inconsistent"):
            recorded_centroids(poisoned)


class TestIvfDriftReport:
    """r10: the ivf_rebuild DECISION signal — a drifted corpus's
    report crosses the documented thresholds, and a post-rebuild
    report is the 1.0-ratio fixpoint."""

    DIM = 8

    def _axis_vec(self, axis, i):
        """A vector near basis axis ``axis`` with deterministic
        jitter — tight orthogonal clusters the quantizer resolves."""
        return [
            1.0 if j == axis else 0.01 * ((i * 7 + j) % 5 - 2)
            for j in range(self.DIM)
        ]

    def _drift_vec(self, group, i):
        """The drifted mass: two NEW orthogonal directions (axes
        4/5), each nudged toward axis 0 — under the frozen quantizer
        all of it piles into e0's bucket; a retrain gives each its
        own centroid and rebalances."""
        v = [0.0] * self.DIM
        v[4 + group] = 1.0
        v[0] = 0.1
        return [
            x + 0.005 * ((i * 11 + j) % 5 - 2)
            for j, x in enumerate(v)
        ]

    def _frozen_then_drifted(self, spark, path):
        from mydatasyncer_spark.operators.similarity import (
            ivf_index,
            kmeans_centroids,
        )

        freeze = spark.createDataFrame(
            [
                (axis * 8 + i, self._axis_vec(axis, i))
                for axis in range(4)
                for i in range(8)
            ],
            "vec_id long, embedding array<double>",
        )
        cens = kmeans_centroids(freeze, self.DIM, k=4, n_iter=5)
        ivf_index(
            freeze, self.DIM, centroids=cens
        ).write.partitionBy("bucket").parquet(path)
        drifted = spark.createDataFrame(
            [
                (100 + group * 32 + i, self._drift_vec(group, i))
                for group in range(2)
                for i in range(32)
            ],
            "vec_id long, embedding array<double>",
        )
        # a standing stream appends under the FROZEN quantizer
        ivf_index(
            drifted, self.DIM, centroids=cens
        ).write.mode("append").partitionBy("bucket").parquet(path)
        return cens

    def test_drifted_report_crosses_thresholds_rebuild_resets(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.maintenance import (
            ivf_drift_report,
            ivf_rebuild,
        )

        path = str(tmp_path / "ivf")
        self._frozen_then_drifted(spark, path)
        rep = ivf_drift_report(spark, path, dim=self.DIM)
        assert rep["rows"] == 96
        # the drifted mass piled into one frozen bucket
        assert rep["largest_bucket_fraction"] >= 72 / 96 - 1e-9
        # both payoff ratios cross the documented run-rebuild-when
        # thresholds on this corpus
        assert rep["scan_ratio"] > 1.2
        assert rep["inertia_ratio"] > 1.2
        assert rep["pending_staging"] is False
        # the report's training is reusable by the rebuild itself
        stats = ivf_rebuild(
            spark, path, dim=self.DIM,
            centroids=rep["centroids_retrained"],
        )
        assert stats["rows"] == 96
        # fixpoint: retraining the rebuilt index buys nothing —
        # kmeans is deterministic on unchanged data, so both legs
        # coincide exactly
        after = ivf_drift_report(spark, path, dim=self.DIM)
        assert abs(after["scan_ratio"] - 1.0) < 1e-9
        assert abs(after["inertia_ratio"] - 1.0) < 1e-9
        assert after["largest_bucket_fraction"] <= 72 / 96

    def test_unrecorded_index_refuses_without_explicit_centroids(
        self, spark, tmp_path, monkeypatch
    ):
        """Drift against a GUESSED quantizer would report nonsense —
        an index recording no centroid values refuses; the explicit
        escape hatch still works."""
        from mydatasyncer_spark.operators import similarity as sim
        from mydatasyncer_spark.operators.maintenance import (
            ivf_drift_report,
        )

        monkeypatch.setattr(sim, "_IVF_CENS_MAX_NUMBERS", 0)
        path = str(tmp_path / "ivf")
        cens = self._frozen_then_drifted(spark, path)
        with pytest.raises(ValueError, match="records no centroid"):
            ivf_drift_report(spark, path, dim=self.DIM)
        rep = ivf_drift_report(
            spark, path, dim=self.DIM, centroids=cens
        )
        assert rep["scan_ratio"] > 1.0


class TestCompactionReport:
    """r10: the compaction DECISION signal — duplicate-row and
    file-count tax before compaction, clean after, and a crashed
    rewrite's staging dir surfaced."""

    def test_report_crosses_then_recovers(self, spark, tmp_path):
        from mydatasyncer_spark.operators.dedup import INDEX_STAGING_SUFFIX
        from mydatasyncer_spark.operators.maintenance import (
            compact_table,
            compaction_report,
        )

        path = str(tmp_path / "pairs")
        rows = [(i, i + 1, 0.9) for i in range(50)]
        for lo in range(0, 50, 10):
            spark.createDataFrame(
                rows[lo : lo + 10], "id_a long, id_b long, score double"
            ).write.mode("append").parquet(path)
        spark.createDataFrame(  # replayed append
            rows[:10], "id_a long, id_b long, score double"
        ).write.mode("append").parquet(path)
        before = compaction_report(spark, path)
        assert before["rows"] == 60
        assert before["duplicate_rows"] == 10  # run-compact-when signal
        assert before["files"] >= 6
        assert before["pending_staging"] is False
        # a crashed rewrite leaves staging behind — the report says
        # so (report only OBSERVES; maintenance is what resolves it,
        # so drop the fabricated staging before compacting — a real
        # staged copy would be the complete rewrite and safe to
        # replay, this fabricated one is not)
        spark.createDataFrame(
            rows[:3], "id_a long, id_b long, score double"
        ).write.parquet(path + INDEX_STAGING_SUFFIX)
        assert compaction_report(spark, path)["pending_staging"] is True
        shutil.rmtree(path + INDEX_STAGING_SUFFIX)
        compact_table(spark, path)
        after = compaction_report(spark, path)
        assert after["rows"] == 50
        assert after["duplicate_rows"] == 0
        assert after["files"] < before["files"]
        assert after["rows_per_file"] > before["rows_per_file"]
        assert after["pending_staging"] is False

    def test_key_dedupe_notion_matches_compaction(self, spark, tmp_path):
        """duplicate_rows under dedupe_cols must equal exactly what
        compact_table(dedupe_cols) would remove — same notion, so
        the signal never over- or under-promises."""
        from mydatasyncer_spark.operators.maintenance import (
            compact_table,
            compaction_report,
        )

        path = str(tmp_path / "surv")
        spark.createDataFrame(
            [(i, f"text {i}") for i in range(12)],
            "doc_id long, text string",
        ).write.parquet(path)
        spark.createDataFrame(
            [(i, f"text {i}") for i in range(4)],
            "doc_id long, text string",
        ).write.mode("append").parquet(path)
        rep = compaction_report(spark, path, dedupe_cols=["doc_id"])
        stats = compact_table(spark, path, dedupe_cols=["doc_id"])
        assert rep["duplicate_rows"] == stats["removed_rows"] == 4


class TestCompactLshIndex:
    def test_append_replay_compact_identity(self, spark, tmp_path):
        """Appended increments (one replayed) compact losslessly —
        metadata survives, bucket layout survives, config-less probe
        results identical pre/post."""
        import glob
        import os

        from mydatasyncer_spark.operators.maintenance import (
            compact_lsh_index,
        )
        from mydatasyncer_spark.operators.similarity import (
            lsh_ann_topk_indexed,
            lsh_index,
        )

        rows = [
            (i, [((i * 13 + j * 5) % 17) / 17.0 - 0.5 for j in range(4)])
            for i in range(1, 41)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        path = str(tmp_path / "lsh")
        for lo in (1, 21, 1):  # third append replays the first
            lsh_index(
                df.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 20)
                ),
                dim=4,
                n_planes=4,
            ).write.mode("append").partitionBy("bucket").parquet(path)
        q = df.filter("vec_id % 3 = 0")

        def topk(index):
            return {
                (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
                for r in lsh_ann_topk_indexed(
                    q, index, dim=4, k=3, n_planes=4
                ).collect()
            }

        # the replayed duplicates pollute rank slots pre-compaction —
        # the identity target is the CLEAN single build
        clean = topk(lsh_index(df, dim=4, n_planes=4))
        assert topk(spark.read.parquet(path)) != clean
        stats = compact_lsh_index(spark, path)
        assert stats["removed_rows"] == 20 and stats["rows"] == 40
        assert glob.glob(os.path.join(path, "bucket=*"))
        assert topk(spark.read.parquet(path)) == clean and clean


class TestLshOccupancyReport:
    def test_skewed_corpus_cost_shape_and_refusal(self, spark, tmp_path):
        """Correlated vectors skew sign-bit buckets — the report
        shows the cost concentrating under few planes and splitting
        under more; an unrecorded store refuses without explicit
        candidates."""
        from pyspark.sql import functions as F  # noqa: F811

        from mydatasyncer_spark.operators.maintenance import (
            lsh_occupancy_report,
        )
        from mydatasyncer_spark.operators.similarity import lsh_index

        # strongly correlated corpus: every vector in the same
        # half-space for most hyperplanes
        rows = [
            (
                i,
                [
                    0.8 + 0.01 * ((i * 7 + j) % 5)
                    for j in range(4)
                ],
            )
            for i in range(1, 65)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        path = str(tmp_path / "lsh")
        lsh_index(df, dim=4, n_planes=2).write.partitionBy(
            "bucket"
        ).parquet(path)
        rep = lsh_occupancy_report(spark, path, dim=4)
        assert rep["rows"] == 64 and rep["recorded_planes"] == 2
        assert rep["pending_staging"] is False
        by_p = {c["n_planes"]: c for c in rep["candidates"]}
        assert set(by_p) == {1, 2, 3}
        # expected scan is monotone non-increasing in plane count,
        # and on this correlated corpus the 1-plane family is
        # maximally concentrated
        assert (
            by_p[1]["expected_scan"]
            >= by_p[2]["expected_scan"]
            >= by_p[3]["expected_scan"]
        )
        assert by_p[1]["largest_bucket_fraction"] == 1.0
        assert 1 <= by_p[3]["buckets_used"] <= 8
        # provenance-stripped store: refused without candidates
        stripped = str(tmp_path / "bare")
        spark.read.parquet(path).withColumn(
            "neighbor_id",
            F.col("neighbor_id").alias("neighbor_id", metadata={}),
        ).write.partitionBy("bucket").parquet(stripped)
        with pytest.raises(ValueError, match="records no plane"):
            lsh_occupancy_report(spark, stripped, dim=4)
        explicit = lsh_occupancy_report(
            spark, stripped, dim=4, candidate_planes=[2]
        )
        assert explicit["recorded_planes"] is None
        assert explicit["candidates"][0]["expected_scan"] == by_p[2][
            "expected_scan"
        ]


class TestStagedProtocolRandomized:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """Seeded randomized op sequences against one store: appends,
    replayed appends, compactions, and simulated crash windows
    (complete staged copy + deleted store) in random order — after
    every compaction the store content must equal exactly the set of
    unique rows ever appended. Fuzzes the _SUCCESS-gated protocol
    every store family rides."""

    def test_random_append_replay_crash_compact_sequences(
        self, spark, tmp_path
    ):
        import random
        import shutil as sh

        from mydatasyncer_spark.operators.dedup import (
            INDEX_STAGING_SUFFIX,
        )
        from mydatasyncer_spark.operators.maintenance import (
            compact_table,
        )

        for seed in (13, 58):
            rng = random.Random(seed)
            path = str(tmp_path / f"store_{seed}")
            expected: set = set()
            batches: list = []
            next_id = 0

            def content():
                return {
                    (r["k"], r["v"])
                    for r in spark.read.parquet(path).collect()
                }

            def append(rows):
                spark.createDataFrame(
                    list(rows), "k long, v double"
                ).write.mode("append").parquet(path)

            # always start with one real batch so the store exists
            first = [(i, float(i)) for i in range(4)]
            next_id = 4
            append(first)
            batches.append(first)
            expected |= set(first)
            for _ in range(12):
                op = rng.random()
                if op < 0.4:
                    rows = [
                        (next_id + i, float(rng.randrange(100)))
                        for i in range(rng.randrange(1, 5))
                    ]
                    next_id += len(rows)
                    append(rows)
                    batches.append(rows)
                    expected |= set(rows)
                elif op < 0.65:
                    # at-least-once replay of a previous batch
                    append(rng.choice(batches))
                elif op < 0.8:
                    # crash mid-overwrite: complete staged copy (with
                    # _SUCCESS), store gone — exactly what a crashed
                    # compact_table leaves behind
                    spark.read.parquet(path).localCheckpoint(
                        eager=True
                    ).write.mode("overwrite").parquet(
                        path + INDEX_STAGING_SUFFIX
                    )
                    sh.rmtree(path)
                else:
                    stats = compact_table(spark, path)
                    assert content() == expected, seed
                    assert stats["rows"] == len(expected), seed
            # final compaction resolves any pending crash window too
            compact_table(spark, path)
            assert content() == expected, seed

    def test_random_sequences_on_partitioned_store(self, spark, tmp_path):
        """Same fuzz over a bucket-partitioned layout: restores (and
        the union branch's merge staging) must keep the directory
        partitioning alive through every crash window."""
        import glob
        import os
        import random
        import shutil as sh

        from mydatasyncer_spark.operators.dedup import (
            INDEX_STAGING_SUFFIX,
        )
        from mydatasyncer_spark.operators.maintenance import (
            compact_table,
        )

        for seed in (7, 91):
            rng = random.Random(seed)
            path = str(tmp_path / f"pstore_{seed}")
            expected: set = set()
            batches: list = []
            next_id = 0

            def content():
                return {
                    (r["k"], r["v"], r["bucket"])
                    for r in spark.read.parquet(path).collect()
                }

            def append(rows):
                spark.createDataFrame(
                    list(rows), "k long, v double, bucket int"
                ).write.mode("append").partitionBy("bucket").parquet(path)

            first = [(i, float(i), i % 3) for i in range(5)]
            next_id = 5
            append(first)
            batches.append(first)
            expected |= set(first)
            for _ in range(10):
                op = rng.random()
                if op < 0.4:
                    rows = [
                        (
                            next_id + i,
                            float(rng.randrange(100)),
                            rng.randrange(3),
                        )
                        for i in range(rng.randrange(1, 4))
                    ]
                    next_id += len(rows)
                    append(rows)
                    batches.append(rows)
                    expected |= set(rows)
                elif op < 0.65:
                    append(rng.choice(batches))
                elif op < 0.8:
                    spark.read.parquet(path).localCheckpoint(
                        eager=True
                    ).write.mode("overwrite").partitionBy(
                        "bucket"
                    ).parquet(path + INDEX_STAGING_SUFFIX)
                    sh.rmtree(path)
                else:
                    compact_table(
                        spark, path, partition_by=["bucket"]
                    )
                    assert content() == expected, seed
                    assert glob.glob(
                        os.path.join(path, "bucket=*")
                    ), seed
            compact_table(spark, path, partition_by=["bucket"])
            assert content() == expected, seed
            assert glob.glob(os.path.join(path, "bucket=*")), seed


class TestPqMaintenance:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """r10: the PQ store's maintenance lifecycle — compaction under
    the frozen-quantizer contract, the codebook drift report
    (decision signal), and the staged retrain-and-re-encode rebuild
    with its both-axes provenance restamp."""

    DIM, M, KSUB = 8, 4, 4

    @classmethod
    def _corpus(cls, spark, n=48, shift=0.0):
        rows = [
            (
                i,
                [
                    ((i * 7 + j * 3) % 23) / 23.0 - 0.5 + shift
                    for j in range(cls.DIM)
                ],
            )
            for i in range(1, n + 1)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def _grown(self, spark, path, corpus):
        """A store grown by two appends under the deterministic
        default books/centroids."""
        from mydatasyncer_spark.operators.similarity import pq_index

        idx = pq_index(
            corpus, self.DIM, m=self.M, ksub=self.KSUB, n_centroids=4
        )
        for lo in (1, 25):
            idx.filter(
                (F.col("neighbor_id") >= lo)
                & (F.col("neighbor_id") < lo + 24)
            ).write.mode("append").partitionBy("bucket").parquet(path)

    def test_compact_pq_index_identity_and_shrink(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.maintenance import (
            compact_pq_index,
        )
        from mydatasyncer_spark.operators.similarity import (
            pq_topk_indexed,
        )

        from mydatasyncer_spark.operators.similarity import pq_index

        path = str(tmp_path / "pq")
        corpus = self._corpus(spark)
        self._grown(spark, path, corpus)
        # replay-duplicate one append
        stored = spark.read.parquet(path)
        stored.filter("neighbor_id < 10").localCheckpoint(
            eager=True
        ).write.mode("append").partitionBy("bucket").parquet(path)
        q = corpus.filter("vec_id % 11 = 0")

        def topk():
            return {
                (r["query_id"], r["neighbor_id"], r["rank"])
                for r in pq_topk_indexed(
                    q, spark.read.parquet(path), self.DIM, k=3,
                    n_centroids=4,
                ).collect()
            }

        import glob as _glob
        import os

        before_files = len(
            _glob.glob(os.path.join(path, "bucket=*", "*.parquet"))
        )
        # the clean baseline: a fresh batch build — replay-duplicate
        # rows DEMONSTRABLY skew top-k (a duplicated neighbor holds
        # two rank slots and squeezes a real one out), and compaction
        # restores the clean answer
        clean = pq_index(
            corpus, self.DIM, m=self.M, ksub=self.KSUB, n_centroids=4
        )
        want = {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in pq_topk_indexed(
                q, clean, self.DIM, k=3, n_centroids=4
            ).collect()
        }
        assert topk() != want
        stats = compact_pq_index(spark, path)
        assert stats["rows"] == corpus.count()
        after_files = len(
            _glob.glob(os.path.join(path, "bucket=*", "*.parquet"))
        )
        assert after_files < before_files
        assert _glob.glob(os.path.join(path, "bucket=*"))
        assert topk() == want and want

    def test_drift_report_crosses_then_rebuild_resets(
        self, spark, tmp_path
    ):
        """Deterministic (untrained) books on a shifted corpus show
        mse_ratio >> 1; pq_rebuild retrains + re-encodes; the
        re-report under the rebuilt store returns to ~1.0 — the
        fixpoint. Old explicit books are REFUSED afterwards, and the
        rebuilt store matches a fresh batch build under the same
        books."""
        from mydatasyncer_spark.operators.maintenance import (
            pq_drift_report,
            pq_rebuild,
        )
        from mydatasyncer_spark.operators.similarity import (
            pq_codebook_values,
            pq_index,
            pq_topk_indexed,
        )

        path = str(tmp_path / "pq")
        corpus = self._corpus(spark, shift=0.7)
        self._grown(spark, path, corpus)
        rep = pq_drift_report(
            spark, path, corpus, self.DIM, n_iter=4
        )
        assert rep["rows"] == corpus.count()
        assert rep["mse_ratio"] > 1.3
        assert rep["pending_staging"] is False
        stats = pq_rebuild(
            spark,
            path,
            corpus,
            self.DIM,
            books=rep["books_retrained"],
        )
        assert stats["rows"] == corpus.count()
        rep2 = pq_drift_report(
            spark, path, corpus, self.DIM, n_iter=4
        )
        assert rep2["mse_ratio"] < 1.15
        stored = spark.read.parquet(path)
        q = corpus.filter("vec_id % 11 = 0")
        # old (deterministic) books now refused explicitly
        import pytest as _pytest

        with _pytest.raises(ValueError, match="do not match"):
            pq_topk_indexed(
                q, stored, self.DIM, k=3, n_centroids=4,
                books=pq_codebook_values(self.DIM, self.M, self.KSUB),
            )
        # rebuilt store == fresh batch build under the same books
        fresh = pq_index(
            corpus,
            self.DIM,
            m=self.M,
            ksub=self.KSUB,
            n_centroids=4,
            books=stats["books"],
            centroids=stats["centroids"],
        )

        def rows(df):
            return {
                (r["neighbor_id"], tuple(r["codes"]), r["bucket"])
                for r in df.select(
                    "neighbor_id", "codes", "bucket"
                ).collect()
            }

        assert rows(stored) == rows(fresh)

    def test_rebuild_crash_restores_then_rebuilds(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.dedup import (
            INDEX_STAGING_SUFFIX,
        )
        from mydatasyncer_spark.operators.maintenance import pq_rebuild
        from mydatasyncer_spark.operators.similarity import (
            pq_topk_indexed,
        )

        import shutil

        path = str(tmp_path / "pq")
        corpus = self._corpus(spark)
        self._grown(spark, path, corpus)
        spark.read.parquet(path).localCheckpoint(
            eager=True
        ).write.partitionBy("bucket").parquet(path + INDEX_STAGING_SUFFIX)
        shutil.rmtree(path)
        stats = pq_rebuild(spark, path, corpus, self.DIM, n_iter=3)
        assert stats["restored_from_staging"] is True
        assert stats["rows"] == corpus.count()
        q = corpus.filter("vec_id % 11 = 0")
        got = pq_topk_indexed(
            q, spark.read.parquet(path), self.DIM, k=3, n_centroids=4
        )
        assert got.count() > 0

    def test_unrecorded_store_refuses_report(self, spark, tmp_path):
        """A store with stripped metadata refuses the drift report —
        error against guessed books is meaningless."""
        from mydatasyncer_spark.operators.maintenance import (
            pq_drift_report,
        )
        from mydatasyncer_spark.operators.similarity import pq_index

        import pytest as _pytest

        path = str(tmp_path / "pq")
        corpus = self._corpus(spark)
        idx = pq_index(
            corpus, self.DIM, m=self.M, ksub=self.KSUB, n_centroids=4
        )
        idx.select(
            F.col("neighbor_id").alias("neighbor_id", metadata={}),
            "codes",
            "cn",
            "bucket",
        ).write.partitionBy("bucket").parquet(path)
        with _pytest.raises(ValueError, match="records no codebook"):
            pq_drift_report(spark, path, corpus, self.DIM)

    def test_fingerprint_only_store_measurable_with_explicit_books(
        self, spark, tmp_path, monkeypatch
    ):
        """r11 review fix: an over-budget store records only the
        fingerprint, so NO rebuild can ever make it value-self-
        describing — books= is the escape hatch, validated against
        the recorded fingerprint (wrong books refuse)."""
        import pytest as _pytest

        import mydatasyncer_spark.operators.similarity as sim
        from mydatasyncer_spark.operators.maintenance import (
            pq_drift_report,
        )
        from mydatasyncer_spark.operators.similarity import (
            pq_index,
            pq_train,
        )

        monkeypatch.setattr(sim, "_IVF_CENS_MAX_NUMBERS", 4)
        path = str(tmp_path / "pq")
        corpus = self._corpus(spark)
        trained = pq_train(
            corpus, self.DIM, m=self.M, ksub=self.KSUB, n_iter=2
        )
        pq_index(
            corpus,
            self.DIM,
            m=self.M,
            ksub=self.KSUB,
            n_centroids=4,
            books=trained,
        ).write.partitionBy("bucket").parquet(path)
        assert sim.recorded_codebooks(spark.read.parquet(path)) is None
        # configless: refused (values not recorded)
        with _pytest.raises(ValueError, match="records no codebook"):
            pq_drift_report(spark, path, corpus, self.DIM)
        # wrong explicit books: refused via the recorded fingerprint
        with _pytest.raises(ValueError, match="DIFFERENT codebooks"):
            pq_drift_report(
                spark,
                path,
                corpus,
                self.DIM,
                books=sim.pq_codebook_values(self.DIM, self.M, self.KSUB),
            )
        # the store's own books: measurable, near the fixpoint
        rep = pq_drift_report(
            spark, path, corpus, self.DIM, n_iter=2, books=trained
        )
        assert rep["rows"] == corpus.count()
        assert rep["mse_frozen"] > 0.0

    def test_residual_fp_only_store_measurable_with_explicit_centroids(
        self, spark, tmp_path, monkeypatch
    ):
        """r11 review fix: a RESIDUAL store over the footer budget
        records only fingerprints — no rebuild can ever record the
        centroid values, so centroids= is the escape hatch (validated
        against the recorded IVF fingerprint; wrong set refused),
        exactly the books= contract on the coarse axis."""
        import pytest as _pytest

        import mydatasyncer_spark.operators.similarity as sim
        from mydatasyncer_spark.operators.maintenance import (
            pq_drift_report,
        )
        from mydatasyncer_spark.operators.similarity import (
            ivf_centroid_values,
            pq_codebook_values,
            pq_index,
        )

        monkeypatch.setattr(sim, "_IVF_CENS_MAX_NUMBERS", 4)
        path = str(tmp_path / "pqres")
        corpus = self._corpus(spark)
        cens = [ivf_centroid_values(self.DIM, c) for c in range(4)]
        books = pq_codebook_values(self.DIM, self.M, self.KSUB)
        pq_index(
            corpus,
            self.DIM,
            m=self.M,
            ksub=self.KSUB,
            centroids=cens,
            books=books,
            residual=True,
        ).write.partitionBy("bucket").parquet(path)
        store = spark.read.parquet(path)
        assert sim.recorded_centroids(store) is None  # fp-only
        # configless: refused (residuals need the coarse quantizer)
        with _pytest.raises(ValueError, match="records no centroid"):
            pq_drift_report(
                spark, path, corpus, self.DIM, books=books
            )
        # wrong explicit centroids: refused via the IVF fingerprint
        wrong = [ivf_centroid_values(self.DIM, 10 + c) for c in range(4)]
        with _pytest.raises(ValueError, match="centroid"):
            pq_drift_report(
                spark, path, corpus, self.DIM,
                books=books, centroids=wrong,
            )
        # the store's own centroids: measurable
        rep = pq_drift_report(
            spark, path, corpus, self.DIM,
            n_iter=2, books=books, centroids=cens,
        )
        assert rep["rows"] == corpus.count()
        assert rep["mse_frozen"] > 0.0


class TestBandOccupancyReport:
    """r10: the MinHash band store's decision signal — modulus cost
    curve + banding-scheme collision volume."""

    def _store(self, spark, tmp_path, texts, nb=8, band_size=4):
        from mydatasyncer_spark.operators.dedup import (
            minhash_band_store,
            minhash_signature,
        )

        corpus = spark.createDataFrame(
            texts, "doc_id long, text string"
        )
        sigs = minhash_signature(corpus)
        path = str(tmp_path / "bands")
        minhash_band_store(
            sigs, n_band_buckets=nb, band_size=band_size
        ).write.partitionBy("_band_bucket").parquet(path)
        return path

    def test_collision_heavy_store_vs_diverse_and_modulus_curve(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.maintenance import (
            band_occupancy_report,
        )

        # 12 near-identical docs: bands collide massively
        dup_texts = [
            (i, "the quick brown fox jumps over the lazy dog again")
            for i in range(12)
        ]
        # 12 docs with fully disjoint vocabularies — no shared
        # shingles, so band collisions are hash accidents only
        div_texts = [
            (
                100 + i,
                " ".join(f"tok{i}x{j}" for j in range(12)),
            )
            for i in range(12)
        ]
        p_dup = self._store(spark, tmp_path / "dup", dup_texts)
        p_div = self._store(spark, tmp_path / "div", div_texts)
        rep_dup = band_occupancy_report(spark, p_dup)
        rep_div = band_occupancy_report(spark, p_div)
        # the collision-volume axis separates them decisively
        assert rep_dup["collision_pairs"] > 5 * max(
            rep_div["collision_pairs"], 1
        )
        assert rep_dup["recorded"]["n_band_buckets"] == 8
        assert rep_dup["recorded"]["k"] is not None
        assert rep_dup["recorded"]["band_size"] == 4
        # the modulus curve: expected_scan never increases with more
        # buckets (splitting can only cut the Σb²/N² estimator)
        cands = {
            c["n_band_buckets"]: c["expected_scan"]
            for c in rep_div["candidates"]
        }
        assert set(cands) == {4, 8, 16}
        assert cands[16] <= cands[8] + 1e-12
        assert cands[8] <= cands[4] + 1e-12
        assert rep_div["pending_staging"] is False

    def test_unrecorded_modulus_refuses_without_candidates(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.dedup import (
            minhash_band_store,
            minhash_signature,
        )
        from mydatasyncer_spark.operators.maintenance import (
            band_occupancy_report,
        )

        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        )
        path = str(tmp_path / "flat")
        # no n_band_buckets: flat store, no recorded modulus
        minhash_band_store(
            minhash_signature(corpus)
        ).write.parquet(path)
        with pytest.raises(ValueError, match="guessed modulus"):
            band_occupancy_report(spark, path)
        rep = band_occupancy_report(
            spark, path, candidate_buckets=[4]
        )
        assert rep["recorded"]["n_band_buckets"] is None
        assert len(rep["candidates"]) == 1


class TestContainmentOccupancyReport:
    """r10: the containment store's decision signal — modulus curve
    + token-df skew (the stopword shape no modulus can fix)."""

    def _store(self, spark, tmp_path, texts, nb=8):
        from mydatasyncer_spark.operators.dedup import (
            containment_inverted_store,
            jaccard_prefix_index,
        )

        corpus = spark.createDataFrame(
            texts, "doc_id long, text string"
        )
        idx = jaccard_prefix_index(corpus)
        path = str(tmp_path / "inv")
        containment_inverted_store(
            idx, n_token_buckets=nb
        ).write.partitionBy("_tok_bucket").parquet(path)
        return path

    def test_stopword_skew_vs_diverse_and_modulus_curve(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.maintenance import (
            containment_occupancy_report,
        )

        # every doc shares the stopword — df(the) == n_docs
        stop_texts = [
            (i, f"the topic{i} the филлер{i} the unique{i}")
            for i in range(16)
        ]
        div_texts = [
            (100 + i, f"w{i * 3} w{i * 3 + 1} w{i * 3 + 2}")
            for i in range(16)
        ]
        p_stop = self._store(spark, tmp_path / "stop", stop_texts)
        p_div = self._store(spark, tmp_path / "div", div_texts)
        rep_stop = containment_occupancy_report(spark, p_stop)
        rep_div = containment_occupancy_report(spark, p_div)
        assert (
            rep_stop["largest_token_fraction"]
            > 3 * rep_div["largest_token_fraction"]
        )
        assert (
            rep_stop["candidate_rows_per_probe_token"]
            > rep_div["candidate_rows_per_probe_token"]
        )
        assert rep_div["distinct_tokens"] == 48
        cands = {
            c["n_token_buckets"]: c["expected_scan"]
            for c in rep_div["candidates"]
        }
        assert set(cands) == {4, 8, 16}
        assert cands[16] <= cands[8] + 1e-12
        assert rep_div["pending_staging"] is False

    def test_prefix_store_and_stripped_frame_refused(
        self, spark, tmp_path
    ):
        """The structural-shape hazard: a prefix store (or stripped
        frame) has the same columns but reports fictitious dfs —
        refused, same as containment_join."""
        from mydatasyncer_spark.operators.dedup import (
            jaccard_ordered_index,
            jaccard_prefix_index,
            jaccard_prefix_store,
            jaccard_token_order,
        )
        from mydatasyncer_spark.operators.maintenance import (
            containment_occupancy_report,
        )

        corpus = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),
                (2, "beta gamma delta epsilon"),
            ],
            "doc_id long, text string",
        )
        order = jaccard_token_order(jaccard_prefix_index(corpus))
        ordered = jaccard_ordered_index(corpus, token_order=order)
        path = str(tmp_path / "prefix")
        jaccard_prefix_store(ordered, threshold=0.6).write.parquet(path)
        with pytest.raises(ValueError, match="full-explosion"):
            containment_occupancy_report(spark, path)


class TestReportReviewFixes:
    """Review fixes: the compaction report's duplicate notion is
    NULL-safe (an SCD2 gold store's valid_to=NULL rows are not
    'duplicates'), and the LSH occupancy report refuses a dim that
    contradicts the store's own recorded family."""

    def test_compaction_report_null_safe(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import (
            compaction_report,
        )

        path = str(tmp_path / "gold")
        rows = [(i, f"v{i}", None) for i in range(20)] + [
            (100 + i, f"w{i}", f"2024-01-0{i + 1}") for i in range(5)
        ]
        spark.createDataFrame(
            rows, "k long, v string, valid_to string"
        ).write.parquet(path)
        rep = compaction_report(spark, path)
        # 25 distinct rows, many carrying NULLs: zero duplicates
        assert rep["rows"] == 25 and rep["duplicate_rows"] == 0
        # a genuine full-row duplicate IS counted, NULL and all
        spark.createDataFrame(
            [(0, "v0", None)], "k long, v string, valid_to string"
        ).write.mode("append").parquet(path)
        rep2 = compaction_report(spark, path)
        assert rep2["duplicate_rows"] == 1

    def test_lsh_report_refuses_mismatched_dim(self, spark, tmp_path):
        from mydatasyncer_spark.operators.maintenance import (
            lsh_occupancy_report,
        )
        from mydatasyncer_spark.operators.similarity import lsh_index

        vecs = spark.createDataFrame(
            [
                (i, [((i + j) % 5) / 5.0 - 0.4 for j in range(6)])
                for i in range(1, 20)
            ],
            "vec_id long, embedding array<double>",
        )
        path = str(tmp_path / "lsh")
        lsh_index(vecs, dim=6, n_planes=3).write.parquet(path)
        with pytest.raises(ValueError, match="recorded dim"):
            lsh_occupancy_report(spark, path, dim=4)
        rep = lsh_occupancy_report(spark, path, dim=6)
        assert rep["recorded_planes"] == 3


class TestPqStoreRandomized:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """The staged-protocol fuzz, PQ-store flavored: random append /
    replay / crash-window / compact / REBUILD sequences against a
    bucket-partitioned IVF-PQ store — after every maintenance op the
    probe answer must equal a fresh batch build over the ids ever
    ingested, under whatever books the store currently records."""

    DIM, M, KSUB = 8, 4, 4

    def test_random_sequences_probe_identical_to_batch_build(
        self, spark, tmp_path
    ):
        import random
        import shutil as sh

        from mydatasyncer_spark.operators.dedup import (
            INDEX_STAGING_SUFFIX,
        )
        from mydatasyncer_spark.operators.maintenance import (
            compact_pq_index,
            pq_rebuild,
        )
        from mydatasyncer_spark.operators.similarity import (
            pq_index,
            pq_topk_indexed,
            recorded_codebooks,
        )

        def vec(i):
            rng = random.Random(1000 + i)
            return [round(rng.uniform(-1, 1), 3) for _ in range(self.DIM)]

        for seed in (19, 83):
            rng = random.Random(seed)
            path = str(tmp_path / f"pq_{seed}")
            ingested: dict[int, list[float]] = {}
            next_id = 0

            def corpus_df():
                return spark.createDataFrame(
                    sorted(ingested.items()),
                    "vec_id long, embedding array<double>",
                )

            def append(ids):
                rows = [(i, vec(i)) for i in ids]
                for i, v in rows:
                    ingested.setdefault(i, v)
                batch = spark.createDataFrame(
                    rows, "vec_id long, embedding array<double>"
                )
                # append like the stream does: only not-yet-indexed
                # ids, under the store's recorded books
                try:
                    stored = spark.read.parquet(path)
                    seen = {
                        r["neighbor_id"]
                        for r in stored.select("neighbor_id").collect()
                    }
                    books = recorded_codebooks(stored)
                except Exception:
                    seen, books = set(), None
                fresh = batch.filter(
                    ~F.col("vec_id").isin(list(seen)) if seen else F.lit(True)
                )
                if fresh.isEmpty():
                    return
                pq_index(
                    fresh, self.DIM, m=self.M, ksub=self.KSUB,
                    n_centroids=4, books=books,
                ).write.mode("append").partitionBy("bucket").parquet(path)

            def probe_matches_batch():
                stored = spark.read.parquet(path)
                books = recorded_codebooks(stored)
                q = corpus_df().filter("vec_id % 3 = 0")
                got = {
                    (r["query_id"], r["neighbor_id"], r["rank"])
                    for r in pq_topk_indexed(
                        q, stored, self.DIM, k=3, n_centroids=4
                    ).collect()
                }
                fresh = pq_index(
                    corpus_df(), self.DIM, m=self.M, ksub=self.KSUB,
                    n_centroids=4, books=books,
                )
                want = {
                    (r["query_id"], r["neighbor_id"], r["rank"])
                    for r in pq_topk_indexed(
                        q, fresh, self.DIM, k=3, n_centroids=4,
                        books=books,
                    ).collect()
                }
                return got == want and got

            append(range(8))
            next_id = 8
            for _ in range(8):
                op = rng.random()
                if op < 0.35:
                    ids = range(next_id, next_id + rng.randrange(2, 5))
                    next_id = ids.stop
                    append(ids)
                elif op < 0.55:
                    # at-least-once replay of already-ingested ids —
                    # the anti-join makes it a no-op
                    lo = rng.randrange(0, max(1, next_id - 3))
                    append(range(lo, min(lo + 3, next_id)))
                elif op < 0.7:
                    # crash mid-overwrite
                    spark.read.parquet(path).localCheckpoint(
                        eager=True
                    ).write.mode("overwrite").partitionBy(
                        "bucket"
                    ).parquet(path + INDEX_STAGING_SUFFIX)
                    sh.rmtree(path)
                    # next maintenance/append must restore first
                    from mydatasyncer_spark.operators.maintenance import (
                        restore_staging,
                    )

                    restore_staging(spark, path, ["bucket"])
                elif op < 0.85:
                    compact_pq_index(spark, path)
                    assert probe_matches_batch(), seed
                else:
                    pq_rebuild(
                        spark, path, corpus_df(), self.DIM,
                        m=self.M, ksub=self.KSUB, n_iter=2,
                    )
                    assert probe_matches_batch(), seed
            compact_pq_index(spark, path)
            assert probe_matches_batch(), seed
            assert (
                spark.read.parquet(path).count() == len(ingested)
            ), seed
