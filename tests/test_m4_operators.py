"""Units for the training-data pipeline operators (dedup, similarity,
text, multimodal) — the scale paths the SQL oracles can't cover."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mydatasyncer_spark.operators import multimodal as M
from mydatasyncer_spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_lsh_pairs,
    minhash_signature,
    simhash,
)
from mydatasyncer_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_ann_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog"),  # near dup
        (4, "completely different content about spark engines"),
        (5, "THE QUICK  BROWN FOX JUMPS OVER THE LAZY DOG"),  # dup after normalize
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalized(spark, docs):
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 1
    assert groups[0]["group_size"] == 3  # 1, 2, 5 collapse


def test_minhash_identical_docs_share_signature(spark, docs):
    sig = minhash_signature(docs).orderBy("doc_id").collect()
    s1, s2 = sig[0], sig[1]
    assert all(s1[f"mh{i}"] == s2[f"mh{i}"] for i in range(16))


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_lsh_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0  # exact dup always pairs
    # near-dup (1,3) should pair with high estimated jaccard; doc 4
    # must never pair with anything
    assert all(4 not in p for p in pairs)


def test_minhash_lsh_releases_signature_cache(spark, docs):
    # the signature persist() is owned by minhash_lsh_pairs — after
    # the call returns (result is eagerly materialized) no DataFrame
    # cache may linger in the session's CacheManager (round-1 leak)
    minhash_lsh_pairs(docs).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestIncrementalMinhash:
    """minhash_lsh_pairs_incremental: a new batch against a stored
    signature index must see exactly the pairs the full batch job
    would have formed for those documents — without ever building
    corpus-vs-corpus pairs."""

    def _split(self, spark, sf_dir):
        from mydatasyncer_spark.contract import table

        d = table(spark, sf_dir, "documents").select("doc_id", "text")
        corpus = d.filter(F.col("doc_id") % 5 != 0)
        new = d.filter(F.col("doc_id") % 5 == 0)
        return d, corpus, new

    def test_matches_full_batch_restricted(self, spark, sf_dir):
        from mydatasyncer_spark.operators.dedup import (
            minhash_lsh_pairs_incremental,
            minhash_signature,
        )

        full_docs, corpus, new = self._split(spark, sf_dir)
        index = minhash_signature(corpus)
        inc = minhash_lsh_pairs_incremental(new, index)
        got = {
            frozenset((r["id_a"], r["id_b"])): r["est_jaccard"]
            for r in inc.collect()
        }
        new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
        full = minhash_lsh_pairs(full_docs)
        want = {
            frozenset((r["id_a"], r["id_b"])): r["est_jaccard"]
            for r in full.collect()
            if r["id_a"] in new_ids or r["id_b"] in new_ids
        }
        assert got == want
        assert got, "fixture split produced no cross/new pairs to check"

    def test_excludes_new_new_when_disabled(self, spark, sf_dir):
        from mydatasyncer_spark.operators.dedup import (
            minhash_lsh_pairs_incremental,
            minhash_signature,
        )

        _, corpus, new = self._split(spark, sf_dir)
        index = minhash_signature(corpus)
        inc = minhash_lsh_pairs_incremental(
            new, index, include_new_pairs=False
        )
        new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
        for r in inc.collect():
            # id_a is always the new side; id_b must be corpus-side
            assert r["id_a"] in new_ids
            assert r["id_b"] not in new_ids

    def test_precomputed_new_signatures_identical(self, spark, sf_dir):
        """new_signatures= (r14): passing signatures pre-computed by
        one pass over the whole snapshot must give row-identical
        output to the internal per-batch signature pass — signatures
        are row-local, so sign-all-then-filter == sign-the-batch."""
        from mydatasyncer_spark.operators.dedup import (
            minhash_band_store,
            minhash_lsh_pairs_incremental,
            minhash_signature,
        )

        full_docs, corpus, new = self._split(spark, sf_dir)
        all_sigs = minhash_signature(full_docs).localCheckpoint(eager=True)
        sigs = all_sigs.filter(F.col("doc_id") % 5 != 0)
        bands = minhash_band_store(sigs, n_band_buckets=32)
        base = minhash_lsh_pairs_incremental(
            new, sigs, corpus_bands=bands, n_band_buckets=32
        )
        pre = minhash_lsh_pairs_incremental(
            new,
            sigs,
            corpus_bands=bands,
            n_band_buckets=32,
            new_signatures=all_sigs.filter(F.col("doc_id") % 5 == 0),
        )
        key = lambda r: (r["id_a"], r["id_b"], r["est_jaccard"])  # noqa: E731
        assert sorted(map(key, pre.collect())) == sorted(
            map(key, base.collect())
        )
        assert pre.count() > 0

    def test_reingested_doc_never_self_pairs(self, spark):
        from mydatasyncer_spark.operators.dedup import (
            minhash_lsh_pairs_incremental,
            minhash_signature,
        )

        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different content about spark engines"),
        ]
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        index = minhash_signature(corpus)
        # re-ingest doc 1 unchanged: it must not pair with itself
        new = spark.createDataFrame([rows[0]], "doc_id long, text string")
        pairs = minhash_lsh_pairs_incremental(new, index).collect()
        assert all(r["id_a"] != r["id_b"] for r in pairs)
        assert pairs == []


def test_cluster_single_task_matches_iterative(spark):
    """The small-graph union-find fast path and the iterative
    label-propagation path must produce identical (doc_id,
    cluster_id) labels — including chains that force several
    propagation rounds."""
    import random

    from mydatasyncer_spark.operators.dedup import dedup_clusters

    rng = random.Random(7)
    pairs = [(i, i + 1) for i in range(1, 40)]          # long chain
    pairs += [(100 + 2 * i, 101 + 2 * i) for i in range(20)]  # 2-cliques
    pairs += [(rng.randint(200, 260), rng.randint(200, 260)) for _ in range(50)]
    pair_df = spark.createDataFrame(
        [p for p in pairs if p[0] != p[1]], "id_a long, id_b long"
    )
    fast = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in dedup_clusters(pair_df).collect()
    )
    iterative = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in dedup_clusters(pair_df, single_task_threshold=0).collect()
    )
    assert fast == iterative
    # chain collapses to one cluster labeled by its minimum
    chain = {c for d, c in fast if 1 <= d <= 40}
    assert chain == {1}


def test_simhash_near_dup_closer_than_unrelated(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sigs[1] == sigs[2]
    assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[4])


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.99, 0.1, 0.0], 0),  # near 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [-1.0, 0.0, 0.0], 1),
        (5, [0.98, 0.15, 0.0], 1),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_cosine_topk_exact(spark, vectors):
    out = cosine_topk(vectors.filter("vec_id = 1"), vectors, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [2, 5]
    assert out[0]["rank"] == 1 and out[0]["cosine"] > 0.99


def test_lsh_ann_candidates_subset_of_exact(spark, vectors):
    """LSH results must be a subset of brute-force candidates with
    identical cosines for shared pairs (approximation loses recall,
    never correctness)."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(vectors, vectors, k=4).collect()
    }
    approx = lsh_ann_topk(vectors, vectors, dim=3, k=4, n_planes=2).collect()
    assert len(approx) > 0
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        assert key in exact
        assert exact[key] == r["cosine"]


def test_ivf_probe_all_equals_exact(spark, vectors):
    """Probing every centroid bucket covers the whole corpus, so
    IVF degrades gracefully to the exact brute-force answer."""
    from mydatasyncer_spark.operators.similarity import ivf_topk

    exact = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in cosine_topk(vectors, vectors, k=3).collect()
    )
    C = 4
    full = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in ivf_topk(
            vectors, vectors, dim=3, k=3, n_centroids=C, n_probe=C
        ).collect()
    )
    assert full == exact


def test_ivf_probe1_subset_of_exact(spark, vectors):
    """Probe-1 results are a subset of the exact candidate pairs
    with identical cosines (recall loss, never wrong values), and
    recall is monotone in n_probe."""
    from mydatasyncer_spark.operators.similarity import ivf_topk

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(vectors, vectors, k=4).collect()
    }
    p1 = ivf_topk(vectors, vectors, dim=3, k=4, n_centroids=4, n_probe=1).collect()
    assert len(p1) > 0
    for r in p1:
        key = (r["query_id"], r["neighbor_id"])
        assert key in exact and exact[key] == r["cosine"]
    p2 = ivf_topk(vectors, vectors, dim=3, k=4, n_centroids=4, n_probe=2).collect()
    assert len(p2) >= len(p1)


class TestIvfIndexed:
    """ivf_topk_indexed over a stored ivf_index must reproduce
    ivf_topk exactly, and a bucket-partitioned index layout must be
    prunable at the scan."""

    def test_indexed_matches_direct(self, spark, vectors, tmp_path):
        from mydatasyncer_spark.operators.similarity import (
            ivf_index,
            ivf_topk,
            ivf_topk_indexed,
        )
        from mydatasyncer_spark.sources.writers import write_partitioned

        direct = sorted(
            tuple(r)
            for r in ivf_topk(
                vectors, vectors, dim=3, k=3, n_centroids=4, n_probe=2
            ).collect()
        )
        idx = ivf_index(vectors, dim=3, n_centroids=4)
        out = str(tmp_path / "ivf_index")
        write_partitioned(idx, out, ["bucket"])
        back = spark.read.parquet(out)
        indexed = sorted(
            tuple(r)
            for r in ivf_topk_indexed(
                vectors, back, dim=3, k=3, n_centroids=4, n_probe=2
            ).collect()
        )
        assert indexed == direct

    def test_bucket_partition_layout_prunable(self, spark, vectors, tmp_path):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.similarity import ivf_index
        from mydatasyncer_spark.sources.writers import write_partitioned

        idx = ivf_index(vectors, dim=3, n_centroids=4)
        out = str(tmp_path / "ivf_index2")
        write_partitioned(idx, out, ["bucket"])
        back = spark.read.parquet(out)
        plan = (
            back.filter(F.col("bucket") == 1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan
        assert "bucket" in plan.split("PartitionFilters")[1][:120]


def test_embedding_near_dup_blocked_by_label(spark, vectors):
    pairs = embedding_near_dup_pairs(vectors, "label", threshold=0.9).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got      # same label 0, cosine ~0.995
    assert (1, 5) not in got  # would match but different label (blocked)


class TestSemanticDedup:
    """r9 SemDeDup composition: within-cluster exact-cosine pairs +
    the engine's standard survivor selection; pair space bounded by
    the quantizer's clusters, recall caveat pinned."""

    def _clusters(self, spark, vectors, n_centroids=4):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.similarity import (
            ivf_buckets,
            ivf_centroid_values,
        )

        cens = [ivf_centroid_values(3, c) for c in range(n_centroids)]
        return {
            r["vec_id"]: r["c"]
            for r in vectors.select(
                "vec_id",
                ivf_buckets(F.col("embedding"), cens, 1)[0].alias("c"),
            ).collect()
        }

    def test_matches_within_cluster_brute(self, spark, vectors):
        from mydatasyncer_spark.operators.similarity import (
            semantic_dedup_pairs,
        )

        clusters = self._clusters(spark, vectors)
        vecs = {
            r["vec_id"]: r["embedding"] for r in vectors.collect()
        }

        def cos(a, b):
            num = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            na = sum(x * x for x in vecs[a]) ** 0.5
            nb = sum(x * x for x in vecs[b]) ** 0.5
            return round(num / (na * nb), 6)

        t = 0.9
        want = {
            (a, b, cos(a, b))
            for a in vecs
            for b in vecs
            if a < b and clusters[a] == clusters[b] and cos(a, b) >= t
        }
        got = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in semantic_dedup_pairs(
                vectors, dim=3, threshold=t, n_centroids=4
            ).collect()
        }
        assert got == want and got

    def test_cross_cluster_pairs_are_missed_by_design(
        self, spark, vectors
    ):
        """The published SemDeDup recall caveat, pinned: a near-dup
        pair landing in two different clusters never surfaces — the
        pair space really is cluster-bounded."""
        from mydatasyncer_spark.operators.similarity import (
            semantic_dedup_pairs,
        )

        clusters = self._clusters(spark, vectors)
        got = {
            (r["id_a"], r["id_b"])
            for r in semantic_dedup_pairs(
                vectors, dim=3, threshold=0.0, n_centroids=4
            ).collect()
        }
        split = {
            (a, b)
            for a in clusters
            for b in clusters
            if a < b and clusters[a] != clusters[b]
        }
        assert split  # fixture really spans >1 cluster
        assert not (got & split)

    def test_probe2_matches_brute_and_strictly_beats_probe1(
        self, spark, vectors
    ):
        """r10 recall knob: n_probe=2 assigns each vector to its two
        nearest clusters — pairs from any SHARED cluster, deduped.
        Must equal the shared-top2 brute force, contain every
        probe-1 pair, and (the contrast pin to the cross-cluster
        miss test above) catch at least one pair probe-1 misses."""
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.similarity import (
            ivf_buckets,
            ivf_centroid_values,
            semantic_dedup_pairs,
        )

        cens = [ivf_centroid_values(3, c) for c in range(4)]
        top2 = {
            r["vec_id"]: set(r["cs"])
            for r in vectors.select(
                "vec_id",
                ivf_buckets(F.col("embedding"), cens, 2).alias("cs"),
            ).collect()
        }
        vecs = {r["vec_id"]: r["embedding"] for r in vectors.collect()}

        def cos(a, b):
            num = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            na = sum(x * x for x in vecs[a]) ** 0.5
            nb = sum(x * x for x in vecs[b]) ** 0.5
            return round(num / (na * nb), 6)

        t = 0.0
        want = {
            (a, b, cos(a, b))
            for a in vecs
            for b in vecs
            if a < b and (top2[a] & top2[b]) and cos(a, b) >= t
        }
        got = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in semantic_dedup_pairs(
                vectors, dim=3, threshold=t, n_centroids=4, n_probe=2
            ).collect()
        }
        assert got == want and got
        p1 = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in semantic_dedup_pairs(
                vectors, dim=3, threshold=t, n_centroids=4
            ).collect()
        }
        assert p1 <= got
        clusters = self._clusters(spark, vectors)
        gained = {
            (a, b) for a, b, _ in got if clusters[a] != clusters[b]
        }
        assert gained  # strictly better recall than probe-1

    def test_survivors_keep_min_id_per_component(self, spark, vectors):
        from mydatasyncer_spark.operators.similarity import (
            semantic_dedup_pairs,
            semantic_dedup_survivors,
        )

        t = 0.9
        pairs = {
            (r["id_a"], r["id_b"])
            for r in semantic_dedup_pairs(
                vectors, dim=3, threshold=t, n_centroids=4
            ).collect()
        }
        # union-find in-test over the pair graph
        parent = {r["vec_id"]: r["vec_id"] for r in vectors.collect()}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for v in parent:
            comp.setdefault(find(v), set()).add(v)
        want = {min(members) for members in comp.values()}
        got = {
            r["vec_id"]
            for r in semantic_dedup_survivors(
                vectors, dim=3, threshold=t, n_centroids=4
            ).collect()
        }
        assert got == want
        assert pairs  # non-vacuous: something was actually dropped


class TestMultimodal:
    def test_payload_roundtrip_and_stats(self, spark, docs):
        media = M.attach_binary_payload(docs)
        stats = M.media_stats(media).orderBy("media_id").collect()
        assert stats[0]["n_bytes"] == len(docs.first()["text"].encode())
        assert len(stats[0]["sha256"]) == 64

    def test_extract_features_batch_shape(self, spark, docs):
        media = M.attach_binary_payload(docs)
        feats = M.extract_features(media).orderBy("media_id").collect()
        assert len(feats) == 5
        row = feats[0]
        assert row["n_bytes"] == row["feature"][0]
        assert len(row["feature"]) == 4

    def test_jvm_codec_twin_matches_arrow_path(self, spark):
        # multi-byte UTF-8, empty, >64-byte, and NULL payloads: the
        # JVM expression twin must be byte-identical to the Arrow path
        rows = [
            (1, "plain ascii payload"),
            (2, "naïve — déjà vu ✓ 日本語"),
            (3, ""),
            (4, "x" * 300),
            (5, None),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        media = M.attach_binary_payload(docs)
        arrow = {
            r["media_id"]: (r["n_bytes"], r["feature"])
            for r in M.extract_features(media).collect()
        }
        jvm = {
            r["media_id"]: (r["n_bytes"], r["feature"])
            for r in M.extract_features_jvm(media).collect()
        }
        assert arrow == jvm

    def test_jvm_frame_twin_matches_arrow_path(self, spark):
        # payloads exercising every slicing edge: shorter than
        # n_frames, not divisible, exact multiple, empty, NULL
        rows = [
            (1, "ab"),
            (2, "abcdefghijk"),
            (3, "abcdefgh"),
            (4, ""),
            (5, None),
            (6, "日本語テキスト混入"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        media = M.attach_binary_payload(docs)

        def key(df):
            return {
                (r["media_id"], r["frame_idx"]): bytes(r["frame"] or b"")
                for r in df.collect()
            }

        arrow = key(M.sample_frames(media, n_frames=4))
        jvm = key(M.sample_frames_jvm(media, n_frames=4))
        assert arrow == jvm

    def test_real_codec_is_explicit_stub(self):
        with pytest.raises(NotImplementedError, match="image/png"):
            M.decode_with_real_codec("image/png")

    def test_custom_decoder_plugs_in(self, spark, docs):
        media = M.attach_binary_payload(docs)
        feats = M.extract_features(
            media, decode_fn=lambda p: [1.0, 2.0, 3.0, 4.0]
        ).first()
        assert feats["feature"] == [1.0, 2.0, 3.0, 4.0]


class TestAsofJoin:
    def _frames(self, spark):
        from datetime import datetime as dt

        left = spark.createDataFrame(
            [
                (1, 10, dt(2024, 1, 1, 10, 0, 0)),
                (2, 10, dt(2024, 1, 1, 12, 0, 0)),
                (3, 10, dt(2024, 1, 1, 9, 0, 0)),   # before any right row
                (4, 20, dt(2024, 1, 1, 11, 0, 0)),  # key with no right rows
                (5, 10, dt(2024, 1, 1, 11, 30, 0)),  # exactly equal ts
            ],
            "event_id long, user_id long, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                (10, dt(2024, 1, 1, 9, 30, 0), 1.0),
                (10, dt(2024, 1, 1, 11, 30, 0), 2.0),
            ],
            "user_id long, ts timestamp, v double",
        )
        return left, right

    def test_backward_semantics(self, spark):
        from mydatasyncer_spark.operators.asof import asof_join_backward

        left, right = self._frames(spark)
        out = {
            r["event_id"]: (r["v"], r["asof_ts"])
            for r in asof_join_backward(
                left, right, ["user_id"], "ts", ["v"]
            ).collect()
        }
        assert out[1][0] == 1.0          # latest right <= 10:00 is 09:30
        assert out[2][0] == 2.0          # 11:30 row wins at 12:00
        assert out[3] == (None, None)    # nothing precedes 09:00
        assert out[4] == (None, None)    # no right rows for key 20
        assert out[5][0] == 2.0          # equal ts is inclusive (>=)

    def test_forward_semantics(self, spark):
        from mydatasyncer_spark.operators.asof import asof_join_forward

        left, right = self._frames(spark)
        out = {
            r["event_id"]: (r["v"], r["asof_ts"])
            for r in asof_join_forward(
                left, right, ["user_id"], "ts", ["v"]
            ).collect()
        }
        assert out[1][0] == 2.0          # next right >= 10:00 is 11:30
        assert out[2] == (None, None)    # nothing follows 12:00
        assert out[3][0] == 1.0          # 09:30 is the next after 09:00
        assert out[4] == (None, None)    # no right rows for key 20
        assert out[5][0] == 2.0          # equal ts is inclusive (<=)

    def test_tolerance_nulls_stale_matches(self, spark):
        from mydatasyncer_spark.operators.asof import asof_join_backward

        left, right = self._frames(spark)
        out = {
            r["event_id"]: r["v"]
            for r in asof_join_backward(
                left,
                right,
                ["user_id"],
                "ts",
                ["v"],
                tolerance_seconds=1800,
            ).collect()
        }
        assert out[1] == 1.0  # 09:30 → 10:00 = exactly 30 min, within
        assert out[2] == 2.0  # 11:30 → 12:00 = 30 min, within
        # tighten: 29 minutes cuts both off
        out29 = {
            r["event_id"]: r["v"]
            for r in asof_join_backward(
                left,
                right,
                ["user_id"],
                "ts",
                ["v"],
                tolerance_seconds=29 * 60,
            ).collect()
        }
        assert out29[1] is None and out29[2] is None
        assert out29[5] == 2.0  # equal-ts match has gap 0

    def test_collision_guard(self, spark):
        from mydatasyncer_spark.operators.asof import asof_join_backward

        left, right = self._frames(spark)
        with pytest.raises(ValueError, match="collide"):
            asof_join_backward(
                left, right.withColumnRenamed("v", "ts2"), ["user_id"], "ts",
                ["ts2", "user_id"],
            )

    def test_null_semantics_match_sql_comparisons(self, spark):
        """r13 adversarial sweep: the match condition is key equality
        + a timestamp comparison, and SQL comparisons never match
        NULL. Pinned against the pre-fix behaviors: (1) a NULL-ts
        right row leaked its VALUES into fills while its timestamp
        was skipped (value paired with the wrong/absent asof_ts);
        (2) the forward traversal (desc, nulls last by default)
        placed NULL-ts left rows after every right row, matching
        them; (3) NULL keys window-partitioned together and matched
        each other, unlike an equi-join."""
        from mydatasyncer_spark.operators.asof import (
            asof_join_backward,
            asof_join_forward,
        )

        # (1) a lone NULL-ts right row can match nothing
        left = spark.createDataFrame([(1, 10.0)], "k int, ts double")
        right = spark.createDataFrame(
            [(1, None, 99.0)], "k int, ts double, val double"
        )
        row = asof_join_backward(left, right, ["k"], "ts", ["val"]).first()
        assert (row["asof_ts"], row["val"]) == (None, None)
        rowf = asof_join_forward(left, right, ["k"], "ts", ["val"]).first()
        assert (rowf["asof_ts"], rowf["val"]) == (None, None)

        # (2) NULL-ts LEFT rows survive with no match, both directions
        left2 = spark.createDataFrame(
            [(1, None), (1, 7.0)], "k int, ts double"
        )
        right2 = spark.createDataFrame(
            [(1, 5.0, 50.0), (1, 9.0, 90.0)],
            "k int, ts double, val double",
        )
        fwd = {
            r["ts"]: (r["asof_ts"], r["val"])
            for r in asof_join_forward(
                left2, right2, ["k"], "ts", ["val"]
            ).collect()
        }
        assert fwd[None] == (None, None)
        assert fwd[7.0] == (9.0, 90.0)
        bwd = {
            r["ts"]: (r["asof_ts"], r["val"])
            for r in asof_join_backward(
                left2, right2, ["k"], "ts", ["val"]
            ).collect()
        }
        assert bwd[None] == (None, None)
        assert bwd[7.0] == (5.0, 50.0)

        # (3) NULL keys never match; the left row still survives
        left3 = spark.createDataFrame(
            [(None, 10.0)], "k int, ts double"
        )
        right3 = spark.createDataFrame(
            [(None, 5.0, 50.0)], "k int, ts double, val double"
        )
        row3 = asof_join_backward(
            left3, right3, ["k"], "ts", ["val"]
        ).first()
        assert (row3["asof_ts"], row3["val"]) == (None, None)

    def test_plan_one_shuffle_null_branch_free(self, spark):
        """The design claim, pinned: union + ONE window pass = ONE
        hash exchange, no join operator — and the NULL-key bypass
        (r13: those rows would otherwise pile into the window's
        single NULL partition, the design's one straggler) adds no
        exchange of its own."""
        from mydatasyncer_spark.operators.asof import asof_join_backward

        left = spark.createDataFrame(
            [(1, 10.0, 1)], "k int, ts double, lid int"
        )
        right = spark.createDataFrame(
            [(1, 5.0, 50.0)], "k int, ts double, val double"
        )
        plan = (
            asof_join_backward(left, right, ["k"], "ts", ["val"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Window") == 1
        assert plan.count("Exchange") == 1  # the window's hash shuffle
        assert "Join" not in plan


class TestMultimodalPlumbing:
    def test_resize_schema_and_determinism(self, spark, docs):
        media = M.attach_binary_payload(docs)
        out = M.resize_media(media, width=8, height=4)
        rows = {r["media_id"]: r for r in out.collect()}
        assert set(out.columns) == {"media_id", "payload", "width", "height"}
        assert all(len(r["payload"]) == 32 for r in rows.values())
        assert all((r["width"], r["height"]) == (8, 4) for r in rows.values())
        # deterministic: same input -> same bytes
        again = {r["media_id"]: r["payload"] for r in M.resize_media(media, 8, 4).collect()}
        assert {k: v["payload"] for k, v in rows.items()} == again

    def test_frame_sampling_explodes_per_frame(self, spark, docs):
        media = M.attach_binary_payload(docs)
        out = M.sample_frames(media, n_frames=3).collect()
        by_id = {}
        for r in out:
            by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
        assert all(sorted(v) == [0, 1, 2] for v in by_id.values())
        # frames re-concatenate to a prefix of the original payload
        first = sorted(
            (r for r in out if r["media_id"] == 1), key=lambda r: r["frame_idx"]
        )
        joined = b"".join(r["frame"] for r in first)
        original = media.filter(F.col("media_id") == 1).first()["payload"]
        assert bytes(original).startswith(joined)


def test_dedup_clusters_transitive_chain(spark):
    from mydatasyncer_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_approx_sketches_within_error_bounds(spark, sf_dir):
    """HLL distinct counts and approximate percentiles must sit within
    their error bounds of the exact answers (the property that makes
    them usable as the 100 TB substitutes) — since r5 the contract
    query carries the bound booleans itself; cross-check its exact
    column against the independent distinct_agg_segments query."""
    import __spark_entry__ as entry_mod

    rows = {
        r["c_mktsegment"]: r
        for r in entry_mod.queries()["approx_sketches_segments"](
            spark, sf_dir
        ).collect()
    }
    exact = {
        r["c_mktsegment"]: r
        for r in entry_mod.queries()["distinct_agg_segments"](spark, sf_dir).collect()
    }
    assert set(rows) == set(exact)
    for seg, row in rows.items():
        assert row["distinct_in_bound"], seg
        assert row["p50_rank_in_bound"], seg
        assert row["exact_customers"] == exact[seg]["n_customers"], seg


def test_lsh_pairs_memo_sees_documents_rewrite(spark, sf_dir, tmp_path):
    """The registry memoizes the documents' MinHash LSH pairs per
    session and data directory; rewriting documents.parquet inside the
    session must give the rewritten corpus's pairs, not the memo."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry_mod

    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    path = tmp_path / "documents.parquet"
    pq.write_table(docs, path)
    query = entry_mod.queries()["dedup_minhash_lsh"]

    def pairs():
        return sorted(
            tuple(r) for r in query(spark, str(tmp_path)).collect()
        )

    before = pairs()
    # three exact copies under fresh ids: three new Jaccard-1 pairs
    copies = docs.slice(0, 3)
    new_ids = pa.array(
        [max(docs.column("doc_id").to_pylist()) + 1 + i for i in range(3)],
        pa.int64(),
    )
    copies = copies.set_column(0, "doc_id", new_ids)
    pq.write_table(pa.concat_tables([docs, copies]), path)
    after = pairs()
    assert len(after) >= len(before) + 3
    entry_mod._LSH_PAIRS_CACHE.clear()
    assert pairs() == after


class TestAsofVsPandas:
    """Property check against an independent oracle: pandas
    merge_asof implements the same backward/forward semantics
    (nearest ts at-or-before / at-or-after per key, inclusive,
    optional tolerance)."""

    def _random_frames(self, seed):
        import random

        rng = random.Random(seed)
        left = [
            (i, rng.randint(1, 4), rng.randint(0, 1000))
            for i in range(40)
        ]
        right_raw = {
            (rng.randint(1, 4), rng.randint(0, 1000)) for _ in range(25)
        }
        right = [(k, t, float(100 * k + t)) for k, t in right_raw]
        return left, right

    @pytest.mark.parametrize("seed", [0, 1, 2])
    @pytest.mark.parametrize("direction", ["backward", "forward"])
    def test_matches_pandas_merge_asof(self, spark, seed, direction):
        import pandas as pd

        from mydatasyncer_spark.operators.asof import (
            asof_join_backward,
            asof_join_forward,
        )

        left, right = self._random_frames(seed)
        from datetime import datetime, timezone

        def _dt(t):
            return datetime.fromtimestamp(t, tz=timezone.utc).replace(
                tzinfo=None
            )

        ldf = spark.createDataFrame(
            [(i, k, _dt(t)) for i, k, t in left],
            "event_id long, k long, ts timestamp",
        )
        rdf = spark.createDataFrame(
            [(k, _dt(t), v) for k, t, v in right],
            "k long, ts timestamp, v double",
        )
        fn = asof_join_backward if direction == "backward" else asof_join_forward
        got = {
            r["event_id"]: r["v"]
            for r in fn(ldf, rdf, ["k"], "ts", ["v"]).collect()
        }

        lp = pd.DataFrame(left, columns=["event_id", "k", "t"]).assign(
            ts=lambda d: pd.to_datetime(d["t"], unit="s")
        ).sort_values("ts")
        rp = pd.DataFrame(right, columns=["k", "t", "v"]).assign(
            ts=lambda d: pd.to_datetime(d["t"], unit="s")
        ).sort_values("ts")
        merged = pd.merge_asof(
            lp, rp[["k", "ts", "v"]], on="ts", by="k", direction=direction
        )
        expected = {
            int(r.event_id): (None if pd.isna(r.v) else float(r.v))
            for r in merged.itertuples()
        }
        assert got == expected


class TestKmeans:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    @pytest.fixture(scope="class")
    def blobs(self, spark):
        """Three well-separated directions with small perturbations."""
        import random

        rng = random.Random(11)
        rows = []
        dirs = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
        for i in range(90):
            base = dirs[i % 3]
            rows.append(
                (i, [x + rng.uniform(-0.05, 0.05) for x in base])
            )
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_inertia_non_increasing(self, blobs):
        from mydatasyncer_spark.operators.similarity import (
            kmeans_centroids,
            kmeans_inertia,
        )

        prev = None
        for it in (0, 1, 3):
            cens = kmeans_centroids(blobs, dim=3, k=3, n_iter=it)
            inertia = kmeans_inertia(blobs, cens)
            if prev is not None:
                assert inertia <= prev + 1e-9, (it, inertia, prev)
            prev = inertia

    def test_recovers_separated_blobs(self, blobs):
        from mydatasyncer_spark.operators.similarity import (
            ivf_buckets,
            kmeans_centroids,
        )

        cens = kmeans_centroids(blobs, dim=3, k=3, n_iter=5)
        assigned = blobs.select(
            (F.col("vec_id") % 3).alias("truth"),
            ivf_buckets(F.col("embedding"), cens, 1)[0].alias("c"),
        )
        # every true blob maps to exactly one learned cluster
        purity = (
            assigned.groupBy("truth")
            .agg(F.countDistinct("c").alias("k"))
            .agg(F.max("k").alias("mx"))
            .first()["mx"]
        )
        assert purity == 1

    def test_deterministic_across_partitionings(self, blobs):
        from mydatasyncer_spark.operators.similarity import kmeans_centroids

        a = kmeans_centroids(blobs, dim=3, k=3, n_iter=2)
        b = kmeans_centroids(blobs.repartition(7), dim=3, k=3, n_iter=2)
        for ca, cb in zip(a, b):
            for xa, xb in zip(ca, cb):
                assert xa == pytest.approx(xb, abs=1e-9)

    def test_feeds_semantic_dedup(self, blobs, spark):
        """r9: trained centroids slot straight into the SemDeDup
        composition — near-identical vectors inside one blob surface
        as semantic duplicates and the survivor set keeps one."""
        from mydatasyncer_spark.operators.similarity import (
            kmeans_centroids,
            semantic_dedup_pairs,
            semantic_dedup_survivors,
        )

        # plant an exact duplicate of vector 0 inside its blob
        dup = spark.createDataFrame(
            [(1000, blobs.filter("vec_id = 0").first()["embedding"])],
            "vec_id long, embedding array<double>",
        )
        corpus = blobs.unionByName(dup)
        cens = kmeans_centroids(corpus, dim=3, k=3, n_iter=5)
        pairs = {
            (r["id_a"], r["id_b"])
            for r in semantic_dedup_pairs(
                corpus, dim=3, threshold=0.9999, n_centroids=3,
                centroids=cens,
            ).collect()
        }
        assert (0, 1000) in pairs
        survivors = {
            r["vec_id"]
            for r in semantic_dedup_survivors(
                corpus, dim=3, threshold=0.9999, n_centroids=3,
                centroids=cens,
            ).collect()
        }
        assert 0 in survivors and 1000 not in survivors

    def test_feeds_ivf_topk(self, blobs):
        from mydatasyncer_spark.operators.similarity import (
            ivf_topk,
            kmeans_centroids,
        )

        cens = kmeans_centroids(blobs, dim=3, k=3, n_iter=3)
        out = ivf_topk(
            blobs.filter("vec_id < 3"), blobs, dim=3, k=2, centroids=cens
        ).collect()
        assert {r["query_id"] for r in out} == {0, 1, 2}
        assert all(r["cosine"] > 0.9 for r in out)


def test_edit_distance_pairs(spark):
    from mydatasyncer_spark.operators.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [
            (1, "kitten and friends"),
            (2, "sitting and friends"),
            (3, "kitten and friends"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["edit_distance"], r["edit_similarity"])
        for r in edit_distance_pairs(docs, pairs).collect()
    }
    assert got[(1, 3)] == (0, 1.0)  # identical after normalization
    assert got[(1, 2)][0] == 3  # kitten -> sitting
    assert 0.0 < got[(1, 2)][1] < 1.0


class TestSimhashNearPairs:
    def test_finds_hamming1_pairs_exactly(self, spark):
        """Brute-force cross-check: the variant join must produce
        exactly the pairs whose signatures differ by <= max_hamming
        bits."""
        from mydatasyncer_spark.operators.dedup import (
            simhash,
            simhash_near_pairs,
        )

        rows = [
            (i, f"shared tokens alpha beta gamma doc{i % 7} tail{i % 3}")
            for i in range(1, 41)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
        want = {
            (a, b)
            for a in sigs
            for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 1
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_pairs(docs, max_hamming=1).collect()
        }
        assert got == want
        assert want, "fixture produced no near pairs to check"

    def test_hamming_column_is_exact(self, spark):
        from mydatasyncer_spark.operators.dedup import (
            simhash,
            simhash_near_pairs,
        )

        rows = [(i, f"alpha beta gamma delta doc{i % 5}") for i in range(1, 30)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
        for r in simhash_near_pairs(docs, max_hamming=2).collect():
            assert r["hamming"] == bin(
                sigs[r["id_a"]] ^ sigs[r["id_b"]]
            ).count("1")
            assert r["hamming"] <= 2


class TestIntervalOverlapJoin:
    def _run(self, spark, left_rows, right_rows, bucket=10, on=None):
        from mydatasyncer_spark.operators.intervals import (
            interval_overlap_join,
        )

        l = spark.createDataFrame(
            left_rows, "k string, lid long, ls double, le double"
        )
        r = spark.createDataFrame(
            right_rows, "k string, rid long, rs double, re double"
        )
        out = interval_overlap_join(
            l, r, "ls", "le", "rs", "re", on=on or ["k"],
            bucket_seconds=bucket,
        )
        return sorted((row["lid"], row["rid"]) for row in out.collect())

    def test_matches_brute_force(self, spark):
        import random

        rng = random.Random(4)
        left = [
            ("u", i, float(s := rng.randint(0, 200)), float(s + rng.randint(0, 40)))
            for i in range(60)
        ]
        right = [
            ("u", 1000 + i, float(s := rng.randint(0, 200)), float(s + rng.randint(0, 40)))
            for i in range(60)
        ]
        got = self._run(spark, left, right, bucket=16)
        want = sorted(
            (lid, rid)
            for _, lid, ls, le in left
            for _, rid, rs, re_ in right
            if ls <= re_ and rs <= le
        )
        assert got == want  # exact recall AND exactly-once per pair

    def test_multi_bucket_span_emits_once(self, spark):
        # both intervals span 5+ buckets and share several of them
        left = [("u", 1, 0.0, 55.0)]
        right = [("u", 2, 3.0, 48.0)]
        assert self._run(spark, left, right, bucket=10) == [(1, 2)]

    def test_property_matches_brute_force_any_config(self, spark):
        """r13 adversarial sweep pin: the exactly-once rule must hold
        for EVERY (bucket size, segment cap, convention) — including
        NEGATIVE coordinates (floor-division bucket math below zero),
        zero-length intervals, and a segment cap of 1 — against the
        quadratic reference predicate. Results must be independent of
        bucket_seconds and max_buckets_per_row by contract."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from mydatasyncer_spark.operators.intervals import (
            interval_overlap_join,
        )

        iv = st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(-50, 150),
            st.integers(0, 37),
        )

        @settings(
            max_examples=10,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            left=st.lists(iv, min_size=1, max_size=12),
            right=st.lists(iv, min_size=1, max_size=12),
            bucket=st.sampled_from([1, 3, 10, 64]),
            mbpr=st.sampled_from([1, 2, 7, 256]),
            conv=st.sampled_from(["closed", "half_open"]),
        )
        def check(left, right, bucket, mbpr, conv):
            L = [
                (k, i, float(s), float(s + n))
                for i, (k, s, n) in enumerate(left)
            ]
            R = [
                (k, 1000 + i, float(s), float(s + n))
                for i, (k, s, n) in enumerate(right)
            ]
            l = spark.createDataFrame(
                L, "k string, lid long, ls double, le double"
            )
            r = spark.createDataFrame(
                R, "k string, rid long, rs double, re double"
            )
            out = interval_overlap_join(
                l, r, "ls", "le", "rs", "re", on=["k"],
                bucket_seconds=bucket, how_overlap=conv,
                max_buckets_per_row=mbpr,
            )
            got = sorted(
                (row["lid"], row["rid"]) for row in out.collect()
            )
            if conv == "closed":
                def pred(ls, le, rs, re_):
                    return ls <= re_ and rs <= le
            else:
                def pred(ls, le, rs, re_):
                    return ls < re_ and rs < le
            want = sorted(
                (lid, rid)
                for lk, lid, ls, le in L
                for rk, rid, rs, re_ in R
                if lk == rk and pred(ls, le, rs, re_)
            )
            assert got == want

        check()

    def test_key_isolation(self, spark):
        left = [("a", 1, 0.0, 100.0)]
        right = [("b", 2, 0.0, 100.0)]  # overlaps in time, wrong key
        assert self._run(spark, left, right) == []

    def test_touching_endpoints_overlap(self, spark):
        left = [("u", 1, 0.0, 10.0)]
        right = [("u", 2, 10.0, 20.0)]
        assert self._run(spark, left, right) == [(1, 2)]

    def test_long_tail_outlier_segments_bounded_and_exact(self, spark):
        """A 1000x-length outlier must (a) pair identically to the
        brute-force theta oracle — segmentation can't disturb the
        first-shared-bucket exactly-once rule because the ORIGINAL
        starts ride along — and (b) never materialize more than
        max_buckets_per_row buckets from a single pre-join row."""
        import random

        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.intervals import (
            interval_overlap_join,
            segmented_buckets,
        )

        rng = random.Random(11)
        left = [
            ("u", i, float(s := rng.randint(0, 300)), float(s + rng.randint(0, 20)))
            for i in range(40)
        ] + [("u", 999, 50.0, 50.0 + 20_000.0)]  # the 1000x outlier
        right = [
            ("u", 1000 + i, float(s := rng.randint(0, 300)), float(s + rng.randint(0, 20)))
            for i in range(40)
        ]
        l = spark.createDataFrame(
            left, "k string, lid long, ls double, le double"
        )
        r = spark.createDataFrame(
            right, "k string, rid long, rs double, re double"
        )
        out = interval_overlap_join(
            l, r, "ls", "le", "rs", "re", on=["k"],
            bucket_seconds=10, max_buckets_per_row=4,
        )
        got = sorted((row["lid"], row["rid"]) for row in out.collect())
        want = sorted(
            (lid, rid)
            for _, lid, ls, le in left
            for _, rid, rs, re_ in right
            if ls <= re_ and rs <= le
        )
        assert got == want
        # fan-out bound: rebuild the pre-join frame with segment ids
        # visible — every (row, segment) holds <= m buckets, the
        # outlier spans many segments, and coverage is exactly the
        # len/B+1 buckets of each interval (no gap, no dup)
        seg = segmented_buckets(l, "ls", "le", 10, 4)
        per_row = (
            seg.groupBy("lid")
            .agg(
                F.countDistinct("_bucket").alias("nb"),
                F.count(F.lit(1)).alias("nrows"),
            )
            .collect()
        )
        for row in per_row:
            span = next(
                int(le // 10 - ls // 10) + 1
                for _, lid, ls, le in left
                if lid == row["lid"]
            )
            assert row["nb"] == span  # full coverage, no duplicates
            assert row["nrows"] == span
        outlier_segs = seg.filter(
            (F.col("lid") == 999)
        ).groupBy((F.col("_bucket") - 5).cast("long") / 4).count()
        assert seg.filter(F.col("lid") == 999).count() == 2001
        # 2001 buckets at <=4 per segment row -> >= 501 segments were
        # generated; no single sequence() held more than 4 elements
        assert outlier_segs.count() >= 501

    def test_plan_is_equi_join_no_blowup(self, spark):
        from mydatasyncer_spark.operators.intervals import (
            interval_overlap_join,
        )

        l = spark.range(0, 10_000).selectExpr(
            "CAST(id % 50 AS STRING) AS k", "id AS lid",
            "CAST(id AS DOUBLE) AS ls", "CAST(id + 30 AS DOUBLE) AS le",
        )
        r = spark.range(0, 10_000).selectExpr(
            "CAST(id % 50 AS STRING) AS k", "id AS rid",
            "CAST(id + 5 AS DOUBLE) AS rs", "CAST(id + 20 AS DOUBLE) AS re",
        )
        plan = (
            interval_overlap_join(l, r, "ls", "le", "rs", "re", on=["k"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestSketchRollup:
    def test_merge_tracks_direct_sketch(self, spark):
        """The load-bearing algebra: union of per-day partials must
        estimate what a direct sketch over the raw rows estimates
        (DataSketches unions may switch internal representation, so
        the contract is tight relative agreement, not bit equality) —
        that's what makes stored partials trustworthy."""
        from mydatasyncer_spark.operators.sketches import (
            sketch_estimate,
            sketch_rollup,
            sketch_rollup_merge,
        )

        df = spark.range(0, 20_000).selectExpr(
            "CAST(id % 30 AS STRING) AS day",
            "CAST(id % 3 AS STRING) AS etype",
            "CAST(id % 1777 AS BIGINT) AS user_id",
        )
        partials = sketch_rollup(df, ["day", "etype"], "user_id")
        merged = sketch_estimate(
            sketch_rollup_merge(partials, ["etype"])
        )
        direct = sketch_estimate(sketch_rollup(df, ["etype"], "user_id"))
        got = {r["etype"]: r["approx_distinct"] for r in merged.collect()}
        want = {r["etype"]: r["approx_distinct"] for r in direct.collect()}
        for k in want:
            assert abs(got[k] - want[k]) / want[k] < 0.02, (k, got[k], want[k])

    def test_estimate_within_bound_of_exact(self, spark):
        from mydatasyncer_spark.operators.sketches import (
            sketch_estimate,
            sketch_rollup,
        )

        df = spark.range(0, 50_000).selectExpr(
            "CAST(id % 4 AS STRING) AS g", "id AS k"
        )
        est = {
            r["g"]: r["approx_distinct"]
            for r in sketch_estimate(sketch_rollup(df, ["g"], "k")).collect()
        }
        exact = {
            r["g"]: r["n"]
            for r in df.groupBy("g")
            .agg(F.countDistinct("k").alias("n"))
            .collect()
        }
        for g in exact:
            assert abs(est[g] - exact[g]) / exact[g] < 0.05

    def test_partials_survive_parquet_roundtrip(self, spark, tmp_path):
        """The stored-state path: partials written to parquet and read
        back must merge identically (binary sketch column intact)."""
        from mydatasyncer_spark.operators.sketches import (
            sketch_estimate,
            sketch_rollup,
            sketch_rollup_merge,
        )

        df = spark.range(0, 5_000).selectExpr(
            "CAST(id % 5 AS STRING) AS day", "id AS k"
        )
        p = str(tmp_path / "partials")
        sketch_rollup(df, ["day"], "k").write.parquet(p)
        back = spark.read.parquet(p)
        [row] = sketch_estimate(
            sketch_rollup_merge(back.withColumn("all", F.lit(1)), ["all"])
        ).collect()
        [direct] = sketch_estimate(
            sketch_rollup(df.withColumn("all", F.lit(1)), ["all"], "k")
        ).collect()
        assert (
            abs(row["approx_distinct"] - direct["approx_distinct"])
            / direct["approx_distinct"]
            < 0.02
        )
        assert row["n_rows"] == 5_000


class TestRealStdlibCodecs:
    """The real-codec mapInPandas route exercised with REAL formats —
    pure-stdlib decoders (uncompressed 24-bit BMP, 16-bit PCM WAV)
    wired through extract_features(decode_fn=...), so the Arrow batch
    path carries genuinely decoded bytes, not the deterministic fake."""

    @staticmethod
    def _bmp(width, height, pixels_rgb):
        """Minimal bottom-up 24-bit BI_RGB BMP. pixels_rgb: rows top
        to bottom of (r, g, b) tuples."""
        import struct

        stride = (width * 3 + 3) & ~3
        img = b""
        for row in reversed(pixels_rgb):  # bottom-up storage
            raw = b"".join(bytes((b, g, r)) for (r, g, b) in row)
            img += raw + b"\x00" * (stride - len(raw))
        header = struct.pack("<2sIHHI", b"BM", 54 + len(img), 0, 0, 54)
        info = struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(img),
            2835, 2835, 0, 0,
        )
        return header + info + img

    @staticmethod
    def _wav(samples, framerate=8000, nch=1):
        import io
        import struct
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(framerate)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        return buf.getvalue()

    def test_bmp_decodes_through_arrow_path(self, spark):
        from mydatasyncer_spark.operators.multimodal import (
            decode_with_real_codec,
            extract_features,
        )

        red_white = self._bmp(
            2, 2,
            [[(255, 0, 0), (255, 0, 0)], [(255, 255, 255), (255, 255, 255)]],
        )
        grey = self._bmp(3, 1, [[(10, 20, 30), (10, 20, 30), (10, 20, 30)]])
        df = spark.createDataFrame(
            [(1, "image/bmp", bytearray(red_white), {}),
             (2, "image/bmp", bytearray(grey), {})],
            "media_id long, media_type string, payload binary, "
            "meta map<string,string>",
        )
        out = {
            r["media_id"]: r
            for r in extract_features(
                df, decode_fn=decode_with_real_codec("image/bmp")
            ).collect()
        }
        assert out[1]["n_bytes"] == len(red_white)
        assert out[1]["feature"] == [2.0, 2.0, 255.0, 127.5, 127.5]
        assert out[2]["feature"] == [3.0, 1.0, 10.0, 20.0, 30.0]

    def test_wav_decodes_through_arrow_path(self, spark):
        from mydatasyncer_spark.operators.multimodal import (
            decode_with_real_codec,
            extract_features,
        )

        quiet = self._wav([0, 1024, -1024, 0])
        loud = self._wav([32767, -32768, 16384, -16384], framerate=16000)
        df = spark.createDataFrame(
            [(1, "audio/wav", bytearray(quiet), {}),
             (2, "audio/wav", bytearray(loud), {})],
            "media_id long, media_type string, payload binary, "
            "meta map<string,string>",
        )
        out = {
            r["media_id"]: r
            for r in extract_features(
                df, decode_fn=decode_with_real_codec("audio/wav")
            ).collect()
        }
        assert out[1]["feature"][:3] == [1.0, 8000.0, 4.0]
        assert abs(out[1]["feature"][4] - 1024 / 32768) < 1e-12  # peak
        assert out[2]["feature"][:3] == [1.0, 16000.0, 4.0]
        assert out[2]["feature"][4] == 1.0  # full-scale peak

    def test_codecless_formats_still_raise(self):
        import pytest as _pytest

        from mydatasyncer_spark.operators.multimodal import (
            decode_with_real_codec,
        )

        with _pytest.raises(NotImplementedError):
            decode_with_real_codec("image/png")

    def test_decoders_reject_malformed_payloads(self):
        import pytest as _pytest

        from mydatasyncer_spark.operators.multimodal import (
            decode_bmp_features,
            decode_wav_features,
        )

        with _pytest.raises(ValueError):
            decode_bmp_features(b"not a bitmap")
        with _pytest.raises(Exception):
            decode_wav_features(b"RIFFgarbage")


class TestQuantileAndThetaSketches:
    def test_kll_merge_tracks_direct_quantiles(self, spark):
        """Quantiles from merged per-group partials must track the
        exact percentile closely (k=200: ~1.65% rank error)."""
        from mydatasyncer_spark.operators.sketches import (
            quantile_estimate,
            quantile_sketch_merge,
            quantile_sketch_rollup,
        )

        rows = [(i % 7, float(i)) for i in range(10_000)]
        df = spark.createDataFrame(rows, "g int, v double")
        partials = quantile_sketch_rollup(df, ["g"], "v")
        merged = quantile_estimate(
            quantile_sketch_merge(partials, []), (0.5, 0.9)
        ).collect()[0]
        assert merged["n_rows"] == 10_000
        # exact p50 = 4999.5-ish; rank tolerance 3% of 10k = 300
        assert abs(merged["q_50"] - 5000.0) <= 300
        assert abs(merged["q_90"] - 9000.0) <= 300

    def test_theta_pairwise_overlap_exact_mode(self, spark):
        """Below 2^lg_nom_entries retained keys a theta sketch is
        EXACT — known overlapping sets must come back exactly."""
        from mydatasyncer_spark.operators.sketches import (
            theta_pairwise_overlap,
            theta_rollup,
        )

        rows = [("A", u) for u in range(1, 101)] + [
            ("B", u) for u in range(51, 151)
        ] + [("C", u) for u in range(200, 220)]
        df = spark.createDataFrame(rows, "t string, u long")
        partials = theta_rollup(df, ["t"], "u")
        ov = {
            (r["entity_a"], r["entity_b"]): r
            for r in theta_pairwise_overlap(partials, "t").collect()
        }
        assert round(ov[("A", "B")]["approx_overlap"]) == 50
        assert round(ov[("A", "C")]["approx_overlap"]) == 0
        assert round(ov[("B", "C")]["approx_overlap"]) == 0
        assert round(ov[("A", "B")]["approx_union"]) == 150

    def test_theta_union_rollup_matches_flat_rollup(self, spark):
        """Union-of-partials must equal the sketch built in one shot
        (exact mode): rollup-from-state == recompute-from-fact."""
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.sketches import (
            theta_rollup,
            theta_union_rollup,
        )

        rows = [(d, u % 500) for d in range(10) for u in range(d * 100, d * 100 + 300)]
        df = spark.createDataFrame(rows, "day int, u long")
        fine = theta_rollup(df, ["day"], "u")
        coarse = theta_union_rollup(fine, [])
        est = coarse.select(
            F.theta_sketch_estimate("theta").cast("long").alias("n")
        ).collect()[0]["n"]
        exact = df.select("u").distinct().count()
        assert est == exact


class TestJaccardSelfJoin:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """Exact prefix-filtered Jaccard self-join: the blocking must be
    LOSSLESS (result identical to brute force) at any threshold."""

    def _brute(self, spark, df, t):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.text import tokens

        toks = df.select(
            "doc_id", F.array_distinct(tokens(F.col("text"))).alias("tk")
        )
        a = toks.select(F.col("doc_id").alias("id_a"), F.col("tk").alias("ta"))
        b = toks.select(F.col("doc_id").alias("id_b"), F.col("tk").alias("tb"))
        inter = F.size(F.array_intersect("ta", "tb")).cast("double")
        union = (
            F.size("ta").cast("double")
            + F.size("tb").cast("double")
            - inter
        )
        return {
            (r["id_a"], r["id_b"])
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(inter / F.greatest(union, F.lit(1.0)) >= t)
            .collect()
        }

    def test_matches_brute_force_at_multiple_thresholds(self, spark):
        from mydatasyncer_spark.operators.dedup import jaccard_self_join

        texts = [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumped over the lazy dog",
            "a completely different sentence about spark engines",
            "a completely different sentence about spark engine",
            "the quick brown fox",
            "spark engines process completely different data",
            "",  # zero-token doc never pairs
            "singleton",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        from mydatasyncer_spark.operators.dedup import jaccard_self_join

        for t in (0.3, 0.5, 0.8, 1.0):
            got = {
                (r["id_a"], r["id_b"])
                for r in jaccard_self_join(df, threshold=t).collect()
            }
            assert got == self._brute(spark, df, t), t

    def test_exact_duplicates_pair_at_threshold_one(self, spark):
        from mydatasyncer_spark.operators.dedup import jaccard_self_join

        df = spark.createDataFrame(
            [(1, "same words here"), (2, "same words here"),
             (3, "words here same extra")],
            "doc_id long, text string",
        )
        got = jaccard_self_join(df, threshold=1.0).collect()
        assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in got] == [
            (1, 2, 1.0)
        ]

    def test_threshold_guard(self, spark):
        import pytest as _pytest

        from mydatasyncer_spark.operators.dedup import jaccard_self_join

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="threshold"):
            jaccard_self_join(df, threshold=0.0)
        with _pytest.raises(ValueError, match="threshold"):
            jaccard_self_join(df, threshold=1.5)


class TestJaccardJoinIncremental:
    """Incremental exact Jaccard: batch-vs-index must equal the brute
    force over pairs involving a batch doc, under both the
    recomputed and the frozen token order."""

    CORPUS = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (2, "a completely different sentence about spark engines"),
        (4, "the quick brown fox"),
        (6, "unrelated corpus content entirely"),
    ]
    BATCH = [
        (1, "the quick brown fox jumped over the lazy dog"),
        (3, "a completely different sentence about spark engine"),
        (5, "the quick brown fox jumped over the lazy dog"),
    ]

    def _brute(self, spark, t):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.text import tokens

        all_rows = spark.createDataFrame(
            self.CORPUS + self.BATCH, "doc_id long, text string"
        )
        toks = all_rows.select(
            "doc_id", F.array_distinct(tokens(F.col("text"))).alias("tk")
        )
        batch_ids = {i for i, _ in self.BATCH}
        rows = toks.collect()
        tk = {r["doc_id"]: set(r["tk"]) for r in rows}
        out = set()
        for a in batch_ids:
            for bid in tk:
                if bid == a:
                    continue
                inter = len(tk[a] & tk[bid])
                union = max(len(tk[a] | tk[bid]), 1)
                if inter / union >= t:
                    if bid in batch_ids:
                        if a < bid:
                            out.add((a, bid))
                    else:
                        out.add((a, bid))
        return out

    def test_matches_brute_force(self, spark):
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
            jaccard_prefix_index,
        )

        corpus = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        idx = jaccard_prefix_index(corpus)
        for t in (0.4, 0.8, 1.0):
            got = {
                (r["id_a"], r["id_b"])
                for r in jaccard_join_incremental(
                    batch, idx, threshold=t
                ).collect()
            }
            assert got == self._brute(spark, t), t

    def test_frozen_token_order_is_still_exact(self, spark):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
            jaccard_prefix_index,
        )

        corpus = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        idx = jaccard_prefix_index(corpus)
        frozen = (
            idx.select(F.explode("toks").alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_join_incremental(
                batch, idx, threshold=0.4, token_order=frozen
            ).collect()
        }
        assert got == self._brute(spark, 0.4)

    def test_reingested_id_never_self_pairs_and_index_extends(self, spark):
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
            jaccard_prefix_index,
        )

        corpus = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        idx = jaccard_prefix_index(corpus)
        re_batch = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog extra")],
            "doc_id long, text string",
        )
        got = jaccard_join_incremental(
            re_batch, idx, threshold=0.5, include_new_pairs=False
        ).collect()
        assert all(r["id_a"] != r["id_b"] for r in got)
        # index extension contract: appending the batch index rows
        # makes the next ingest see them
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        idx2 = idx.unionByName(jaccard_prefix_index(batch))
        nxt = spark.createDataFrame(
            [(9, "the quick brown fox jumped over the lazy dog")],
            "doc_id long, text string",
        )
        got2 = {
            (r["id_a"], r["id_b"])
            for r in jaccard_join_incremental(
                nxt, idx2, threshold=1.0, include_new_pairs=False
            ).collect()
        }
        assert got2 == {(9, 1), (9, 5)}  # exact dups from batch round


class TestJaccardOrderedIndex:
    """Stored-order corpus index (r8): the ``corpus_ordered=True``
    ingest must equal both brute force and the legacy re-ordering
    path, stay exact as the index grows past the frozen vocabulary,
    and fail fast when the frozen order is missing."""

    CORPUS = TestJaccardJoinIncremental.CORPUS
    BATCH = TestJaccardJoinIncremental.BATCH

    def _brute(self, spark, t):
        return TestJaccardJoinIncremental()._brute(spark, t)

    def _ordered(self, spark):
        from mydatasyncer_spark.operators.dedup import (
            jaccard_ordered_index,
            jaccard_prefix_index,
            jaccard_token_order,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        idx = jaccard_prefix_index(corpus)
        order = jaccard_token_order(idx)
        return jaccard_ordered_index(idx, token_order=order), order

    def test_ordered_path_matches_brute_force(self, spark):
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
        )

        ordered, order = self._ordered(spark)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        for t in (0.4, 0.8, 1.0):
            got = {
                (r["id_a"], r["id_b"])
                for r in jaccard_join_incremental(
                    batch, ordered, threshold=t,
                    token_order=order, corpus_ordered=True,
                ).collect()
            }
            assert got == self._brute(spark, t), t

    def test_no_broadcast_fallback_is_still_exact(self, spark):
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
        )

        ordered, order = self._ordered(spark)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_join_incremental(
                batch, ordered, threshold=0.4,
                token_order=order, corpus_ordered=True,
                broadcast_batch=False,
            ).collect()
        }
        assert got == self._brute(spark, 0.4)

    def test_ordered_index_from_raw_docs_equals_from_prefix_index(
        self, spark
    ):
        from mydatasyncer_spark.operators.dedup import (
            jaccard_ordered_index,
            jaccard_prefix_index,
            jaccard_token_order,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        idx = jaccard_prefix_index(corpus)
        order = jaccard_token_order(idx)
        via_idx = {
            (r["doc_id"], r["n"], tuple(r["toks"]))
            for r in jaccard_ordered_index(idx, token_order=order).collect()
        }
        via_raw = {
            (r["doc_id"], r["n"], tuple(r["toks"]))
            for r in jaccard_ordered_index(
                corpus, token_order=order
            ).collect()
        }
        assert via_idx == via_raw and via_idx
        # arrays are genuinely rarest-first: every doc's first token
        # has minimal (df, token) among its tokens
        dfs = {r["token"]: r["df"] for r in order.collect()}
        for _, _, toks in via_idx:
            keys = [(dfs[t], t) for t in toks]
            assert keys == sorted(keys)

    def test_extension_with_unseen_tokens_stays_exact(self, spark):
        """Docs appended AFTER the order froze carry df-0 tokens; the
        combined relation must still be one total order on both
        sides, so a later ingest against the extended index is still
        brute-force-identical."""
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
            jaccard_ordered_index,
        )

        ordered, order = self._ordered(spark)
        # the batch introduces tokens absent from the frozen order
        # ("jumped", "engine"); append its ordered rows
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        extended = ordered.unionByName(
            jaccard_ordered_index(batch, token_order=order)
        )
        nxt = spark.createDataFrame(
            [(9, "the quick brown fox jumped over the lazy dog")],
            "doc_id long, text string",
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_join_incremental(
                nxt, extended, threshold=1.0, include_new_pairs=False,
                token_order=order, corpus_ordered=True,
            ).collect()
        }
        assert got == {(9, 1), (9, 5)}

    def test_missing_token_order_fails_fast(self, spark):
        import pytest

        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
            jaccard_ordered_index,
            jaccard_prefix_index,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        idx = jaccard_prefix_index(corpus)
        with pytest.raises(ValueError, match="token_order"):
            jaccard_ordered_index(idx)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        with pytest.raises(ValueError, match="token_order"):
            jaccard_join_incremental(batch, idx, corpus_ordered=True)

    def test_empty_ordered_corpus_yields_batch_only_pairs(self, spark):
        """Bootstrap edge: an EMPTY ordered index (and empty frozen
        order) must produce exactly the new-vs-new pairs — no crash,
        no corpus pairs."""
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
        )

        empty_idx = spark.createDataFrame(
            [], "doc_id long, n int, toks array<string>"
        )
        empty_order = spark.createDataFrame([], "token string, df long")
        batch = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c"), (3, "x y z")],
            "doc_id long, text string",
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_join_incremental(
                batch, empty_idx, threshold=1.0,
                token_order=empty_order, corpus_ordered=True,
            ).collect()
        }
        assert got == {(1, 2)}

    def test_reingested_id_never_self_pairs_on_ordered_path(self, spark):
        """Mirror of the legacy-path re-ingest guard: an id already
        indexed, arriving again with changed text, compares new
        tokens against the INDEXED tokens and never pairs with
        itself."""
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
            jaccard_ordered_index,
            jaccard_prefix_index,
            jaccard_token_order,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        idx = jaccard_prefix_index(corpus)
        order = jaccard_token_order(idx)
        ordered = jaccard_ordered_index(idx, token_order=order)
        re_batch = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog extra")],
            "doc_id long, text string",
        )
        # at 0.4 the new text pairs with doc 4 (4/9) but its own
        # indexed version (8/9) is excluded as a self-pair
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_join_incremental(
                re_batch, ordered, threshold=0.4,
                include_new_pairs=False,
                token_order=order, corpus_ordered=True,
            ).collect()
        }
        assert got == {(0, 4)}


class TestJaccardPrefixStore:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """Persisted corpus prefix rows partitioned by token bucket (r8):
    the candidate join scan-prunes via dynamic partition pruning, and
    results stay brute-force-identical — including when the store was
    built at a LOWER threshold than the join runs at."""

    CORPUS = TestJaccardJoinIncremental.CORPUS
    BATCH = TestJaccardJoinIncremental.BATCH

    def _stored(self, spark, tmp_path, build_t, n_buckets=8):
        from mydatasyncer_spark.operators.dedup import (
            jaccard_ordered_index,
            jaccard_prefix_index,
            jaccard_prefix_store,
            jaccard_token_order,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        idx = jaccard_prefix_index(corpus)
        order = jaccard_token_order(idx)
        ordered = jaccard_ordered_index(idx, token_order=order)
        ordered.write.parquet(str(tmp_path / "idx"))
        order.write.parquet(str(tmp_path / "order"))
        jaccard_prefix_store(
            ordered, build_t, n_token_buckets=n_buckets
        ).write.partitionBy("_tok_bucket").parquet(str(tmp_path / "pfx"))
        return (
            spark.read.parquet(str(tmp_path / "idx")),
            spark.read.parquet(str(tmp_path / "order")),
            spark.read.parquet(str(tmp_path / "pfx")),
        )

    def test_matches_brute_and_scan_prunes(self, spark, tmp_path):
        import contextlib
        import io

        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
        )

        sidx, sorder, store = self._stored(spark, tmp_path, 0.4)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        for t in (0.4, 0.8, 1.0):  # store built at 0.4: all exact
            out = jaccard_join_incremental(
                batch, sidx, threshold=t,
                token_order=sorder, corpus_ordered=True,
                corpus_prefix=store, n_token_buckets=8,
            )
            got = {(r["id_a"], r["id_b"]) for r in out.collect()}
            assert got == TestJaccardJoinIncremental()._brute(spark, t), t
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        # STATIC pruning (r14): the store scan's PartitionFilters must
        # carry an explicit IN over the probe's touched token buckets
        # — planning-time-guaranteed, replacing the DPP subquery the
        # pre-pin plan leaned on (heuristic-eligible only)
        pf = [
            line
            for line in plan.splitlines()
            if "PartitionFilters" in line and "_tok_bucket" in line
        ]
        assert pf and any("IN" in line or " in" in line for line in pf), plan

    def test_store_preconditions_fail_fast(self, spark, tmp_path):
        import pytest

        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
            jaccard_prefix_index,
            jaccard_prefix_store,
        )

        from pyspark.sql import functions as F

        sidx, sorder, store = self._stored(spark, tmp_path, 0.8)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        # a hand-built bucketed frame without provenance metadata
        # cannot reveal its modulus — must be told explicitly
        bare = store.withColumn(
            "_ptok", F.col("_ptok").alias("_ptok", metadata={})
        )
        with pytest.raises(ValueError, match="n_token_buckets"):
            jaccard_join_incremental(
                batch, sidx, threshold=0.8,
                token_order=sorder, corpus_ordered=True,
                corpus_prefix=bare,
            )
        with pytest.raises(ValueError, match="corpus_ordered"):
            jaccard_join_incremental(
                batch, jaccard_prefix_index(batch), threshold=0.8,
                token_order=sorder, corpus_prefix=store,
                n_token_buckets=8,
            )
        with pytest.raises(ValueError, match="threshold"):
            jaccard_prefix_store(sidx, 0.0)
        # the build threshold survives the parquet round-trip as
        # column metadata: a join BELOW it would silently miss pairs
        # and must refuse instead (store here was built at 0.8)
        with pytest.raises(ValueError, match="built at threshold"):
            jaccard_join_incremental(
                batch, sidx, threshold=0.5,
                token_order=sorder, corpus_ordered=True,
                corpus_prefix=store, n_token_buckets=8,
            )
        # so does the bucket count: a wrong modulus would silently
        # drop true prefix matches via the bucket-equality join term
        with pytest.raises(ValueError, match="token buckets"):
            jaccard_join_incremental(
                batch, sidx, threshold=0.8,
                token_order=sorder, corpus_ordered=True,
                corpus_prefix=store, n_token_buckets=16,
            )

    def test_compact_dedupes_and_preserves_results(self, spark, tmp_path):
        """r8 maintenance op: crash-replay duplicate rows in the
        index/store compact away, results and provenance metadata
        survive, and the threshold guard still bites afterwards."""
        import pytest

        from mydatasyncer_spark.operators.dedup import (
            jaccard_compact,
            jaccard_join_incremental,
        )

        sidx, sorder, store = self._stored(spark, tmp_path, 0.8)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        want = TestJaccardJoinIncremental()._brute(spark, 0.8)
        # simulate replayed appends: duplicate 2 index rows + their
        # store rows (localCheckpoint breaks the read-write cycle)
        sidx.limit(2).localCheckpoint(eager=True).write.mode(
            "append"
        ).parquet(str(tmp_path / "idx"))
        store.limit(5).localCheckpoint(eager=True).write.partitionBy(
            "_tok_bucket"
        ).mode("append").parquet(str(tmp_path / "pfx"))
        # exactness survives duplicates (pair dedup) ...
        dup_idx = spark.read.parquet(str(tmp_path / "idx"))
        dup_store = spark.read.parquet(str(tmp_path / "pfx"))
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_join_incremental(
                batch, dup_idx, threshold=0.8,
                token_order=sorder, corpus_ordered=True,
                corpus_prefix=dup_store,
            ).collect()
        }
        assert got == want
        store_rows = store.count()  # before overwrite: listing goes stale
        # ... but compaction removes them
        stats = jaccard_compact(
            spark, str(tmp_path / "idx"),
            prefix_store_path=str(tmp_path / "pfx"),
        )
        assert stats["docs"] == len(self.CORPUS)
        assert stats["removed_index_rows"] == 2
        cidx = spark.read.parquet(str(tmp_path / "idx"))
        cstore = spark.read.parquet(str(tmp_path / "pfx"))
        assert cidx.count() == len(self.CORPUS)
        assert cstore.count() == store_rows  # duplicates gone
        got2 = {
            (r["id_a"], r["id_b"])
            for r in jaccard_join_incremental(
                batch, cidx, threshold=0.8,
                token_order=sorder, corpus_ordered=True,
                corpus_prefix=cstore,
            ).collect()
        }
        assert got2 == want
        # provenance metadata survived the rebuild
        with pytest.raises(ValueError, match="built at threshold"):
            jaccard_join_incremental(
                batch, cidx, threshold=0.5,
                token_order=sorder, corpus_ordered=True,
                corpus_prefix=cstore,
            )

    def test_crashed_inplace_rewrite_restores_from_staging(
        self, spark, tmp_path
    ):
        """r8 review: an in-place index rewrite stages a complete
        copy first; if the crash lands mid-overwrite (old files gone)
        the staged copy restores instead of the corpus silently
        reading as a fresh bootstrap."""
        import shutil

        from mydatasyncer_spark.operators.dedup import jaccard_compact
        from mydatasyncer_spark.operators.staging import (
            MERGE,
            restore,
            staging_path,
        )

        sidx, sorder, store = self._stored(spark, tmp_path, 0.8)
        idx_path = str(tmp_path / "idx")
        rows_before = {
            (r["doc_id"], tuple(r["toks"]))
            for r in spark.read.parquet(idx_path).collect()
        }
        # simulate: staging written completely, then crash mid index
        # overwrite (index dir destroyed)
        spark.read.parquet(idx_path).localCheckpoint(
            eager=True
        ).write.parquet(staging_path(idx_path, MERGE))
        shutil.rmtree(idx_path)
        assert restore(spark, idx_path) is True
        rows_after = {
            (r["doc_id"], tuple(r["toks"]))
            for r in spark.read.parquet(idx_path).collect()
        }
        assert rows_after == rows_before
        import os

        assert not os.path.exists(staging_path(idx_path, MERGE))
        # compaction also self-heals: re-stage + re-crash, then compact
        spark.read.parquet(idx_path).localCheckpoint(
            eager=True
        ).write.parquet(staging_path(idx_path, MERGE))
        shutil.rmtree(idx_path)
        stats = jaccard_compact(spark, idx_path)
        assert stats["restored_from_staging"] is True
        assert stats["docs"] == len(self.CORPUS)

    def test_restore_staging_without_success_markers(self, spark, tmp_path):
        """r9 (ADVICE): with ``_SUCCESS`` markers disabled the staging
        gate must fall back to readability — restore exactly when the
        staging dir reads and the index does NOT (the only state a
        crash mid-overwrite can leave), and never clobber a live
        index with an unmarked staging dir."""
        import shutil

        from mydatasyncer_spark.operators.staging import (
            MERGE,
            restore,
            staging_path,
        )

        self._stored(spark, tmp_path, 0.8)
        idx_path = str(tmp_path / "idx")
        rows = {
            (r["doc_id"], tuple(r["toks"]))
            for r in spark.read.parquet(idx_path).collect()
        }
        staging = staging_path(idx_path, MERGE)
        spark.read.parquet(idx_path).localCheckpoint(
            eager=True
        ).write.parquet(staging)
        import os

        os.remove(os.path.join(staging, "_SUCCESS"))  # markers off
        # index still alive: an unmarked staging dir must NOT restore
        # (it could be a half-written stage under enabled markers)
        assert restore(spark, idx_path) is False
        assert os.path.exists(staging)
        # crash mid-overwrite: index gone, unmarked staging readable
        shutil.rmtree(idx_path)
        assert restore(spark, idx_path) is True
        assert {
            (r["doc_id"], tuple(r["toks"]))
            for r in spark.read.parquet(idx_path).collect()
        } == rows
        assert not os.path.exists(staging)

    def test_bucket_count_derived_from_store_metadata(self, spark, tmp_path):
        """n_token_buckets can be omitted entirely — the store knows
        its own bucket count (ridden on _ptok metadata)."""
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
        )

        sidx, sorder, store = self._stored(spark, tmp_path, 0.4)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_join_incremental(
                batch, sidx, threshold=0.8,
                token_order=sorder, corpus_ordered=True,
                corpus_prefix=store,
            ).collect()
        }
        assert got == TestJaccardJoinIncremental()._brute(spark, 0.8)

    def test_no_broadcast_store_path_is_still_exact(self, spark, tmp_path):
        """broadcast_batch=False must reach the verify-prune semi too
        (shuffled semi instead of a forced broadcast) and stay
        exact."""
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
        )

        sidx, sorder, store = self._stored(spark, tmp_path, 0.8)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in jaccard_join_incremental(
                batch, sidx, threshold=0.8,
                token_order=sorder, corpus_ordered=True,
                corpus_prefix=store, broadcast_batch=False,
            ).collect()
        }
        assert got == TestJaccardJoinIncremental()._brute(spark, 0.8)


class TestIdBucketedIndex:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """r9: id-bucketed index layout — verification reads prune to the
    candidate ids' bucket directories (explicit IN on the partition
    column), results identical to the flat layout everywhere."""

    CORPUS = TestJaccardJoinIncremental.CORPUS
    BATCH = TestJaccardJoinIncremental.BATCH

    def _stored(self, spark, tmp_path, nb=8):
        from mydatasyncer_spark.operators.dedup import (
            id_bucketed_index,
            jaccard_ordered_index,
            jaccard_prefix_index,
            jaccard_token_order,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        idx = jaccard_prefix_index(corpus)
        order = jaccard_token_order(idx)
        ordered = jaccard_ordered_index(idx, token_order=order)
        id_bucketed_index(ordered, n_id_buckets=nb).write.partitionBy(
            "_id_bucket"
        ).parquet(str(tmp_path / "idx"))
        order.write.parquet(str(tmp_path / "order"))
        return (
            spark.read.parquet(str(tmp_path / "idx")),
            spark.read.parquet(str(tmp_path / "order")),
        )

    def test_jaccard_ingest_identical_and_verify_scan_prunes(
        self, spark, tmp_path
    ):
        import contextlib
        import io

        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
        )

        sidx, sorder = self._stored(spark, tmp_path)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        out = jaccard_join_incremental(
            batch, sidx, threshold=0.8,
            token_order=sorder, corpus_ordered=True,
        )
        got = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert got == TestJaccardJoinIncremental()._brute(spark, 0.8)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        pruned = [
            line
            for line in plan.splitlines()
            if "PartitionFilters" in line
            and "_id_bucket" in line
            and ("IN" in line or "in(" in line.lower())
        ]
        assert pruned, plan

    def test_all_prunes_compose_prefix_store_plus_id_buckets(
        self, spark, tmp_path
    ):
        """The full standing-pipeline configuration: token-bucketed
        prefix store (candidate DPP) + id-bucketed index (verify
        static prune) in ONE ingest — both prunings visible in the
        plan, results still brute-identical."""
        import contextlib
        import io

        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
            jaccard_prefix_store,
        )

        sidx, sorder = self._stored(spark, tmp_path)
        jaccard_prefix_store(
            sidx, 0.8, n_token_buckets=8
        ).write.partitionBy("_tok_bucket").parquet(str(tmp_path / "pfx"))
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        out = jaccard_join_incremental(
            batch, sidx, threshold=0.8,
            token_order=sorder, corpus_ordered=True,
            corpus_prefix=spark.read.parquet(str(tmp_path / "pfx")),
        )
        got = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert got == TestJaccardJoinIncremental()._brute(spark, 0.8)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        # the candidate subtree (whose prefix-store DPP is pinned in
        # TestJaccardPrefixStore) sits BELOW the eager candidate
        # checkpoint here, so this explain shows only the verify
        # stage: its scan must carry the static id-bucket prune and
        # nothing may degrade to a cartesian
        assert any(
            "PartitionFilters" in line
            and "_id_bucket" in line
            and ("IN" in line or "in(" in line.lower())
            for line in plan.splitlines()
        ), plan
        assert "CartesianProduct" not in plan

    def test_containment_probe_prunes_bucketed_corpus(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.dedup import containment_join

        sidx, sorder = self._stored(spark, tmp_path)
        probe = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in containment_join(
                probe, sidx, threshold=0.6, token_order=sorder
            ).collect()
        }
        # flat-layout reference
        from mydatasyncer_spark.operators.dedup import (
            jaccard_prefix_index,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        want = {
            (r["id_a"], r["id_b"])
            for r in containment_join(
                probe, jaccard_prefix_index(corpus), threshold=0.6,
                token_order=sorder,
            ).collect()
        }
        assert got == want and got

    def test_bucketed_without_modulus_metadata_refuses(
        self, spark, tmp_path
    ):
        import pytest
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
        )

        sidx, sorder = self._stored(spark, tmp_path)
        bare = sidx.withColumn(
            "doc_id", F.col("doc_id").alias("doc_id", metadata={})
        )
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        with pytest.raises(ValueError, match="bucket-count metadata"):
            jaccard_join_incremental(
                batch, bare, threshold=0.8,
                token_order=sorder, corpus_ordered=True,
            ).collect()

    def test_compact_converts_and_preserves_layout(self, spark, tmp_path):
        """Compaction is the layout converter: a flat index converts
        with n_id_buckets, a later compact preserves the layout, and
        refreeze keeps it too — results brute-identical throughout."""
        import glob

        from mydatasyncer_spark.operators.dedup import (
            jaccard_compact,
            jaccard_join_incremental,
            jaccard_ordered_index,
            jaccard_prefix_index,
            jaccard_refreeze,
            jaccard_token_order,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        idx = jaccard_prefix_index(corpus)
        order = jaccard_token_order(idx)
        jaccard_ordered_index(idx, token_order=order).write.parquet(
            str(tmp_path / "idx")
        )
        order.write.parquet(str(tmp_path / "idx_order"))
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")

        def pairs():
            return {
                (r["id_a"], r["id_b"])
                for r in jaccard_join_incremental(
                    batch,
                    spark.read.parquet(str(tmp_path / "idx")),
                    threshold=0.8,
                    token_order=spark.read.parquet(
                        str(tmp_path / "idx_order")
                    ),
                    corpus_ordered=True,
                ).collect()
            }

        want = TestJaccardJoinIncremental()._brute(spark, 0.8)
        assert pairs() == want
        jaccard_compact(spark, str(tmp_path / "idx"), n_id_buckets=8)
        assert glob.glob(str(tmp_path / "idx" / "_id_bucket=*"))
        assert pairs() == want
        # preserved without the param
        jaccard_compact(spark, str(tmp_path / "idx"))
        assert glob.glob(str(tmp_path / "idx" / "_id_bucket=*"))
        assert pairs() == want
        # refreeze keeps the layout (re-ordering never moves buckets)
        jaccard_refreeze(spark, str(tmp_path / "idx"))
        assert glob.glob(str(tmp_path / "idx" / "_id_bucket=*"))
        assert pairs() == want

    def test_minhash_bucketed_signature_index(self, spark, tmp_path):
        """compact_minhash_index(n_id_buckets) converts the signature
        index; the store-path incremental join then prunes the
        estimate-side scan and stays exactly identical."""
        import contextlib
        import io

        from mydatasyncer_spark.operators.dedup import (
            minhash_band_store,
            minhash_lsh_pairs_incremental,
            minhash_signature,
        )
        from mydatasyncer_spark.operators.maintenance import (
            compact_minhash_index,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        minhash_signature(corpus).write.parquet(str(tmp_path / "sig"))
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        plain = {
            (r["id_a"], r["id_b"], r["est_jaccard"])
            for r in minhash_lsh_pairs_incremental(
                batch, spark.read.parquet(str(tmp_path / "sig"))
            ).collect()
        }
        compact_minhash_index(
            spark, str(tmp_path / "sig"), n_id_buckets=8
        )
        sigs = spark.read.parquet(str(tmp_path / "sig"))
        minhash_band_store(
            sigs, n_band_buckets=8
        ).write.partitionBy("_band_bucket").parquet(str(tmp_path / "bands"))
        out = minhash_lsh_pairs_incremental(
            batch, sigs,
            corpus_bands=spark.read.parquet(str(tmp_path / "bands")),
            eager=False,
        )
        got = {
            (r["id_a"], r["id_b"], r["est_jaccard"])
            for r in out.collect()
        }
        assert got == plain and plain
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        pruned = [
            line
            for line in plan.splitlines()
            if "PartitionFilters" in line
            and "_id_bucket" in line
            and ("IN" in line or "in(" in line.lower())
        ]
        assert pruned, plan
        # a second compaction WITHOUT the param auto-preserves the
        # layout (compact_table's reserved-column detection)
        import glob

        compact_minhash_index(spark, str(tmp_path / "sig"))
        assert glob.glob(str(tmp_path / "sig" / "_id_bucket=*"))
        still = {
            (r["id_a"], r["id_b"], r["est_jaccard"])
            for r in minhash_lsh_pairs_incremental(
                batch, spark.read.parquet(str(tmp_path / "sig"))
            ).collect()
        }
        assert still == plain


class TestMinhashBandStore:
    """r9: persisted band-bucketed MinHash store — the third ingest
    family gets the DPP store treatment; results identical to the
    store-less incremental path, provenance fail-fast."""

    CORPUS = TestJaccardJoinIncremental.CORPUS
    BATCH = TestJaccardJoinIncremental.BATCH

    def _stored(self, spark, tmp_path, n_buckets=8):
        from mydatasyncer_spark.operators.dedup import (
            minhash_band_store,
            minhash_signature,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        minhash_signature(corpus).write.parquet(str(tmp_path / "sig"))
        sigs = spark.read.parquet(str(tmp_path / "sig"))
        minhash_band_store(
            sigs, n_band_buckets=n_buckets
        ).write.partitionBy("_band_bucket").parquet(str(tmp_path / "bands"))
        return sigs, spark.read.parquet(str(tmp_path / "bands"))

    def _pairs(self, spark, batch, sigs, **kw):
        from mydatasyncer_spark.operators.dedup import (
            minhash_lsh_pairs_incremental,
        )

        return {
            (r["id_a"], r["id_b"], r["est_jaccard"])
            for r in minhash_lsh_pairs_incremental(
                batch, sigs, **kw
            ).collect()
        }

    def test_identical_to_storeless_path_and_scan_prunes(
        self, spark, tmp_path
    ):
        import contextlib
        import io

        from mydatasyncer_spark.operators.dedup import (
            minhash_lsh_pairs_incremental,
        )

        sigs, bands = self._stored(spark, tmp_path)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        plain = self._pairs(spark, batch, sigs)
        stored = self._pairs(spark, batch, sigs, corpus_bands=bands)
        assert stored == plain and plain
        out = minhash_lsh_pairs_incremental(
            batch, sigs, corpus_bands=bands, eager=False
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        # STATIC pruning: the store scan's PartitionFilters carries an
        # explicit IN over the batch's touched buckets — guaranteed at
        # planning time, no DPP heuristics involved
        scan_lines = [
            line
            for line in plan.splitlines()
            if "PartitionFilters" in line and "_band_bucket" in line
        ]
        assert any(
            "IN" in line or "in(" in line.lower() for line in scan_lines
        ), plan

    def test_store_preconditions_fail_fast(self, spark, tmp_path):
        import pytest
        from pyspark.sql import functions as F

        sigs, bands = self._stored(spark, tmp_path)
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        # a different banding scheme produces incomparable keys
        with pytest.raises(ValueError, match="band_size"):
            self._pairs(
                spark, batch, sigs, corpus_bands=bands, band_size=8
            )
        # bucketed frame stripped of provenance: modulus unknowable
        bare = bands.withColumn(
            "band_key", F.col("band_key").alias("band_key", metadata={})
        )
        with pytest.raises(ValueError, match="n_band_buckets"):
            self._pairs(spark, batch, sigs, corpus_bands=bare)
        # wrong modulus would silently drop collisions
        with pytest.raises(ValueError, match="band buckets"):
            self._pairs(
                spark, batch, sigs, corpus_bands=bands, n_band_buckets=16
            )

    def test_compact_rebuilds_band_store(self, spark, tmp_path):
        from mydatasyncer_spark.operators.dedup import (
            minhash_band_store,
            minhash_signature,
        )
        from mydatasyncer_spark.operators.maintenance import (
            compact_minhash_index,
        )

        sigs, bands = self._stored(spark, tmp_path)
        rows = bands.count()
        # replayed append: one doc's band rows duplicated
        dup = spark.createDataFrame(
            self.CORPUS[:1], "doc_id long, text string"
        )
        minhash_band_store(
            minhash_signature(dup), n_band_buckets=8
        ).write.partitionBy("_band_bucket").mode("append").parquet(
            str(tmp_path / "bands")
        )
        minhash_signature(dup).write.mode("append").parquet(
            str(tmp_path / "sig")
        )
        assert spark.read.parquet(str(tmp_path / "bands")).count() > rows
        compact_minhash_index(
            spark,
            str(tmp_path / "sig"),
            band_store_path=str(tmp_path / "bands"),
        )
        rebuilt = spark.read.parquet(str(tmp_path / "bands"))
        assert rebuilt.count() == rows
        batch = spark.createDataFrame(self.BATCH, "doc_id long, text string")
        plain = self._pairs(
            spark, batch, spark.read.parquet(str(tmp_path / "sig"))
        )
        stored = self._pairs(
            spark,
            batch,
            spark.read.parquet(str(tmp_path / "sig")),
            corpus_bands=rebuilt,
        )
        assert stored == plain and plain


class TestJaccardRefreeze:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """r9 maintenance: re-freezing a drifted order keeps results
    brute-identical while collapsing the candidate-collision space
    that df-0 vocabulary drift inflates."""

    # bootstrap vocabulary (the order freezes over these dfs)
    CORPUS0 = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta theta iota kappa mu"),
        (3, "nu xi omicron pi rho sigma"),
    ]
    # drift: 10 docs sharing three hot tokens that are df-0 under the
    # frozen order AND alphabetically early, so they crowd every
    # stale prefix; each doc's real discriminators are its unique
    # tokens
    CORPUS1 = [
        (10 + i, f"aaa bbb ccc unique{i}x unique{i}y unique{i}z")
        for i in range(10)
    ]

    def _build(self, spark, tmp_path):
        from mydatasyncer_spark.operators.dedup import (
            jaccard_ordered_index,
            jaccard_prefix_index,
            jaccard_prefix_store,
            jaccard_token_order,
        )

        c0 = spark.createDataFrame(self.CORPUS0, "doc_id long, text string")
        c1 = spark.createDataFrame(self.CORPUS1, "doc_id long, text string")
        idx0 = jaccard_prefix_index(c0)
        order = jaccard_token_order(idx0)
        jaccard_ordered_index(idx0, token_order=order).write.parquet(
            str(tmp_path / "idx")
        )
        order.toDF("token", "df").write.parquet(str(tmp_path / "idx_order"))
        frozen = spark.read.parquet(str(tmp_path / "idx_order"))
        # drift batch ingested under the FROZEN order, like the stream
        jaccard_ordered_index(
            jaccard_prefix_index(c1), token_order=frozen
        ).write.mode("append").parquet(str(tmp_path / "idx"))
        jaccard_prefix_store(
            spark.read.parquet(str(tmp_path / "idx")), 0.8,
            n_token_buckets=8,
        ).write.partitionBy("_tok_bucket").parquet(str(tmp_path / "pfx"))
        return tmp_path

    def _collisions(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.dedup import _prefix_rows

        stored = spark.read.parquet(str(tmp_path / "idx"))
        pa = _prefix_rows(stored, "doc_id", 0.8, "a")
        pb = _prefix_rows(stored, "doc_id", 0.8, "b")
        return pa.join(
            pb,
            (pa["_ptok"] == pb["_ptok"])
            & (F.col("_id_a") < F.col("_id_b")),
        ).count()

    def _ingest_pairs(self, spark, tmp_path, batch):
        from mydatasyncer_spark.operators.dedup import (
            jaccard_join_incremental,
        )

        return {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in jaccard_join_incremental(
                batch,
                spark.read.parquet(str(tmp_path / "idx")),
                threshold=0.8,
                token_order=spark.read.parquet(str(tmp_path / "idx_order")),
                corpus_ordered=True,
                corpus_prefix=spark.read.parquet(str(tmp_path / "pfx")),
            ).collect()
        }

    def test_results_identical_and_collisions_drop(self, spark, tmp_path):
        from mydatasyncer_spark.operators.dedup import (
            jaccard_prefix_store,
            jaccard_refreeze,
        )

        self._build(spark, tmp_path)
        batch = spark.createDataFrame(
            [
                # exact duplicate of drift doc 10
                (100, "aaa bbb ccc unique0x unique0y unique0z"),
                (101, "alpha beta gamma delta epsilon zeta"),
                (102, "totally fresh content nothing shared"),
            ],
            "doc_id long, text string",
        )
        before_pairs = self._ingest_pairs(spark, tmp_path, batch)
        before_collisions = self._collisions(spark, tmp_path)
        stats = jaccard_refreeze(
            spark,
            str(tmp_path / "idx"),
            prefix_store_path=str(tmp_path / "pfx"),
        )
        assert stats["docs"] == len(self.CORPUS0) + len(self.CORPUS1)
        after_pairs = self._ingest_pairs(spark, tmp_path, batch)
        after_collisions = self._collisions(spark, tmp_path)
        assert after_pairs == before_pairs and before_pairs
        # exact duplicates found both times
        assert {(a, b) for a, b, _ in after_pairs} >= {
            (100, 10), (101, 1),
        }
        # the measurable point of the op: drift-hot tokens left the
        # prefixes, the candidate space collapsed
        assert after_collisions < before_collisions
        # arrays are rarest-first under the RE-FROZEN dfs
        dfs = {
            r["token"]: r["df"]
            for r in spark.read.parquet(
                str(tmp_path / "idx_order")
            ).collect()
        }
        assert dfs["aaa"] == 10  # drift vocab now carries real dfs
        for r in spark.read.parquet(str(tmp_path / "idx")).collect():
            keys = [(dfs.get(t, 0), t) for t in r["toks"]]
            assert keys == sorted(keys), r["doc_id"]
        # store rebuilt under the new order with provenance intact
        fresh = {
            (r["_id_b"], r["_ptok"])
            for r in jaccard_prefix_store(
                spark.read.parquet(str(tmp_path / "idx")), 0.8,
                n_token_buckets=8,
            )
            .select("_id_b", "_ptok")
            .collect()
        }
        got = {
            (r["_id_b"], r["_ptok"])
            for r in spark.read.parquet(str(tmp_path / "pfx"))
            .select("_id_b", "_ptok")
            .collect()
        }
        assert got == fresh

    def test_rerun_after_store_delete_crash_recovers_with_params(
        self, spark, tmp_path
    ):
        """A refreeze that crashed after deleting the store leaves no
        provenance to read — the rerun must refuse with a clear
        message without params, and fully recover with them."""
        import shutil

        import pytest

        from mydatasyncer_spark.operators.dedup import (
            jaccard_prefix_store,
            jaccard_refreeze,
        )

        self._build(spark, tmp_path)
        shutil.rmtree(str(tmp_path / "pfx"))  # the crash window
        with pytest.raises(ValueError, match="store_threshold"):
            jaccard_refreeze(
                spark, str(tmp_path / "idx"),
                prefix_store_path=str(tmp_path / "pfx"),
            )
        jaccard_refreeze(
            spark, str(tmp_path / "idx"),
            prefix_store_path=str(tmp_path / "pfx"),
            store_threshold=0.8, store_buckets=8,
        )
        fresh = {
            (r["_id_b"], r["_ptok"])
            for r in jaccard_prefix_store(
                spark.read.parquet(str(tmp_path / "idx")), 0.8,
                n_token_buckets=8,
            )
            .select("_id_b", "_ptok")
            .collect()
        }
        got = {
            (r["_id_b"], r["_ptok"])
            for r in spark.read.parquet(str(tmp_path / "pfx"))
            .select("_id_b", "_ptok")
            .collect()
        }
        assert got == fresh

    def test_refreeze_without_store_and_order_file_swap(
        self, spark, tmp_path
    ):
        """Order parquet is REPLACED (new dfs), and a second refreeze
        is a no-op fixpoint: same order, same arrays, same results."""
        from mydatasyncer_spark.operators.dedup import jaccard_refreeze

        self._build(spark, tmp_path)
        old_order = {
            (r["token"], r["df"])
            for r in spark.read.parquet(
                str(tmp_path / "idx_order")
            ).collect()
        }
        jaccard_refreeze(spark, str(tmp_path / "idx"))
        new_order = {
            (r["token"], r["df"])
            for r in spark.read.parquet(
                str(tmp_path / "idx_order")
            ).collect()
        }
        assert new_order != old_order
        rows1 = {
            (r["doc_id"], tuple(r["toks"]))
            for r in spark.read.parquet(str(tmp_path / "idx")).collect()
        }
        jaccard_refreeze(spark, str(tmp_path / "idx"))
        assert {
            (r["token"], r["df"])
            for r in spark.read.parquet(
                str(tmp_path / "idx_order")
            ).collect()
        } == new_order
        assert {
            (r["doc_id"], tuple(r["toks"]))
            for r in spark.read.parquet(str(tmp_path / "idx")).collect()
        } == rows1

    def test_drift_report_crosses_threshold_then_recovers(
        self, spark, tmp_path
    ):
        """r10: the refreeze DECISION signal. On the drifted corpus
        the report crosses the documented run-refreeze-when
        thresholds (df0_prefix_fraction > 0.1, collision_ratio >
        1.5); after refreeze both collapse to their fixpoint values
        (0.0 and 1.0). The frozen-order collision estimate must
        equal the pair count the collision probe actually joins
        (Σ C(c,2) is the self-join's cardinality, just computed as
        an aggregate)."""
        from mydatasyncer_spark.operators.dedup import (
            jaccard_drift_report,
            jaccard_refreeze,
        )

        self._build(spark, tmp_path)
        before = jaccard_drift_report(
            spark,
            str(tmp_path / "idx"),
            prefix_store_path=str(tmp_path / "pfx"),
        )
        assert before["threshold"] == 0.8  # read from store metadata
        assert before["df0_prefix_fraction"] > 0.1
        assert before["unseen_vocab_fraction"] > 0.0
        assert before["collision_ratio"] > 1.5
        # the aggregate-form estimate IS the self-join count
        assert before["collisions_frozen"] == self._collisions(
            spark, tmp_path
        )
        jaccard_refreeze(
            spark,
            str(tmp_path / "idx"),
            prefix_store_path=str(tmp_path / "pfx"),
        )
        after = jaccard_drift_report(
            spark,
            str(tmp_path / "idx"),
            prefix_store_path=str(tmp_path / "pfx"),
        )
        assert after["df0_prefix_fraction"] == 0.0
        assert after["unseen_vocab_fraction"] == 0.0
        assert after["collision_ratio"] == 1.0
        assert after["collisions_frozen"] < before["collisions_frozen"]
        # explicit threshold path needs no store
        import pytest

        solo = jaccard_drift_report(
            spark, str(tmp_path / "idx"), threshold=0.8
        )
        assert solo["collisions_frozen"] == after["collisions_frozen"]
        with pytest.raises(ValueError, match="threshold is required"):
            jaccard_drift_report(spark, str(tmp_path / "idx"))


class TestContainmentJoin:
    """Exact containment join: probe docs t-contained in corpus docs,
    lossless prefix blocking against a full inverted index."""

    def test_matches_brute_force_self_mode(self, spark):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.dedup import containment_join
        from mydatasyncer_spark.operators.text import tokens

        texts = [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma"),                      # in 1
            (3, "alpha beta gamma delta epsilon zeta eta theta"),
            (4, "completely unrelated words here"),
            (5, "beta gamma"),                            # in 1,2,3
            (6, ""),
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        for t in (0.5, 0.8, 1.0):
            got = {
                (r["id_a"], r["id_b"])
                for r in containment_join(df, threshold=t).collect()
            }
            toks = {
                r["doc_id"]: set(r["tk"])
                for r in df.select(
                    "doc_id",
                    F.array_distinct(tokens(F.col("text"))).alias("tk"),
                ).collect()
            }
            want = {
                (a, b)
                for a in toks
                for b in toks
                if a != b
                and len(toks[a] & toks[b]) / max(len(toks[a]), 1) >= t
                and len(toks[a]) > 0
            }
            assert got == want, t

    def test_asymmetry_probe_vs_corpus(self, spark):
        """Containment is directional: the short quote is contained
        in the long doc, never the reverse."""
        from mydatasyncer_spark.operators.dedup import containment_join

        probe = spark.createDataFrame(
            [(10, "to be or not to be")], "doc_id long, text string"
        )
        corpus = spark.createDataFrame(
            [(20, "hamlet asks to be or not to be that is the question")],
            "doc_id long, text string",
        )
        got = containment_join(probe, corpus, threshold=1.0).collect()
        assert [(r["id_a"], r["id_b"], r["containment"]) for r in got] == [
            (10, 20, 1.0)
        ]
        rev = containment_join(corpus, probe, threshold=1.0).collect()
        assert rev == []

    def test_zero_token_probe_never_pairs(self, spark):
        from mydatasyncer_spark.operators.dedup import containment_join

        probe = spark.createDataFrame(
            [(1, "")], "doc_id long, text string"
        )
        corpus = spark.createDataFrame(
            [(2, "anything at all")], "doc_id long, text string"
        )
        assert containment_join(probe, corpus, threshold=0.5).count() == 0

    def test_probe_mode_prefilter_and_frozen_order_are_lossless(
        self, spark
    ):
        """The r8 inverted-index semi-prefilter and a frozen token
        order must not change probe-vs-corpus results — all four
        combinations agree with brute force."""
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.dedup import (
            containment_join,
            jaccard_prefix_index,
            jaccard_token_order,
        )
        from mydatasyncer_spark.operators.text import tokens

        probe = spark.createDataFrame(
            [
                (1, "alpha beta gamma"),
                (2, "beta gamma delta unseen"),
                (3, ""),
                (4, "zeta eta"),
            ],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                (10, "alpha beta gamma delta epsilon zeta"),
                (11, "beta gamma"),
                (12, "completely different words"),
            ],
            "doc_id long, text string",
        )
        tk = {
            r["doc_id"]: set(r["tk"])
            for r in probe.unionByName(corpus)
            .select(
                "doc_id",
                F.array_distinct(tokens(F.col("text"))).alias("tk"),
            )
            .collect()
        }
        t = 0.6
        want = {
            (a, b)
            for a in (1, 2, 3, 4)
            for b in (10, 11, 12)
            if tk[a] and len(tk[a] & tk[b]) / len(tk[a]) >= t
        }
        frozen = jaccard_token_order(jaccard_prefix_index(corpus))
        for pf in (True, False):
            for order in (None, frozen):
                got = {
                    (r["id_a"], r["id_b"])
                    for r in containment_join(
                        probe, corpus, threshold=t,
                        token_order=order, prefilter_index=pf,
                    ).collect()
                }
                assert got == want, (pf, order is not None)
        # a STORED index as the corpus side (prefix or ordered — no
        # text re-read) must give identical pairs
        from mydatasyncer_spark.operators.dedup import (
            jaccard_ordered_index,
        )

        cidx = jaccard_prefix_index(corpus)
        for stored in (cidx, jaccard_ordered_index(cidx, token_order=frozen)):
            got = {
                (r["id_a"], r["id_b"])
                for r in containment_join(
                    probe, stored, threshold=t, token_order=frozen
                ).collect()
            }
            assert got == want


class TestContainmentInvertedStore:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """r9: persisted token-bucketed inverted-index store for
    containment probe mode — per-probe corpus IO dynamic-partition-
    prunes to the probe's token buckets; threshold-free and
    order-free by construction, results brute-identical."""

    PROBE = [
        (1, "alpha beta gamma"),
        (2, "beta gamma delta unseen"),
        (3, ""),
        (4, "zeta eta"),
    ]
    CORPUS = [
        (10, "alpha beta gamma delta epsilon zeta"),
        (11, "beta gamma"),
        (12, "completely different words"),
    ]

    def _brute(self, spark, t):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.text import tokens

        probe = spark.createDataFrame(self.PROBE, "doc_id long, text string")
        corpus = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        tk = {
            r["doc_id"]: set(r["tk"])
            for r in probe.unionByName(corpus)
            .select(
                "doc_id",
                F.array_distinct(tokens(F.col("text"))).alias("tk"),
            )
            .collect()
        }
        return {
            (a, b)
            for a, _ in self.PROBE
            for b, _ in self.CORPUS
            if tk[a] and len(tk[a] & tk[b]) / len(tk[a]) >= t
        }

    def _stored(self, spark, tmp_path, n_buckets=8):
        from mydatasyncer_spark.operators.dedup import (
            containment_inverted_store,
            jaccard_prefix_index,
        )

        corpus = spark.createDataFrame(
            self.CORPUS, "doc_id long, text string"
        )
        idx = jaccard_prefix_index(corpus)
        idx.write.parquet(str(tmp_path / "cidx"))
        containment_inverted_store(
            idx, n_token_buckets=n_buckets
        ).write.partitionBy("_tok_bucket").parquet(str(tmp_path / "cinv"))
        return (
            spark.read.parquet(str(tmp_path / "cidx")),
            spark.read.parquet(str(tmp_path / "cinv")),
        )

    def test_matches_brute_at_every_threshold_and_scan_prunes(
        self, spark, tmp_path
    ):
        """ONE store serves every join threshold (full explosion has
        no build-threshold precondition), and the store scan is
        STATICALLY pruned to the probe's touched buckets — an
        explicit IN in the scan's PartitionFilters, guaranteed at
        planning time at BOTH broadcast settings (DPP, the r9
        mechanism, silently lapsed once broadcast_probe=False)."""
        import contextlib
        import io

        from mydatasyncer_spark.operators.dedup import containment_join

        cidx, cinv = self._stored(spark, tmp_path)
        probe = spark.createDataFrame(self.PROBE, "doc_id long, text string")
        for t in (0.5, 0.8, 1.0):
            out = containment_join(
                probe, cidx, threshold=t, corpus_inv=cinv
            )
            got = {(r["id_a"], r["id_b"]) for r in out.collect()}
            assert got == self._brute(spark, t), t
        for bcast in (True, False):
            out = containment_join(
                probe,
                cidx,
                threshold=0.8,
                corpus_inv=cinv,
                broadcast_probe=bcast,
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                out.explain("formatted")
            plan = buf.getvalue()
            scan_lines = [
                line
                for line in plan.splitlines()
                if "PartitionFilters" in line and "_tok_bucket" in line
            ]
            assert any(
                "IN" in line or "in(" in line.lower()
                for line in scan_lines
            ), (bcast, plan)

    def test_no_broadcast_probe_is_still_exact(self, spark, tmp_path):
        from mydatasyncer_spark.operators.dedup import containment_join

        cidx, cinv = self._stored(spark, tmp_path)
        probe = spark.createDataFrame(self.PROBE, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in containment_join(
                probe, cidx, threshold=0.6, corpus_inv=cinv,
                broadcast_probe=False,
            ).collect()
        }
        assert got == self._brute(spark, 0.6)

    def test_store_path_exact_under_any_token_order(
        self, spark, tmp_path
    ):
        """r10: the store path's default order comes from the PROBE
        alone (batch-sized — the probe-∪-corpus default re-exploded
        the corpus index per probe batch). Exactness must hold under
        ANY fixed probe order, because the corpus side is a full
        inverted index: pin identity across the probe-only default,
        an explicit frozen corpus order, and a pathological
        WORST-case order (every token df-tied, ordered by string —
        prefixes maximally unselective)."""
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.dedup import (
            containment_join,
            jaccard_token_order,
        )

        cidx, cinv = self._stored(spark, tmp_path)
        probe = spark.createDataFrame(self.PROBE, "doc_id long, text string")
        want = self._brute(spark, 0.7)
        frozen = jaccard_token_order(cidx)
        degenerate = frozen.select(
            "token", F.lit(1).alias("df")
        )
        for order in (None, frozen, degenerate):
            got = {
                (r["id_a"], r["id_b"])
                for r in containment_join(
                    probe, cidx, threshold=0.7, corpus_inv=cinv,
                    token_order=order,
                ).collect()
            }
            assert got == want, order

    def test_store_preconditions_fail_fast(self, spark, tmp_path):
        import pytest
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.dedup import (
            containment_join,
            jaccard_ordered_index,
            jaccard_prefix_store,
            jaccard_token_order,
        )

        cidx, cinv = self._stored(spark, tmp_path)
        probe = spark.createDataFrame(self.PROBE, "doc_id long, text string")
        # self-mode has no separate verification index for the store
        with pytest.raises(ValueError, match="probe-vs-corpus"):
            containment_join(probe, corpus_inv=cinv)
        # a jaccard prefix store has the same shape but PREFIX rows
        # only — trusting it would silently miss pairs
        order = jaccard_token_order(cidx)
        pstore = jaccard_prefix_store(
            jaccard_ordered_index(cidx, token_order=order),
            0.8,
            n_token_buckets=8,
        )
        with pytest.raises(ValueError, match="jaccard_prefix_store"):
            containment_join(
                probe, cidx, threshold=0.8, corpus_inv=pstore
            )
        # a metadata-stripped store lost its POSITIVE full-explosion
        # marker — structurally identical to a filtered frame that
        # would silently miss pairs, so it is refused outright (r10:
        # the marker was written since r9 but never read)
        bare = cinv.withColumn(
            "_ptok", F.col("_ptok").alias("_ptok", metadata={})
        )
        with pytest.raises(ValueError, match="full-explosion marker"):
            containment_join(probe, cidx, threshold=0.8, corpus_inv=bare)
        # marker intact but the bucket modulus unknowable — must be
        # told explicitly
        from mydatasyncer_spark.operators.dedup import _CONTAIN_FULL_KEY

        no_nb = cinv.withColumn(
            "_ptok",
            F.col("_ptok").alias(
                "_ptok", metadata={_CONTAIN_FULL_KEY: True}
            ),
        )
        with pytest.raises(ValueError, match="n_token_buckets"):
            containment_join(probe, cidx, threshold=0.8, corpus_inv=no_nb)
        # a wrong modulus silently drops true matches — refuse
        with pytest.raises(ValueError, match="token buckets"):
            containment_join(
                probe, cidx, threshold=0.8, corpus_inv=cinv,
                n_token_buckets=16,
            )

    def test_compact_rebuilds_containment_store(self, spark, tmp_path):
        """Replayed-append duplicate rows compact away; results stay
        brute-identical and the bucket-count provenance survives the
        rebuild."""
        from mydatasyncer_spark.operators.dedup import (
            containment_inverted_store,
            containment_join,
            jaccard_compact,
            jaccard_prefix_index,
        )

        cidx, cinv = self._stored(spark, tmp_path)
        inv_path = str(tmp_path / "cinv")
        rows = cinv.count()
        # simulate a crash-replayed append: duplicate one doc's rows
        corpus = spark.createDataFrame(
            self.CORPUS[:1], "doc_id long, text string"
        )
        containment_inverted_store(
            jaccard_prefix_index(corpus), n_token_buckets=8
        ).write.partitionBy("_tok_bucket").mode("append").parquet(inv_path)
        assert spark.read.parquet(inv_path).count() > rows
        jaccard_compact(
            spark,
            str(tmp_path / "cidx"),
            containment_store_path=inv_path,
        )
        rebuilt = spark.read.parquet(inv_path)
        assert rebuilt.count() == rows
        probe = spark.createDataFrame(self.PROBE, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in containment_join(
                probe,
                spark.read.parquet(str(tmp_path / "cidx")),
                threshold=0.6,
                corpus_inv=rebuilt,
            ).collect()
        }
        assert got == self._brute(spark, 0.6)


class TestSimilarityJoinRandomized:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """Seeded randomized corpora: the prefix blocking of all three
    exact similarity joins must be LOSSLESS against brute force —
    template-like overlap, random lengths, shared vocab, empties."""

    def _corpus(self, rng, n_docs, vocab):
        docs = []
        for i in range(n_docs):
            kind = rng.random()
            if kind < 0.15:
                docs.append((i, ""))
            elif kind < 0.55 and docs:
                # near-copy of an earlier doc with edits
                base = docs[rng.randrange(len(docs))][1].split()
                for _ in range(rng.randrange(0, 3)):
                    if base and rng.random() < 0.5:
                        base.pop(rng.randrange(len(base)))
                    else:
                        base.append(rng.choice(vocab))
                docs.append((i, " ".join(base)))
            else:
                k = rng.randrange(1, 12)
                docs.append(
                    (i, " ".join(rng.choice(vocab) for _ in range(k)))
                )
        return docs

    def test_lossless_on_random_corpora(self, spark):
        import random

        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.dedup import (
            containment_join,
            jaccard_join_incremental,
            jaccard_prefix_index,
            jaccard_self_join,
        )
        from mydatasyncer_spark.operators.text import tokens

        vocab = [f"w{i}" for i in range(30)]
        for seed in (7, 21, 99):
            rng = random.Random(seed)
            docs = self._corpus(rng, 24, vocab)
            df = spark.createDataFrame(docs, "doc_id long, text string")
            tk = {
                r["doc_id"]: set(r["tk"])
                for r in df.select(
                    "doc_id",
                    F.array_distinct(tokens(F.col("text"))).alias("tk"),
                ).collect()
            }
            t = rng.choice([0.3, 0.5, 0.7, 0.9])

            def jac(a, b):
                u = len(tk[a] | tk[b])
                return len(tk[a] & tk[b]) / u if u else 0.0

            got = {
                (r["id_a"], r["id_b"])
                for r in jaccard_self_join(df, threshold=t).collect()
            }
            want = {
                (a, b)
                for a in tk
                for b in tk
                if a < b and jac(a, b) >= t
            }
            assert got == want, (seed, t, "self")

            got_c = {
                (r["id_a"], r["id_b"])
                for r in containment_join(df, threshold=t).collect()
            }
            want_c = {
                (a, b)
                for a in tk
                for b in tk
                if a != b
                and tk[a]
                and len(tk[a] & tk[b]) / len(tk[a]) >= t
            }
            assert got_c == want_c, (seed, t, "containment")

            corpus = df.filter("doc_id % 2 = 0")
            batch = df.filter("doc_id % 2 = 1")
            got_i = {
                (r["id_a"], r["id_b"])
                for r in jaccard_join_incremental(
                    batch, jaccard_prefix_index(corpus), threshold=t
                ).collect()
            }
            bids = {i for i, _ in docs if i % 2 == 1}
            want_i = set()
            for a in bids:
                for b in tk:
                    if b == a or jac(a, b) < t:
                        continue
                    if b in bids:
                        if a < b:
                            want_i.add((a, b))
                    else:
                        want_i.add((a, b))
            assert got_i == want_i, (seed, t, "incremental")

            # the stored-order path must agree with the legacy path
            from mydatasyncer_spark.operators.dedup import (
                jaccard_ordered_index,
                jaccard_token_order,
            )

            cidx = jaccard_prefix_index(corpus)
            order = jaccard_token_order(cidx)
            got_o = {
                (r["id_a"], r["id_b"])
                for r in jaccard_join_incremental(
                    batch, jaccard_ordered_index(cidx, token_order=order),
                    threshold=t, token_order=order, corpus_ordered=True,
                ).collect()
            }
            assert got_o == want_i, (seed, t, "ordered")

            # r10: the bucketed containment-store path (static IN
            # prune + probe-only default order) must also be lossless
            # on the same adversarial corpora — empties, near-copies,
            # heavy vocab overlap
            from mydatasyncer_spark.operators.dedup import (
                containment_inverted_store,
            )

            cinv = containment_inverted_store(cidx, n_token_buckets=8)
            got_s = {
                (r["id_a"], r["id_b"])
                for r in containment_join(
                    batch, cidx, threshold=t, corpus_inv=cinv
                ).collect()
            }
            want_s = {
                (a, b)
                for a in bids
                for b in tk
                if b not in bids
                and tk[a]
                and len(tk[a] & tk[b]) / len(tk[a]) >= t
            }
            assert got_s == want_s, (seed, t, "containment-store")

            # r10: the band-store MinHash path must be EXACTLY the
            # storeless incremental path on the same corpora — same
            # signatures, same bands, different IO
            from mydatasyncer_spark.operators.dedup import (
                minhash_band_store,
                minhash_lsh_pairs_incremental,
                minhash_signature,
            )

            sigs = minhash_signature(corpus)
            plain_mh = {
                (r["id_a"], r["id_b"], r["est_jaccard"])
                for r in minhash_lsh_pairs_incremental(
                    batch, sigs
                ).collect()
            }
            stored_mh = {
                (r["id_a"], r["id_b"], r["est_jaccard"])
                for r in minhash_lsh_pairs_incremental(
                    batch,
                    sigs,
                    corpus_bands=minhash_band_store(
                        sigs, n_band_buckets=8
                    ),
                    n_band_buckets=8,
                ).collect()
            }
            assert stored_mh == plain_mh, (seed, "band-store")


class TestExactJaccardClusterComposition:
    def test_exact_pairs_feed_cluster_assignment(self, spark):
        """The curation decision step composes: exact prefix-filtered
        pairs -> union-find clusters -> min-id survivors, with
        transitive chains collapsing (a~b, b~c => one cluster even if
        a!~c)."""
        from mydatasyncer_spark.operators.dedup import (
            dedup_clusters,
            jaccard_self_join,
        )

        texts = [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),     # ~1
            (3, "alpha beta gamma eta zeta"),       # ~2, not ~1
            (4, "totally different content here"),
            (5, "totally different content there"), # ~4
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        pairs = jaccard_self_join(df, threshold=0.6)
        got_pairs = {
            (r["id_a"], r["id_b"]) for r in pairs.collect()
        }
        assert got_pairs == {(1, 2), (2, 3), (4, 5)}
        clusters = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(pairs).collect()
        }
        # transitive: 1-2-3 one cluster rooted at 1; 4-5 at 4
        assert clusters == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


class TestEmbeddingFamilyRandomized:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """Seeded randomized vector corpora: the embedding family's
    store/storeless, probe-depth, and degradation invariants — every
    comparison is engine-vs-engine (no Python float re-derivation),
    so the pins are exact set equalities."""

    def _vectors(self, rng, n, dim):
        rows = []
        for i in range(n):
            v = [round(rng.uniform(-1.0, 1.0), 3) for _ in range(dim)]
            if all(abs(x) < 0.05 for x in v):
                v[rng.randrange(dim)] = 0.5  # keep norms off zero
            if rng.random() < 0.25 and rows:
                # near-copy: tiny perturbation of an earlier vector —
                # guarantees some high-cosine pairs exist
                base = rows[rng.randrange(len(rows))][1]
                v = [round(x + 0.001 * rng.uniform(-1, 1), 6) for x in base]
            rows.append((i, v))
        return rows

    def test_invariants_on_random_corpora(self, spark, tmp_path):
        import random

        from mydatasyncer_spark.operators.similarity import (
            cosine_topk,
            embedding_near_dup_pairs,
            ivf_index,
            ivf_topk,
            ivf_topk_indexed,
            kmeans_centroids,
            recorded_centroids,
            semantic_dedup_pairs,
        )

        for seed in (11, 42, 77):
            rng = random.Random(seed)
            dim = rng.choice([3, 5, 8])
            kc = rng.choice([2, 4])
            rows = self._vectors(rng, 28, dim)
            df = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            )
            cens = kmeans_centroids(df, dim, k=kc, n_iter=3)
            path = str(tmp_path / f"ivf_{seed}")
            ivf_index(df, dim, centroids=cens).write.partitionBy(
                "bucket"
            ).parquet(path)
            stored = spark.read.parquet(path)
            # self-describing round-trip
            assert recorded_centroids(stored) == [
                [float(x) for x in cen] for cen in cens
            ]
            q = df.filter("vec_id % 4 = 0")

            def rset(res):
                return {
                    (r["query_id"], r["neighbor_id"], r["rank"])
                    for r in res.collect()
                }

            # config-less indexed == storeless under the trained set
            got = rset(ivf_topk_indexed(q, stored, dim, k=3))
            assert got == rset(
                ivf_topk(q, df, dim, k=3, centroids=cens)
            ) and got, seed
            # n_probe = n_centroids degrades to the exact answer
            assert rset(
                ivf_topk(
                    q, df, dim, k=3, n_probe=kc, centroids=cens
                )
            ) == rset(cosine_topk(q, df, k=3)), seed

            t = rng.choice([0.9, 0.95, 0.99])

            def pset(res):
                return {
                    (r["id_a"], r["id_b"]) for r in res.collect()
                }

            p1 = pset(
                semantic_dedup_pairs(df, dim, t, centroids=cens)
            )
            p2 = pset(
                semantic_dedup_pairs(
                    df, dim, t, centroids=cens, n_probe=2
                )
            )
            brute = pset(
                embedding_near_dup_pairs(
                    df.withColumn("blk", F.lit(1)), "blk", t
                )
            )
            # probe-2 recall is a superset of probe-1; both under brute
            assert p1 <= p2 <= brute, seed
            # probe-1 is EXACTLY brute restricted to shared clusters
            # (clusters read from the engine's own index buckets)
            bucket = {
                r["neighbor_id"]: r["bucket"]
                for r in stored.select("neighbor_id", "bucket").collect()
            }
            assert p1 == {
                (a, b) for a, b in brute if bucket[a] == bucket[b]
            }, seed

            # LSH store leg: config-less indexed == storeless under a
            # random plane count, at both broadcast settings
            from mydatasyncer_spark.operators.similarity import (
                lsh_ann_topk,
                lsh_ann_topk_indexed,
                lsh_index,
            )

            planes = rng.choice([3, 4, 6])
            lpath = str(tmp_path / f"lsh_{seed}")
            lsh_index(df, dim, n_planes=planes).write.partitionBy(
                "bucket"
            ).parquet(lpath)
            lstored = spark.read.parquet(lpath)
            lwant = rset(lsh_ann_topk(q, df, dim, k=3, n_planes=planes))
            for bq in (True, False):
                assert rset(
                    lsh_ann_topk_indexed(
                        q, lstored, dim, k=3, broadcast_queries=bq
                    )
                ) == lwant, (seed, bq)


class TestIvfTopkCorpusVsCorpus:
    """r10: broadcast_queries=False — the corpus-vs-corpus ANN path.
    A query side too big to broadcast loses DPP eligibility (the
    broadcast-shape heuristic), so the index scan is pruned
    STATICALLY: probed buckets collected (bounded ≤ n_centroids) and
    applied as an explicit IN on the partition column."""

    def _stored(self, spark, tmp_path):
        from mydatasyncer_spark.operators.similarity import (
            ivf_index,
            kmeans_centroids,
        )

        rows = [
            (i, [((i * 13 + j * 5) % 17) / 17.0 - 0.5 for j in range(4)])
            for i in range(1, 41)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        cens = kmeans_centroids(df, dim=4, k=4, n_iter=3)
        ivf_index(df, dim=4, centroids=cens).write.partitionBy(
            "bucket"
        ).parquet(str(tmp_path / "ivf"))
        return df, spark.read.parquet(str(tmp_path / "ivf"))

    def test_identical_to_broadcast_path(self, spark, tmp_path):
        from mydatasyncer_spark.operators.similarity import (
            ivf_topk_indexed,
        )

        df, stored = self._stored(spark, tmp_path)
        q = df.filter("vec_id % 3 = 0")
        for n_probe in (1, 2):
            def rset(broadcast_queries):
                return {
                    (r["query_id"], r["neighbor_id"], r["rank"],
                     r["cosine"])
                    for r in ivf_topk_indexed(
                        q, stored, dim=4, k=3, n_probe=n_probe,
                        broadcast_queries=broadcast_queries,
                    ).collect()
                }

            got = rset(False)
            assert got == rset(True) and got, n_probe

    def test_index_scan_statically_pruned(self, spark, tmp_path):
        import contextlib
        import io

        from mydatasyncer_spark.operators.similarity import (
            ivf_topk_indexed,
        )

        df, stored = self._stored(spark, tmp_path)
        # a single-vector query probes exactly one bucket — the IN
        # list must be that narrow, not all partitions
        q = df.filter("vec_id = 1")
        out = ivf_topk_indexed(
            q, stored, dim=4, k=3, broadcast_queries=False
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        import re

        scan_lines = [
            line
            for line in plan.splitlines()
            if "PartitionFilters" in line and "bucket" in line
        ]
        # Catalyst renders a one-element IN as an equality — accept
        # either; what matters is a value predicate on the partition
        # column, guaranteed at planning time
        assert any(
            re.search(r"bucket#\d+L? (=|IN)", line)
            for line in scan_lines
        ), plan


class TestLshIndexStore:
    """r10: the LSH twin of ivf_index/ivf_topk_indexed — the
    'precomputed/partitioned-by at ingest' path lsh_ann_topk's
    docstring promises, with (dim, n_planes) provenance (the
    hyperplanes are deterministic functions of those two ints, so
    recording them makes the index fully self-describing)."""

    def _stored(self, spark, tmp_path, n_planes=4):
        from mydatasyncer_spark.operators.similarity import lsh_index

        rows = [
            (i, [((i * 13 + j * 5) % 17) / 17.0 - 0.5 for j in range(4)])
            for i in range(1, 41)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        lsh_index(df, dim=4, n_planes=n_planes).write.partitionBy(
            "bucket"
        ).parquet(str(tmp_path / "lsh"))
        return df, spark.read.parquet(str(tmp_path / "lsh"))

    def test_indexed_matches_storeless_and_self_describes(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.similarity import (
            lsh_ann_topk,
            lsh_ann_topk_indexed,
        )

        df, stored = self._stored(spark, tmp_path, n_planes=4)
        q = df.filter("vec_id % 3 = 0")
        want = {
            (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
            for r in lsh_ann_topk(q, df, dim=4, k=3, n_planes=4).collect()
        }
        # config-less: the NON-default plane count resolves from the
        # index itself; both broadcast settings identical
        for bq in (True, False):
            got = {
                (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
                for r in lsh_ann_topk_indexed(
                    q, stored, dim=4, k=3, broadcast_queries=bq
                ).collect()
            }
            assert got == want and got, bq

    def test_provenance_refusals(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from mydatasyncer_spark.operators.similarity import (
            lsh_ann_topk_indexed,
        )

        df, stored = self._stored(spark, tmp_path, n_planes=4)
        q = df.filter("vec_id % 3 = 0")
        with pytest.raises(ValueError, match="hyperplanes"):
            lsh_ann_topk_indexed(q, stored, dim=4, k=3, n_planes=8)
        with pytest.raises(ValueError, match="records dim"):
            lsh_ann_topk_indexed(q.limit(1), stored, dim=3, k=3)
        # matching explicit planes are accepted
        assert lsh_ann_topk_indexed(
            q, stored, dim=4, k=3, n_planes=4
        ).count() > 0
        # pre-provenance frame: accepted with the caller's planes
        bare = stored.withColumn(
            "neighbor_id",
            F.col("neighbor_id").alias("neighbor_id", metadata={}),
        )
        assert lsh_ann_topk_indexed(
            q, bare, dim=4, k=3, n_planes=4
        ).count() > 0

    def test_nonbroadcast_scan_statically_pruned(self, spark, tmp_path):
        import contextlib
        import io
        import re

        from mydatasyncer_spark.operators.similarity import (
            lsh_ann_topk_indexed,
        )

        df, stored = self._stored(spark, tmp_path, n_planes=4)
        out = lsh_ann_topk_indexed(
            df.filter("vec_id = 1"), stored, dim=4, k=3,
            broadcast_queries=False,
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        scan_lines = [
            line
            for line in plan.splitlines()
            if "PartitionFilters" in line and "bucket" in line
        ]
        assert any(
            re.search(r"bucket#\d+L? (=|IN)", line)
            for line in scan_lines
        ), plan


class TestProductQuantization:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """r10: IVF-PQ — the compressed embedding scale path (Jégou et
    al. 2011). What 100 TB cares about: the scored bytes per
    candidate drop from dim doubles to m one-byte codes + a norm,
    bucket pruning still governs WHICH partitions are read, and
    exactness is recoverable through the candidate-proportional
    refine stage. These tests pin the algebra (ADC == reconstruction
    scoring — the identity the SQL oracle relies on), the training
    objective, recall on a corpus with real structure, the
    refine-path identity with IVF-Flat, and the fail-fast codebook
    provenance that makes stale/stripped stores refuse instead of
    silently mis-scoring."""

    DIM, M, KSUB = 8, 4, 4

    @staticmethod
    def _vecs(spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    @classmethod
    def _corpus(cls, spark, n=48):
        rows = [
            (
                i,
                [
                    ((i * 7 + j * 3) % 23) / 23.0 - 0.5
                    for j in range(cls.DIM)
                ],
            )
            for i in range(1, n + 1)
        ]
        return cls._vecs(spark, rows)

    def test_codes_shape_and_bounds(self, spark):
        from mydatasyncer_spark.operators.similarity import (
            pq_codebook_values,
            pq_encode,
        )

        corpus = self._corpus(spark)
        books = pq_codebook_values(self.DIM, self.M, self.KSUB)
        enc = pq_encode(
            corpus, self.DIM, books=books, m=self.M, ksub=self.KSUB
        )
        rows = enc.collect()
        assert len(rows) == corpus.count()
        for r in rows:
            assert len(r["codes"]) == self.M
            assert all(1 <= c <= self.KSUB for c in r["codes"])

    def test_adc_equals_reconstruction_scoring(self, spark):
        """The cross-engine identity the gate oracle is built on:
        the LUT-summed ADC score equals cosine against the candidate
        RECONSTRUCTION (per-subspace round-6 dots summed in subspace
        order), normalized by the true stored norm."""
        from mydatasyncer_spark.operators.similarity import (
            dot,
            norm,
            pq_adc_topk,
            pq_codebook_values,
            pq_codes,
            pq_encode,
        )

        corpus = self._corpus(spark)
        queries = corpus.filter("vec_id % 7 = 0")
        books = pq_codebook_values(self.DIM, self.M, self.KSUB)
        enc = pq_encode(
            corpus, self.DIM, books=books, m=self.M, ksub=self.KSUB
        )
        got = {
            (r["query_id"], r["neighbor_id"]): r["adc_cosine"]
            for r in pq_adc_topk(
                queries, enc, self.DIM, k=1000, books=books
            ).collect()
        }
        # reconstruction scoring, straight from the codebook python
        # lists — per-subspace round-6 dot, summed j-ascending
        dsub = self.DIM // self.M
        recon_scored = {}
        cvecs = {r["vec_id"]: r["embedding"] for r in corpus.collect()}
        codes = {
            r["neighbor_id"]: r["codes"]
            for r in enc.collect()
        }
        import math

        for qr in queries.collect():
            qid, qv = qr["vec_id"], qr["embedding"]
            qn = math.sqrt(sum(x * x for x in qv))
            for nid, cv in cvecs.items():
                if nid == qid:
                    continue
                cn = math.sqrt(sum(x * x for x in cv))
                s = 0.0
                for j in range(self.M):
                    cen = books[j][codes[nid][j] - 1]
                    sub = qv[j * dsub : (j + 1) * dsub]
                    s += round(
                        sum(a * b for a, b in zip(sub, cen)), 6
                    )
                recon_scored[(qid, nid)] = round(s / (qn * cn), 6)
        assert set(got) == set(recon_scored)
        for key, v in got.items():
            assert abs(v - recon_scored[key]) < 1e-9, key

    def test_train_reduces_quantization_error(self, spark):
        from mydatasyncer_spark.operators.similarity import (
            pq_codebook_values,
            pq_quantization_error,
            pq_train,
        )

        corpus = self._corpus(spark)
        det = pq_codebook_values(self.DIM, self.M, self.KSUB)
        trained = pq_train(
            corpus, self.DIM, m=self.M, ksub=self.KSUB, n_iter=4
        )
        e_det = pq_quantization_error(corpus, det)
        e_tr = pq_quantization_error(corpus, trained)
        assert e_tr < e_det
        # another Lloyd round never worsens the objective
        more = pq_train(
            corpus,
            self.DIM,
            m=self.M,
            ksub=self.KSUB,
            n_iter=1,
            init=trained,
        )
        assert pq_quantization_error(corpus, more) <= e_tr + 1e-9

    def test_planted_structure_recall(self, spark):
        """On a corpus with actual cluster structure (the regime PQ
        is built for — raw synthetic noise is adversarial to ANY
        8-byte code), trained books put each probe's true nearest
        neighbor at ADC rank 1."""
        from mydatasyncer_spark.operators.similarity import (
            pq_adc_topk,
            pq_encode,
            pq_train,
        )

        import random

        rng = random.Random(42)
        bases = [
            [rng.uniform(-1, 1) for _ in range(self.DIM)]
            for _ in range(6)
        ]
        rows = []
        for i in range(60):
            b = bases[i % 6]
            rows.append(
                (
                    i + 1,
                    [x + rng.uniform(-0.05, 0.05) for x in b],
                )
            )
        corpus = self._vecs(spark, rows)
        probes = corpus.filter("vec_id <= 6")
        books = pq_train(
            corpus, self.DIM, m=self.M, ksub=8, n_iter=6
        )
        enc = pq_encode(corpus, self.DIM, books=books)
        from mydatasyncer_spark.operators.similarity import cosine_topk

        true1 = {
            r["query_id"]: r["neighbor_id"]
            for r in cosine_topk(probes, corpus, k=1).collect()
        }
        adc = pq_adc_topk(probes, enc, self.DIM, k=5).collect()
        top5 = {}
        for r in adc:
            top5.setdefault(r["query_id"], []).append(r["neighbor_id"])
        # (a) ADC finds the right NEIGHBORHOOD: every probe's top-5
        # live in the probe's planted cluster (what an 8-byte code
        # can promise — fine ordering WITHIN a tight cluster, where
        # members share codes, is the refine stage's job);
        cluster = {i + 1: i % 6 for i in range(60)}
        for q, lst in top5.items():
            same = sum(1 for n in lst if cluster[n] == cluster[q])
            assert same == 5, (q, lst)
        # (b) and the true NN is almost always in that candidate set
        hits = sum(
            1 for q, n in true1.items() if n in top5.get(q, [])
        )
        assert hits >= 4

    def test_refine_path_is_exactly_ivf_flat(self, spark):
        """refine=R >= bucket population makes IVF-PQ EXACTLY
        IVF-Flat: PQ then only prunes the re-rank set, and the final
        scores are true cosines."""
        from mydatasyncer_spark.operators.similarity import (
            ivf_topk,
            pq_index,
            pq_topk_indexed,
        )

        corpus = self._corpus(spark)
        queries = corpus.filter("vec_id % 7 = 0")
        idx = pq_index(
            corpus, self.DIM, m=self.M, ksub=self.KSUB, n_centroids=4
        )
        got = pq_topk_indexed(
            queries,
            idx,
            self.DIM,
            k=3,
            n_centroids=4,
            refine=10**6,
            corpus=corpus,
        )
        want = ivf_topk(queries, corpus, self.DIM, k=3, n_centroids=4)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        assert got.count() > 0

    def test_refine_requires_corpus(self, spark):
        from mydatasyncer_spark.operators.similarity import (
            pq_index,
            pq_topk_indexed,
        )

        corpus = self._corpus(spark)
        idx = pq_index(
            corpus, self.DIM, m=self.M, ksub=self.KSUB, n_centroids=4
        )
        with pytest.raises(ValueError, match="refine needs"):
            pq_topk_indexed(
                corpus, idx, self.DIM, k=3, n_centroids=4, refine=10
            )

    def test_self_describing_store_and_provenance_refusals(
        self, spark, tmp_path
    ):
        """The store carries its books: a configless reader resolves
        them; explicit WRONG books are refused; a metadata-stripped
        codes frame is refused rather than scored under guessed
        books (the positive-marker discipline)."""
        from mydatasyncer_spark.operators.similarity import (
            pq_adc_topk,
            pq_codebook_values,
            pq_encode,
            pq_train,
            recorded_codebooks,
        )

        corpus = self._corpus(spark)
        queries = corpus.filter("vec_id % 7 = 0")
        trained = pq_train(
            corpus, self.DIM, m=self.M, ksub=self.KSUB, n_iter=3
        )
        path = str(tmp_path / "pqstore")
        pq_encode(corpus, self.DIM, books=trained).write.parquet(path)
        stored = spark.read.parquet(path)
        # parquet round-trips the books; configless read works
        assert recorded_codebooks(stored) == [
            [[float(x) for x in cen] for cen in book]
            for book in trained
        ]
        configless = pq_adc_topk(queries, stored, self.DIM, k=3)
        explicit = pq_adc_topk(
            queries, stored, self.DIM, k=3, books=trained
        )
        assert configless.exceptAll(explicit).count() == 0
        assert explicit.exceptAll(configless).count() == 0
        # wrong explicit books: refused, not silently mis-scored
        det = pq_codebook_values(self.DIM, self.M, self.KSUB)
        with pytest.raises(ValueError, match="do not match"):
            pq_adc_topk(queries, stored, self.DIM, k=3, books=det)
        # stripped metadata: refused, not scored under guessed books
        stripped = stored.select(
            F.col("neighbor_id").alias("neighbor_id", metadata={}),
            "codes",
            "cn",
        )
        with pytest.raises(ValueError, match="records no codebooks"):
            pq_adc_topk(queries, stripped, self.DIM, k=3)

    def test_static_bucket_prune_on_nonbroadcast_probe(
        self, spark, tmp_path
    ):
        """broadcast_queries=False statically prunes the partitioned
        store scan to the probed buckets — the explicit
        PartitionFilters IN, planning-time-guaranteed (the band-store
        contract), with results identical to the broadcast path."""
        from mydatasyncer_spark.operators.similarity import (
            pq_index,
            pq_topk_indexed,
        )

        corpus = self._corpus(spark)
        queries = corpus.filter("vec_id in (7, 14)")
        idx = pq_index(
            corpus, self.DIM, m=self.M, ksub=self.KSUB, n_centroids=4
        )
        path = str(tmp_path / "pqidx")
        idx.write.partitionBy("bucket").parquet(path)
        stored = spark.read.parquet(path)
        bc = pq_topk_indexed(
            stored_q := queries, stored, self.DIM, k=3, n_centroids=4
        )
        nb = pq_topk_indexed(
            stored_q,
            stored,
            self.DIM,
            k=3,
            n_centroids=4,
            broadcast_queries=False,
        )
        assert bc.exceptAll(nb).count() == 0
        assert nb.exceptAll(bc).count() == 0
        import contextlib
        import io
        import re

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            nb.explain("formatted")
        plan = buf.getvalue()
        scan_lines = [
            line
            for line in plan.splitlines()
            if "PartitionFilters" in line and "bucket" in line
        ]
        # Catalyst renders a one-element IN as an equality — accept
        # either; what matters is a value predicate on the partition
        # column, guaranteed at planning time
        assert any(
            re.search(r"bucket#\d+L? (=|IN)", line)
            for line in scan_lines
        ), plan


class TestPqRandomized:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """Seeded randomized vector corpora: the PQ family's exactness
    and degradation invariants, engine-vs-engine — the refine path
    must equal IVF-Flat at full refine REGARDLESS of how lossy the
    quantization is (random corpora are PQ's worst case, which is
    exactly why they pin the refine contract rather than recall),
    the streamed/batch/rebuilt stores must agree row-for-row, and a
    shrinking refine budget must degrade monotonically toward the
    ADC ranking, never error."""

    _vectors = TestEmbeddingFamilyRandomized._vectors

    def test_invariants_on_random_corpora(self, spark, tmp_path):
        import random

        from mydatasyncer_spark.operators.similarity import (
            ivf_topk,
            pq_adc_topk,
            pq_encode,
            pq_index,
            pq_topk_indexed,
            pq_train,
            recorded_codebooks,
        )

        for seed in (7, 23, 91):
            rng = random.Random(seed)
            m = rng.choice([2, 4])
            dsub = rng.choice([2, 3])
            dim = m * dsub
            ksub = rng.choice([4, 8])
            kc = rng.choice([2, 4])
            rows = self._vectors(rng, 30, dim)
            df = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            )
            books = pq_train(df, dim, m=m, ksub=ksub, n_iter=3)
            q = df.filter("vec_id % 5 = 0")

            def rset(res):
                return {
                    (r["query_id"], r["neighbor_id"], r["rank"])
                    for r in res.collect()
                }

            # full refine == IVF-Flat, at any quantization quality
            idx = pq_index(
                df, dim, m=m, ksub=ksub, n_centroids=kc, books=books
            )
            full = rset(
                pq_topk_indexed(
                    q, idx, dim, k=3, n_centroids=kc,
                    refine=10**6, corpus=df,
                )
            )
            assert full == rset(
                ivf_topk(q, df, dim, k=3, n_centroids=kc)
            ) and full, seed
            # store round-trip: written+read store gives identical
            # results, configless (books resolve from the footer)
            path = str(tmp_path / f"pq_{seed}")
            idx.write.partitionBy("bucket").parquet(path)
            stored = spark.read.parquet(path)
            assert recorded_codebooks(stored) == [
                [[float(x) for x in cen] for cen in book]
                for book in books
            ], seed
            assert (
                rset(
                    pq_topk_indexed(
                        q, stored, dim, k=3, n_centroids=kc,
                        refine=10**6, corpus=df,
                    )
                )
                == full
            ), seed
            # refine budget degradation: every query keeps exactly
            # k rows at every budget, and refine >= the probed
            # population can never change the answer
            for budget in (1, 3, 10**6):
                res = pq_topk_indexed(
                    q, stored, dim, k=min(3, budget),
                    n_centroids=kc, refine=budget, corpus=df,
                )
                per_q = {}
                for r in res.collect():
                    per_q.setdefault(r["query_id"], 0)
                    per_q[r["query_id"]] += 1
                assert all(
                    c <= min(3, budget) for c in per_q.values()
                ), seed
            # brute ADC over the flat encoding ranks every corpus
            # row for every query (k = corpus) — a completeness pin
            enc = pq_encode(df, dim, books=books, m=m, ksub=ksub)
            adc_all = pq_adc_topk(q, enc, dim, k=10**6)
            n_q = q.count()
            assert adc_all.count() == n_q * (df.count() - 1), seed


class TestPqReviewFixes:
    """Review fixes: the refine stage honors broadcast_queries=False
    (the corpus-vs-corpus path must never hint a corpus-scale
    broadcast), and codebooks over the footer budget record only the
    fingerprint — configless reads refuse, explicit books still
    work (the recorded_centroids over-budget contract)."""

    def test_refine_nonbroadcast_identical_and_no_qv_broadcast(
        self, spark, tmp_path
    ):
        import contextlib
        import io

        from mydatasyncer_spark.operators.similarity import (
            pq_index,
            pq_topk_indexed,
        )

        corpus = TestProductQuantization._corpus(spark)
        queries = corpus.filter("vec_id % 7 = 0")
        idx = pq_index(corpus, 8, m=4, ksub=4, n_centroids=4)
        path = str(tmp_path / "pq")
        idx.write.partitionBy("bucket").parquet(path)
        stored = spark.read.parquet(path)
        kw = dict(k=3, n_centroids=4, refine=5, corpus=corpus)
        bc = pq_topk_indexed(queries, stored, 8, **kw)
        nb = pq_topk_indexed(
            queries, stored, 8, broadcast_queries=False, **kw
        )
        assert bc.exceptAll(nb).count() == 0
        assert nb.exceptAll(bc).count() == 0
        # the non-broadcast plan must not carry a broadcast HINT on
        # the query side of the re-rank (Spark may still CHOOSE a
        # broadcast at fixture sizes — the hint is what breaks at
        # corpus scale, so pin the logical plan, not the physical)
        logical = nb._jdf.queryExecution().logical().toString()
        assert "UnresolvedHint" not in logical
        assert logical.count("ResolvedHint") == 0, logical

    def test_over_budget_books_fingerprint_only(self, spark):
        import pytest as _pytest

        from mydatasyncer_spark.operators.similarity import (
            _IVF_CENS_MAX_NUMBERS,
            pq_adc_topk,
            pq_codebook_values,
            pq_encode,
            recorded_codebooks,
        )

        # dim 64 x ksub 512 = 32768 numbers > the 16384 budget
        dim, m, ksub = 64, 8, 512
        assert dim * ksub > _IVF_CENS_MAX_NUMBERS
        books = pq_codebook_values(dim, m, ksub)
        corpus = spark.createDataFrame(
            [
                (i, [((i * 7 + j) % 13) / 13.0 for j in range(dim)])
                for i in range(1, 8)
            ],
            "vec_id long, embedding array<double>",
        )
        enc = pq_encode(corpus, dim, books=books, m=m, ksub=ksub)
        # values NOT recorded; configless probe refuses
        assert recorded_codebooks(enc) is None
        with _pytest.raises(ValueError, match="records no codebooks"):
            pq_adc_topk(corpus, enc, dim, k=2)
        # explicit books still work (fingerprint guards them)
        got = pq_adc_topk(corpus, enc, dim, k=2, books=books)
        assert got.count() > 0
        # and WRONG explicit books are refused via the fingerprint
        other = pq_codebook_values(dim, m, 16)
        with _pytest.raises(ValueError, match="DIFFERENT codebooks"):
            pq_adc_topk(corpus, enc, dim, k=2, books=other)

    def test_dim_books_mismatch_refused_driver_side(self, spark):
        """r11 review fix: a dim that doesn't equal m*dsub of the
        books refuses at plan time — F.slice on a mismatched vector
        would otherwise yield degenerate codes silently."""
        import pytest as _pytest

        from mydatasyncer_spark.operators.similarity import (
            pq_adc_topk,
            pq_codebook_values,
            pq_encode,
            pq_index,
        )

        corpus = TestProductQuantization._corpus(spark)
        books8 = pq_codebook_values(8, m=4, ksub=4)
        with _pytest.raises(ValueError, match="m\\*dsub"):
            pq_encode(corpus, 16, books=books8)
        with _pytest.raises(ValueError, match="m\\*dsub"):
            pq_index(corpus, 16, books=books8, n_centroids=4)
        enc = pq_encode(corpus, 8, books=books8, m=4, ksub=4)
        with _pytest.raises(ValueError, match="m\\*dsub"):
            pq_adc_topk(corpus, enc, 16, k=2, books=books8)

    def test_wrong_length_vector_fails_fast_row_level(self, spark):
        """A corpus row whose vector length doesn't match the books
        raises at execution instead of null-padding into degenerate
        codes (the zip_with hazard)."""
        import pytest as _pytest

        from mydatasyncer_spark.operators.similarity import (
            pq_codebook_values,
            pq_encode,
        )

        bad = spark.createDataFrame(
            [(1, [0.1] * 8), (2, [0.2] * 6)],
            "vec_id long, embedding array<double>",
        )
        books = pq_codebook_values(8, m=4, ksub=4)
        enc = pq_encode(bad, 8, books=books, m=4, ksub=4)
        with _pytest.raises(Exception, match="vector length"):
            enc.collect()


class TestResidualPq:
    # full-suite-only (pytest.ini fast gate); run with -m slow
    pytestmark = pytest.mark.slow
    """r11: the full IVFADC construction (Jégou et al. 2011, §IV) —
    codes quantize vec − centroid[bucket] instead of the raw vector.
    The coarse quantizer already encodes cluster position, so the
    same ksub codes spend their resolution on what the bucket does
    NOT encode: better ADC ranking at the identical byte budget.
    Pinned: the estimator identity (score == cosine against
    centroid + reconstruction), a strict recall win over raw
    encoding on clustered data, flag provenance through parquet /
    stream restart / rebuild, and raw/residual estimator mixing
    refused."""

    DIM, M, KSUB = 8, 4, 4

    def _clustered(self, spark, per=16, noise=0.08):
        """4 well-separated cluster centers + deterministic small
        noise — the geometry where residual encoding shines."""
        import random

        rng = random.Random(17)
        centers = [
            [3.0 if j // 2 == c else 0.0 for j in range(self.DIM)]
            for c in range(4)
        ]
        rows = []
        for c, center in enumerate(centers):
            for i in range(per):
                rows.append(
                    (
                        c * 100 + i,
                        [
                            x + rng.uniform(-noise, noise)
                            for x in center
                        ],
                    )
                )
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        return corpus, centers

    def test_estimator_identity_centroid_plus_reconstruction(
        self, spark
    ):
        from mydatasyncer_spark.operators.similarity import (
            ivf_residuals,
            pq_codebook_values,
            pq_index,
            pq_topk_indexed,
        )

        corpus, centers = self._clustered(spark)
        books = pq_codebook_values(self.DIM, self.M, self.KSUB)
        idx = pq_index(
            corpus,
            self.DIM,
            m=self.M,
            ksub=self.KSUB,
            centroids=centers,
            books=books,
            residual=True,
        )
        got = {
            (r["query_id"], r["neighbor_id"]): r["adc_cosine"]
            for r in pq_topk_indexed(
                corpus.filter("vec_id % 50 = 0"),
                idx,
                self.DIM,
                k=3,
                centroids=centers,
            ).collect()
        }
        assert got
        # hand-reconstruct: score must equal cosine(q, centroid_b +
        # book reconstruction of the residual codes)
        import math

        rows = {
            r["neighbor_id"]: (list(r["codes"]), r["cn"], r["bucket"])
            for r in idx.collect()
        }
        qvecs = {
            r["vec_id"]: list(r["embedding"])
            for r in corpus.filter("vec_id % 50 = 0").collect()
        }
        dsub = self.DIM // self.M
        for (qid, nid), score in got.items():
            codes, cn, bucket = rows[nid]
            recon = list(centers[bucket - 1])
            for j, code in enumerate(codes):
                for i, x in enumerate(books[j][code - 1]):
                    recon[j * dsub + i] += x
            q = qvecs[qid]
            qn = math.sqrt(sum(x * x for x in q))
            want = sum(a * b for a, b in zip(q, recon)) / (qn * cn)
            assert score == pytest.approx(want, abs=2e-5), (qid, nid)

    def test_residual_estimator_is_strictly_more_accurate(self, spark):
        """The published claim, measured on its own terms: ADC
        ranking quality degrades monotonically with the estimator's
        error against the true cosine (Jégou et al. 2011, §4), so the
        pin is mean |adc_cosine − cosine| over every (query,
        in-bucket candidate) pair — books trained per construction
        (raw books on raw vectors, residual books on ivf_residuals
        output), identical byte budget. Residual must cut the error
        by a real margin (>20% on this seeded geometry; measured
        ~30%). Top-k-overlap would be the wrong instrument here:
        within a tight cluster the true cosines are near-tied, so
        overlap is dominated by deterministic tie-breaking, not
        estimator quality."""
        import math

        from mydatasyncer_spark.operators.similarity import (
            ivf_residuals,
            pq_index,
            pq_topk_indexed,
            pq_train,
        )

        corpus, centers = self._clustered(spark, noise=0.8)
        queries = corpus.filter("vec_id % 10 = 3")
        qv = {r["vec_id"]: r["embedding"] for r in queries.collect()}
        cv = {r["vec_id"]: r["embedding"] for r in corpus.collect()}

        def cos(a, b):
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return sum(x * y for x, y in zip(a, b)) / (na * nb)

        def mae(residual: bool) -> float:
            train = (
                ivf_residuals(corpus, centers) if residual else corpus
            )
            books = pq_train(
                train, self.DIM, m=self.M, ksub=self.KSUB, n_iter=4
            )
            idx = pq_index(
                corpus,
                self.DIM,
                m=self.M,
                ksub=self.KSUB,
                centroids=centers,
                books=books,
                residual=residual,
            )
            got = pq_topk_indexed(
                queries, idx, self.DIM, k=10**6, centroids=centers
            ).collect()
            errs = [
                abs(
                    r["adc_cosine"]
                    - cos(qv[r["query_id"]], cv[r["neighbor_id"]])
                )
                for r in got
            ]
            return sum(errs) / len(errs)

        e_raw, e_res = mae(False), mae(True)
        assert e_res < 0.8 * e_raw, (e_res, e_raw)

    def test_flag_rides_parquet_and_raw_absence_means_raw(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.similarity import (
            pq_index,
            pq_topk_indexed,
            recorded_pq_residual,
        )

        corpus, centers = self._clustered(spark)
        path = str(tmp_path / "pqres")
        pq_index(
            corpus,
            self.DIM,
            m=self.M,
            ksub=self.KSUB,
            centroids=centers,
            residual=True,
        ).write.partitionBy("bucket").parquet(path)
        stored = spark.read.parquet(path)
        assert recorded_pq_residual(stored) is True
        # probe configless: identical to probing the in-memory frame
        q = corpus.filter("vec_id % 25 = 1")
        mem = pq_index(
            corpus,
            self.DIM,
            m=self.M,
            ksub=self.KSUB,
            centroids=centers,
            residual=True,
        )
        a = sorted(
            map(tuple, pq_topk_indexed(q, stored, self.DIM, k=3).collect())
        )
        b = sorted(
            map(tuple, pq_topk_indexed(q, mem, self.DIM, k=3).collect())
        )
        assert a == b
        # a raw store (no flag) keeps its r10 meaning
        raw = pq_index(
            corpus, self.DIM, m=self.M, ksub=self.KSUB, centroids=centers
        )
        assert recorded_pq_residual(raw) is False

    def test_rebuild_preserves_residual_construction(
        self, spark, tmp_path
    ):
        from mydatasyncer_spark.operators.maintenance import (
            pq_drift_report,
            pq_rebuild,
        )
        from mydatasyncer_spark.operators.similarity import (
            pq_index,
            pq_topk_indexed,
            recorded_pq_residual,
        )

        corpus, centers = self._clustered(spark)
        path = str(tmp_path / "pqres")
        pq_index(
            corpus,
            self.DIM,
            m=self.M,
            ksub=self.KSUB,
            centroids=centers,
            residual=True,
        ).write.partitionBy("bucket").parquet(path)
        rep = pq_drift_report(
            spark, path, corpus, self.DIM, n_iter=3
        )
        assert rep["mse_frozen"] > 0
        stats = pq_rebuild(
            spark, path, corpus, self.DIM,
            books=rep["books_retrained"],
        )
        assert stats["rows"] == corpus.count()
        rebuilt = spark.read.parquet(path)
        assert recorded_pq_residual(rebuilt) is True
        # the retrained-on-residuals store still answers probes
        got = pq_topk_indexed(
            corpus.filter("vec_id % 25 = 1"), rebuilt, self.DIM, k=3
        )
        assert got.count() > 0
        # post-rebuild drift fixpoint under the retrained books
        rep2 = pq_drift_report(spark, path, corpus, self.DIM, n_iter=3)
        assert rep2["mse_ratio"] < 1.15

    def test_refine_recovers_exactness_on_residual_store(self, spark):
        """The refine invariant holds regardless of construction:
        with R covering the probed-bucket population, the re-rank
        reads TRUE vectors, so a residual store's refined top-k is
        exactly ivf_topk's — encoding error cannot leak through."""
        from mydatasyncer_spark.operators.similarity import (
            ivf_topk,
            pq_index,
            pq_topk_indexed,
        )

        corpus, centers = self._clustered(spark, noise=0.8)
        queries = corpus.filter("vec_id % 10 = 3")
        idx = pq_index(
            corpus,
            self.DIM,
            m=self.M,
            ksub=self.KSUB,
            centroids=centers,
            residual=True,
        )
        got = sorted(
            map(
                tuple,
                pq_topk_indexed(
                    queries,
                    idx,
                    self.DIM,
                    k=3,
                    centroids=centers,
                    refine=10**6,
                    corpus=corpus,
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                ivf_topk(
                    queries, corpus, self.DIM, k=3, centroids=centers
                ).collect(),
            )
        )
        assert got == want

    def test_flat_adc_refuses_residual_store(self, spark):
        """r11 review fix: pq_adc_topk's flat estimator is missing
        the per-bucket centroid term, so a residual store must be
        REFUSED, not silently mis-ranked across buckets."""
        import pytest as _pytest

        from mydatasyncer_spark.operators.similarity import (
            pq_adc_topk,
            pq_index,
        )

        corpus, centers = self._clustered(spark)
        idx = pq_index(
            corpus,
            self.DIM,
            m=self.M,
            ksub=self.KSUB,
            centroids=centers,
            residual=True,
        )
        with _pytest.raises(ValueError, match="quantize residuals"):
            pq_adc_topk(corpus, idx, self.DIM, k=2)

    def test_ivf_residuals_guards_short_vectors(self, spark):
        """r11 review fix: zip_with null-pads a short vector to the
        centroid length, which would slip past the downstream
        codes-side size check — the residual helper guards the RAW
        length itself (this is the frame pq_drift_report and
        pq_rebuild train on)."""
        import pytest as _pytest

        from mydatasyncer_spark.operators.similarity import (
            ivf_residuals,
        )

        _, centers = self._clustered(spark)
        bad = spark.createDataFrame(
            [(1, [0.1] * self.DIM), (2, [0.2] * (self.DIM - 2))],
            "vec_id long, embedding array<double>",
        )
        with _pytest.raises(Exception, match="vector length"):
            ivf_residuals(bad, centers).collect()
