"""Operator-level tests: dedup / similarity / text / multimodal /
streaming (beyond-parity ops, BASELINE.json north star)."""

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


class TestDedup:
    def test_exact_dedup_finds_injected_dups(self, spark, docs):
        from easydb_server_spark.operators.dedup import exact_dedup

        d = docs.select("doc_id", "text")
        dup = d.limit(5).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        out = exact_dedup(d.unionAll(dup), "text", "doc_id")
        assert out.where(F.col("n_copies") == 2).count() == 5
        # keeper is always the lowest id (the original)
        assert out.agg(F.max("keep_id")).first()[0] < 100000

    def test_minhash_pairs_precision(self, spark, docs):
        from easydb_server_spark.operators.dedup import minhash_pairs

        d = docs.select("doc_id", "text").limit(60)
        dup = d.limit(8).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        pairs = minhash_pairs(d.unionAll(dup), "text", "doc_id", threshold=0.9).collect()
        found = {(r.doc_a, r.doc_b) for r in pairs}
        expected = {(r.doc_id, r.doc_id + 100000) for r in d.limit(8).collect()}
        assert expected <= found  # all true dups found (identical text → jaccard 1.0)
        assert all(r.jaccard >= 0.9 for r in pairs)

    def test_simhash_identical_docs_same_signature(self, spark, docs):
        from easydb_server_spark.operators.dedup import simhash_signatures

        d = docs.select("doc_id", "text").limit(10)
        dup = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        sig = simhash_signatures(d.unionAll(dup), "text", "doc_id").collect()
        by_id = {r.doc_id: r.simhash for r in sig}
        for r in d.collect():
            assert by_id[r.doc_id] == by_id[r.doc_id + 100000]

    def test_simhash_pairs_finds_exact_dups_with_zero_hamming(self, spark, docs):
        from easydb_server_spark.operators.dedup import simhash_pairs

        d = docs.select("doc_id", "text").limit(30)
        dup = d.limit(6).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        pairs = simhash_pairs(d.unionAll(dup), "text", "doc_id", bits=32, max_hamming=0)
        exact = {(r.doc_a, r.doc_b) for r in pairs.collect() if r.doc_b - r.doc_a == 100000}
        expected = {(r.doc_id, r.doc_id + 100000) for r in d.limit(6).collect()}
        assert expected <= exact  # identical text → identical signature → hamming 0

    def test_simhash_pairs_rejects_bad_band_config(self, spark, docs):
        from easydb_server_spark.operators.dedup import simhash_pairs

        with pytest.raises(ValueError, match="pigeonhole"):
            simhash_pairs(docs.limit(5), "text", "doc_id", bands=4, max_hamming=4)

    def test_ngram_jaccard_self_similarity(self, spark, docs):
        from easydb_server_spark.operators.dedup import ngram_jaccard_pairs

        d = docs.select("doc_id", "text").limit(20)
        dup = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        pairs = ngram_jaccard_pairs(d.unionAll(dup), "text", "doc_id", threshold=0.999)
        exact = pairs.where(F.col("doc_b") - F.col("doc_a") == 100000)
        assert exact.count() == 20
        assert exact.agg(F.min("jaccard")).first()[0] == 1.0

    def test_ngram_jaccard_max_doc_freq_caps_hot_shingles(self, spark):
        """A shingle shared by every doc (stopword-ish) must not expand
        into O(df²) pairs when the cap is set — the posting is dropped
        before pair generation."""
        from easydb_server_spark.operators.dedup import ngram_jaccard_pairs

        rows = [(i, f"common hot shingle unique{i} tail{i} end{i}") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.01)
        capped = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.01, max_doc_freq=10)
        assert uncapped.count() == 30 * 29 // 2  # the hot shingle pairs everything
        assert capped.count() == 0  # hot posting dropped pre-expansion

    def test_embedding_neardup_symmetric_bounds(self, spark, embeddings):
        from easydb_server_spark.operators.dedup import embedding_neardup_pairs

        out = embedding_neardup_pairs(embeddings.limit(100), "embedding", "vec_id", threshold=-1.0)
        rows = out.collect()
        assert all(-1.0 <= r.cosine <= 1.0 for r in rows)
        assert all(r.id_a < r.id_b for r in rows)
        assert len(rows) == 100 * 99 // 2


class TestSimilarity:
    def test_bruteforce_topk_shape_and_order(self, spark, embeddings):
        from easydb_server_spark.operators.similarity import topk_cosine_bruteforce

        q = embeddings.where(F.col("vec_id") < 3)
        out = topk_cosine_bruteforce(embeddings, q, "embedding", "vec_id", k=4).collect()
        assert len(out) == 12
        for qid in (0, 1, 2):
            ranks = sorted(r.rank for r in out if r.qid == qid)
            assert ranks == [1, 2, 3, 4]
            cs = [r.cosine for r in sorted((r for r in out if r.qid == qid), key=lambda r: r.rank)]
            assert cs == sorted(cs, reverse=True)

    def test_lsh_finds_true_near_duplicates(self, spark, embeddings):
        """LSH recall is only meaningful when near neighbors exist
        (random 64-dim vectors top out at cosine ≈0.25, where sign-LSH
        collision probability is legitimately ~1%). Inject exact-copy
        queries: same vector → same bucket → top-1 must be the source."""
        from easydb_server_spark.operators.similarity import topk_cosine_lsh

        q = embeddings.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
        )
        lsh = topk_cosine_lsh(embeddings, q, "embedding", "vec_id", k=1).collect()
        assert len(lsh) == 10
        for r in lsh:
            assert r.cid == r.qid - 10000
            assert r.cosine == 1.0


    def test_lsh_neardup_pairs_find_injected_copies(self, spark, embeddings):
        """Exact vector copies hash to the same bucket, so the LSH
        pairs operator recalls 100% of them at cosine 1.0 — and every
        reported pair respects the threshold and a<b ordering."""
        from easydb_server_spark.operators.similarity import neardup_pairs_lsh

        dup = embeddings.where(F.col("vec_id") < 8).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        corpus = embeddings.select("vec_id", "embedding").unionAll(dup)
        rows = neardup_pairs_lsh(corpus, "embedding", "vec_id", threshold=0.9).collect()
        found = {(r.id_a, r.id_b) for r in rows}
        assert {(i, i + 100000) for i in range(8)} <= found
        assert all(r.cosine >= 0.9 and r.id_a < r.id_b for r in rows)

    def test_multiprobe_neardup_pairs_raise_recall_without_duplicates(self, spark, embeddings):
        """Symmetric multi-probe on the pairs operator must recover
        strictly more injected ε-perturbed near-dup pairs than
        single-probe, report each pair exactly once, and remain a
        superset of the single-probe result."""
        from easydb_server_spark.operators.similarity import neardup_pairs_lsh

        eps = 0.05
        dup = embeddings.where(F.col("vec_id") < 40).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x.cast("double")
                + eps * F.sin(i.cast("double") + F.col("vec_id").cast("double")),
            ).alias("embedding"),
        )
        corpus = embeddings.select("vec_id", "embedding").unionAll(dup)
        truth = {(i, i + 100000) for i in range(40)}

        def found(p):
            rows = neardup_pairs_lsh(corpus, "embedding", "vec_id", threshold=0.9, probes=p).collect()
            pairs = [(r.id_a, r.id_b) for r in rows]
            assert len(pairs) == len(set(pairs)), "duplicate pair reported"
            assert all(a < b for a, b in pairs)
            return set(pairs)

        f0, f2 = found(0), found(2)
        assert f0 & truth < f2 & truth  # probing recovers strictly more true pairs
        assert f0 <= f2  # probing only adds candidates

    def test_ivf_kmeans_recall_beats_first_n_centroids(self, spark, embeddings):
        """The seeded-sample + Lloyd-iteration centroids must recall at
        least as well as the old first-N-ids strategy, measured against
        brute-force truth on queries disjoint from every centroid seed
        (queries that coincide with seeds trivially recall their own
        cell and would bias the comparison)."""
        from easydb_server_spark.operators.similarity import (
            _as_double,
            ivf_centroids,
            topk_cosine_bruteforce,
            topk_cosine_ivf,
        )

        seed_ids = {r.cell for r in ivf_centroids(embeddings, "embedding", "vec_id", 16, 0).collect()}
        q = embeddings.where((F.col("vec_id") >= 20) & (F.col("vec_id") < 60)).where(
            ~F.col("vec_id").isin(*seed_ids)
        )
        truth = {
            (r.qid, r.cid)
            for r in topk_cosine_bruteforce(embeddings, q, "embedding", "vec_id", k=5).collect()
        }
        legacy_cents = (
            embeddings.orderBy("vec_id")
            .limit(16)
            .select(F.col("vec_id").alias("cell"), _as_double(F.col("embedding")).alias("centroid"))
        )

        def recall(res):
            got = {(r.qid, r.cid) for r in res.collect()}
            return len(got & truth) / len(truth)

        r_first = recall(topk_cosine_ivf(embeddings, q, "embedding", "vec_id", k=5, centroids=legacy_cents))
        r_kmeans = recall(topk_cosine_ivf(embeddings, q, "embedding", "vec_id", k=5, n_iters=1))
        assert r_kmeans >= r_first  # 0.379 vs 0.241 on this corpus

    def test_ivf_centroids_deterministic_and_balanced(self, spark, embeddings):
        from easydb_server_spark.operators.similarity import _as_double, _assign_cells, ivf_centroids

        c1 = {r.cell: list(r.centroid) for r in ivf_centroids(embeddings, "embedding", "vec_id", 16, 1).collect()}
        c2 = {r.cell: list(r.centroid) for r in ivf_centroids(embeddings, "embedding", "vec_id", 16, 1).collect()}
        assert c1 == c2  # bit-for-bit reproducible (oracle contract)
        vecs = embeddings.select(
            F.col("vec_id").alias("cid"), _as_double(F.col("embedding")).alias("cvec")
        )
        cents = ivf_centroids(embeddings, "embedding", "vec_id", 16, 1)
        sizes = [r.n for r in _assign_cells(vecs, cents).groupBy("cell").agg(F.count("*").alias("n")).collect()]
        assert len(sizes) == 16
        assert max(sizes) <= 4 * min(sizes)  # no degenerate mega-cell

    def test_multiprobe_lsh_recall(self, spark, embeddings):
        """Multi-probe is the recall dial: probing the query's bucket
        plus the p smallest-margin bit-flip buckets must raise top-1
        recall of true near-duplicates substantially over single-probe,
        monotonically in p. Queries are deterministic ε-perturbations
        of corpus vectors (cosine ≈ 0.96 at ε=0.05 on the unit-norm
        fixtures) — on the raw corpus recall is meaningless because
        random 64-dim neighbors are near-orthogonal (see
        test_lsh_finds_true_near_duplicates)."""
        from easydb_server_spark.operators.similarity import topk_cosine_lsh

        eps = 0.05
        q = embeddings.where(F.col("vec_id") < 40).select(
            (F.col("vec_id") + 50000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x.cast("double")
                + eps * F.sin(i.cast("double") + F.col("vec_id").cast("double")),
            ).alias("embedding"),
        )

        def top1_recall(p):
            got = {
                r.qid: r.cid
                for r in topk_cosine_lsh(
                    embeddings, q, "embedding", "vec_id", k=1, probes=p
                ).collect()
            }
            return sum(1 for qid, cid in got.items() if cid == qid - 50000) / 40

        r0, r2, r3 = top1_recall(0), top1_recall(2), top1_recall(3)
        assert r0 <= r2 <= r3  # monotone in probes
        assert r2 >= 0.75  # measured 0.85 (sf0.001) / 0.90 (sf0.01)
        assert r2 - r0 >= 0.2  # probing must buy real recall, not noise

    def test_label_outliers_approx_matches_exact_within_sketch_error(self, spark, embeddings):
        """The exact=False path (percentile_approx cosine threshold per
        label, no per-label sort) must reproduce the exact outlier set
        up to sketch rank error and threshold ties."""
        from easydb_server_spark.operators.similarity import label_outliers

        kw = dict(bottom_frac=0.1)
        exact = {
            r.vec_id
            for r in label_outliers(embeddings, "embedding", "label", "vec_id", **kw).collect()
            if r.outlier
        }
        approx_rows = label_outliers(
            embeddings, "embedding", "label", "vec_id", exact=False, **kw
        ).collect()
        approx = {r.vec_id for r in approx_rows if r.outlier}
        n = len(approx_rows)
        sym = len(exact ^ approx)
        assert sym <= max(2, 0.02 * n), f"{sym} of {n} vectors diverge between exact and approx"
        thr = {r.label: r.c_thr for r in approx_rows}
        cosv = {r.vec_id: (r.label, r.cos_centroid) for r in approx_rows}
        for v in exact ^ approx:
            label, c = cosv[v]
            assert c == thr[label], f"vec {v} diverges away from the threshold"

    def test_label_outliers_zero_norm_vector_pins_to_zero(self, spark):
        """An all-zero embedding must score cos_centroid = 0.0 (defined
        value on both engines), never NULL — NULLs would sort last in
        the ascending rank and make the degenerate vector look MOST
        central instead of being rankable."""
        from easydb_server_spark.operators.similarity import label_outliers

        rows = [(0, "a", [1.0, 0.0]), (1, "a", [0.9, 0.1]), (2, "a", [0.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id int, label string, embedding array<double>")
        out = {r.vec_id: r for r in label_outliers(df, "embedding", "label", "vec_id", 0.34).collect()}
        assert out[2].cos_centroid == 0.0
        assert out[2].rank_in_label == 1 and out[2].outlier


class TestText:
    def test_langid_on_real_multilingual_text(self, spark):
        """The testdata docs all share one English-ish vocabulary (the
        lang column is a random label), so accuracy there is
        meaningless — assert on genuinely multilingual samples."""
        from easydb_server_spark.operators.text import language_id

        df = spark.createDataFrame(
            [
                (1, "the cat is on the mat and the dog is here", "en"),
                (2, "der hund und die katze ist ein tier", "de"),
                (3, "el perro y la casa es de madera que", "es"),
                (4, "le chien et les chats est des animaux", "fr"),
                (5, "这 是 的 猫 和 狗 在 一起 有", "zh"),
            ],
            "doc_id long, text string, lang string",
        )
        pred = {r.doc_id: r.pred_lang for r in language_id(df, "text", "doc_id").collect()}
        truth = {r.doc_id: r.lang for r in df.collect()}
        assert pred == truth

    def test_langid_runs_on_documents(self, spark, docs):
        from easydb_server_spark.operators.text import language_id

        out = language_id(docs.limit(50), "text", "doc_id")
        langs = {r.pred_lang for r in out.collect()}
        assert langs <= set("en de es fr zh unknown".split())

    def test_quality_monotone_in_stopwords(self, spark):
        from easydb_server_spark.operators.text import quality_score

        df = spark.createDataFrame(
            [(1, "the cat and the dog is on a mat"), (2, "!!! ??? *** !!!")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in quality_score(df, "text", "doc_id").collect()}
        assert rows[1].quality > rows[2].quality
        assert rows[2].n_punct > 0

    def test_token_counts(self, spark):
        from easydb_server_spark.operators.text import token_counts

        df = spark.createDataFrame([(1, "aa bb aa cc-12")], "doc_id long, text string")
        r = token_counts(df, "text", "doc_id").first()
        assert r.ws_tokens == 4
        assert r.distinct_tokens == 3
        assert r.bpe_tokens == 6  # aa bb aa cc - 12

    def test_normalize_canonicalizes_case_punct_whitespace(self, spark):
        from easydb_server_spark.operators.text import normalize_text

        df = spark.createDataFrame(
            [(1, "Hello,   WORLD! 42"), (2, "hello world 42")], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in normalize_text(df, "text", "doc_id").collect()}
        assert rows[1].norm_text == "hello world 42"
        assert rows[1].norm_hash == rows[2].norm_hash  # canonical forms collide

    def test_redact_pii_masks_and_counts(self, spark):
        from easydb_server_spark.operators.text import redact_pii

        df = spark.createDataFrame(
            [(1, "mail a.b+c@test.org or root@10.1.2.3 call (555) 010-0199 now")],
            "doc_id long, text string",
        )
        r = redact_pii(df, "text", "doc_id").first()
        assert "<EMAIL>" in r.redacted and "<IP>" in r.redacted and "<PHONE>" in r.redacted
        assert "test.org" not in r.redacted and "10.1.2.3" not in r.redacted
        assert (r.n_emails, r.n_ips, r.n_phones) == (1, 1, 1)

    def test_vocabulary_topk_and_doc_freq(self, spark):
        from easydb_server_spark.operators.text import vocabulary

        df = spark.createDataFrame(
            [(1, "a a b"), (2, "a c"), (3, "b  b")], "doc_id long, text string"
        )
        rows = vocabulary(df, "text", top_k=2).collect()
        assert [(r.term, r.n_total, r.n_docs) for r in rows] == [("a", 3, 2), ("b", 3, 2)]

    def test_weighted_mixture_deterministic_and_rate_monotone(self, spark, docs):
        from easydb_server_spark.operators.text import weighted_mixture

        d = docs.select("doc_id", "source")
        full = weighted_mixture(d, "doc_id", "source", {}, default_rate=1.0)
        assert full.count() == d.count()  # rate 1.0 keeps everything
        half = weighted_mixture(d, "doc_id", "source", {}, default_rate=0.5)
        tenth = weighted_mixture(d, "doc_id", "source", {}, default_rate=0.1)
        kept_half = {r.doc_id for r in half.collect()}
        kept_tenth = {r.doc_id for r in tenth.collect()}
        assert kept_tenth <= kept_half  # lowering a rate only removes rows
        assert kept_half == {r.doc_id for r in half.collect()}  # stable re-run
        none = weighted_mixture(d, "doc_id", "source", {}, default_rate=0.0)
        assert none.count() == 0

    def test_fingerprint_stable_under_duplication(self, spark, docs):
        from easydb_server_spark.operators.text import fingerprint

        d = docs.select("doc_id", "text").limit(5)
        f1 = {r.doc_id: (r.fp_min, r.fp_max) for r in fingerprint(d, "text", "doc_id").collect()}
        f2 = {r.doc_id: (r.fp_min, r.fp_max) for r in fingerprint(d, "text", "doc_id").collect()}
        assert f1 == f2

    def test_decontaminate_drops_shingle_overlap_keeps_clean(self, spark):
        from easydb_server_spark.operators.text import decontaminate

        bench = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            [
                (1, "prefix alpha beta gamma suffix"),  # shares 3-shingle "alpha beta gamma"
                (2, "totally unrelated training sentence here"),
                (3, "gamma delta epsilon appears again today"),  # shares "gamma delta epsilon"
            ],
            "doc_id long, text string",
        )
        kept = {r.doc_id for r in decontaminate(train, bench, "text", "doc_id").collect()}
        assert kept == {2}

    def test_decontaminate_noop_without_overlap(self, spark, docs):
        from easydb_server_spark.operators.text import decontaminate

        train = docs.select("doc_id", "text").limit(20)
        bench = spark.createDataFrame(
            [(999, "zz qq xx ww vv uu tt")], "doc_id long, text string"
        )
        assert decontaminate(train, bench, "text", "doc_id").count() == 20

    def test_length_histogram_bit_length_buckets(self, spark):
        from easydb_server_spark.operators.text import length_histogram

        df = spark.createDataFrame(
            [("a", 0), ("a", 1), ("a", 2), ("a", 3), ("a", 4), ("a", 7), ("a", 8)],
            "grp string, n long",
        )
        rows = {r.bucket: r for r in length_histogram(df, "n", "grp").collect()}
        assert rows[0].n_docs == 1  # n=0
        assert rows[1].n_docs == 1  # n=1 (1 bit)
        assert rows[2].n_docs == 2  # n=2,3 (2 bits)
        assert rows[3].n_docs == 2 and rows[3].min_len == 4 and rows[3].max_len == 7
        assert rows[4].n_docs == 1  # n=8 (4 bits)

    def test_ngram_topk_counts_and_rank(self, spark):
        from easydb_server_spark.operators.text import ngram_topk

        df = spark.createDataFrame(
            [("g", "a b a b a b"), ("g", "c d")], "grp string, text string"
        )
        rows = ngram_topk(df, "text", "grp", n=2, k=2).orderBy("rank").collect()
        assert rows[0].ngram == "a b" and rows[0].n == 3 and rows[0].rank == 1
        assert len(rows) == 2  # k cap honored


class TestRepetition:
    def test_repetition_metrics_hand_checked(self, spark):
        """Hand-computable fixtures: a clean doc, a doc that is one
        phrase repeated, and the 1-word edge — the sliding-window
        construction (mirroring ngram_topk/shingle semantics) yields
        one degenerate 1-word gram there, so top_bigram_frac is 1.0
        and the doc fails the gate: degenerate docs are exactly what a
        repetition filter should drop."""
        from easydb_server_spark.operators.text import repetition_metrics

        df = spark.createDataFrame(
            [
                (1, "a b c d e f"),  # all distinct: dup 0, top bigram 1/5
                (2, "spam ham spam ham spam ham"),  # 4/6 dup; "spam ham" 3/5
                (3, "solo"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in repetition_metrics(
                df, "text", "doc_id", max_dup_word_frac=0.5, max_top_bigram_frac=0.5
            ).collect()
        }
        assert rows[1].dup_word_frac == 0.0
        assert rows[1].top_bigram_frac == 0.2 and rows[1].keep
        assert rows[2].dup_word_frac == round(4 / 6, 6)
        assert rows[2].top_bigram_n == 3 and rows[2].top_bigram_frac == 0.6
        assert not rows[2].keep
        assert rows[3].n_words == 1 and rows[3].dup_word_frac == 0.0
        assert rows[3].top_bigram_frac == 1.0 and not rows[3].keep


class TestCorpusShuffle:
    def test_deterministic_and_seed_sensitive(self, spark):
        """The shuffled order must be a pure function of (seed, id):
        identical across input partitionings, different under a new
        seed, with per-shard positions dense from 1."""
        from easydb_server_spark.operators.text import corpus_shuffle

        df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
        a = {(r.doc_id, r.shard, r.pos) for r in corpus_shuffle(df, "doc_id").collect()}
        b = {
            (r.doc_id, r.shard, r.pos)
            for r in corpus_shuffle(df.repartition(7), "doc_id").collect()
        }
        assert a == b  # partitioning/input order cannot change the result
        c = {(r.doc_id, r.shard, r.pos) for r in corpus_shuffle(df, "doc_id", seed="v2").collect()}
        assert a != c  # a new seed reshuffles
        by_shard: dict[int, list[int]] = {}
        for _id, shard, pos in a:
            by_shard.setdefault(shard, []).append(pos)
        for shard, positions in by_shard.items():
            assert sorted(positions) == list(range(1, len(positions) + 1)), shard

    def test_quality_prune_keeps_exact_fraction(self, spark):
        from easydb_server_spark.operators.text import quality_prune

        df = spark.createDataFrame(
            [(i, "word " * (i + 1), "en" if i % 2 == 0 else "de") for i in range(20)],
            "doc_id long, text string, lang string",
        )
        out = quality_prune(df, "text", "doc_id", "lang", keep_frac=0.3).collect()
        kept = {}
        for r in out:
            kept.setdefault(r.grp, [0, 0])
            kept[r.grp][0] += int(r.kept)
            kept[r.grp][1] += 1
        for grp, (k, n) in kept.items():
            assert k == -(-3 * n // 10), grp  # ceil(0.3 * n)

    def test_quality_prune_approx_matches_exact_within_sketch_error(self, spark):
        """The exact=False path (percentile_approx threshold, no
        per-group sort — the corpus-sized-group plan) must reproduce
        the exact keep set up to sketch rank error and threshold ties:
        at accuracy=10k on 500 docs the sketch is exact, so the only
        legitimate divergence is ties at the threshold quality."""
        from easydb_server_spark.operators.text import quality_prune

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        kw = dict(keep_frac=0.5)
        exact = {r.doc_id for r in quality_prune(docs, "text", "doc_id", "lang", **kw).collect() if r.kept}
        approx_rows = quality_prune(docs, "text", "doc_id", "lang", exact=False, **kw).collect()
        approx = {r.doc_id for r in approx_rows if r.kept}
        n = len(approx_rows)
        sym = len(exact ^ approx)
        assert sym <= max(2, 0.02 * n), f"{sym} of {n} docs diverge between exact and approx"
        # only threshold-boundary docs may legitimately diverge
        thr = {r.grp: r.q_thr for r in approx_rows}
        qual = {r.doc_id: (r.grp, r.quality) for r in approx_rows}
        for d in exact ^ approx:
            grp, q = qual[d]
            assert q == thr[grp], f"doc {d} diverges away from the threshold"


class TestLabelCentroids:
    def test_centroid_is_elementwise_mean(self, spark):
        from easydb_server_spark.operators.similarity import label_centroids

        df = spark.createDataFrame(
            [
                ("x", [1.0, 2.0]),
                ("x", [3.0, 4.0]),
                ("y", [10.0, 20.0]),
            ],
            "label string, embedding array<double>",
        )
        rows = {r.label: r for r in label_centroids(df, "embedding", "label").collect()}
        assert rows["x"].centroid == [2.0, 3.0] and rows["x"].n_vecs == 2
        assert rows["y"].centroid == [10.0, 20.0] and rows["y"].n_vecs == 1

    def test_runs_on_embeddings_table(self, spark, embeddings):
        from easydb_server_spark.operators.similarity import label_centroids

        dim = len(embeddings.select("embedding").first()[0])
        out = label_centroids(embeddings, "embedding", "label").collect()
        assert all(len(r.centroid) == dim for r in out)
        assert sum(r.n_vecs for r in out) == embeddings.count()


class TestMultimodal:
    def test_binary_features_pipeline(self, spark, docs):
        from easydb_server_spark.operators.multimodal import binary_features, documents_as_binary

        b = documents_as_binary(docs.limit(10), "text", "doc_id")
        assert dict(b.dtypes)["payload"] == "binary"
        feats = binary_features(b, "payload", "item_id", "kind").collect()
        assert len(feats) == 10
        for r in feats:
            assert r.n_bytes > 0
            assert len(r.digest) == 32
            assert 0 <= r.width < 640 and 0 <= r.height < 480

    def test_custom_decoder_registration(self, spark):
        from easydb_server_spark.operators import multimodal as mm

        df = spark.createDataFrame([(1, bytearray(b"abc"), "image")], "item_id long, payload binary, kind string")
        mm.register_decoder("image", lambda b: {"width": 7, "height": 9})
        try:
            r = mm.binary_features(df, "payload", "item_id", "kind").first()
            assert (r.width, r.height) == (7, 9)
        finally:
            mm._DECODERS.clear()

    def test_resize_pipeline_shape(self, spark, docs):
        from easydb_server_spark.operators.multimodal import documents_as_binary, resize_images

        b = documents_as_binary(docs.limit(6), "text", "doc_id")
        out = resize_images(b, "payload", "item_id", 8, 4).collect()
        assert len(out) == 6
        for r in out:
            assert (r.width, r.height) == (8, 4)
            assert len(bytes(r.payload)) == 32

    def test_frame_sampling_fanout(self, spark, docs):
        from easydb_server_spark.operators.multimodal import documents_as_binary, sample_frames

        b = documents_as_binary(docs.limit(4), "text", "doc_id")
        out = sample_frames(b, "payload", "item_id", 5).collect()
        assert len(out) == 20  # 4 videos × 5 frames
        idxs = sorted(r.frame_idx for r in out if r.item_id == out[0].item_id)
        assert idxs == [0, 1, 2, 3, 4]

    def test_null_blob_is_the_empty_payload(self, spark):
        # a NULL blob used to raise TypeError in bytes(None) and kill
        # the stage; binary_features already reads it as b""
        from easydb_server_spark.operators.multimodal import resize_images, sample_frames

        df = spark.createDataFrame(
            [(1, bytearray(b"abcd")), (2, None)], "item_id long, payload binary"
        )
        resized = {r.item_id: bytes(r.payload) for r in resize_images(df, "payload", "item_id", 2, 2).collect()}
        assert resized == {1: b"abcd", 2: b"\x00" * 4}
        frames = sample_frames(df, "payload", "item_id", 2).collect()
        assert sorted((r.item_id, r.frame_idx) for r in frames) == [(1, 0), (1, 1), (2, 0), (2, 1)]

    def test_unknown_kind_raises(self, spark):
        from easydb_server_spark.operators.multimodal import binary_features

        df = spark.createDataFrame([(1, bytearray(b"x"), "hologram")], "item_id long, payload binary, kind string")
        with pytest.raises(Exception, match="hologram"):
            binary_features(df, "payload", "item_id", "kind").collect()


class TestSkew:
    def test_salted_join_equals_plain_join(self, spark):
        from easydb_server_spark.operators.skew import salted_join

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumnRenamed("l_suppkey", "suppkey")
        s = spark.read.parquet(f"{SF_DIR}/supplier.parquet").withColumnRenamed("s_suppkey", "suppkey")
        plain = li.join(s.select("suppkey", "s_name"), "suppkey").groupBy("s_name").count()
        salted = salted_join(li, s.select("suppkey", "s_name"), on="suppkey", n_salts=4).groupBy("s_name").count()
        assert {(r.s_name, r["count"]) for r in plain.collect()} == {
            (r.s_name, r["count"]) for r in salted.collect()
        }

    def test_salted_aggregate_equals_plain(self, spark):
        import pyspark.sql.functions as F

        from easydb_server_spark.operators.skew import salted_aggregate

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        plain = {
            (r.l_returnflag, r.n, r.mx)
            for r in li.groupBy("l_returnflag")
            .agg(F.count("*").alias("n"), F.max("l_extendedprice").alias("mx"))
            .collect()
        }
        salted = {
            (r.l_returnflag, r.n, r.mx)
            for r in salted_aggregate(
                li, "l_returnflag", {"n": "count", "mx": "max:l_extendedprice"}, n_salts=8
            ).collect()
        }
        assert plain == salted

    def test_salted_join_under_extreme_skew(self, spark):
        """10⁵:1 hot-key ratio: the salted join must stay row-identical
        to the plain join, and the salt must actually spread the hot
        key across all n_salts partitions of the shuffle key space."""
        hot = spark.range(100_000).selectExpr("1 as k", "id as payload")
        cold = spark.range(10).selectExpr("cast(id + 2 as int) as k", "id as payload")
        large = hot.unionAll(cold.selectExpr("k", "payload"))
        dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 13)], "k int, label string")

        from easydb_server_spark.operators.skew import salted_join

        out = salted_join(large.withColumn("k", F.col("k").cast("int")), dim, on="k", n_salts=8)
        assert out.count() == 100_010
        # the hot key's rows really landed on every salt value
        from easydb_server_spark.operators.skew import _salt_col

        salted = large.withColumn("_salt", _salt_col(8, 7))
        n_salts_hot = salted.where(F.col("k") == 1).select("_salt").distinct().count()
        assert n_salts_hot == 8

    def test_salted_join_spreads_byte_identical_duplicate_rows(self, spark):
        """The degenerate hot key: many byte-IDENTICAL rows. A salt
        hashed from row content sends them all to one reducer; the
        per-row rand salt must spread them — and the join must keep
        duplicate multiplicity."""
        from easydb_server_spark.operators.skew import _salt_col, salted_join

        dup = spark.range(50_000).selectExpr("1 as k", "'same-payload' as payload")
        dim = spark.createDataFrame([(1, "d1")], "k int, label string")
        salts = (
            dup.withColumn("_salt", _salt_col(8, 7))
            .select("_salt")
            .distinct()
            .count()
        )
        assert salts == 8  # identical rows spread across all salts
        out = salted_join(dup.withColumn("k", F.col("k").cast("int")), dim, on="k", n_salts=8)
        assert out.count() == 50_000  # multiplicity preserved

    def test_salted_aggregate_rejects_non_reaggregatable(self, spark):
        import pytest as _pytest

        from easydb_server_spark.operators.skew import salted_aggregate

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        with _pytest.raises(ValueError, match="unsupported agg kind"):
            salted_aggregate(li, "l_returnflag", {"a": "avg:l_quantity"})


class TestStreaming:
    def test_windowed_counts_stream_matches_batch(self, spark, tmp_path):
        import json as _json

        from easydb_server_spark.streaming import stream_events_ndjson, windowed_counts
        from easydb_server_spark.streaming.events import run_to_memory

        rows = [
            {"event_id": i, "ts": f"2024-01-01T0{i % 3}:10:00", "user_id": i % 2,
             "event_type": "click" if i % 2 else "view", "value": float(i), "props": "{}"}
            for i in range(12)
        ]
        p = tmp_path / "stream_in"
        p.mkdir()
        (p / "part1.json").write_text("\n".join(_json.dumps(r) for r in rows))
        stream = windowed_counts(stream_events_ndjson(spark, str(p)))
        run_to_memory(stream, "win_counts")
        got = spark.sql("SELECT * FROM win_counts").collect()
        assert sum(r.n for r in got) == 12
        assert {r.event_type for r in got} == {"click", "view"}


class TestAsofJoin:
    def test_matches_bruteforce_theta_join(self, spark):
        """asof_join (union+window) == the O(n*m) theta-join + row_number
        definition, on real event data."""
        from pyspark.sql import Window

        from easydb_server_spark.operators.asof import asof_join
        from easydb_server_spark.queries._util import load

        e = load(spark, SF_DIR, "events")
        p = e.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), "user_id", "ts"
        )
        q = e.where(F.col("event_type") == "view").select(
            F.col("user_id").alias("q_user"), F.col("ts").alias("q_ts"), F.col("event_id").alias("q_id")
        )
        got = asof_join(p, q.withColumnRenamed("q_user", "user_id"),
                        on="user_id", probe_ts="ts", quote_ts="q_ts", quote_cols=["q_id"])
        w = Window.partitionBy("p_id").orderBy(F.col("q_ts").desc())
        want = (
            p.join(q, (p.user_id == q.q_user) & (q.q_ts <= p.ts), "left")
            .withColumn("r", F.row_number().over(w))
            .where(F.col("r") == 1)
            .select("p_id", F.col("q_id").alias("want_q_id"))
        )
        diff = (
            got.select("p_id", "asof_q_id")
            .join(want, "p_id", "full")
            .where(
                F.coalesce(F.col("asof_q_id"), F.lit(-1)) != F.coalesce(F.col("want_q_id"), F.lit(-1))
            )
        )
        assert diff.count() == 0

    def test_tolerance_nulls_out_stale_quotes(self, spark):
        from easydb_server_spark.operators.asof import asof_join
        from easydb_server_spark.queries._util import load

        e = load(spark, SF_DIR, "events")
        p = e.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), "user_id", "ts"
        )
        q = e.where(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("q_ts"), F.col("value").alias("q_value")
        )
        loose = asof_join(p, q, on="user_id", probe_ts="ts", quote_ts="q_ts", quote_cols=["q_value"])
        tight = asof_join(
            p, q, on="user_id", probe_ts="ts", quote_ts="q_ts", quote_cols=["q_value"],
            tolerance_seconds=600,
        )
        n_loose = loose.where(F.col("asof_q_value").isNotNull()).count()
        n_tight = tight.where(F.col("asof_q_value").isNotNull()).count()
        assert 0 < n_tight < n_loose
        # every surviving tight match is within tolerance
        bad = tight.where(
            F.col("asof_ts").isNotNull()
            & (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts")) > 600 * 1_000_000)
        )
        assert bad.count() == 0


class TestRangeJoin:
    def test_matches_theta_join_and_avoids_nested_loop(self, spark):
        from easydb_server_spark.operators.rangejoin import range_join
        from easydb_server_spark.queries._util import load

        e = load(spark, SF_DIR, "events")
        iv = e.where(F.col("event_type") == "error").select(
            F.col("event_id").alias("iid"),
            F.unix_micros("ts").alias("lo"),
            (F.unix_micros("ts") + 1800 * 1_000_000).alias("hi"),
        )
        pts = e.where(F.col("event_type") == "view").select(
            F.col("event_id").alias("pid"), F.unix_micros("ts").alias("p_us")
        )
        got = range_join(pts, iv, "p_us", "lo", "hi", bucket_width=1800 * 1_000_000)
        want = pts.join(iv, (F.col("p_us") >= F.col("lo")) & (F.col("p_us") <= F.col("hi")))
        assert got.count() == want.count()
        assert got.select("pid", "iid").exceptAll(want.select("pid", "iid")).count() == 0
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    def test_negative_coordinates_bucket_correctly(self, spark):
        """floor-based bucketing: cast-to-bigint truncation would put
        -1 and +1 in the same bucket 0 and drop matches near zero on
        signed domains."""
        from easydb_server_spark.operators.rangejoin import range_join

        pts = spark.createDataFrame([(i, v) for i, v in enumerate(range(-50, 51, 7))], "pid int, x long")
        iv = spark.createDataFrame([(1, -33, -12), (2, -5, 9), (3, 14, 40)], "iid int, lo long, hi long")
        got = range_join(pts, iv, "x", "lo", "hi", bucket_width=10)
        want = pts.join(iv, (F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
        assert got.count() == want.count()
        assert got.select("pid", "iid").exceptAll(want.select("pid", "iid")).count() == 0

    def test_interval_spanning_many_buckets(self, spark):
        """Intervals much longer than the bucket width still match
        exactly (fan-out path), and each (point, interval) pair appears
        once."""
        from easydb_server_spark.operators.rangejoin import range_join

        pts = spark.createDataFrame([(i, i * 10) for i in range(100)], "pid int, x long")
        iv = spark.createDataFrame([(1, 5, 905), (2, 200, 210)], "iid int, lo long, hi long")
        got = range_join(pts, iv, "x", "lo", "hi", bucket_width=7)
        want = pts.join(iv, (F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
        assert sorted(r["pid"] for r in got.where(F.col("iid") == 2).collect()) == [20, 21]
        assert got.count() == want.count()
        assert got.groupBy("pid", "iid").count().where(F.col("count") > 1).count() == 0


class TestChunking:
    def test_chunks_cover_all_tokens_with_exact_overlap(self, spark):
        from easydb_server_spark.operators.text import chunk_documents

        text = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(
            chunk_documents(df, "text", "doc_id", chunk_size=4, overlap=2).collect(),
            key=lambda r: r.chunk_id,
        )
        # stride 2 over 10 tokens → starts 0,2,4,6; chunk [6,10) is the
        # first to reach the end, so no trailing subset chunk at 8
        assert [r.chunk_id for r in rows] == [0, 1, 2, 3]
        chunks = [r.chunk.split(" ") for r in rows]
        assert chunks[0] == ["w0", "w1", "w2", "w3"]
        assert chunks[-1] == ["w6", "w7", "w8", "w9"]  # reaches the end exactly
        for a, b in zip(chunks, chunks[1:]):
            assert a[2:] == b[: len(a[2:])]  # consecutive chunks share the overlap
        covered = {t for c in chunks for t in c}
        assert covered == {f"w{i}" for i in range(10)}
        assert all(r.n_tokens == len(r.chunk.split(" ")) for r in rows)

    def test_single_short_doc_yields_one_chunk(self, spark):
        from easydb_server_spark.operators.text import chunk_documents

        df = spark.createDataFrame([(1, "just three words")], "doc_id long, text string")
        rows = chunk_documents(df, "text", "doc_id", chunk_size=64, overlap=16).collect()
        assert len(rows) == 1 and rows[0].n_tokens == 3 and rows[0].chunk == "just three words"


class TestStratifiedSample:
    def test_sample_is_deterministic_and_seed_sensitive(self, spark):
        from easydb_server_spark.operators.text import stratified_sample

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        fr = {"en": 0.5, "de": 0.25}
        a = {r.doc_id for r in stratified_sample(docs, "doc_id", "lang", fr).collect() if r.sampled}
        b = {
            r.doc_id
            for r in stratified_sample(docs.repartition(7), "doc_id", "lang", fr).collect()
            if r.sampled
        }
        assert a == b  # partitioning/input order cannot change membership
        c = {
            r.doc_id
            for r in stratified_sample(docs, "doc_id", "lang", fr, seed="v2").collect()
            if r.sampled
        }
        assert a != c  # a new seed resamples

    def test_sampled_iff_uniform_below_group_fraction(self, spark):
        from easydb_server_spark.operators.text import stratified_sample

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        fr = {"en": 0.5, "de": 0.25, "fr": 0.1}
        for r in stratified_sample(docs, "doc_id", "lang", fr, default_frac=0.05).collect():
            frac = fr.get(r.lang, 0.05)
            assert r.sampled == (r.u < frac), (r.doc_id, r.lang, r.u)
            assert 0.0 <= r.u < 1.0


class TestSourceOverlap:
    def test_overlap_matrix_counts_and_jaccard(self, spark):
        from easydb_server_spark.operators.dedup import source_overlap

        rows = [
            (1, "alpha", "x"), (2, "beta", "x"), (3, "gamma", "x"),
            (4, "alpha", "y"), (5, "beta", "y"), (6, "delta", "y"),
            (7, "epsilon", "z"),
            (8, "alpha", "x"),  # within-source dup: distinct hashes, not doc counts
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {(r.source_a, r.source_b): r for r in source_overlap(df, "text", "doc_id", "source").collect()}
        assert set(out) == {("x", "y")}  # z shares nothing → no row
        r = out[("x", "y")]
        assert (r.n_shared, r.n_a, r.n_b) == (2, 3, 3)
        assert r.overlap_jaccard == 0.5  # 2 / (3 + 3 - 2)


class TestSourceCap:
    def test_cap_is_respected_and_deterministic(self, spark, docs):
        from easydb_server_spark.operators.text import source_cap

        d = docs.select("doc_id", "source")
        out = source_cap(d, "doc_id", "source", cap=10)
        per_src = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
        sizes = {r.source: r.n for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
        for src, n in per_src.items():
            assert n == min(10, sizes[src])
        # deterministic: same kept set on re-run and under reversed input order
        kept1 = {r.doc_id for r in out.collect()}
        kept2 = {r.doc_id for r in source_cap(d.orderBy(F.col("doc_id").desc()), "doc_id", "source", cap=10).collect()}
        assert kept1 == kept2

    def test_small_sources_pass_through_whole(self, spark):
        from easydb_server_spark.operators.text import source_cap

        d = spark.createDataFrame([(i, "only") for i in range(4)], "doc_id long, source string")
        assert source_cap(d, "doc_id", "source", cap=10).count() == 4


class TestUnigramLogprob:
    def test_common_words_score_higher_than_rare(self, spark):
        from easydb_server_spark.operators.text import unigram_logprob

        rows = [(i, "the cat sat on the mat") for i in range(20)]
        rows.append((100, "zyxw qvut plonk"))  # gibberish → OOV floor
        d = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r.mean_logprob for r in unigram_logprob(d, "text", "doc_id").collect()}
        assert out[100] < out[0]  # gibberish scores strictly below common text

    def test_oov_hits_smoothing_floor_exactly(self, spark):
        import math

        from easydb_server_spark.operators.text import unigram_logprob

        # corpus: 4 words total, vocab {a, b}; OOV prob = 1/(4+2+1)
        d = spark.createDataFrame(
            [(1, "a a b b"), (2, "zz zz")], "doc_id long, text string"
        )
        out = {r.doc_id: r.mean_logprob for r in unigram_logprob(d, "text", "doc_id", vocab_size=2).collect()}
        # counts: a=2, b=2, zz=2 — top-2 by (count desc, term asc) is
        # {a, b}, so doc 2 is all-OOV: p = 1/(N + V + 1) = 1/9
        floor = math.log10(1.0 / (6 + 2 + 1))
        assert out[2] == round(floor, 5)


class TestNgramSpans:
    def test_injected_boilerplate_span_is_flagged(self, spark):
        from easydb_server_spark.operators.dedup import duplicate_ngram_spans

        boiler = "all rights reserved see license file for details"
        rows = [
            (1, f"unique document one {boiler} something else entirely here"),
            (2, f"totally different text {boiler} and more words after that"),
            (3, "this document shares nothing with any other document at all"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        spans = duplicate_ngram_spans(d, "text", "doc_id", n=5, min_docs=2).collect()
        docs = {r.doc_id for r in spans}
        assert docs == {1, 2}  # the boilerplate carriers, not doc 3
        # the shared 8-word span yields 4 flagged 5-gram positions/doc
        assert all(r.n_docs == 2 for r in spans)
        assert len([r for r in spans if r.doc_id == 1]) == 4

    def test_short_docs_yield_no_spans(self, spark):
        from easydb_server_spark.operators.dedup import duplicate_ngram_spans

        d = spark.createDataFrame([(1, "too short"), (2, "too short")], "doc_id long, text string")
        assert duplicate_ngram_spans(d, "text", "doc_id", n=5).count() == 0


class TestCcnetBuckets:
    def test_terciles_partition_and_rank_sensibly(self, spark):
        from easydb_server_spark.operators.text import ccnet_buckets

        common = "the quick brown fox jumps over the lazy dog again"
        rows = [(i, common) for i in range(12)]
        rows += [(100 + i, "qzx wvu plonk gribble flumph snark blorp") for i in range(6)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        out = ccnet_buckets(d, "text", "doc_id").collect()
        by_bucket = {}
        for r in out:
            by_bucket.setdefault(r.bucket, []).append(r)
        # gibberish docs (all-OOV) never land in head
        assert all(r.doc_id < 100 for r in by_bucket.get("head", []))
        # bucket score ordering: min(head) >= max(tail)
        if "head" in by_bucket and "tail" in by_bucket:
            assert min(r.mean_logprob for r in by_bucket["head"]) >= max(
                r.mean_logprob for r in by_bucket["tail"]
            )


class TestTfidfKeywords:
    def test_distinctive_term_outranks_common_term(self, spark):
        from easydb_server_spark.operators.text import tfidf_keywords

        rows = [(i, "the common words everyone shares") for i in range(9)]
        rows.append((100, "the common words everyone shares zyxqspecial zyxqspecial"))
        d = spark.createDataFrame(rows, "doc_id long, text string")
        out = tfidf_keywords(d, "text", "doc_id", top_k=1).collect()
        top = {r.doc_id: r.term for r in out}
        assert top[100] == "zyxqspecial"  # df=1 + tf=2 beats corpus-wide terms
        assert all(r.rank == 1 for r in out)

    def test_top_k_bound_and_deterministic_ties(self, spark):
        from easydb_server_spark.operators.text import tfidf_keywords

        d = spark.createDataFrame([(1, "b a c a b c")], "doc_id long, text string")
        out = tfidf_keywords(d, "text", "doc_id", top_k=2).collect()
        # all three terms tie on tf-idf; term-asc tie-break keeps a, b
        assert [r.term for r in sorted(out, key=lambda r: r.rank)] == ["a", "b"]


class TestQuantizeEmbeddings:
    def test_roundtrip_error_within_bound(self, spark, embeddings):
        import math

        from easydb_server_spark.operators.similarity import quantize_embeddings

        rows = quantize_embeddings(embeddings.limit(50), "embedding", "vec_id").collect()
        orig = {r.vec_id: r.embedding for r in embeddings.limit(50).collect()}
        for r in rows:
            x = orig[r.vec_id]
            assert len(r.qvec) == len(x)
            assert all(-127 <= q <= 127 for q in r.qvec)
            # dequantized component error <= scale/254 (+ rounding slop
            # from the stored 6-decimal scale)
            for q, xi in zip(r.qvec, x):
                assert math.isclose(q * r.scale / 127.0, xi, abs_tol=r.scale / 254 + 1e-4)

    def test_zero_vector_is_all_zeros(self, spark):
        from easydb_server_spark.operators.similarity import quantize_embeddings

        d = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>")
        r = quantize_embeddings(d, "embedding", "vec_id").first()
        assert r.scale == 0.0 and list(r.qvec) == [0, 0, 0]


class TestResampleLocf:
    def test_fill_carries_forward_and_respects_gaps(self, spark):
        from datetime import datetime

        from easydb_server_spark.operators.resample import resample_locf

        rows = [
            (1, datetime(2025, 1, 1, 0, 30), 10.0),
            (1, datetime(2025, 1, 1, 3, 15), 20.0),
            (2, datetime(2025, 1, 1, 2, 0), 7.0),
        ]
        d = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        out = {
            (r.user_id, r.grid_ts.hour): r.value_locf
            for r in resample_locf(d, "ts", "user_id", "value").collect()
        }
        # grid spans hour 0..3 (global bounds) for both keys
        assert out[(1, 0)] is None  # grid point precedes first event (00:30)
        assert out[(1, 1)] == 10.0 and out[(1, 2)] == 10.0  # carried forward
        assert out[(1, 3)] == 10.0  # 03:00 precedes the 03:15 event
        assert out[(2, 0)] is None and out[(2, 1)] is None
        assert out[(2, 2)] == 7.0 and out[(2, 3)] == 7.0  # event AT the grid point counts

    def test_equal_timestamp_tie_is_deterministic(self, spark):
        from datetime import datetime

        from easydb_server_spark.operators.resample import resample_locf

        rows = [
            (1, datetime(2025, 1, 1, 0, 0), 3.0),
            (1, datetime(2025, 1, 1, 0, 0), 9.0),
        ]
        d = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        out = resample_locf(d, "ts", "user_id", "value").collect()
        # ties order by value; the fill takes the max — deterministically
        assert all(r.value_locf == 9.0 for r in out)


class TestResampleInterp:
    def test_linear_blend_between_neighbors(self, spark):
        from datetime import datetime

        from easydb_server_spark.operators.resample import resample_interp

        rows = [
            (1, datetime(2025, 1, 1, 0, 0), 10.0),
            (1, datetime(2025, 1, 1, 4, 0), 50.0),
        ]
        d = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        out = {
            r.grid_ts.hour: r.value_interp
            for r in resample_interp(d, "ts", "user_id", "value").collect()
        }
        # exact endpoints + linear blend at 1/4, 1/2, 3/4
        assert out[0] == 10.0 and out[4] == 50.0
        assert out[1] == 20.0 and out[2] == 30.0 and out[3] == 40.0

    def test_missing_side_yields_null(self, spark):
        from datetime import datetime

        from easydb_server_spark.operators.resample import resample_interp

        rows = [(1, datetime(2025, 1, 1, 1, 30), 5.0), (1, datetime(2025, 1, 1, 2, 30), 6.0)]
        d = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        out = {
            r.grid_ts.hour: r.value_interp
            for r in resample_interp(d, "ts", "user_id", "value").collect()
        }
        assert out[1] is None  # 01:00 has no earlier neighbor
        assert out[2] == 5.5  # midpoint of 01:30->02:30


class TestSourceCapApprox:
    def test_sortless_path_approximates_exact_within_binomial_noise(self, spark, docs):
        import math

        from easydb_server_spark.operators.text import source_cap

        d = docs.select("doc_id", "source")
        cap = 40
        exact = source_cap(d, "doc_id", "source", cap=cap)
        approx = source_cap(d, "doc_id", "source", cap=cap, exact=False)
        sizes = {r.source: r.n for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
        n_exact = {r.source: r.n for r in exact.groupBy("source").agg(F.count("*").alias("n")).collect()}
        n_approx = {r.source: r.n for r in approx.groupBy("source").agg(F.count("*").alias("n")).collect()}
        kept_exact = {r.doc_id for r in exact.collect()}
        kept_approx = {r.doc_id for r in approx.collect()}
        for src, n in sizes.items():
            want = min(cap, n)
            assert n_exact[src] == want
            # binomial noise around the cap (sources under the cap pass whole)
            assert abs(n_approx.get(src, 0) - want) <= 3 * math.sqrt(cap) + 1
        # the two keep sets agree up to the rank boundary
        inter = len(kept_exact & kept_approx)
        assert inter >= 0.7 * len(kept_exact)
        # no sort in the approx plan
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            approx.explain("formatted")
        assert "Sort" not in buf.getvalue()
        assert "Window" not in buf.getvalue()


class TestCcnetApprox:
    def test_sketch_cuts_agree_with_exact_within_rank_error(self, spark, docs):
        from easydb_server_spark.operators.text import ccnet_buckets

        d = docs.select("doc_id", "text")
        exact = {r.doc_id: r.bucket for r in ccnet_buckets(d, "text", "doc_id").collect()}
        approx = {
            r.doc_id: r.bucket
            for r in ccnet_buckets(d, "text", "doc_id", exact=False).collect()
        }
        n = len(exact)
        agree = sum(1 for k, v in exact.items() if approx[k] == v)
        # sketch rank error <= n/accuracy docs per cut (2 cuts), plus ties
        assert agree >= n - max(4, 2 * n // 10_000 + 2)


class TestProfileAndChecks:
    def test_profile_counts_nulls_and_distincts(self, spark):
        from easydb_server_spark.operators.profile import profile_table

        d = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a"), (4, "b")], "id long, s string"
        )
        prof = {r.column: r for r in profile_table(d, ["id", "s"]).collect()}
        assert prof["id"].n_rows == 4 and prof["id"].n_null == 0
        assert prof["id"].n_distinct == 4 and prof["id"].min_value == "1"
        assert prof["s"].n_null == 1 and prof["s"].null_rate == 0.25
        assert prof["s"].n_distinct == 2  # countDistinct ignores nulls
        assert prof["s"].max_value == "b"

    def test_profile_of_empty_table_is_zero_not_null(self, spark):
        # SUM over an empty table is NULL; the SQL-count form an
        # oracle writes is 0 — an empty snapshot must profile as zero
        # nulls / 0.0 rate (profile_drift against an empty candidate
        # otherwise reports NaN; caught by the regen differential)
        from easydb_server_spark.operators.profile import profile_table

        d = spark.createDataFrame([], "id long, s string")
        rows = {r.column: r for r in profile_table(d, ["id", "s"]).collect()}
        for c in ("id", "s"):
            assert rows[c].n_rows == 0 and rows[c].n_null == 0
            assert rows[c].null_rate == 0.0 and rows[c].n_distinct == 0
            assert rows[c].min_value is None and rows[c].max_value is None

    def test_profile_is_lazy_no_separate_count_job(self, spark):
        # the row count must ride the single aggregate as a count(1)
        # slot — a df.count() inside profile_table would run an eager
        # second scan at BUILD time (2x the 100 TB profile pass)
        from easydb_server_spark.operators.profile import profile_table

        sc = spark.sparkContext
        sc.setJobGroup("profile-build-lazy", "profile_table must not run jobs")
        try:
            d = spark.range(1000).selectExpr("id", "CAST(id % 7 AS STRING) AS s")
            prof = profile_table(d, ["id", "s"])
            assert list(sc.statusTracker().getJobIdsForGroup("profile-build-lazy")) == []
        finally:
            sc.setJobGroup("", "")
        assert prof.where("column = 'id'").first().n_rows == 1000

    def test_checks_count_null_predicates_as_violations(self, spark):
        from easydb_server_spark.operators.profile import quality_checks

        d = spark.createDataFrame([(1, 5.0), (2, None), (3, -1.0)], "id long, v double")
        out = {r.rule: r for r in quality_checks(d, [
            ("v_positive", "v > 0"),
            ("id_present", "id IS NOT NULL"),
        ]).collect()}
        # v > 0: row 2 is NULL (violation, strict), row 3 is false
        assert out["v_positive"].n_violations == 2 and not out["v_positive"].passed
        assert out["id_present"].n_violations == 0 and out["id_present"].passed

    def test_single_scan_for_all_rules(self, spark):
        import contextlib
        import io

        from easydb_server_spark.operators.profile import quality_checks

        d = spark.range(100).selectExpr("id", "id * 2 AS v")
        df = quality_checks(d, [("a", "v >= 0"), ("b", "id < 1000"), ("c", "v % 2 = 0")])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        # all three rules fused into one aggregate over one scan
        assert buf.getvalue().count("Scan ") <= 1


class TestContaminationSpans:
    def test_flags_exact_positions_of_benchmark_grams(self, spark):
        from easydb_server_spark.operators.dedup import contamination_spans

        train = spark.createDataFrame(
            [
                (1, "a b c d e f"),       # grams at pos 0..3; "c d e" contaminated (pos 2)
                (2, "x y z"),             # clean
                (3, "c d e c d e x"),     # "c d e" at pos 0 and 3; "e c d" / "d e c" / "d e x" / "e c d" clean
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame([(100, "q q c d e q")], "doc_id long, text string")
        out = contamination_spans(train, bench, "text", "doc_id", n=3)
        got = {(r.doc_id, r.pos) for r in out.collect()}
        assert got == {(1, 2), (3, 0), (3, 3)}

    def test_corpus_side_never_shuffles(self, spark):
        """The benchmark digest set broadcasts; the corpus side must be
        scan → posexplode → hash → broadcast probe with no Exchange on
        the corpus branch (at 100 TB an Exchange here shuffles the
        whole training corpus). The plan's only Exchange belongs to the
        tiny benchmark distinct."""
        import contextlib
        import io

        from easydb_server_spark.operators.dedup import contamination_spans

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        bench = docs.where(F.col("source") == "src0")
        train = docs.where(F.col("source") != "src0")
        df = contamination_spans(train, bench, "text", "doc_id", n=3)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        assert "BroadcastHashJoin" in p
        # corpus branch shuffle-free: the plan's only shuffle Exchange
        # is the tiny benchmark distinct feeding the broadcast
        import re

        nodes = re.findall(r"\(\d+\) (BroadcastExchange|Exchange)\b", p)
        assert nodes.count("Exchange") <= 1, p
        assert nodes.count("BroadcastExchange") <= 1, p


class TestSemDeDup:
    def test_injected_copies_dropped_originals_kept(self, spark, embeddings):
        from easydb_server_spark.operators.similarity import semdedup

        dups = embeddings.where(F.col("vec_id") < 30).select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
        )
        corpus = embeddings.select("vec_id", "embedding").unionAll(dups)
        out = semdedup(corpus, "embedding", "vec_id", n_cells=8, threshold=0.9).collect()
        n = corpus.count()
        assert len(out) == n  # one row per vector, keep flag set
        by_id = {r.vec_id: r for r in out}
        # every injected exact copy shares its original's cell
        # (identical dots, deterministic tie-break) and must be dropped
        for i in range(min(30, len([r for r in out if r.vec_id >= 10000]))):
            dup = by_id[10000 + i]
            orig = by_id[i]
            assert dup.cell == orig.cell
            assert dup.keep is False

    def test_exactly_one_survivor_per_duplicate_set(self, spark, embeddings):
        from easydb_server_spark.operators.similarity import semdedup

        # three exact copies of vector 0 → exactly one keeper among them
        copies = embeddings.where(F.col("vec_id") == 0).select(
            (F.col("vec_id") + 20000).alias("vec_id"), "embedding"
        )
        copies2 = embeddings.where(F.col("vec_id") == 0).select(
            (F.col("vec_id") + 30000).alias("vec_id"), "embedding"
        )
        corpus = embeddings.select("vec_id", "embedding").unionAll(copies).unionAll(copies2)
        out = {r.vec_id: r.keep for r in semdedup(corpus, "embedding", "vec_id", n_cells=8).collect()}
        assert out[0] is True and out[20000] is False and out[30000] is False


class TestBpeMerges:
    @staticmethod
    def _ref_bpe(texts, n):
        """Pure-Python reference BPE (Sennrich et al. 2016 pseudocode):
        word histogram, most-frequent adjacent pair with (count desc,
        pair asc) tie-break, greedy left-to-right non-overlapping
        merge."""
        from collections import Counter

        wc = Counter(w for t in texts for w in t.split(" ") if w)
        vocab = {w: list(w) for w in wc}
        merges = []
        for k in range(n):
            pc = Counter()
            for w, syms in vocab.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += wc[w]
            if not pc:
                break
            (a, b), cnt = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
            merges.append((k, a, b, a + b, cnt))
            for w in vocab:
                s, out, i = vocab[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                vocab[w] = out
        return merges

    def test_matches_reference_implementation(self, spark):
        """Covers the tricky cases: overlapping runs (aaaa/aaa with
        pair (a,a) must tile left-to-right), merged tokens as pair
        members (b+an, lo+w, t+he), and full tie-breaking."""
        from easydb_server_spark.operators.text import bpe_merges

        texts = [
            "aaaa aaa banana bandana",
            "low lower lowest low",
            "the the the cat sat on the mat",
            "banana band",
        ]
        want = self._ref_bpe(texts, 8)
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [
            (r.rank, r.left, r.right, r.merged, int(r.pair_count))
            for r in bpe_merges(df, "text", 8).orderBy("rank").collect()
        ]
        assert got == want

    def test_matches_reference_on_fixture_corpus(self, spark):
        from easydb_server_spark.operators.text import bpe_merges

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        texts = [r.text for r in docs.select("text").collect()]
        want = self._ref_bpe(texts, 5)
        got = [
            (r.rank, r.left, r.right, r.merged, int(r.pair_count))
            for r in bpe_merges(docs, "text", 5).orderBy("rank").collect()
        ]
        assert got == want


class TestBpeApply:
    def test_matches_reference_encode(self, spark):
        """bpe_apply vs a pure-Python greedy encoder over the same
        fixed merge list — includes a merged-token pair (er+s) so the
        rank-order dependency is exercised."""
        from easydb_server_spark.operators.text import bpe_apply

        merges = [("e", "r"), ("o", "r"), ("i", "n"), ("s", "t"), ("er", "s")]

        def encode_word(w):
            s = list(w)
            for a, b in merges:
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out
            return len(s)

        texts = {1: "ersatz errors persist", 2: "in order to sort strings", 3: "x"}
        df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
        got = {r.doc_id: (r.n_words, r.n_chars, r.n_tokens) for r in bpe_apply(df, "text", "doc_id", merges).collect()}
        for doc_id, t in texts.items():
            ws = [w for w in t.split(" ") if w]
            want = (len(ws), sum(len(w) for w in ws), sum(encode_word(w) for w in ws))
            assert got[doc_id] == want, doc_id


class TestBmpCodec:
    def test_roundtrip(self, spark):
        import numpy as np

        from easydb_server_spark.operators.bmp import decode_bmp, encode_bmp

        # width 5 → row padding exercised (15 bytes → padded to 16)
        px = (np.arange(4 * 5 * 3, dtype=np.uint8)).reshape(4, 5, 3)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)

    def test_real_decode_through_arrow_pipeline(self, spark):
        """Genuine BMP bytes flow through the full mapInPandas feature
        pipeline with the real codec registered: extracted dimensions
        are the TRUE pixel dimensions, not stub arithmetic."""
        import numpy as np

        from easydb_server_spark.operators import multimodal as M
        from easydb_server_spark.operators.bmp import bmp_decoder, encode_bmp

        blobs = []
        for item_id, (h, w) in enumerate([(4, 5), (7, 3), (2, 2)]):
            px = ((np.arange(h * w * 3) * 11) % 256).astype(np.uint8).reshape(h, w, 3)
            blobs.append((item_id, bytearray(encode_bmp(px)), "image"))
        df = spark.createDataFrame(blobs, "item_id long, blob binary, kind string")
        M.register_decoder("image", bmp_decoder)
        try:
            out = {r.item_id: r for r in M.binary_features(df, "blob", "item_id", "kind").collect()}
        finally:
            M._DECODERS.pop("image", None)
        assert (out[0].width, out[0].height) == (5, 4)
        assert (out[1].width, out[1].height) == (3, 7)
        assert (out[2].width, out[2].height) == (2, 2)

    def test_real_resize_through_pipeline(self, spark):
        import numpy as np

        from easydb_server_spark.operators import multimodal as M
        from easydb_server_spark.operators.bmp import decode_bmp, encode_bmp, resize_nearest

        px = ((np.arange(8 * 6 * 3) * 7) % 256).astype(np.uint8).reshape(8, 6, 3)
        df = spark.createDataFrame(
            [(1, bytearray(encode_bmp(px)))], "item_id long, blob binary"
        )
        out = M.resize_images(df, "blob", "item_id", width=3, height=4, codec="bmp").collect()[0]
        got = decode_bmp(bytes(out.payload))
        assert got.shape == (4, 3, 3)
        assert np.array_equal(got, resize_nearest(px, 3, 4))


class TestLateR7EdgeCases:
    def test_bm25_empty_corpus_and_absent_terms(self, spark):
        from easydb_server_spark.operators.text import bm25_rank

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert bm25_rank(empty, "text", "doc_id", ["x"]).collect() == []
        one = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        rows = bm25_rank(one, "text", "doc_id", ["zzz"]).collect()
        assert len(rows) == 1 and rows[0].score == 0.0

    def test_bpe_merges_degenerate_corpora(self, spark):
        from easydb_server_spark.operators.text import bpe_merges

        # single-char words: no adjacent pairs → zero merges
        df = spark.createDataFrame([("a b c",)], "text string")
        assert bpe_merges(df, "text", 4).collect() == []
        # empty corpus
        empty = spark.createDataFrame([], "text string")
        assert bpe_merges(empty, "text", 4).collect() == []
        # fewer learnable merges than requested: stops early, no error
        tiny = spark.createDataFrame([("ab ab",)], "text string")
        got = bpe_merges(tiny, "text", 8).collect()
        assert [(r.left, r.right) for r in got] == [("a", "b")]

    def test_bpe_apply_empty_merges_counts_chars(self, spark):
        from easydb_server_spark.operators.text import bpe_apply

        df = spark.createDataFrame([(1, "ab cde")], "doc_id long, text string")
        r = bpe_apply(df, "text", "doc_id", []).collect()[0]
        assert (r.n_words, r.n_chars, r.n_tokens) == (2, 5, 5)

    def test_semdedup_fewer_vectors_than_cells(self, spark):
        from easydb_server_spark.operators.similarity import semdedup

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        out = {r.vec_id: r.keep for r in semdedup(df, "embedding", "vec_id", n_cells=16).collect()}
        assert out == {1: True, 2: True, 3: False}  # 3 is an exact dup of 1

    def test_contamination_spans_no_overlap_and_short_docs(self, spark):
        from easydb_server_spark.operators.dedup import contamination_spans

        train = spark.createDataFrame([(1, "a b"), (2, "x y z")], "doc_id long, text string")
        bench = spark.createDataFrame([(9, "p q r s")], "doc_id long, text string")
        assert contamination_spans(train, bench, "text", "doc_id", n=3).collect() == []

    def test_rrf_single_list_is_rank_order(self, spark):
        from easydb_server_spark.operators.similarity import rrf_fuse

        r = spark.createDataFrame([(10, 1), (20, 2)], "id long, rank int")
        out = rrf_fuse([r], topk=5).collect()
        assert [o.id for o in out] == [10, 20]

    def test_shard_manifest_covers_all_docs_exactly_once(self, spark):
        from easydb_server_spark.operators.text import shard_manifest

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        m = shard_manifest(docs, "text", "doc_id", n_shards=5).collect()
        assert sum(r.n_docs for r in m) == docs.count()
        assert {r.shard for r in m} <= set(range(5))


class TestIvfStore:
    def test_store_serving_matches_inmemory_ivf_and_prunes_partitions(self, spark, embeddings):
        import contextlib
        import io
        import uuid

        from easydb_server_spark.operators.similarity import (
            ivf_centroids,
            topk_cosine_ivf,
            topk_cosine_ivf_store,
            write_ivf_store,
        )

        table = f"ivf_store_{uuid.uuid4().hex[:8]}"
        try:
            write_ivf_store(embeddings, "embedding", "vec_id", table, n_cells=8)
            q = embeddings.where(F.col("vec_id") < 5)
            got = topk_cosine_ivf_store(
                spark, table, q, "embedding", "vec_id", k=3, nprobe=2
            )
            # identical results to the in-memory path under the SAME centroids
            cents = spark.table(f"{table}_centroids")
            want = topk_cosine_ivf(
                embeddings, q, "embedding", "vec_id", k=3, n_cells=8, nprobe=2,
                centroids=cents,
            )
            assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
            # the store scan is partition-pruned to the probed cells
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                got.explain("formatted")
            p = buf.getvalue()
            scan_block = p.split("Location:")[1] if "Location:" in p else p
            assert "PartitionFilters" in p and "cell" in p.split("PartitionFilters", 1)[1].split("]", 1)[0]
        finally:
            for t in (table, f"{table}_centroids"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestBigramLogprob:
    def test_hand_computed_interpolated_probabilities(self, spark):
        """Tiny corpus with known counts: 'a b a b', 'a b c', 'solo'.
        Unigrams: a=3 b=3 c=1 solo=1 (N=8, V=4); bigrams: (a,b)=3
        (b,a)=1 (b,c)=1. Locks the lambda-interpolation, the add-one
        denominator N+V+1 (the 1-token doc still counts toward N and
        V), and the >=2-token filtering."""
        import math

        from easydb_server_spark.operators.text import bigram_logprob

        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c"), (3, "solo")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in bigram_logprob(df, "text", "doc_id", lam=0.7).collect()}

        def p(cb, c_prev, c_w):
            return 0.7 * (cb / c_prev) + (1.0 - 0.7) * ((c_w + 1) / (8 + 4 + 1))

        # doc 1 bigrams: (a,b) (b,a) (a,b)
        lp1 = (2 * math.log10(p(3, 3, 3)) + math.log10(p(1, 3, 3))) / 3
        # doc 2 bigrams: (a,b) (b,c)
        lp2 = (math.log10(p(3, 3, 3)) + math.log10(p(1, 3, 1))) / 2
        assert got[1].n_bigrams == 3 and got[1].mean_logprob == round(lp1, 5)
        assert got[2].n_bigrams == 2 and got[2].mean_logprob == round(lp2, 5)
        # the 'solo' (and any <2-token) doc scores no bigrams
        assert 3 not in got


class TestAsofForward:
    def _frames(self, spark):
        p = spark.createDataFrame(
            [(1, 100, "2024-01-01 10:00:00"), (2, 100, "2024-01-01 12:00:00"),
             (3, 200, "2024-01-01 10:30:00")],
            "p_id BIGINT, user_id BIGINT, ts_s STRING",
        ).select("p_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
        q = spark.createDataFrame(
            [(11, 100, "2024-01-01 10:05:00", 1.5),
             (12, 100, "2024-01-01 09:00:00", 2.5),   # before every probe
             (13, 200, "2024-01-01 10:30:00", 3.5),   # equal-ts: inclusive
             (14, 200, "2024-01-01 10:30:00", 4.5)],  # equal-ts tie -> smaller id
            "q_id BIGINT, user_id BIGINT, ts_s STRING, v DOUBLE",
        ).select("q_id", "user_id", F.to_timestamp("ts_s").alias("q_ts"), "v")
        return p, q

    def test_forward_picks_next_quote_inclusive_with_tiebreak(self, spark):
        from easydb_server_spark.operators.asof import asof_join

        p, q = self._frames(spark)
        got = {
            r["p_id"]: (r["asof_q_id"], r["asof_v"])
            for r in asof_join(
                p, q, on="user_id", probe_ts="ts", quote_ts="q_ts",
                quote_cols=["q_id", "v"], direction="forward",
                quote_tiebreak="q_id",
            ).collect()
        }
        assert got[1] == (11, 1.5)        # next at 10:05
        assert got[2] == (None, None)     # nothing at/after 12:00
        assert got[3] == (13, 3.5)        # equal ts inclusive, tie -> q_id 13

    def test_forward_tolerance(self, spark):
        from easydb_server_spark.operators.asof import asof_join

        p, q = self._frames(spark)
        got = {
            r["p_id"]: r["asof_q_id"]
            for r in asof_join(
                p, q, on="user_id", probe_ts="ts", quote_ts="q_ts",
                quote_cols=["q_id"], direction="forward",
                quote_tiebreak="q_id", tolerance_seconds=60,
            ).collect()
        }
        assert got[1] is None  # 10:05 is 300s away, outside 60s
        assert got[3] == 13    # 0s away

    def test_forward_matches_bruteforce(self, spark):
        """forward asof == the O(n*m) theta-join + row_number definition
        on real event data, ties broken by quote id on both sides."""
        from pyspark.sql import Window

        from easydb_server_spark.operators.asof import asof_join
        from easydb_server_spark.queries._util import load

        e = load(spark, SF_DIR, "events")
        p = e.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), "user_id", "ts"
        )
        q = e.where(F.col("event_type") == "view").select(
            F.col("user_id").alias("q_user"), F.col("ts").alias("q_ts"),
            F.col("event_id").alias("q_id"),
        )
        got = asof_join(
            p, q.withColumnRenamed("q_user", "user_id"),
            on="user_id", probe_ts="ts", quote_ts="q_ts",
            quote_cols=["q_id"], direction="forward", quote_tiebreak="q_id",
        )
        w = Window.partitionBy("p_id").orderBy(F.col("q_ts").asc(), F.col("q_id").asc())
        want = (
            p.join(q, (p.user_id == q.q_user) & (q.q_ts >= p.ts), "left")
            .withColumn("r", F.row_number().over(w))
            .where(F.col("r") == 1)
            .select("p_id", F.col("q_id").alias("want_q_id"))
        )
        diff = (
            got.select("p_id", "asof_q_id")
            .join(want, "p_id", "full")
            .where(
                F.coalesce(F.col("asof_q_id"), F.lit(-1))
                != F.coalesce(F.col("want_q_id"), F.lit(-1))
            )
        )
        assert diff.count() == 0

    def test_bad_direction_raises(self, spark):
        import pytest as _pytest

        from easydb_server_spark.operators.asof import asof_join

        p, q = self._frames(spark)
        with _pytest.raises(ValueError, match="direction"):
            asof_join(p, q, on="user_id", probe_ts="ts", quote_ts="q_ts",
                      quote_cols=["q_id"], direction="sideways")


class TestAsofRowAtomicity:
    """The r14 ADVICE fixes: quote attributes travel as ONE struct
    (row-atomic even with NULL attributes), and a NULL tiebreak value
    LOSES to every non-null one."""

    def test_null_attribute_on_winning_quote_stays_atomic(self, spark):
        """The tie-winning quote (smallest tiebreak) has v=NULL; the
        output must carry THAT row's NULL, not an older quote's v."""
        from easydb_server_spark.operators.asof import asof_join

        p = spark.createDataFrame(
            [(1, 100, "2024-01-01 11:00:00")], "p_id BIGINT, user_id BIGINT, ts_s STRING"
        ).select("p_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
        q = spark.createDataFrame(
            [(21, 100, "2024-01-01 09:00:00", 9.0),   # older quote, non-null v
             (22, 100, "2024-01-01 10:00:00", None),  # tie-winner at 10:00, NULL v
             (23, 100, "2024-01-01 10:00:00", 7.0)],  # tie-loser at 10:00
            "q_id BIGINT, user_id BIGINT, ts_s STRING, v DOUBLE",
        ).select("q_id", "user_id", F.to_timestamp("ts_s").alias("q_ts"), "v")
        row = asof_join(
            p, q, on="user_id", probe_ts="ts", quote_ts="q_ts",
            quote_cols=["q_id", "v"], quote_tiebreak="q_id",
        ).collect()[0]
        assert row["asof_q_id"] == 22
        assert row["asof_v"] is None  # NOT 9.0 from q_id 21, NOT 7.0 from q_id 23

    def test_null_tiebreak_loses_to_non_null(self, spark):
        """Two quotes at the same ts, one with a NULL tiebreak: the
        non-null (smallest) tiebreak must win."""
        from easydb_server_spark.operators.asof import asof_join

        p = spark.createDataFrame(
            [(1, 100, "2024-01-01 11:00:00")], "p_id BIGINT, user_id BIGINT, ts_s STRING"
        ).select("p_id", "user_id", F.to_timestamp("ts_s").alias("ts"))
        q = spark.createDataFrame(
            [(100, "2024-01-01 10:00:00", None, 1.0),
             (100, "2024-01-01 10:00:00", 5, 2.0)],
            "user_id BIGINT, ts_s STRING, rank BIGINT, v DOUBLE",
        ).select("user_id", F.to_timestamp("ts_s").alias("q_ts"), "rank", "v")
        row = asof_join(
            p, q, on="user_id", probe_ts="ts", quote_ts="q_ts",
            quote_cols=["rank", "v"], quote_tiebreak="rank",
        ).collect()[0]
        assert row["asof_rank"] == 5
        assert row["asof_v"] == 2.0
