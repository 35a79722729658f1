"""Round-9 fixes: null-text line_dedup, keeper selection under missing
priority rows, the exact string-verify pass for duplicate n-gram spans
(adversarial hash collision), string-exact contamination spans, and
the frozen-LM scorer's equivalence to the self-trained model."""

import pyspark.sql.functions as F
import pytest


class TestLineDedupNulls:
    def test_null_text_propagates_null_everywhere(self, spark):
        from easydb_server_spark.operators.text import line_dedup

        df = spark.createDataFrame(
            [(1, "a\nb\na"), (2, None), (3, "")], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in line_dedup(df, "text", "doc_id").collect()}
        assert rows[1].clean_text == "a\nb" and rows[1].n_removed == 1
        # null text: null clean_text AND null counts — not the
        # fabricated '' the pre-r9 concat_ws produced (round-9 ADVICE)
        assert rows[2].clean_text is None
        assert rows[2].n_lines is None and rows[2].n_removed is None
        # empty text is one empty line, kept
        assert rows[3].clean_text == "" and rows[3].n_lines == 1 and rows[3].n_removed == 0


class TestKeepersMissingPriority:
    def test_partial_and_fully_unprioritized_clusters_still_get_keepers(self, spark):
        from easydb_server_spark.operators.clusters import keepers_by_priority

        cc = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
            "doc_id long, component long",
        )
        # doc 3 has no priority row; cluster 10's members have NONE
        pr = spark.createDataFrame(
            [(1, 0.5), (2, 0.9)], "doc_id long, priority double"
        )
        out = {r.component: r for r in keepers_by_priority(cc, pr).collect()}
        # every component yields exactly one keeper (round-9 ADVICE:
        # the pre-fix inner join dropped unprioritized members, and an
        # all-unprioritized cluster got NO keeper, so downstream
        # anti-joins kept every member)
        assert set(out) == {1, 10}
        assert out[1].keeper == 2 and out[1].priority == 0.9
        assert out[10].keeper == 10 and out[10].priority is None

    def test_unprioritized_member_never_beats_prioritized(self, spark):
        from easydb_server_spark.operators.clusters import keepers_by_priority

        cc = spark.createDataFrame([(1, 1), (2, 1)], "doc_id long, component long")
        pr = spark.createDataFrame([(2, -5.0)], "doc_id long, priority double")
        out = keepers_by_priority(cc, pr).collect()
        # doc 1 (null priority, smaller id) ranks BELOW doc 2's real
        # priority — nulls last, not "nulls greatest"
        assert out[0].keeper == 2


class TestNgramSpansExactVerify:
    DOCS = (
        # one genuinely duplicated gram (docs 0 and 1) + 20 docs with
        # unique grams; under a narrowed hash the unique grams collide
        [(0, "a b c d e"), (1, "a b c d e")]
        + [(100 + i, f"u{i} v{i} w{i} x{i} y{i}") for i in range(20)]
    )

    @staticmethod
    def _ground_truth(docs, n=5, min_docs=2):
        from collections import defaultdict

        gram_docs = defaultdict(set)
        positions = []
        for doc_id, text in docs:
            ws = text.split(" ")
            for p in range(max(len(ws) - n + 1, 0)):
                g = " ".join(ws[p : p + n])
                gram_docs[g].add(doc_id)
                positions.append((doc_id, p, g))
        return {
            (d, p)
            for d, p, g in positions
            if len(gram_docs[g]) >= min_docs
        }

    @pytest.fixture()
    def narrowed_hash(self, monkeypatch):
        """Shrink the gram hash to 3 bits so collisions are certain
        (22 distinct grams into 8 buckets) — the adversarial setting a
        real 60-bit corpus meets at ~|grams|²/2⁶¹ odds."""
        from easydb_server_spark.operators import dedup as D

        real = D._shingle_hash60

        def tiny(col):
            return real(col) % 8

        monkeypatch.setattr(D, "_shingle_hash60", tiny)

    def test_verify_pass_kills_collision_false_flags(self, spark, narrowed_hash):
        from easydb_server_spark.operators.dedup import duplicate_ngram_spans

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        truth = self._ground_truth(self.DOCS)

        exact = {
            (r.doc_id, r.pos)
            for r in duplicate_ngram_spans(df, "text", "doc_id").collect()
        }
        assert exact == truth  # zero false clips under forced collisions

    def test_verified_n_docs_is_string_exact(self, spark, narrowed_hash):
        from easydb_server_spark.operators.dedup import duplicate_ngram_spans

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        rows = duplicate_ngram_spans(df, "text", "doc_id").collect()
        # the only true duplicate gram occurs in exactly 2 docs — a
        # hash-keyed count under collisions would inflate this
        assert rows and all(r.n_docs == 2 for r in rows)

    def test_contamination_spans_string_exact_under_collisions(self, spark, narrowed_hash):
        from easydb_server_spark.operators.dedup import contamination_spans

        corpus = spark.createDataFrame(
            [(1, "a b c d e"), (2, "p q r s t")], "doc_id long, text string"
        )
        bench = spark.createDataFrame([(90, "a b c d e")], "doc_id long, text string")
        got = {
            (r.doc_id, r.pos)
            for r in contamination_spans(corpus, bench, "text", "doc_id", n=5).collect()
        }
        # with a 3-bit hash, doc 2's unrelated gram collides with the
        # bench gram 1-in-8 runs — string equality must gate it out
        assert got == {(1, 0)}


class TestFrozenLmScorer:
    def test_score_unigram_lm_matches_self_trained_model(self, spark):
        """write_unigram_lm + score_unigram_lm over the training corpus
        itself must reproduce unigram_logprob exactly — the guarantee
        that batch (self-trained) and streaming (frozen-model) gates
        agree when the model comes from the same corpus."""
        import uuid

        from easydb_server_spark.operators.text import (
            score_unigram_lm,
            unigram_logprob,
            write_unigram_lm,
        )

        docs = spark.createDataFrame(
            [(1, "a b a b c"), (2, "a b c d"), (3, "zz yy a")],
            "doc_id long, text string",
        )
        table = f"lmtest_{uuid.uuid4().hex[:8]}"
        try:
            write_unigram_lm(docs, "text", "doc_id", table, vocab_size=3)
            got = sorted(
                map(tuple, score_unigram_lm(docs, "text", "doc_id", spark, table).collect())
            )
            want = sorted(map(tuple, unigram_logprob(docs, "text", "doc_id", vocab_size=3).collect()))
            assert got == want
        finally:
            for t in (table, f"{table}_meta"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestHtmlExtract:
    def test_strips_blocks_keeps_structure_unescapes(self, spark):
        from easydb_server_spark.operators.text import html_extract

        html = (
            "<html><head><style>a{x:1}</style></head><body>\n"
            "<!-- multi\nline comment --><h1>Title</h1>"
            "<p>one &amp;amp; two</p><script>\nif (a<b) {}\n</script>"
            "<div>last&nbsp;line</div></body></html>"
        )
        df = spark.createDataFrame([(1, html), (2, ""), (3, "plain, no tags")],
                                   "doc_id long, html string")
        rows = {r.doc_id: r for r in html_extract(df, "html", "doc_id").collect()}
        # &amp;amp; unescapes ONE level (amp last) -> "&amp;"
        assert rows[1].clean_text == "Title\none &amp; two\nlast line"
        assert rows[1].n_tags > 0
        assert rows[2].clean_text == "" and rows[2].n_tags == 0
        assert rows[3].clean_text == "plain, no tags" and rows[3].n_tags == 0

    def test_br_and_blank_line_collapse(self, spark):
        from easydb_server_spark.operators.text import html_extract

        df = spark.createDataFrame(
            [(1, "<p>a</p>  \n\n  <p>b</p><br/><br>c")], "doc_id long, html string"
        )
        r = html_extract(df, "html", "doc_id").collect()[0]
        assert r.clean_text == "a\n\nb\n\nc"


class TestParagraphDedup:
    DOCS = [
        (1, "footer\n\nunique one\n\nshared para"),
        (2, "footer\n\nunique two\n\nshared para"),
        (3, "solo doc\n\nall original"),
        (4, None),
    ]

    def test_boilerplate_strip_removes_all_copies(self, spark):
        from easydb_server_spark.operators.text import paragraph_dedup

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        rows = {r.doc_id: r for r in paragraph_dedup(df, "text", "doc_id").collect()}
        assert rows[1].clean_text == "unique one" and rows[1].n_removed == 2
        assert rows[2].clean_text == "unique two" and rows[2].n_removed == 2
        assert rows[3].clean_text == "solo doc\n\nall original" and rows[3].n_removed == 0
        assert rows[4].clean_text is None and rows[4].n_paras is None

    def test_keep_first_retains_global_first_copy(self, spark):
        from easydb_server_spark.operators.text import paragraph_dedup

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        rows = {
            r.doc_id: r
            for r in paragraph_dedup(df, "text", "doc_id", keep="first").collect()
        }
        # doc 1 (smallest id) keeps footer and shared para; doc 2 loses both
        assert rows[1].clean_text == "footer\n\nunique one\n\nshared para"
        assert rows[2].clean_text == "unique two" and rows[2].n_removed == 2

    def test_within_doc_repeat_counts_once_for_frequency(self, spark):
        from easydb_server_spark.operators.text import paragraph_dedup

        df = spark.createDataFrame(
            [(1, "dup\n\ndup\n\nown"), (2, "other\n\nthings")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in paragraph_dedup(df, "text", "doc_id").collect()}
        # 'dup' appears twice in ONE doc only -> doc frequency 1 -> kept
        assert rows[1].clean_text == "dup\n\ndup\n\nown" and rows[1].n_removed == 0

    def test_keep_validation(self, spark):
        from easydb_server_spark.operators.text import paragraph_dedup

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="keep"):
            paragraph_dedup(df, "text", "doc_id", keep="last")


class TestUrlFeatures:
    def test_parsing_and_blocking(self, spark):
        from easydb_server_spark.operators.text import url_features

        rows = [
            (1, "https://EXAMPLE.com/a/b/c?x=1&y=2&z=3"),
            (2, "http://ads.bad.net/promo"),
            (3, "https://h12345x99.io/"),
            (4, "https://ok.org/free-casino-chips"),
            (5, "https://bad.net"),
            (6, "https://notbad.net/x"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        out = {
            r.doc_id: r
            for r in url_features(
                df, "url", "doc_id",
                blocked_domains=("bad.net",), blocked_keywords=("casino",),
            ).collect()
        }
        assert out[1].domain == "example.com" and out[1].tld == "com"
        assert out[1].path_depth == 3 and out[1].n_params == 3 and out[1].pass_url
        assert out[2].blocked_domain and not out[2].pass_url  # subdomain match
        assert out[3].digit_frac == pytest.approx(7 / 12)
        assert out[4].blocked_keyword and not out[4].pass_url
        assert out[5].blocked_domain
        # 'notbad.net' is NOT a subdomain of 'bad.net' (dot-anchored)
        assert out[6].pass_url


class TestGopherRepetitionRules:
    def test_hand_checked_line_and_paragraph_signals(self, spark):
        from easydb_server_spark.operators.text import gopher_repetition_rules

        # "dup line\ndup line\nunique": 24 chars, 3 lines (1 dup copy
        # of 8 chars), 1 paragraph
        df = spark.createDataFrame(
            [(1, "dup line\ndup line\nunique")], "doc_id long, text string"
        )
        r = gopher_repetition_rules(df, "text", "doc_id").collect()[0]
        assert r.dup_line_frac == pytest.approx(1 / 3, abs=1e-6)
        assert r.dup_line_char_frac == pytest.approx(8 / 24, abs=1e-6)
        assert r.dup_para_frac == 0.0 and r.dup_para_char_frac == 0.0

    def test_coverage_fractions_are_true_fractions(self, spark):
        """The published semantics count COVERED characters once — a
        maximally repetitive doc saturates at 1.0 instead of the
        (count-1)*len surrogate's unbounded blowup."""
        from easydb_server_spark.operators.text import gopher_repetition_rules

        df = spark.createDataFrame(
            [(1, "a b " * 40 + "a b"), (2, "all fresh words here with no repeats")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in gopher_repetition_rules(df, "text", "doc_id").collect()}
        d = rows[1].asDict()
        fracs = [v for k, v in d.items() if k.endswith("_frac")]
        assert all(0.0 <= v <= 1.0 for v in fracs)
        assert d["dup_5gram_char_frac"] == 1.0  # fully covered
        assert not rows[1].pass_repetition
        # the fresh doc's dup signals are all zero
        d2 = rows[2].asDict()
        assert all(d2[f"dup_{n}gram_char_frac"] == 0.0 for n in range(5, 11))

    def test_top_gram_coverage_hand_checked(self, spark):
        from easydb_server_spark.operators.text import gopher_repetition_rules

        # "x y x y z": top 2-gram "x y" covers tokens 0..3 ->
        # chars x,y,x,y (4) + 3 joining spaces = 7 of 9
        df = spark.createDataFrame([(1, "x y x y z")], "doc_id long, text string")
        r = gopher_repetition_rules(df, "text", "doc_id").collect()[0]
        assert r.top_2gram_char_frac == pytest.approx(7 / 9, abs=1e-6)

    def test_threshold_override_and_validation(self, spark):
        from easydb_server_spark.operators.text import gopher_repetition_rules

        df = spark.createDataFrame([(1, "p q r s t u v w")], "doc_id long, text string")
        # a short doc's count-1 top grams cover a large fraction (the
        # paper's word-count gate removes such docs before this one);
        # relaxing the three top thresholds must flip the verdict
        ok = gopher_repetition_rules(
            df, "text", "doc_id",
            thresholds={
                "top_2gram_char_frac": 1.0,
                "top_3gram_char_frac": 1.0,
                "top_4gram_char_frac": 1.0,
            },
        ).collect()[0]
        assert ok.pass_repetition
        with pytest.raises(ValueError, match="unknown"):
            gopher_repetition_rules(df, "text", "doc_id", thresholds={"nope": 1.0})
