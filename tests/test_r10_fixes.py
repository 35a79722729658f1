"""Round-10 fixes: case-insensitive HTML tag handling (uppercase
<SCRIPT> bodies must never leak into clean text), linear duplicate-line
stats (no O(lines²) per-row cliff on pathological documents),
the blocklist-table overload of url_features, and 8/24-bit PCM +
channel remix in the WAV codec."""

import time

import pyspark.sql.functions as F
import pytest


class TestHtmlCaseInsensitive:
    def test_uppercase_script_body_never_in_clean_text(self, spark):
        from easydb_server_spark.operators.text import html_extract

        df = spark.createDataFrame(
            [
                (1, "<SCRIPT>var x = 1;</SCRIPT><P>Hello</P><BR>Bye"),
                (2, "<STYLE>p {color:red}</STYLE><DIV>kept</DIV>"),
                (3, "<ScRiPt type='T'>mixed body</sCrIpT>tail"),
            ],
            "doc_id long, html string",
        )
        rows = {r.doc_id: r for r in html_extract(df, "html", "doc_id").collect()}
        # the r9-verdict replay: script body leaked as 'var x = 1;HelloBye'
        assert "var x" not in rows[1].clean_text
        # </P> then <BR> is two breaks → collapses to ONE paragraph break
        assert rows[1].clean_text == "Hello\n\nBye"
        assert "color" not in rows[2].clean_text
        assert rows[2].clean_text == "kept"
        assert "mixed body" not in rows[3].clean_text
        assert rows[3].clean_text == "tail"

    def test_uppercase_block_closers_make_newlines(self, spark):
        from easydb_server_spark.operators.text import html_extract

        df = spark.createDataFrame(
            [(1, "<LI>a</LI><li>b</li><H2>c</H2><TR>d</TR>")],
            "doc_id long, html string",
        )
        r = html_extract(df, "html", "doc_id").collect()[0]
        assert r.clean_text == "a\nb\nc\nd"


class TestDupStatsLinear:
    def test_pathological_10k_duplicate_lines_bounded_time(self, spark):
        """The pre-r10 per-distinct filter scan was O(lines ×
        distinct_lines) in-row; 10k duplicate lines with ~5k distinct
        values cost ~5·10⁷ string comparisons on ONE row. The Counter
        over the lines is O(lines)."""
        from easydb_server_spark.operators.text import gopher_repetition_rules

        lines = [f"line {i % 5000}" for i in range(10_000)]
        doc = "\n".join(lines)
        df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
        t0 = time.time()
        r = gopher_repetition_rules(df, "text", "doc_id").collect()[0]
        assert time.time() - t0 < 60
        # every line value occurs exactly twice → 5000 duplicates
        assert r.dup_line_frac == pytest.approx(5000 / 10_000)
        dup_chars = sum(len(f"line {i}") for i in range(5000))
        assert r.dup_line_char_frac == pytest.approx(round(dup_chars / len(doc), 6))

    def test_dup_char_semantics_unchanged(self, spark):
        from easydb_server_spark.operators.text import gopher_repetition_rules

        # 'aa' ×3 (dup chars 2·2=4), 'b' ×1, 'ccc' ×2 (dup chars 3)
        doc = "aa\nb\naa\nccc\naa\nccc"
        df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
        r = gopher_repetition_rules(df, "text", "doc_id").collect()[0]
        assert r.dup_line_frac == pytest.approx(round(3 / 6, 6))
        assert r.dup_line_char_frac == pytest.approx(round(7 / len(doc), 6))


class TestUrlBlocklistTables:
    """url_features blocklists as broadcast-join TABLES (r9 verdict
    ask #8): the expression-literal form compiles per-entry OR chains,
    the wrong shape for million-entry published blocklists."""

    def _corpus(self, spark):
        return spark.createDataFrame(
            [
                (1, "https://ads.spamexample.com/x"),
                (2, "https://spamexample.com/y"),
                (3, "https://example.com/casino-bonus/p"),
                (4, "https://fine.org/a/b?q=1"),
                (5, "https://notspamexample.com/z"),  # NOT a subdomain
            ],
            "doc_id long, url string",
        )

    def test_table_form_matches_literal_form(self, spark):
        from easydb_server_spark.operators.text import url_features

        df = self._corpus(spark)
        lit_out = (
            url_features(
                df, "url", "doc_id",
                blocked_domains=("spamexample.com",),
                blocked_keywords=("casino",),
            )
            .orderBy("doc_id")
            .collect()
        )
        dom_tbl = spark.createDataFrame([("spamexample.com",)], "domain string")
        kw_tbl = spark.createDataFrame([("casino",)], "keyword string")
        tbl_out = (
            url_features(
                df, "url", "doc_id",
                blocked_domains=dom_tbl, blocked_keywords=kw_tbl,
            )
            .orderBy("doc_id")
            .collect()
        )
        # 'casino' appears as a URL token here, so the token-exact
        # table semantics agree with substring on this corpus
        assert [r.asDict() for r in lit_out] == [r.asDict() for r in tbl_out]
        assert {r.doc_id: r.pass_url for r in tbl_out} == {
            1: False, 2: False, 3: False, 4: True, 5: True,
        }

    def test_table_form_plans_broadcast_hash_joins(self, spark):
        from easydb_server_spark.operators.text import url_features

        dom_tbl = spark.createDataFrame([("spamexample.com",)], "domain string")
        kw_tbl = spark.createDataFrame([("casino",)], "keyword string")
        out = url_features(
            self._corpus(spark), "url", "doc_id",
            blocked_domains=dom_tbl, blocked_keywords=kw_tbl,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # subdomain matching must NOT fall back to a nested loop
        assert "BroadcastNestedLoopJoin" not in plan

    def test_keyword_table_is_token_exact(self, spark):
        from easydb_server_spark.operators.text import url_features

        df = spark.createDataFrame(
            # 'casinos' contains 'casino' as substring but not as token
            [(1, "https://a.com/casinos"), (2, "https://a.com/casino/x")],
            "doc_id long, url string",
        )
        kw_tbl = spark.createDataFrame([("casino",)], "keyword string")
        out = {
            r.doc_id: r.blocked_keyword
            for r in url_features(
                df, "url", "doc_id", blocked_keywords=kw_tbl
            ).collect()
        }
        assert out == {1: False, 2: True}


class TestRepetitionImplEquivalence:
    """The zero-exchange mapInPandas repetition formulation (r9
    verdict ask #3) must agree with the DuckDB replay the conformance
    entry checks, on the documents the fuzz draws least often: null
    text, single words, all-duplicate and 11-word docs."""

    def test_pathological_docs_agree(self, spark):
        import duckdb
        import pandas as pd

        from easydb_server_spark.compare import canon_frame, fetch_oracle
        from easydb_server_spark.operators.text import gopher_repetition_rules
        from easydb_server_spark.queries.llmops import _oracle_gopher_repetition

        rows = [
            (0, None),                        # null text: null line stats, 0.0 gram covs
            (1, "solo"),                      # single word: no grams at all
            (2, "a a a a a a a a a a a a"),   # all-duplicate: fracs must be <= 1
            (3, ""),                          # empty
            (4, "x\nx\nx\n\nx\nx"),           # line/para dup interplay
            (5, "one two three four five six seven eight nine ten eleven"),
            (6, "ab " * 50 + "tail"),         # heavy 2-gram repetition
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = gopher_repetition_rules(df, "text", "doc_id").orderBy("doc_id").toPandas()
        con = duckdb.connect()
        con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = fetch_oracle(con, _oracle_gopher_repetition("text", "docs"))
        assert canon_frame(got) == canon_frame(want)
        # null text: null line/paragraph stats, zero gram coverage over
        # n_chars = 1, and an unknown pass flag
        null_doc = got[got.doc_id == 0].iloc[0]
        for col in got.columns[1:]:
            if col.startswith(("dup_line", "dup_para")) or col == "pass_repetition":
                assert pd.isna(null_doc[col]), col
            else:
                assert null_doc[col] == 0.0, col

    def test_every_fraction_bounded_by_one(self, spark):
        from easydb_server_spark.operators.text import gopher_repetition_rules

        df = spark.createDataFrame(
            [(1, "a a a a a a a a a a a a a a a a")], "doc_id long, text string"
        )
        r = gopher_repetition_rules(df, "text", "doc_id").collect()[0]
        for k, v in r.asDict().items():
            if k.endswith("_frac"):
                assert 0.0 <= v <= 1.0, (k, v)

    def test_python_impl_plans_zero_exchanges(self, spark):
        from easydb_server_spark.operators.text import gopher_repetition_rules

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = (
            gopher_repetition_rules(df, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestC4Rules:
    """C4 cleaning rule set (Raffel et al. 2020 §2.2)."""

    def test_line_and_page_rules(self, spark):
        from easydb_server_spark.operators.text import c4_rules

        docs = [
            # 3 good sentences -> pass
            (1, "one fine sentence with enough words.\n"
                "another fine sentence with enough words!\n"
                "a third fine sentence with enough words?"),
            # line without terminal punct + short line both dropped -> 1 sentence -> fail
            (2, "no terminal punctuation here at all\nshort one.\n"
                "only this good sentence has enough words."),
            # javascript line dropped even with punctuation
            (3, "this mentions JavaScript frameworks at length.\n"
                "first clean sentence with plenty of words.\n"
                "second clean sentence with plenty of words.\n"
                "third clean sentence with plenty of words."),
            # page flags
            (4, "Lorem Ipsum dolor sit amet words here.\nfine sentence with many more words too.\nthird one with words making the cut."),
            (5, "a code page { with braces } and sentences.\nfine sentence with many more words too.\nthird one with words making the cut."),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        rows = {r.doc_id: r for r in c4_rules(df, "text", "doc_id").collect()}
        assert rows[1].pass_c4 and rows[1].n_kept_lines == 3 and rows[1].n_sentences == 3
        assert not rows[2].pass_c4 and rows[2].n_kept_lines == 1
        assert rows[3].n_kept_lines == 3 and "JavaScript" not in rows[3].clean_text
        assert rows[3].pass_c4
        assert rows[4].has_lorem and not rows[4].pass_c4
        assert rows[5].has_brace and not rows[5].pass_c4

    def test_naughty_words_gate(self, spark):
        from easydb_server_spark.operators.text import c4_rules

        df = spark.createDataFrame(
            [(1, "a BadWord hides here in this sentence.\nmore fine words fill this sentence out.\na third sentence rounds out the page.")],
            "doc_id long, text string",
        )
        r = c4_rules(df, "text", "doc_id", naughty_words=("badword",)).collect()[0]
        assert r.has_naughty and not r.pass_c4

    def test_zero_shuffle_plan(self, spark):
        from easydb_server_spark.operators.text import c4_rules

        df = spark.createDataFrame([(1, "a.")], "doc_id long, text string")
        plan = c4_rules(df, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestNbQuality:
    """NB log-odds quality classifier (contrastive reference-vs-crawl
    scorer, closed form)."""

    def test_train_score_discriminates(self, spark):
        import uuid

        from easydb_server_spark.operators.text import (
            score_nb_quality,
            write_nb_quality,
        )

        t = f"nbq_{uuid.uuid4().hex[:8]}"
        wiki = spark.createDataFrame(
            [(i, "the careful study of history shows that trade and law") for i in range(4)],
            "doc_id long, text string",
        )
        spam = spark.createDataFrame(
            [(i, "buy cheap pills now click here winner casino bonus") for i in range(4)],
            "doc_id long, text string",
        )
        try:
            write_nb_quality(wiki, spam, "text", t, vocab_size=100)
            test = spark.createDataFrame(
                [
                    (1, "the study of law and history"),
                    (2, "click here casino winner pills"),
                    (3, "zzz qqq completely oov tokens"),
                ],
                "doc_id long, text string",
            )
            rows = {r.doc_id: r for r in score_nb_quality(test, "text", "doc_id", spark, t).collect()}
            assert rows[1].nb_pass and rows[1].log_odds > 0
            assert not rows[2].nb_pass and rows[2].log_odds < 0
            # OOV-only doc: no evidence either way
            assert rows[3].n_scored == 0 and rows[3].log_odds == 0.0 and not rows[3].nb_pass
            # frozen-artifact contract: retraining over a stale
            # location must succeed (LOCATION_ALREADY_EXISTS guard)
            write_nb_quality(wiki, spam, "text", t, vocab_size=100)
        finally:
            for x in (t, f"{t}_meta"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")


class TestMatchAnySubstrings:
    """Aho-Corasick substring matcher — the scale path for
    substring-anywhere blocklists (overlaps counted, case-insensitive,
    pattern table or tuple)."""

    def test_overlaps_and_suffix_patterns(self, spark):
        from easydb_server_spark.operators.text import match_any_substrings

        df = spark.createDataFrame([(1, "babab")], "doc_id long, text string")
        r = match_any_substrings(
            df, "text", "doc_id", ("ba", "bab", "abab")
        ).collect()[0]
        # ba @0,2; bab @0,2; abab @1  -> 5
        assert r.n_matches == 5 and r.any_match

    def test_case_insensitive_and_null(self, spark):
        from easydb_server_spark.operators.text import match_any_substrings

        df = spark.createDataFrame(
            [(1, "visit the CaSiNo today"), (2, None), (3, "clean text")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in match_any_substrings(df, "text", "doc_id", ("casino",)).collect()}
        assert rows[1].n_matches == 1 and rows[1].any_match
        assert rows[2].n_matches is None and rows[2].any_match is None
        assert rows[3].n_matches == 0 and not rows[3].any_match

    def test_dataframe_patterns_match_tuple_patterns(self, spark):
        from easydb_server_spark.operators.text import match_any_substrings

        df = spark.createDataFrame(
            [(i, f"spam{i} and casino words here") for i in range(5)],
            "doc_id long, text string",
        )
        pats = ("spam", "casino", "words")
        a = match_any_substrings(df, "text", "doc_id", pats).orderBy("doc_id").collect()
        pdf = spark.createDataFrame([(p,) for p in pats], "pat string")
        b = match_any_substrings(df, "text", "doc_id", pdf).orderBy("doc_id").collect()
        assert [r.asDict() for r in a] == [r.asDict() for r in b]

    def test_find_path_matches_automaton_path(self, spark):
        """r16: small lists take the C-speed str.find path, large
        lists the automaton. Padding a small list past the dispatch
        bound with never-occurring patterns flips the path without
        changing the answer — the two paths must agree exactly."""
        from easydb_server_spark.operators.text import match_any_substrings

        df = spark.createDataFrame(
            [(1, "babab abab casino SPAM spam"), (2, None), (3, "clean"),
             (4, "aaaa")],
            "doc_id long, text string",
        )
        small = ("ba", "bab", "abab", "spam", "aa")
        padded = small + tuple(f"zq%x7_{i}" for i in range(70))
        a = match_any_substrings(df, "text", "doc_id", small).orderBy("doc_id").collect()
        b = match_any_substrings(df, "text", "doc_id", padded).orderBy("doc_id").collect()
        assert [r.asDict() for r in a] == [r.asDict() for r in b]
        # overlap semantics spot-check on the find path: 'aa' in 'aaaa' -> 3
        assert {r.doc_id: r.n_matches for r in a}[4] == 3

    def test_automaton_matches_naive_scan(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from easydb_server_spark.operators.text import _aho_build, _aho_count

        @settings(max_examples=200, deadline=None)
        @given(
            text=st.text(alphabet="abc", max_size=40),
            pats=st.lists(
                st.text(alphabet="abc", min_size=1, max_size=4),
                min_size=1, max_size=6, unique=True,
            ),
        )
        def prop(text, pats):
            goto, fail, out = _aho_build(sorted(pats))
            got = _aho_count(goto, fail, out, text)
            want = sum(
                1
                for p in pats
                for i in range(len(text) - len(p) + 1)
                if text[i : i + len(p)] == p
            )
            assert got == want, (text, pats)

        prop()


class TestSentenceSpanDedup:
    """C4's three-sentence-span dedup (the pipeline's dedup half)."""

    def test_cross_doc_first_kept_and_tail_preserved(self, spark):
        from easydb_server_spark.operators.text import sentence_span_dedup

        trio = "one common line. two common line. three common line."
        df = spark.createDataFrame(
            [
                (1, f"alpha opener. {trio} alpha closer? left over"),
                (2, f"beta opener! {trio} beta closer."),
                (3, "gamma only. no duplicates here. fine text."),
            ],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in sentence_span_dedup(df, "text", "doc_id", span=3).collect()
        }
        # doc 1 holds the globally-first copy -> untouched, tail intact
        assert rows[1].n_removed == 0
        assert rows[1].clean_text.endswith("alpha closer? left over")
        assert "one common line." in rows[1].clean_text
        # doc 2 loses exactly the trio
        assert rows[2].n_removed == 3
        assert rows[2].clean_text == "beta opener! beta closer."
        assert rows[3].n_removed == 0 and rows[3].n_sents == 3

    def test_keep_none_strips_every_copy(self, spark):
        from easydb_server_spark.operators.text import sentence_span_dedup

        trio = "aa bb. cc dd. ee ff."
        df = spark.createDataFrame(
            [(1, f"u one. {trio}"), (2, f"u two. {trio}")],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in sentence_span_dedup(df, "text", "doc_id", keep="none").collect()
        }
        assert rows[1].clean_text == "u one." and rows[1].n_removed == 3
        assert rows[2].clean_text == "u two." and rows[2].n_removed == 3

    def test_overlapping_spans_union_indices(self, spark):
        from easydb_server_spark.operators.text import sentence_span_dedup

        # 4 shared sentences -> two overlapping duplicated 3-spans
        # (0,1,2) and (1,2,3); union removes 4 sentences, not 6
        quad = "s one x. s two x. s three x. s four x."
        df = spark.createDataFrame(
            [(1, f"h first. {quad}"), (2, f"h second. {quad}")],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in sentence_span_dedup(df, "text", "doc_id", keep="none").collect()
        }
        assert rows[1].n_removed == 4 and rows[1].clean_text == "h first."
        assert rows[2].n_removed == 4

    def test_within_doc_duplicate_span(self, spark):
        from easydb_server_spark.operators.text import sentence_span_dedup

        trio = "r one q. r two q. r three q."
        df = spark.createDataFrame(
            [(1, f"{trio} middle bit here. {trio}")], "doc_id long, text string"
        )
        r = sentence_span_dedup(df, "text", "doc_id", keep="first").collect()[0]
        # second in-doc occurrence stripped, first kept
        assert r.n_removed == 3
        assert r.clean_text == f"{trio} middle bit here."


class TestEmbPca:
    """PCA over embeddings: distributed covariance + bounded driver
    eigh + Arrow-batched projection."""

    def _corpus(self, spark, n=200, d=8, seed=11):
        import numpy as np

        rng = np.random.default_rng(seed)
        # anisotropic: variance concentrated in the first two axes
        scales = np.array([5.0, 3.0] + [0.5] * (d - 2))
        x = rng.normal(size=(n, d)) * scales
        rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
        return (
            spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
            x,
        )

    def test_covariance_matches_numpy(self, spark):
        import numpy as np

        from easydb_server_spark.operators.similarity import emb_covariance

        df, x = self._corpus(spark)
        got = {(r.i, r.j): r.cov for r in emb_covariance(df, "embedding").collect()}
        want = np.cov(x, rowvar=False, ddof=1)
        assert len(got) == x.shape[1] ** 2
        for (i, j), v in got.items():
            assert v == pytest.approx(round(want[i][j], 5), abs=2e-5)

    def test_projection_captures_variance_in_order(self, spark):
        import numpy as np

        from easydb_server_spark.operators.similarity import emb_pca

        df, x = self._corpus(spark)
        out = emb_pca(df, "embedding", "vec_id", k=3).collect()
        proj = {}
        for r in out:
            proj.setdefault(r.id, {})[r.pos] = r.value
        mat = np.array([[proj[i][p] for p in range(3)] for i in sorted(proj)])
        variances = mat.var(axis=0, ddof=1)
        # descending-eigenvalue order, and the top component carries
        # the dominant (scale 5.0) axis variance
        assert variances[0] > variances[1] > variances[2]
        assert variances[0] > 15  # ~25 expected from scale 5
        # projection is deterministic across invocations (sign fix)
        out2 = emb_pca(df, "embedding", "vec_id", k=3).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, out2))

    def test_components_orthonormal_via_projected_cov(self, spark):
        import numpy as np

        from easydb_server_spark.operators.similarity import emb_pca

        df, x = self._corpus(spark)
        out = emb_pca(df, "embedding", "vec_id", k=4).collect()
        proj = {}
        for r in out:
            proj.setdefault(r.id, {})[r.pos] = r.value
        mat = np.array([[proj[i][p] for p in range(4)] for i in sorted(proj)])
        pc = np.cov(mat, rowvar=False, ddof=1)
        # off-diagonals vanish: components are cov-eigenvectors
        off = pc - np.diag(np.diag(pc))
        assert np.abs(off).max() < 1e-3

    def test_whitening_gives_unit_variance(self, spark):
        import numpy as np

        from easydb_server_spark.operators.similarity import emb_pca

        df, _ = self._corpus(spark)
        out = emb_pca(df, "embedding", "vec_id", k=3, whiten=True).collect()
        proj = {}
        for r in out:
            proj.setdefault(r.id, {})[r.pos] = r.value
        mat = np.array([[proj[i][p] for p in range(3)] for i in sorted(proj)])
        v = mat.var(axis=0, ddof=1)
        assert np.allclose(v, 1.0, atol=0.01)

    def test_invariants_all_zero(self, spark):
        from easydb_server_spark.operators.similarity import emb_pca_invariants

        df, x = self._corpus(spark)
        d = x.shape[1]
        rows = emb_pca_invariants(df, "embedding", "vec_id").collect()
        by_chk: dict = {}
        for r in rows:
            by_chk.setdefault(r.chk, []).append((r.pos, r.residual))
        assert len(by_chk["gram"]) == d and len(by_chk["rayleigh"]) == d
        assert len(by_chk["eig_order"]) == 1 and len(by_chk["isometry"]) == 1
        assert all(res == 0.0 for vals in by_chk.values() for _, res in vals)

    def test_invariants_zero_on_degenerate_spectrum(self, spark):
        # repeated eigenvalues make the eigenBASIS arbitrary (LAPACK
        # may return any rotation within the eigenspace) — the
        # invariants must hold for every valid basis, so an isotropic
        # corpus (all eigenvalues ~equal) is the adversarial case
        import numpy as np

        from easydb_server_spark.operators.similarity import emb_pca_invariants

        rng = np.random.default_rng(7)
        x = rng.normal(size=(150, 6))  # isotropic: near-degenerate spectrum
        rows = [(i, [float(v) for v in x[i]]) for i in range(150)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = emb_pca_invariants(df, "embedding", "vec_id").collect()
        assert all(r.residual == 0.0 for r in out)
