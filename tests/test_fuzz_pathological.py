"""Pathological-input differential fuzz for the text_* family (r8
verdict ask #7; crawl operators added per r9 ask #5): unicode (BMP),
empty and whitespace-only documents, single-token documents,
very-long-line documents — each drawn corpus runs line_dedup /
ngram_novelty / clip_spans / gopher_rules, plus (round 10)
html_extract (tag soup, entities, uppercase tags, attributes
containing '>', unclosed scripts), url_features (no scheme, IP hosts,
userinfo@, ports, empty paths), paragraph_dedup (null/empty/
whitespace docs, sep collisions), and gopher_repetition_rules
(single-word and all-duplicate docs, BOTH impls), and (round-10 late)
c4_rules (quote terminators, empty/whitespace pages, javascript/
lorem/brace/naughty flags), sentence_span_dedup (shared sentence
runs, punctuation-only sentences, unterminated tails), and
match_any_substrings (overlapping patterns, mixed case),
unigram_apply (pieces containing the toks separator, quotes in vocab
literals, unicode stripped by normalization, >24-char words), and
code_fraction (indent/terminator/keyword/operator line soup, fences,
nulls — heuristics pinned to the operator's constants) on Spark AND
each operator's DuckDB oracle over the SAME generated table; results
must agree bit-for-bit. Every drawn corpus also carries the fixed
pathological docs.

Alphabet note: BMP-only (≤ U+FFFF, no surrogates) — Spark's string
length counts UTF-16 code units while DuckDB counts codepoints, so
astral-plane characters (emoji) legitimately diverge on any
length-derived metric; the engine inherits the JVM convention and the
fuzz pins the common ground.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from easydb_server_spark.compare import canon_frame

# characters that exercise the operators' special paths: word/line
# separators, bullet markers, ellipses, hash symbols, stopword letters,
# accented/greek/CJK BMP unicode
_ALPHABET = "ab th#…•‣▪-*.\nλéß中 "

_token = st.text(alphabet=_ALPHABET.replace(" ", "").replace("\n", ""), min_size=1, max_size=6)
_sep = st.sampled_from([" ", "  ", "\n", " \n "])


@st.composite
def _doc(draw):
    toks = draw(st.lists(_token, min_size=0, max_size=12))
    if not toks:
        return ""
    seps = [draw(_sep) for _ in range(len(toks) - 1)]
    out = toks[0]
    for s, t in zip(seps, toks[1:]):
        out += s + t
    return out


# every drawn corpus ALSO contains these fixed pathological docs
_FIXED = [
    None,  # null text
    "",  # empty
    "   ",  # whitespace-only
    "\n\n\n",  # newline-only
    "solo",  # single token
    ("long " * 400).strip(),  # very long single line
    "dup\ndup\nuniq\ndup",  # intra-doc duplicate lines
    "the be to of and that have with",  # all stopwords
]


def _mk_corpus(spark, drawn: list[str]):
    texts = _FIXED + drawn
    rows = [
        (i, "src0" if i % 3 == 0 else f"src{1 + i % 2}", t)
        for i, t in enumerate(texts)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "text"])
    # Arrow-create the Spark side (r17): the list form parallelizes
    # into 32 Python-RDD partitions and every collect pays 32
    # Python-worker round trips — ~half of each drawn example's wall
    # time across this file's 13 tests x 50 examples
    sdf = spark.createDataFrame(pdf, "doc_id long, source string, text string")
    con = duckdb.connect()
    con.register("documents", pdf)
    return sdf, con


def _assert_match(sdf, odf, ctx):
    scols, srows = canon_frame(sdf)
    ocols, orows = canon_frame(odf)
    assert scols == ocols, ctx
    assert srows == orows, (ctx, next(((a, b) for a, b in zip(srows, orows) if a != b), None))


# r17 (driver pytest budget): 25 drawn corpora per operator by
# default — every example already carries all 8 FIXED pathological
# docs, so the fixed regressions replay on every run and the draws
# explore the alphabet space; FUZZ_EXAMPLES=50 restores the deep
# sweep for local runs.
import os as _os

_SETTINGS = dict(
    max_examples=int(_os.environ.get("FUZZ_EXAMPLES", "25")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# raw-text line_dedup oracle (the conformance entry builds synthetic
# multi-line docs; the fuzz needs the operator's semantics on ARBITRARY
# text, nulls included — null text → null counts AND null clean_text)
_LINE_DEDUP_SQL = """
WITH l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM documents),
kept AS (
  SELECT doc_id, text, ls,
         list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kl
  FROM l
)
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL ELSE array_to_string(kl, chr(10)) END AS clean_text,
       CAST(len(ls) AS INT) AS n_lines,
       CAST(len(ls) - len(kl) AS INT) AS n_removed
FROM kept ORDER BY doc_id
"""


@settings(**_SETTINGS)
@given(drawn=st.lists(_doc(), min_size=1, max_size=6))
def test_line_dedup_pathological(spark, drawn):
    from easydb_server_spark.operators.text import line_dedup

    sdf_in, con = _mk_corpus(spark, drawn)
    got = line_dedup(sdf_in, "text", "doc_id").orderBy("doc_id").toPandas()
    want = con.execute(_LINE_DEDUP_SQL).df()
    _assert_match(got, want, drawn)


@settings(**_SETTINGS)
@given(drawn=st.lists(_doc(), min_size=1, max_size=6))
def test_ngram_novelty_pathological(spark, drawn):
    import pyspark.sql.functions as F

    from easydb_server_spark.operators.text import ngram_novelty
    from easydb_server_spark.queries.llmops import ORACLE_TEXT_NGRAM_NOVELTY

    sdf_in, con = _mk_corpus(spark, drawn)
    ref = sdf_in.where(F.col("source") == "src0").select("doc_id", "text")
    corpus = sdf_in.where(F.col("source") != "src0").select("doc_id", "text")
    got = ngram_novelty(corpus, ref, "text", "doc_id", n=3).orderBy("doc_id").toPandas()
    want = con.execute(ORACLE_TEXT_NGRAM_NOVELTY).df()
    _assert_match(got, want, drawn)


@settings(**_SETTINGS)
@given(drawn=st.lists(_doc(), min_size=1, max_size=6))
def test_clip_spans_pathological(spark, drawn):
    import pyspark.sql.functions as F

    from easydb_server_spark.operators.dedup import clip_contaminated_spans
    from easydb_server_spark.queries.llmops import ORACLE_TEXT_CLIP_SPANS

    sdf_in, con = _mk_corpus(spark, drawn)
    bench = sdf_in.where(F.col("source") == "src0").select("doc_id", "text")
    corpus = sdf_in.where(F.col("source") != "src0").select("doc_id", "text")
    got = (
        clip_contaminated_spans(corpus, bench, "text", "doc_id", n=3)
        .where(F.col("n_removed") > 0)
        .orderBy("doc_id")
        .toPandas()
    )
    want = con.execute(ORACLE_TEXT_CLIP_SPANS).df()
    _assert_match(got, want, drawn)


@settings(**_SETTINGS)
@given(
    drawn=st.lists(_doc(), min_size=1, max_size=6),
    min_words=st.integers(0, 10),
)
def test_gopher_rules_pathological(spark, drawn, min_words):
    from easydb_server_spark.operators.text import gopher_rules
    from easydb_server_spark.queries.llmops import _oracle_gopher

    sdf_in, con = _mk_corpus(spark, [d for d in drawn])
    # gopher_rules length arithmetic needs non-null text (the operator
    # contract — batch/stream callers gate nulls at ingest)
    sdf_nn = sdf_in.where(sdf_in.text.isNotNull()).select("doc_id", "text")
    con.execute("CREATE OR REPLACE VIEW docs_nn AS SELECT doc_id, text FROM documents WHERE text IS NOT NULL")
    got = (
        gopher_rules(sdf_nn, "text", "doc_id", min_words=min_words, min_stopwords=1)
        .orderBy("doc_id")
        .toPandas()
    )
    want = con.execute(
        _oracle_gopher(min_words=min_words, min_stop=1).replace("FROM documents", "FROM docs_nn")
    ).df()
    _assert_match(got, want, (drawn, min_words))


# ---------------------------------------------------------------------------
# Round-10: the crawl-operator family (r9 verdict ask #5) — html_extract
# (tag soup, entities, uppercase, attributes containing '>', unclosed
# scripts), url_features (no scheme, IP hosts, userinfo@, ports, empty
# paths), paragraph_dedup (null/empty/whitespace docs, sep collisions),
# gopher_repetition_rules (single-word docs, all-duplicate docs).
# ---------------------------------------------------------------------------

_HTML_FRAG = st.one_of(
    st.text(alphabet="abXY 01é中.", min_size=1, max_size=8),
    st.sampled_from(
        ["&amp;", "&lt;", "&gt;", "&nbsp;", "&quot;", "&#39;", "&amp;lt;"]
    ),
    st.sampled_from(
        [
            "<p>", "</p>", "<P>", "</P>", "<DIV>", "</DIV>", "<li>", "</LI>",
            "<h3>", "</H3>", "<br>", "<BR/>", "<b>", "</b>", "<SPAN x=1>",
            '<a title="a>b">',  # attribute containing '>'
            "<!-- c -->", "<!--", "-->", "<", ">", "< notatag",
            "<script>var x;</script>", "<SCRIPT a=b>x < y</SCRIPT>",
            "<ScRiPt>mixed</sCrIpT>", "<script>never closed",
            "<style>p{}</style>", "<STYLE>q{}</STYLE>", "<style>open",
        ]
    ),
)

_HTML_FIXED = [
    None,
    "",
    "plain no tags",
    "<SCRIPT>var x = 1;</SCRIPT><P>Hello</P><BR>Bye",  # the r9-verdict replay
    "<!-- unclosed comment <p>swallowed</p>",
    '<a title="a>b">leak</a>',
    "<script>while(1){<div>}</script>tail",
]

_HTML_EXTRACT_SQL = r"""
WITH stripped AS (
  SELECT doc_id,
         len(regexp_extract_all(html, '<[^>]*>')) AS n_tags,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(html, '(?s)<!--.*?-->', '', 'g'),
                   '(?is)<script[^>]*>.*?</script>', '', 'g'),
                 '(?is)<style[^>]*>.*?</style>', '', 'g'),
               '(?i)<br[^>]*>', chr(10), 'g'),
             '(?i)</(p|div|h[1-6]|li|tr)>', chr(10), 'g'),
           '<[^>]*>', '', 'g') AS t
  FROM pages
),
unescaped AS (
  SELECT doc_id, n_tags,
         replace(replace(replace(replace(replace(replace(t,
           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', chr(39)), '&amp;', '&') AS t
  FROM stripped
),
collapsed AS (
  SELECT doc_id, n_tags,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[ \t]+', ' ', 'g'),
               ' ?\n ?', chr(10), 'g'),
             '\n{2,}', chr(10) || chr(10), 'g'),
           '^\s+|\s+$', '', 'g') AS clean_text
  FROM unescaped
)
SELECT doc_id, clean_text,
       CAST(length(clean_text) AS INT) AS n_chars,
       CAST(n_tags AS INT) AS n_tags
FROM collapsed ORDER BY doc_id
"""


@settings(**_SETTINGS)
@given(drawn=st.lists(st.lists(_HTML_FRAG, max_size=12).map("".join), min_size=1, max_size=5))
def test_html_extract_pathological(spark, drawn):
    from easydb_server_spark.operators.text import html_extract

    texts = _HTML_FIXED + drawn
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, html string")
    con = duckdb.connect()
    con.register("pages", pd.DataFrame(rows, columns=["doc_id", "html"]))
    got = html_extract(sdf, "html", "doc_id").orderBy("doc_id").toPandas()
    want = con.execute(_HTML_EXTRACT_SQL).df()
    _assert_match(got, want, drawn)
    # the load-bearing guarantee, independent of the oracle: script
    # bodies NEVER leak into clean text, any tag case
    for r in got.itertuples():
        if r.clean_text is not None:
            assert "var x" not in r.clean_text or "script" not in texts[r.doc_id].lower()


_URL_SCHEME = st.sampled_from(
    ["https://", "http://", "HTTP://", "ftp+x://", "", "//", "notascheme:", "1bad://"]
)
_URL_HOST = st.one_of(
    st.sampled_from(
        [
            "example.com", "spamexample.com", "ads.spamexample.com",
            "notspamexample.com", "10.0.0.1", "127.1", "h99x2.net",
            "user@example.com", "example.com:8080", "user:pw@h.io:99",
            "", "777", "xn--caf-dma.fr",
        ]
    ),
    st.text(alphabet="ab9.-", min_size=0, max_size=10),
)
_URL_TAIL = st.sampled_from(
    [
        "", "/", "/a/b/c", "//double//slash/", "/casino-bonus/p", "/CASINO",
        "/a?x=1&y=2&z", "/a?", "/a#frag", "/a?q=1#f", "/p%20q", "/.."
    ]
)

_URL_SQL = """
WITH parsed AS (
  SELECT doc_id, lower(url) AS u,
         regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS domain,
         regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
         regexp_extract(lower(url), '\\?([^#]*)', 1) AS query
  FROM urls
),
feats AS (
  SELECT doc_id, domain,
         regexp_extract(domain, '([^.]*)$', 1) AS tld,
         len(list_filter(string_split(path, '/'), x -> x != '')) AS path_depth,
         CASE WHEN query = '' THEN 0 ELSE len(string_split(query, '&')) END AS n_params,
         ROUND(CAST(length(domain) - length(regexp_replace(domain, '[0-9]', '', 'g')) AS DOUBLE)
               / GREATEST(length(domain), 1), 6) AS digit_frac,
         (domain = 'spamexample.com' OR suffix(domain, '.spamexample.com')) AS blocked_domain,
         contains(u, 'casino') AS blocked_keyword
  FROM parsed
)
SELECT doc_id, domain, tld,
       CAST(path_depth AS INT) AS path_depth,
       CAST(n_params AS INT) AS n_params,
       digit_frac, blocked_domain, blocked_keyword,
       (NOT blocked_domain AND NOT blocked_keyword) AS pass_url
FROM feats ORDER BY doc_id
"""


@settings(**_SETTINGS)
@given(
    drawn=st.lists(
        st.tuples(_URL_SCHEME, _URL_HOST, _URL_TAIL).map("".join),
        min_size=1,
        max_size=8,
    )
)
def test_url_features_pathological(spark, drawn):
    from easydb_server_spark.operators.text import url_features

    rows = [(i, u) for i, u in enumerate(drawn)]
    sdf = spark.createDataFrame(rows, "doc_id long, url string")
    con = duckdb.connect()
    con.register("urls", pd.DataFrame(rows, columns=["doc_id", "url"]))
    got = (
        url_features(
            sdf, "url", "doc_id",
            blocked_domains=("spamexample.com",),
            blocked_keywords=("casino",),
        )
        .orderBy("doc_id")
        .toPandas()
    )
    want = con.execute(_URL_SQL).df()
    _assert_match(got, want, drawn)


def _paragraph_dedup_sql(sep_sql: str) -> str:
    return f"""
WITH base AS (SELECT doc_id, string_split(text, {sep_sql}) AS ps FROM documents),
x AS (
  SELECT doc_id, t.i - 1 AS pos, ps[t.i] AS para
  FROM base, UNNEST(generate_series(1, len(ps))) t(i)
),
freq AS (SELECT para, COUNT(DISTINCT doc_id) AS n_docs FROM x GROUP BY para),
kept AS (
  SELECT x.doc_id, x.pos, x.para
  FROM x JOIN freq USING (para) WHERE freq.n_docs < 2
),
rebuilt AS (
  SELECT doc_id,
         STRING_AGG(para, {sep_sql} ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CASE WHEN b.ps IS NULL THEN NULL
            ELSE COALESCE(r.clean_text, '') END AS clean_text,
       CAST(len(b.ps) AS INT) AS n_paras,
       CAST(len(b.ps) - COALESCE(r.n_kept, 0) AS INT) AS n_removed
FROM base b LEFT JOIN rebuilt r ON r.doc_id = b.doc_id
ORDER BY b.doc_id
"""


@settings(**_SETTINGS)
@given(
    drawn=st.lists(_doc(), min_size=1, max_size=6),
    sep_idx=st.integers(0, 1),
)
def test_paragraph_dedup_pathological(spark, drawn, sep_idx):
    """Default '\\n\\n' sep AND the '\\n' line-collision mode the crawl
    pipeline runs (a '\\n\\n' in content is a sep-collision for it)."""
    from easydb_server_spark.operators.text import paragraph_dedup

    sep, sep_sql = [("\n\n", "chr(10) || chr(10)"), ("\n", "chr(10)")][sep_idx]
    sdf_in, con = _mk_corpus(spark, drawn)
    got = (
        paragraph_dedup(sdf_in, "text", "doc_id", min_docs=2, sep=sep)
        .orderBy("doc_id")
        .toPandas()
    )
    want = con.execute(_paragraph_dedup_sql(sep_sql)).df()
    _assert_match(got, want, (drawn, sep))


_REP_FIXED = [
    "solo",                       # single word: no grams at all
    "a a a a a a a a a a a a",    # all-duplicate: every fraction must stay <= 1
    "",
    "x\nx\nx\n\nx\nx",
    "ab " * 30 + "tail",
]


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(drawn=st.lists(_doc(), min_size=1, max_size=4))
def test_gopher_repetition_pathological(spark, drawn):
    from easydb_server_spark.operators.text import gopher_repetition_rules
    from easydb_server_spark.queries.llmops import _oracle_gopher_repetition

    texts = _REP_FIXED + [d for d in drawn if d is not None]
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("docs_nn", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(_oracle_gopher_repetition("text", "docs_nn")).df()
    got = gopher_repetition_rules(sdf, "text", "doc_id").orderBy("doc_id").toPandas()
    _assert_match(got, want, drawn)
    for col in got.columns:
        if col.endswith("_frac"):
            assert (got[col].dropna() <= 1.0).all(), col


# ---------------------------------------------------------------------------
# Round-10 late additions: the C4 family and the substring automaton.
# ---------------------------------------------------------------------------

_C4_SQL = """
WITH f AS (
  SELECT doc_id, text,
         string_split(text, chr(10)) AS ls,
         list_filter(string_split(text, chr(10)),
           x -> regexp_matches(trim(x), '[.!?"]$')
                AND len(list_filter(string_split(trim(x), ' '), w -> w != '')) >= 5
                AND NOT contains(lower(trim(x)), 'javascript')) AS kl
  FROM docs_nn
),
g AS (
  SELECT doc_id,
         COALESCE(array_to_string(kl, chr(10)), '') AS clean_text,
         len(ls) AS n_lines, len(kl) AS n_kept_lines,
         contains(lower(text), 'lorem ipsum') AS has_lorem,
         contains(lower(text), '{') AS has_brace,
         contains(lower(text), 'badness') AS has_naughty
  FROM f
)
SELECT doc_id, clean_text,
       CAST(n_lines AS INT) AS n_lines,
       CAST(n_kept_lines AS INT) AS n_kept_lines,
       CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS INT) AS n_sentences,
       has_lorem, has_brace, has_naughty,
       (len(regexp_extract_all(clean_text, '[.!?]')) >= 3
        AND NOT has_lorem AND NOT has_brace AND NOT has_naughty) AS pass_c4
FROM g ORDER BY doc_id
"""

# C4-flavored fragments: terminal/non-terminal lines, javascript,
# lorem ipsum, braces, quotes-as-terminators, whitespace padding
_C4_LINE = st.one_of(
    st.text(alphabet='ab c.!?"{} \t', min_size=0, max_size=20),
    st.sampled_from(
        [
            "one fine sentence with enough words.",
            "  padded terminal line with several words here.  ",
            'quoted line ending with several words here"',
            "no terminal punctuation in this line",
            "short one.",
            "a JavaScript mention with enough words here.",
            "lorem ipsum dolor sit amet padding.",
            "brace { line with enough words right here.",
            "badness carrying line with enough words here.",
        ]
    ),
)


@settings(**_SETTINGS)
@given(drawn=st.lists(st.lists(_C4_LINE, max_size=6).map("\n".join), min_size=1, max_size=5))
def test_c4_rules_pathological(spark, drawn):
    from easydb_server_spark.operators.text import c4_rules

    texts = ["", "   ", "\n\n", "solo."] + drawn
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("docs_nn", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = (
        c4_rules(sdf, "text", "doc_id", naughty_words=("badness",))
        .orderBy("doc_id")
        .toPandas()
    )
    want = con.execute(_C4_SQL).df()
    _assert_match(got, want, drawn)


_SENT_FRAG = st.one_of(
    st.text(alphabet="ab c.!?", min_size=0, max_size=15),
    st.sampled_from(
        [
            "shared one x.",
            "shared two x.",
            "shared three x.",
            "unique bit",
            "!!!",
            "tail with no punct",
        ]
    ),
)


@settings(**_SETTINGS)
@given(drawn=st.lists(st.lists(_SENT_FRAG, max_size=6).map(" ".join), min_size=1, max_size=5))
def test_sentence_span_dedup_pathological(spark, drawn):
    """Drawn docs share sentence runs often enough (fixed fragments)
    that duplicated 3-spans actually occur; keep='first' replayed."""
    from easydb_server_spark.operators.text import sentence_span_dedup
    from easydb_server_spark.queries.llmops import _span_dedup_sql

    fixed = [
        "",
        "no sentences at all",
        "shared one x. shared two x. shared three x. closer a.",
        "shared one x. shared two x. shared three x. closer b?",
        "a. b! c? d.",
    ]
    texts = fixed + drawn
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("raw", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = (
        sentence_span_dedup(sdf, "text", "doc_id", span=3, keep="first")
        .orderBy("doc_id")
        .toPandas()
    )
    sql = (
        "WITH src AS (SELECT doc_id, text AS t FROM raw),\n"
        + _span_dedup_sql("src")
    )
    want = con.execute(sql).df()
    _assert_match(got, want, drawn)


_MATCH_SQL = """
WITH d AS (SELECT doc_id, lower(text) AS t FROM docs_nn),
pats AS (SELECT * FROM (VALUES ('ab'), ('aba'), ('c.'), ('casino')) p(pat)),
hits AS (
  SELECT d.doc_id, COUNT(*) AS cnt
  FROM d JOIN pats p ON contains(d.t, p.pat),
       UNNEST(generate_series(1, len(d.t) - length(p.pat) + 1)) g(i)
  WHERE substr(d.t, g.i, length(p.pat)) = p.pat
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(h.cnt, 0) AS INT) AS n_matches,
       (COALESCE(h.cnt, 0) > 0) AS any_match
FROM d LEFT JOIN hits h USING (doc_id)
ORDER BY d.doc_id
"""


@settings(**_SETTINGS)
@given(drawn=st.lists(st.text(alphabet="abcABC. in", max_size=30), min_size=1, max_size=6))
def test_match_any_pathological(spark, drawn):
    from easydb_server_spark.operators.text import match_any_substrings

    texts = ["", "ababa", "aBAba CASINO", "c.c.c."] + drawn
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("docs_nn", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = (
        match_any_substrings(sdf, "text", "doc_id", ("ab", "aba", "c.", "casino"))
        .orderBy("doc_id")
        .toPandas()
    )
    want = con.execute(_MATCH_SQL).df()
    _assert_match(got, want, drawn)


# unigram tokenizer fuzz: pieces with punctuation, '|' in text (the
# toks separator — counts come from the fold counter / packed
# difference, never string splitting, so it must NOT corrupt them),
# quotes (oracle literal escaping), unicode (stripped by the shared
# ASCII normalization), >24-char words (truncation)
_UG_ALPHABET = "ab th#|'\"~é中 "
_ug_token = st.text(
    alphabet=_UG_ALPHABET.replace(" ", ""), min_size=1, max_size=30
)
_UG_VOCAB = {
    "ab": -3_000_000,
    "th": -3_500_000,
    "a": -4_000_000,
    "#": -2_000_000,
    "|": -2_500_000,
    "'": -2_600_000,
    "ab|": -1_500_000,
    "~~~~": -1_000_000,
}


@settings(**_SETTINGS)
@given(
    drawn=st.lists(
        st.lists(_ug_token, min_size=0, max_size=10).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
def test_unigram_tokenize_pathological(spark, drawn):
    from easydb_server_spark.operators.unigram import unigram_apply
    from easydb_server_spark.queries.llmops import _oracle_unigram

    sdf, con = _mk_corpus(spark, drawn + ["x" * 60, "|||", "'' \"\" ~~~~~"])
    got = unigram_apply(sdf, "text", "doc_id", _UG_VOCAB).orderBy("doc_id").toPandas()
    want = con.execute(_oracle_unigram(_UG_VOCAB)).df()
    _assert_match(got, want, "unigram_tokenize")


# code_fraction fuzz: line soup with indentation runs, terminator
# punctuation, keyword prefixes, operator tokens, unicode, and
# nulls — the oracle replays the SAME four heuristics (asserted
# against the operator's shared constants so they cannot drift)
_CODE_LINE = st.sampled_from(
    [
        "    deeply indented",
        "\tno tab is not enough",
        "x();",
        "close }",
        "import os",
        "return 5",
        "if cond:",
        "a => b",
        "a == b",
        "plain prose line",
        "…unicodé 中",
        "",
        "   ",
        "```",
        "for ever",  # keyword prefix without the trailing space shape
        "form letter",  # NOT a keyword ('for ' would be)
    ]
)

_CODE_FRACTION_SQL = r"""
WITH l AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM documents),
f AS (
  SELECT doc_id, text, CAST(len(ls) AS INT) AS n_lines,
         CAST(len(list_filter(ls, x ->
              regexp_matches(x, '^[ \t]{4,}')
           OR regexp_matches(x, '[;{}][ \t]*$')
           OR regexp_matches(x, '^(def |class |import |from |return |for |while |if |#include|function |var |const |let )')
           OR regexp_matches(x, '=>|==|!=|::|\(\)'))) AS INT) AS n_code_lines
  FROM l
)
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL ELSE n_lines END AS n_lines,
       CASE WHEN text IS NULL THEN NULL ELSE n_code_lines END AS n_code_lines,
       CASE WHEN text IS NULL THEN NULL
            ELSE ROUND(CAST(n_code_lines AS DOUBLE) / GREATEST(n_lines, 1), 6) END AS code_frac,
       CAST(CASE WHEN text IS NULL THEN NULL
                 ELSE contains(text, '```') END AS VARCHAR) AS has_fence
FROM f ORDER BY doc_id
"""


@settings(**_SETTINGS)
@given(
    drawn=st.lists(
        st.lists(_CODE_LINE, min_size=0, max_size=8).map("\n".join),
        min_size=1,
        max_size=5,
    )
)
def test_code_fraction_pathological(spark, drawn):
    from easydb_server_spark.operators.text import CODE_LINE_PATTERNS, code_fraction

    # the fuzz oracle inlines the heuristics; pin them to the operator
    assert CODE_LINE_PATTERNS == (
        r"^[ \t]{4,}",
        r"[;{}][ \t]*$",
        r"^(def |class |import |from |return |for |while |if |#include|function |var |const |let )",
        r"=>|==|!=|::|\(\)",
    )
    sdf, con = _mk_corpus(spark, drawn)
    import pyspark.sql.functions as F

    # nullable booleans canonicalize differently across pandas paths
    # (None vs NaN) — compare has_fence as its string form
    got = (
        code_fraction(sdf, "text", "doc_id")
        .withColumn("has_fence", F.col("has_fence").cast("string"))
        .orderBy("doc_id")
        .toPandas()
    )
    want = con.execute(_CODE_FRACTION_SQL).df()
    _assert_match(got, want, "code_fraction")


# ---------------- sketch family properties (r11, verdict ask #8) ----------------
#
# Example-based tests in test_sketch.py/test_bloom.py pin the happy
# paths; these hypothesis properties pin the THEOREMS at adversarial
# geometries: Bloom never false-negatives for any key set at any
# (m_bits, k); Count-Min only ever overestimates at any (depth,
# width); HLL union estimates are order-independent (merge
# commutativity/associativity — the property that makes per-shard
# sketch tables foldable in any order).

_sketch_key = st.text(
    alphabet=_ALPHABET.replace("\n", "") + "0123456789", min_size=0, max_size=8
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(_sketch_key, min_size=1, max_size=30),
    others=st.lists(_sketch_key, min_size=0, max_size=10),
    m_words=st.sampled_from([1, 2, 8]),  # m_bits 32/64/256: collision-dense
    k=st.integers(min_value=1, max_value=8),
)
def test_bloom_has_no_false_negatives_under_any_geometry(spark, keys, others, m_words, k):
    from easydb_server_spark.operators.bloom import bloom_build, bloom_probe

    m_bits = 32 * m_words
    kdf = spark.createDataFrame([(x,) for x in keys], "key string")
    bloom = bloom_build(kdf, "key", m_bits=m_bits, k=k)
    probes = spark.createDataFrame(
        [(i, x) for i, x in enumerate(keys + others)], "pid long, key string"
    )
    got = {
        r.key: r.maybe_member
        for r in bloom_probe(probes, "key", bloom, "pid", m_bits=m_bits, k=k).collect()
    }
    inserted = set(keys)
    missed = [x for x in inserted if not got[x]]
    assert missed == [], f"false negatives at m_bits={m_bits}, k={k}: {missed}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(_sketch_key, min_size=1, max_size=40),
    depth=st.integers(min_value=1, max_value=5),
    width=st.sampled_from([1, 2, 7]),  # near-degenerate: every bucket collides
)
def test_count_min_only_overestimates_under_any_geometry(spark, keys, depth, width):
    import pyspark.sql.functions as F

    from easydb_server_spark.operators.sketch import cm_build, cm_estimate

    df = spark.createDataFrame([(x,) for x in keys], "w string")
    cm = cm_build(df, "w", depth=depth, width=width)
    true = df.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    j = true.join(cm_estimate(cm, true, "w", depth=depth, width=width), "w").collect()
    assert len(j) == len(set(keys))
    under = [(r.w, r.est, r.c) for r in j if r.est < r.c]
    assert under == [], f"underestimates at depth={depth}, width={width}: {under}"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    groups=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3), _sketch_key),
        min_size=1,
        max_size=40,
    ),
    order_seed=st.integers(min_value=0, max_value=7),
)
def test_hll_union_estimate_is_order_independent(spark, groups, order_seed):
    import random

    from easydb_server_spark.operators.sketch import distinct_sketches, union_estimate

    df = spark.createDataFrame(groups, "grp int, key string")
    sketches = distinct_sketches(df, "key", "grp", lg_k=8).collect()
    base = union_estimate(
        spark.createDataFrame(sketches, distinct_sketches(df, "key", "grp", lg_k=8).schema)
    ).first()
    shuffled = list(sketches)
    random.Random(order_seed).shuffle(shuffled)
    got = union_estimate(
        spark.createDataFrame(shuffled, distinct_sketches(df, "key", "grp", lg_k=8).schema)
    ).first()
    assert got.distinct_estimate == base.distinct_estimate
    assert got.n_sketches == base.n_sketches
