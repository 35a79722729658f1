"""Registry-wide rounding discipline (VERDICT r11 ask #2).

`ROUND(double, k)` is engine-ambiguous at exact k-decimal midpoints
(Spark: shortest-decimal HALF_UP; DuckDB: binary). Any comparator
column whose pre-round value is a SMALL-DENOMINATOR RATIONAL (count
ratios, averages, fixed-point quotients) must round in exact INT64 via
:mod:`easydb_server_spark.functions.exactround` on BOTH engines.

This test scans every `F.round(...)` call and every oracle `ROUND(...)`
whose argument contains a division and requires each hit to be in the
AUDITED whitelist below, tagged with WHY it is safe:

* ``grid``       — the pre-round value is already exactly on (or a
                   dyadic refinement of) the output decimal grid, so
                   rounding is the identity / has no ties to break.
* ``irrational`` — the value passes through sqrt/log/exp/stddev/corr
                   or generic double data: as a real it is (almost
                   surely) not a terminating (k+1)-decimal, so the two
                   engines' computed double is never the nearest double
                   to an exact midpoint.
* ``no-half``    — the value is a rational whose reduced denominator
                   provably cannot take the 2^(k+1)*5^j form required
                   for a k-decimal midpoint (e.g. denominator 3 or 16,
                   or an lcm with 2-adic valuation < k+1).
* ``huge-den``   — the rational's denominator is data-random and
                   >= ~1e9 (microsecond gaps), so midpoint probability
                   is < ~1e-5 per cell; documented residual risk.
* ``grid-diff``  — difference/sum of already-rounded grid values: as a
                   rational it stays ON the grid, never at a midpoint.

A NEW `F.round`/`ROUND` with a division that is not whitelisted fails
this test: either convert it to round_div/round_ratio/round_div_sql or
add it here WITH a category and one-line justification.
"""

from __future__ import annotations

import io
import pathlib
import re
import tokenize

ROOT = pathlib.Path(__file__).resolve().parent.parent / "easydb_server_spark"

# (path-suffix, argument-prefix-after-whitespace-normalization): category
AUDITED: dict[tuple[str, str], str] = {
    # --- python F.round sites ---
    ("operators/dedup.py", 'dot(F.col("x.vec"), F.col("y.vec")) / (F.col("x.nrm")'): "irrational",  # cosine over sqrt norms
    ("operators/dedup.py", "n_agree / F.lit(float(MINHASH_N))"): "grid",  # n/16 is dyadic at <= 4 fraction bits
    ("operators/pq.py", 'F.col("adc_units").cast("double") / F.lit(1000000.0)'): "grid",  # int/1e6 rounded AT 6 decimals
    ("operators/pq.py", 'F.col("exact_units").cast("double") / F.lit(1000000.0)'): "grid",  # rerank: same int/1e6 grid
    ("operators/profile.py", 'F.abs( F.col("_dc") / F.col("_nc").cast("double")'): "huge-den",  # dr=0 fallback: values ~1e12x density
    ("operators/profile.py", '(F.col("n") - mu) / sd'): "irrational",  # z-score over sqrt
    ("operators/similarity.py", '_dot(F.col("vec"), F.col("centroid")) / (nv * nc)'): "irrational",  # cosine over sqrt norms
    ("operators/similarity.py", "F.lit(127.0) * v / s"): "irrational",  # scale s is an L2 norm (sqrt)
    ("operators/similarity.py", 'F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(k)'): "no-half",  # k=10 at call sites: n/10 on the 6-dec grid
    ("operators/text.py", 'F.expr("percentile(mean_logprob, 1.0/3)")'): "irrational",  # interp over log-valued data
    ("operators/text.py", 'F.expr("percentile(mean_logprob, 2.0/3)")'): "irrational",
    ("operators/text.py", 'F.percentile_approx("mean_logprob", 1.0 / 3, accuracy)'): "irrational",
    ("operators/text.py", 'F.percentile_approx("mean_logprob", 2.0 / 3, accuracy)'): "irrational",
    ("operators/text.py", 'F.col("tf") * (F.log((F.col("n_docs") + 1.0)'): "irrational",  # log
    ("operators/text.py", 'F.col("log_ratio") / F.lit(float(temperature)) + gumbel'): "irrational",  # log-gumbel
    ("operators/unigram.py", 'F.log(F.col("cnt") / F.col("_tot")) * SCALE'): "irrational",  # log
    ("streaming/ingest.py", '(F.col("n") - mu) / sd'): "irrational",  # z-score over sqrt
    # --- oracle ROUND(...) sites (duckdb SQL text) ---
    ("functions/exactround.py", "qsum / ((n-1)*1e6)"): "grid",  # docstring prose, not SQL
    ("functions/exactround.py", "num / den, k"): "grid",  # docstring prose
    ("functions/exactround.py", "num/den, k"): "grid",  # docstring prose
    ("queries/functions_.py", "(exp(x) - exp(-x)) / 2"): "irrational",
    ("queries/functions_.py", "(exp(x) + exp(-x)) / 2"): "irrational",
    ("queries/functions_.py", "(exp(x) - exp(-x)) / (exp(x) + exp(-x))"): "irrational",
    ("queries/llmops.py", "SQRT(CAST(SUM(s * s) AS DOUBLE) / MAX(n))"): "irrational",
    ("queries/llmops.py", "SQRT(CAST(SUM(f * f) AS DOUBLE) / MAX(n))"): "irrational",
    ("queries/llmops.py", "SQRT(CAST(SUM(v * v) AS DOUBLE) / MAX(n))"): "irrational",
    ("queries/llmops.py", "(('0x' || substr(md5('v1:' || CAST(doc_id AS VARCHAR)"): "irrational",  # hash-derived uniform double
    ("queries/llmops.py", "AVG(LOG10(CAST(COALESCE(vc.c, 0) + 1 AS DOUBLE)"): "irrational",
    ("queries/llmops.py", "PERCENTILE_CONT(1.0/3) WITHIN GROUP"): "irrational",
    ("queries/llmops.py", "PERCENTILE_CONT(2.0/3) WITHIN GROUP"): "irrational",
    ("queries/llmops.py", "tf.tf * (LN((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0)"): "irrational",
    ("queries/llmops.py", "127.0 * x / s"): "irrational",  # s is an L2 norm
    ("queries/llmops.py", "SUM(CASE WHEN sb.minhash = sc.minhash THEN 1 ELSE 0 END) / {float(D.MI"): "grid",  # n/16 dyadic
    ("queries/llmops.py", "ABS(CAST(cp.dct AS DOUBLE) / cp.nrw - CAST(rp.dct AS DOUBLE)"): "huge-den",  # dr=0 fallback, mirrors profile.py
    ("queries/llmops.py", "COALESCE(1.0 / (60 + r0), 0.0) + COALESCE(1.0 / (60 + r1), 0.0)"): "no-half",  # RRF: denominators <= ~80 have 2-adic valuation <= 6 < 7
    ("queries/llmops.py", "AVG(log10( {lam!r} * (b.cb / u1.cu)"): "irrational",
    ("queries/llmops.py", "log_ratio / {temperature} + (-LN(-LN("): "irrational",
    ("queries/llmops.py", "COALESCE(SUM( log10((v.c_pos + 1) / (m.n_pos + m.v))"): "irrational",
    ("queries/llmops.py", "CAST(COALESCE(h.n, 0) AS DOUBLE) / 3"): "no-half",  # thirds are never halves
    ("queries/llmops.py", "(c.n - CAST(s.sum_n AS DOUBLE) / s.k) / SQRT("): "irrational",  # z-score
    ("queries/llmops.py", "CAST(adc_units AS DOUBLE) / 1000000.0"): "grid",
    ("queries/llmops.py", "CAST(exact_units AS DOUBLE) / 1000000.0"): "grid",
    ("queries/timeseries.py", "CASE WHEN t0 = epoch_us(gts) THEN v0 ELSE v0 + (v1 - v0)"): "huge-den",  # microsecond-gap denominator >= ~1e9
}


def _balanced_arg(s: str, start: int) -> str:
    depth, i = 1, start
    while depth and i < len(s):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
        i += 1
    return " ".join(s[start : i - 1].split())


def _code_text(p: pathlib.Path) -> str:
    """``p``'s source with every comment blanked in place (lines and
    columns kept), so a comment that describes a ROUND over a division
    is not taken for a site. Strings stay: oracle SQL lives in them."""
    src = p.read_text()
    lines = io.StringIO(src).readlines()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            (row, c0), (_, c1) = tok.start, tok.end
            lines[row - 1] = lines[row - 1][:c0] + " " * (c1 - c0) + lines[row - 1][c1:]
    return "".join(lines)


def _hits(pattern: str):
    pat = re.compile(pattern)
    out = []
    for p in sorted(ROOT.rglob("*.py")):
        s = _code_text(p)
        rel = str(p.relative_to(ROOT.parent)).replace("easydb_server_spark/", "", 1)
        for m in pat.finditer(s):
            arg = _balanced_arg(s, m.end())
            if "/" in arg:
                out.append((rel, arg, s[: m.start()].count("\n") + 1))
    return out


def _check(hits):
    unaudited = []
    for rel, arg, line in hits:
        ok = any(
            rel == path and arg.startswith(prefix) for (path, prefix) in AUDITED
        )
        if not ok:
            unaudited.append(f"{rel}:{line}: F.round/ROUND({arg[:90]}...)")
    assert not unaudited, (
        "round-with-division sites not in the audited whitelist — convert to "
        "exactround.round_div/round_ratio/round_div_sql or whitelist with a "
        "category:\n" + "\n".join(unaudited)
    )


def test_python_round_sites_audited():
    _check(_hits(r"F\.round\("))


def test_oracle_round_sites_audited():
    _check(_hits(r"\bROUND\("))


def test_whitelist_entries_still_exist():
    """Dead whitelist entries mean the site moved or was converted —
    prune them so the audit stays trustworthy."""
    hits = _hits(r"F\.round\(") + _hits(r"\bROUND\(")
    for (path, prefix), cat in AUDITED.items():
        assert any(
            rel == path and arg.startswith(prefix) for rel, arg, _ in hits
        ), f"stale whitelist entry ({path}, {prefix[:50]}...) [{cat}]"
