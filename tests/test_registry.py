"""Registry-contract locks: the driver's correctness harness verifies
a ~50-entry prefix of REGISTRY, so its composition is load-bearing —
an accidental reordering silently evicts entry 50 from driver
verification with no failure anywhere else. Since round 10 the window
is the explicit PRIORITY_WINDOW_NAMES list (REGISTRY is constructed
window-first), so these tests lock the LIST, not comment markers.

Round-17 window (new/changed first, then least driver evidence):
slots 1-26 are the r16-rewritten hot stack (the r16 verdict's ask #2:
its driver oracle evidence was one round stale after the r16 window
rotated away from it) plus every r17-optimizer-touched path, including
the NEW graph_pagerank_dist (same fixture/oracle as graph_pagerank,
dispatch pinned distributed so both sides get oracle evidence).
Slots 27-50 are the oldest-evidence cohort: entries in neither the
r15 nor the r16 correctness window, taken in _DEFS order.
"""

PRIORITY_WINDOW = 50


def test_priority_window_prefix_is_stable():
    from easydb_server_spark.queries import PRIORITY_WINDOW_NAMES, REGISTRY

    names = list(REGISTRY)
    assert len(PRIORITY_WINDOW_NAMES) == PRIORITY_WINDOW
    assert names[:PRIORITY_WINDOW] == list(PRIORITY_WINDOW_NAMES), (
        "REGISTRY must iterate the priority window first — its first "
        f"{PRIORITY_WINDOW} names must equal PRIORITY_WINDOW_NAMES"
    )
    assert len(set(names)) == len(names)


def test_window_holds_the_r17_rotation():
    import glob
    import json
    import os

    from easydb_server_spark.queries import REGISTRY, oracle_queries
    from tests.conftest import REPO

    window = list(REGISTRY)[:PRIORITY_WINDOW]
    # slots 1-26: r16-rewritten hot stack + r17-touched paths; locked
    # as a SET (an r17 fact, not an evidence computation)
    touched = {
        "curation_pipeline", "pq_adc_topk", "ivfpq_adc_topk",
        "sim_ivfpq_recall", "ivfpq_rerank", "graph_pagerank",
        "graph_pagerank_dist", "text_bpe_merges", "crawl_pipeline",
        "text_url_blocklist", "text_match_any", "multimodal_gif_frames",
        "video_keyframes", "dedup_image_neardup", "dedup_video_neardup",
        "text_gopher_repetition", "sim_incremental_neardup", "pq_codes",
        "dedup_incremental_fuzzy", "curate_dsir", "curation_pipeline_mm",
        "audio_landmark_incremental", "sim_semdedup", "emb_covariance",
        "stream_landmark_ingest", "join_nonequi",
        # NEW scale-tier entries (r16 verdict ask #6)
        "scale_scan_agg", "scale_shuffle_agg", "scale_text_hash",
    }
    assert set(window[:26]) | set(window[47:]) == touched
    # slots 27-50: the oldest-evidence cohort — entries in NEITHER the
    # r15 nor the r16 correctness window (goalpost fixed at rotation
    # time: files up to r16)
    recent: set[str] = set()
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(f.rsplit("_r", 1)[1].split(".")[0])
        if rnd not in (15, 16):
            continue
        with open(f) as fh:
            recent |= set(json.load(fh))
    fill = set(window[26:47])
    assert len(fill) == 21
    assert fill.isdisjoint(recent), fill & recent
    # every r17 window entry is value-checked against an oracle (no
    # rows-only slots this round)
    assert set(window) <= set(oracle_queries())


def test_every_query_has_unique_name_and_callable():
    from easydb_server_spark.queries import REGISTRY, oracle_queries, spark_queries

    assert len(spark_queries()) == len(REGISTRY)
    assert set(oracle_queries()) <= set(REGISTRY)
    assert all(callable(fn) for fn, _ in REGISTRY.values())


def test_full_tpch_coverage():
    """All 22 TPC-H queries are registered with oracles (Q1-Q22)."""
    from easydb_server_spark.queries import REGISTRY, oracle_queries

    have = {n for n in REGISTRY if n.startswith("tpch_q")}
    assert have == {f"tpch_q{i}" for i in range(1, 23)}
    assert have <= set(oracle_queries())


def test_never_driver_seen_entries_match_their_oracles(spark):
    """Between-rounds conformance for entries the driver has never
    verified (no row in any CORRECTNESS_r*.json): run the Spark query
    and its DuckDB oracle at sf0.001 and compare canonicalized frames.
    Catches an oracle regression in a brand-new entry immediately,
    instead of one round later when the rotated window reaches it.
    Shrinks to a no-op as driver evidence accumulates."""
    import glob
    import json
    import os

    import duckdb
    import pytest

    from easydb_server_spark.compare import canon_frame
    from easydb_server_spark.queries import REGISTRY
    from easydb_server_spark.queries._util import TABLES
    from tests.conftest import REPO, SF_DIR

    seen = set()
    for f in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(f) as fh:
            seen |= set(json.load(fh))
    fresh = [
        (name, fn, oracle)
        for name, (fn, oracle) in REGISTRY.items()
        if name not in seen and oracle is not None
    ]
    if not fresh:
        pytest.skip("every oracled entry has driver evidence")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    for name, fn, oracle in fresh:
        got = canon_frame(fn(spark, SF_DIR).toPandas())
        want = canon_frame(con.execute(oracle).df())
        assert got == want, f"{name}: spark result diverges from its DuckDB oracle"


def test_registry_results_have_scalar_columns_only(spark):
    """Driver-canonicalizer contract: result columns must be atomic.

    The driver sorts/hashes raw pandas cells; ArrayType/MapType/
    StructType cells raise ``TypeError: unhashable type`` there, so an
    array-valued query can never go green regardless of value
    correctness (emb_label_centroids, round 3). Building the DataFrame
    only triggers Spark analysis, not execution, so this walks the
    whole registry cheaply. Streaming entries are excluded — building
    them runs a real micro-batch (~10 s each); their scalar schemas
    are locked by test_streaming_recovery.py / the conformance sweep.
    """
    from pyspark.sql import types as T

    from easydb_server_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    complex_types = (T.ArrayType, T.MapType, T.StructType)
    bad = []
    for name, (fn, _) in REGISTRY.items():
        if name.startswith("stream_"):
            continue
        schema = fn(spark, SF_DIR).schema
        bad.extend(
            f"{name}.{f.name}: {f.dataType.simpleString()}"
            for f in schema.fields
            if isinstance(f.dataType, complex_types)
        )
    assert not bad, (
        "non-scalar result columns violate the driver canonicalizer "
        "contract: " + "; ".join(bad)
    )


def test_bench_headline_names_are_registry_entries():
    """A typo'd HEADLINE name only fails at bench runtime (KeyError in
    the driver's per-round bench run) — catch it in CI instead."""
    import bench

    from easydb_server_spark.queries import REGISTRY

    missing = [q for q in bench.HEADLINE if q not in REGISTRY]
    assert missing == [], missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no duplicates


def test_bench_stdout_line_fits_driver_tail_capture():
    """The driver records only the last 2000 chars of bench stdout;
    BENCH_r07.json came back `parsed: null` because the r7 line was
    3.6 kB. Lock the compact line (worst-case 2-dp medians) under the
    budget so adding headline queries can't silently break the round
    record again."""
    import json

    import bench

    worst = json.dumps(
        {
            "metric": f"headline suite (median of {bench.RUNS} warm runs)",
            "value": 99999.999,
            "unit": "sec",
            "fixed_core_sec": 99999.999,
            "probe_sec": 99.999,
            "probe2_sec": 99.999,
            "queries": {n: 99.99 for n in bench.HEADLINE},
            "sf": 0.001,
            "layout": "mrg",
        },
        separators=(",", ":"),
    )
    assert len(worst) <= 1900, (
        f"compact bench line would be {len(worst)} chars; trim HEADLINE "
        "or shorten the emitted form (driver tail capture is 2000)"
    )


def test_float_emitting_entries_are_repartition_invariant(spark):
    """Every oracled entry whose result carries a float column must
    produce the IDENTICAL canonicalized frame when its inputs are one
    partition and when they are 32 — i.e. no order-dependent float
    summation anywhere in the repo (the r10 ``emb_covariance`` flake:
    float Gram partials summed in partition-arrival order flipped a
    ROUND(…,5) boundary between driver runs). Inputs are repartitioned
    via the ``_util._REPARTITION`` dial so the sweep exercises real
    physical partitionings without touching query code; shuffle
    partitions vary in lockstep. Streaming entries are excluded (each
    builds a real micro-batch; their determinism is locked by
    tests/test_streaming_recovery.py's replay-equivalence checks).
    """
    from pyspark.sql import types as T

    from easydb_server_spark.compare import canon_frame
    from easydb_server_spark.queries import REGISTRY, _util, oracle_queries
    from tests.conftest import SF_DIR

    float_types = (T.FloatType, T.DoubleType, T.DecimalType)
    oracled = set(oracle_queries())
    targets = [
        (name, fn)
        for name, (fn, _) in REGISTRY.items()
        if name in oracled
        and not name.startswith("stream_")
        and any(
            isinstance(f.dataType, float_types)
            for f in fn(spark, SF_DIR).schema.fields
        )
    ]
    assert len(targets) >= 100  # the sweep must keep covering the registry

    def run(fn, parts):
        _util._REPARTITION = parts
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            return canon_frame(fn(spark, SF_DIR).toPandas())
        finally:
            _util._REPARTITION = None
            spark.conf.set("spark.sql.shuffle.partitions", "32")

    bad = [name for name, fn in targets if run(fn, 1) != run(fn, 32)]
    assert not bad, (
        "order-dependent float arithmetic: these entries' results "
        f"change with input partitioning: {bad}"
    )


def test_fixed_core_is_the_headline_prefix():
    """The fixed comparison core (r11 contract) must stay the exact
    PREFIX of HEADLINE in its declared order — suite position is part
    of the round-over-round comparability contract — and its
    composition must never change (hash-locked; a legitimate redesign
    updates this lock with an SCALE.md note)."""
    import hashlib

    import bench

    assert bench.HEADLINE[: len(bench.FIXED_CORE)] == bench.FIXED_CORE
    digest = hashlib.md5("|".join(bench.FIXED_CORE).encode()).hexdigest()
    assert digest == "f4ef9dab9d769943b1d79651208f66ed", digest


def test_parity_counts_match_registry():
    """PARITY.md is judge-facing conformance evidence; its §2.B counts
    must never lag the registry again (the r13 verdict found them two
    rounds stale). The lock: the exact counts sentence tracks _DEFS."""
    import os
    import re

    from easydb_server_spark.queries import REGISTRY, oracle_queries
    from tests.conftest import REPO

    with open(os.path.join(REPO, "PARITY.md")) as fh:
        parity = fh.read()
    m = re.search(r"(\d+)\nqueries, (\d+) with exact DuckDB oracles", parity)
    assert m, "PARITY.md no longer states the registry counts sentence"
    assert int(m.group(1)) == len(REGISTRY)
    assert int(m.group(2)) == len(oracle_queries())


def test_plans_md_rows_match_bench_headline():
    """r15 verdict finding #1: PLANS.md went one bench-tail rotation
    stale (image_phash_search benched with no plan row while rotated-
    out sim_hybrid_rrf kept one) because nothing tied the plan audit
    to the headline list. The lock: PLANS.md's table rows must be
    exactly bench.HEADLINE, in order — regenerate with
    `python tools/plan_audit.py` after any headline rotation."""
    import os
    import re

    import bench
    from tests.conftest import REPO

    with open(os.path.join(REPO, "PLANS.md")) as fh:
        plans = fh.read()
    rows = re.findall(r"^\| (\S+) \|", plans, re.M)
    rows = [r for r in rows if r not in ("query", "---")]
    assert rows == list(bench.HEADLINE), (
        "PLANS.md is stale vs bench.HEADLINE — run tools/plan_audit.py "
        f"(missing: {sorted(set(bench.HEADLINE) - set(rows))}; "
        f"extra: {sorted(set(rows) - set(bench.HEADLINE))})"
    )


def test_no_nested_function_is_copied_across_queries():
    """Every synthetic corpus has ONE generator: no two top-level
    functions in queries/ may define a nested function (a mapInPandas
    ``build`` closure, say) of 5+ lines with identical source. A
    second copy of a corpus recipe belongs in a shared module-level
    generator. AST only — no Spark."""
    import ast
    import glob
    import os
    import textwrap

    from tests.conftest import REPO

    owners: dict[str, set[str]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "easydb_server_spark", "queries", "*.py"))):
        src = open(path).read()
        for top in ast.parse(src).body:
            if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(top):
                if node is top or not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if node.end_lineno - node.lineno + 1 < 5:
                    continue
                body = textwrap.dedent(ast.get_source_segment(src, node, padded=True))
                owners.setdefault(body, set()).add(f"{os.path.basename(path)}:{top.name}")
    copied = sorted(sorted(o) for o in owners.values() if len(o) > 1)
    assert not copied, f"nested functions copied across top-level functions: {copied}"
