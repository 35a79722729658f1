"""Benchmark harness and the one per-query timing path of the repo.

``python bench.py`` times the headline queries at $SPARK_GRAFT_SF_DIR
(default DEFAULT_SF_DIR, the sf0.1 fixture, relaid out by tools/relayout.py) on
local[$SPARK_GRAFT_CPUS] (default 32) and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The tools (qtime, abtime, coverage_timings, capture_plans, plan_audit,
the relayout CLI) import the same path: ``fixture_dir`` and
``open_session`` set up, ``time_query`` runs one untimed warm pass and
then the timed noop-sink drains, ``summarize`` reduces the samples.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# FIXED COMPARISON CORE (r11, per the r10 verdict's ask #7): ~20
# queries — the TPC-H block plus one per operator family — that appear
# in EVERY future BENCH_rN, in THIS order, at the START of the suite
# (suite position affects JIT warmth, so position is part of the
# contract). The headline set around it may rotate as operators are
# added/trimmed; `fixed_core_sec` in the bench line is the
# round-over-round comparable number. NEVER reorder, rename, or remove
# entries from this list — append-only is also wrong (a growing core
# is not comparable); if an entry's operator is ever redesigned, note
# it in SCALE.md instead.
FIXED_CORE = [
    # composed TPC-H workloads (scan-agg, multi-join, top-k, EXISTS)
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q7",
    "tpch_q10",
    "tpch_q14",
    "tpch_q18",
    "tpch_q19",
    "tpch_q21",
    # one per operator family
    "agg_pricing_summary",  # multi-measure hash aggregation
    "join_inner_revenue",  # broadcast-dim star join
    "skew_salted_join",  # skew mitigation
    "ts_asof_join",  # time-series joins
    "dedup_minhash_pairs",  # fuzzy dedup (LSH end-to-end)
    "text_line_dedup",  # corpus-wide text dedup
    "text_gopher_rules",  # quality rule gates
    "sim_topk_lsh",  # ANN similarity
    "sim_semdedup",  # embedding clustering dedup
    "emb_quantize",  # embedding transforms
    "multimodal_audio",  # binary-modality codec path
    "graph_pagerank",  # iterative graph
    "curation_pipeline",  # composed multi-operator pipeline
]

# HEADLINE: FIXED_CORE first (never rotated), then one scale-path entry
# per remaining operator family — the variant a user would run at 100 TB
# (MinHash-LSH, not the exact all-pairs n-gram Jaccard that stays in the
# conformance suite as its correctness baseline). Entries with side
# effects stay out (pq_store_lifecycle writes warehouse tables, which
# the repeated runs should not time). Line-budget rule: the stdout line
# must fit BENCHLINE_BUDGET, so sub-second tail entries rotate out when
# new entries join; every rotated-out entry stays oracle-verified in the
# conformance registry and gets a BENCHCOVERAGE.md row
# (tools/coverage_timings.py ROTATED_OUT). The per-round rotation
# history is in CHANGES.md.
HEADLINE = FIXED_CORE + [
    "ts_resample_interp",
    "text_paragraph_dedup",
    "dedup_incremental_fuzzy",
    "text_bigram_logprob",
    "dedup_ngram_spans",
    "text_tfidf_keywords",
    "text_contamination_spans",
    "text_bpe_merges",
    "crawl_pipeline",
    "curate_dsir",
    "text_gopher_repetition",
    "text_ngram_novelty",
    "sim_incremental_neardup",
    "multimodal_features",
    "multimodal_audio_depths",
    "text_url_blocklist",
    "text_nb_quality",
    "text_match_any",
    "c4_pipeline",
    "emb_covariance",
    "text_unigram_tokenize",
    "multimodal_audio_g711",
    "multimodal_audio_analysis",
    "dedup_bloom_admits",
    "pq_adc_topk",
    "ivfpq_adc_topk",
    "multimodal_gif_frames",
    "sim_ivfpq_recall",
    "emb_kmeans_assign",
    "ivfpq_rerank",
    "dedup_image_phash",
    "dedup_image_neardup",
    "video_scene_cuts",
    "video_keyframes",
    "dedup_simhash",
    "dedup_video_neardup",
    "dedup_audio_landmark",
    "audio_landmark_search",
    "video_landmark_search",
    "image_phash_topk",
    "curation_pipeline_mm",
    "audio_landmark_topk",
    "audio_landmark_incremental",
    "scale_scan_agg",
    "scale_shuffle_agg",
    "scale_text_hash",
]

# per-query statistic: MEDIAN OF 5 warm runs, with the spread (max-min)
# recorded so a plan win is distinguishable from noise
RUNS = 5

# stage-heavy entries run median-of-9 with the trimmed spread.
# Membership rule (frozen): any headline entry whose spread exceeded
# 0.3x its median in either of the two preceding rounds joins; entries
# leave after two consecutive rounds back under.
RUNS_OVERRIDE = {
    "pq_adc_topk": 9,
    "ivfpq_adc_topk": 9,
    "dedup_bloom_admits": 9,
    "graph_pagerank": 9,
    "emb_kmeans_assign": 9,
    "sim_ivfpq_recall": 9,
}

# HOST-CALIBRATION PROBE: a fixed, fixture-independent JVM workload
# timed like the suite (one untimed warm pass, then median of RUNS).
# Its cross-round ratio is the host-share yardstick: if probe_rN /
# probe_rN-1 moved the same way as a query's delta, the delta is the
# host, not the code (SCALE.md "r14: r13 codec-bench regression
# attribution"). NEVER resize PROBE_ROWS or change the expression —
# cross-round comparability is the whole point; if the host class ever
# changes, add a NEW probe key instead of editing this one. Sized to
# ~1.1 s on the r15 reference host (32 threads; medians 0.45 / 0.66 /
# 1.14 s at 1.2 / 2.4 / 4.8 G rows — linear past the ~0.25 s
# scheduling floor, spread 0.04 s at this size).
PROBE_ROWS = 4_800_000_000


def _probe(spark) -> tuple[float, float]:
    """(median_sec, spread_sec) of the fixed calibration workload: a
    32-partition range scan with a mod/multiply/mod reduction — pure
    whole-stage-codegen CPU across all executor threads, no shuffle,
    no Python workers, no disk; deliberately the simplest shape that
    still scales with available host CPU share. The inner ``id %
    1000003`` keeps the ANSI-checked multiply inside INT64 at any row
    count, and bounds every summand below 1e9 so the sum stays exact."""
    from pyspark.sql import functions as PF

    agg = PF.sum(
        ((PF.col("id") % PF.lit(1000003)) * PF.lit(2654435761)) % PF.lit(1000000007)
    ).alias("s")

    def run() -> float:
        t0 = time.perf_counter()
        spark.range(0, PROBE_ROWS, 1, 32).select(agg).collect()
        return time.perf_counter() - t0

    run()  # warm (codegen compile + scheduler paths)
    samples = [run() for _ in range(RUNS)]
    return (
        round(statistics.median(samples), 3),
        round(max(samples) - min(samples), 3),
    )


# STAGE-HEAVY SCHEDULER PROBE (r15 verdict ask #3): the CPU probe is
# one 32-task stage of pure codegen arithmetic — by its own documented
# caveat it CANNOT feel scheduler/stage-launch drift, which is exactly
# where the r15 regression cluster sat (pq_adc_topk /
# emb_kmeans_assign / dedup_bloom_admits: iterative multi-stage plans,
# hundreds of short tasks). probe2 is the complementary yardstick: an
# ITERATIVE sequence of shuffling jobs whose per-task work is trivial,
# so its wall time is dominated by task-launch + stage-scheduling +
# shuffle-setup cost — the shape of the stage-heavy cluster. Same
# freeze rule as PROBE_ROWS: never resize PROBE2_* or the expression;
# if the host class changes, add a NEW key.
# Sized to ~1.8 s on the r16 reference host (2 x (256 map + ~32
# shuffle) task launches of ~8k trivial rows each; the first cut at
# 6 x 512 measured 10.3 s — pure scheduler time scales with launch
# count, confirming the workload is scheduler-bound — and was resized
# BEFORE the first official record so the freeze starts at this shape).
PROBE2_PARTS = 256   # map tasks per iteration
PROBE2_ROWS = 2_000_000
PROBE2_ITERS = 2     # sequential jobs -> 2 x (256 map + shuffle agg)


def _probe2(spark) -> tuple[float, float]:
    """(median_sec, spread_sec) of the frozen scheduler workload: 6
    sequential groupBy jobs over a 512-partition range, each task
    touching ~4k rows — >3k task launches per run with negligible
    compute, so the time measures the scheduler/stage path, not CPU."""
    from pyspark.sql import functions as PF

    def run() -> float:
        t0 = time.perf_counter()
        for i in range(PROBE2_ITERS):
            spark.range(0, PROBE2_ROWS, 1, PROBE2_PARTS).groupBy(
                ((PF.col("id") + PF.lit(i)) % PF.lit(997)).alias("k")
            ).agg(PF.count(PF.lit(1)).alias("n")).collect()
        return time.perf_counter() - t0

    # r17 (r16 verdict ask #10): probe2's own spread was ±50% of its
    # median at 5 samples — useless as an arbiter for the stage-heavy
    # cluster it exists to normalize. Median of 9 with the trimmed
    # spread (drop one high + one low), the same estimator the
    # RUNS_OVERRIDE cluster uses. The workload itself is FROZEN
    # (PROBE2_* unchanged); only the sample count/statistic changed,
    # which biases nothing (same unbiased median, more samples).
    run()  # warm
    samples = [run() for _ in range(9)]
    trimmed = sorted(samples)[1:-1]
    return (
        round(statistics.median(samples), 3),
        round(max(trimmed) - min(trimmed), 3),
    )


def fixture_dir() -> tuple[str, str, str]:
    """(source_dir, sf_dir, layout) for $SPARK_GRAFT_SF_DIR.

    The generated fixtures are single-row-group parquet, which caps any
    scan at ONE task (SCALE.md "Bench fixture layout"); ``sf_dir`` is
    their repo-local multi-file relayout (same rows/schema/codec), so
    timings measure the engine, not the fixture geometry. ``layout`` is
    "mrg" for the relayout, or "srg" when the rewrite failed and
    ``sf_dir`` is the source as given.
    """
    source_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    try:
        from tools.relayout import ensure_relayout

        return source_dir, ensure_relayout(source_dir), "mrg"
    except Exception:
        return source_dir, source_dir, "srg"


def open_session(app: str, sf_dir: str):
    """(spark, registry) on local[$SPARK_GRAFT_CPUS] (default 32), warmed.

    The warm-up runs one registry query (JVM, codegen and file-listing
    paths) and one pandas_udf, which starts the Python worker pool: the
    first pandas_udf query otherwise pays ~6.6 s of one-time worker and
    Arrow startup (SCALE.md "Python-worker warmup variance").
    """
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql.functions import col, pandas_udf

    from easydb_server_spark import get_spark
    from easydb_server_spark.queries import spark_queries

    spark = get_spark(app)
    qs = spark_queries()
    _drain(qs["core_distinct"](spark, sf_dir))

    @pandas_udf("double")
    def _noop_udf(s):
        return s

    spark.range(64).select(_noop_udf(col("id").cast("double"))).count()
    return spark, qs


def _drain(df) -> None:
    """Execute the full plan into the noop sink (no result transfer)."""
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, fn, sf_dir: str, label: str, runs: int = RUNS, warm: bool = True) -> list[float]:
    """Wall seconds of ``runs`` drains of ``fn(spark, sf_dir)``, plan
    construction included. The untimed warm pass first pays the
    one-time costs (codegen compile, broadcast build, scan listing, the
    workers' numpy import) that would otherwise land in the first
    sample as spread."""
    sc = spark.sparkContext
    if warm:
        sc.setJobDescription(f"warm {label}")
        _drain(fn(spark, sf_dir))
    sc.setJobDescription(label)
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        _drain(fn(spark, sf_dir))
        samples.append(time.perf_counter() - t0)
    return samples


def summarize(samples: list[float]) -> tuple[float, float]:
    """(median, spread) at 3 dp. Spread is max-min; above RUNS samples
    it drops the single highest and lowest first, since a lone
    scheduler spike is expected in 9 samples and the raw range would
    grow with the extra runs that exist to suppress it."""
    kept = sorted(samples)[1:-1] if len(samples) > RUNS else samples
    return round(statistics.median(samples), 3), round(max(kept) - min(kept), 3)


def main() -> None:
    source_dir, sf_dir, layout = fixture_dir()
    spark, qs = open_session("easydb-bench", sf_dir)

    # calibration probes FIRST (suite position is part of their
    # contract, like the fixed core's): CPU probe, then the
    # stage-heavy scheduler probe
    probe_sec, probe_spread = _probe(spark)
    probe2_sec, probe2_spread = _probe2(spark)

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    for name in HEADLINE:
        samples = time_query(spark, qs[name], sf_dir, f"bench:{name}", RUNS_OVERRIDE.get(name, RUNS))
        timings[name], spread[name] = summarize(samples)
    spark.sparkContext.setJobDescription(None)

    total = round(sum(timings.values()), 3)
    fixed_core_sec = round(sum(timings[n] for n in FIXED_CORE), 3)
    sf = source_dir.rstrip("/").rsplit("sf", 1)[-1].removesuffix("-mrg")
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full detail goes to BENCHDETAIL.md; stdout gets the compact line
    # that must fit BENCHLINE_BUDGET (the 3.6 kB r7 line was recorded as
    # `parsed: null` in BENCH_r07.json).
    detail = {
        "metric": f"headline-suite wall-clock (median of {RUNS} warm runs per query)",
        "value": total,
        "unit": "sec",
        "fixed_core_sec": fixed_core_sec,
        "fixed_core": FIXED_CORE,
        "probe_sec": probe_sec,
        "probe_spread": probe_spread,
        "probe_rows": PROBE_ROWS,
        "probe2_sec": probe2_sec,
        "probe2_spread": probe2_spread,
        "probe2_shape": f"{PROBE2_ITERS} sequential groupBy jobs x {PROBE2_PARTS} map tasks over {PROBE2_ROWS} rows",
        # entries above the default run count report the TRIMMED spread
        "runs_per_query": {"default": RUNS, **RUNS_OVERRIDE},
        "queries_per_probe": {
            k: round(v / probe_sec, 3) for k, v in timings.items()
        },
        "queries_per_probe2": {
            k: round(v / probe2_sec, 3) for k, v in timings.items()
        },
        "queries": timings,
        "spread": spread,
        "sf": sf_val,
        "layout": (
            f"multi-row-group relayout of {source_dir} (tools/relayout.py)"
            if layout == "mrg"
            else "single-row-group fixture, as given"
        ),
    }
    detail_path = Path(_REPO) / "BENCHDETAIL.md"
    detail_path.write_text(
        "# Bench detail (latest local run)\n\n"
        "Written by `bench.py` on every run. The stdout line keeps only\n"
        "compact 2-dp medians (driver tail capture is 2000 chars —\n"
        "BENCH_r07.json lesson); the full record, including per-query\n"
        "spread (max−min of the timed runs) and the fixture layout used,\n"
        "lives here.\n\n"
        "## Cross-round attribution rule (r15, productizing the r13/r14\n"
        "host-drift studies)\n\n"
        "`probe_sec` times a FROZEN fixture-independent JVM workload;\n"
        "`queries_per_probe` is each query's median divided by it. To\n"
        "read a cross-round per-query delta: compare the two rounds'\n"
        "`queries_per_probe` values, not raw seconds. A delta is\n"
        "auto-attributed to the HOST (no worktree A/B needed) when the\n"
        "probe-normalized ratio moved less than the probe's own drift\n"
        "band — measured same-day spread is ±5% on the probe and ±10%\n"
        "on suite totals (SCALE.md 'r15 final validation state'), so\n"
        "treat probe-normalized ratios within ×0.85–1.15 as host/noise\n"
        "and only investigate beyond that. Caveat: the probe is pure\n"
        "CPU — it deliberately does NOT absorb IO/scheduler-share\n"
        "drift, which is why the band is wider than the probe's own\n"
        "spread.\n\n"
        "## Which probe arbitrates which query (r16, verdict ask #3)\n\n"
        "`probe2_sec` times a FROZEN iterative scheduler workload\n"
        "(>3k trivial task launches per run) — the shape the CPU probe\n"
        "cannot feel. Rule: SCAN/CPU-BOUND queries (TPC-H, text/codec\n"
        "map stages — plans dominated by a few long stages) normalize\n"
        "against `probe_sec`; STAGE-HEAVY ITERATIVE queries (the\n"
        "`runs_per_query` override cluster: pq_adc_topk,\n"
        "ivfpq_adc_topk, emb_kmeans_assign, dedup_bloom_admits,\n"
        "graph_pagerank, sim_ivfpq_recall — plans of many short\n"
        "stages) normalize against `probe2_sec` via\n"
        "`queries_per_probe2`. The same ×0.85–1.15 noise band applies;\n"
        "a stage-heavy delta is host-attributed only when probe2 moved\n"
        "with it.\n\n```json\n" + json.dumps(detail, indent=1) + "\n```\n"
    )

    line = json.dumps(
        {
            "metric": f"headline suite (median of {RUNS} warm runs)",
            "value": total,
            "unit": "sec",
            "fixed_core_sec": fixed_core_sec,
            # host-calibration yardstick (see _probe): divide a query's
            # cross-round delta by the probe's before reading it as code
            "probe_sec": probe_sec,
            "probe2_sec": probe2_sec,
            "queries": {k: round(v, 2) for k, v in timings.items()},
            "sf": sf_val,
            # "mrg" = relayout, "srg" = the fixture as given
            "layout": layout,
        },
        separators=(",", ":"),
    )
    # hard guard: the driver tail-captures 2000 chars; leave margin for
    # a trailing newline and any stray stdout after us
    BENCHLINE_BUDGET = 1900
    if len(line) > BENCHLINE_BUDGET:
        # drop to integer-centisecond values (shorter than 2-dp floats:
        # no "0." prefix), then to total-only — a parseable partial
        # record always beats a truncated full one
        line = json.dumps(
            {
                "metric": f"headline suite (median of {RUNS} warm runs)",
                "value": total,
                "unit": "sec",
                "fixed_core_sec": fixed_core_sec,
                "probe_sec": probe_sec,
                "unit_queries": "centisec",
                "queries": {k: int(round(v * 100)) for k, v in timings.items()},
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    if len(line) > BENCHLINE_BUDGET:
        line = json.dumps(
            {
                "metric": "headline suite",
                "value": total,
                "unit": "sec",
                "fixed_core_sec": fixed_core_sec,
                "probe_sec": probe_sec,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    print(line)


if __name__ == "__main__":
    main()
