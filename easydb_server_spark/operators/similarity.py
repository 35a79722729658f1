"""Approximate-nearest-neighbor similarity search over embeddings.

- :func:`topk_cosine_bruteforce` — exact cosine top-k: the correctness
  baseline. One broadcast of the (small) query set against the
  distributed corpus; per-partition partial top-k via window rank.
- :func:`topk_cosine_lsh` — random-hyperplane LSH bucketing: the scale
  path. Vectors hash to sign-bit buckets; candidates are restricted to
  matching buckets (multi-probe across bands), then re-ranked exactly.

Scale design: the corpus side never collects; buckets distribute by
hash key. Hyperplanes are deterministic (seeded), so results are
reproducible and the SQL oracle can inline the same planes.

The persisted IVF store (cell-partitioned vectors plus centroids) is
written, compacted and rebuilt through :mod:`easydb_server_spark.tables`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves postponed type hints against module globals
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from easydb_server_spark.functions.exactround import round_div
from easydb_server_spark.operators._localframe import local_frame
from easydb_server_spark.tables import keep_one_per_key, recover_staged, rewrite_table, write_table

LSH_PLANES = 8  # sign bits per vector → 256 buckets
LSH_SEED = 42


def lsh_planes(dim: int, n_planes: int = LSH_PLANES, seed: int = LSH_SEED) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (portable LCG, no numpy
    RNG state dependence)."""
    planes = []
    x = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (2**31)
            row.append((x / 2**31) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def topk_cosine_bruteforce(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    Query side is broadcast; ranking is a window over the (tiny)
    per-query candidate set. Ties broken by corpus id for determinism.
    """
    from pyspark.sql import Window

    c = corpus.select(F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cvec"))
    c = c.withColumn("cnrm", F.sqrt(_dot(F.col("cvec"), F.col("cvec"))))
    q = queries.select(F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qvec"))
    q = q.withColumn("qnrm", F.sqrt(_dot(F.col("qvec"), F.col("qvec"))))
    cos = _dot(F.col("cvec"), F.col("qvec")) / (F.col("cnrm") * F.col("qnrm"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid", F.round(cos, 6).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _sig_norm_udf(planes: list[list[float]]):
    """Arrow-batched (bucket, nrm) for a double-array vector column.

    One numpy matmul per Arrow batch (N×dim @ dim×planes) replaces
    n_planes interpreted zip_with/aggregate folds per row — the BLAS
    path embedding workloads need at 100 TB. Sign decisions match the
    fold-based oracle because |dot| for random data sits far (>1e-6)
    from the 1e-13 reordering noise floor.
    """
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64).T  # dim × n_planes
    weights = np.int64(1) << np.arange(P.shape[1], dtype=np.int64)

    @pandas_udf("struct<bucket: bigint, nrm: double>")
    def sig_norm(vecs: pd.Series) -> pd.DataFrame:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        bucket = (((M @ P) >= 0).astype(np.int64) * weights).sum(axis=1)
        nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
        return pd.DataFrame({"bucket": bucket, "nrm": nrm})

    return sig_norm


def _sig_norm_probes_udf(planes: list[list[float]], probes: int):
    """Query-side variant of :func:`_sig_norm_udf`: (buckets, nrm)
    where ``buckets`` is the base sign bucket plus the ``probes``
    nearest single-bit-flip buckets — standard multi-probe LSH.

    "Nearest" = the planes with the smallest |dot| margin: the
    hyperplanes the vector sits closest to are the ones whose sign a
    true neighbor most plausibly landed on the other side of. Margins
    are rounded to 6 decimals with plane-index tiebreak so the SQL
    oracle (ROW_NUMBER over ROUND(ABS(dot), 6), i) replays the exact
    probe set despite float summation-order noise.
    """
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64).T  # dim × n_planes
    weights = np.int64(1) << np.arange(P.shape[1], dtype=np.int64)

    @pandas_udf("struct<buckets: array<bigint>, nrm: double>")
    def sig_norm_probes(vecs: pd.Series) -> pd.DataFrame:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        D = M @ P
        base = ((D >= 0).astype(np.int64) * weights).sum(axis=1)
        # stable argsort: ties on the rounded margin break by plane idx
        flip_order = np.argsort(np.round(np.abs(D), 6), axis=1, kind="stable")
        buckets = [
            [int(b)] + [int(b) ^ (1 << int(i)) for i in row[:probes]]
            for b, row in zip(base, flip_order)
        ]
        nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
        return pd.DataFrame({"buckets": buckets, "nrm": nrm})

    return sig_norm_probes


def topk_cosine_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    dim: int = 64,
    probes: int = 2,
) -> DataFrame:
    """LSH-bucketed ANN with multi-probe: candidates share one of the
    query's probe buckets (its own sign-signature bucket plus the
    ``probes`` nearest single-bit-flip buckets); exact cosine re-rank
    inside the probed set.

    At 100 TB: corpus bucketed once (cheap narrow map), bucket key is
    the shuffle/join key, per-bucket candidate sets are small. The
    query side explodes to ``probes + 1`` rows per query BEFORE the
    broadcast — still tiny — and each corpus vector lives in exactly
    one bucket, so a (qid, cid) candidate pair appears at most once
    and needs no distinct. ``probes`` is the recall dial: each probe
    adds one bucket's worth of candidates (~|corpus| / 2^planes) per
    query, so candidate volume grows linearly in ``probes`` while
    recall climbs toward brute-force (measured in
    tests/test_operators.py::test_multiprobe_lsh_recall).
    """
    from pyspark.sql import Window

    planes = lsh_planes(dim)
    sig_norm = _sig_norm_udf(planes)
    sig_norm_probes = _sig_norm_probes_udf(planes, probes)
    c = corpus.select(F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cvec"))
    q = queries.select(F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qvec"))
    cb = c.withColumn("sn", sig_norm("cvec")).select(
        "cid", "cvec", F.col("sn.bucket").alias("bucket"), F.col("sn.nrm").alias("cnrm")
    )
    qb = (
        q.withColumn("sn", sig_norm_probes("qvec"))
        .select("qid", "qvec", F.col("sn.nrm").alias("qnrm"), F.explode("sn.buckets").alias("bucket"))
    )
    cos = _dot(F.col("cvec"), F.col("qvec")) / (F.col("cnrm") * F.col("qnrm"))
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid", F.round(cos, 6).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


# auto n_cells policy: bound the within-cell quadratic work by holding
# cell size near DEFAULT_TARGET_CELL_ROWS as the corpus grows; the cap
# keeps the broadcast centroid table small (65536 cells × 64 dims × 8 B
# ≈ 34 MB — at the cap, callers building billion-vector stores should
# size n_cells explicitly, e.g. FAISS-style ~4·√N)
DEFAULT_TARGET_CELL_ROWS = 128
MAX_AUTO_CELLS = 65536


def _resolve_n_cells(corpus: DataFrame, n_cells: int | None) -> int:
    """``n_cells=None`` → ``clamp(ceil(rows / target), 16, 65536)``.

    The r7 10× sweep measured semdedup's wall blowup at 6.0× with cells
    FIXED at 16 vs 3.5× with cells scaled 10× — the one operator whose
    scale safety depended on the caller remembering a dial. Auto-sizing
    makes bounded cell size the default; an explicit ``n_cells``
    overrides (the conformance queries pin 16 for oracle parity). Costs
    one corpus ``count()`` when auto — metadata-cheap on parquet.
    """
    if n_cells is not None:
        return int(n_cells)
    n = corpus.count()
    return int(min(max(16, -(-n // DEFAULT_TARGET_CELL_ROWS)), MAX_AUTO_CELLS))


def ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int | None = None,
    n_iters: int = 1,
) -> DataFrame:
    """Deterministic k-means centroids for IVF cells → (cell, centroid).

    ``n_cells=None`` auto-sizes to ``max(16, ceil(rows/128))`` capped
    at 65536 (:func:`_resolve_n_cells`) so cell population — and with
    it every downstream within-cell quadratic — stays bounded as the
    corpus grows without the caller setting a dial.

    Init: the ``n_cells`` vectors with the smallest md5(id) — a seeded
    pseudo-random sample spread across the corpus (portable: the SQL
    oracle replays the identical ordering), strictly better-dispersed
    than first-N ids, which inherit any insert-order locality.

    Lloyd iterations as pure DataFrame ops: assign = argmax of the
    rounded dot product (broadcast centroids, one narrow pass over the
    corpus), update = element-wise mean via posexplode → groupBy(cell,
    pos) → re-assembled array. Means are ROUNDed to 5 decimals so both
    engines agree bit-for-bit despite summation-order float drift
    (~1e-14 ≪ the rounding grid). Empty cells keep their previous
    centroid. Cell ids are the seed vectors' ids — stable across
    iterations.

    At 100 TB: each iteration is one broadcast join + two narrow
    shuffles of (cell, pos) pairs — centroids never leave the cluster,
    and n_cells·dim is tiny. k-means|| style oversampling would slot in
    here without changing the contract.
    """
    n_cells = _resolve_n_cells(corpus, n_cells)
    c = corpus.select(F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cvec"))
    seed = (
        c.withColumn("hk", F.md5(F.col("cid").cast("string")))
        .orderBy("hk", "cid")
        .limit(n_cells)
        .select(F.col("cid").alias("cell"), F.col("cvec").alias("centroid"))
    )
    # the bounded seed collect doubles as the dimension probe when
    # n_cells is small enough that the collect is trivially bounded;
    # only the rare large-n_cells case pays a separate first() probe
    if n_cells <= 64:
        seed_rows_probe = seed.collect()
        d = len(seed_rows_probe[0]["centroid"]) if seed_rows_probe else 0
    else:
        seed_rows_probe = None
        d_row = corpus.select(F.size(_as_double(F.col(vec_col))).alias("d")).first()
        d = int(d_row["d"]) if d_row is not None else 0
    if n_cells * d <= LITERAL_ASSIGN_MAX_KD:
        # r16 zero-exchange path: the seed is a bounded k x d collect
        # (the Spark MLlib KMeans driver shape), each Lloyd assignment
        # is a literal-centroid argmax projection (no crossJoin fan-out,
        # no window shuffle of corpus-width rows), and the update's
        # rounded (cell, pos) means — the SAME Spark aggregate as
        # before, so values are bit-identical — collect k x d rows and
        # merge with the previous centroids driver-side. The returned
        # frame is a LocalRelation: downstream broadcasts build from
        # local rows, and the eager localCheckpoint job disappears.
        seed_collected = (
            seed_rows_probe if seed_rows_probe is not None else seed.collect()
        )
        rows = [(r["cell"], list(r["centroid"])) for r in seed_collected]
        cell_type = seed.schema["cell"].dataType.simpleString()
        for _ in range(n_iters):
            assigned = _assign_cells(
                c, None, cent_rows=rows, cell_type=cell_type
            ).select("cid", "cvec", "cell")
            upd = (
                assigned.select("cell", F.posexplode("cvec").alias("pos", "val"))
                .groupBy("cell", "pos")
                .agg(F.round(F.avg("val"), 5).alias("m"))
                .collect()
            )
            by_cell: dict = {}
            for r in upd:
                by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
            rows = [
                (cell, [by_cell[cell][p] for p in range(len(prev))])
                if cell in by_cell
                else (cell, prev)
                for cell, prev in rows
            ]
        spark = corpus.sparkSession
        out = local_frame(
            spark,
            [(cell, vec) for cell, vec in rows],
            f"cell {cell_type}, centroid array<double>",
        )
        # driver-known rows ride along so _assign_cells skips the
        # probe/count/collect jobs entirely
        out._cent_rows = rows  # type: ignore[attr-defined]
        return out
    cents = seed
    for _ in range(n_iters):
        assigned = _assign_cells(c, cents).select("cid", "cvec", "cell")
        upd = (
            assigned.select("cell", F.posexplode("cvec").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("val"), 5).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda s: s["m"]).alias("centroid"))
        )
        cents = (
            cents.select("cell", F.col("centroid").alias("prev"))
            .join(upd, "cell", "left")
            .select("cell", F.coalesce("centroid", "prev").alias("centroid"))
        )
    # materialize once: cents feeds TWO broadcast branches downstream
    # (corpus assignment + query probing); without this each broadcast
    # re-executes the whole k-means DAG over the corpus
    return cents.localCheckpoint(eager=True)


# Plan-size bound for the literal-centroid assignment (the kmeans.py
# LITERAL_ARGMIN_MAX_KD rationale): below it the centroids enter the
# plan as ONE array<array<double>> literal and assignment is a pure
# zero-exchange projection; above it _assign_cells falls back to the
# broadcast-join + window formulation, which stays exact at any k*d.
LITERAL_ASSIGN_MAX_KD = 4096


def _collect_cent_rows(cents: DataFrame):
    """(cell, [float]) rows of a bounded centroid frame, sorted by
    cell id (the tie-break order every assignment uses)."""
    return sorted(
        ((r["cell"], list(r["centroid"])) for r in cents.select("cell", "centroid").collect()),
        key=lambda t: t[0],
    )


def _assign_cells(
    vecs: DataFrame,
    cents: DataFrame | None,
    id_col: str = "cid",
    vec_col: str = "cvec",
    top: int = 1,
    cent_rows: list | None = None,
    cell_type: str | None = None,
) -> DataFrame:
    """``top`` nearest cells per vector: rounded-dot ranking, ties by
    cell id. ``top=1`` = corpus assignment; ``top=nprobe`` = query
    probing — one implementation for every call site.

    r16: when the centroid table is driver-known (``cent_rows``, or a
    bounded ``cents`` under ``LITERAL_ASSIGN_MAX_KD``), assignment is a
    ZERO-EXCHANGE projection — the centroids enter the plan as one
    literal, per-row candidates are folded to an argmax (ties to the
    smaller cell id, exactly the window order) — instead of a
    crossJoin fan-out times n_cells plus a window shuffle that carried
    the full vector column. The rounded sim is normalized with +0.0 so
    a -0.0/+0.0 pair ties exactly as the sort-based order ties it.
    Past the bound the original broadcast-join + window form runs
    unchanged."""
    from easydb_server_spark.operators._litexpr import (
        argmax_sql,
        cell_cand_sql,
        supported_id_type,
        topn_cells_sql,
    )

    if cell_type is None and cents is not None:
        cell_type = cents.schema["cell"].dataType.simpleString()
    if cent_rows is None and cents is not None:
        attached = getattr(cents, "_cent_rows", None)
        if attached is not None:
            d = len(attached[0][1]) if attached else 0
            if 0 < len(attached) * d <= LITERAL_ASSIGN_MAX_KD:
                cent_rows = attached
    if (
        cent_rows is None
        and cents is not None
        and cell_type is not None
        and supported_id_type(cell_type)
    ):
        # literal dispatch needs k*d; probe one centroid row cheaply
        first = cents.select("centroid").first()
        if first is not None:
            d = len(first["centroid"])
            k_hint = cents.count()
            if k_hint * d <= LITERAL_ASSIGN_MAX_KD:
                cent_rows = _collect_cent_rows(cents)
    if cent_rows is not None and cell_type is not None and supported_id_type(cell_type):
        rows = sorted(cent_rows, key=lambda t: t[0])
        cand = cell_cand_sql("__vec", rows, cell_type)
        base = vecs.select(id_col, vec_col, F.col(vec_col).alias("__vec"))
        if top == 1:
            # fold argmax over cell-ascending candidates: keeping the
            # accumulator on ties IS the smaller-cell tie-break
            best = F.expr(argmax_sql(cand, f"'cell', CAST(NULL AS {cell_type})"))
            return base.select(id_col, vec_col, best.alias("__best")).select(
                id_col, vec_col, F.col("__best.cell").alias("cell")
            )
        ranked = F.expr(topn_cells_sql(cand, top))
        return base.select(
            id_col, vec_col, F.explode(ranked).alias("__c")
        ).select(id_col, vec_col, F.col("__c.cell").alias("cell"))
    from pyspark.sql import Window

    sim = _dot(F.col(vec_col), F.col("centroid"))
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("cell"))
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select(id_col, vec_col, "cell", F.round(sim, 6).alias("sim"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= top)
        .select(id_col, vec_col, "cell")
    )


def neardup_pairs_lsh(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    dim: int = 64,
    probes: int = 0,
) -> DataFrame:
    """LSH-bucketed embedding near-duplicate pairs — the scale path for
    ``dedup.embedding_neardup_pairs``'s brute-force baseline.

    Vectors sharing a sign-signature bucket pair up (a<b at the join),
    then exact cosine verifies in-row. The all-pairs expansion is
    confined to same-bucket collisions; with 8 planes a true near-dup
    at cosine ≥ 0.9 collides with probability (1 - θ/π)^8 ≈ 0.76 per
    band. ``probes > 0`` dials recall up with multi-probe: the LEFT
    side of the self-join additionally probes its ``probes``
    smallest-margin single-bit-flip buckets (same margin ranking as
    :func:`topk_cosine_lsh`), which recovers pairs whose signatures
    differ in one low-margin bit. Probing is applied symmetrically
    (either member reaching the other's bucket counts — a flip margin
    is a property of each vector, so one-sided probing would silently
    halve recall), and the resulting double-finds are collapsed by a
    distinct on the normalized pair — a shuffle bounded by the
    candidate count, which stays linear in ``probes``. The bucket id
    remains the shuffle key: pair generation distributes, nothing
    collects.
    """
    planes = lsh_planes(dim)
    sig_norm = _sig_norm_udf(planes)
    v = corpus.select(F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("vec"))
    b = v.withColumn("sn", sig_norm("vec")).select(
        "vid", "vec", F.col("sn.bucket").alias("bucket"), F.col("sn.nrm").alias("nrm")
    )
    y = b.alias("y")
    cos = _dot(F.col("x.vec"), F.col("y.vec")) / (F.col("x.nrm") * F.col("y.nrm"))
    if probes:
        sig_norm_probes = _sig_norm_probes_udf(planes, probes)
        x = (
            v.withColumn("sn", sig_norm_probes("vec"))
            .select(
                "vid", "vec", F.col("sn.nrm").alias("nrm"), F.explode("sn.buckets").alias("bucket")
            )
            .alias("x")
        )
        return (
            x.join(y, "bucket")
            .where(F.col("x.vid") != F.col("y.vid"))
            .select(
                F.least(F.col("x.vid"), F.col("y.vid")).alias("id_a"),
                F.greatest(F.col("x.vid"), F.col("y.vid")).alias("id_b"),
                F.round(cos, 6).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
            .distinct()
        )
    x = b.alias("x")
    return (
        x.join(y, "bucket")
        .where(F.col("x.vid") < F.col("y.vid"))
        .select(
            F.col("x.vid").alias("id_a"),
            F.col("y.vid").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _rank_probed(assigned: DataFrame, probed: DataFrame, k: int) -> DataFrame:
    """Shared IVF re-rank: cell-joined exact cosine + per-query top-k.
    ``assigned`` = (cid, cvec, cell) candidates; ``probed`` =
    (qid, qvec, cell) probe rows (broadcast). Used by both the
    in-memory and the persisted-store paths so their results can never
    diverge."""
    from pyspark.sql import Window

    cos = _dot(F.col("cvec"), F.col("qvec")) / (F.col("cnrm") * F.col("qnrm"))
    scored = (
        assigned.withColumn("cnrm", F.sqrt(_dot(F.col("cvec"), F.col("cvec"))))
        .join(
            F.broadcast(probed.withColumn("qnrm", F.sqrt(_dot(F.col("qvec"), F.col("qvec"))))),
            "cell",
        )
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "cid", F.round(cos, 6).alias("cosine"))
        .distinct()  # a candidate may appear via multiple probed cells
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def topk_cosine_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 3,
    n_cells: int | None = None,
    nprobe: int = 2,
    n_iters: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: corpus partitioned into cells by
    nearest-centroid; queries probe their ``nprobe`` closest cells and
    re-rank exactly inside them.

    Centroids come from :func:`ivf_centroids` (seeded sample +
    deterministic k-means refinement; ``n_cells=None`` auto-sizes to
    bounded cell population — see :func:`_resolve_n_cells`) unless a
    (cell, centroid) frame is passed in. At 100 TB the cell id is the
    partition/join key: the corpus is bucketed once, each query
    touches nprobe/n_cells of the data — the classic recall/cost dial.
    """
    c = corpus.select(F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cvec"))
    q = queries.select(F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qvec"))
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, vec_col, id_col, n_cells, n_iters)
    )
    assigned = _assign_cells(c, cents)
    probed = _assign_cells(q, cents, id_col="qid", vec_col="qvec", top=nprobe)
    return _rank_probed(assigned, probed, k)


def label_centroid_rows(corpus: DataFrame, vec_col: str, label_col: str) -> DataFrame:
    """Long-form per-label centroid: one ``(label, pos, m, n_vecs)`` row
    per vector element (element-wise mean ROUNDed to 5 decimals for
    cross-engine float parity, 0-based position, member count).

    Scalar columns only — the conformance harness canonicalizes result
    frames by hashing sorted cells and cannot hash array cells, so the
    oracle-checked query uses this shape (see queries/__init__.py's
    result-schema contract).

    posexplode → (label, pos) means: the shuffle carries
    (label, pos, partial-sum) triples, never whole vectors — the same
    trick as ivf_centroids' update step, linear at 100 TB.
    """
    v = corpus.select(F.col(label_col).alias("label"), _as_double(F.col(vec_col)).alias("vec"))
    return (
        v.select("label", F.posexplode("vec").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 5).alias("m"), F.count(F.lit(1)).alias("n_vecs"))
    )


def label_centroids(corpus: DataFrame, vec_col: str, label_col: str) -> DataFrame:
    """Per-label embedding centroid (array form) plus member count —
    class prototypes for classification/clustering QA over a labeled
    corpus. Wide wrapper over :func:`label_centroid_rows`; prefer the
    long form when the result must round-trip through scalar-only
    harnesses.
    """
    per_pos = label_centroid_rows(corpus, vec_col, label_col)
    return (
        per_pos.groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"),
            F.max("n_vecs").alias("n_vecs"),
        )
        .select("label", "n_vecs", F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )


def label_outliers(
    corpus: DataFrame,
    vec_col: str,
    label_col: str,
    id_col: str,
    bottom_frac: float = 0.1,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Embedding-outlier detection: flag the ``bottom_frac`` of each
    label's members ranked by cosine similarity to their own label
    centroid — the standard mislabeled/off-distribution pruning step
    for labeled training corpora.

    Scale shape: centroids are tiny (|labels| rows) and broadcast;
    cosine is the deterministic left-fold dot product over double-cast
    arrays (same expression as embedding_neardup_pairs, portable to
    the SQL oracle). ``exact=True`` (the oracle-able reference
    semantics): per-label ranking, one shuffle on the label key,
    outlier ⇔ rank ≤ ceil(frac·n) with vec_id tiebreak.
    ``exact=False`` (the 100 TB path for corpus-sized labels): one
    ``percentile_approx`` cosine threshold per label (partial-
    aggregable sketch, no per-label global sort), broadcast back,
    outlier ⇔ cos_centroid ≤ threshold — matches exact within the
    sketch's rank error (≤ 1/``accuracy``) plus threshold ties, and
    emits no rank/count columns because nothing is totally ordered.

    Zero-norm vectors (or an all-zero label centroid) get
    ``cos_centroid = 0.0`` instead of the NULL a raw division would
    yield — NULLs would sort last in the ascending rank (i.e. look
    MOST central) while DuckDB's list_cosine_similarity NaNs, so both
    sides pin the degenerate case to the same defined value.
    """
    from pyspark.sql import Window

    cents = label_centroids(corpus, vec_col, label_col).select("label", "centroid")
    v = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        _as_double(F.col(vec_col)).alias("vec"),
    )
    j = v.join(F.broadcast(cents), "label")
    nv = F.sqrt(_dot(F.col("vec"), F.col("vec")))
    nc = F.sqrt(_dot(F.col("centroid"), F.col("centroid")))
    cos = F.when(
        (nv > 0) & (nc > 0),
        F.round(_dot(F.col("vec"), F.col("centroid")) / (nv * nc), 6),
    ).otherwise(F.lit(0.0))
    scored = j.select("vec_id", "label", cos.alias("cos_centroid"))
    if not exact:
        thr = scored.groupBy("label").agg(
            F.percentile_approx("cos_centroid", bottom_frac, accuracy).alias("c_thr")
        )
        return scored.join(F.broadcast(thr), "label").withColumn(
            "outlier", F.col("cos_centroid") <= F.col("c_thr")
        )
    w = Window.partitionBy("label").orderBy(F.col("cos_centroid").asc(), F.col("vec_id"))
    wl = Window.partitionBy("label")
    return (
        scored.withColumn("rank_in_label", F.row_number().over(w))
        .withColumn("n_label", F.count(F.lit(1)).over(wl))
        .withColumn(
            "outlier", F.col("rank_in_label") <= F.ceil(F.lit(bottom_frac) * F.col("n_label"))
        )
    )


def quantize_embeddings(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the embedding
    compression step before a corpus-scale vector store ships to
    serving: q_i = round(127 · x_i / s) with s = max|x_i| per vector
    (the faiss/SQ8-style scalar quantizer). 4× smaller than float32
    with ≤ s/254 per-component error; the dequantized dot product is
    what ANN serving actually executes.

    Returns (vec_id, scale, qvec array<int>). Pure higher-order column
    expressions (transform / array_max / aggregate) — whole-stage
    codegen over the scan, zero shuffle, trivially parallel at any
    scale; the zero vector quantizes to all-zeros rather than NaN.
    """
    x = _as_double(F.col(vec_col))
    s = F.array_max(F.transform(x, lambda v: F.abs(v)))
    q = F.when(
        s > 0,
        F.transform(x, lambda v: F.round(F.lit(127.0) * v / s).cast("int")),
    ).otherwise(F.transform(x, lambda v: F.lit(0)))
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.round(s, 6).alias("scale"),
        q.alias("qvec"),
    )


def semdedup(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int | None = None,
    threshold: float = 0.9,
    n_iters: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by k-means
    cell then within-cell cosine — the embedding-space analogue of
    MinHash dedup, catching paraphrases and re-renderings that share
    no n-grams. A vector is DROPPED when its cell contains a
    higher-priority (smaller-id) vector with cosine ≥ ``threshold``;
    exactly one member of every within-cell duplicate set survives.
    Returns (vec_id, cell, keep) for the whole corpus.

    Scale shape — the reason the paper clusters first: the quadratic
    pair work is confined to single cells, and ``n_cells`` grows with
    the corpus so cell size stays bounded (the paper runs 50k clusters
    over 5B embeddings). ``n_cells=None`` (default) auto-sizes to
    ``max(16, ceil(rows/128))`` so the bounded-cell property holds
    WITHOUT the caller remembering the dial — the r7 10× sweep
    measured 6.0× wall blowup with cells fixed at 16 vs 3.5× with
    scaled cells (SCALE.md "Index-growth" + round-8 auto-cells rerun);
    an explicit value overrides (conformance pins 16 for oracle
    parity). Centroids come from the same deterministic
    seeded k-means as IVF (:func:`ivf_centroids` — broadcast, corpus
    never shuffled for assignment); the self-join shuffles on the cell
    id, so skew is bounded by the largest cell, the knob ``n_cells``
    controls. Cross-cell near-dups are the recall trade the paper
    accepts — measured there at <1% of pairs for reasonable k.
    """
    c = corpus.select(F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cvec"))
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, vec_col, id_col, n_cells, n_iters)
    )
    assigned = _assign_cells(c, cents).withColumn(
        "nrm", F.sqrt(_dot(F.col("cvec"), F.col("cvec")))
    )
    # lazy checkpoint: the assignment feeds BOTH sides of the cell
    # self-join and the final keep-flag projection; materializing it
    # once (at first action — no construction-time job) saves two
    # redundant assignment passes over the corpus
    assigned = assigned.localCheckpoint(eager=False)
    x, y = assigned.alias("x"), assigned.alias("y")
    cos = _dot(F.col("x.cvec"), F.col("y.cvec")) / (F.col("x.nrm") * F.col("y.nrm"))
    drops = (
        x.join(y, "cell")
        .where(F.col("y.cid") < F.col("x.cid"))
        .where(F.round(cos, 6) >= threshold)
        .select(F.col("x.cid").alias("cid"))
        .distinct()
    )
    return (
        assigned.join(drops.withColumn("_dropped", F.lit(True)), "cid", "left")
        .select(
            F.col("cid").alias("vec_id"),
            "cell",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
        )
    )


def incremental_embedding_neardup(
    spark,
    new_batch: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    threshold: float = 0.99,
    nprobe: int = 1,
) -> DataFrame:
    """Embedding near-duplicates of a new ingest batch against the
    persisted IVF store — the EMBEDDING half of the incremental-ingest
    story, completing the symmetry with the text indexes
    (``dedup.incremental_dedup`` exact / ``dedup.incremental_neardup``
    fuzzy / this, semantic). Returns (batch_id, corpus_id, cosine) for
    pairs at or above ``threshold``; callers reject or cluster, then
    :func:`append_to_ivf_store` the admitted vectors so the next batch
    sees them.

    Scale shape: the batch ranks the frozen centroids (broadcast,
    tiny), and only the probed cells' store partitions are read — the
    probe is the serving path's pruned scan, so per-batch cost is
    independent of total store size for fixed cell geometry; corpus
    embeddings are never rescanned. The exact-cosine verify is in-row
    over the candidate pairs (|batch| × probed-cell population).

    Recall note (the standard IVF trade): a true near-duplicate at
    cosine ≥ 0.99 lands in its twin's argmax cell almost surely, but a
    pair straddling a cell boundary needs ``nprobe > 1`` to be seen —
    the same dial, with the same meaning, as serving.
    """
    cents = spark.table(f"{table}_centroids")
    b = new_batch.select(
        F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qvec")
    )
    return embedding_neardup_probe(spark.table(table), cents, b, threshold, nprobe)


def embedding_neardup_probe(
    store: DataFrame,
    cents: DataFrame,
    batch: DataFrame,
    threshold: float,
    nprobe: int,
) -> DataFrame:
    """The probe core shared by :func:`incremental_embedding_neardup`
    (persisted store) and the side-effect-free conformance entry
    (in-memory assignment): ``store`` is (cell, cid, cvec), ``cents``
    is (cell, centroid), ``batch`` is (qid, qvec). The batch's probed
    cells gate the store through a broadcast semi-join BEFORE the pair
    join, so a partitioned store scans only those cells."""
    probed = _assign_cells(batch, cents, id_col="qid", vec_col="qvec", top=nprobe)
    store = store.join(
        F.broadcast(probed.select("cell").distinct()), "cell", "left_semi"
    )
    cos = _dot(F.col("cvec"), F.col("qvec")) / (F.col("cnrm") * F.col("qnrm"))
    return (
        store.withColumn("cnrm", F.sqrt(_dot(F.col("cvec"), F.col("cvec"))))
        .join(
            F.broadcast(
                probed.withColumn("qnrm", F.sqrt(_dot(F.col("qvec"), F.col("qvec"))))
            ),
            "cell",
        )
        .select(
            F.col("qid").alias("batch_id"),
            F.col("cid").alias("corpus_id"),
            F.round(cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()  # a pair may surface via multiple probed cells
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "id",
    k: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard way
    hybrid retrieval combines a lexical (BM25) and a dense (ANN) rank
    list without score calibration: fused = Σ_lists 1/(k + rank), an
    id absent from a list contributing 0. Returns the fused top
    ``topk`` with each source rank (-1 when absent).

    Scale shape: the inputs are already top-N rank lists — bounded,
    broadcastable frames — so the fusion is |lists|-way outer joins of
    tiny tables plus one TakeOrderedAndProject; the corpora behind the
    rank lists are never touched again. Determinism: ranks are
    integers, 1/(k+rank) is one double op, and the sum applies in
    list order, so an engine replaying the same rank lists fuses
    bit-identically.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one rank list")
    fused = None
    for i, r in enumerate(rankings):
        r2 = r.select(F.col(id_col).alias("id"), F.col("rank").cast("int").alias(f"rank_{i}"))
        fused = r2 if fused is None else fused.join(r2, "id", "full_outer")
    score = None
    for i in range(len(rankings)):
        part = F.coalesce(F.lit(1.0) / (F.lit(k) + F.col(f"rank_{i}")), F.lit(0.0))
        score = part if score is None else score + part
    return (
        fused.select(
            "id",
            *[F.coalesce(F.col(f"rank_{i}"), F.lit(-1)).alias(f"rank_{i}") for i in range(len(rankings))],
            F.round(score, 6).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col("id"))
        .limit(topk)
    )


def write_ivf_store(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    n_cells: int | None = None,
    n_iters: int = 1,
) -> None:
    """Persist the IVF serving artifact: the corpus assigned to cells
    and written PARTITIONED BY cell (``<table>``), plus the centroids
    (``<table>_centroids``). Built once per corpus — the vector-store
    ingest step; queries then touch only their probed cells'
    partitions (:func:`topk_cosine_ivf_store`).

    At 100 TB this is the ANN layout decision: cell = directory, so a
    probe reads nprobe/n_cells of the store via partition pruning —
    the same bytes an IVF index would touch — and the corpus
    embeddings are never rescanned per query batch.
    """
    cents = ivf_centroids(corpus, vec_col, id_col, n_cells, n_iters)
    c = corpus.select(F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cvec"))
    assigned = _assign_cells(c, cents)
    write_table(
        assigned.select("cell", "cid", "cvec", F.lit(0).cast("bigint").alias("seq")),
        table,
        partition_by="cell",
    )
    write_table(cents, f"{table}_centroids")


def append_to_ivf_store(
    spark,
    new_vectors: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    seq: int | None = None,
) -> int:
    """Incremental IVF-store ingest: assign the new vectors to the
    EXISTING centroids (broadcast — the store's cell geometry does not
    move) and append them to their cells' partitions. Returns the
    number of appended rows.

    This is the vector-store analogue of the dedup indexes'
    incremental append (``incremental_dedup`` / ``incremental_neardup``
    write-back): the corpus is never rescanned, the append touches
    only the new batch, and partition pruning on serve
    (:func:`topk_cosine_ivf_store`) keeps working because the
    partitioning column is unchanged. Each append stamps a
    monotonically-increasing ``seq`` so a re-ingested vector id
    (re-crawl/update) is resolvable at compaction — the NEWEST copy
    wins (:func:`compact_ivf_store`); until compaction both copies
    serve, which matches the append-only semantics of the dedup
    indexes. Repeated appends grow a file set per cell per batch;
    compact when file counts hurt, and watch
    :func:`ivf_store_stats` for assignment drift — appended data that
    no longer matches the trained cell geometry skews cell sizes, and
    past the dial the fix is a retrain (:func:`rebuild_ivf_store`),
    not another compaction.

    Legacy stores written before the ``seq`` column must be rebuilt
    (or compacted once) before appending — parquet appends require the
    existing schema.

    ``seq`` defaults to 1 + the store's current maximum (one cheap
    stats-only aggregate). Streaming callers pass their micro-batch id
    explicitly instead: a crash-replayed batch then re-appends rows
    under the SAME seq, so compaction's newest-seq-wins rule collapses
    the duplicates and replay stays idempotent
    (:func:`easydb_server_spark.streaming.ingest.stream_embedding_ingest`).
    """
    cents = spark.table(f"{table}_centroids")
    if "seq" not in spark.table(table).columns:
        raise ValueError(
            f"store {table!r} predates the seq column; run compact_ivf_store or rebuild"
        )
    nxt = (
        seq
        if seq is not None
        else spark.table(table)
        .agg(F.coalesce(F.max("seq") + 1, F.lit(0)).alias("s"))
        .collect()[0]["s"]
    )
    v = new_vectors.select(
        F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cvec")
    )
    assigned = _assign_cells(v, cents).select(
        "cell", "cid", "cvec", F.lit(nxt).cast("bigint").alias("seq")
    ).localCheckpoint(eager=True)
    (
        assigned.write.partitionBy("cell")
        .mode("append")
        .format("parquet")
        .saveAsTable(table)
    )
    return assigned.count()


def compact_ivf_store(spark, table: str) -> int:
    """Compact an append-mode IVF store: one row per vector id (the
    newest ``seq`` winning — the re-crawl update semantics), each cell
    partition rewritten to a bounded file count. Returns the kept row
    count.

    Serving results are unchanged by construction for stores without
    superseded ids (compaction only merges files), and move to the
    newest copy for stores with them. Crash-safe via
    :func:`~easydb_server_spark.tables.rewrite_table`; partition
    pruning survives because the rewrite keeps the ``cell``
    partitioning (locked across append/compact cycles by
    tests/test_ivf_lifecycle.py). A legacy store without ``seq`` gains
    the column (0) on the way.
    """
    recover_staged(spark, table)
    t = spark.table(table)
    if "seq" not in t.columns:
        t = t.withColumn("seq", F.lit(0).cast("bigint"))
    keep = keep_one_per_key(t, ["cid"], "seq", newest=True).select("cell", "cid", "cvec", "seq")
    return rewrite_table(keep, table, partition_by="cell")


def ivf_store_stats(spark, table: str, skew_threshold: float = 4.0) -> dict:
    """Cell-population stats + the documented RETRAIN TRIGGER for an
    append-mode IVF store.

    Returns ``{"n_cells", "n_rows", "max_cell", "avg_cell", "skew",
    "needs_retrain"}`` where ``skew = max_cell / avg_cell``. Appends
    assign against frozen centroids, so a drifting corpus piles into
    few cells; probe cost is proportional to the probed cells'
    population, so skew directly inflates tail latency. When ``skew >
    skew_threshold`` (default 4 — probing the hot cell costs 4× the
    average), retrain with :func:`rebuild_ivf_store`. One aggregate
    over the store's (cell) column — partition-pruned parquet metadata
    scale, no vectors read.
    """
    row = (
        spark.table(table)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_cell"),
            F.avg("n").alias("avg_cell"),
        )
        .collect()[0]
    )
    skew = float(row["max_cell"]) / max(float(row["avg_cell"]), 1e-9)
    return {
        "n_cells": row["n_cells"],
        "n_rows": row["n_rows"],
        "max_cell": row["max_cell"],
        "avg_cell": round(float(row["avg_cell"]), 2),
        "skew": round(skew, 3),
        "needs_retrain": skew > skew_threshold,
    }


def rebuild_ivf_store(
    spark,
    table: str,
    n_cells: int | None = None,
    n_iters: int = 1,
) -> None:
    """Centroid refresh: retrain the cell geometry on the store's
    CURRENT contents (newest copy per id) and rewrite both artifacts —
    the response to :func:`ivf_store_stats` tripping its skew dial.
    One pass over the stored vectors (orders of magnitude smaller than
    the source corpus text); both tables land via the crash-safe
    staged swap. ``n_cells=None`` re-auto-sizes to the grown corpus
    (:func:`_resolve_n_cells`) — the reason appending alone can't keep
    cell population bounded forever.

    Crash note: the two swaps are individually crash-safe but not
    jointly atomic — a crash BETWEEN them leaves a new-geometry store
    with old centroids (or vice versa). Recovery is simply rerunning
    the rebuild: everything derives from the store table's contents,
    never from the centroids table, so the rerun converges to a
    consistent pair.
    """
    recover_staged(spark, table)
    recover_staged(spark, f"{table}_centroids")
    vecs = keep_one_per_key(spark.table(table), ["cid"], "seq", newest=True)
    # localCheckpoint: vecs feeds the k-means seed, every Lloyd pass and
    # the assignment; materialized once, the newest-per-id window runs
    # once instead of once per pass over the store
    vecs = vecs.select("cid", "cvec").localCheckpoint(eager=True)
    cents = ivf_centroids(vecs, "cvec", "cid", n_cells, n_iters)
    assigned = _assign_cells(vecs, cents).select(
        "cell", "cid", "cvec", F.lit(0).cast("bigint").alias("seq")
    )
    rewrite_table(assigned, table, partition_by="cell")
    rewrite_table(cents, f"{table}_centroids")


def topk_cosine_ivf_store(
    spark,
    table: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """ANN serving against a persisted IVF store: queries rank the
    stored centroids (broadcast, tiny), the probed cell ids — a
    bounded driver list, nprobe × |queries| at most — push down as a
    partition filter on the cell-partitioned store, and the exact
    re-rank runs only over those partitions' vectors.

    Scale shape: the store scan is PRUNED to nprobe/n_cells of the
    data (PartitionFilters, locked by
    tests/test_operators.py::TestIvfStore) — query cost is independent
    of total store size for fixed cell geometry, the property that
    makes a 10-billion-vector store servable. Results are identical to
    the in-memory :func:`topk_cosine_ivf` under the same centroids.

    Driver-side bound assumption (standard for partition pruning): the
    probed cell ids are collected to build the partition filter, so
    the driver holds ≤ min(nprobe × |queries|, n_cells) ids. This
    serving path is for BATCH query sets (the normal ANN-serving
    shape). The filter lists the probed partitions in the scan itself,
    so skipping the other cells never depends on runtime pruning.
    """
    cents = spark.table(f"{table}_centroids")
    q = queries.select(F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qvec"))
    probed = _assign_cells(q, cents, id_col="qid", vec_col="qvec", top=nprobe)
    cells = [r.cell for r in probed.select("cell").distinct().collect()]
    store = spark.table(table).where(F.col("cell").isin(cells))
    return _rank_probed(store, probed, k)


def emb_covariance(
    df: DataFrame,
    vec_col: str,
    mean_scale: int = 10**7,
    prod_scale: int = 10**6,
) -> DataFrame:
    """Sample covariance matrix of an embedding column, distributed
    and BIT-DETERMINISTIC under any partitioning (the PageRank /
    ts_anomaly fixed-point discipline, :mod:`graph` lines 7-13):

    * **Pass 1** — exact means. Each Arrow batch emits one partial row
      (count, per-dimension INT64 sums of ``floor(x·mean_scale)``);
      integer sums are associative/commutative, so the d-row collect
      (bounded by embedding width, never the corpus) yields the SAME
      μ_i = Σq_i/(n·mean_scale) no matter how batches arrive.
    * **Pass 2** — centered fixed-point Gram. μ broadcasts; each batch
      quantizes every centered product ``floor((x_i−μ_i)(x_j−μ_j) ·
      prod_scale)`` to INT64 and emits the d² partial sums. One hash
      aggregate over partials (∝ #partitions·d², NOT corpus size),
      then a single float division ``qsum/((n−1)·prod_scale)`` and
      ROUND(…,5) — both pure functions of exact integers.

    The single-precision float summation the previous formulation used
    (float Gram partials summed in partition-arrival order, then the
    catastrophic-cancellation form ``G − n·μμ'``) flipped 5-decimal
    rounding boundaries across runs; with per-row quantization BEFORE
    any summation there is no order-dependent float add anywhere, so
    an independent engine replaying the same arithmetic (the DuckDB
    oracle does) agrees bit-for-bit on every run. Quantization shifts
    each cell by at most ``1/prod_scale`` (floor bias) — below the
    output rounding granularity.

    INT64 headroom at the defaults, |x|≲1: pass-1 sums ≤ n·10⁷ and
    pass-2 sums ≤ n·4·10⁶ → safe to n ≈ 10¹² vectors (≳100 TB of
    64-dim float32); lower the scales for wider-magnitude corpora.

    Returns (i, j, cov) — d² scalar rows, the driver-comparable shape.
    This is THE preprocessing statistic for embedding whitening / PCA
    (:func:`emb_pca`); nothing proportional to the corpus is ever
    shuffled (the naive per-row double explode shuffles N·d² rows).
    """
    s1, s2 = float(mean_scale), float(prod_scale)
    # INT64 guard (advisor r11): quantization silently WRAPS in numpy
    # when |x| blows past the documented headroom. Per-batch bound:
    # |x| <= xmax keeps |floor(x*s1)| and every |centered product*s2|
    # at least 2^12 batches away from 2^63 (batch rows <= ~2^17).
    xmax = float(np.sqrt(2.0**63 / (2.0**29 * s2)))

    def _check_magnitude(x):
        m = float(np.max(np.abs(x))) if x.size else 0.0
        if m > xmax:
            raise ValueError(
                f"emb_covariance: max|x|={m:.3g} exceeds the INT64 "
                f"fixed-point headroom ({xmax:.3g}) at prod_scale="
                f"{int(s2)}; lower mean_scale/prod_scale for "
                "wide-magnitude embeddings"
            )

    def mean_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            _check_magnitude(x)
            q = np.floor(x * s1).astype(np.int64)
            yield pd.DataFrame(
                [(len(x), q.sum(axis=0).tolist())], columns=["n", "qs"]
            )

    p1 = df.select(vec_col).mapInPandas(mean_partials, "n bigint, qs array<bigint>")
    mrows = (
        p1.select("n", F.posexplode("qs").alias("i", "q"))
        .groupBy("i")
        .agg(F.sum("q").alias("qsum"), F.sum("n").alias("n"))
        .collect()  # d rows — bounded by embedding width, not the corpus
    )
    if not mrows:
        spark = df.sparkSession
        return local_frame(spark, [], "i int, j int, cov double")
    d = len(mrows)
    n = int(mrows[0].n)
    if n < 2:
        # sample covariance undefined for n < 2 (and the exact-round
        # denominator 10*(n-1) would be zero)
        return local_frame(df.sparkSession, [], "i int, j int, cov double")
    mu = np.zeros(d)
    for r in mrows:
        mu[r.i] = r.qsum / (n * s1)
    bmu = df.sparkSession.sparkContext.broadcast(mu)

    def gram_partials(batches):
        m = bmu.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xc = x - m[None, :]
            # row-blocked so the temp is batch×d, never batch×d²
            g = np.empty((d, d), dtype=np.int64)
            for i in range(d):
                g[i] = (
                    np.floor((xc[:, i : i + 1] * xc) * s2).astype(np.int64).sum(axis=0)
                )
            yield pd.DataFrame([(g.ravel().tolist(),)], columns=["g"])

    p2 = df.select(vec_col).mapInPandas(gram_partials, "g array<bigint>")
    # Final rounding happens in exact BIGINT (half-away-from-zero ==
    # BigDecimal HALF_UP), NEVER on the double quotient: cov =
    # qsum/((n-1)*prod_scale) is a small-denominator rational that
    # lands on exact 5-decimal midpoints with probability ~1/(n-1) per
    # cell, and Spark/DuckDB round(double) tie-break DIFFERENTLY by
    # design (shortest-decimal HALF_UP vs binary value — the r10/r11
    # driver reds). round_div_sql decides the tie in integers; the
    # conformance oracle replays the identical formula.
    return (
        p2.select(F.posexplode("g").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum("v").alias("qsum"))
        .select(
            (F.col("idx") / d).cast("int").alias("i"),
            (F.col("idx") % d).cast("int").alias("j"),
            round_div("qsum", f"CAST({n - 1} AS BIGINT) * {int(s2)}", 5).alias("cov"),
        )
    )


def emb_pca(
    df: DataFrame, vec_col: str, id_col: str, k: int = 8, whiten: bool = False
) -> DataFrame:
    """PCA projection of an embedding column — the standard whitening
    / dimensionality-reduction step before ANN or SemDeDup. The
    covariance comes from :func:`emb_covariance`'s distributed
    reduction; the eigendecomposition runs on the DRIVER over the
    d×d matrix (bounded by embedding width², never the corpus — the
    same bounded-collect shape as the BPE top-K), components are
    sign-fixed for determinism (largest-|loading| element made
    positive), broadcast, and the projection is an Arrow-batched
    matrix multiply riding the corpus scan.

    ``whiten=True`` divides each component by √eigenvalue so the
    projected dimensions have unit variance — the form cosine-based
    consumers (SemDeDup, ANN) want, where otherwise the top component
    dominates every distance.

    Returns (id, pos, value): the k-dim projection exploded to scalar
    rows, components ordered by DESCENDING eigenvalue.
    """
    cov_rows = emb_covariance(df, vec_col).collect()
    d = max(r.i for r in cov_rows) + 1
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r.i][r.j] = r.cov
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    w = vecs[:, order]
    for c in range(w.shape[1]):
        lead = np.argmax(np.abs(w[:, c]))
        if w[lead, c] < 0:
            w[:, c] = -w[:, c]
    if whiten:
        ev = np.maximum(vals[order], 1e-12)
        w = w / np.sqrt(ev)[None, :]
    sc = df.sparkSession.sparkContext
    bw = sc.broadcast(w)

    def project(batches):
        wv = bw.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            proj = x @ wv
            out = []
            for rid, row in zip(pdf["id"], proj):
                for pos, v in enumerate(row):
                    out.append((rid, pos, round(float(v), 6)))
            yield pd.DataFrame(out, columns=["id", "pos", "value"])

    src = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
    )
    return src.mapInPandas(project, "id bigint, pos int, value double")


def emb_pca_invariants(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Driver-gradeable invariant check of :func:`emb_pca` — PCA's
    eigendecomposition is not SQL-expressible, so instead of replaying
    the factorization the oracle grades INVARIANTS that are exactly
    zero (at 6 dp) whenever the PCA path is correct, over whatever
    data the driver regenerated:

    * ``gram`` (one row per component j): max_i |(WᵀW − I)_ij| — the
      components are orthonormal (float error ~1e-15, rounds to 0).
    * ``rayleigh`` (per component j): |w_jᵀ C w_j − λ_j| over the SAME
      distributed covariance C the components were derived from —
      exact by the eigen equation, ~1e-13 in float.
    * ``eig_order`` (one row): max(0, max_j(λ_{j+1} − λ_j)) — the
      components are ordered by descending eigenvalue (exactly 0 by
      construction of the sort).
    * ``isometry`` (one row, DISTRIBUTED): with the full k = d
      rotation, per-corpus-row max of |‖Wᵀx‖² − ‖x‖²| — a square
      orthonormal projection preserves norms, so any defect in the
      broadcast, the Arrow batch alignment, or the matmul dtype makes
      this nonzero. Computed by the same mapInPandas projection path
      :func:`emb_pca` uses, per-row residuals rounded at 6 dp before
      the max so the aggregate is order-insensitive and exact.

    Returns (chk, pos, residual) rows; the oracle is the constant
    zero table over the same (chk, pos) grid (dimension read from the
    data, so regenerated fixtures with a different width still grade).
    """
    cov_rows = emb_covariance(df, vec_col).collect()
    d = max(r.i for r in cov_rows) + 1
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r.i][r.j] = r.cov
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    lam = vals[order]
    w = vecs[:, order]
    for c in range(w.shape[1]):
        lead = np.argmax(np.abs(w[:, c]))
        if w[lead, c] < 0:
            w[:, c] = -w[:, c]
    gram = np.abs(w.T @ w - np.eye(d))
    rows = [("gram", j, round(float(np.max(gram[:, j])), 6)) for j in range(d)]
    rows += [
        ("rayleigh", j, round(float(abs(w[:, j] @ cov @ w[:, j] - lam[j])), 6))
        for j in range(d)
    ]
    asc = float(np.max(lam[1:] - lam[:-1])) if d > 1 else 0.0
    rows.append(("eig_order", -1, round(max(0.0, asc), 6)))
    spark = df.sparkSession
    const = local_frame(spark, rows, "chk string, pos int, residual double")
    bw = spark.sparkContext.broadcast(w)

    def iso(batches):
        wv = bw.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            p = x @ wv
            res = np.abs((p * p).sum(axis=1) - (x * x).sum(axis=1))
            yield pd.DataFrame({"residual": np.round(res, 6)})

    iso_max = (
        df.select(F.col(vec_col).alias("vec"))
        .mapInPandas(iso, "residual double")
        .agg(F.round(F.coalesce(F.max("residual"), F.lit(0.0)), 6).alias("residual"))
        .select(
            F.lit("isometry").alias("chk"),
            F.lit(-1).cast("int").alias("pos"),
            "residual",
        )
    )
    return const.unionByName(iso_max)


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_cells: int | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """Recall@k of the IVF index against exact search — the quality
    dial every ANN deployment tunes (nprobe/n_cells trade recall for
    probe cost) turned into a first-class measurement: per query,
    |ivf_topk ∩ exact_topk| / k. Both sides are deterministic (rounded
    cosines, id tie-breaks), so recall itself is deterministic and an
    independent engine replaying both searches agrees exactly.

    Scale shape: the exact side is the brute-force broadcast scan
    (this is a MEASUREMENT operator — run it on a sampled query set,
    not the full corpus; the sample bound makes the cross join a
    broadcast of dozens of rows riding one corpus scan), the IVF side
    probes partition-pruned cells; the comparison is a leftsemi join
    on (qid, cid) pairs — k rows per query.
    """
    exact = topk_cosine_bruteforce(corpus, queries, vec_col, id_col, k)
    approx = topk_cosine_ivf(
        corpus, queries, vec_col, id_col, k=k, n_cells=n_cells, nprobe=nprobe
    )
    hits = (
        exact.join(approx.select("qid", "cid"), ["qid", "cid"], "leftsemi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = exact.select("qid").distinct()
    return qids.join(hits, "qid", "left").select(
        "qid",
        F.lit(k).cast("int").alias("k"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(k), 6).alias("recall"),
    )
