"""Product quantization for embedding stores (Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search") — the memory side
of the ANN story the IVF index (operators/similarity.py) leaves open:
IVF prunes WHICH vectors a query scores; PQ shrinks WHAT each stored
vector costs. Splitting a d-dim vector into ``m`` subspaces and
quantizing each to one of ``k`` centroids stores ``m`` small codes
instead of d floats — m=4, k=16 over the 64-dim test embeddings is
4 codes vs 64 floats (64×), and the asymmetric-distance ranking never
reconstructs: scores are sums of ``m`` table lookups.

This implementation quantizes in INNER-PRODUCT space, matching the
repo's cosine/dot similarity stack end-to-end: the dot product
decomposes EXACTLY across subspaces (``dot(q, x̂) = Σⱼ dot(qⱼ, cⱼ)``
where x̂ is the reconstruction), so ADC scoring is not an extra
approximation on top of quantization — it IS the reconstructed dot.
Assignment uses the same rounded-dot-argmax + deterministic-seed
k-means as :func:`~easydb_server_spark.operators.similarity.
ivf_centroids` (init = the k vectors with the smallest md5(id) per
subspace; Lloyd update = per-position rounded mean; empty cells keep
their previous centroid), so a DuckDB oracle replays codebook,
codes, and every ADC score bit-for-bit.

Scale shape: training touches (sub, cid, subvec) rows — ``m`` narrow
rows per vector — through one broadcast join (the codebook is m·k
rows, KBs) and one (sub, cell, pos) mean shuffle per Lloyd iteration;
nothing wider than a subvector ever shuffles. Encoding is the same
broadcast-argmax, map-only after the explode. ADC fans the encoded
corpus to (id, sub, code) rows, joins the broadcast query LUT
(q·m·k rows), and partial-aggregates the per-(qid, id) sums
map-side — the corpus is scanned once per query batch and only
(qid, id, partial-sum) rows shuffle. Top-k lands in a per-qid window
over k-bounded rows, and the caller composes with IVF pruning when
the corpus is cell-partitioned.

The persisted store (codes partitioned by bucket plus its codebook) is
written from scratch and compacted through
:mod:`easydb_server_spark.tables`; selective compaction's staged
dirty-bucket table is replayed here (:func:`_recover_pq_compact`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from easydb_server_spark.operators.similarity import _as_double, _dot
from easydb_server_spark.operators._localframe import local_frame
from easydb_server_spark.tables import (
    drop_table,
    keep_one_per_key,
    recover_staged,
    table_location,
    write_table,
)

# Plan-size bound for the literal-codebook forms (the kmeans.py
# LITERAL_ARGMIN_MAX_KD rationale applied to PQ): k codes x d dims of
# double literals per codebook, and q x m x k LUT longs per query
# batch. Below the bound, training/encoding/ADC run as zero-exchange
# projections with bounded driver collects (codebooks and LUTs are
# broadcast-sized by contract anyway); above it the broadcast-join +
# window formulation runs unchanged and stays exact at any size.
_LITERAL_PQ_MAX = 4096


def _collect_codebook(codebook: DataFrame) -> list[list[list[float]]] | None:
    """cb[sub][code] = centroid, validated contiguous (subs 0..m-1,
    codes 0..k-1 per sub, uniform width); None when the layout is not
    contiguous or the literal would exceed the plan-size bound."""
    attached = getattr(codebook, "_pq_cb", None)
    if attached is not None:
        m = len(attached)
        k = len(attached[0]) if m else 0
        width = len(attached[0][0]) if k else 0
        return attached if 0 < k * m * width <= _LITERAL_PQ_MAX else None
    rows = codebook.select("sub", "code", "centroid").collect()
    if not rows:
        return None
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_sub.setdefault(int(r["sub"]), {})[int(r["code"])] = list(r["centroid"])
    m = len(by_sub)
    if sorted(by_sub) != list(range(m)):
        return None
    k = len(by_sub[0])
    width = len(by_sub[0][0]) if k else 0
    if k * m * width > _LITERAL_PQ_MAX:
        return None
    cb: list[list[list[float]]] = []
    for sub in range(m):
        codes = by_sub[sub]
        if sorted(codes) != list(range(k)):
            return None
        if any(len(codes[c]) != width for c in range(k)):
            return None
        cb.append([codes[c] for c in range(k)])
    return cb


def _codes_expr(cb: list[list[list[float]]], width: int, vec_sql: str):
    """array<int> of m nearest codes for the double-array vector named
    by ``vec_sql`` — the `_nearest_code` argmax (rounded dot desc,
    code asc) as one zero-exchange projection against the literal
    codebook, rendered as SQL text and parsed in one JVM call
    (operators/_litexpr.py: the Column-API construction of the same
    tree was the measured bottleneck at ~0.9 s per call)."""
    from easydb_server_spark.operators._litexpr import codes_sql

    return F.expr(codes_sql(cb, width, vec_sql))


def _subvecs(df: DataFrame, vec_col: str, id_col: str, m: int, width: int) -> DataFrame:
    """(id, sub, svec): m subspace rows per vector."""
    return df.select(
        F.col(id_col).alias("cid"),
        _as_double(F.col(vec_col)).alias("vec"),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
    ).select(
        "cid",
        "sub",
        F.slice(F.col("vec"), F.col("sub") * width + 1, width).alias("svec"),
    )


def _dim_width(df: DataFrame, vec_col: str, m: int) -> int:
    row = df.select(F.size(_as_double(F.col(vec_col))).alias("d")).first()
    if row is None:
        raise ValueError("cannot train PQ on an empty corpus")
    d = int(row["d"])
    if d % m:
        raise ValueError(f"vector dim {d} is not divisible by m={m} subspaces")
    return d // m


def _nearest_code(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """argmax rounded dot per (cid, sub); ties by code asc — the
    assignment rule shared by training, encoding, and the oracle."""
    sim = F.round(_dot(F.col("svec"), F.col("centroid")), 6)
    w = Window.partitionBy("cid", "sub").orderBy(F.col("sim").desc(), F.col("code"))
    return (
        subs.join(F.broadcast(codebook), "sub")
        .select("cid", "sub", "svec", "code", sim.alias("sim"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("cid", "sub", "svec", "code")
    )


def pq_train(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    k: int = 16,
    n_iters: int = 1,
) -> DataFrame:
    """Train the PQ codebook → (sub, code, centroid) with codes
    0..k-1 per subspace. Deterministic: per-subspace init is the k
    subvectors whose parent ids have the smallest md5(id) (the
    ivf_centroids seeding, replayable by the SQL oracle), then
    ``n_iters`` Lloyd rounds of rounded-mean updates.

    r16: for k*d under the literal bound, training runs driver-merged
    like kmeans.py — seed = one bounded TakeOrdered collect of the k
    md5-first parent vectors (the per-sub seed RANK is the same k ids
    for every sub, since md5(cid) does not depend on sub), each Lloyd
    assignment is the literal-codebook argmax projection
    (zero-exchange), and the update's rounded (sub, code, pos) means —
    the SAME Spark aggregate as the join form, so values are
    bit-identical — collect m*k*width rows and merge driver-side. The
    returned codebook is a LocalRelation (no eager checkpoint job;
    broadcasts build from local rows). Past the bound the original
    window/join formulation runs unchanged."""
    vecs = corpus.select(
        F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("vec")
    )
    # the bounded seed collect doubles as the dimension probe (no
    # separate first() job); k rows x d doubles, the MLlib driver shape
    seed_rows = (
        vecs.withColumn("hk", F.md5(F.col("cid").cast("string")))
        .orderBy("hk", "cid")
        .limit(k)
        .select("hk", "cid", "vec")
        .collect()
    )
    if not seed_rows:
        raise ValueError("cannot train PQ on an empty corpus")
    d = len(seed_rows[0]["vec"])
    if d % m:
        raise ValueError(f"vector dim {d} is not divisible by m={m} subspaces")
    width = d // m
    if k * m * width <= _LITERAL_PQ_MAX:
        return _pq_train_local(vecs, seed_rows, m, k, width, n_iters)
    subs = _subvecs(corpus, vec_col, id_col, m, width)
    wseed = Window.partitionBy("sub").orderBy(
        F.md5(F.col("cid").cast("string")), F.col("cid")
    )
    codebook = (
        subs.withColumn("r", F.row_number().over(wseed))
        .where(F.col("r") <= k)
        .select("sub", (F.col("r") - 1).cast("int").alias("code"), F.col("svec").alias("centroid"))
    )
    for _ in range(n_iters):
        assigned = _nearest_code(subs, codebook)
        upd = (
            assigned.select("sub", "code", F.posexplode("svec").alias("pos", "val"))
            .groupBy("sub", "code", "pos")
            .agg(F.round(F.avg("val"), 5).alias("mval"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pm"))
            .select("sub", "code", F.transform("pm", lambda s: s["mval"]).alias("centroid"))
        )
        codebook = (
            codebook.select("sub", "code", F.col("centroid").alias("prev"))
            .join(upd, ["sub", "code"], "left")
            .select("sub", "code", F.coalesce("centroid", "prev").alias("centroid"))
        )
    # the codebook feeds multiple broadcast branches (encode + every
    # LUT); materialize once, same rationale as ivf_centroids
    return codebook.localCheckpoint(eager=True)


def _pq_train_local(
    vecs: DataFrame, seed_rows: list, m: int, k: int, width: int, n_iters: int
) -> DataFrame:
    """Driver-merged PQ training (see :func:`pq_train`). Seed, literal
    assignment, Spark-aggregated rounded means, driver merge; returns
    the codebook as a LocalRelation (sub int, code int, centroid).
    ``vecs`` is the (cid, vec double-array) projection; ``seed_rows``
    the collected (hk, cid, vec) md5-order seed."""
    spark = vecs.sparkSession
    # re-assert the order on the SPARK-computed hash (the
    # seed_centroids discipline from kmeans.py)
    seed_rows = sorted(seed_rows, key=lambda r: (r["hk"], r["cid"]))
    cb = [
        [list(r["vec"][sub * width : (sub + 1) * width]) for r in seed_rows]
        for sub in range(m)
    ]
    for _ in range(n_iters):
        enc = vecs.select(
            "vec", _codes_expr(cb, width, "vec").alias("codes")
        )
        upd = (
            enc.select(
                "vec",
                "codes",
                F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            )
            .select(
                "sub",
                F.element_at("codes", F.col("sub") + 1).alias("code"),
                F.posexplode(F.slice("vec", F.col("sub") * width + 1, width)).alias(
                    "pos", "val"
                ),
            )
            .groupBy("sub", "code", "pos")
            .agg(F.round(F.avg("val"), 5).alias("mval"))
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in upd:
            by_key.setdefault((int(r["sub"]), int(r["code"])), {})[int(r["pos"])] = r[
                "mval"
            ]
        for sub in range(m):
            for code in range(len(cb[sub])):
                got = by_key.get((sub, code))
                if got is not None:
                    cb[sub][code] = [got[p] for p in range(width)]
    out = local_frame(
        spark,
        [(sub, code, cb[sub][code]) for sub in range(m) for code in range(len(cb[sub]))],
        "sub int, code int, centroid array<double>",
    )
    # driver-known rows ride along so downstream literal paths
    # (encode/ADC) skip the re-collect job; the DataFrame itself stays
    # the source of truth for the join fallback and for persistence
    out._pq_cb = cb  # type: ignore[attr-defined]
    return out


def pq_encode(
    df: DataFrame, vec_col: str, id_col: str, codebook: DataFrame, m: int
) -> DataFrame:
    """Encode vectors → (id, codes array<int>, m codes in subspace
    order).

    r16: with a bounded contiguous codebook (the trained layout), the
    m argmaxes run as ONE zero-exchange projection against the literal
    codebook — no subspace explode, no window shuffle, no per-id
    reassembly aggregate (encoding is now genuinely map-only, as the
    module docstring always claimed). Non-contiguous or oversized
    codebooks take the original broadcast-argmax + reassembly path."""
    cb = _collect_codebook(codebook)
    width = len(cb[0][0]) if cb else _dim_width(df, vec_col, m)
    if cb is not None and len(cb) == m:
        return df.select(
            F.col(id_col), _as_double(F.col(vec_col)).alias("__vec")
        ).select(
            F.col(id_col), _codes_expr(cb, width, "__vec").alias("codes")
        )
    subs = _subvecs(df, vec_col, id_col, m, width)
    return (
        _nearest_code(subs, codebook)
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))), lambda s: s["code"]
            ).alias("codes")
        )
        .select(F.col("cid").alias(id_col), "codes")
    )


def pq_decode(encoded: DataFrame, codebook: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Reconstruct approximations → (id, vec): concatenate each
    code's centroid in subspace order. The reconstruction whose dot
    products ADC returns exactly."""
    return (
        encoded.select(F.col(id_col).alias("cid"), F.posexplode("codes").alias("sub", "code"))
        .join(F.broadcast(codebook), ["sub", "code"])
        .groupBy("cid")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "centroid"))),
                    lambda s: s["centroid"],
                )
            ).alias("vec")
        )
        .select(F.col("cid").alias(id_col), "vec")
    )


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebook: DataFrame,
    vec_col: str,
    qid_col: str,
    id_col: str = "vec_id",
    m: int = 4,
    k_top: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance top-k: per query, score every encoded
    vector as the sum of m LUT lookups (``Σⱼ round(dot(qⱼ, c[codeⱼ]),
    6)``, the exact dot against the reconstruction) and keep the
    ``k_top`` best — (qid, cid, adc_score, rank), ties by cid. The LUT
    (queries × m × k rows) broadcasts; the encoded corpus streams once.

    ``exclude_self=True`` (the default, for the queries-are-corpus-
    rows case) drops candidates whose id equals the query id — it
    assumes queries and corpus SHARE an id space of the same type. For
    an EXTERNAL query batch pass ``exclude_self=False``: with separate
    id spaces a corpus vector whose id collides with a query id would
    be silently dropped, and a qid/cid type mismatch would null the
    predicate and drop every row.

    Determinism (the repo fixed-point discipline): each LUT partial is
    quantized to INT64 micro-units (``round(dot·1e6)``) BEFORE the
    per-(qid, cid) sum, so the m-way summation is exact integer
    arithmetic — order-free under any partitioning — and the score is
    one float division at the end. Quantization error ≤ m·5e-7,
    identical to the previous per-part ROUND(…,6).

    r16: for a bounded query batch (q·m·k LUT entries under the
    literal bound — the same scale constraint the broadcast already
    imposed), the LUT is computed by the SAME Spark expressions, then
    collected and re-entered as one literal: scoring becomes a
    zero-join projection — per encoded row, explode q (qid, Σ of m
    in-row LUT lookups) structs — so the broadcast-hash join AND the
    (qid, cid) partial-sum shuffle disappear (integer addition of the
    m parts is order-free, so the in-row sum is the groupBy sum).
    Larger batches take the original broadcast-join path unchanged."""
    from easydb_server_spark.operators._litexpr import (
        as_double_sql,
        lut_units_sql,
        sql_arr_l,
        sql_scalar,
        supported_id_type,
    )

    cb = _collect_codebook(codebook)
    width = len(cb[0][0]) if cb else _dim_width(queries, vec_col, m)
    k_codes = len(cb[0]) if cb else 0
    qid_type = queries.schema[qid_col].dataType.simpleString()
    lut_rows = None
    if cb is not None and supported_id_type(qid_type) and m * k_codes:
        # the LUT by ONE literal projection + bounded collect (what the
        # join form broadcast anyway); limit-guarded so an oversized
        # query batch falls back to the join path instead of a count job
        max_q = _LITERAL_PQ_MAX // (m * k_codes)
        lut_rows = (
            queries.select(
                F.col(qid_col).alias("qid"),
                F.expr(lut_units_sql(cb, width, as_double_sql(vec_col))).alias(
                    "__units"
                ),
            )
            .limit(max_q + 1)
            .collect()
        )
        if len(lut_rows) > max_q or any(
            r["qid"] is None or r["__units"] is None or None in r["__units"]
            for r in lut_rows
        ):
            lut_rows = None  # too many queries / null vectors: join path
    if lut_rows is not None:
        lut_rows.sort(key=lambda r: r["qid"])
        codes_ref = "__codes"
        structs = []
        for r in lut_rows:
            flat = [int(u) for u in r["__units"]]
            total = " + ".join(
                f"element_at({sql_arr_l(flat)}, {sub * k_codes} + "
                f"element_at({codes_ref}, {sub + 1}) + 1)"
                for sub in range(m)
            )
            structs.append(
                f"named_struct('qid', {sql_scalar(r['qid'], qid_type)}, "
                f"'adc_units', {total})"
            )
        per_q = F.expr("explode(array(" + ",".join(structs) + "))")
        scored = (
            encoded.select(
                F.col(id_col).alias("cid"), F.col("codes").alias("__codes")
            )
            .select("cid", per_q.alias("__s"))
            .select(
                F.col("__s.qid").alias("qid"), "cid", F.col("__s.adc_units").alias("adc_units")
            )
        )
        if exclude_self:
            scored = scored.where(F.col("cid") != F.col("qid"))
    else:
        lut = (
            _subvecs(queries, vec_col, qid_col, m, width)
            .withColumnRenamed("cid", "qid")
            .join(F.broadcast(codebook), "sub")
            .select(
                "qid",
                "sub",
                "code",
                F.round(_dot(F.col("svec"), F.col("centroid")) * F.lit(1000000.0), 0)
                .cast("long")
                .alias("part_units"),
            )
        )
        fan = encoded.select(
            F.col(id_col).alias("cid"), F.posexplode("codes").alias("sub", "code")
        )
        scored = fan.join(F.broadcast(lut), ["sub", "code"])
        if exclude_self:
            scored = scored.where(F.col("cid") != F.col("qid"))
        scored = scored.groupBy("qid", "cid").agg(
            F.sum("part_units").alias("adc_units")
        )
    # k-bounded TWO-STAGE top-k (r11 verdict ask #6): a single
    # per-qid window holds a corpus-sized partition per query at
    # scale. Stage 1 ranks within (qid, salt) — each salt bucket sees
    # ~1/SALT of the candidates, and every global top-k row is
    # necessarily in its own bucket's top-k — stage 2 ranks the
    # <= SALT*k_top survivors per qid. The salt is a deterministic
    # hash of cid: it only routes rows, never affects values.
    nsalt = 32
    w1 = Window.partitionBy("qid", "salt").orderBy(
        F.col("adc_units").desc(), F.col("cid")
    )
    partial = (
        scored.withColumn("salt", F.pmod(F.hash(F.col("cid")), F.lit(nsalt)))
        .withColumn("prank", F.row_number().over(w1))
        .where(F.col("prank") <= k_top)
        .drop("salt", "prank")
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc_units").desc(), F.col("cid"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_top)
        .select(
            "qid",
            "cid",
            F.round(F.col("adc_units").cast("double") / F.lit(1000000.0), 6).alias(
                "adc_score"
            ),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _ivfpq_adc_topk_literal(
    vecs: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    cell_rows: list,
    vec_col: str,
    id_col: str,
    *,
    m: int,
    k: int,
    width: int,
    nprobe: int,
    k_top: int,
    exclude_self: bool,
) -> DataFrame | None:
    """The bounded-geometry IVFADC plan (see :func:`ivfpq_adc_topk`
    r16 note): coarse assignment + residual as ONE projection against
    the literal centroids, residual PQ trained driver-merged
    (:func:`_pq_train_local` via :func:`pq_train`), codes in-row
    (:func:`_codes_expr`), and the query side reduced to ONE bounded
    collect (per query: the nprobe probed cells with their coarse
    units, sorted by the exact window order, plus the m*k LUT —
    q*(nprobe + m*k) values, what the join form broadcast anyway)
    re-entered as literals, so scoring is a zero-join projection and
    the only exchanges left are the rank windows. Every value is
    produced by the identical expression chain (same dots, same
    round/CAST points), so results are bit-for-bit the join form's.
    All literal expressions render as SQL text parsed in one JVM call
    (operators/_litexpr.py — Column-API construction was the measured
    bottleneck once executor work vanished)."""
    from easydb_server_spark.operators._litexpr import (
        argmax_sql,
        as_double_sql,
        dot_sql,
        lut_units_sql,
        sim_sql,
        sql_arr_d,
        sql_arr_l,
        sql_scalar,
    )

    rows = sorted(cell_rows, key=lambda t: t[0])
    cell_type = cents.schema["cell"].dataType.simpleString()
    # in-row nearest cell: candidates in cell-ascending order carry
    # their INDEX; the fold keeps the accumulator on ties (= the
    # window's cell-asc tie-break), then cell/residual unpack via CASE
    cand = (
        "array("
        + ",".join(
            f"named_struct('sim', {sim_sql('cvec', cent)}, 'idx', {i})"
            for i, (_cell, cent) in enumerate(rows)
        )
        + ")"
    )
    best_i = argmax_sql(cand, "'idx', CAST(-1 AS INT)") + ".idx"
    cell_case = (
        "CASE __i "
        + " ".join(
            f"WHEN {i} THEN {sql_scalar(cell, cell_type)}"
            for i, (cell, _cent) in enumerate(rows)
        )
        + " END"
    )
    rvec_case = (
        "CASE __i "
        + " ".join(
            f"WHEN {i} THEN zip_with(cvec, {sql_arr_d(cent)}, (a, b) -> a - b)"
            for i, (_cell, cent) in enumerate(rows)
        )
        + " END"
    )
    resid = vecs.select("cid", "cvec", F.expr(best_i).alias("__i")).select(
        "cid", F.expr(cell_case).alias("cell"), F.expr(rvec_case).alias("rvec")
    )
    # feeds train (seed + update) and the final scoring pass
    resid = resid.localCheckpoint(eager=True)
    codebook = pq_train(resid, "rvec", "cid", m=m, k=k, n_iters=1)
    cb = _collect_codebook(codebook)
    enc = resid.select(
        "cid", "cell", _codes_expr(cb, width, "rvec").alias("__codes")
    )

    # query side: ONE projection + bounded collect — probed cells in
    # the exact (sim desc, cell asc) order with their coarse units,
    # plus the flat LUT
    probe_cand = (
        "array("
        + ",".join(
            f"named_struct('sim', {sim_sql('__qvec', cent)}, "
            f"'cell', {sql_scalar(cell, cell_type)}, "
            f"'units', CAST(round({dot_sql('__qvec', cent)} * 1000000.0D, 0) AS BIGINT))"
            for cell, cent in rows
        )
        + ")"
    )
    cmp = (
        "(l, r) -> case when l.sim > r.sim then -1 when l.sim < r.sim then 1 "
        "when l.cell < r.cell then -1 when l.cell > r.cell then 1 else 0 end"
    )
    # limit-guarded bounded collect: an oversized query batch returns
    # None and the caller falls back to the broadcast-join form
    max_q = max(1, _LITERAL_PQ_MAX // max(1, m * k))
    qrows = (
        queries.select(
            F.col(id_col).alias("qid"),
            F.expr(as_double_sql(vec_col)).alias("__qvec"),
        )
        .select(
            "qid",
            F.expr(f"slice(array_sort({probe_cand}, {cmp}), 1, {nprobe})").alias(
                "__probes"
            ),
            F.expr(lut_units_sql(cb, width, "__qvec")).alias("__units"),
        )
        .limit(max_q + 1)
        .collect()
    )
    if len(qrows) > max_q:
        return None
    qid_type = queries.schema[id_col].dataType.simpleString()
    structs = []
    for r in sorted(qrows, key=lambda t: t["qid"]):
        flat = [int(u) for u in r["__units"]]
        lut_sum = " + ".join(
            f"element_at({sql_arr_l(flat)}, {sub * k} + element_at(__codes, {sub + 1}) + 1)"
            for sub in range(m)
        )
        branches = " ".join(
            f"WHEN {sql_scalar(p['cell'], cell_type)} THEN {int(p['units'])}L"
            for p in r["__probes"]
        )
        structs.append(
            f"named_struct('qid', {sql_scalar(r['qid'], qid_type)}, "
            f"'adc_units', (CASE cell {branches} ELSE CAST(NULL AS BIGINT) END)"
            f" + ({lut_sum}))"
        )
    per_q = F.expr("explode(array(" + ",".join(structs) + "))")
    scored = (
        enc.select("cid", "cell", per_q.alias("__s"))
        .where(F.col("__s.adc_units").isNotNull())
        .select(
            F.col("__s.qid").alias("qid"),
            "cid",
            F.col("__s.adc_units").alias("adc_units"),
        )
    )
    if exclude_self:
        scored = scored.where(F.col("cid") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(F.col("adc_units").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_top)
        .select(
            "qid",
            "cid",
            F.round(F.col("adc_units").cast("double") / F.lit(1000000.0), 6).alias(
                "adc_score"
            ),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    k: int = 16,
    n_cells: int | None = None,
    nprobe: int = 2,
    k_top: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """IVFADC (Jégou 2011 §IV): the coarse IVF quantizer prunes WHICH
    vectors are scored, product quantization of the RESIDUALS shrinks
    WHAT each stored vector costs — the composition every large-scale
    ANN deployment runs (FAISS ``IVFx,PQy``), here in inner-product
    space where the decomposition is exact:

        dot(q, c_cell + r̂) = dot(q, c_cell) + Σⱼ dot(qⱼ, r̂ⱼ)

    so the score is one coarse dot per probed (query, cell) plus m
    residual-LUT lookups — and unlike the L2 formulation, the LUT is
    built on q ITSELF (not q−c), so one LUT per query serves every
    probed cell. Every term is quantized to INT64 micro-units before
    the sum (the fixed-point discipline), so ranking is order-free and
    a DuckDB oracle replays the whole derivation — coarse k-means,
    residuals, residual codebook, codes, LUT, scores — bit-for-bit.

    Scale shape: centroids broadcast (n_cells·d doubles); residual
    computation rides the assignment pass map-side; PQ training/encode
    shuffle only (sub, code, pos) rows; the search joins the encoded
    corpus's probed slice to the broadcast LUT and shuffles only
    (qid, cid, partial) rows. Nothing corpus-width ever moves.
    """
    from easydb_server_spark.operators.similarity import (
        _as_double,
        _assign_cells,
        _collect_cent_rows,
        ivf_centroids,
    )

    cents = ivf_centroids(corpus, vec_col, id_col, n_cells=n_cells, n_iters=1)
    vecs = corpus.select(
        F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cvec")
    )
    cell_rows = getattr(cents, "_cent_rows", None)
    if cell_rows is not None and cell_rows:
        d = len(cell_rows[0][1])
        width = d // m
    else:
        width = _dim_width(queries, vec_col, m)
        d = m * width
        cell_rows = None
        if (
            k * d <= _LITERAL_PQ_MAX
            and (n_cells or 0) * d
            and (n_cells or 0) * d <= _LITERAL_PQ_MAX
        ):
            cell_rows = _collect_cent_rows(cents)
    if cell_rows is not None and not (
        d % m == 0
        and k * d <= _LITERAL_PQ_MAX
        and len(cell_rows) * d <= _LITERAL_PQ_MAX
    ):
        cell_rows = None
        width = _dim_width(queries, vec_col, m)
    if cell_rows is not None:
        lit = _ivfpq_adc_topk_literal(
            vecs, queries, cents, cell_rows, vec_col, id_col,
            m=m, k=k, width=width, nprobe=nprobe, k_top=k_top,
            exclude_self=exclude_self,
        )
        if lit is not None:
            return lit
    assigned = _assign_cells(vecs, cents, id_col="cid", vec_col="cvec", top=1)
    resid = assigned.join(F.broadcast(cents), "cell").select(
        "cid",
        "cell",
        F.zip_with("cvec", "centroid", lambda a, b: a - b).alias("rvec"),
    )
    # the residual table feeds train + encode; pin it once (bounded:
    # one narrow row per corpus vector, same rationale as pq_train's
    # codebook checkpoint)
    resid = resid.localCheckpoint(eager=True)
    codebook = pq_train(resid, "rvec", "cid", m=m, k=k, n_iters=1)
    # encode WITHOUT the (assemble codes array -> re-join cell) round
    # trip pq_encode would take: the assignment window keeps cell as a
    # passthrough column, so the fan-out rows the search needs come
    # straight out of the argmax (same rule as _nearest_code — the
    # oracle replays it identically) and no corpus-width join appears
    # in the plan (the plan audit flagged a SortMergeJoin on cid in
    # the assembled-codes formulation).
    rsubs = resid.select(
        "cid",
        "cell",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        "rvec",
    ).select(
        "cid",
        "cell",
        "sub",
        F.slice(F.col("rvec"), F.col("sub") * width + 1, width).alias("svec"),
    )
    rsim = F.round(_dot(F.col("svec"), F.col("centroid")), 6)
    wcode = Window.partitionBy("cid", "sub").orderBy(F.col("sim").desc(), F.col("code"))
    fan = (
        rsubs.join(F.broadcast(codebook), "sub")
        .select("cid", "cell", "sub", "code", rsim.alias("sim"))
        .withColumn("r", F.row_number().over(wcode))
        .where(F.col("r") == 1)
        .select("cid", "cell", "sub", "code")
    )

    q = queries.select(
        F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qvec")
    )
    probed = _assign_cells(q, cents, id_col="qid", vec_col="qvec", top=nprobe)
    coarse = probed.join(F.broadcast(cents), "cell").select(
        "qid",
        "cell",
        F.round(_dot(F.col("qvec"), F.col("centroid")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("coarse_units"),
    )
    lut = (
        _subvecs(q.select(F.col("qid").alias("cid"), F.col("qvec")), "qvec", "cid", m, width)
        .withColumnRenamed("cid", "qid")
        .join(F.broadcast(codebook), "sub")
        .select(
            "qid",
            "sub",
            "code",
            F.round(_dot(F.col("svec"), F.col("centroid")) * F.lit(1000000.0), 0)
            .cast("long")
            .alias("part_units"),
        )
    )
    cand = fan.join(F.broadcast(coarse), "cell").join(
        F.broadcast(lut), ["qid", "sub", "code"]
    )
    if exclude_self:
        cand = cand.where(F.col("cid") != F.col("qid"))
    scored = cand.groupBy("qid", "cid").agg(
        (F.min("coarse_units") + F.sum("part_units")).alias("adc_units")
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc_units").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_top)
        .select(
            "qid",
            "cid",
            F.round(F.col("adc_units").cast("double") / F.lit(1000000.0), 6).alias(
                "adc_score"
            ),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivfpq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    k: int = 16,
    n_cells: int | None = None,
    nprobe: int = 2,
    k_candidates: int = 32,
    k_top: int = 5,
) -> DataFrame:
    """Two-stage retrieval (the standard serving composition FAISS
    deployments run on top of IVFPQ): the compressed index proposes
    ``k_candidates`` per query via :func:`ivfpq_adc_topk`, then the
    RAW vectors of just that bounded slice are fetched and re-ranked
    by their exact inner product — ADC recall at (almost) exact-search
    precision, paying full-vector reads for k_candidates rows per
    query instead of the corpus.

    Scale shape: stage 1 is the IVFADC plan (nothing corpus-width
    moves); stage 2 joins the k_candidates×|queries| candidate rows to
    the corpus vectors (hash join keyed on cid — the probed slice is
    the DRIVER of the join, so the corpus side prunes to matching
    keys) and broadcasts the query vectors; the re-rank window
    partitions by qid over ≤ k_candidates rows. Scores are the same
    INT64 micro-units the ADC stage uses, so the DuckDB oracle replays
    stage 2 with two joins and a window over the stage-1 chain.

    Output: (qid, cid, exact_score, adc_rank, rank) — adc_rank kept so
    a recall audit can see how far the exact winner sat in the ADC
    ordering.
    """
    cand = ivfpq_adc_topk(
        corpus, queries, vec_col, id_col,
        m=m, k=k, n_cells=n_cells, nprobe=nprobe, k_top=k_candidates,
    ).select("qid", "cid", F.col("rank").alias("adc_rank"))
    cvecs = corpus.select(
        F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cvec")
    )
    qvecs = queries.select(
        F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qvec")
    )
    exact_units = (
        F.round(_dot(F.col("qvec"), F.col("cvec")) * F.lit(1000000.0), 0)
        .cast("long")
        .alias("exact_units")
    )
    scored = (
        cand.join(cvecs, "cid")
        .join(F.broadcast(qvecs), "qid")
        .select("qid", "cid", "adc_rank", exact_units)
    )
    w = Window.partitionBy("qid").orderBy(F.col("exact_units").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_top)
        .select(
            "qid",
            "cid",
            F.round(F.col("exact_units").cast("double") / F.lit(1000000.0), 6).alias(
                "exact_score"
            ),
            F.col("adc_rank").cast("int").alias("adc_rank"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --------------------------- PQ store lifecycle ---------------------------
#
# The persistent serving artifact for brute-ADC search — the PQ
# analogue of the IVF store (operators/similarity.py:write_ivf_store):
# codes are 100-500x narrower than raw vectors, so the store IS the
# memory win PQ exists for. Two tables:
#   <table>           (bucket, cid, codes array<int>, seq, cb_ver)
#                     partitioned by bucket = pmod(hash(cid), 16) for
#                     bounded per-file rewrite granularity
#   <table>_codebook  (sub, code, centroid, cb_ver, m, width)
# Appends encode against the FROZEN codebook and stamp its cb_ver;
# mixing code spaces is refused loudly (a retrained codebook without a
# re-encode would silently rank garbage). seq follows the IVF-store
# re-crawl semantics: newest copy of an id wins at compaction;
# replaying a crashed batch under the same seq stays idempotent.

# DEFAULT bucket count for new stores (conformance/test scale). The
# count a store was WRITTEN with is persisted in its codebook meta and
# re-read by every append — never trust a process-local constant for
# an existing store (a mismatch would scatter one cid over two
# partitions and break selective compaction's per-bucket newest-wins).
_PQ_STORE_BUCKETS = 16


def write_pq_store(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    m: int = 4,
    k: int = 16,
    n_iters: int = 1,
    n_buckets: int | None = None,
) -> None:
    """Train the codebook on ``corpus``, encode it, and persist both
    artifacts (overwrite). The codes table is the ONLY per-vector
    state — m small ints per vector — so a 100 TB float corpus
    serves from a ~1 TB store; raw vectors are never rescanned per
    query batch.

    ``n_buckets`` is FIXED for the store's lifetime and persisted in
    the codebook meta: every later append re-derives bucket = pmod(
    hash(cid), n_buckets) from the STORE, never from a process-local
    constant — if two writers disagreed, the same cid would land in
    two partitions and selective compaction's per-bucket newest-wins
    would silently keep both. Size it so bucket_size stays bounded at
    the target corpus (the SCALE.md pq-store sweep sizing rule)."""
    nb = int(n_buckets) if n_buckets else _PQ_STORE_BUCKETS
    _write_store(corpus, vec_col, id_col, table, m, k, n_iters, nb, ver=0)


def _write_store(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    m: int,
    k: int,
    n_iters: int,
    nb: int,
    ver: int,
) -> None:
    """Train, encode and write both store tables from scratch under
    codebook version ``ver`` with ``nb`` buckets."""
    width = _dim_width(corpus, vec_col, m)
    cb = pq_train(corpus, vec_col, id_col, m=m, k=k, n_iters=n_iters)
    enc = pq_encode(corpus, vec_col, id_col, cb, m=m)
    codes = enc.select(
        F.pmod(F.hash(F.col(id_col)), F.lit(nb)).alias("bucket"),
        F.col(id_col).alias("cid"),
        "codes",
        F.lit(0).cast("bigint").alias("seq"),
        F.lit(ver).cast("bigint").alias("cb_ver"),
    )
    # r16: the literal encode is a pure projection, so the write no
    # longer inherits a shuffle AQE could coalesce — cluster by bucket
    # explicitly or every input partition writes a file into every
    # bucket (guide-§6 small-files hazard; pytest-locked by
    # test_compaction_rewrites_only_dirty_buckets)
    write_table(codes.repartition("bucket"), table, partition_by="bucket")
    meta = cb.select(
        "sub",
        "code",
        "centroid",
        F.lit(ver).cast("bigint").alias("cb_ver"),
        F.lit(m).cast("int").alias("m"),
        F.lit(width).cast("int").alias("width"),
        F.lit(nb).cast("int").alias("n_buckets"),
    )
    write_table(meta, f"{table}_codebook")


def _store_codebook(spark, table: str):
    """(codebook df, cb_ver, m, width) of the CURRENT codebook."""
    cbt = spark.table(f"{table}_codebook")
    meta = cbt.select("cb_ver", "m", "width").limit(1).collect()
    if not meta:
        raise ValueError(f"store {table!r} has an empty codebook")
    ver, m, width = int(meta[0].cb_ver), int(meta[0].m), int(meta[0].width)
    return cbt.select("sub", "code", "centroid"), ver, m, width


def _store_n_buckets(spark, table: str) -> int:
    """The store's persisted bucket count (legacy stores without the
    meta column keep the module default they were written with)."""
    cbt = spark.table(f"{table}_codebook")
    if "n_buckets" not in cbt.columns:
        return _PQ_STORE_BUCKETS
    row = cbt.select("n_buckets").limit(1).collect()
    return int(row[0].n_buckets) if row else _PQ_STORE_BUCKETS


def _refuse_stale(spark, table: str, ver: int, action: str) -> None:
    stale = (
        spark.table(table)
        .where(F.col("cb_ver") != F.lit(ver))
        .limit(1)
        .count()
    )
    if stale:
        raise ValueError(
            f"store {table!r} holds codes from a different codebook version "
            f"than the current cb_ver={ver}; re-encode (rebuild_pq_store) "
            f"before {action} — mixing code spaces would rank garbage"
        )


def append_to_pq_store(
    spark,
    new_vectors: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    seq: int | None = None,
) -> int:
    """Incremental ingest: encode the new batch against the store's
    FROZEN codebook and append. Refuses a store whose codes were
    written under a different codebook version (stale-codebook
    refusal). Returns appended row count. ``seq`` defaults to
    1 + current max; streaming callers pass their micro-batch id so
    crash replays collapse at compaction (the IVF-store contract)."""
    _recover_pq_compact(spark, table)
    cb, ver, m, _w = _store_codebook(spark, table)
    _refuse_stale(spark, table, ver, "appending")
    nxt = (
        seq
        if seq is not None
        else spark.table(table)
        .agg(F.coalesce(F.max("seq") + 1, F.lit(0)).alias("s"))
        .collect()[0]["s"]
    )
    nb = _store_n_buckets(spark, table)  # the STORE's bucket count, never a local constant
    enc = (
        pq_encode(new_vectors, vec_col, id_col, cb, m=m)
        .select(
            F.pmod(F.hash(F.col(id_col)), F.lit(nb)).alias("bucket"),
            F.col(id_col).alias("cid"),
            "codes",
            F.lit(nxt).cast("bigint").alias("seq"),
            F.lit(ver).cast("bigint").alias("cb_ver"),
        )
        # cluster by bucket: see write_pq_store — one file per touched
        # bucket per append, not one per (input partition, bucket)
        .repartition("bucket")
        .localCheckpoint(eager=True)
    )
    enc.write.partitionBy("bucket").mode("append").format("parquet").saveAsTable(table)
    return enc.count()


def _bucket_file_counts(spark, table: str) -> dict[int, int]:
    """Data-file count per ``bucket=N`` partition directory of a
    managed table — the append-growth signal selective compaction
    resets. FS listing only; no data read."""
    fs, root = table_location(spark, table)
    out: dict[int, int] = {}
    if not fs.exists(root):
        return out
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("bucket=")):
            continue
        n = sum(
            1
            for f in fs.listStatus(st.getPath())
            if f.isFile() and not f.getPath().getName().startswith("_")
        )
        out[int(name.split("=", 1)[1])] = n
    return out


def _recover_pq_compact(spark, table: str) -> None:
    """Finish an interrupted SELECTIVE compaction: if the committed
    staged table exists, the dirty-bucket contents it holds are the
    one true post-compaction state of those partitions — replay the
    dynamic-partition overwrite (idempotent: same partitions, same
    rows) and drop it. Every store entry point (append / compact /
    serve) calls this first, so a crash between the staged commit and
    the partition overwrite can never be followed by an append whose
    rows the replay would erase."""
    staged = f"{table}__compact_staged"
    if not spark.catalog.tableExists(staged):
        return
    if spark.catalog.tableExists(table):
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            spark.table(staged).select(*spark.table(table).columns).write.insertInto(
                table, overwrite=True
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    drop_table(spark, staged)


def compact_pq_store(spark, table: str, files_per_bucket_cap: int = 8) -> int:
    """One row per vector id (newest ``seq`` wins — re-crawl update
    semantics) with the rewrite bounded by the DIRTY slice, not the
    store: only bucket partitions that hold a superseded row (a
    re-crawled cid) or whose data-file count exceeded
    ``files_per_bucket_cap`` (append growth) are rewritten, via
    dynamic-partition overwrite; clean buckets' bytes are never
    touched. A store that took only fresh-id appends compacts by
    rewriting nothing beyond file coalescing, so compaction cost
    tracks the re-crawl footprint — at 100 TB that is the difference
    between a nightly maintenance job and a full index rebuild.

    Crash-safe: the compacted dirty-bucket rows commit to
    ``<table>__compact_staged`` BEFORE any live partition is replaced;
    a crash mid-overwrite leaves the staged copy, and every store
    entry point replays it via :func:`_recover_pq_compact` (the
    overwrite is idempotent per partition). Returns the total
    surviving row count of the store."""
    recover_staged(spark, table)  # legacy full-swap crashes
    _recover_pq_compact(spark, table)
    t = spark.table(table)
    dup_buckets = {
        r.bucket
        for r in t.groupBy("bucket", "cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .select("bucket")
        .distinct()
        .collect()
    }
    grown = {
        b for b, n in _bucket_file_counts(spark, table).items() if n > files_per_bucket_cap
    }
    dirty = sorted(dup_buckets | grown)
    if not dirty:
        return t.count()
    keep = keep_one_per_key(
        t.where(F.col("bucket").isin(dirty)), ["cid"], "seq", newest=True
    ).select(*t.columns)
    write_table(keep.repartition("bucket"), f"{table}__compact_staged", partition_by="bucket")
    _recover_pq_compact(spark, table)  # performs the overwrite + drops staged
    return spark.table(table).count()


def pq_store_adc_topk(
    spark,
    queries: DataFrame,
    vec_col: str,
    qid_col: str,
    table: str,
    k_top: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Serve brute-ADC top-k from a persisted store: broadcast-LUT
    against the stored codebook, stream the codes table once, same
    INT64 micro-unit ranking as :func:`pq_adc_topk`. Refuses a store
    with mixed codebook versions."""
    _recover_pq_compact(spark, table)
    cb, ver, m, _w = _store_codebook(spark, table)
    _refuse_stale(spark, table, ver, "serving")
    enc = spark.table(table).select("cid", "codes")
    return pq_adc_topk(
        queries,
        enc,
        cb,
        vec_col,
        qid_col,
        id_col="cid",
        m=m,
        k_top=k_top,
        exclude_self=exclude_self,
    )


def rebuild_pq_store(
    spark,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    table: str,
    m: int = 4,
    k: int = 16,
    n_iters: int = 1,
) -> None:
    """Retrain + re-encode (the fix for stale-codebook refusal and
    for corpus drift): new codebook under cb_ver = old + 1, full
    overwrite of both tables. The store's persisted bucket count is
    carried over (the full rewrite is the one safe point to change it,
    but resharding is a separate decision from retraining). A missing
    store is written as :func:`write_pq_store` would."""
    if spark.catalog.tableExists(f"{table}_codebook"):
        _cb, old_ver, _m, _w = _store_codebook(spark, table)
        nb = _store_n_buckets(spark, table)
    else:
        old_ver, nb = -1, _PQ_STORE_BUCKETS
    _write_store(corpus, vec_col, id_col, table, m, k, n_iters, nb, ver=old_ver + 1)


def ivfpq_recall(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k_top: int = 5,
    m: int = 4,
    k: int = 16,
    n_cells: int | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """Recall@k of IVFADC against EXACT search — the measurement the
    two-layer approximation (coarse pruning × residual quantization)
    is tuned by, as a first-class oracled operator (the PQ analogue of
    :func:`~easydb_server_spark.operators.similarity.ann_recall`,
    which only grades the IVF layer). Per query:
    |ivfpq_topk ∩ exact_topk| / k. Both sides are deterministic
    (rounded cosines / INT64 micro-unit ADC, id tie-breaks), so the
    recall of a given geometry is a replayable fact, not a hand-waved
    sweep number.

    Scale shape: the exact side is the broadcast-query brute scan —
    run this on a SAMPLED query set (dozens of rows), as every ANN
    deployment does; the IVFADC side probes as in production."""
    from easydb_server_spark.functions.exactround import round_ratio
    from easydb_server_spark.operators.similarity import topk_cosine_bruteforce

    exact = topk_cosine_bruteforce(corpus, queries, vec_col, id_col, k_top)
    approx = ivfpq_adc_topk(
        corpus,
        queries,
        vec_col,
        id_col,
        m=m,
        k=k,
        n_cells=n_cells,
        nprobe=nprobe,
        k_top=k_top,
    )
    hits = (
        exact.join(approx.select("qid", "cid"), ["qid", "cid"], "leftsemi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = exact.select("qid").distinct()
    return qids.join(hits, "qid", "left").select(
        "qid",
        F.lit(k_top).cast("int").alias("k"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
        round_ratio(F.coalesce(F.col("n_hits"), F.lit(0)), F.lit(k_top), 6).alias(
            "recall"
        ),
    )


def pq_store_stats(spark, table: str, compact_threshold: float = 0.2) -> dict:
    """Store health + the documented COMPACTION TRIGGER: appends are
    append-only, so a re-crawled id leaves its superseded copy serving
    alongside the newest until compaction — every superseded row is a
    wasted LUT-join probe at serve time. Returns ``{"n_rows",
    "n_ids", "n_superseded", "superseded_frac", "n_batches",
    "cb_ver", "needs_compaction"}``; compact when superseded_frac
    crosses the dial (default 20%). The codebook-drift question (is
    the FROZEN codebook still a good fit for what appends brought in?)
    is answered by :func:`ivfpq_recall` against a sampled query set —
    recall decay, not bucket shape, is PQ's retrain signal, since the
    hash buckets here are uniform by construction."""
    t = spark.table(table)
    row = t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("cid").alias("n_ids"),
        F.countDistinct("seq").alias("n_batches"),
        F.max("cb_ver").alias("cb_ver"),
    ).collect()[0]
    n_rows, n_ids = int(row.n_rows), int(row.n_ids)
    superseded = n_rows - n_ids
    frac = superseded / n_rows if n_rows else 0.0
    return {
        "n_rows": n_rows,
        "n_ids": n_ids,
        "n_superseded": superseded,
        "superseded_frac": round(frac, 6),
        "n_batches": int(row.n_batches),
        "cb_ver": int(row.cb_ver) if row.cb_ver is not None else 0,
        "needs_compaction": frac >= compact_threshold,
    }
