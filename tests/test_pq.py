"""Product quantization (operators/pq.py): code-range/shape
invariants, determinism, the decode⇄ADC identity (the ADC score IS
the reconstructed dot product), ranking quality vs brute force, and
plan discipline (broadcast LUT, no cartesian)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from easydb_server_spark.operators.pq import pq_adc_topk, pq_decode, pq_encode, pq_train

M, K = 4, 8
DIM = 32


def _vecs(spark, n=120, dim=DIM, seed=7):
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_codebook_shape_and_code_range(spark):
    emb = _vecs(spark)
    cb = pq_train(emb, "embedding", "vec_id", m=M, k=K, n_iters=1)
    rows = cb.collect()
    assert len(rows) == M * K
    assert {(r.sub, r.code) for r in rows} == {
        (s, c) for s in range(M) for c in range(K)
    }
    assert all(len(r.centroid) == DIM // M for r in rows)
    enc = pq_encode(emb, "embedding", "vec_id", cb, m=M)
    codes = enc.select(F.explode("codes").alias("c")).agg(
        F.min("c"), F.max("c"), F.count("*")
    ).first()
    assert codes[0] >= 0 and codes[1] < K and codes[2] == 120 * M


def test_training_is_deterministic(spark):
    emb = _vecs(spark)
    a = pq_train(emb, "embedding", "vec_id", m=M, k=K, n_iters=2)
    b = pq_train(emb, "embedding", "vec_id", m=M, k=K, n_iters=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_adc_score_is_reconstructed_dot(spark):
    emb = _vecs(spark, n=80)
    cb = pq_train(emb, "embedding", "vec_id", m=M, k=K)
    enc = pq_encode(emb, "embedding", "vec_id", cb, m=M)
    q = emb.where(F.col("vec_id") < 5)
    top = pq_adc_topk(q, enc, cb, "embedding", "vec_id", m=M, k_top=4)
    dec = {r.vec_id: np.array(r.vec) for r in pq_decode(enc, cb).collect()}
    qv = {r.vec_id: np.array(r.embedding) for r in q.collect()}
    rows = top.collect()
    assert rows
    for r in rows:
        # per-sub rounding at 6dp -> full-dot agreement within m*5e-7
        assert abs(float(np.dot(qv[r.qid], dec[r.cid])) - r.adc_score) < 5e-6


def test_reconstruction_beats_random_and_ranking_correlates(spark):
    emb = _vecs(spark, n=150)
    cb = pq_train(emb, "embedding", "vec_id", m=M, k=K, n_iters=2)
    enc = pq_encode(emb, "embedding", "vec_id", cb, m=M)
    dec = {r.vec_id: np.array(r.vec) for r in pq_decode(enc, cb).collect()}
    orig = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    # mean reconstruction cosine must be far above the ~0 of random
    # unit vectors in 32-d
    cos = [
        float(np.dot(orig[i], dec[i]))
        / (np.linalg.norm(orig[i]) * np.linalg.norm(dec[i]))
        for i in orig
    ]
    assert np.mean(cos) > 0.5


def test_adc_ranking_recalls_clustered_neighbors(spark):
    # ADC recall is only meaningful on data WITH structure: 10 tight
    # clusters in 32-d. Exact top-8 of a query are its cluster mates;
    # PQ must recover most of them (chance is 8/149 ~ 0.05).
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(10, DIM)) * 3
    v = np.vstack([centers[i % 10] + rng.normal(size=DIM) * 0.3 for i in range(150)])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(150)],
        "vec_id long, embedding array<double>",
    )
    cb = pq_train(emb, "embedding", "vec_id", m=M, k=K, n_iters=2)
    enc = pq_encode(emb, "embedding", "vec_id", cb, m=M)
    q = emb.where(F.col("vec_id") < 10)
    top = pq_adc_topk(q, enc, cb, "embedding", "vec_id", m=M, k_top=8)
    got = {}
    for r in top.collect():
        got.setdefault(r.qid, set()).add(r.cid)
    # quantization deliberately collapses WITHIN-cluster ordering
    # (cluster mates share codes), so the locked property is
    # cluster-mate precision: nearly everything returned must be from
    # the query's own cluster (chance ~ 14/149 ≈ 0.09) …
    mates = 0
    for qid, cids in got.items():
        mates += sum(1 for c in cids if c % 10 == qid % 10)
    assert mates / (8 * len(got)) > 0.9
    # … plus exact-top-8 recall well above chance (8/149 ≈ 0.05)
    hits = 0
    for qid in got:
        sims = {cid: float(np.dot(v[qid], v[cid])) for cid in range(150) if cid != qid}
        exact = set(sorted(sims, key=lambda c: -sims[c])[:8])
        hits += len(exact & got[qid])
    assert hits / (8 * len(got)) > 0.4


def test_dim_must_divide_and_empty_corpus_raises(spark):
    bad = spark.createDataFrame([(1, [0.1] * 30)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(bad, "embedding", "vec_id", m=M, k=K)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        pq_train(empty, "embedding", "vec_id", m=M, k=K)


def test_adc_plan_literal_scoring_no_join(spark):
    # r16: bounded query batches score against the LITERAL LUT — the
    # plan must contain NO join of any kind (the broadcast-hash LUT
    # join and the (qid, cid) partial-sum shuffle are gone); the only
    # exchanges left are the two rank windows' hash partitionings
    emb = _vecs(spark, n=60)
    cb = pq_train(emb, "embedding", "vec_id", m=M, k=K)
    enc = pq_encode(emb, "embedding", "vec_id", cb, m=M)
    top = pq_adc_topk(
        emb.where(F.col("vec_id") < 3), enc, cb, "embedding", "vec_id", m=M, k_top=3
    )
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" not in plan  # the in-row sum replaced the groupBy


def test_adc_large_batch_falls_back_to_broadcast_lut(spark):
    # an oversized query batch (q*m*k over the literal bound) must take
    # the original broadcast-join path — same results, join plan
    emb = _vecs(spark, n=200)
    cb = pq_train(emb, "embedding", "vec_id", m=M, k=K)
    enc = pq_encode(emb, "embedding", "vec_id", cb, m=M)
    big_q = emb.where(F.col("vec_id") < 180)  # 180*4*8 = 5760 > 4096
    top = pq_adc_topk(big_q, enc, cb, "embedding", "vec_id", m=M, k_top=3)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # literal and join paths agree bit-for-bit on a shared slice
    small_q = emb.where(F.col("vec_id") < 3)
    lit = {
        (r.qid, r.rank): (r.cid, r.adc_score)
        for r in pq_adc_topk(
            small_q, enc, cb, "embedding", "vec_id", m=M, k_top=3
        ).collect()
    }
    via_join = {
        (r.qid, r.rank): (r.cid, r.adc_score)
        for r in pq_adc_topk(
            big_q, enc, cb, "embedding", "vec_id", m=M, k_top=3
        ).collect()
        if r.qid < 3
    }
    assert lit == via_join


# ---------------- IVFADC composition (r11) ----------------

from easydb_server_spark.operators.pq import ivfpq_adc_topk  # noqa: E402


def _clustered(spark, n_clusters=8, per=16, dim=DIM, seed=13):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 3.0
    rows = []
    for c in range(n_clusters):
        pts = centers[c] + rng.normal(size=(per, dim)) * 0.15
        for i, p in enumerate(pts):
            rows.append((c * per + i, [float(v) for v in p]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivfpq_recalls_cluster_mates(spark):
    emb = _clustered(spark)
    q = emb.where(F.col("vec_id") % 16 == 0)  # one query per cluster
    top = ivfpq_adc_topk(
        emb, q, "embedding", "vec_id", m=M, k=K, n_cells=8, nprobe=2, k_top=5
    )
    rows = top.collect()
    assert {r.qid for r in rows} == {c * 16 for c in range(8)}
    # IVFADC scores rank cluster mates first: every hit shares the
    # query's cluster (vec_id // 16)
    same = [r for r in rows if r.cid // 16 == r.qid // 16]
    assert len(same) / len(rows) > 0.9
    # ranks are 1..5 per query, self excluded
    for r in rows:
        assert 1 <= r.rank <= 5 and r.cid != r.qid


def test_ivfpq_is_deterministic_across_partitionings(spark):
    emb = _clustered(spark, seed=29)
    q = emb.where(F.col("vec_id") < 3)
    a = sorted(
        map(
            tuple,
            ivfpq_adc_topk(
                emb.repartition(1), q, "embedding", "vec_id", m=M, k=K, n_cells=8
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            ivfpq_adc_topk(
                emb.repartition(32), q, "embedding", "vec_id", m=M, k=K, n_cells=8
            ).collect(),
        )
    )
    assert a == b


def test_ivfpq_score_tracks_true_dot(spark):
    emb = _clustered(spark, seed=31)
    q = emb.where(F.col("vec_id") == 0)
    top = ivfpq_adc_topk(emb, q, "embedding", "vec_id", m=M, k=K, n_cells=8, k_top=5)
    orig = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    for r in top.collect():
        true = float(np.dot(orig[0], orig[r.cid]))
        # coarse dot + residual reconstruction: tight clusters keep
        # the quantization error small relative to |dot| ~ 9·dim·0.1
        assert abs(true - r.adc_score) / max(abs(true), 1.0) < 0.25


def test_pq_store_lifecycle(spark):
    """write -> append (re-crawled + new ids) -> compact -> serve:
    newest seq wins, serving equals direct ADC over the equivalent
    final corpus, and a codebook-version mismatch refuses loudly."""
    import pyspark.sql.functions as F

    from easydb_server_spark.operators import pq as PQ

    e = _vecs(spark, n=1100, dim=DIM, seed=11)
    tbl = "pq_store_t"
    base = e.where(F.col("vec_id") < 40)
    PQ.write_pq_store(base, "embedding", "vec_id", tbl, m=4, k=8)
    assert spark.table(tbl).count() == 40

    shifted = e.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 50))
    recrawl = shifted.select((F.col("vec_id") - 40).alias("vec_id"), "embedding")
    new = shifted.select((F.col("vec_id") + 960).alias("vec_id"), "embedding")
    n = PQ.append_to_pq_store(spark, recrawl.unionAll(new), "embedding", "vec_id", tbl)
    assert n == 20
    assert spark.table(tbl).count() == 60  # append-only until compaction

    kept = PQ.compact_pq_store(spark, tbl)
    assert kept == 50
    # newest-wins: ids 0..9 must carry the re-crawled vectors' codes
    cb, _ver, m, _w = PQ._store_codebook(spark, tbl)
    want = {
        r.vec_id: r.codes
        for r in PQ.pq_encode(recrawl, "embedding", "vec_id", cb, m=m).collect()
    }
    got = {r.cid: r.codes for r in spark.table(tbl).where(F.col("cid") < 10).collect()}
    assert got == want

    # serving equals direct ADC over the equivalent final corpus
    q = e.where(F.col("vec_id") < 4)
    served = PQ.pq_store_adc_topk(spark, q, "embedding", "vec_id", tbl, k_top=5)
    final_corpus = recrawl.unionAll(
        e.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 40))
    ).unionAll(new)
    direct_enc = PQ.pq_encode(final_corpus, "embedding", "vec_id", cb, m=m)
    direct = PQ.pq_adc_topk(q, direct_enc, cb, "embedding", "vec_id", m=m, k_top=5)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, direct.collect()))

    # stale-codebook refusal: bump the codebook version without
    # re-encoding -> append and serve must refuse
    cbt = spark.table(f"{tbl}_codebook")
    bumped = cbt.withColumn("cb_ver", F.col("cb_ver") + 1).localCheckpoint(eager=True)
    bumped.write.mode("overwrite").format("parquet").saveAsTable(f"{tbl}_codebook")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="codebook version"):
        PQ.append_to_pq_store(spark, recrawl, "embedding", "vec_id", tbl)
    with _pytest.raises(ValueError, match="codebook version"):
        PQ.pq_store_adc_topk(spark, q, "embedding", "vec_id", tbl)

    # rebuild retrains, re-encodes, and serving works again
    PQ.rebuild_pq_store(spark, final_corpus, "embedding", "vec_id", tbl, m=4, k=8)
    assert PQ.pq_store_adc_topk(spark, q, "embedding", "vec_id", tbl).count() == 20


def test_rebuild_creates_missing_store(spark):
    """rebuild_pq_store on a table that does not exist yet starts the
    store at cb_ver 0 with the default bucket count (no codebook to
    carry over) and serves from it."""
    from easydb_server_spark.operators import pq as PQ
    from easydb_server_spark.tables import drop_table

    e = _vecs(spark, n=40, dim=DIM, seed=5)
    tbl = "pq_store_rebuild_new_t"
    drop_table(spark, tbl)
    drop_table(spark, f"{tbl}_codebook")
    assert not spark.catalog.tableExists(f"{tbl}_codebook")

    PQ.rebuild_pq_store(spark, e, "embedding", "vec_id", tbl, m=4, k=8)
    _cb, ver, m, _w = PQ._store_codebook(spark, tbl)
    assert (ver, m) == (0, 4)
    assert PQ._store_n_buckets(spark, tbl) == PQ._PQ_STORE_BUCKETS
    assert spark.table(tbl).count() == 40
    q = e.where(F.col("vec_id") < 2)
    assert PQ.pq_store_adc_topk(spark, q, "embedding", "vec_id", tbl, k_top=5).count() == 10


def test_pq_store_stats_compaction_trigger(spark):
    import pyspark.sql.functions as F

    from easydb_server_spark.operators import pq as PQ

    e = _vecs(spark, n=60, dim=DIM, seed=3)
    tbl = "pq_store_stats_t"
    PQ.write_pq_store(e.where(F.col("vec_id") < 40), "embedding", "vec_id", tbl, m=4, k=8)
    s0 = PQ.pq_store_stats(spark, tbl)
    assert s0["n_rows"] == s0["n_ids"] == 40 and not s0["needs_compaction"]
    # re-crawl 15 of 40 ids -> 15/55 superseded > 20%
    recrawl = e.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 55)).select(
        (F.col("vec_id") - 40).alias("vec_id"), "embedding"
    )
    PQ.append_to_pq_store(spark, recrawl, "embedding", "vec_id", tbl)
    s1 = PQ.pq_store_stats(spark, tbl)
    assert s1["n_rows"] == 55 and s1["n_ids"] == 40 and s1["n_superseded"] == 15
    assert s1["needs_compaction"]
    PQ.compact_pq_store(spark, tbl)
    s2 = PQ.pq_store_stats(spark, tbl)
    assert s2["n_rows"] == s2["n_ids"] == 40 and not s2["needs_compaction"]


def _bucket_files(spark, tbl):
    from easydb_server_spark.operators.pq import _bucket_file_counts

    # full file paths per bucket (not just counts) so "untouched" is
    # checkable byte-for-byte: same paths = same files
    jvm = spark.sparkContext._jvm
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    root = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{tbl.lower()}")
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("bucket="):
            out[name] = sorted(
                f.getPath().getName()
                for f in fs.listStatus(st.getPath())
                if f.isFile() and not f.getPath().getName().startswith("_")
            )
    assert out == {f"bucket={b}": v for b, v in {
        int(k.split("=")[1]): v for k, v in out.items()
    }.items()}  # sanity: keys parse
    return out


def test_compaction_rewrites_only_dirty_buckets(spark):
    """Selective compaction: fresh-id appends leave every bucket's
    files physically untouched; a re-crawl rewrites ONLY the buckets
    holding the superseded cids."""
    from easydb_server_spark.operators import pq as PQ

    e = _vecs(spark, n=300, dim=DIM, seed=21)
    tbl = "pq_store_selective_t"
    PQ.write_pq_store(e.where(F.col("vec_id") < 100), "embedding", "vec_id", tbl, m=4, k=8)

    # fresh-id append, no superseded rows, file counts under the cap
    fresh = e.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 120))
    PQ.append_to_pq_store(spark, fresh, "embedding", "vec_id", tbl)
    before = _bucket_files(spark, tbl)
    kept = PQ.compact_pq_store(spark, tbl)
    assert kept == 120
    assert _bucket_files(spark, tbl) == before  # zero bytes rewritten

    # re-crawl TWO ids -> only their buckets may be rewritten
    recrawl = e.where((F.col("vec_id") >= 120) & (F.col("vec_id") < 122)).select(
        (F.col("vec_id") - 120).alias("vec_id"), "embedding"
    )
    PQ.append_to_pq_store(spark, recrawl, "embedding", "vec_id", tbl)
    before = _bucket_files(spark, tbl)
    dirty = {
        f"bucket={r.bucket}"
        for r in spark.table(tbl)
        .groupBy("bucket", "cid").count().where("count > 1")
        .select("bucket").distinct().collect()
    }
    kept = PQ.compact_pq_store(spark, tbl)
    assert kept == 120
    after = _bucket_files(spark, tbl)
    for b in before:
        if b not in dirty:
            assert after[b] == before[b], f"clean bucket {b} was rewritten"
    # the dirty buckets really did change and hold no superseded rows
    assert spark.table(tbl).groupBy("cid").count().where("count > 1").count() == 0


def test_compaction_crash_recovery_replays_staged(spark):
    """A crash between the staged commit and the partition overwrite
    leaves <table>__compact_staged; the next store entry point must
    replay it (newest-wins state) before doing anything else."""
    from easydb_server_spark.operators import pq as PQ

    e = _vecs(spark, n=80, dim=DIM, seed=23)
    tbl = "pq_store_crash_t"
    PQ.write_pq_store(e.where(F.col("vec_id") < 40), "embedding", "vec_id", tbl, m=4, k=8)
    recrawl = e.where((F.col("vec_id") >= 40) & (F.col("vec_id") < 48)).select(
        (F.col("vec_id") - 40).alias("vec_id"), "embedding"
    )
    PQ.append_to_pq_store(spark, recrawl, "embedding", "vec_id", tbl)

    # simulate the crash: build the staged table exactly as compaction
    # would, then "die" before the overwrite
    from pyspark.sql import Window

    t = spark.table(tbl)
    dirty = [
        r.bucket
        for r in t.groupBy("bucket", "cid").count().where("count > 1")
        .select("bucket").distinct().collect()
    ]
    w = Window.partitionBy("cid").orderBy(F.col("seq").desc())
    keep = (
        t.where(F.col("bucket").isin(dirty))
        .withColumn("_r", F.row_number().over(w)).where("_r = 1").drop("_r")
        .select(*t.columns)
    )
    staged = f"{tbl}__compact_staged"
    spark.sql(f"DROP TABLE IF EXISTS {staged}")
    keep.repartition("bucket").write.partitionBy("bucket").mode("overwrite").format(
        "parquet"
    ).saveAsTable(staged)
    assert spark.catalog.tableExists(staged)

    # next append runs recovery first: staged replayed, dupes gone
    fresh = e.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 70))
    PQ.append_to_pq_store(spark, fresh, "embedding", "vec_id", tbl)
    assert not spark.catalog.tableExists(staged)
    assert spark.table(tbl).groupBy("cid").count().where("count > 1").count() == 0
    assert spark.table(tbl).count() == 50  # 40 distinct after replay + 10 fresh


def test_store_bucket_count_is_persisted_not_process_local(spark):
    """A store written with n_buckets=64 must keep 64 for every later
    append even if the module default says 16 — otherwise the same cid
    scatters across two partitions and per-bucket newest-wins breaks."""
    from easydb_server_spark.operators import pq as PQ

    e = _vecs(spark, n=80, dim=DIM, seed=31)
    tbl = "pq_store_nb_t"
    PQ.write_pq_store(
        e.where(F.col("vec_id") < 40), "embedding", "vec_id", tbl, m=4, k=8, n_buckets=64
    )
    assert PQ._store_n_buckets(spark, tbl) == 64
    # re-crawl id 0 with a different vector; its new row must land in
    # the SAME bucket as the original (pmod(hash, 64), not 16)
    recrawl = e.where(F.col("vec_id") == 41).select(
        F.lit(0).cast("long").alias("vec_id"), "embedding"
    )
    PQ.append_to_pq_store(spark, recrawl, "embedding", "vec_id", tbl)
    buckets = [
        r.bucket for r in spark.table(tbl).where("cid = 0").select("bucket").collect()
    ]
    assert len(buckets) == 2 and len(set(buckets)) == 1
    # compaction then keeps exactly one row for cid 0 (newest wins)
    PQ.compact_pq_store(spark, tbl)
    assert spark.table(tbl).where("cid = 0").count() == 1
