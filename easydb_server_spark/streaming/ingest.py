"""Continuous-ingest dedup: a document stream exact-deduped against
the persistent corpus digest index, micro-batch by micro-batch.

This is the streaming form of
:func:`easydb_server_spark.operators.dedup.incremental_dedup` — the
shape a 100 TB/day crawl-ingest pipeline actually runs: documents land
as files, each micro-batch is deduped (a) within itself and (b)
against everything ever admitted before it, and the admitted batch's
digests are appended back to the index so the *next* batch sees them.

Why foreachBatch instead of streaming ``dropDuplicates``: content
hashes never expire, so streaming dedup state on them is unbounded —
no watermark can ever evict it. Holding that state in the state store
grows without limit; holding it in a bucketed digest TABLE on storage
is bounded only by distinct corpus content, survives any restart, is
shared with the batch operators (one index, both execution modes), and
keeps the streaming query itself completely stateless.

Replay safety (micro-batch retries after a crash): the index read
filters ``batch_id < current batch id``, so a half-committed replay of
batch N never sees N's own digests and recomputes the identical admit
list; admitted rows land in a deterministic ``batch_id=N`` partition
with dynamic-partition overwrite, so re-running the batch overwrites
rather than duplicates; and re-appended digests are harmless because
anti-join semantics depend only on hash membership, not multiplicity.

Scale shape: per micro-batch the only work proportional to the corpus
is the probe of the bucketed digest table — co-located, pre-sorted,
no exchange on the index side (same plan shape
tests/test_incremental_dedup.py locks for the batch operator). Only
the batch's 32-byte digests shuffle; corpus text is never re-read.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType
from easydb_server_spark.operators._localframe import local_frame
from easydb_server_spark.tables import write_table

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ]
)


def stream_incremental_dedup(
    docs_stream: DataFrame,
    text_col: str,
    id_col: str,
    index_table: str,
    admitted_path: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
):
    """Start the continuous-ingest dedup query; returns the handle.

    ``index_table``: bucketed digest table (content_hash, first_id,
    batch_id), created on the first batch, appended per batch.
    ``admitted_path``: parquet of admitted (doc_id, content_hash),
    one ``batch_id=N`` partition per micro-batch (idempotent replay).
    """
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        b = batch_df.select(
            F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_hash")
        )
        batch_first = b.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
        if sess.catalog.tableExists(index_table):
            prior = sess.table(index_table).where(F.col("batch_id") < F.lit(batch_id))
            admitted = batch_first.join(
                prior.select("content_hash"), "content_hash", "left_anti"
            )
        else:
            admitted = batch_first
        admitted = admitted.select("doc_id", "content_hash").localCheckpoint(eager=True)

        # 1) admitted docs: deterministic per-batch partition, replay overwrites
        admitted.withColumn("batch_id", F.lit(batch_id)).write.partitionBy(
            "batch_id"
        ).mode("overwrite").option("partitionOverwriteMode", "dynamic").parquet(
            admitted_path
        )
        # 2) digests back to the bucketed index so batch N+1 sees them
        (
            admitted.select(
                "content_hash",
                F.col("doc_id").alias("first_id"),
                F.lit(batch_id).alias("batch_id"),
            )
            .write.bucketBy(n_buckets, "content_hash")
            .sortBy("content_hash")
            .mode("append")
            .format("parquet")
            .saveAsTable(index_table)
        )

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"ingest_dedup_{index_table}")
        .trigger(availableNow=True)
        .start()
    )


def stream_ingest_pipeline(
    docs_stream: DataFrame,
    text_col: str,
    id_col: str,
    digest_table: str,
    admitted_path: str,
    checkpoint_dir: str,
    min_quality: float | None = None,
    neardup_prefix: str | None = None,
    neardup_threshold: float = 0.9,
    n_buckets: int = 16,
    benchmark_digest_table: str | None = None,
    gopher: bool | dict = False,
    c4: bool | dict = False,
    lm_table: str | None = None,
    min_mean_logprob: float | None = None,
):
    """The full continuous-ingest curation pipeline, per micro-batch:

    1. **quality gates** (optional): drop documents whose composite
       quality score (`operators.text._quality_col` — the same
       expression the batch pruners use) is below ``min_quality``;
       with ``gopher=True``, additionally require
       ``operators.text.gopher_rules``' ``pass_gopher`` (the Rae et
       al. 2021 rule set — DELEGATED to the batch operator, so a
       streamed corpus and a batch-gated corpus of the same data
       admit the same documents; pre-r9 the stream skipped these
       gates and the two paths diverged); with ``c4=True`` (or a
       dict of dials), additionally require
       ``operators.text.c4_rules``' ``pass_c4`` (the Raffel et al.
       2020 §2.2 line/page filter — same delegation contract; note
       C4's line filter REWRITES text, but the admit gate here only
       consumes the page-level booleans, so admitted documents land
       unmodified — run c4_rules in batch over the admitted corpus
       when the cleaned text itself is wanted); with ``lm_table`` +
       ``min_mean_logprob``, also require the CCNet-style unigram-LM
       score under the PERSISTED model
       (``operators.text.score_unigram_lm`` over a
       ``write_unigram_lm`` table — a frozen pretrained scorer, the
       form of the CCNet gate that is meaningful per micro-batch;
       the corpus-self-trained tercile form cannot be replayed on a
       batch that hasn't all arrived yet). All three are stateless
       per-batch filters: in-row column arithmetic plus two broadcast
       probes of vocabulary-bounded tables. Batch≡stream admit-list
       equivalence is pytest-locked (tests/test_streaming_ingest.py).
    2. **exact dedup**: batch deduped within itself, then anti-joined
       against the persistent digest index (same replay-safe shape as
       :func:`stream_incremental_dedup`).
    3. **fuzzy rejection** (optional, ``neardup_prefix``): survivors'
       LSH band rows probe the persistent MinHash band index
       (``<prefix>_bands`` / ``<prefix>_sigs``); anything whose
       signature-agreement estimate against ANY indexed doc reaches
       ``neardup_threshold`` is rejected. Corpus text is never read.

       Threshold-semantics cutover (r7, unified with the batch
       operator): the gate is ``est_jaccard = n_agree/16 >=
       threshold``, i.e. at the 0.9 default n_agree must be ≥ 15 of
       16. The pre-r7 inline check was ``n_agree >= round(0.9·16) =
       14``, so borderline docs with exactly 14 agreements (est 0.875)
       that the old gate REJECTED are now admitted. A pipeline
       upgraded mid-stream that replays a checkpointed batch can
       therefore compute a different admit list than the run it
       resumes; pass ``neardup_threshold=14/16`` to reproduce the old
       cut exactly. (PARITY.md "Streaming near-dup threshold".)
    4. **decontamination** (optional, ``benchmark_digest_table``): a
       persisted table of DISTINCT 60-bit benchmark shingle digests
       (one ``h`` column — write it once with
       ``text.decontaminate``'s bench side); any survivor sharing a
       3-shingle with the eval set is rejected. The digest table is
       tiny and static, so the per-batch cost is a broadcast semi
       probe of the batch's shingles — the identical shape the batch
       operator uses.
    5. admitted docs land in a ``batch_id=N`` partition; their digests
       AND band/signature rows append to the indexes so batch N+1
       sees them. All index reads filter ``batch_id < current`` —
       crash-replay recomputes the identical admit list.

    State story is the same as :func:`stream_incremental_dedup`: the
    streaming query itself holds ZERO state — every byte of dedup
    memory lives in bucketed tables on storage, shared with the batch
    operators and bounded by distinct corpus content, not by ingest
    volume.
    """
    from easydb_server_spark.operators.dedup import (
        bands_from_sig_array,
        incremental_neardup,
        migrate_sigs_table_to_arrays,
        minhash_sig_array,
    )
    from easydb_server_spark.operators.text import (
        _quality_col,
        c4_rules,
        gopher_rules,
        score_unigram_lm,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        if neardup_prefix is not None:
            # legacy row-form (doc_id, i, minhash[, batch_id]) sigs
            # tables are readable via _sigs_as_arrays but NOT
            # appendable with array rows — rewrite once to array form
            # before this batch touches the index (round-8 ADVICE);
            # no-op (a metadata column peek) on already-array tables
            migrate_sigs_table_to_arrays(sess, f"{neardup_prefix}_sigs", n_buckets)
        b = batch_df
        if min_quality is not None:
            b = b.where(_quality_col(F.col(text_col)) >= F.lit(float(min_quality)))
        if gopher:
            # delegate to the batch rule set — the admit decision is
            # the same expression tree batch curation runs; a dict
            # passes threshold dials through (True = paper defaults)
            gk = gopher if isinstance(gopher, dict) else {}
            ok = (
                gopher_rules(b, text_col, id_col, **gk)
                .where(F.col("pass_gopher"))
                .select(F.col("doc_id").alias(id_col))
            )
            b = b.join(ok, id_col, "left_semi")
        if c4:
            ck = c4 if isinstance(c4, dict) else {}
            ok = (
                c4_rules(b, text_col, id_col, **ck)
                .where(F.col("pass_c4"))
                .select(F.col("doc_id").alias(id_col))
            )
            b = b.join(ok, id_col, "left_semi")
        if lm_table is not None and min_mean_logprob is not None:
            scored = score_unigram_lm(b, text_col, id_col, sess, lm_table)
            ok = scored.where(
                F.col("mean_logprob") >= F.lit(float(min_mean_logprob))
            ).select(F.col("doc_id").alias(id_col))
            b = b.join(ok, id_col, "left_semi")
        hashed = b.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.md5(F.col(text_col)).alias("content_hash"),
        )
        batch_first = (
            hashed.groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id"))
            .join(hashed.select("doc_id", "text"), "doc_id")
        )
        if sess.catalog.tableExists(digest_table):
            prior = sess.table(digest_table).where(F.col("batch_id") < F.lit(batch_id))
            survivors = batch_first.join(
                prior.select("content_hash"), "content_hash", "left_anti"
            )
        else:
            survivors = batch_first

        if neardup_prefix is not None and sess.catalog.tableExists(f"{neardup_prefix}_bands"):
            # delegate to the batch operator so the streaming admit
            # decision can never drift from incremental_neardup's
            # (same est_jaccard >= threshold semantics, same plan)
            idx_bands = sess.table(f"{neardup_prefix}_bands").where(
                F.col("batch_id") < F.lit(batch_id)
            )
            idx_sigs = sess.table(f"{neardup_prefix}_sigs").where(
                F.col("batch_id") < F.lit(batch_id)
            )
            near = (
                incremental_neardup(
                    survivors,
                    "text",
                    "doc_id",
                    idx_bands,
                    idx_sigs,
                    threshold=neardup_threshold,
                )
                .select(F.col("batch_id").alias("doc_id"))
                .distinct()
            )
            survivors = survivors.join(near, "doc_id", "left_anti")

        if benchmark_digest_table is not None and sess.catalog.tableExists(
            benchmark_digest_table
        ):
            from easydb_server_spark.operators.dedup import _shingle_hash60, word_shingles

            bench_h = sess.table(benchmark_digest_table).select("h")
            s_sh = word_shingles(survivors, "text", "doc_id").select(
                "doc_id", _shingle_hash60(F.col("shingle")).alias("h")
            )
            contaminated = (
                s_sh.join(F.broadcast(bench_h), "h", "left_semi").select("doc_id").distinct()
            )
            survivors = survivors.join(contaminated, "doc_id", "left_anti")

        admitted = survivors.select("doc_id", "content_hash", "text").localCheckpoint(
            eager=True
        )
        admitted.select("doc_id", "content_hash").withColumn(
            "batch_id", F.lit(batch_id)
        ).write.partitionBy("batch_id").mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(admitted_path)
        (
            admitted.select(
                "content_hash",
                F.col("doc_id").alias("first_id"),
                F.lit(batch_id).alias("batch_id"),
            )
            .write.bucketBy(n_buckets, "content_hash")
            .sortBy("content_hash")
            .mode("append")
            .format("parquet")
            .saveAsTable(digest_table)
        )
        if neardup_prefix is not None:
            a_sig = minhash_sig_array(
                admitted.select("doc_id", "text"), "text", "doc_id"
            ).localCheckpoint(eager=True)
            # bands derive from the just-checkpointed signature arrays
            # (md5 over 16 ints) — the batch text is never re-shingled
            a_bands = bands_from_sig_array(a_sig)
            (
                a_bands.withColumn("batch_id", F.lit(batch_id))
                .write.bucketBy(n_buckets, "band_hash")
                .sortBy("band_hash")
                .mode("append")
                .format("parquet")
                .saveAsTable(f"{neardup_prefix}_bands")
            )
            (
                a_sig.withColumn("batch_id", F.lit(batch_id))
                .write.bucketBy(n_buckets, "doc_id")
                .sortBy("doc_id")
                .mode("append")
                .format("parquet")
                .saveAsTable(f"{neardup_prefix}_sigs")
            )

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"ingest_pipeline_{digest_table}")
        .trigger(availableNow=True)
        .start()
    )


def stream_embedding_ingest(
    vec_stream: DataFrame,
    vec_col: str,
    id_col: str,
    store_table: str,
    admitted_path: str,
    checkpoint_dir: str,
    threshold: float = 0.99,
    nprobe: int = 1,
    n_cells: int | None = None,
):
    """Continuous EMBEDDING ingest against the persistent IVF store —
    the semantic counterpart of :func:`stream_ingest_pipeline`'s
    exact/fuzzy text dedup. Per micro-batch:

    1. **within-batch dedup**: the batch probes ITSELF through a cell
       geometry derived from the batch's own vectors (deterministic
       k-means — a pure function of batch content, so a crash-replay
       recomputes it identically; the store's centroids would make
       batch 0's replay geometry-dependent); of any near-dup pair the
       smaller id survives.
    2. **store probe**: survivors probe the persisted store's probed
       cell partitions (``incremental_embedding_neardup``); anything
       at cosine ≥ ``threshold`` against ANY stored vector (with
       ``seq < batch_id`` — replay safety) is rejected.
    3. admitted vectors land in a ``batch_id=N`` parquet partition
       (dynamic overwrite — replay overwrites, never duplicates) and
       append to the store stamped ``seq = batch_id``, so batch N+1
       sees them.

    The FIRST batch bootstraps the store (``write_ivf_store`` with
    ``seq = 0`` semantics; later batches reuse its frozen centroids —
    watch :func:`...operators.similarity.ivf_store_stats` between
    runs and retrain offline, exactly like the dedup indexes'
    between-run compaction).

    Replay safety: a crash-replayed batch filters the store to
    ``seq < batch_id``, so it never sees its own half-committed
    append and recomputes the identical admit list; its re-appended
    rows carry the same ``seq`` and collapse at the next
    ``compact_ivf_store`` (newest-seq-wins keeps one copy — contents
    equal, so which one is immaterial). State story: the streaming
    query holds ZERO state — every byte of dedup memory is the
    bucketless cell-partitioned store on storage, shared with the
    batch operators and bounded by admitted corpus size.
    """
    from easydb_server_spark.operators.similarity import (
        _as_double,
        _assign_cells,
        append_to_ivf_store,
        embedding_neardup_probe,
        ivf_centroids,
        write_ivf_store,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        b = batch_df.select(
            F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qvec")
        ).localCheckpoint(eager=True)
        # (1) within-batch semantic dedup under the batch's OWN
        # deterministic geometry (smaller id wins)
        batch_cents = ivf_centroids(b, "qvec", "qid", n_cells)
        self_store = _assign_cells(
            b.select(F.col("qid").alias("cid"), F.col("qvec").alias("cvec")), batch_cents
        )
        self_pairs = (
            embedding_neardup_probe(self_store, batch_cents, b, threshold, nprobe)
            .where(F.col("batch_id") > F.col("corpus_id"))
            .select(F.col("batch_id").alias("qid"))
            .distinct()
        )
        admitted = b.join(self_pairs, "qid", "left_anti")
        has_store = sess.catalog.tableExists(store_table)
        if has_store:
            # (2) probe the persistent store, replay-safe
            cents = sess.table(f"{store_table}_centroids")
            store = sess.table(store_table).where(F.col("seq") < F.lit(batch_id))
            dups = (
                embedding_neardup_probe(store, cents, admitted, threshold, nprobe)
                .select(F.col("batch_id").alias("qid"))
                .distinct()
            )
            admitted = admitted.join(dups, "qid", "left_anti")
        admitted = admitted.localCheckpoint(eager=True)
        (
            admitted.withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(admitted_path)
        )
        if has_store:
            append_to_ivf_store(
                sess, admitted, "qvec", "qid", store_table, seq=batch_id
            )
        else:
            write_ivf_store(admitted, "qvec", "qid", store_table, n_cells=n_cells)

    return (
        vec_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"embedding_ingest_{store_table}")
        .trigger(availableNow=True)
        .start()
    )


def write_benchmark_digests(
    benchmark: DataFrame, text_col: str, id_col: str, table: str
) -> None:
    """Persist the eval set's DISTINCT 60-bit shingle digests once (one
    ``h`` column); the ingest pipeline broadcast-probes this table per
    micro-batch (``benchmark_digest_table=``). Benchmarks are tiny and
    static, so this is a one-time write the size of the eval set's
    shingle vocabulary — the streaming analogue of the batch
    ``text.decontaminate`` bench side."""
    from easydb_server_spark.operators.dedup import _shingle_hash60, word_shingles

    digests = (
        word_shingles(benchmark, text_col, id_col)
        .select(_shingle_hash60(F.col("shingle")).alias("h"))
        .distinct()
    )
    write_table(digests, table)


def stream_export_shards(
    docs_stream: DataFrame,
    text_col: str,
    id_col: str,
    out_dir: str,
    checkpoint_dir: str,
    n_shards: int = 8,
    seed: str = "v1",
):
    """Continuous training-shard export: each micro-batch's documents
    append under ``shard=S/batch_id=N`` plus a per-(batch, shard)
    manifest increment.

    Shard MEMBERSHIP is the same pure function of (seed, id) as the
    batch exporter's — `text._order_hash`, one shared definition — so
    a per-shard manifest roll-up (SUM over batches) equals the batch
    manifest of the union, and a document exported by either path
    lands in the same shard. The LAYOUTS differ and are not meant to
    interleave in one directory: the batch exporter writes
    ``shard=N`` with a materialized ``pos`` order; the streaming
    layout adds the ``batch_id`` partition level and orders within a
    shard by (batch_id, h), both carried on each row.

    Replay safety: rows land under ``shard=S/batch_id=N`` with
    dynamic-partition overwrite and the manifest increments are keyed
    by batch_id — a replayed micro-batch overwrites its own partitions
    and its manifest rows are re-derivable (readers aggregate with
    ``GROUP BY shard``, so a duplicate append from a crash between the
    two writes is detectable via batch_id and idempotent to rebuild).

    Scale shape per batch: ONE hash projection feeds both the
    partitioned append and the (checkpointed) manifest aggregate — the
    batch is read and hashed once; nothing is proportional to history.
    """
    from easydb_server_spark.operators.text import _order_hash, _text_hash32

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.select(
                F.col(id_col).alias("id"),
                F.col(text_col).alias("text"),
                _order_hash(id_col, seed).alias("h"),
                _text_hash32(text_col).alias("text_h"),
                F.size(F.split(F.col(text_col), " ")).alias("n_tokens"),
            )
            .withColumn("shard", (F.col("h") % n_shards).cast("int"))
            .localCheckpoint(eager=True)  # one batch read feeds both writes
        )
        (
            rows.select("id", "text", "h", "shard")
            .withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("shard", "batch_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .json(out_dir)
        )
        manifest = rows.groupBy("shard").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("text_h").alias("content_digest"),
        )
        (
            manifest.withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(f"{out_dir}/_manifest")
        )

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("export_shards")
        .trigger(availableNow=True)
        .start()
    )


def stream_crawl_ingest(
    pages_stream: DataFrame,
    html_col: str,
    url_col: str,
    id_col: str,
    digest_table: str,
    admitted_path: str,
    checkpoint_dir: str,
    blocked_domains: tuple[str, ...] = (),
    blocked_keywords: tuple[str, ...] = (),
    **ingest_kwargs,
):
    """Continuous CRAWL ingest: the batch crawl front half (URL gate →
    HTML→text extraction) composed onto :func:`stream_ingest_pipeline`
    so raw fetched pages stream straight into the curation pipeline.

    Both front stages are stateless per-row selects, so they run
    DIRECTLY on the streaming frame (no foreachBatch duplication): the
    URL gate is :func:`easydb_server_spark.operators.text.
    pass_url_expr` — literal blocklists, exactly ``url_features``'
    ``pass_url`` by shared construction — and the extraction is
    :func:`easydb_server_spark.operators.text.html_extract`'s regex
    chain. The extracted ``clean_text`` then flows through the same
    quality gates / exact dedup / fuzzy rejection / decontamination
    as any other document stream (``**ingest_kwargs`` passes those
    dials through), so a streamed crawl and a batch-gated crawl of
    the same pages admit the same documents — the delegation contract
    the Gopher/C4/LM gates already honor, extended to the crawl
    front door.
    """
    from easydb_server_spark.operators.text import html_extract, pass_url_expr

    gated = pages_stream.where(
        pass_url_expr(url_col, blocked_domains, blocked_keywords)
    )
    extracted = html_extract(gated, html_col, id_col).select(
        F.col("doc_id").alias(id_col), F.col("clean_text")
    )
    return stream_ingest_pipeline(
        extracted,
        "clean_text",
        id_col,
        digest_table,
        admitted_path,
        checkpoint_dir,
        **ingest_kwargs,
    )


def stream_distinct_sketches(
    events_stream: DataFrame,
    key_col: str,
    group_col: str,
    store_path: str,
    checkpoint_dir: str,
    lg_k: int = 14,
):
    """Continuous distinct-count sketching — the streaming half of
    :mod:`easydb_server_spark.operators.sketch`: each micro-batch
    reduces to per-group HLL register states and lands as a
    ``batch_id=N`` parquet partition (dynamic overwrite);
    :func:`read_sketch_store` answers "distinct ever" by unioning the
    partitions, so no raw key is ever retained and history is never
    rescanned.

    Replay safety is STRUCTURAL, not bookkept: HLL insertion is
    idempotent (re-observing an element cannot change a register) and
    union is commutative/associative, so a crash-replayed batch
    overwrites its own partition with identical bytes and the merged
    estimate is unchanged — the simplest member of the incremental-
    index family (the digest/band/IVF stores need seq stamps; sketches
    need nothing). The streaming query itself holds ZERO state: every
    byte of memory is the KB-scale sketch table on storage.
    """
    from easydb_server_spark.operators.sketch import distinct_sketches

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            distinct_sketches(batch_df, key_col, group_col, lg_k)
            .withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store_path)
        )

    return (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("distinct_sketches")
        .trigger(availableNow=True)
        .start()
    )


def read_sketch_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Merged per-group estimates over every landed sketch partition:
    (grp, distinct_estimate, n_rows, n_batches). A KB-scale scan
    regardless of how many keys the stream ever carried."""
    sk = spark.read.parquet(store_path)
    return sk.groupBy("grp").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("distinct_estimate"),
        F.sum("n_rows").alias("n_rows"),
        F.countDistinct("batch_id").alias("n_batches"),
    )


def stream_bucket_counts(
    events_stream: DataFrame,
    ts_col: str,
    group_col: str,
    store_path: str,
    checkpoint_dir: str,
    bucket: str = "1 hour",
):
    """Streaming half of volume-anomaly monitoring
    (operators/profile.py bucket_anomalies): each micro-batch lands
    its (group, window, n) counts as a ``batch_id=N`` parquet
    partition — replay overwrites the partition (idempotent, the
    sketch-store discipline; counts are additive across batches, so
    no seq gating is needed) and :func:`read_bucket_anomalies`
    recomputes z-scores over the SUMMED history at read time, giving
    the same numbers a batch run over the full corpus would (the
    delegation contract: scoring math lives in ONE place)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                F.col(group_col).alias("grp"),
                F.window(ts_col, bucket)["start"].alias("window_start"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store_path)
        )

    return (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("bucket_counts")
        .trigger(availableNow=True)
        .start()
    )


def read_bucket_anomalies(
    spark: SparkSession, store_path: str, z_threshold: float = 2.0
) -> DataFrame:
    """Merge the landed count partitions and z-score each (group,
    window) against its group's distribution — the identical exact-
    integer-sum arithmetic as the batch operator, over counts summed
    across batches. KB-scale regardless of stream history."""
    counts = (
        spark.read.parquet(store_path)
        .groupBy("grp", "window_start")
        .agg(F.sum("n").alias("n"))
    )
    stats = counts.groupBy("grp").agg(
        F.sum("n").alias("sum_n"),
        F.sum(F.col("n") * F.col("n")).alias("sum_nn"),
        F.count(F.lit(1)).alias("k"),
    )
    mu = F.col("sum_n").cast("double") / F.col("k")
    var = (
        F.col("sum_nn") - F.col("sum_n") * F.col("sum_n") / F.col("k").cast("double")
    ) / F.col("k")
    sd = F.sqrt(var)
    z = F.when(sd == 0, F.lit(0.0)).otherwise(F.round((F.col("n") - mu) / sd, 6))
    return counts.join(F.broadcast(stats), "grp").select(
        "grp",
        F.col("window_start").cast("string").alias("window_start"),
        "n",
        z.alias("z"),
        (F.abs(z) >= F.lit(z_threshold)).alias("is_anomaly"),
    )


AUDIO_BLOB_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def stream_landmark_ingest(
    blobs_stream: DataFrame,
    blob_col: str,
    id_col: str,
    index_table: str,
    decisions_path: str,
    checkpoint_dir: str,
    frame: int = 64,
    hop: int = 64,
    fanout: int = 3,
    min_votes: int = 3,
    max_bucket: int | None = 48,
    n_buckets: int = 16,
):
    """Continuous NEAR-dup audio ingest — the streaming form of
    :func:`easydb_server_spark.operators.audiofp.incremental_landmark_admit`,
    completing the streaming-ingest matrix next to the exact-digest and
    MinHash pipelines: each micro-batch of WAV blobs is fingerprinted,
    its timed landmarks probed against every clip ever admitted before
    it (corpus_match by offset voting) and against itself
    (batch_match), and the admitted clips' landmarks are appended back
    to the bucketed index so batch N+1 sees them.

    ``index_table``: (item_id, t, lm, batch_id), PARTITIONED by
    batch_id and bucketed on lm. ``decisions_path``: parquet of the
    full admit/reject decision rows, one ``batch_id=N`` partition per
    micro-batch (dynamic overwrite -> replay idempotent).

    Replay safety differs from the digest pipeline in one load-bearing
    way: digest anti-joins depend only on MEMBERSHIP, so re-appended
    digests are harmless — but landmark VOTES count rows, so a
    replayed append would double batch N's votes in every later probe.
    The append is therefore guarded by a partition-pruned exists-check
    on the ``batch_id=N`` partition: if the prior attempt committed
    its append, the replay skips it (decisions themselves recompute
    identically because the probe filters ``batch_id < N``); Spark's
    file-commit protocol makes a half-committed append invisible, so
    the check is exact. Landmark-row uniqueness per (item, t, lm) is
    thereby preserved by construction; compaction additionally keeps
    the earliest batch if an index is ever hand-merged.

    Scale shape: per micro-batch, blob decode + landmark extraction is
    map-only over the batch; the corpus-sized term is the probe of the
    bucketed landmark table — no exchange on the index side (the plan
    tests/test_audiofp.py locks for the batch operator) and measured
    FLAT under x10 index growth (SCALE.md "r16: incremental landmark
    index": x1.03). The streaming query itself is stateless; all state is the
    index table, shared with the batch operators."""
    from easydb_server_spark.operators.audiofp import (
        audio_fingerprint,
        audio_landmarks_timed,
        incremental_landmark_admit,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        sigs = audio_fingerprint(batch_df, blob_col, id_col, frame, hop)
        lms = audio_landmarks_timed(sigs, fanout).localCheckpoint(eager=True)
        if sess.catalog.tableExists(index_table):
            prior = sess.table(index_table).where(
                F.col("batch_id") < F.lit(batch_id)
            ).select("item_id", "t", "lm")
        else:
            prior = local_frame(sess, [], "item_id BIGINT, t INT, lm BIGINT")
        decisions = incremental_landmark_admit(
            prior, lms, min_votes=min_votes, max_bucket=max_bucket
        ).localCheckpoint(eager=True)

        # 1) decision rows: deterministic per-batch partition, replay
        # overwrites
        decisions.withColumn("batch_id", F.lit(batch_id)).write.partitionBy(
            "batch_id"
        ).mode("overwrite").option("partitionOverwriteMode", "dynamic").parquet(
            decisions_path
        )
        # 2) admitted clips' landmarks back to the index — guarded by
        # the exists-check (see docstring: votes count rows, replayed
        # appends must not double them)
        if sess.catalog.tableExists(index_table):
            already = (
                sess.table(index_table)
                .where(F.col("batch_id") == F.lit(batch_id))
                .limit(1)
                .count()
            )
            if already:
                return
        (
            lms.join(decisions.where("admitted").select("item_id"), "item_id")
            .withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id")
            .bucketBy(n_buckets, "lm")
            .sortBy("lm")
            .mode("append")
            .format("parquet")
            .saveAsTable(index_table)
        )

    return (
        blobs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"ingest_landmarks_{index_table}")
        .trigger(availableNow=True)
        .start()
    )
