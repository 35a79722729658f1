"""Deduplication operators for large-scale text corpora.

Beyond-parity operators (BASELINE.json north star; the reference has
no dedup surface — everything here is new Spark-first design):

- :func:`exact_dedup` — hash-groupBy exact dedup.
- :func:`minhash_pairs` — MinHash + LSH banding near-dup candidate
  pairs with exact-Jaccard verification.
- :func:`simhash_signatures` — per-doc SimHash bit signatures.
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via shingle
  inverted index (no O(n²) scan: only docs sharing a shingle meet).
- :func:`embedding_neardup_pairs` — cosine near-dup over embeddings.

Scale design: signatures and band keys compute entirely inside the
scan's projection (higher-order ``transform``/``aggregate`` over the
shingle array — zero exchange; see :func:`minhash_sig_array`); the
only shuffles left are the candidate bucket joins themselves, keyed
by band/bucket so Spark distributes the quadratic risk. Nothing
collects to the driver. Hash functions are md5-derived (deterministic,
engine-portable): h0 = first 8 hex digits of md5 → uint32, then a
family of universal hashes (a*h0+b) mod p with p = 4294967311 (prime
> 2^32); products stay < 2^63 so bigint arithmetic is exact.

Persistent indexes (digest, MinHash bands/sigs) are written, migrated
and compacted through :mod:`easydb_server_spark.tables`, which clears
an orphaned location on a from-scratch write and rewrites a live
index through a crash-safe staged copy.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from easydb_server_spark.functions.exactround import ratio_ge, round_ratio
from easydb_server_spark.tables import keep_one_per_key, recover_staged, rewrite_table, write_table

# universal-hash family parameters (deterministic; shared with oracles)
MINHASH_P = 4294967311  # prime > 2^32
MINHASH_N = 16  # signature length
MINHASH_BANDS = 4  # LSH bands (rows per band = N / BANDS)


def _hash_params(n: int = MINHASH_N) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs — a simple LCG keeps them portable."""
    params = []
    a, b = 1103515245, 12345
    x = 42
    for _ in range(n):
        x = (a * x + b) % (2**31)
        pa = x + 1
        x = (a * x + b) % (2**31)
        pb = x
        params.append((pa, pb))
    return params


def shingle_arrays(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Per-doc array of distinct word k-shingles — one narrow map.

    Pure JVM expressions: split → sliding windows via transform over an
    index sequence → array_distinct. No shuffle; per-doc stats (shingle
    counts) come straight off this without a second scan.

    NULL-text docs are dropped — the r6 explode-form semantics this
    family had before the zero-shuffle rewrite. Without the filter a
    null text shingles to [""] (null-skipping concat_ws), giving every
    null-text doc the SAME non-null signature and band keys, so they
    all become mutual LSH candidates — spurious pairs plus a quadratic
    candidate blowup on corpora with many null rows (round-8 ADVICE;
    locked by tests/test_dedup_nulls.py). The conformance fixtures
    carry no null text, so the DuckDB oracles see identical inputs
    either way.
    """
    words = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0)))
    shingle = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), F.array_distinct(shingle).alias("shingles"))
    )


def word_shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Explode each doc into its distinct word k-shingles (the map
    stage before any shingle shuffle; no Python in the loop)."""
    return shingle_arrays(df, text_col, id_col, k).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )


def _shingle_hash(col: F.Column) -> F.Column:
    """shingle → uint32 via md5 (portable across engines)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _shingle_hash60(col: F.Column) -> F.Column:
    """shingle → 60-bit int via md5: join/shuffle keys become 8 bytes
    instead of variable-length strings; collision odds at 1e6 distinct
    shingles ≈ 4e-7, and the oracle applies the identical hash so any
    collision affects both engines the same way (still exact-match)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: md5-hash groupBy keeping the smallest id per text.

    Hashing first means the shuffle carries 32-byte digests, not
    full documents — the difference between feasible and not at 100 TB.
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def minhash_sig_array(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Per-doc MinHash signature as ONE array column: (doc_id, mins).

    Zero-shuffle form: the shingle array never explodes. One
    ``transform`` hashes each shingle to h0 exactly once, then a
    single ``aggregate`` folds the h0 array into all 16 minima with
    pure bigint arithmetic (``least(acc[i], (a_i*h0+b_i) mod p)``) —
    the entire signature computes inside the scan's projection, so a
    100 TB corpus MinHashes with no exchange at all (the r6 form
    shuffled |docs|×16 rows through a groupBy). Arithmetic is
    identical to the textbook shingle × hash-param cross join
    (a·h0+b < 2^63, exact), so the SQL oracles, which replay the
    cross-join form, still match bit-for-bit. Measured at sf0.1:
    3.04 s → 0.36 s (8.4×), diff rows 0.

    NULL-text docs never appear (dropped in :func:`shingle_arrays`,
    matching both the oracle's UNNEST semantics and the explode form
    this replaced — see the round-8 ADVICE note there).
    """
    params = _hash_params()
    arrs = shingle_arrays(df, text_col, id_col, k)
    h0s = F.transform(F.col("shingles"), lambda s: _shingle_hash(s))
    init = F.array(*[F.lit(MINHASH_P).cast("bigint") for _ in range(len(params))])

    def _fold(acc: F.Column, h: F.Column) -> F.Column:
        return F.array(
            *[
                F.least(F.element_at(acc, i + 1), (F.lit(a) * h + F.lit(b)) % MINHASH_P)
                for i, (a, b) in enumerate(params)
            ]
        )

    return arrs.select("doc_id", F.aggregate(h0s, init, _fold).alias("mins"))


def minhash_signatures(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Per-doc MinHash signature: rows (doc_id, i, minhash).

    Row-form contract kept for the conformance oracle and the
    persistent index; computed by exploding :func:`minhash_sig_array`
    (still zero shuffle — the explode is a narrow map)."""
    sigarr = minhash_sig_array(df, text_col, id_col, k)
    unpivoted = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.element_at("mins", i + 1).alias("minhash"))
            for i in range(MINHASH_N)
        ]
    )
    return sigarr.select("doc_id", F.explode(unpivoted).alias("_p")).select(
        "doc_id", F.col("_p.i").alias("i"), F.col("_p.minhash").alias("minhash")
    )


def _band_hash_cols(mins: F.Column) -> list[F.Column]:
    """mins array → one md5 band-key column per LSH band.

    Byte-identical to the historical groupBy form (md5 of the
    array_sort'ed "i:minhash" strings of the band slice), but computed
    in the projection — no shuffle."""
    rows_per_band = MINHASH_N // MINHASH_BANDS
    cols = []
    for b in range(MINHASH_BANDS):
        items = F.array(
            *[
                F.format_string("%d:%d", F.lit(i), F.element_at(mins, i + 1))
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ]
        )
        cols.append(F.md5(F.concat_ws(",", F.array_sort(items))).alias(f"_band{b}"))
    return cols


def bands_from_sig_array(sigarr: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """(doc_id, mins) signature arrays → (doc_id, band, band_hash) LSH
    band rows. Pure md5-of-16-ints arithmetic — no text access — so a
    materialized signature table yields its band index without
    re-reading the corpus.

    ``keep`` (r17, the chunk_documents pattern): extra input columns
    carried through verbatim — an in-query composition that needs the
    signature alongside its own band rows (incremental_neardup's
    verify step) would otherwise re-join the signature table,
    re-evaluating its subtree."""
    keep = keep or []
    banded = sigarr.select("doc_id", *keep, *_band_hash_cols(F.col("mins")))
    pairs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"_band{b}").alias("band_hash"))
            for b in range(MINHASH_BANDS)
        ]
    )
    return banded.select("doc_id", *keep, F.explode(pairs).alias("_b")).select(
        "doc_id",
        *keep,
        F.col("_b.band").alias("band"),
        F.col("_b.band_hash").alias("band_hash"),
    )


def minhash_bands(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """(doc_id, band, band_hash) LSH band rows, zero-shuffle.

    Band keys compute straight off :func:`minhash_sig_array`'s array
    column inside the projection; the only explode is 4 rows per doc.
    The r6 path shuffled twice before the bucket join (signature
    groupBy + band groupBy); this path shuffles zero times until the
    candidate self-join itself."""
    return bands_from_sig_array(minhash_sig_array(df, text_col, id_col, k))


def minhash_candidates(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """LSH band-bucket candidate pairs (doc_a, doc_b), unverified.

    Band key = md5 of the concatenated band slice; the self-join is on
    (band, band_hash), so only docs agreeing on a FULL band ever meet.
    Exposed separately from :func:`minhash_pairs` so scale sweeps can
    measure |candidates| directly — the quantity that must stay
    near-linear in |docs| for LSH dedup to survive a 100 TB corpus.
    """
    bands = minhash_bands(df, text_col, id_col, k)
    return (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "band_hash"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_pairs(df: DataFrame, text_col: str, id_col: str, k: int = 3, threshold: float = 0.5) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard.

    1. signatures (above);
    2. band key = md5 of the concatenated band slice → bucket join:
       only docs agreeing on a full band meet (LSH);
    3. exact Jaccard per *candidate* pair: the candidate list joins to
       the per-doc shingle arrays (two hash joins on doc_id) and the
       intersection is ``size(array_intersect(a, b))`` inside the row.

    Verification cost is O(|candidates|) — the shingle inverted index
    is never self-joined, so the O(Σ df²) all-pairs-sharing-a-shingle
    expansion that LSH exists to avoid never happens. The candidate
    join is on (band, band_hash): at scale the quadratic blowup is
    confined to same-bucket collisions, the whole point of LSH.
    """
    cand = minhash_candidates(df, text_col, id_col, k)
    arrs = shingle_arrays(df, text_col, id_col, k)
    left = arrs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("shingles_a"))
    right = arrs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shingles_b"))
    return (
        cand.join(left, "doc_a")
        .join(right, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("shingles_a", "shingles_b")))
        # exact INT64 rounding (functions/exactround): n/d count
        # rationals land on 6-dec midpoints whenever the reduced
        # denominator is 2^7*5^j, and ROUND(double) tie-breaks them
        # differently on Spark vs DuckDB. The gate uses the pure
        # integer predicate (ratio_ge) so Catalyst's filter pushdown
        # cannot re-inline a rounding chain per candidate row.
        .where(
            ratio_ge(
                F.col("n_inter"),
                F.size("shingles_a") + F.size("shingles_b") - F.col("n_inter"),
                6,
                threshold,
            )
        )
        .select(
            "doc_a",
            "doc_b",
            round_ratio(
                F.col("n_inter"),
                F.size("shingles_a") + F.size("shingles_b") - F.col("n_inter"),
                6,
            ).alias("jaccard"),
        )
    )


def simhash_signatures(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """Per-doc SimHash: sign of summed per-bit word-hash contributions.

    explode(words) → ONE groupBy(doc_id) carrying ``bits`` conditional
    sums (map-side combined), then the signature assembles from the
    sign columns in a single projection. Compared to the textbook
    word × bit-index expansion this shuffles |docs| rows instead of
    |words|·bits rows — integer sums are exact either way, so the SQL
    oracle (which replays the expansion form) matches bit-for-bit.
    """
    from functools import reduce

    words = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .withColumn("h0", _shingle_hash(F.col("word")))
    )
    sums = [
        F.sum(F.when(F.expr(f"shiftright(h0, {i}) % 2") == 1, 1).otherwise(-1)).alias(f"_s{i}")
        for i in range(bits)
    ]
    agg = words.groupBy("doc_id").agg(*sums)
    bitvals = [
        F.when(F.col(f"_s{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        for i in range(bits)
    ]
    return agg.select("doc_id", reduce(lambda a, b: a + b, bitvals).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs via Hamming-LSH banding.

    The ``bits``-bit signature splits into ``bands`` chunks; candidates
    are pairs agreeing on at least one full chunk, verified with
    ``bit_count(xor) <= max_hamming``. Pigeonhole guarantee: with
    bands > max_hamming, every pair within the Hamming radius shares an
    unchanged chunk, so recall is 1.0 for true near-dups — the banding
    only prunes, never misses.

    Scale shape: explode ``bands`` rows per doc (constant fan-out),
    equi-join on (band, chunk_value) — quadratic work confined to
    same-chunk collisions — then an in-row XOR popcount per candidate.
    No inverted index, no driver state.
    """
    if bands <= max_hamming:
        raise ValueError("bands must exceed max_hamming for the pigeonhole recall guarantee")
    if not 1 <= bits <= 63:
        raise ValueError("bits must be in [1, 63]: bit 63 would overflow the bigint signature")
    chunk = bits // bands
    mask = (1 << chunk) - 1
    sig = simhash_signatures(df, text_col, id_col, bits)
    banded = (
        sig.select("doc_id", "simhash", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("b"))
        .withColumn("bv", F.expr(f"shiftright(simhash, b * {chunk}) & {mask}"))
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["b", "bv"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sig_a"),
            F.col("y.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via shingle inverted index.

    No LSH approximation: every pair sharing ≥1 shingle is scored.
    Right choice when the shingle-degree distribution is bounded. The
    self-join runs on 60-bit shingle hashes, not strings — fixed
    8-byte shuffle keys; per-doc sizes come from the shingle arrays in
    the same narrow map (no second shuffle branch).

    ``max_doc_freq`` caps the hot-shingle fan-out: postings with more
    than ``max_doc_freq`` docs are dropped before pair expansion (the
    standard df-cap from near-dup literature). Without it a
    stopword-ish shingle shared by 10⁶ docs would emit ~5·10¹¹ pairs —
    O(df²) per shingle — so at scale ALWAYS set a cap. The trade is
    documented recall loss: pairs whose only shared shingles are hot
    lose those shingles' intersection contribution (denominator still
    uses the full per-doc shingle counts), so reported Jaccard is a
    lower bound for such pairs.
    """
    arrs = shingle_arrays(df, text_col, id_col, k)
    sh = arrs.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).select("doc_id", _shingle_hash60(F.col("shingle")).alias("h"))
    sizes = arrs.select("doc_id", F.size("shingles").alias("n_sh"))
    # inverted index: one shuffle groups doc-ids per shingle; ordered
    # pairs expand *inside* the array (docs lists are bounded per
    # shingle), so the pair stream is emitted a<b at the source —
    # half the volume of a self-join and one less shuffle of `sh`
    posting = sh.groupBy("h").agg(F.collect_list("doc_id").alias("docs"))
    viable = F.size("docs") > 1
    if max_doc_freq is not None:
        viable = viable & (F.size("docs") <= max_doc_freq)
    pairs = posting.where(viable).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("docs"),
                    lambda x: F.transform(
                        F.filter(F.col("docs"), lambda y: y > x),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("pair")
    )
    inter = (
        pairs.select(F.col("pair.doc_a").alias("doc_a"), F.col("pair.doc_b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "sh_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "sh_b"), "doc_b")
        .where(
            ratio_ge(
                F.col("n_inter"), F.col("sh_a") + F.col("sh_b") - F.col("n_inter"), 6, threshold
            )
        )
        .select(
            "doc_a",
            "doc_b",
            round_ratio(
                F.col("n_inter"), F.col("sh_a") + F.col("sh_b") - F.col("n_inter"), 6
            ).alias("jaccard"),
        )
    )


def embedding_neardup_pairs(df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.99) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute-force all-pairs).

    Cosine is computed with an exact left-fold (F.aggregate) over
    double-cast arrays — deterministic order, portable to the SQL
    oracle. Brute force is the correctness baseline; the scale path is
    the LSH-bucketed variant in operators/similarity.py.
    """
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    # precompute each vector's norm once (narrow map) instead of twice
    # per pair — cuts the all-pairs expression work by ~2/3
    v = df.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    ).withColumn("nrm", F.sqrt(dot(F.col("vec"), F.col("vec"))))
    x, y = v.alias("x"), v.alias("y")
    return (
        x.join(y, F.col("x.vid") < F.col("y.vid"))
        .select(
            F.col("x.vid").alias("id_a"),
            F.col("y.vid").alias("id_b"),
            F.round(
                dot(F.col("x.vec"), F.col("y.vec")) / (F.col("x.nrm") * F.col("y.nrm")),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def digest_index(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus digest index: one row per distinct content hash —
    (content_hash, first_id, n_copies). The persistent artifact that
    makes dedup *incremental*: built once per corpus in a single
    map-side-combinable hash-agg (32-byte digests shuffle, never
    text), then kept as a bucketed table (:func:`write_digest_index`)
    that each new ingest batch anti-joins against
    (:func:`incremental_dedup`) without rescanning the corpus.
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("first_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def write_digest_index(index_df: DataFrame, table: str, n_buckets: int = 16) -> None:
    """Persist a digest index bucketed+sorted on content_hash.

    Bucketing is the 100 TB ingest shape (same trade measured by
    tools/bucketize.py): one shuffle when the index lands buys every
    subsequent batch-vs-corpus anti-join an exchange-free probe side —
    only the (small) new batch shuffles; the index is read co-located
    and pre-sorted, and the corpus text is never touched again.
    """
    write_table(index_df, table, bucket_by="content_hash", n_buckets=n_buckets)


def incremental_dedup(
    new_batch: DataFrame, text_col: str, id_col: str, index_df: DataFrame
) -> DataFrame:
    """Rows of ``new_batch`` genuinely new to the corpus: dedup the
    batch against itself (keep the smallest id per hash), then
    anti-join against the corpus digest index. Returns
    (doc_id, content_hash) — the admit list for the batch.

    Scale shape: the only full-corpus work happened once, when the
    index was built. Per batch: one hash-agg over the batch (small)
    and one anti-join whose corpus side is the digest table — reading
    it bucketed on content_hash means the probe needs NO exchange on
    the index side (tests/test_incremental_dedup.py locks the plan:
    the corpus parquet never appears in the scan list, and with
    broadcast disabled only the batch side shuffles).
    """
    b = new_batch.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_hash")
    )
    batch_first = b.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    return batch_first.join(
        index_df.select("content_hash"), "content_hash", "left_anti"
    ).select("doc_id", "content_hash")


def source_overlap(
    df: DataFrame, text_col: str, id_col: str, source_col: str
) -> DataFrame:
    """Cross-source exact-duplicate overlap matrix: for every pair of
    corpus slices (crawl snapshots, vendors, dumps), how much content
    they share verbatim — the contamination estimate that decides
    whether a "new" source adds anything before it is ingested.

    Per source pair (a < b): n_shared distinct content hashes present
    in both, each side's distinct-hash count, and the Jaccard overlap
    n_shared / (n_a + n_b − n_shared), rounded for portability.

    Scale shape: documents reduce to DISTINCT (source, md5) pairs in
    one map-side-combinable aggregate, so every later stage shuffles
    32-byte digests, never text. The pair join is keyed on the hash —
    a hash shared by s sources expands to s·(s−1)/2 pairs, bounded by
    the (small) source count squared, not the corpus. Nothing
    collects; output is |sources|² rows at most.

    The digest set feeds THREE consumers (per-source sizes + both
    sides of the self-join); materialize it once with localCheckpoint
    (same pattern as ivf_centroids) — without this the corpus text is
    re-scanned and re-hashed for every consumer (12 scans in the
    static plan of the conformance query, no exchange reuse), which
    is the difference between one pass and four over 100 TB.

    Caveats of ``localCheckpoint(eager=True)`` (deliberate trade):
    merely *constructing* this DataFrame runs the corpus scan+hash
    job, and the checkpointed digests live on executor local disks —
    non-fault-tolerant (an executor loss makes them unrecoverable and
    the job must restart) and incompatible with dynamic
    executor deallocation. For one-shot analysis that is the right
    price for a single corpus pass. The durable form of the same idea
    is :func:`digest_index` + :func:`write_digest_index`: persist the
    digest set as a bucketed table once at ingest and every later
    overlap/dedup run — including :func:`incremental_dedup` — reads
    digests without ever rescanning corpus text.
    """
    h = (
        df.select(
            F.col(source_col).alias("src"), F.md5(F.col(text_col)).alias("content_hash")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = h.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    x, y = h.alias("x"), h.alias("y")
    shared = (
        x.join(y, "content_hash")
        .where(F.col("x.src") < F.col("y.src"))
        .groupBy(F.col("x.src").alias("source_a"), F.col("y.src").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("src").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("src").alias("source_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            round_ratio(
                F.col("n_shared"), F.col("n_a") + F.col("n_b") - F.col("n_shared"), 6
            ).alias("overlap_jaccard"),
        )
    )


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate n-gram spans — the substring-granular
    dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): every token position whose length-``n``
    word gram occurs in ≥ ``min_docs`` distinct documents. Catches
    boilerplate *spans* (license headers, templates, navigation text)
    embedded in otherwise-unique documents — invisible to the
    document-level MinHash/SimHash families, which flag whole docs.
    Returns (doc_id, pos, gram_hash, n_docs) per flagged position;
    callers clip or down-weight the spans.

    Scale shape: grams explode JVM-side and immediately reduce to
    60-bit md5 hashes, so no stage ever shuffles gram text. The
    doc-frequency count dedups grams INSIDE the row (`array_distinct`
    before its explode), so the per-doc distinct step costs zero
    shuffles and the count is a single map-side-combinable aggregate
    over 8-byte keys. Flagged grams — the duplicated tail of the gram
    distribution, orders of magnitude smaller than the corpus — join
    back to the exploded positions on the hash (broadcast when the
    tail fits, AQE decides otherwise). This is the scalable
    approximation of the paper's suffix-array pass: two corpus scans
    (doc frequencies, then positions), ONE digest-width shuffle, no
    Python.

    A verify pass makes the result EXACT, not hash-approximate: a
    60-bit hash collision between two different grams would otherwise
    clip innocent text (a flag on a gram whose string is actually
    unique, or an inflated n_docs). The verify pass
    is candidate-restricted — only positions the hash pass flagged
    carry their gram STRING into a re-count by the actual string — and
    every genuinely-duplicated gram's occurrences are all inside the
    candidate set (equal strings always hash equal, so a string's doc
    count ≤ its hash's doc count), which is what makes the recount
    exact. Cost: the hash-flagged tail's gram text shuffles once
    (bounded by the duplicated tail, never the corpus); the
    corpus-wide stages still move only 8-byte digests. The verify pass
    always runs: a pure-hash result would trade exactness for a
    text-free tail at ~|grams|²/2⁶¹ birthday-collision odds.
    """
    words = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("doc_id"), words.alias("ws"), F.size(words).alias("nw"))
    idx = F.when(F.col("nw") >= n, F.sequence(F.lit(0), F.col("nw") - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i + 1, n)))
    hashed = base.select(
        "doc_id", F.posexplode(grams).alias("pos", "gram")
    ).select("doc_id", "pos", "gram", _shingle_hash60(F.col("gram")).alias("gram_hash"))
    flagged = (
        base.select(F.explode(F.array_distinct(grams)).alias("gram"))
        .select(_shingle_hash60(F.col("gram")).alias("gram_hash"))
        .groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    cand = hashed.join(flagged.select("gram_hash"), "gram_hash").select(
        "doc_id", "pos", "gram", "gram_hash"
    )
    # exact doc-frequency by the actual STRING, candidates only, via a
    # window over the candidate frame — ONE shuffle of the flagged tail
    # keyed by gram string, no re-derivation of the candidate subtree
    # and no join-back (a separate recount frame would make Catalyst
    # re-run the corpus explode + hash probe a second time — measured
    # +0.6 s at sf0.1). Per-gram partitions are bounded by one gram's
    # occurrence count, never the corpus. A collision victim's string
    # count falls below min_docs and its positions drop out — zero
    # false clips by construction.
    from pyspark.sql import Window

    w = Window.partitionBy("gram")
    return (
        cand.withColumn("n_docs", F.size(F.collect_set("doc_id").over(w)))
        .where(F.col("n_docs") >= min_docs)
        .select("doc_id", "pos", "gram_hash", "n_docs")
    )


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark-overlap n-gram spans — the span-granular form of
    :func:`easydb_server_spark.operators.text.decontaminate` (which
    drops whole documents): every corpus token position whose
    length-``n`` word gram also occurs in the benchmark/eval set.
    This is the published LLM decontamination recipe (GPT-3 Appendix C
    13-gram overlap; PaLM removes the overlapping SPAN so the rest of
    the document survives — far less destructive than doc-level drops
    when a long page quotes one eval question). Returns
    (doc_id, pos, gram_hash) per contaminated position; callers clip
    the span or mask its loss.

    Scale shape: the benchmark side reduces to a DISTINCT set of
    60-bit gram digests (benchmarks are orders of magnitude smaller
    than the corpus) and broadcasts; the corpus side is ONE scan →
    posexplode → in-scan md5 → broadcast hash probe. The corpus is
    never shuffled and never scanned twice — unlike
    :func:`duplicate_ngram_spans`, which must aggregate corpus-wide
    doc frequencies, the flag set here is known up front.

    The probe is string-EXACT, not hash-approximate (r9, same
    guarantee as ``duplicate_ngram_spans``' verify pass): the
    broadcast rows carry the gram text alongside the digest, and a
    hash hit only flags when the strings also match — so a 60-bit
    collision between a corpus gram and an unrelated benchmark gram
    can never clip innocent text. This costs only broadcast bytes
    (bench gram strings instead of bare digests — benchmarks are tiny
    by construction); the probe stays map-side, the hash key keeps
    the comparison cheap, and no extra shuffle appears anywhere.
    """
    words = F.split(F.col(text_col), " ")
    base = corpus.select(
        F.col(id_col).alias("doc_id"), words.alias("ws"), F.size(words).alias("nw")
    )
    idx = F.when(F.col("nw") >= n, F.sequence(F.lit(0), F.col("nw") - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i + 1, n)))
    positions = base.select("doc_id", F.posexplode(grams).alias("pos", "gram")).select(
        "doc_id", "pos", "gram", _shingle_hash60(F.col("gram")).alias("gram_hash")
    )
    bwords = F.split(F.col(text_col), " ")
    bidx = F.when(F.size(bwords) >= n, F.sequence(F.lit(0), F.size(bwords) - n)).otherwise(
        F.array().cast("array<int>")
    )
    bgrams = F.transform(bidx, lambda i: F.concat_ws(" ", F.slice(bwords, i + 1, n)))
    bench_h = (
        benchmark.select(F.explode(F.array_distinct(bgrams)).alias("bgram"))
        .select(_shingle_hash60(F.col("bgram")).alias("gram_hash"), "bgram")
        .distinct()
    )
    return (
        positions.join(F.broadcast(bench_h), "gram_hash")
        .where(F.col("gram") == F.col("bgram"))
        .select("doc_id", "pos", "gram_hash")
    )


def clip_contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Remove benchmark-overlapping n-gram SPANS from documents — the
    action half of :func:`contamination_spans` (which only flags).
    This is the PaLM-style decontamination: a token is dropped iff it
    is covered by ANY flagged gram (positions ``p … p+n−1`` for each
    contaminated start ``p``), so a long page quoting one eval question
    loses just that quote instead of the whole document (the doc-level
    alternative, ``text.decontaminate``, drops it entirely). Returns
    (doc_id, clean_text, n_words, n_removed); uncontaminated docs pass
    through with ``n_removed = 0``.

    Scale shape: :func:`contamination_spans`' single corpus scan +
    broadcast bench probe, then the flagged start positions aggregate
    per doc (shuffle bounded by |flagged positions| — the contamination
    tail, not the corpus) and join BACK to the corpus on doc_id; the
    rebuild is one in-row higher-order ``filter`` over the word array
    (coverage test per token against the doc's own flagged-start list,
    O(words × spans) inside the row, no Python).
    """
    spans = (
        contamination_spans(corpus, benchmark, text_col, id_col, n)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("starts"))
    )
    words = F.split(F.col(text_col), " ")
    base = corpus.select(F.col(id_col).alias("doc_id"), words.alias("ws"))
    joined = base.join(spans, "doc_id", "left").select(
        "doc_id", "ws", F.coalesce("starts", F.array().cast("array<int>")).alias("starts")
    )
    # token i survives iff no flagged start p has p <= i <= p+n-1;
    # two-parameter lambda = (element, index) form of F.filter
    kept = F.filter(
        F.col("ws"),
        lambda w, i: ~F.exists(
            F.col("starts"), lambda p: (i >= p) & (i < p + F.lit(n))
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("ws").alias("n_words"),
        (F.size("ws") - F.size(kept)).alias("n_removed"),
    )


def minhash_index(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> tuple[DataFrame, DataFrame]:
    """The persistent FUZZY-dedup artifact, companion to
    :func:`digest_index`: per-doc LSH band rows (doc_id, band,
    band_hash) plus one signature ARRAY row per doc (doc_id, mins) —
    array form so the verify join later moves one 128-byte row per
    doc instead of 16 rows, and signature agreement computes in-row
    with no aggregate. Built once per corpus — zero-shuffle hash
    passes — then kept as bucketed tables
    (:func:`write_minhash_index`) that each ingest batch probes
    (:func:`incremental_neardup`) without ever rescanning corpus text.

    The signature arrays are materialized eagerly (localCheckpoint,
    same pattern as ``ivf_centroids``): both index artifacts derive
    from them, so corpus text is shingled and hashed exactly ONCE —
    the band keys are md5s over the 16 minima, not over text. This is
    an ingest-time builder, so running the hash job at construction is
    the intended semantic; at a real 100 TB the same role is played by
    writing the signature table first and deriving the band table from
    it (:func:`bands_from_sig_array`), which is also the
    fault-tolerant form.
    """
    sigarr = minhash_sig_array(df, text_col, id_col, k).localCheckpoint(eager=True)
    return bands_from_sig_array(sigarr), sigarr


def write_minhash_index(
    bands_df: DataFrame, sigs_df: DataFrame, table_prefix: str, n_buckets: int = 16
) -> None:
    """Persist the fuzzy index: bands bucketed on band_hash (the probe
    key — batch band rows join co-located buckets, no exchange on the
    index side), signatures bucketed on doc_id (the verify key)."""
    write_table(bands_df, f"{table_prefix}_bands", bucket_by="band_hash", n_buckets=n_buckets)
    write_table(sigs_df, f"{table_prefix}_sigs", bucket_by="doc_id", n_buckets=n_buckets)


def _sigs_as_arrays(index_sigs: DataFrame) -> DataFrame:
    """Accept either the array-form signature index (doc_id, mins) or
    the legacy row form (doc_id, i, minhash), reassembling the latter
    in-plan — so a pipeline whose persisted ``_sigs`` table predates
    the array layout keeps restarting cleanly instead of failing on a
    missing ``mins`` column. New writes are always array-form; the
    reassembly groupBy is paid only on legacy tables. Extra columns
    beyond the signature (e.g. the streaming ``batch_id``) survive the
    reassembly — they group alongside doc_id.

    Read-side shim only: a pipeline that also APPENDS array rows to a
    legacy table must rewrite it first
    (:func:`migrate_sigs_table_to_arrays`) — parquet appends require
    the existing table's schema.
    """
    if "mins" in index_sigs.columns:
        return index_sigs
    extra = [c for c in index_sigs.columns if c not in ("doc_id", "i", "minhash")]
    return (
        index_sigs.groupBy("doc_id", *extra)
        .agg(F.array_sort(F.collect_list(F.struct("i", "minhash"))).alias("_pm"))
        .select("doc_id", F.transform("_pm", lambda s: s["minhash"]).alias("mins"), *extra)
    )


def migrate_sigs_table_to_arrays(spark, table: str, n_buckets: int = 16) -> bool:
    """One-time in-place rewrite of a LEGACY row-form signature table
    (doc_id, i, minhash[, batch_id]) to the array layout (doc_id, mins
    [, batch_id]), preserving bucketing on doc_id. Returns True if a
    rewrite happened.

    Why: `_sigs_as_arrays` makes legacy tables READABLE, but a pipeline
    that also appends (streaming ingest writes each admitted batch's
    signatures back to the index) cannot append array rows to a
    row-form parquet table — Spark refuses the schema mismatch at the
    first index write, so "restarts cleanly" held only until the first
    admitted batch (round-8 ADVICE, verified AnalysisException). Ingest
    pipelines call this before their first append; the rewrite cost is
    one pass over the signature table (16 ints per doc — orders of
    magnitude smaller than corpus text) paid once per table lifetime,
    after which the check is a metadata-only column peek.

    Crash safety: :func:`~easydb_server_spark.tables.rewrite_table`
    (the converted rows commit to a staged copy before the swap;
    :func:`~easydb_server_spark.tables.recover_staged`, called here
    first, finishes an interrupted one). The conversion plan reads the
    live table lazily. Session note: the rewrite refreshes THIS
    session's relation cache only — other live sessions (e.g. the
    interactive session that started a stream whose foreachBatch clone
    ran the migration) see the new schema after their own
    ``spark.catalog.refreshTable(table)``, standard Spark
    cross-session behavior.
    """
    recover_staged(spark, table)
    if not spark.catalog.tableExists(table):
        return False
    t = spark.table(table)
    if "mins" in t.columns:
        return False
    rewrite_table(_sigs_as_arrays(t), table, bucket_by="doc_id", n_buckets=n_buckets)
    return True


def compact_minhash_index(
    spark, table_prefix: str, n_buckets: int = 16
) -> dict[str, int]:
    """Compact an append-mode fuzzy index: repeated
    :func:`incremental_neardup` ingest admits append new band/signature
    rows forever — every micro-batch adds a file set per bucket, and a
    re-admitted doc_id (re-crawl) leaves its superseded signature
    behind. Compaction rewrites both tables once:

    - **sigs**: one row per doc_id, the newest ``batch_id`` winning
      (plain dedupe when the table has no batch column); legacy
      row-form tables are converted to array form on the way.
    - **bands**: REGENERATED from the rewritten signature table
      (:func:`bands_from_sig_array` — pure md5 arithmetic, no text
      access), so bands and sigs cannot disagree after compaction and
      superseded docs' band rows vanish with their signatures.
    - both tables land with one file per bucket, so the file-count
      growth of N appends (≥ N files per bucket) resets, while probe
      plans stay exchange-free on the index side (bucketed on the same
      keys; locked by tests/test_index_compaction.py across
      append/compact cycles).

    Returns ``{"sigs_rows": ..., "bands_rows": ...}``. Each table goes
    through :func:`~easydb_server_spark.tables.rewrite_table`, sigs
    first: a crash between the two leaves compacted sigs and the old
    bands, and the rerun regenerates the bands from the sigs.
    """
    sigs_t, bands_t = f"{table_prefix}_sigs", f"{table_prefix}_bands"
    recover_staged(spark, sigs_t)
    recover_staged(spark, bands_t)
    sigs = _sigs_as_arrays(spark.table(sigs_t))
    keep = keep_one_per_key(sigs, ["doc_id"], "batch_id", newest=True)
    sigs_rows = rewrite_table(keep, sigs_t, bucket_by="doc_id", n_buckets=n_buckets)
    extra = ["batch_id"] if "batch_id" in sigs.columns else []
    bands = bands_from_sig_array(spark.table(sigs_t), keep=extra).select(
        "doc_id", "band", "band_hash", *extra
    )
    bands_rows = rewrite_table(bands, bands_t, bucket_by="band_hash", n_buckets=n_buckets)
    return {"sigs_rows": sigs_rows, "bands_rows": bands_rows}


def compact_digest_index(spark, table: str, n_buckets: int = 16) -> int:
    """Compact an append-mode exact-dedup digest index: keep ONE row
    per content_hash (the earliest ``batch_id`` — the original
    admission — when the streaming batch column exists), rewrite
    bucketed on content_hash with one file per bucket. Anti-join
    semantics depend only on hash membership, so replay-duplicated
    digests and file-count growth are the only things compaction
    removes; results are unchanged by construction and probe plans
    stay exchange-free on the index side. Returns the kept row count.
    Crash-safe via :func:`~easydb_server_spark.tables.rewrite_table`.
    """
    recover_staged(spark, table)
    keep = keep_one_per_key(spark.table(table), ["content_hash"], "batch_id")
    return rewrite_table(keep, table, bucket_by="content_hash", n_buckets=n_buckets)


def incremental_neardup(
    new_batch: DataFrame,
    text_col: str,
    id_col: str,
    index_bands: DataFrame,
    index_sigs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """Near-duplicates of a new ingest batch against the EXISTING
    corpus, without rescanning corpus text — the fuzzy half of the
    incremental-ingest story (:func:`incremental_dedup` is the exact
    half). Returns (batch_id, corpus_id, est_jaccard) for pairs with
    estimated Jaccard ≥ ``threshold``.

    Candidates come from probing the batch's LSH band rows against the
    corpus band index on (band, band_hash); similarity is the standard
    MinHash estimate — the fraction of agreeing signature components —
    so verification needs only the 16-int signature arrays both sides
    already have, never the corpus shingle sets. The estimate is
    deterministic md5 arithmetic, which is why an engine-independent
    oracle can replay it bit-for-bit.

    Scale shape: per batch, the corpus-proportional work is two
    bucketed probes (bands on band_hash, signature arrays on doc_id) —
    the same trade measured for the exact digest index; candidates
    stay linear by the LSH sweep evidence. The verify joins ONE
    128-byte array row per side and counts agreements in-row
    (``zip_with``/``filter``) — no 16-way row explosion, no aggregate,
    strictly O(|candidates|).
    """
    index_sigs = _sigs_as_arrays(index_sigs)
    # ONE signature pass over the batch: the signature array rides
    # along with its own band rows through the probe, so batch text is
    # shingled and md5-hashed exactly once. (The previous form called
    # minhash_sig_array twice — once for the verify join, once inside
    # minhash_bands — which planned as two full scans of batch text
    # plus a broadcast of the second; carrying the 128-byte mins array
    # through the pair-distinct exchange costs far less than that
    # second hash pass.)
    b_sig = minhash_sig_array(new_batch, text_col, id_col, k)
    # the probe joins on band_hash ALONE: the band index is already
    # baked into the hash (md5 over the band slice's "i:minhash"
    # strings, where i identifies the band), so adding `band` to the
    # key changes nothing semantically but DEFEATS the bucketed scan —
    # Spark plans a (band, band_hash) join against a band_hash-bucketed
    # table as "Bucketed: false (disabled by query planner)" and
    # shuffles the whole index side (locked the other way by
    # tests/test_index_compaction.py: both index scans Bucketed: true)
    probe = b_sig.select(
        F.col("doc_id").alias("batch_id"),
        F.col("mins").alias("mins_b"),
        F.explode(F.array(*_band_hash_cols(F.col("mins")))).alias("band_hash"),
    )
    # the pair dedup (a batch/corpus pair can match in several bands)
    # groups on the pair key; max(mins_b) is a constant within each
    # group — mins_b is functionally determined by batch_id — so this
    # IS the old select-distinct, with the signature kept attached
    n_agree = F.size(
        F.filter(
            F.zip_with(F.col("mins_b"), F.col("mins_c"), lambda x, y: x == y), lambda v: v
        )
    )
    if "mins" in index_bands.columns:
        # r17 (guide §2.4): band rows built with
        # ``bands_from_sig_array(sigarr, keep=["mins"])`` carry the
        # corpus signature THROUGH the probe join — mins is
        # functionally determined by corpus_id, so max() over the pair
        # group is the row's own signature and the separate verify
        # join (plus the multi-consumer checkpoint of the signature
        # table it required) disappears. The bucketed-table path below
        # is unchanged: persisted band indexes stay narrow and verify
        # against the doc_id-bucketed signature table.
        cand = (
            probe.join(
                index_bands.select(
                    F.col("doc_id").alias("corpus_id"),
                    F.col("mins").alias("mins_c"),
                    "band_hash",
                ),
                "band_hash",
            )
            .groupBy("batch_id", "corpus_id")
            .agg(F.max("mins_b").alias("mins_b"), F.max("mins_c").alias("mins_c"))
        )
        return cand.select(
            "batch_id",
            "corpus_id",
            F.round(n_agree / F.lit(float(MINHASH_N)), 6).alias("est_jaccard"),
        ).where(F.col("est_jaccard") >= threshold)
    cand = (
        probe.join(
            index_bands.select(F.col("doc_id").alias("corpus_id"), "band_hash"),
            "band_hash",
        )
        .groupBy("batch_id", "corpus_id")
        .agg(F.max("mins_b").alias("mins_b"))
    )
    return (
        cand.join(
            index_sigs.select(F.col("doc_id").alias("corpus_id"), F.col("mins").alias("mins_c")),
            "corpus_id",
        )
        .select(
            "batch_id",
            "corpus_id",
            F.round(n_agree / F.lit(float(MINHASH_N)), 6).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
    )
