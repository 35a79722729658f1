"""Spectral-peak audio fingerprinting — the audio-side near-dup
primitive (the sibling of text SimHash, image dHash, and the video
scene hash), completing the repo's per-modality dedup coverage.

A training-data pipeline needs to bucket re-encoded / re-leveled
copies of the same recording: byte hashes miss them (different gain,
different bit depth), but the SEQUENCE of dominant spectral peaks
survives amplitude changes exactly — argmax of the magnitude spectrum
is invariant to any positive gain. This is the core idea behind
landmark/constellation fingerprinting (Wang 2003, the Shazam paper);
the variant here keeps the per-frame peak sequence and hashes it,
which is the right shape for exact-grouping in SQL and for the repo's
replayable-oracle discipline.

Pipeline per clip (one Arrow-batched mapInPandas stage, map-only):

1. decode WAV (pure-stdlib codec, operators/wav.py), channel 0;
2. Hann-windowed rfft per ``frame``-sample window at ``hop`` stride
   (the same STFT the spectrogram operator uses);
3. peak = argmax bin per frame — an INTEGER sequence;
4. fingerprint = md5 of the dash-joined sequence (the repo's
   portable-hash discipline: both engines agree on md5 of the same
   string, so the float FFT stays inside the operator and only
   integer bin indices cross the oracle boundary).

Duplicate grouping is then ONE keyed window over the fingerprint:
group size + canonical member (min item_id). No self-join, no
all-pairs: clips shuffle once on a 32-char key.

Why the oracle can replay it: FFT magnitudes are float (the
documented rows-only class), but for BIN-ALIGNED tones the argmax is
analytically known (the audio_spectrogram_tone precedent) — a Hann
window spreads a bin-exact tone over 3 bins at relative magnitudes
0.25/0.5/0.25, so the center bin dominates by 2x and int16 rounding
noise cannot flip it. The conformance fixture builds clips as
frame-aligned segments of bin-aligned tones, making every peak — and
therefore the md5 fingerprint — closed-form.

Scale shape: fingerprinting rides the blob scan (map-only,
partition-parallel, nothing collected); grouping shuffles one short
row per clip keyed on the fingerprint. At 100 TB this is the same
plan as exact text dedup (operators/dedup.py exact_dedup) — the
digest is just derived from spectra instead of bytes.

The persisted landmark index is written and compacted through
:mod:`easydb_server_spark.tables`; appends stay here.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from easydb_server_spark.tables import keep_one_per_key, recover_staged, rewrite_table, write_table

FP_SCHEMA = "item_id bigint, n_frames int, peak_seq string, fp string"

DELTA_BITS = 10  # low landmark field: frame delta, 1..fanout


def _checked_peak(peak_bits: int):
    """Peak-bin column with the packing contract enforced at runtime:
    a bin >= 2^peak_bits would silently overflow the target field into
    the anchor field (colliding landmarks, false matches), so the
    check rides the data path as assert_true — JVM-side, per row, and
    un-prunable because the landmark expression consumes its result.
    NULL peaks (absent leads) stay NULL and are filtered downstream."""
    lim = 1 << peak_bits
    ok = F.col("p").isNull() | (F.col("p") < F.lit(lim))
    return F.when(
        F.assert_true(
            ok,
            F.lit(
                f"peak bin >= {lim} overflows the landmark target field: "
                f"raise peak_bits to cover rfft bins of this frame size"
            ),
        ).isNull(),
        F.col("p"),
    ).alias("p")


def _check_fanout(fanout: int) -> None:
    if not 1 <= fanout < (1 << DELTA_BITS):
        raise ValueError(
            f"fanout must be in [1, {(1 << DELTA_BITS) - 1}]: the delta "
            f"field is {DELTA_BITS} bits"
        )


def peak_sequence(samples, frame: int = 64, hop: int = 64) -> list[int]:
    """Dominant rfft bin per Hann-windowed frame of a mono float
    signal — the integer spine of the fingerprint."""
    import numpy as np

    s = samples.astype(np.float64)
    if s.shape[0] < frame:
        s = np.pad(s, (0, frame - s.shape[0]))
    win = np.hanning(frame)
    return [
        int(np.argmax(np.abs(np.fft.rfft(s[st : st + frame] * win))))
        for st in range(0, s.shape[0] - frame + 1, hop)
    ]


def audio_fingerprint(
    df: DataFrame,
    blob_col: str,
    id_col: str,
    frame: int = 64,
    hop: int = 64,
) -> DataFrame:
    """(item_id, n_frames, peak_seq, fp): spectral-peak fingerprint of
    every WAV blob in one Arrow-batched stage. ``peak_seq`` is the
    dash-joined dominant-bin sequence; ``fp`` is its md5 hex digest
    (amplitude-invariant: any positive gain leaves every argmax —
    hence the digest — unchanged)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                audio_fingerprint_row(item_id, blob, frame, hop)
                for item_id, blob in zip(pdf[id_col], pdf[blob_col])
            ]
            yield pd.DataFrame(out, columns=["item_id", "n_frames", "peak_seq", "fp"])

    return df.select(id_col, blob_col).mapInPandas(extract, FP_SCHEMA)


def audio_fingerprint_row(
    item_id: int, blob: bytes, frame: int = 64, hop: int = 64
) -> tuple:
    """Per-blob core of :func:`audio_fingerprint` (one FP_SCHEMA
    tuple). Exposed so pipelines that synthesize their blobs in Python
    can fuse build → fingerprint into one Arrow stage instead of
    shipping the blobs through an extra JVM↔Python hop (guide §4)."""
    from easydb_server_spark.operators.wav import decode_wav

    samples, _rate = decode_wav(bytes(blob))
    peaks = peak_sequence(samples[:, 0], frame, hop)
    seq = "-".join(str(p) for p in peaks)
    return (int(item_id), len(peaks), seq, hashlib.md5(seq.encode()).hexdigest())


def fingerprint_dup_groups(sigs: DataFrame) -> DataFrame:
    """(item_id, n_frames, fp, group_size, is_canonical): duplicate
    grouping over the fingerprint — ONE keyed shuffle (window
    partitioned by fp), no self-join. The canonical member is the
    smallest item_id, the exact-dedup keeper rule."""
    w = Window.partitionBy("fp")
    return sigs.select(
        "item_id",
        "n_frames",
        "fp",
        F.count(F.lit(1)).over(w).cast("int").alias("group_size"),
        (F.col("item_id") == F.min("item_id").over(w)).alias("is_canonical"),
    )


def audio_landmarks(sigs: DataFrame, fanout: int = 3, peak_bits: int = 10) -> DataFrame:
    """(item_id, lm): each clip's DISTINCT landmark set — Wang-2003
    constellation pairs (anchor peak, target peak, frame delta) for
    every anchor frame and each of the next ``fanout`` frames, encoded
    as one INT64: ``anchor * 2^(peak_bits+10) + target * 2^10 + delta``.
    The default ``peak_bits=10`` covers rfft bins of frames up to 2046
    points; larger frames (or a larger landmark cell space for a
    bigger corpus — the r15 sweep's ~48k-cell ceiling at frame=256)
    raise ``peak_bits``, and any peak that would overflow its field
    raises at runtime instead of silently colliding
    (:func:`_checked_peak`). peak_bits <= 26 keeps the packed value
    inside INT64 with sign headroom.

    This is the SHIFT-robust layer on top of the exact-sequence
    fingerprint: ``fp`` (md5 of the whole peak sequence) catches
    re-encodes/re-levelings, but a copy trimmed or padded by whole
    frames shifts every absolute position and breaks the digest.
    Landmarks carry NO absolute time — only the delta between two
    peaks — so every landmark fully inside the surviving audio is
    preserved verbatim by trims and pads.

    Scale shape: one keyed window per clip (lead(p, d) over frames,
    per-item groups bounded by the media), then a 2-column distinct —
    the corpus shuffles short (item_id, INT64) rows only, exactly the
    image-signature discipline."""
    from pyspark.sql import Window

    _check_fanout(fanout)
    if not 1 <= peak_bits <= 26:
        raise ValueError("peak_bits must be in [1, 26] (INT64 headroom)")
    w = Window.partitionBy("item_id").orderBy("t")
    peaks = sigs.select(
        "item_id",
        F.posexplode(
            F.transform(F.split("peak_seq", "-"), lambda x: x.cast("long"))
        ).alias("t", "p"),
    ).select("item_id", "t", _checked_peak(peak_bits))
    # window leads first, generator second: Spark rejects window
    # expressions inside explode()'s argument in one operator
    leads = peaks.select(
        "item_id",
        "p",
        *[F.lead("p", d).over(w).alias(f"__l{d}") for d in range(1, fanout + 1)],
    )
    anchor_shift = 1 << (peak_bits + DELTA_BITS)
    lms = [
        F.col("p") * F.lit(anchor_shift)
        + F.col(f"__l{d}") * F.lit(1 << DELTA_BITS)
        + F.lit(d)
        for d in range(1, fanout + 1)
    ]
    return (
        leads.select("item_id", F.explode(F.array(*lms)).alias("lm"))
        .where(F.col("lm").isNotNull())
        .distinct()
    )


def landmark_matches(
    lms: DataFrame, min_shared: int = 3, max_bucket: int | None = None
) -> DataFrame:
    """(item_a, item_b, shared): clip pairs sharing at least
    ``min_shared`` distinct landmarks — the Shazam-style match score.
    ``lms`` is distinct per item (audio_landmarks' contract), so the
    count IS the intersection size.

    ``max_bucket`` is the stop-landmark guard, and at scale it is NOT
    optional: landmark frequency is Zipf (silence/DC landmarks appear
    in a large fraction of any real corpus) and the candidate join is
    quadratic INSIDE each landmark bucket, so one hot landmark turns
    the join all-pairs. Dropping landmarks present in more than
    ``max_bucket`` clips BEFORE the self-join bounds every bucket —
    the same collision-confinement contract as the dHash LSH bands —
    at the classic recall cost: near-dups sharing ONLY stopped
    landmarks are missed, which is the accepted trade of every
    production fingerprint index."""
    if max_bucket is not None:
        keep = (
            lms.groupBy("lm")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= max_bucket)
            .select("lm")
        )
        lms = lms.join(keep, "lm")
    a = lms.select(F.col("item_id").alias("item_a"), "lm")
    b = lms.select(F.col("item_id").alias("item_b"), "lm")
    return (
        a.join(b, "lm")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("int").alias("shared"))
        .where(F.col("shared") >= F.lit(min_shared))
    )


def audio_landmarks_timed(
    sigs: DataFrame, fanout: int = 3, peak_bits: int = 10
) -> DataFrame:
    """(item_id, t, lm): like :func:`audio_landmarks` but KEEPS the
    anchor frame index — the retrieval-side shape. Matching by shared
    landmarks alone (landmark_matches) answers "same recording?";
    offset VOTING (landmark_search) needs each landmark's anchor time
    so shared landmarks can vote for their implied alignment. No
    distinct: for a fixed anchor t each delta contributes one row, so
    rows are unique by construction; one keyed window, map-side.
    ``peak_bits`` widens the packed fields exactly as in
    :func:`audio_landmarks` (same runtime overflow guard)."""
    from pyspark.sql import Window

    _check_fanout(fanout)
    if not 1 <= peak_bits <= 26:
        raise ValueError("peak_bits must be in [1, 26] (INT64 headroom)")
    w = Window.partitionBy("item_id").orderBy("t")
    peaks = sigs.select(
        "item_id",
        F.posexplode(
            F.transform(F.split("peak_seq", "-"), lambda x: x.cast("long"))
        ).alias("t", "p"),
    ).select("item_id", "t", _checked_peak(peak_bits))
    leads = peaks.select(
        "item_id",
        "t",
        "p",
        *[F.lead("p", d).over(w).alias(f"__l{d}") for d in range(1, fanout + 1)],
    )
    anchor_shift = 1 << (peak_bits + DELTA_BITS)
    lms = [
        F.col("p") * F.lit(anchor_shift)
        + F.col(f"__l{d}") * F.lit(1 << DELTA_BITS)
        + F.lit(d)
        for d in range(1, fanout + 1)
    ]
    return (
        leads.select("item_id", "t", F.explode(F.array(*lms)).alias("lm"))
        .where(F.col("lm").isNotNull())
    )


def _landmark_votes(
    index_lms: DataFrame,
    query_lms: DataFrame,
    min_votes: int,
    max_bucket: int | None,
) -> DataFrame:
    """(query_id, match_id, offset, votes): the surviving offset-vote
    cells — the shared core of :func:`landmark_search` (global best
    cell per query) and :func:`landmark_search_topk` (k distinct
    matches per query). ``max_bucket`` drops index landmarks present
    in more than that many index clips before the join (the
    stop-landmark guard of landmark_matches — without it one hot
    landmark makes the candidate join all-pairs)."""
    if max_bucket is not None:
        keep = (
            index_lms.select("item_id", "lm")
            .distinct()
            .groupBy("lm")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") <= max_bucket)
            .select("lm")
        )
        index_lms = index_lms.join(keep, "lm")
    q = query_lms.select(
        F.col("item_id").alias("query_id"), F.col("t").alias("tq"), "lm"
    )
    x = index_lms.select(
        F.col("item_id").alias("match_id"), F.col("t").alias("tx"), "lm"
    )
    return (
        q.join(x, "lm")
        .groupBy("query_id", "match_id", (F.col("tx") - F.col("tq")).alias("offset"))
        .agg(F.count(F.lit(1)).cast("int").alias("votes"))
        .where(F.col("votes") >= F.lit(min_votes))
    )


def landmark_search(
    index_lms: DataFrame,
    query_lms: DataFrame,
    min_votes: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """(query_id, match_id, offset, votes): the best-matching index
    clip per query by landmark OFFSET VOTING (Wang 2003 §3, the
    Shazam matcher): every landmark shared between a query and an
    index clip votes for its implied alignment
    ``offset = t_index - t_query``; a true match concentrates votes on
    ONE offset (the trim/pad amount), while coincidental shared
    landmarks scatter across offsets. The winner per query is the
    (match, offset) cell with the most votes, >= ``min_votes``; ties
    break to the smaller (match_id, offset) — deterministic on both
    engines.

    ``max_bucket`` drops index landmarks present in more than that
    many index clips before the join (the stop-landmark guard of
    landmark_matches — without it one hot landmark makes the
    candidate join all-pairs).

    Scale shape: the join is an equi-join on the landmark key
    (broadcast the query side when it is a probe batch); votes
    aggregate on (query, match, offset) — collision-bounded like
    every banded-dedup plan in this repo; the final top-1 is a
    per-query window over the surviving vote cells."""
    from pyspark.sql import Window

    votes = _landmark_votes(index_lms, query_lms, min_votes, max_bucket)
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("match_id"), F.col("offset")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("query_id", "match_id", "offset", "votes")
    )


def landmark_search_topk(
    index_lms: DataFrame,
    query_lms: DataFrame,
    k: int = 3,
    min_votes: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """(query_id, match_id, offset, votes, rank): the k best-matching
    DISTINCT index clips per query — :func:`landmark_search`
    generalized to the ``sim_topk_*`` / ``phash_topk`` surface,
    completing the per-modality top-k retrieval matrix (embeddings,
    image, and — via the modality-agnostic (item_id, t, lm) contract —
    both audio and video landmarks). Two windows over the same vote
    cells: each match's best cell first (votes DESC, then the smaller
    offset — so a match never appears twice at different alignments),
    then matches ranked per query by (votes DESC, match_id). At k=1
    this composition selects exactly landmark_search's winner (the
    global cell order (votes, match_id, offset) factors through the
    per-match reduction — pytest-locked).

    Scale shape unchanged from top-1: the ranking windows run over the
    already-thresholded vote cells, bounded by landmark-bucket
    fan-out, never by index size."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    votes = _landmark_votes(index_lms, query_lms, min_votes, max_bucket)
    per_match = Window.partitionBy("query_id", "match_id").orderBy(
        F.col("votes").desc(), F.col("offset")
    )
    per_query = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("match_id")
    )
    return (
        votes.withColumn("__mrn", F.row_number().over(per_match))
        .where(F.col("__mrn") == 1)
        .withColumn("rank", F.row_number().over(per_query))
        .where(F.col("rank") <= k)
        .select("query_id", "match_id", "offset", "votes", "rank")
    )


def write_landmark_index(lms: DataFrame, table: str, n_buckets: int = 16) -> None:
    """Persist a timed-landmark index bucketed+sorted on ``lm`` — the
    durable corpus-side half of incremental landmark dedup/retrieval,
    completing the per-modality index-lifecycle matrix (text digests:
    dedup.write_digest_index; MinHash bands: write_minhash_index;
    PQ/IVF: write_pq_store/write_ivf_store). ``lms`` is any
    (item_id, t, lm) frame — audio_landmarks_timed or the video
    scene_landmarks; the matcher downstream is modality-agnostic.

    Bucketing on ``lm`` is the 100 TB shape: one shuffle when the
    index lands buys every later batch probe an exchange-free index
    side — the landmark equi-join and the stop-bucket count both key
    on ``lm``, so the corpus audio is decoded exactly once, at ingest,
    and never touched again per batch."""
    write_table(lms, table, bucket_by="lm", n_buckets=n_buckets)


def append_landmark_index(lms: DataFrame, table: str, n_buckets: int = 16) -> None:
    """Append a new batch's landmarks to the persisted index (same
    bucketing spec — Spark keeps per-file bucket hashing consistent,
    so probes stay exchange-free; file count grows per append until
    :func:`compact_landmark_index`)."""
    (
        lms.write.bucketBy(n_buckets, "lm")
        .sortBy("lm")
        .mode("append")
        .saveAsTable(table)
    )


def compact_landmark_index(spark, table: str, n_buckets: int = 16) -> int:
    """Compact an append-grown landmark index: drop replay-duplicated
    (item_id, t, lm) rows, rewrite as one file per bucket. Matching
    and voting count DISTINCT landmarks per item (audio_landmarks'
    contract) and votes per (item, t) cell, so duplicated rows are the
    only thing compaction removes; results are unchanged by
    construction. Crash-safe via
    :func:`~easydb_server_spark.tables.rewrite_table`. Returns the
    kept row count. The streaming-ingest form (partitioned by
    ``batch_id``) keeps the earliest admission of each landmark row and
    its partitioning, so replay exists-checks stay partition-pruned."""
    recover_staged(spark, table)
    t = spark.table(table)
    keep = keep_one_per_key(t, ["item_id", "t", "lm"], "batch_id")
    part = "batch_id" if "batch_id" in t.columns else None
    return rewrite_table(keep, table, bucket_by="lm", n_buckets=n_buckets, partition_by=part)


def incremental_landmark_admit(
    index_lms: DataFrame,
    batch_lms: DataFrame,
    min_votes: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """(item_id, corpus_match, corpus_votes, batch_match, admitted):
    the per-batch admit/reject decision of incremental NEAR-dup audio
    (or video) ingest — the landmark family's analogue of
    dedup.incremental_dedup, but shift/gain-robust instead of exact:

    - ``corpus_match``: the batch item's best corpus clip by offset
      voting (landmark_search top-1; NULL when no cell reaches
      ``min_votes``) — a re-encoded, re-leveled, trimmed or padded
      copy of ingested content is caught here;
    - ``batch_match``: the smallest SMALLER batch item sharing >=
      ``min_votes`` distinct landmarks (landmark_matches over the
      batch) — first-of-duplicates admission within one batch;
    - ``admitted``: both NULL. Append exactly the admitted items'
      landmarks to the index (append_landmark_index) and the batch
      is ingested.

    Scale shape: the corpus side of both the vote join and the
    stop-bucket count keys on ``lm`` — against a bucketed index table
    the probe is exchange-free on the index side (pytest plan-lock);
    the batch self-match is quadratic only inside the batch's own
    landmark buckets. min_votes is the documented FP dial: distinct
    recordings sharing ``min_votes`` landmarks AT ONE ALIGNMENT are
    falsely rejected — the conformance fixture plants two such
    coincidences and the oracle replays them."""
    from pyspark.sql import Window

    hits = landmark_search(index_lms, batch_lms, min_votes, max_bucket).select(
        F.col("query_id").alias("item_id"),
        F.col("match_id").alias("corpus_match"),
        F.col("votes").alias("corpus_votes"),
    )
    blms = batch_lms.select("item_id", "lm").distinct()
    pairs = landmark_matches(blms, min_shared=min_votes, max_bucket=max_bucket)
    batch_first = pairs.groupBy(F.col("item_b").alias("item_id")).agg(
        F.min("item_a").alias("batch_match")
    )
    items = batch_lms.select("item_id").distinct()
    return (
        items.join(hits, "item_id", "left")
        .join(batch_first, "item_id", "left")
        .select(
            "item_id",
            "corpus_match",
            "corpus_votes",
            "batch_match",
            (F.col("corpus_match").isNull() & F.col("batch_match").isNull()).alias(
                "admitted"
            ),
        )
    )
