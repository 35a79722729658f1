"""Multimodal (binary) column plumbing.

Images/audio/video are opaque ``binary`` columns with typed metadata.
The Spark-side plumbing — schema, Arrow-batched ``mapInPandas``
pipeline shape, partition-parallel execution — is real and tested;
the actual media decode is stubbed (decode libraries are not in this
container) behind :func:`register_decoder` / ``NotImplementedError``
with a deterministic fake for tests.

At 100 TB the pattern is: ``spark.read.format("binaryFile")`` (or a
parquet binary column), ``repartition`` to spread large blobs, then
``mapInPandas`` so each Arrow batch is decoded vectorized in Python
workers without ever collecting to the driver.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

FEATURE_SCHEMA = (
    "item_id bigint, n_bytes int, digest string, kind string, width int, height int"
)

# pluggable decoder registry: kind -> bytes -> dict of features
_DECODERS: dict[str, Callable[[bytes], dict]] = {}


def register_decoder(kind: str, fn: Callable[[bytes], dict]) -> None:
    _DECODERS[kind] = fn


def _decode_stub(kind: str, payload: bytes, decoders: dict) -> dict:
    """Deterministic fake decode — stands in for PIL/ffmpeg etc.

    Real deployments call register_decoder("image", pil_decode); the
    stub derives stable pseudo-dimensions from the payload so tests
    exercise the full pipeline deterministically.
    """
    if kind in decoders:
        return decoders[kind](payload)
    if kind not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for kind={kind!r}")
    return {"width": len(payload) % 640, "height": (len(payload) * 7) % 480}


def binary_features(df: DataFrame, blob_col: str, id_col: str, kind_col: str) -> DataFrame:
    """Arrow-batched feature extraction over binary columns.

    mapInPandas: each partition streams Arrow batches through Python —
    partition-parallel, bounded memory (batch size), no driver
    involvement.
    """
    import hashlib

    cols = [id_col, blob_col, kind_col]
    # snapshot by value: module-level registry state does not exist in
    # the Python worker processes that run the pickled closure
    decoders = dict(_DECODERS)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # zip over column arrays, not iterrows(): iterrows materializes a
        # Series per row (~10x slower), which dominates at Arrow batch sizes
        for pdf in batches:
            out = []
            for item_id, blob, kind in zip(pdf[id_col], pdf[blob_col], pdf[kind_col]):
                payload = bytes(blob) if blob is not None else b""
                feats = _decode_stub(kind, payload, decoders)
                out.append(
                    (
                        item_id,
                        len(payload),
                        hashlib.md5(payload).hexdigest(),
                        kind,
                        feats.get("width"),
                        feats.get("height"),
                    )
                )
            yield pd.DataFrame(out, columns=["item_id", "n_bytes", "digest", "kind", "width", "height"])

    return df.select(*cols).mapInPandas(extract, FEATURE_SCHEMA)


RESIZED_SCHEMA = "item_id bigint, payload binary, width int, height int"
FRAMES_SCHEMA = "item_id bigint, frame_idx int, frame binary"

AUDIO_FEATURE_SCHEMA = (
    "item_id bigint, n_bytes int, digest string, sample_rate int, "
    "n_channels int, n_samples int, duration_ms int, rms double, "
    "clipping_frac double, peak int"
)


def audio_features(df: DataFrame, blob_col: str, id_col: str) -> DataFrame:
    """Audio-curation features over WAV binary columns — the second
    REAL modality (decode via the pure-stdlib
    :mod:`easydb_server_spark.operators.wav` codec, no stub): per
    clip, sample geometry plus the gates an audio training-data
    pipeline filters on (duration, RMS loudness, clipping fraction,
    peak). Same Arrow-batched ``mapInPandas`` shape as
    :func:`binary_features` — partition-parallel, bounded memory,
    no driver involvement; at 100 TB this rides the blob scan.
    RMS is rounded to 4 dp so an independent engine replaying the
    same samples agrees bit-for-bit.
    """
    import hashlib

    from easydb_server_spark.operators.wav import wav_decoder

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "item_id", "n_bytes", "digest", "sample_rate", "n_channels",
            "n_samples", "duration_ms", "rms", "clipping_frac", "peak",
        ]
        for pdf in batches:
            out = []
            for item_id, blob in zip(pdf[id_col], pdf[blob_col]):
                payload = bytes(blob) if blob is not None else b""
                feats = wav_decoder(payload)
                out.append(
                    (
                        item_id,
                        len(payload),
                        hashlib.md5(payload).hexdigest(),
                        feats["sample_rate"],
                        feats["n_channels"],
                        feats["n_samples"],
                        feats["duration_ms"],
                        round(feats["rms"], 4),
                        # deliberately NOT rounded: count/n is the same
                        # bit-exact IEEE division in any engine, while a
                        # 6-dp round hits exact midpoints (1/128 =
                        # 0.0078125) where banker's vs half-away rules
                        # diverge across engines
                        feats["clipping_frac"],
                        feats["peak"],
                    )
                )
            yield pd.DataFrame(out, columns=cols)

    return df.select(id_col, blob_col).mapInPandas(extract, AUDIO_FEATURE_SCHEMA)


def resize_images(
    df: DataFrame,
    blob_col: str,
    id_col: str,
    width: int,
    height: int,
    codec: str | None = None,
) -> DataFrame:
    """Resize pipeline: Arrow-batched mapInPandas, one output row per
    input image. ``codec="bmp"`` / ``codec="png"`` / ``codec="gif"`` perform a REAL
    nearest-neighbor pixel resample (pure-numpy/stdlib codecs,
    :mod:`easydb_server_spark.operators.bmp` /
    :mod:`easydb_server_spark.operators.png` /
    :mod:`easydb_server_spark.operators.gif`) and re-encode; other
    codecs are stubbed (no PIL/ffmpeg in this container): the fake
    'resize' deterministically truncates/pads the payload to
    width*height bytes, so schema, batching, and plumbing are real and
    testable either way."""

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if codec == "bmp":
            from easydb_server_spark.operators.bmp import resize_bmp as real_resize
        elif codec == "png":
            from easydb_server_spark.operators.png import resize_png as real_resize
        elif codec == "gif":
            from easydb_server_spark.operators.gif import resize_gif as real_resize
        else:
            real_resize = None
        target = width * height
        for pdf in batches:
            out = []
            for item_id, blob in zip(pdf[id_col], pdf[blob_col]):
                payload = (bytes(blob) if blob is not None else b"") or b"\x00"
                if real_resize is not None:
                    resized = real_resize(payload, width, height)
                else:
                    resized = (payload * (target // len(payload) + 1))[:target]
                out.append((item_id, resized, width, height))
            yield pd.DataFrame(out, columns=["item_id", "payload", "width", "height"])

    return df.select(id_col, blob_col).mapInPandas(do_resize, RESIZED_SCHEMA)


def sample_frames(df: DataFrame, blob_col: str, id_col: str, n_frames: int) -> DataFrame:
    """Frame-sampling pipeline shape: one input blob → n output frame
    rows (fan-out inside mapInPandas). For GIF payloads this is a REAL
    sampler: every animated frame is decoded and composited
    (:func:`easydb_server_spark.operators.gif.decode_gif_frames` —
    sub-rectangles, transparency, disposal), ``n_frames`` are chosen
    evenly (frame ``i·T // n`` of T), and each sampled frame re-encodes
    as a standalone single-frame GIF (``quantize=True`` so composited
    frames whose color union exceeds a palette still encode; ≤256
    colors stay bit-exact). Non-GIF blobs keep the deterministic
    equal-width byte-slice stub standing in for decoders this
    container lacks; the row-explosion shape is what a real ffmpeg
    sampler produces either way."""

    def do_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from easydb_server_spark.operators.gif import (
            decode_gif_frames,
            encode_gif,
        )

        for pdf in batches:
            out = []
            for item_id, blob in zip(pdf[id_col], pdf[blob_col]):
                payload = (bytes(blob) if blob is not None else b"") or b"\x00"
                if payload[:4] == b"GIF8":
                    # advisor r11: one truncated/corrupt GIF must not
                    # kill the whole mapInPandas stage — fall through
                    # to the byte-slice stub path instead
                    try:
                        frames = decode_gif_frames(payload)
                    except ValueError:
                        frames = None
                    if frames:
                        t = len(frames)
                        for i in range(n_frames):
                            sel = i * t // n_frames
                            out.append(
                                (item_id, i, encode_gif(frames[sel], quantize=True))
                            )
                        continue
                step = max(len(payload) // n_frames, 1)
                for i in range(n_frames):
                    out.append((item_id, i, payload[i * step : i * step + step]))
            yield pd.DataFrame(out, columns=["item_id", "frame_idx", "frame"])

    return df.select(id_col, blob_col).mapInPandas(do_sample, FRAMES_SCHEMA)


FRAME_FEATURES_SCHEMA = (
    "item_id bigint, frame_idx int, width int, height int,"
    " mean_r double, mean_g double, mean_b double"
)


def frame_feature_rows(item_id: int, blob: bytes, n_frames: int, round_to: int = 4):
    """Per-blob core of :func:`sample_frame_features`: decode every
    animated frame, composite, pick ``n_frames`` evenly (frame
    ``i·T // n`` of T), re-encode each sampled frame as a standalone
    GIF, and extract its ``gif_decoder`` features — returning
    FRAME_FEATURES_SCHEMA-shaped tuples. Exposed so query pipelines
    that SYNTHESIZE their blobs in Python can run build → sample →
    features inside one Arrow stage instead of shipping the blobs
    through an extra JVM↔Python hop (guide §4)."""
    from easydb_server_spark.operators.gif import (
        decode_gif_frames,
        encode_gif,
        gif_decoder,
    )

    frames = decode_gif_frames(bytes(blob))
    t = len(frames)
    out = []
    for i in range(n_frames):
        f = gif_decoder(encode_gif(frames[i * t // n_frames], quantize=True))
        out.append(
            (
                int(item_id),
                i,
                f["width"],
                f["height"],
                round(f["mean_r"], round_to),
                round(f["mean_g"], round_to),
                round(f["mean_b"], round_to),
            )
        )
    return out


def sample_frame_features(
    df: DataFrame, blob_col: str, id_col: str, n_frames: int, round_to: int = 4
) -> DataFrame:
    """Fused GIF frame sampling + feature extraction: decode every
    animated frame, composite, pick ``n_frames`` evenly (frame
    ``i·T // n`` of T), re-encode each sampled frame as a standalone
    GIF, and extract its ``gif_decoder`` features — all inside ONE
    Arrow-batched stage. Value-identical to :func:`sample_frames`
    followed by a per-frame ``gif_decoder`` map (the same codec calls
    in the same order, means rounded with Python ``round``; the
    re-encode round-trip is kept precisely because a feature match
    proves the re-encode pixel-faithful), but the sampled frame BYTES
    never cross the JVM↔Python boundary: at sf0.1 the three-stage
    chain spent ~1.7 s of its 2.4 s moving intermediate blobs through
    two extra Python runner hops (guide §4 — eliminate boundary
    crossings, pass only what the function needs). GIF payloads only —
    a non-GIF blob raises exactly as the composed pipeline's
    ``gif_decoder`` call would."""

    def do_sample_feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for item_id, blob in zip(pdf[id_col], pdf[blob_col]):
                out.extend(frame_feature_rows(item_id, blob, n_frames, round_to))
            yield pd.DataFrame(
                out,
                columns=[
                    "item_id", "frame_idx", "width", "height",
                    "mean_r", "mean_g", "mean_b",
                ],
            )

    return df.select(id_col, blob_col).mapInPandas(
        do_sample_feats, FRAME_FEATURES_SCHEMA
    )


RESAMPLED_SCHEMA = "item_id bigint, payload binary, sample_rate int, n_samples int"


def resample_audio(
    df: DataFrame, blob_col: str, id_col: str, target_rate: int
) -> DataFrame:
    """Rate-convert WAV clips — the audio analogue of
    :func:`resize_images` with a real codec: decode → nearest-sample
    resample → re-encode inside the Arrow-batched ``mapInPandas``
    workers (:func:`easydb_server_spark.operators.wav.resample_wav`).
    One output row per clip with the re-encoded payload and its new
    geometry; at 100 TB this is a map-only pass over the blob scan,
    no shuffle anywhere.
    """

    def do_resample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from easydb_server_spark.operators.wav import decode_wav, resample_wav

        for pdf in batches:
            out = []
            for item_id, blob in zip(pdf[id_col], pdf[blob_col]):
                resampled = resample_wav(bytes(blob), target_rate)
                n = decode_wav(resampled)[0].shape[0]
                out.append((item_id, resampled, target_rate, n))
            yield pd.DataFrame(
                out, columns=["item_id", "payload", "sample_rate", "n_samples"]
            )

    return df.select(id_col, blob_col).mapInPandas(do_resample, RESAMPLED_SCHEMA)


REMIXED_SCHEMA = "item_id bigint, payload binary, n_channels int, n_samples int"


def remix_audio(
    df: DataFrame, blob_col: str, id_col: str, target_channels: int
) -> DataFrame:
    """Channel-normalize WAV clips (stereo→mono integer-mean downmix,
    mono→N duplication; :func:`easydb_server_spark.operators.wav.
    remix_wav`) — with :func:`resample_audio` this is the geometry
    normalization a mixed-provenance audio corpus needs before
    batching. Same Arrow-batched map-only shape: one output row per
    clip, no shuffle, rate and bit depth preserved.
    """

    def do_remix(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from easydb_server_spark.operators.wav import decode_wav, remix_wav

        for pdf in batches:
            out = []
            for item_id, blob in zip(pdf[id_col], pdf[blob_col]):
                remixed = remix_wav(bytes(blob), target_channels)
                n = decode_wav(remixed)[0].shape[0]
                out.append((item_id, remixed, target_channels, n))
            yield pd.DataFrame(
                out, columns=["item_id", "payload", "n_channels", "n_samples"]
            )

    return df.select(id_col, blob_col).mapInPandas(do_remix, REMIXED_SCHEMA)


def documents_as_binary(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Adapter used by tests/conformance: treat document text bytes as
    an opaque media payload (UTF-8 encode) with kind='image'."""
    return df.select(
        F.col(id_col).alias("item_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("image").alias("kind"),
    )


TRANSCODED_SCHEMA = "item_id bigint, payload binary, law string, n_samples int"


def transcode_g711(df: DataFrame, blob_col: str, id_col: str, law: str) -> DataFrame:
    """Normalize a G.711-companded corpus: decode WAV, apply the
    mu-law/A-law compress->expand staircase per channel
    (:mod:`easydb_server_spark.operators.g711`), re-encode 16-bit
    linear PCM. This is what a telephony/call-center ingest runs so
    every downstream consumer sees one canonical linear form — and
    because the staircase is closed-form integer arithmetic, an
    independent SQL engine can replay it exactly. Same Arrow-batched
    map-only shape as :func:`resample_audio`: rides the blob scan, no
    shuffle."""

    def do_transcode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from easydb_server_spark.operators.g711 import g711_roundtrip
        from easydb_server_spark.operators.wav import decode_wav_full, encode_wav

        for pdf in batches:
            out = []
            for item_id, blob in zip(pdf[id_col], pdf[blob_col]):
                samples, rate, _bits = decode_wav_full(bytes(blob))
                staired = g711_roundtrip(samples, law)
                out.append((item_id, encode_wav(staired, rate), law, staired.shape[0]))
            yield pd.DataFrame(out, columns=["item_id", "payload", "law", "n_samples"])

    return df.select(id_col, blob_col).mapInPandas(do_transcode, TRANSCODED_SCHEMA)


AUDIO_ANALYSIS_SCHEMA = (
    "item_id bigint, n_samples int, zero_crossings bigint, energy bigint, "
    "dominant_lag int, ac_peak bigint"
)


def audio_analysis(df: DataFrame, blob_col: str, id_col: str, max_lag: int = 8) -> DataFrame:
    """Exact-integer signal analysis per clip (channel 0): zero
    crossings (sign transitions with 0 counted positive), total
    energy sum(s^2), and the dominant autocorrelation lag in
    1..max_lag (argmax of sum(s[i]*s[i+lag]); smallest lag wins ties)
    with its peak value — the pitch/periodicity gates an audio
    curation pipeline filters on. Every output is an int64 over int64
    sums, so an independent engine replays it bit-for-bit."""

    def do_analyze(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from easydb_server_spark.operators.wav import decode_wav

        for pdf in batches:
            out = []
            for item_id, blob in zip(pdf[id_col], pdf[blob_col]):
                samples, _rate = decode_wav(bytes(blob))
                s = samples[:, 0].astype(np.int64)
                n = s.shape[0]
                nonneg = s >= 0
                zc = int(np.sum(nonneg[1:] != nonneg[:-1]))
                energy = int(np.sum(s * s))
                best_lag, best_ac = 0, None
                for lag in range(1, max_lag + 1):
                    ac = int(np.sum(s[:-lag] * s[lag:])) if lag < n else 0
                    if best_ac is None or ac > best_ac:
                        best_lag, best_ac = lag, ac
                out.append((item_id, n, zc, energy, best_lag, best_ac or 0))
            yield pd.DataFrame(
                out,
                columns=[
                    "item_id", "n_samples", "zero_crossings", "energy",
                    "dominant_lag", "ac_peak",
                ],
            )

    return df.select(id_col, blob_col).mapInPandas(do_analyze, AUDIO_ANALYSIS_SCHEMA)


SPECTROGRAM_SCHEMA = (
    "item_id bigint, n_frames int, dominant_bin int, dominant_db double, "
    "spectral_centroid double"
)


def audio_spectrogram(
    df: DataFrame,
    blob_col: str,
    id_col: str,
    frame: int = 64,
    hop: int = 32,
) -> DataFrame:
    """Per-clip STFT summary (channel 0): Hann-windowed numpy rfft
    over ``frame``-sample windows at ``hop`` stride, magnitudes
    averaged across frames; reports the dominant frequency bin, its
    level in dB, and the spectral centroid (power-weighted mean bin).
    Frequency-domain features have no closed integer form (libm
    cos/sin last-ulp differences break exact cross-engine hashing),
    so this operator is pytest-locked against analytically-known
    signals (a pure tone at bin k must dominate bin k) instead of
    DuckDB-oracled — the documented exception class, like the HLL
    error-bound lock. Same Arrow-batched map-only scale shape as the
    codecs."""

    def do_spec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from easydb_server_spark.operators.wav import decode_wav

        win = None
        for pdf in batches:
            out = []
            for item_id, blob in zip(pdf[id_col], pdf[blob_col]):
                samples, _rate = decode_wav(bytes(blob))
                s = samples[:, 0].astype(np.float64) / 32768.0
                if s.shape[0] < frame:
                    s = np.pad(s, (0, frame - s.shape[0]))
                if win is None or win.shape[0] != frame:
                    win = np.hanning(frame)
                starts = range(0, s.shape[0] - frame + 1, hop)
                mags = np.zeros(frame // 2 + 1)
                n_frames = 0
                for st in starts:
                    mags += np.abs(np.fft.rfft(s[st : st + frame] * win)) ** 2
                    n_frames += 1
                mags /= max(n_frames, 1)
                dom = int(np.argmax(mags))
                power = float(mags.sum())
                centroid = float((np.arange(mags.shape[0]) * mags).sum() / power) if power > 0 else 0.0
                dom_db = float(10.0 * np.log10(mags[dom])) if mags[dom] > 0 else -300.0
                out.append((item_id, n_frames, dom, round(dom_db, 3), round(centroid, 3)))
            yield pd.DataFrame(
                out,
                columns=[
                    "item_id", "n_frames", "dominant_bin", "dominant_db",
                    "spectral_centroid",
                ],
            )

    return df.select(id_col, blob_col).mapInPandas(do_spec, SPECTROGRAM_SCHEMA)
