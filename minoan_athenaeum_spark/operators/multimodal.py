"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched pandas transforms (`mapInPandas`).

Decode status: every dispatch arm decodes FOR REAL with no codec
library. Images: PPM (pure-numpy parser), baseline JPEG
(operators/jpeg.py), PNG (operators/png.py). Audio: PCM-16 WAV plus
the compressed formats G.711 μ-law/A-law and mono IMA/DVI ADPCM
(operators/audio_codecs.py). Video: back-to-back P6 frame streams.
`fake_decode_features` remains as the codec-free byte-level plumbing
path. IMA and MS ADPCM decode at ANY channel count (per-channel
state machines, round-robin payload). Exotic variants inside each
codec still raise NotImplementedError (arithmetic-coded JPEG,
MP3-in-WAV).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Output schema of the feature extractor — fixed and explicit so the
# Arrow batches have a stable shape.
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("head_sum", T.LongType()),
        T.StructField("byte_mean", T.DoubleType()),
    ]
)


class UnsupportedContainerError(ValueError):
    """The payload's magic bytes match NO known container format.

    A DECLARED quarantine boundary (like the codec NotImplementedErrors):
    the quarantine decode path catches exactly this type, so a
    decoder-internal ValueError (truncated header, bad token, short
    pixel data) still fails the task instead of masquerading as an
    unsupported input."""


def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode a binary PPM (P6) image to an (H, W, 3) uint8 array.

    A real, complete parser for the format: magic check, '#' comments
    anywhere in the header, arbitrary whitespace between tokens, maxval
    validation (≤255 single-byte samples), and truncation detection.
    Pure numpy — PPM is uncompressed, so no codec library is needed."""
    if payload[:2] != b"P6":
        raise ValueError(f"not a binary PPM: magic {payload[:2]!r}")
    # Tokenize the header: 3 integers (width, height, maxval), skipping
    # comments ('#' to end of line) and whitespace. The pixel block
    # starts after exactly ONE whitespace byte following maxval.
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos : pos + 1]
        if c == b"#":
            nl = payload.find(b"\n", pos)
            pos = len(payload) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tok = payload[pos:end]
            if not tok.isdigit():
                raise ValueError(f"bad PPM header token {tok!r}")
            tokens.append(int(tok))
            pos = end
    w, h, maxval = tokens
    if not (0 < maxval <= 255):
        raise ValueError(f"unsupported PPM maxval {maxval} (need 1..255)")
    pos += 1  # the single whitespace byte after maxval
    n = w * h * 3
    px = payload[pos : pos + n]
    if len(px) != n:
        raise ValueError(f"truncated PPM pixels: want {n} bytes, got {len(px)}")
    return np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Inverse of :func:`decode_ppm`: (H, W, 3) uint8 → P6 bytes."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def _riff_fmt_data(payload: bytes) -> tuple[bytes, bytes]:
    """Walk a RIFF/WAVE payload's chunks ('fmt ' may be followed by
    LIST/INFO/fact etc. before 'data'), validating sizes; return the
    (fmt, data) chunk bodies."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload: {payload[:12]!r}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload) and (fmt is None or data is None):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated WAV chunk {cid!r}")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    return fmt, data


def decode_wav_pcm16(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a PCM-16 mono/stereo WAV to (sample_rate, int16 array of
    shape (n_frames, n_channels)). A real RIFF parser: walks chunks,
    validates the PCM tag and bit depth, and detects truncation. Pure
    numpy — PCM is uncompressed, so no codec library is needed.
    Compressed formats go through :func:`decode_wav`."""
    fmt, data = _riff_fmt_data(payload)
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"only PCM-16 decodes on this path (format={audio_format}, "
            f"bits={bits}); use decode_wav for G.711/ADPCM"
        )
    samples = np.frombuffer(data, dtype="<i2")
    if n_channels > 1:
        samples = samples[: len(samples) - len(samples) % n_channels].reshape(
            -1, n_channels
        )
    else:
        samples = samples.reshape(-1, 1)
    return sample_rate, samples


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a mono/stereo WAV of ANY supported format to
    (sample_rate, int16 array (n_frames, n_channels)): PCM-16 (tag 1),
    G.711 A-law (6), G.711 μ-law (7), and mono/stereo IMA/DVI ADPCM (0x11)
    all decode for real via pure-numpy codecs
    (operators/audio_codecs.py). Anything else raises with the tag."""
    fmt, data = _riff_fmt_data(payload)
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    if audio_format == 1:
        return decode_wav_pcm16(payload)
    from minoan_athenaeum_spark.operators import audio_codecs as ac

    if audio_format == 7:
        flat = ac.decode_mulaw(data)
    elif audio_format == 6:
        flat = ac.decode_alaw(data)
    elif audio_format == 0x11:
        block_align = int.from_bytes(fmt[12:14], "little")
        if n_channels == 1:
            flat = ac.decode_ima_adpcm(data, block_align)
        else:
            return sample_rate, ac.decode_ima_adpcm_multi(
                data, block_align, n_channels
            )
    elif audio_format == 2:
        block_align = int.from_bytes(fmt[12:14], "little")
        if n_channels == 1:
            flat = ac.decode_ms_adpcm(data, block_align)
        else:
            return sample_rate, ac.decode_ms_adpcm_multi(
                data, block_align, n_channels
            )
    else:
        raise NotImplementedError(f"WAV format tag {audio_format}")
    if n_channels > 1:
        flat = flat[: len(flat) - len(flat) % n_channels].reshape(
            -1, n_channels
        )
    else:
        flat = flat.reshape(-1, 1)
    return sample_rate, flat


def encode_wav_raw(
    data: bytes,
    fmt_tag: int,
    n_channels: int,
    sample_rate: int,
    bits: int,
    block_align: int,
    extra: bytes = b"",
) -> bytes:
    """Wrap an already-encoded data chunk in a RIFF/WAVE container with
    an arbitrary format tag (the generation side for the compressed-
    codec queries; PCM-16 keeps :func:`encode_wav_pcm16`)."""
    byte_rate = sample_rate * block_align
    fmt = (
        fmt_tag.to_bytes(2, "little")
        + n_channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    if extra:
        fmt += len(extra).to_bytes(2, "little") + extra
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    if len(fmt) & 1:
        chunks += b"\x00"
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    if len(data) & 1:
        chunks += b"\x00"
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """Inverse of :func:`decode_wav_pcm16`: (n, ch) int16 → RIFF bytes."""
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = (
        (1).to_bytes(2, "little")
        + ch.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (ch * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def split_ppm_frames(payload: bytes) -> list[np.ndarray]:
    """Decode a 'video' stored as back-to-back P6 frames (each frame a
    complete PPM, headers included — the raw-concatenated layout NUT/y4m
    style tools emit for uncompressed streams). Walks the payload frame
    by frame with the real PPM parser."""
    frames, pos = [], 0
    while pos < len(payload):
        if payload[pos : pos + 2] != b"P6":
            raise ValueError(f"frame boundary expected P6 at offset {pos}")
        img = decode_ppm(payload[pos:])
        frames.append(img)
        # Advance past this frame: re-find the pixel block length.
        h, w, _ = img.shape
        header_end = _ppm_pixel_offset(payload, pos)
        pos = header_end + h * w * 3
    return frames


def _ppm_pixel_offset(payload: bytes, start: int) -> int:
    """Offset of the first pixel byte of the P6 frame at ``start``."""
    pos, seen = start + 2, 0
    while seen < 3:
        c = payload[pos : pos + 1]
        if c == b"#":
            nl = payload.find(b"\n", pos)
            pos = len(payload) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            seen += 1
    return pos + 1


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload by container magic — ALL three container
    formats decode for real with no codec library: PPM (pure-numpy
    parser), baseline JPEG (pure-numpy T.81 sequential decoder,
    operators/jpeg.py), and PNG (stdlib-zlib inflate + vectorized
    scanline-filter reconstruction, operators/png.py). Within each
    codec, exotic variants still raise NotImplementedError (arithmetic-coded
    JPEG, palette/16-bit/interlaced PNG)."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:3] == b"\xff\xd8\xff":
        from minoan_athenaeum_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from minoan_athenaeum_spark.operators.png import decode_png

        return decode_png(payload)
    raise UnsupportedContainerError(
        f"unrecognized image container: magic {payload[:8]!r}"
    )


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("down2_checksum", T.LongType()),
    ]
)


def with_ppm_payload(df: DataFrame, width: int = 16, height: int = 8) -> DataFrame:
    """Attach a REAL image payload column: a valid binary PPM (P6) per
    row whose pixel bytes are the deterministic ramp
    ``(doc_id % 251 + 13·i) mod 256`` over flat index i — so downstream
    decode results are reproducible on any engine (the oracle recomputes
    the same ramp in SQL). Stands in for reading an image blob column
    off a lakehouse table."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_px = width * height * 3
        ramp = 13 * np.arange(n_px, dtype=np.int64)
        for pdf in batches:
            payloads = [
                encode_ppm(
                    ((int(d) % 251 + ramp) % 256)
                    .astype(np.uint8)
                    .reshape(height, width, 3)
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id").mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


# Minimal JPEG stream whose SOF marker is 0xC9 (arithmetic-coded) — a
# declared codec boundary: the marker walk raises a typed
# NotImplementedError before touching entropy data.
_SOF9_JPEG_STUB = bytes.fromhex("ffd8ffc90008080010001001")


def with_mixed_payload(df: DataFrame, width: int = 16, height: int = 8) -> DataFrame:
    """Like :func:`with_ppm_payload`, but a deterministic slice of rows
    carries payloads that hit the DECLARED decode boundaries instead of
    valid images: ``doc_id % 11 == 3`` → an arithmetic-coded (SOF9)
    JPEG stub (typed ``NotImplementedError``), ``doc_id % 11 == 7`` →
    an unrecognized container magic (``ValueError``). Models the real
    corpus condition the quarantine path exists for."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_px = width * height * 3
        ramp = 13 * np.arange(n_px, dtype=np.int64)
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                m = int(d) % 11
                if m == 3:
                    payloads.append(_SOF9_JPEG_STUB)
                elif m == 7:
                    payloads.append(b"GIF89a\x00\x00 not an image we decode")
                else:
                    payloads.append(
                        encode_ppm(
                            ((int(d) % 251 + ramp) % 256)
                            .astype(np.uint8)
                            .reshape(height, width, 3)
                        )
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id").mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


IMAGE_QUARANTINE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("down2_checksum", T.LongType()),
    ]
)


def image_channel_stats_quarantined(df: DataFrame) -> DataFrame:
    """Decode-with-quarantine: same per-image numpy decode+pool as
    :func:`image_channel_stats`, but a payload that hits a DECLARED
    codec boundary (typed ``NotImplementedError``) or an unrecognized
    container (``UnsupportedContainerError``) becomes a row with
    ``status`` = the exception class name and null stats instead of
    failing the task — the pattern a 100 TB ingest job uses to route
    undecodable blobs to a quarantine sink while the job keeps running.
    Any OTHER exception still propagates — including decoder-internal
    ValueErrors (truncated IDAT, bad PPM header): quarantine is for
    declared boundaries, not a blanket except that would let a decoder
    regression masquerade as bad input."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    img = decode_image(bytes(payload)).astype(np.int64)
                except (NotImplementedError, UnsupportedContainerError) as exc:
                    rows.append((int(d), type(exc).__name__, None, None, None))
                    continue
                h, w, _ = img.shape
                h2, w2 = h - h % 2, w - w % 2
                blocks = (
                    img[:h2, :w2, :]
                    .reshape(h2 // 2, 2, w2 // 2, 2, 3)
                    .sum(axis=(1, 3, 4))
                )
                weights = np.arange(1, blocks.size + 1, dtype=np.int64).reshape(
                    blocks.shape
                )
                rows.append(
                    (int(d), "ok", w, h, int((weights * blocks).sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "status", "width", "height", "down2_checksum"],
            )

    return df.select("doc_id", "payload").mapInPandas(
        stats, IMAGE_QUARANTINE_SCHEMA
    )


def image_channel_stats(df: DataFrame) -> DataFrame:
    """mapInPandas decode + featurize: parse each payload with the REAL
    PPM decoder, emit dimensions, per-channel means, and a 2× box
    downsample (the "resize" step of an image pipeline, as average-pool
    over 2×2 blocks) reduced to a position-weighted integer checksum —
    Σ (block_index+1)·block_sum — so the pooled GEOMETRY is pinned
    bit-exactly (a transposed or mis-strided pool changes the value)
    while staying engine-portable integer math. Arrow-batched; per-image
    numpy, no Python per pixel."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_image(bytes(payload)).astype(np.int64)
                h, w, _ = img.shape
                sums = img.reshape(-1, 3).sum(axis=0)
                n_px = float(h * w)
                h2, w2 = h - h % 2, w - w % 2
                blocks = (
                    img[:h2, :w2, :]
                    .reshape(h2 // 2, 2, w2 // 2, 2, 3)
                    .sum(axis=(1, 3, 4))
                )
                weights = np.arange(1, blocks.size + 1, dtype=np.int64).reshape(
                    blocks.shape
                )
                rows.append(
                    (
                        int(d),
                        w,
                        h,
                        sums[0] / n_px,
                        sums[1] / n_px,
                        sums[2] / n_px,
                        int((weights * blocks).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "mean_r",
                    "mean_g",
                    "mean_b",
                    "down2_checksum",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(stats, IMAGE_STATS_SCHEMA)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("energy", T.LongType()),
    ]
)

VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_sampled", T.LongType()),
        T.StructField("sampled_checksum", T.LongType()),
    ]
)


def with_wav_payload(
    df: DataFrame, n_samples: int = 256, sample_rate: int = 8000
) -> DataFrame:
    """Attach a REAL audio payload: a valid PCM-16 mono WAV per row with
    the deterministic sample ramp ``((doc_id%97)·101 + 37·i) mod 4001 −
    2000`` — closed-form recomputable by the oracle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = 37 * np.arange(n_samples, dtype=np.int64)
        for pdf in batches:
            payloads = [
                encode_wav_pcm16(
                    (((int(d) % 97) * 101 + idx) % 4001 - 2000)
                    .astype(np.int16)
                    .reshape(-1, 1),
                    sample_rate,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id").mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def audio_features(df: DataFrame) -> DataFrame:
    """mapInPandas decode + featurize with the REAL WAV parser: frame
    count, peak amplitude, total |amplitude|, and energy (sum of
    squares) — all integer-exact, so the oracle can certify the decoder
    bit-for-bit."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, s = decode_wav_pcm16(bytes(payload))
                s64 = s.astype(np.int64)
                rows.append(
                    (
                        int(d),
                        rate,
                        s.shape[0],
                        int(np.abs(s64).max()) if s64.size else 0,
                        int(np.abs(s64).sum()),
                        int((s64 * s64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "sample_rate",
                    "n_frames",
                    "peak",
                    "sum_abs",
                    "energy",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(stats, AUDIO_STATS_SCHEMA)


def with_video_payload(
    df: DataFrame, n_frames: int = 4, width: int = 8, height: int = 4
) -> DataFrame:
    """Attach a REAL 'video' payload: ``n_frames`` complete P6 frames
    back-to-back (the raw-concatenated uncompressed-stream layout),
    frame f pixel i = ``(doc_id%199 + 7·f + 13·i) mod 256``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_px = width * height * 3
        ramp = 13 * np.arange(n_px, dtype=np.int64)
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                frames = b"".join(
                    encode_ppm(
                        ((int(d) % 199 + 7 * f + ramp) % 256)
                        .astype(np.uint8)
                        .reshape(height, width, 3)
                    )
                    for f in range(n_frames)
                )
                payloads.append(frames)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id").mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def video_frame_sample_stats(df: DataFrame, every: int = 2) -> DataFrame:
    """mapInPandas frame-sampling over concatenated-P6 video: split the
    payload into frames with the real parser, keep every ``every``-th
    frame (the standard decimation step of a video featurizer), and pin
    WHICH frames were kept via a frame-index-weighted brightness
    checksum — Σ_{sampled f} (f+1)·Σ pixels(f)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = split_ppm_frames(bytes(payload))
                sampled = list(range(0, len(frames), every))
                checksum = sum(
                    (f + 1) * int(frames[f].astype(np.int64).sum())
                    for f in sampled
                )
                rows.append((int(d), len(frames), len(sampled), checksum))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_frames", "n_sampled", "sampled_checksum"],
            )

    return df.select("doc_id", "payload").mapInPandas(stats, VIDEO_STATS_SCHEMA)


def with_png_payload(df: DataFrame, width: int = 12, height: int = 10) -> DataFrame:
    """Attach a REAL PNG payload: a standards-conforming RGB PNG per
    row (IHDR/IDAT/IEND, zlib-compressed scanlines) whose pixel bytes
    are the deterministic ramp ``(doc_id % 241 + 17·i) mod 256`` over
    flat index i. PNG is lossless, so the decode oracle is the same
    closed-form pixel formula — but the bytes on the wire go through a
    genuine DEFLATE stream."""
    from minoan_athenaeum_spark.operators.png import encode_png

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_px = width * height * 3
        ramp = 17 * np.arange(n_px, dtype=np.int64)
        for pdf in batches:
            payloads = [
                encode_png(
                    ((int(d) % 241 + ramp) % 256)
                    .astype(np.uint8)
                    .reshape(height, width, 3)
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id").mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


JPEG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_lum", T.DoubleType()),
        T.StructField("down2_checksum", T.LongType()),
    ]
)


def with_jpeg_payload(df: DataFrame, width: int = 24, height: int = 16) -> DataFrame:
    """Attach a REAL baseline-JPEG payload: each row gets a grayscale
    image whose 8×8 blocks are constant — block b (row-major) has value
    ``(doc_id % 251 + 29·b) % 256`` — run through the real encoder
    (FDCT → quantize → huffman → JFIF markers). With the default DC
    quant step of 8, block-constant planes survive the lossy pipeline
    BIT-EXACTLY (operators/jpeg.py docstring), so the decode oracle is
    closed-form despite the stream being genuinely entropy-coded."""
    from minoan_athenaeum_spark.operators.jpeg import (
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    assert width % 8 == 0 and height % 8 == 0
    bx, by = width // 8, height // 8

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                blocks = (int(d) % 251 + 29 * np.arange(bx * by)) % 256
                img = np.repeat(
                    np.repeat(blocks.reshape(by, bx), 8, axis=0), 8, axis=1
                ).astype(np.uint8)
                # every third document ships a PROGRESSIVE (SOF2)
                # stream — block-constant planes decode bit-identically
                # either way, so the oracle is unchanged and the gate
                # covers BOTH entropy layouts
                enc = (
                    encode_jpeg_gray_progressive
                    if int(d) % 3 == 1
                    else encode_jpeg_gray
                )
                payloads.append(enc(img))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id").mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def jpeg_gray_stats(df: DataFrame) -> DataFrame:
    """mapInPandas decode + featurize for grayscale JPEG payloads via
    the magic-dispatching :func:`decode_image` (so the JPEG arm of the
    dispatch is what's being certified): dimensions, mean luminance,
    and the same position-weighted 2×2-average-pool checksum the PPM
    path pins — Σ (block_index+1)·block_sum."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_image(bytes(payload)).astype(np.int64)
                if img.ndim != 2:
                    raise ValueError("expected a 1-component (gray) JPEG")
                h, w = img.shape
                h2, w2 = h - h % 2, w - w % 2
                blocks = (
                    img[:h2, :w2].reshape(h2 // 2, 2, w2 // 2, 2).sum(axis=(1, 3))
                )
                weights = np.arange(1, blocks.size + 1, dtype=np.int64).reshape(
                    blocks.shape
                )
                rows.append(
                    (
                        int(d),
                        w,
                        h,
                        img.sum() / float(h * w),
                        int((weights * blocks).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "mean_lum",
                         "down2_checksum"],
            )

    return df.select("doc_id", "payload").mapInPandas(stats, JPEG_STATS_SCHEMA)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque binary column (utf-8 bytes of the text stand in
    for an image/audio payload) plus typed metadata."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "media_type", F.lit("application/octet-stream")
    )


def fake_decode_features(df: DataFrame) -> DataFrame:
    """Deterministic per-payload features via mapInPandas (Arrow
    batches): byte length, sum of the first 8 bytes, mean byte value.
    Partition-parallel, no driver collection — the real decode drops in
    here unchanged.

    The batch body is fully numpy-vectorized: one C-level concat of the
    batch's payloads into a flat uint8 buffer, then ``np.add.reduceat``
    over row offsets — no per-row Python in the hot loop."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n = len(payloads)
            lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=n)
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8).astype(np.int64)
            offsets = np.zeros(n, dtype=np.int64)
            if n > 1:
                np.cumsum(lens[:-1], out=offsets[1:])
            nonempty = lens > 0
            totals = np.zeros(n, dtype=np.int64)
            if buf.size and nonempty.any():
                # reduceat segments for empty rows alias the next row's
                # first byte — computed on nonempty rows only.
                totals[nonempty] = np.add.reduceat(buf, offsets[nonempty])
            head_sum = np.zeros(n, dtype=np.int64)
            for k in range(8):  # 8 vector adds, not a per-row loop
                has_k = lens > k
                head_sum[has_k] += buf[offsets[has_k] + k]
            byte_mean = np.divide(
                totals, lens, out=np.zeros(n, dtype=np.float64), where=nonempty
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": lens,
                    "head_sum": head_sum,
                    "byte_mean": byte_mean,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(featurize, FEATURE_SCHEMA)


G711_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("peak_mu", T.LongType()),
        T.StructField("sum_abs_mu", T.LongType()),
        T.StructField("energy_mu", T.LongType()),
        T.StructField("peak_a", T.LongType()),
        T.StructField("sum_abs_a", T.LongType()),
        T.StructField("energy_a", T.LongType()),
    ]
)


def with_g711_payload(df: DataFrame, n_samples: int = 256) -> DataFrame:
    """Attach two REAL compressed-audio payloads per row: the same
    deterministic byte ramp ``(doc_id % 251 + 7·i) mod 256`` wrapped as
    a μ-law WAV (format tag 7) and an A-law WAV (format tag 6). The
    companded bytes are the ramp itself, so the oracle recomputes the
    G.711 expansion per byte in closed form and certifies the decoder
    tables bit-for-bit."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = 7 * np.arange(n_samples, dtype=np.int64)
        for pdf in batches:
            mu, al = [], []
            for d in pdf["doc_id"]:
                raw = ((int(d) % 251 + idx) % 256).astype(np.uint8).tobytes()
                mu.append(encode_wav_raw(raw, 7, 1, 8000, 8, 1))
                al.append(encode_wav_raw(raw, 6, 1, 8000, 8, 1))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload_mu": mu, "payload_a": al}
            )

    return df.select("doc_id").mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload_mu", T.BinaryType()),
                T.StructField("payload_a", T.BinaryType()),
            ]
        ),
    )


def g711_features(df: DataFrame) -> DataFrame:
    """Decode BOTH G.711 variants with the real WAV dispatch
    (:func:`decode_wav` → audio_codecs tables) and emit integer-exact
    peak / total-|amplitude| / energy for each."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, pmu, pa in zip(
                pdf["doc_id"], pdf["payload_mu"], pdf["payload_a"]
            ):
                _, smu = decode_wav(bytes(pmu))
                _, sa = decode_wav(bytes(pa))
                m64 = smu.astype(np.int64)
                a64 = sa.astype(np.int64)
                rows.append(
                    (
                        int(d),
                        smu.shape[0],
                        int(np.abs(m64).max()),
                        int(np.abs(m64).sum()),
                        int((m64 * m64).sum()),
                        int(np.abs(a64).max()),
                        int(np.abs(a64).sum()),
                        int((a64 * a64).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in G711_STATS_SCHEMA])

    return df.mapInPandas(stats, G711_STATS_SCHEMA)


ADPCM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("last_sample", T.LongType()),
    ]
)

ADPCM_BLOCKS = 2
ADPCM_BODY_BYTES = 32  # 64 nibbles per block; block_align = 4 + 32


def with_adpcm_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL mono IMA/DVI ADPCM WAV per row (format tag 0x11):
    2 blocks, each a 4-byte header (predictor ``(doc_id + 7k) % 1001 −
    500``, step index ``(doc_id + 3k) % 89``) + 32 body bytes from the
    ramp ``(doc_id % 251 + 7·(32k + j)) mod 256``. Every quantity is a
    closed-form function of (doc_id, block, offset), so the oracle can
    re-run the *sequential* decode as a recursive-CTE fold."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        joff = 7 * np.arange(ADPCM_BODY_BYTES, dtype=np.int64)
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                blocks = b""
                for k in range(ADPCM_BLOCKS):
                    pred = (d + 7 * k) % 1001 - 500
                    idx = (d + 3 * k) % 89
                    body = (
                        ((d % 251 + 7 * 32 * k + joff) % 256)
                        .astype(np.uint8)
                        .tobytes()
                    )
                    blocks += (
                        pred.to_bytes(2, "little", signed=True)
                        + bytes([idx, 0])
                        + body
                    )
                payloads.append(
                    encode_wav_raw(
                        blocks, 0x11, 1, 8000, 4, 4 + ADPCM_BODY_BYTES
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id").mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def adpcm_features(df: DataFrame) -> DataFrame:
    """Decode the IMA ADPCM payload with the real sequential decoder
    and emit integer-exact stats; ``last_sample`` pins the final
    predictor state (any mis-step anywhere in the fold shifts it)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, s = decode_wav(bytes(payload))
                s64 = s.astype(np.int64).ravel()
                rows.append(
                    (
                        int(d),
                        s64.size,
                        int(np.abs(s64).max()),
                        int(np.abs(s64).sum()),
                        int((s64 * s64).sum()),
                        int(s64[-1]),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in ADPCM_STATS_SCHEMA])

    return df.mapInPandas(stats, ADPCM_STATS_SCHEMA)


MS_ADPCM_BODY_BYTES = 16


def with_ms_adpcm_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL mono MS-ADPCM WAV per row (format tag 2): one
    block with closed-form header — predictor index ``doc_id % 7``,
    initial delta ``doc_id % 500 + 16``, sample1 ``doc_id % 2001 −
    1000``, sample2 ``(3·doc_id) % 2001 − 1000`` — and 16 body bytes
    ``(doc_id % 251 + 11·j) mod 256``. Every quantity is a closed-form
    function of (doc_id, offset), so the oracle can re-run the
    sequential decode as a recursive-CTE fold."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        joff = 11 * np.arange(MS_ADPCM_BODY_BYTES, dtype=np.int64)
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                body = ((d % 251 + joff) % 256).astype(np.uint8).tobytes()
                block = (
                    bytes([d % 7])
                    + (d % 500 + 16).to_bytes(2, "little", signed=True)
                    + (d % 2001 - 1000).to_bytes(2, "little", signed=True)
                    + ((3 * d) % 2001 - 1000).to_bytes(2, "little", signed=True)
                    + body
                )
                payloads.append(
                    encode_wav_raw(block, 2, 1, 8000, 4, 7 + MS_ADPCM_BODY_BYTES)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id").mapInPandas(
        gen,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
