"""Multimodal (image/audio/video) column plumbing.

Not in the reference (pure log analytics); added for training-data
pipelines: media travels as an opaque `binary` column plus typed
metadata, and per-batch feature extraction runs as Arrow-batched
`mapInPandas` — the Spark-side contract (schema, partitioning, batch
shape) is real and tested.  FOUR real formats decode end-to-end with
stdlib struct + numpy (no PIL/ffmpeg needed): uncompressed 24-bit
BMP and binary PPM, PCM-16 WAV (`audio_features`), and — the first
COMPRESSED codec — baseline JFIF JPEG (full huffman entropy decode,
operators/jpegcodec.py).  Remaining codecs (MP3, H.264, progressive/
subsampled JPEG) stay environment-stubbed behind the same iterator
contract.

Wire format of the deterministic fake used by tests and the stub
decoder: 8-byte little-endian header `<II` = (width, height) followed
by an arbitrary payload.  A production build swaps `_decode_fake`
for PIL/ffmpeg inside the same mapInPandas iterator — the plan,
schema and Arrow batching are unchanged.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

MEDIA_SCHEMA = "doc_id long, media_type string, media binary"
METADATA_SCHEMA = (
    "doc_id long, media_type string, width int, height int, n_bytes long"
)

def _spread(df: DataFrame) -> DataFrame:
    """Spread a narrow frame across the session's cores BEFORE the
    CPU-heavy per-row Python codec work downstream.

    The gate/bench parquet tables are single files with one row
    group, so their scans plan exactly ONE partition and every
    chained mapInPandas codec (encode + decode) serializes on one
    task — measured: image_features_jpeg ran 5.5 s wall with 5.4 s
    total executor time on local[32], i.e. 31 idle cores.  This is
    the optimization guide's §2.5 "input skew: one huge unsplittable
    file → repartition immediately after the read" case.  The
    repartition moves only (doc_id[, text]) — a lightweight proxy,
    never the synthesized media bytes (§8: shuffle decisions on small
    rows, move heavy bytes once... or here, generate them after the
    exchange and never move them at all).

    Scale-adaptive, not a local[32] constant: the target is the
    session's defaultParallelism, and the exchange is SKIPPED
    whenever the incoming frame already carries at least that many
    partitions — the 100 TB layout (many files / row groups) takes
    the no-op path, so no shuffle is added at scale.  Shared
    implementation: functions/spread.py.

    Applied ONLY to the synthesizers whose downstream decode is
    genuinely CPU-heavy — jpeg (Huffman), gif (LZW), adpcm (per-
    sample predictor loop) — where the r12 bench measured multi-
    second wins (jpeg 4.69→1.05 s, adpcm 3.50→0.88 s at sf0.1).  The
    cheap codecs (fake header, bmp, ppm, png, wav: header parse +
    vectorized numpy over small arrays) measured a NET LOSS under the
    same spread (media_resize_audit 0.34→1.89 s, media_metadata
    0.30→0.74 s, wav 0.40→0.88 s): their whole pipeline costs less
    than the added exchange + 32-task scheduling, so they keep the
    serial single-partition plan at gate scale."""
    from ..functions.spread import spread_small_scan

    return spread_small_scan(df)


def _decode_fake(payload: bytes) -> tuple[int, int]:
    """Parse the deterministic fake header (see module docstring)."""
    if payload is None or len(payload) < 8:
        return (0, 0)
    return struct.unpack("<II", payload[:8])


def sniff_format(payload: bytes | None) -> str:
    """Magic-byte dispatch: 'bmp' | 'wav' | 'fake' | 'unknown'.
    The fake header can't collide: a BMP starts 'BM' (width 19778 LE)
    and a WAV 'RIFF', far outside the fake generator's dims."""
    if payload is None or len(payload) < 8:
        return "unknown"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:2] == b"P6" and payload[2:3] in (b"\n", b" ", b"\t", b"\r"):
        return "ppm"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if payload[:6] in (b"GIF89a", b"GIF87a"):
        return "gif"
    return "fake"


def _decode_bmp(payload: bytes):
    """Decode an UNCOMPRESSED 24-bit BMP with stdlib struct + numpy:
    returns (width, height, mean_r, mean_g, mean_b) or None if the
    payload isn't a BMP this decoder handles (compressed, exotic
    bpp).  BITMAPINFOHEADER layout: data offset at byte 10, width at
    18 (i32), height at 22 (i32, negative = top-down), bpp at 28
    (u16), compression at 30 (u32, 0 = BI_RGB).  Rows are 4-byte
    aligned, stored bottom-up, pixels as BGR."""
    import numpy as np

    if len(payload) < 54:
        return None
    data_off = struct.unpack_from("<I", payload, 10)[0]
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0 or width <= 0 or height == 0:
        return None
    abs_h = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    need = data_off + row_bytes * abs_h
    if len(payload) < need:
        return None
    px = np.frombuffer(payload, dtype=np.uint8, count=row_bytes * abs_h, offset=data_off)
    px = px.reshape(abs_h, row_bytes)[:, : width * 3].reshape(abs_h, width, 3)
    if height > 0:
        px = px[::-1]  # bottom-up storage → top-down pixels
    means = px.reshape(-1, 3).mean(axis=0)  # BGR order
    return width, abs_h, float(means[2]), float(means[1]), float(means[0])


def _decode_ppm(payload: bytes):
    """Decode a BINARY PPM (P6, maxval 255) with stdlib + numpy:
    returns (width, height, mean_r, mean_g, mean_b) or None.  The
    header is token-based — arbitrary whitespace between tokens and
    `#` comments through end-of-line (netpbm spec); exactly ONE
    whitespace byte separates the maxval from the pixel block.
    Pixels are top-down RGB with no row padding (the layout
    differences vs BMP — bottom-up BGR with 4-byte alignment — are
    what the dual-format gate locks in)."""
    import numpy as np

    def tokens(buf: bytes):
        """Yield (token, end_offset) skipping whitespace + comments."""
        i = 2  # past magic
        while i < len(buf):
            c = buf[i : i + 1]
            if c in b" \t\r\n":
                i += 1
            elif c == b"#":
                while i < len(buf) and buf[i : i + 1] not in b"\r\n":
                    i += 1
            else:
                j = i
                while j < len(buf) and buf[j : j + 1] not in b" \t\r\n#":
                    j += 1
                yield buf[i:j], j
                i = j

    try:
        it = tokens(payload)
        (w_tok, _), (h_tok, _), (mv_tok, end) = next(it), next(it), next(it)
        width, height, maxval = int(w_tok), int(h_tok), int(mv_tok)
    except (StopIteration, ValueError):
        return None
    if width <= 0 or height <= 0 or maxval != 255:
        return None
    # spec: exactly ONE whitespace byte after maxval, then the raster.
    # VERIFY it is whitespace — a comment or extra padding there would
    # shift the raster by N bytes and silently wrong every channel
    # mean whenever the length check still passes.
    if payload[end : end + 1] not in (b" ", b"\t", b"\r", b"\n"):
        return None
    data_off = end + 1
    need = width * height * 3
    if len(payload) < data_off + need:
        return None
    px = np.frombuffer(payload, dtype=np.uint8, count=need, offset=data_off)
    means = px.reshape(height, width, 3).reshape(-1, 3).mean(axis=0)  # RGB
    return width, height, float(means[0]), float(means[1]), float(means[2])


def _decode_wav(payload: bytes):
    """Decode a PCM-16 WAV with stdlib struct + numpy: returns
    (sample_rate, channels, n_samples, rms) or None.  Walks the RIFF
    chunk list (fmt may not be first) — format tag must be 1 (PCM)
    and bits-per-sample 16."""
    import numpy as np

    pos, n = 12, len(payload)
    fmt = data = None
    while pos + 8 <= n:
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    tag, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if tag != 1 or bits != 16 or channels == 0 or rate == 0:
        return None  # rate=0 would divide-by-zero in duration math
    samples = np.frombuffer(data, dtype="<i2", count=len(data) // 2)
    n_samples = len(samples) // channels
    rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2))) if len(samples) else 0.0
    return rate, channels, n_samples, rms


IMAGE_FEATURES_SCHEMA = (
    "doc_id long, width int, height int, mean_r double, mean_g double, mean_b double"
)
AUDIO_FEATURES_SCHEMA = (
    "doc_id long, sample_rate int, channels int, n_samples long, "
    "duration_sec double, rms double"
)


def _decode_jpeg(payload: bytes):
    """Decode a baseline 4:4:4 JFIF JPEG (operators/jpegcodec.py —
    pure stdlib + numpy, no PIL) → (width, height, mean_r, mean_g,
    mean_b), or None for payloads outside the supported profile.
    This retires the 'compressed image codecs are env-stubbed' gap
    for JPEG: the entropy stream is really huffman-decoded, the
    tables really parsed from the file, the blocks really
    dequantized and reconstructed."""
    from .jpegcodec import decode_baseline_jpeg

    rgb = decode_baseline_jpeg(payload)
    if rgb is None:
        return None
    h, w = rgb.shape[:2]
    means = rgb.reshape(-1, 3).mean(axis=0)
    return w, h, float(means[0]), float(means[1]), float(means[2])


def _decode_png(payload: bytes):
    """Decode an 8-bit truecolor PNG (operators/pngcodec.py — stdlib
    zlib DEFLATE + all five row filters, no PIL) → (width, height,
    mean_r, mean_g, mean_b), or None outside the profile.  PNG is
    lossless, so decoded means equal the synthesized colors
    exactly."""
    from .pngcodec import decode_png

    rgb = decode_png(payload)
    if rgb is None:
        return None
    h, w = rgb.shape[:2]
    means = rgb.reshape(-1, 3).mean(axis=0)
    return w, h, float(means[0]), float(means[1]), float(means[2])


def image_features(media: DataFrame) -> DataFrame:
    """REAL end-to-end image decode (no PIL needed): uncompressed
    24-bit BMP payloads → (width, height, channel means) via stdlib
    struct + vectorized numpy inside mapInPandas.  Non-BMP /
    unsupported payloads drop out (same contract a PIL decoder with
    an error-quarantine would have).  Same Arrow-batch shape as
    `media_metadata`, so this is the codec swap-in point proven with
    a real format."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decoders = {
            "bmp": _decode_bmp,
            "ppm": _decode_ppm,
            "jpeg": _decode_jpeg,
            "png": _decode_png,
        }
        for pdf in batches:
            rows = []
            for did, b in zip(pdf["doc_id"], pdf["media"]):
                fmt = sniff_format(bytes(b)) if b is not None else "unknown"
                if fmt not in decoders:
                    continue
                got = decoders[fmt](bytes(b))
                if got is not None:
                    w, h, r, g, bl = got
                    rows.append((int(did), w, h, r, g, bl))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "mean_r", "mean_g", "mean_b"]
            )

    return media.mapInPandas(extract, IMAGE_FEATURES_SCHEMA)


def audio_features(media: DataFrame) -> DataFrame:
    """REAL end-to-end audio decode: PCM-16 WAV payloads →
    (sample_rate, channels, n_samples, duration, RMS amplitude) via
    stdlib RIFF chunk walking + numpy sample math in mapInPandas."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, b in zip(pdf["doc_id"], pdf["media"]):
                if b is None or sniff_format(bytes(b)) != "wav":
                    continue
                got = _decode_wav(bytes(b))
                if got is not None:
                    rate, ch, ns, rms = got
                    rows.append((int(did), rate, ch, ns, ns / rate, rms))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "channels", "n_samples",
                    "duration_sec", "rms",
                ],
            )

    return media.mapInPandas(extract, AUDIO_FEATURES_SCHEMA)


def media_metadata(media: DataFrame) -> DataFrame:
    """Extract (width, height, n_bytes) per media row via mapInPandas.

    One Arrow batch in, one out — no per-row Python calls across the
    JVM boundary; at 100 TB this runs embarrassingly parallel over
    whatever partitioning the media table already has."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["media"].map(_decode_fake)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                    "n_bytes": pdf["media"].map(
                        lambda b: 0 if b is None else len(b)
                    ).astype("int64"),
                }
            )

    return media.mapInPandas(extract, METADATA_SCHEMA)


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plan: same binary-in/binary-out contract a PIL/ffmpeg
    implementation would have.  The fake path rewrites the header to
    the target dims and scales the payload length proportionally
    (deterministic, so tests can assert exact output); the real
    decoder drops into the same iterator."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def one(b: bytes | None) -> bytes | None:
                if b is None or len(b) < 8:
                    return None
                w0, h0 = struct.unpack("<II", b[:8])
                body = b[8:]
                if w0 and h0:
                    scale = (width * height) / float(w0 * h0)
                    body = body[: max(0, int(len(body) * min(scale, 1.0)))]
                return struct.pack("<II", width, height) + body

            out = pdf.copy()
            out["media"] = pdf["media"].map(one)
            yield out

    return media.mapInPandas(resize, MEDIA_SCHEMA)


def frame_offsets(media: DataFrame, every_n: int = 10, fps: int = 30) -> DataFrame:
    """Video frame-sampling plan: emit the byte-free frame index list
    a downstream decoder would extract (width encodes frame count in
    the fake format).  `timestamp_sec` is floored to the millisecond
    via integer math (idx*1000//fps / 1000) so the value is
    bit-identical across engines — float rounding is not."""

    import numpy as np

    def plan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # header decode is a byte-slice per row; the frame fan-out
            # (the hot loop: ~n_frames/every_n rows per video) is pure
            # numpy repeat/arange — no per-row Python iteration
            n_frames = np.fromiter(
                (_decode_fake(b)[0] for b in pdf["media"]),
                dtype=np.int64,
                count=len(pdf),
            )
            counts = -(-n_frames // every_n)  # ceil; 0 for headerless rows
            doc_ids = np.repeat(pdf["doc_id"].to_numpy(), counts)
            ends = np.cumsum(counts)
            # global arange minus each row's start offset → per-row
            # 0, every_n, 2·every_n, ... sequences, all vectorized
            idx_within = np.arange(ends[-1]) - np.repeat(ends - counts, counts)
            frame_index = (idx_within * every_n).astype(np.int32)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "frame_index": frame_index,
                    "timestamp_sec": (frame_index.astype(np.int64) * 1000 // fps)
                    / 1000.0,
                }
            )

    return media.where(media.media_type == "video").mapInPandas(
        plan, "doc_id long, frame_index int, timestamp_sec double"
    )


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents corpus —
    the ingest boundary for the multimodal oracle gate.

    Every doc becomes one media row in the fake wire format (module
    docstring): videos for doc_id % 5 == 0 (width encodes the frame
    count, 30 + doc_id % 240), images otherwise (width
    64 + doc_id % 1024); height 64 + (doc_id*7) % 768; payload =
    header + utf-8 text bytes.  All formulas are closed-form over
    (doc_id, text), so a SQL oracle can predict every metadata field
    the decode path recovers — an end-to-end check of the binary
    Arrow round trip, not of the generator."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                video = did % 5 == 0
                width = 30 + did % 240 if video else 64 + did % 1024
                height = 64 + (did * 7) % 768
                rows.append(
                    {
                        "doc_id": did,
                        "media_type": "video" if video else "image",
                        "media": struct.pack("<II", width, height)
                        + text.encode("utf-8"),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "media"])

    return docs.select("doc_id", "text").mapInPandas(gen, MEDIA_SCHEMA)


def synthesize_bmp_media(docs: DataFrame) -> DataFrame:
    """REAL-format media table: every doc becomes a genuine
    uncompressed 24-bit BMP (solid color; bottom-up storage, 4-byte
    row padding — everything a real file has).  All fields are
    closed-form over doc_id, so a SQL oracle can predict the decoded
    (width, height, channel means) exactly: width = 2 + doc_id % 5,
    height = 1 + doc_id % 4, color = (doc_id % 256, (doc_id*3) % 256,
    (doc_id*7) % 256).  Solid color → per-channel mean == channel
    value, so the hash gate checks the whole decode path (header,
    padding strip, BGR order) without replaying pixels in SQL."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 2 + did % 5, 1 + did % 4
                r, g, b = did % 256, (did * 3) % 256, (did * 7) % 256
                row_bytes = (w * 3 + 3) & ~3
                row = struct.pack("BBB", b, g, r) * w + b"\x00" * (row_bytes - w * 3)
                body = row * h
                hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
                info = struct.pack(
                    "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0
                )
                rows.append((did, "image", hdr + info + body))
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "media"])

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


def synthesize_ppm_media(docs: DataFrame) -> DataFrame:
    """REAL-format media table: every doc becomes a genuine binary
    PPM (P6) — token header WITH a comment line, single-whitespace
    maxval terminator, top-down RGB pixels.  Closed-form fields:
    width = 2 + doc_id % 6, height = 1 + doc_id % 3, color =
    (doc_id*5 % 256, doc_id*11 % 256, doc_id*13 % 256); solid color
    makes each channel mean equal its value, so the oracle predicts
    the decode analytically (and the comment line proves the header
    tokenizer, not just the happy path)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 2 + did % 6, 1 + did % 3
                r, g, b = (did * 5) % 256, (did * 11) % 256, (did * 13) % 256
                hdr = b"P6\n# synthetic\n%d %d\n255\n" % (w, h)
                rows.append(
                    (did, "image", hdr + struct.pack("BBB", r, g, b) * (w * h))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "media"])

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


def synthesize_jpeg_media(docs: DataFrame) -> DataFrame:
    """REAL-format media table: every doc becomes a genuine baseline
    JFIF JPEG (operators/jpegcodec.py — real huffman entropy coding,
    DQT/DHT/SOF0/SOS segments, byte stuffing, MCU padding).
    Closed-form fields: width = 9 + doc_id % 8 (never a multiple of
    8, so edge-replication padding is always exercised), height =
    8 + doc_id % 5, solid color = (doc_id*7 % 256, doc_id*29 % 256,
    doc_id*47 % 256).  A solid image quantizes to DC-only blocks, so
    the decoded color is EXACTLY predictable by rational arithmetic
    (see jpegcodec module docstring) — the oracle replays the
    YCbCr → quantize → dequantize → RGB pipeline in SQL, and the
    hash gate covers the whole decode path: marker parse, table
    build, huffman stream, DC prediction, dequant, reconstruction,
    crop, color convert."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .jpegcodec import encode_baseline_jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 9 + did % 8, 8 + did % 5
                color = ((did * 7) % 256, (did * 29) % 256, (did * 47) % 256)
                rgb = np.full((h, w, 3), color, dtype=np.uint8)
                rows.append((did, "image", encode_baseline_jpeg(rgb)))
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "media"])

    return _spread(docs.select("doc_id")).mapInPandas(gen, MEDIA_SCHEMA)


def synthesize_png_media(docs: DataFrame) -> DataFrame:
    """REAL-format media table: every doc becomes a genuine 8-bit
    truecolor PNG (zlib-deflated IDAT, CRC'd chunks).  Closed-form
    fields: width = 3 + doc_id % 7, height = 2 + doc_id % 4, solid
    color = (doc_id*19 % 256, doc_id*23 % 256, doc_id*31 % 256).
    PNG is lossless, so the oracle predicts the decoded means as the
    colors themselves — the gate covers chunk walk, DEFLATE inflate,
    unfiltering, and pixel layout."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .pngcodec import encode_png

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 3 + did % 7, 2 + did % 4
                color = ((did * 19) % 256, (did * 23) % 256, (did * 31) % 256)
                rgb = np.full((h, w, 3), color, dtype=np.uint8)
                rows.append((did, "image", encode_png(rgb)))
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "media"])

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


def synthesize_wav_media(docs: DataFrame) -> DataFrame:
    """REAL-format audio table: every doc becomes a genuine PCM-16
    WAV (RIFF/fmt/data chunks) holding a constant-amplitude signal:
    rate = 8000, amplitude = (doc_id % 100) * 10, n_samples =
    4 + doc_id % 50.  Constant signal → RMS == amplitude exactly, so
    the oracle predicts every decoded field in closed form."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                amp, n = (did % 100) * 10, 4 + did % 50
                data = struct.pack("<h", amp) * n
                fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
                chunks = (
                    b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", len(data)) + data
                )
                rows.append(
                    (did, "audio", b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks)
                )
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "media"])

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


GIF_FEATURES_SCHEMA = (
    "doc_id long, width int, height int, n_frames int, "
    "mean_r double, mean_g double, mean_b double"
)


def gif_features(media: DataFrame) -> DataFrame:
    """REAL multi-frame decode: GIF89a payloads (operators/gifcodec.py
    — stdlib LZW, numpy palette mapping) → (width, height, n_frames,
    channel means across ALL frames).  GIF is lossless for
    palette-expressible frames, so decoded means equal the
    synthesized per-frame colors exactly — the first ANIMATED format
    under the closed-form oracle gate (the stills prove decode; this
    additionally proves frame iteration, extension-block skipping,
    and per-frame LZW streams)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .gifcodec import decode_gif

        for pdf in batches:
            rows = []
            for did, b in zip(pdf["doc_id"], pdf["media"]):
                if b is None or sniff_format(bytes(b)) != "gif":
                    continue
                frames = decode_gif(bytes(b))
                if not frames:
                    continue
                h, w = frames[0].shape[:2]
                stack = np.concatenate([f.reshape(-1, 3) for f in frames])
                means = stack.mean(axis=0)
                rows.append(
                    (int(did), w, h, len(frames),
                     float(means[0]), float(means[1]), float(means[2]))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_frames",
                    "mean_r", "mean_g", "mean_b",
                ],
            )

    return media.mapInPandas(extract, GIF_FEATURES_SCHEMA)


def synthesize_gif_media(docs: DataFrame) -> DataFrame:
    """REAL-format media table: every doc becomes a genuine animated
    GIF89a.  Closed-form fields: width = 3 + doc_id % 7, height =
    2 + doc_id % 4, n_frames = 1 + doc_id % 3, frame f solid color =
    ((doc_id*19 + f*41) % 256, (doc_id*23 + f*43) % 256,
    (doc_id*31 + f*47) % 256) — so the oracle predicts the decoded
    means as integer-exact per-frame color averages."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .gifcodec import encode_gif

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 3 + did % 7, 2 + did % 4
                frames = [
                    np.full(
                        (h, w, 3),
                        (
                            (did * 19 + f * 41) % 256,
                            (did * 23 + f * 43) % 256,
                            (did * 31 + f * 47) % 256,
                        ),
                        dtype=np.uint8,
                    )
                    for f in range(1 + did % 3)
                ]
                rows.append((did, "image", encode_gif(frames)))
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "media"])

    return _spread(docs.select("doc_id")).mapInPandas(gen, MEDIA_SCHEMA)


ADPCM_FEATURES_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, "
    "duration_sec double, rms double"
)


def adpcm_features(media: DataFrame) -> DataFrame:
    """REAL compressed-audio decode: IMA ADPCM WAV payloads
    (operators/adpcmcodec.py — stdlib struct, 4 bits/sample) →
    (sample_rate, n_samples, duration, RMS).  Constant tones decode
    bit-exactly (see adpcmcodec docstring), so the gate's closed-form
    oracle covers the container walk, block headers, nibble order,
    and the IMA update rule end to end."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .adpcmcodec import decode_adpcm_wav

        for pdf in batches:
            rows = []
            for did, b in zip(pdf["doc_id"], pdf["media"]):
                if b is None:
                    continue
                got = decode_adpcm_wav(bytes(b))
                if got is None:
                    continue
                rate, samples = got
                x = np.asarray(samples, dtype=np.float64)
                rows.append(
                    (
                        int(did),
                        int(rate),
                        len(samples),
                        len(samples) / rate,
                        float(np.sqrt((x * x).mean())),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_samples",
                    "duration_sec", "rms",
                ],
            )

    return media.mapInPandas(extract, ADPCM_FEATURES_SCHEMA)


def synthesize_adpcm_media(docs: DataFrame) -> DataFrame:
    """REAL-format media table: every doc becomes a genuine IMA ADPCM
    WAV holding a constant tone.  Closed-form fields: rate = 8000 +
    (doc_id%8)*1000, n_samples = 65 + (doc_id%37)*2 (odd — header
    sample + whole nibble pairs), amplitude = (doc_id*131) % 20000
    - 10000.  Constant signals round-trip bit-exactly, so rms ==
    |amplitude| and the oracle is pure arithmetic."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .adpcmcodec import encode_adpcm_wav

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rate = 8000 + (did % 8) * 1000
                n = 65 + (did % 37) * 2
                amp = (did * 131) % 20000 - 10000
                rows.append(
                    (did, "audio", encode_adpcm_wav([amp] * n, rate))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "media_type", "media"])

    return _spread(docs.select("doc_id")).mapInPandas(gen, MEDIA_SCHEMA)
