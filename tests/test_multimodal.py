from __future__ import annotations

import struct

import pytest

from analysisofuserbehavior_spark.operators import multimodal as mm


def _media(spark, rows):
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def _blob(w: int, h: int, payload: bytes = b"xyz") -> bytes:
    return struct.pack("<II", w, h) + payload


def test_media_metadata_roundtrip(spark):
    rows = [
        (1, "image", _blob(640, 480)),
        (2, "image", _blob(32, 32, b"")),
        (3, "audio", None),
    ]
    out = {r["doc_id"]: r for r in mm.media_metadata(_media(spark, rows)).collect()}
    assert (out[1]["width"], out[1]["height"]) == (640, 480)
    assert out[1]["n_bytes"] == 11
    assert (out[3]["width"], out[3]["height"], out[3]["n_bytes"]) == (0, 0, 0)


def test_frame_offsets_sample_every_n(spark):
    rows = [(1, "video", _blob(25, 0)), (2, "image", _blob(9, 9))]
    out = mm.frame_offsets(_media(spark, rows), every_n=10, fps=30).collect()
    assert [(r["doc_id"], r["frame_index"]) for r in out] == [(1, 0), (1, 10), (1, 20)]
    assert out[1]["timestamp_sec"] == 0.333


def test_resize_media_rewrites_header_and_scales_payload(spark):
    import struct
    from analysisofuserbehavior_spark.operators.multimodal import resize_media

    rows = [
        (1, "image", struct.pack("<II", 100, 100) + b"x" * 1000),
        (2, "image", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media_type string, media binary")
    got = {r["doc_id"]: r["media"] for r in resize_media(df, 10, 10).collect()}
    w, h = struct.unpack("<II", got[1][:8])
    assert (w, h) == (10, 10)
    assert len(got[1]) - 8 == 10  # payload scaled by (10*10)/(100*100)
    assert got[2] is None


def _bmp_bytes(width, height, pixels_rgb_topdown, top_down=False):
    """Build a real uncompressed 24-bit BMP (stdlib struct only).
    `pixels_rgb_topdown` is rows (top first) of (r, g, b) tuples."""
    import struct as st

    row_bytes = (width * 3 + 3) & ~3
    rows = pixels_rgb_topdown if top_down else pixels_rgb_topdown[::-1]
    body = b"".join(
        b"".join(st.pack("BBB", b, g, r) for (r, g, b) in row)
        + b"\x00" * (row_bytes - width * 3)
        for row in rows
    )
    h = height if not top_down else -height
    info = st.pack("<IiiHHIIiiII", 40, width, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    file_hdr = st.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54)
    return file_hdr + info + body


def _wav_bytes(rate, channels, samples, extra_chunk=False):
    """Build a real PCM-16 WAV; optional junk chunk before fmt to
    exercise the RIFF chunk walk."""
    import struct as st

    data = b"".join(st.pack("<h", s) for s in samples)
    fmt = st.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    chunks = b""
    if extra_chunk:
        chunks += b"LIST" + st.pack("<I", 4) + b"INFO"
    chunks += b"fmt " + st.pack("<I", len(fmt)) + fmt
    chunks += b"data" + st.pack("<I", len(data)) + data
    return b"RIFF" + st.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_image_features_decodes_real_bmp(spark):
    """A real uncompressed 24-bit BMP decodes end-to-end (header,
    4-byte row padding, BGR order, bottom-up AND top-down storage) —
    no PIL, stdlib struct + numpy only."""
    from analysisofuserbehavior_spark.operators.multimodal import image_features
    import struct as st

    px = [[(255, 0, 0), (255, 0, 0)], [(255, 0, 0), (0, 255, 0)]]
    rows = [
        (1, "image", _bmp_bytes(2, 2, px)),
        (2, "image", _bmp_bytes(2, 2, px, top_down=True)),
        (3, "image", st.pack("<II", 64, 64) + b"fake payload"),  # must drop out
    ]
    media = spark.createDataFrame(rows, "doc_id long, media_type string, media binary")
    got = {r.doc_id: r for r in image_features(media).collect()}
    assert set(got) == {1, 2}
    for did in (1, 2):
        r = got[did]
        assert (r.width, r.height) == (2, 2)
        assert (r.mean_r, r.mean_g, r.mean_b) == (191.25, 63.75, 0.0)


def test_audio_features_decodes_real_wav(spark):
    """A real PCM-16 WAV decodes end-to-end: chunk walk past a junk
    chunk, sample count, duration, exact RMS."""
    from analysisofuserbehavior_spark.operators.multimodal import audio_features

    rows = [
        (1, "audio", _wav_bytes(8000, 1, [1000, -1000, 1000, -1000], extra_chunk=True)),
        (2, "audio", b"RIFF not actually wav"),  # must drop out
    ]
    media = spark.createDataFrame(rows, "doc_id long, media_type string, media binary")
    got = audio_features(media).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.sample_rate, r.channels, r.n_samples) == (8000, 1, 4)
    assert r.duration_sec == 4 / 8000
    assert r.rms == 1000.0


def test_ppm_decode_handles_comments_and_rejects_malformed(spark):
    """The P6 tokenizer must skip comments, require maxval 255, and
    drop truncated payloads instead of emitting garbage."""
    from analysisofuserbehavior_spark.operators.multimodal import (
        image_features,
        sniff_format,
    )
    import pandas as pd

    good = b"P6\n# comment\n2 2\n255\n" + bytes([7, 9, 11]) * 4
    trunc = b"P6\n2 2\n255\n" + bytes([7, 9, 11]) * 3
    wide_maxval = b"P6\n2 2\n65535\n" + bytes([7, 9, 11]) * 8
    assert sniff_format(good) == "ppm"
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "media_type": ["image"] * 3,
                "media": [good, trunc, wide_maxval],
            }
        )
    )
    rows = image_features(media).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id"], r["width"], r["height"]) == (1, 2, 2)
    assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (7.0, 9.0, 11.0)


def test_ppm_rejects_nonwhitespace_after_maxval():
    """A comment (or any non-whitespace byte) right after the maxval
    token must be REJECTED, not decoded with the raster shifted — a
    shifted raster that still satisfies the length check would
    silently produce wrong channel means."""
    from analysisofuserbehavior_spark.operators.multimodal import _decode_ppm

    # long comment after maxval: raster would be read N bytes early
    bad = b"P6\n2 2\n255# shifted\n" + bytes([7, 9, 11]) * 4 + b"\x00" * 16
    assert _decode_ppm(bad) is None
    # the single-whitespace form still decodes
    good = b"P6\n2 2\n255\n" + bytes([7, 9, 11]) * 4
    assert _decode_ppm(good) == (2, 2, 7.0, 9.0, 11.0)


def test_image_features_mixed_bmp_and_ppm_corpus(spark):
    """One operator, two real formats in the same column — magic-byte
    dispatch decodes both, matching each generator's closed form."""
    from analysisofuserbehavior_spark.operators.multimodal import (
        image_features,
        synthesize_bmp_media,
        synthesize_ppm_media,
    )

    docs = spark.range(6).withColumnRenamed("id", "doc_id")
    mixed = synthesize_bmp_media(docs.where("doc_id % 2 = 0")).unionByName(
        synthesize_ppm_media(docs.where("doc_id % 2 = 1"))
    )
    got = {r["doc_id"]: r for r in image_features(mixed).collect()}
    assert set(got) == set(range(6))
    for d in range(0, 6, 2):  # BMP closed form
        assert (got[d]["width"], got[d]["height"]) == (2 + d % 5, 1 + d % 4)
        assert got[d]["mean_r"] == float(d % 256)
    for d in range(1, 6, 2):  # PPM closed form
        assert (got[d]["width"], got[d]["height"]) == (2 + d % 6, 1 + d % 3)
        assert got[d]["mean_g"] == float((d * 11) % 256)


def test_ppm_roundtrip_random_images_property(spark):
    """Encode→decode round trip on RANDOM (non-solid) pixel data:
    decoded channel means must equal numpy's means of the source
    array — pinning pixel ORDER (top-down RGB), not just headers."""
    import numpy as np
    from analysisofuserbehavior_spark.operators.multimodal import _decode_ppm

    rng = np.random.RandomState(7)
    for trial in range(20):
        w, h = int(rng.randint(1, 9)), int(rng.randint(1, 7))
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = b"P6 %d %d 255\n" % (w, h) + px.tobytes()
        got = _decode_ppm(payload)
        assert got is not None, (trial, w, h)
        gw, gh, r, g, b = got
        assert (gw, gh) == (w, h)
        means = px.reshape(-1, 3).mean(axis=0)
        assert (r, g, b) == (means[0], means[1], means[2])


def test_jpeg_codec_round_trip_and_profile_guards():
    """The pure-numpy baseline JPEG codec (operators/jpegcodec.py):
    (a) gradient round trip exercises the FULL entropy path — nonzero
    DC diffs, AC (run,size) symbols, ZRL, EOB, byte stuffing — with a
    bounded reconstruction error for the shipped quant tables;
    (b) a high-amplitude checker forces large coefficients (deep
    magnitude bits); (c) out-of-profile payloads (progressive SOF2,
    truncated stream, non-JPEG bytes) return None instead of
    raising."""
    import numpy as np

    from analysisofuserbehavior_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
    )

    h, w = 13, 19
    gr = np.zeros((h, w, 3), np.uint8)
    for i in range(h):
        for j in range(w):
            gr[i, j] = ((i * 17) % 256, (j * 11) % 256, (i * 5 + j * 3) % 256)
    enc = encode_baseline_jpeg(gr)
    assert enc[:3] == b"\xff\xd8\xff" and enc[-2:] == b"\xff\xd9"
    dec = decode_baseline_jpeg(enc)
    assert dec is not None and dec.shape == (h, w, 3)
    assert np.abs(dec.astype(int) - gr.astype(int)).max() <= 24

    checker = np.zeros((16, 16, 3), np.uint8)
    checker[::2, ::2] = 255
    dec2 = decode_baseline_jpeg(encode_baseline_jpeg(checker))
    assert dec2 is not None and dec2.shape == (16, 16, 3)

    assert decode_baseline_jpeg(b"\x00\x01\x02\x03") is None
    assert decode_baseline_jpeg(enc[: len(enc) // 2]) is None
    progressive = bytearray(enc)
    sof = progressive.find(b"\xff\xc0")
    progressive[sof + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
    assert decode_baseline_jpeg(bytes(progressive)) is None


def test_jpeg_decode_solid_matches_closed_form():
    """The DC-only rational fast path: for a solid image the decoded
    color equals the closed-form quantization replay the oracle runs
    — verified here in Python for a spread of colors (including
    clipping extremes)."""
    import math

    import numpy as np

    from analysisofuserbehavior_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
    )

    def predict(r, g, b):
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        yv = math.floor(8.0 * (y - 128.0) / 16.0 + 0.5) * 16.0 / 8.0 + 128.0
        bv = math.floor(8.0 * (cb - 128.0) / 17.0 + 0.5) * 17.0 / 8.0 + 128.0
        rv = math.floor(8.0 * (cr - 128.0) / 17.0 + 0.5) * 17.0 / 8.0 + 128.0
        clamp = lambda x: int(max(0.0, min(255.0, math.floor(x + 0.5))))
        return (
            clamp(yv + 1.402 * (rv - 128.0)),
            clamp(yv - 0.344136 * (bv - 128.0) - 0.714136 * (rv - 128.0)),
            clamp(yv + 1.772 * (bv - 128.0)),
        )

    for color in [(0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 255, 0),
                  (0, 0, 255), (37, 180, 92), (254, 1, 128), (13, 13, 13)]:
        rgb = np.full((6, 10, 3), color, dtype=np.uint8)
        dec = decode_baseline_jpeg(encode_baseline_jpeg(rgb))
        assert dec is not None and (dec == dec[0, 0]).all()
        assert tuple(int(v) for v in dec[0, 0]) == predict(*color), color


def test_png_codec_round_trip_filters_and_guards():
    """pngcodec: (a) lossless round trip (exact array equality —
    pins pixel layout, not just means); (b) the decoder reverses ALL
    FIVE row filters, exercised by a hand-filtered Sub/Up/Average/
    Paeth image; (c) RGBA input drops alpha; (d) out-of-profile
    payloads (palette type, truncated, garbage) return None."""
    import struct
    import zlib

    import numpy as np

    from analysisofuserbehavior_spark.operators.pngcodec import (
        _SIG,
        _chunk,
        decode_png,
        encode_png,
    )

    rgb = np.zeros((7, 11, 3), np.uint8)
    for i in range(7):
        for j in range(11):
            rgb[i, j] = ((i * 31) % 256, (j * 17) % 256, (i * j) % 256)
    dec = decode_png(encode_png(rgb))
    assert dec is not None and (dec == rgb).all()

    h, w, nch = 4, 5, 3
    img = np.random.RandomState(7).randint(0, 256, (h, w, nch)).astype(np.uint8)
    rows, prev = [], np.zeros(w * nch, np.int32)
    for i, ft in enumerate([1, 2, 3, 4]):
        cur = img[i].reshape(-1).astype(np.int32)
        enc_row = np.zeros(w * nch, np.int32)
        for j in range(w * nch):
            a = cur[j - nch] if j >= nch else 0
            b = prev[j]
            c = prev[j - nch] if j >= nch else 0
            if ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc_row[j] = (cur[j] - pred) & 0xFF
        rows.append(bytes([ft]) + bytes(enc_row.astype(np.uint8)))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + _chunk(b"IEND", b"")
    )
    dec2 = decode_png(payload)
    assert dec2 is not None and (dec2 == img).all()

    rgba = np.dstack([rgb, np.full((7, 11), 200, np.uint8)])
    raw = b"".join(b"\x00" + rgba[i].tobytes() for i in range(7))
    p3 = (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 11, 7, 8, 6, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    d3 = decode_png(p3)
    assert d3 is not None and (d3 == rgb).all()

    palette = (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0))
        + _chunk(b"IEND", b"")
    )
    assert decode_png(palette) is None
    assert decode_png(b"nope") is None
    assert decode_png(encode_png(rgb)[:30]) is None


def test_codec_property_random_images():
    """Property (hypothesis): for random small RGB images, PNG
    round-trips EXACTLY (lossless) and JPEG round-trips with bounded
    error and exact shape — across odd dimensions that exercise MCU
    padding and row filtering."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from analysisofuserbehavior_spark.operators.jpegcodec import (
        decode_baseline_jpeg,
        encode_baseline_jpeg,
    )
    from analysisofuserbehavior_spark.operators.pngcodec import (
        decode_png,
        encode_png,
    )

    @given(
        h=st.integers(min_value=1, max_value=20),
        w=st.integers(min_value=1, max_value=20),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        smooth=st.booleans(),
    )
    @settings(max_examples=12, deadline=None)
    def check(h, w, seed, smooth):
        rng = np.random.RandomState(seed)
        if smooth:  # low-frequency content: tighter JPEG bound applies
            base = rng.randint(0, 256, (1, 1, 3))
            img = np.clip(
                base + rng.randint(-12, 13, (h, w, 3)), 0, 255
            ).astype(np.uint8)
        else:
            img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        p = decode_png(encode_png(img))
        assert p is not None and (p == img).all()
        j = decode_baseline_jpeg(encode_baseline_jpeg(img))
        assert j is not None and j.shape == img.shape
        err = np.abs(j.astype(int) - img.astype(int)).max()
        assert err <= (40 if smooth else 160), err  # noise is worst-case JPEG

    check()


def test_gif_codec_round_trip_and_guards():
    """GIF89a codec (operators/gifcodec.py): lossless multi-frame
    round trip incl. the KwKwK LZW case, width growth and the
    4095-entry dictionary reset; profile guards raise legibly."""
    import numpy as np
    import pytest

    from analysisofuserbehavior_spark.operators.gifcodec import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(11)
    cases = [
        [np.full((2, 3, 3), (10, 20, 30), dtype=np.uint8)],
        [
            np.full((4, 5, 3), (250, 0, 128), dtype=np.uint8),
            np.full((4, 5, 3), (1, 2, 3), dtype=np.uint8),
            np.full((4, 5, 3), (9, 9, 9), dtype=np.uint8),
        ],
        # KwKwK: immediate repetition of fresh dictionary entries
        [np.zeros((1, 16, 3), dtype=np.uint8)],
        [rng.randint(0, 5, (8, 9, 3)).astype(np.uint8) * 40 for _ in range(4)],
        # dictionary overflow → mid-stream CLEAR + reset
        [(rng.randint(0, 250, (200, 200, 3)) // 64 * 64).astype(np.uint8)],
    ]
    for frames in cases:
        back = decode_gif(encode_gif(frames))
        assert len(back) == len(frames)
        for a, b in zip(frames, back):
            assert np.array_equal(a, b)
    # guards
    with pytest.raises(ValueError):
        encode_gif([])
    with pytest.raises(ValueError):
        encode_gif([rng.randint(0, 256, (40, 40, 3)).astype(np.uint8)])  # >256 colors
    with pytest.raises(ValueError):
        encode_gif(
            [
                np.zeros((2, 2, 3), dtype=np.uint8),
                np.zeros((3, 2, 3), dtype=np.uint8),  # mismatched frame
            ]
        )
    assert decode_gif(b"NOTAGIF---------") is None


def test_gif_features_end_to_end(spark, sf_dir):
    """Synthesized animated GIFs decode to the closed-form means and
    frame counts; non-GIF payloads drop out of the feature frame."""
    from analysisofuserbehavior_spark.operators.multimodal import (
        gif_features,
        synthesize_gif_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    out = {r.doc_id: r for r in gif_features(synthesize_gif_media(docs)).collect()}
    assert len(out) == 40
    for did, r in out.items():
        nf = 1 + did % 3
        assert (r.width, r.height, r.n_frames) == (3 + did % 7, 2 + did % 4, nf)
        exp_r = sum((did * 19 + f * 41) % 256 for f in range(nf)) / nf
        assert abs(r.mean_r - exp_r) < 1e-9


def test_adpcm_codec_constant_exact_and_bounded_error():
    """IMA ADPCM: constant tones bit-exact for any length/edge
    amplitude (incl. multi-block + padded final block); smooth
    signals reconstruct with small bounded error; guards raise."""
    import numpy as np
    import pytest

    from analysisofuserbehavior_spark.operators.adpcmcodec import (
        decode_adpcm_wav,
        encode_adpcm_wav,
    )

    for amp in (0, -1, 12345, -32768, 32767):
        for n in (1, 2, 505, 506, 1200):
            rate, back = decode_adpcm_wav(encode_adpcm_wav([amp] * n, 8000))
            assert rate == 8000 and back == [amp] * n
    t = np.arange(2000)
    sig = (10000 * np.sin(2 * np.pi * t / 200)).astype(int).tolist()
    _, back = decode_adpcm_wav(encode_adpcm_wav(sig, 16000))
    err = np.abs(np.asarray(back) - np.asarray(sig))
    assert err.mean() < 300  # ~2-3% of amplitude: ADPCM tracks smooth signals
    with pytest.raises(ValueError):
        encode_adpcm_wav([], 8000)
    with pytest.raises(ValueError):
        encode_adpcm_wav([1, 2], 8000, samples_per_block=4)  # even spb
    assert decode_adpcm_wav(b"NOTRIFF---------") is None


def test_adpcm_features_end_to_end(spark, sf_dir):
    from analysisofuserbehavior_spark.operators.multimodal import (
        adpcm_features,
        synthesize_adpcm_media,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    out = {r.doc_id: r for r in adpcm_features(synthesize_adpcm_media(docs)).collect()}
    assert len(out) == 30
    for did, r in out.items():
        assert r.sample_rate == 8000 + (did % 8) * 1000
        assert r.n_samples == 65 + (did % 37) * 2
        assert abs(r.rms - abs((did * 131) % 20000 - 10000)) < 1e-9
