"""Multimodal plumbing + streaming upsert tests."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from healthcare_api_spark.operators.multimodal import (
    attach_payload,
    audio_features,
    decode_image_meta,
    frame_sample,
)
from healthcare_api_spark.sources.store import ResourceStore
from healthcare_api_spark.streaming.upsert import (
    sessionize,
    streaming_upsert,
    tumbling_window_counts,
)


def _payloads(spark):
    return spark.createDataFrame(
        [(1, "https://h/a.png", bytearray(b"x" * 100)),
         (2, "https://h/b", bytearray(b"y" * 700)),
         (3, "https://h/c.mp4", None)],
        ["id", "url", "data"],
    )


def test_attach_payload_struct(spark):
    out = {r["id"]: r.asDict(recursive=True)["attachment"]
           for r in attach_payload(_payloads(spark), "url", "data").collect()}
    assert out[1]["contentType"] == "image/png" and out[1]["size"] == 100
    assert out[2]["contentType"] == "application/octet-stream"
    assert out[3]["contentType"] == "video/mp4" and out[3]["size"] is None


def _bmp_header(w, h, bpp=24):
    import struct

    return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h) + b"\x00\x00" + struct.pack(
        "<H", bpp
    ) + b"\x00" * 40


def _jpeg_header(w, h, ch=3):
    import struct

    # SOI + APP0(len 4) + SOF0(height, width, channels) — header only
    return (
        b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
        + b"\xff\xc0" + struct.pack(">H", 8 + 3 * ch) + bytes([8])
        + struct.pack(">HH", h, w) + bytes([ch])
    )


def test_decode_image_meta_real_headers(spark):
    import struct

    import numpy as np

    from healthcare_api_spark.operators.multimodal import encode_png_bytes

    png = encode_png_bytes(np.zeros((7, 5, 3), dtype=np.uint8))
    gif = b"GIF89a" + struct.pack("<HH", 11, 12) + b"\x00" * 6
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(_bmp_header(9, 4))),
         (3, bytearray(gif)), (4, bytearray(_jpeg_header(33, 22))),
         (5, bytearray(b"not an image at all......")), (6, None)],
        ["id", "data"],
    )
    out = {r["id"]: r for r in decode_image_meta(df, "id", "data").collect()}
    assert (out[1]["format"], out[1]["width"], out[1]["height"], out[1]["channels"]) == (
        "png", 5, 7, 3)
    assert (out[2]["format"], out[2]["width"], out[2]["height"], out[2]["channels"]) == (
        "bmp", 9, 4, 3)
    assert (out[3]["format"], out[3]["width"], out[3]["height"]) == ("gif", 11, 12)
    assert (out[4]["format"], out[4]["width"], out[4]["height"], out[4]["channels"]) == (
        "jpeg", 33, 22, 3)
    assert out[5]["format"] == "invalid" and out[5]["width"] is None
    assert out[6]["format"] == "empty"


def _forward_filter(img, ftypes):
    """Apply PNG filters row-by-row (the encoder side of the 5 filter
    types) so the test pins the decoder's unfiltering against a known
    ground truth."""
    import numpy as np

    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(np.int32)
    out = b""
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        row, ft = flat[y], ftypes[y % len(ftypes)]
        enc = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[x] = (row[x] - pred) & 0xFF
        out += bytes([ft]) + enc.astype(np.uint8).tobytes()
        prev = row
    return out


def test_png_full_decode_all_filters(spark):
    import struct
    import zlib

    import numpy as np

    from healthcare_api_spark.operators.multimodal import decode_png, encode_png_bytes

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(10, 6, 3), dtype=np.uint8)

    # hand-build a PNG using EVERY filter type across its rows
    raw = _forward_filter(img, ftypes=[0, 1, 2, 3, 4])

    def chunk(cid, body):
        return struct.pack(">I", len(body)) + cid + body + struct.pack(
            ">I", zlib.crc32(cid + body) & 0xFFFFFFFF)

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 10, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(encode_png_bytes(img))),
         (3, bytearray(b"\x89PNG\r\n\x1a\njunk..............................."))],
        ["id", "data"],
    )
    out = {r["id"]: r for r in decode_png(df, "id", "data").collect()}
    assert out[1]["status"] == "ok"
    assert np.array_equal(
        np.frombuffer(out[1]["pixels"], dtype=np.uint8).reshape(10, 6, 3), img)
    # encoder→decoder round trip
    assert np.array_equal(
        np.frombuffer(out[2]["pixels"], dtype=np.uint8).reshape(10, 6, 3), img)
    assert out[3]["status"] == "invalid" and out[3]["pixels"] is None


def _lzw_compress(indices, min_code):
    """Real GIF-flavor LZW compressor (dictionary growth + code-size
    bumps) so the decoder's non-trivial paths are pinned, including the
    KwK case the clear-code-only encoder never produces."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table = {bytes([i]): i for i in range(1 << min_code)}
    next_code = end + 1
    code_size = min_code + 1
    out, acc, nbits = bytearray(), 0, 0

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for p in bytes(indices):
        wk = w + bytes([p])
        if wk in table:
            w = wk
        else:
            emit(table[w])
            table[wk] = next_code
            next_code += 1
            # bump ONE assignment later than the decoder's own add: the
            # decoder learns entry N only when the code AFTER N's creator
            # arrives, so its table (and size bump) lags the encoder by 1
            if next_code - 1 == (1 << code_size) and code_size < 12:
                code_size += 1
            w = bytes([p])
    if w:
        emit(table[w])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_gif_decode_roundtrip_and_real_lzw(spark):
    import struct

    import numpy as np

    from healthcare_api_spark.operators.multimodal import decode_gif, encode_gif_bytes

    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, size=(6, 9), dtype=np.uint8)

    # (a) engine encoder (clear-code stream) round trip
    simple = encode_gif_bytes(idx, pal)

    # (b) REAL LZW stream with dict growth + the KwK pattern (aaaa…)
    runs = np.zeros((4, 16), dtype=np.uint8)
    runs[1:, :] = rng.integers(0, 8, size=(3, 16))
    lzw = _lzw_compress(runs.ravel(), min_code=3)
    gct = pal.tobytes()
    real = (
        b"GIF89a" + struct.pack("<HHBBB", 16, 4, 0x80 | 2, 0, 0) + gct
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 16, 4, 0) + bytes([3])
    )
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        real += bytes([len(chunk)]) + chunk
    real += b"\x00\x3b"

    df = spark.createDataFrame(
        [(1, bytearray(simple)), (2, bytearray(real)), (3, bytearray(b"GIF89ajunk....."))],
        ["id", "data"],
    )
    out = {r["id"]: r for r in decode_gif(df, "id", "data").collect()}
    assert out[1]["status"] == "ok"
    assert np.array_equal(
        np.frombuffer(out[1]["pixels"], dtype=np.uint8).reshape(6, 9, 3), pal[idx])
    assert out[2]["status"] == "ok"
    assert np.array_equal(
        np.frombuffer(out[2]["pixels"], dtype=np.uint8).reshape(4, 16, 3),
        pal[runs])
    assert out[3]["status"] in ("invalid", "truncated", "corrupt-lzw")

    # (c) data bytes AFTER the end code (padding/corrupt tail) must be
    # ignored, not decoded as extra pixels (ADVICE r2: end code only
    # broke the inner bit loop)
    tail_junk = encode_gif_bytes(idx, pal)
    # splice junk sub-blocks between the end-code block and the block
    # terminator: find the final 0x00 terminator and insert before it
    term = tail_junk.rindex(b"\x00\x3b")
    garbled = tail_junk[:term] + bytes([4, 0x12, 0x34, 0x56, 0x78]) + tail_junk[term:]
    df2 = spark.createDataFrame([(9, bytearray(garbled))], ["id", "data"])
    row = decode_gif(df2, "id", "data").collect()[0]
    assert row["status"] == "ok"
    assert np.array_equal(
        np.frombuffer(row["pixels"], dtype=np.uint8).reshape(6, 9, 3), pal[idx])


def test_jpeg_constant_blocks_decode_exact():
    # constant 8×8 blocks + uniform quant=8 → DC = 8·(v−128) divides the
    # quant exactly and every AC is 0, so the lossy pipeline is lossless
    # (the m6 oracle's premise)
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        _decode_jpeg_pixels,
        encode_jpeg_bytes,
    )

    for d, w, h in ((7, 37, 21), (0, 8, 8), (200, 63, 47)):
        bx, by = np.arange(w) // 8, np.arange(h) // 8
        img = ((3 * bx[None, :] + 5 * by[:, None] + d) % 256).astype(np.uint8)
        res = _decode_jpeg_pixels(encode_jpeg_bytes(img, quant=8))
        assert not isinstance(res, str), res
        W, H, C, px = res
        assert (W, H, C) == (w, h, 1)
        assert np.array_equal(np.frombuffer(px, dtype=np.uint8).reshape(h, w), img)


def test_jpeg_lossy_roundtrip_bounded_error():
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        _decode_jpeg_pixels,
        encode_jpeg_bytes,
    )

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, size=(40, 57), dtype=np.uint8)
    rgb = rng.integers(0, 256, size=(24, 31, 3), dtype=np.uint8)
    for img, kw in (
        (gray, dict(quant=4)),
        (gray, dict(quant=4, restart_interval=3)),  # DRI + RSTn path
        (rgb, dict(quant=2)),
        (rgb, dict(quant=2, restart_interval=1)),
    ):
        res = _decode_jpeg_pixels(encode_jpeg_bytes(img, **kw))
        assert not isinstance(res, str), res
        W, H, C, px = res
        out = np.frombuffer(px, dtype=np.uint8).reshape(
            (H, W) if C == 1 else (H, W, C)
        )
        err = np.abs(out.astype(int) - img.astype(int)).max()
        # quantization error bound: ~q/2 per coefficient through an
        # orthonormal IDCT stays within a few LSBs end to end
        assert err <= 2 * kw["quant"] + 2, (kw, err)
        # restart variant must decode IDENTICALLY to the plain stream
        if "restart_interval" in kw:
            base = _decode_jpeg_pixels(
                encode_jpeg_bytes(img, quant=kw["quant"])
            )
            assert base[3] == px


def test_jpeg_420_subsampling_smooth_image():
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        _decode_jpeg_pixels,
        encode_jpeg_bytes,
    )

    gx, gy = np.linspace(20, 200, 23), np.linspace(10, 40, 18)
    ramp = np.add.outer(gy, gx) / 2
    img = np.stack([ramp, ramp * 0.8, 255 - ramp], axis=-1).astype(np.uint8)
    res = _decode_jpeg_pixels(encode_jpeg_bytes(img, quant=2, subsampling="420"))
    assert not isinstance(res, str), res
    W, H, C, px = res
    assert (W, H, C) == (23, 18, 3)
    out = np.frombuffer(px, dtype=np.uint8).reshape(H, W, C)
    # chroma is 2×2-averaged + replicated back: smooth images stay close
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 8


def test_jpeg_error_statuses(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_bytes,
    )

    good = encode_jpeg_bytes(np.full((8, 8), 99, dtype=np.uint8))
    # a baseline stream with SOF0 flipped to SOF2 is NOT valid
    # progressive (its single scan claims the 0..63 band with Ss=0,
    # which a progressive DC scan forbids) — typed error, not a decode
    fake_prog = bytearray(good)
    sof = fake_prog.index(b"\xff\xc0")
    fake_prog[sof + 1] = 0xC2  # rewrite SOF0 → SOF2
    rows = [
        (1, bytearray(good)),
        (2, bytearray(b"\x00\x01not-a-jpeg")),
        (3, bytearray(good[: len(good) // 2])),  # truncated mid-scan
        (4, bytearray(fake_prog)),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, data binary")
    out = {r["id"]: r["status"] for r in decode_jpeg(df, "id", "data").collect()}
    assert out[1] == "ok"
    assert out[2] == "invalid"
    assert out[3] in ("truncated", "truncated-scan")
    assert out[4] == "bad-scan-band"
    assert out[5] == "empty"


def test_png_adam7_interlaced_roundtrip():
    """Adam7 decode: every pass unfiltered independently and scattered
    back must reproduce the image exactly (PNG is lossless), including
    shapes where some passes are empty (w or h < pass origin)."""
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        _decode_png_pixels,
        encode_png_bytes,
    )

    rng = np.random.default_rng(3)
    for shape in [(16, 16), (17, 9), (7, 5, 3), (1, 1), (3, 3, 4), (8, 1), (1, 9, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        res = _decode_png_pixels(encode_png_bytes(img, interlace=True))
        assert not isinstance(res, str), (shape, res)
        exp = img if img.ndim == 3 else img[:, :, None]
        w, h, ch, px = res
        assert (h, w, ch) == exp.shape
        assert np.array_equal(np.frombuffer(px, np.uint8).reshape(exp.shape), exp)


def test_progressive_jpeg_matches_baseline_exactly():
    """Progressive (SOF2) decode: spectral selection AND successive
    approximation (DC+AC refinement scans, EOB runs, correction bits)
    must reproduce the baseline pixels byte-for-byte — both encoders
    quantize identically, so a full progressive decode has the same
    coefficients."""
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        _decode_jpeg_pixels,
        encode_jpeg_bytes,
        encode_progressive_jpeg_bytes,
    )

    rng = np.random.default_rng(7)
    cases = [
        ((16, 24), "444"),   # gray, block-aligned
        ((17, 9), "444"),    # gray, ragged edges
        ((32, 16, 3), "444"),
        ((21, 19, 3), "420"),  # color, subsampled, ragged
        ((8, 8), "444"),
    ]
    for shape, sub in cases:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        base = _decode_jpeg_pixels(encode_jpeg_bytes(img, quant=8, subsampling=sub))
        assert not isinstance(base, str), base
        for successive in (False, True):
            prog = _decode_jpeg_pixels(
                encode_progressive_jpeg_bytes(
                    img, quant=8, subsampling=sub, successive=successive
                )
            )
            assert not isinstance(prog, str), (shape, sub, successive, prog)
            assert prog == base, (shape, sub, successive)


def test_progressive_jpeg_constant_blocks_exact(spark):
    """The m7 oracle shape: constant 8×8 blocks at uniform quant=8
    survive the full progressive pipeline bit-exactly, through the
    Spark operator."""
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        decode_jpeg,
        encode_progressive_jpeg_bytes,
    )

    rows = []
    for d in (3, 12):
        w, h = 24 + d, 17
        bx, by = np.arange(w) // 8, np.arange(h) // 8
        img = ((3 * bx[None, :] + 5 * by[:, None] + d) % 256).astype(np.uint8)
        rows.append((d, bytearray(encode_progressive_jpeg_bytes(img, quant=8)), img))
    df = spark.createDataFrame([(d, b) for d, b, _ in rows], "id long, data binary")
    out = {r["id"]: r for r in decode_jpeg(df, "id", "data").collect()}
    for d, _, img in rows:
        r = out[d]
        assert r["status"] == "ok"
        assert (r["width"], r["height"], r["channels"]) == (img.shape[1], img.shape[0], 1)
        got = np.frombuffer(r["pixels"], dtype=np.uint8).reshape(img.shape)
        assert np.array_equal(got, img)


def test_resize_png_nearest_real(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import encode_png_bytes, resize_png_nearest

    # 2x2 quadrant image upscaled 2x: each quadrant becomes a 2x2 block
    img = np.array([[[10], [20]], [[30], [40]]], dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_png_bytes(img))), (2, bytearray(b"nope"))], ["id", "data"]
    )
    out = {r["id"]: r for r in resize_png_nearest(df, "id", "data", 4, 4).collect()}
    got = np.frombuffer(out[1]["resized"], dtype=np.uint8).reshape(4, 4)
    expect = np.array(
        [[10, 10, 20, 20], [10, 10, 20, 20], [30, 30, 40, 40], [30, 30, 40, 40]],
        dtype=np.uint8,
    )
    assert np.array_equal(got, expect) and out[1]["n_bytes"] == 16
    assert out[2]["status"] == "invalid" and out[2]["resized"] is None


def test_frame_sample_fanout(spark):
    out = frame_sample(_payloads(spark), "id", "data", every_n=5).collect()
    by_id = {}
    for r in out:
        assert r["mode"] == "stub"  # none of these payloads is y4m
        by_id.setdefault(r["id"], []).append(r["frame_idx"])
    assert by_id[2] == [0, 5]  # 700//64 = 10 frames, sampled every 5
    assert by_id[1] == [0] and by_id[3] == [0]


def _y4m_bytes(w, h, frames):
    """Build an uncompressed YUV4MPEG2 stream (C420): one constant-Y
    frame per value in ``frames``, chroma fixed at 128."""
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode()
    out = head
    for v in frames:
        out += b"FRAME\n" + bytes([v]) * (w * h) + bytes([128]) * (w * h // 2)
    return out


def test_frame_sample_y4m_real(spark):
    y4m = _y4m_bytes(4, 2, frames=[9, 10, 11, 12, 13, 14, 15])
    df = spark.createDataFrame([(1, bytearray(y4m))], ["id", "data"])
    out = sorted(frame_sample(df, "id", "data", every_n=3).collect(),
                 key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in out] == [0, 3, 6]
    assert all(r["mode"] == "y4m" and r["width"] == 4 and r["height"] == 2 for r in out)
    # frame bytes are the REAL planar YUV: 8 Y bytes + 4 chroma bytes
    assert out[0]["frame"] == bytes([9]) * 8 + bytes([128]) * 4
    assert out[1]["frame"] == bytes([12]) * 8 + bytes([128]) * 4
    # truncated final frame (frame 6) is dropped, not an error
    trunc = spark.createDataFrame([(2, bytearray(y4m[:-3]))], ["id", "data"])
    got = frame_sample(trunc, "id", "data", every_n=6).collect()
    assert [r["frame_idx"] for r in got] == [0]


def test_byte_histogram_features_real(spark):
    from healthcare_api_spark.operators.multimodal import byte_histogram_features

    df = spark.createDataFrame(
        [(1, bytearray(bytes(range(256)))), (2, bytearray(b"\x00" * 50)), (3, None)],
        ["id", "data"],
    )
    out = {r["id"]: r["features"] for r in byte_histogram_features(df, "id", "data").collect()}
    assert len(out[1]) == 16 and abs(sum(out[1]) - 1.0) < 1e-9
    assert all(abs(x - 1 / 16) < 1e-9 for x in out[1])  # uniform bytes → uniform hist
    assert out[2][0] == 1.0 and sum(out[2][1:]) == 0.0  # all zeros → first bin
    assert out[3] == [0.0] * 16  # null payload → zero vector


def test_resize_stub_output_sizing(spark):
    from healthcare_api_spark.operators.multimodal import resize_image_stub

    df = spark.createDataFrame([(1, bytearray(b"abc")), (2, None)], ["id", "data"])
    out = {r["id"]: r for r in resize_image_stub(df, "id", "data", 8, 8).collect()}
    assert len(out[1]["resized"]) == 8 * 8 * 3 == out[1]["n_bytes"]
    assert bytes(out[1]["resized"][:6]) == b"abcabc"  # deterministic tiling
    assert len(out[2]["resized"]) == 8 * 8 * 3


def _wav_bytes(freq=440.0, rate=8000, seconds=0.5, amp=0.5, channels=1):
    """Synthesize a PCM16 WAV with stdlib wave — no codec library."""
    import io
    import math
    import struct
    import wave

    n = int(rate * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack("<" + "h" * channels,
                        *[int(amp * 32767 * math.sin(2 * math.pi * freq * i / rate))] * channels)
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def test_audio_features_real_pcm_wav(spark):
    # codec-free RIFF/PCM path: physics must check out — a sine of
    # amplitude A has rms A/sqrt(2) and zero-crossing rate 2f/rate
    import math

    wav = _wav_bytes(freq=440.0, rate=8000, seconds=0.5, amp=0.5)
    stereo = _wav_bytes(freq=200.0, rate=16000, seconds=0.25, amp=0.8, channels=2)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(stereo)), (3, bytearray(b"not audio")), (4, None)],
        "id long, data binary",
    )
    rows = {r["id"]: r for r in audio_features(df, "id", "data").collect()}
    r1 = rows[1]
    assert r1["codec"] == "pcm" and r1["sample_rate"] == 8000 and r1["channels"] == 1
    assert r1["bit_depth"] == 16 and r1["n_samples"] == 4000
    assert abs(r1["duration_sec"] - 0.5) < 1e-9
    assert abs(r1["rms"] - 0.5 / math.sqrt(2)) < 0.01
    assert abs(r1["zcr"] - 2 * 440.0 / 8000) < 0.01
    r2 = rows[2]
    assert r2["channels"] == 2 and r2["sample_rate"] == 16000 and r2["n_samples"] == 4000
    assert abs(r2["rms"] - 0.8 / math.sqrt(2)) < 0.01
    assert rows[3]["codec"] == "invalid" and rows[3]["rms"] is None
    assert rows[4]["codec"] == "empty" and rows[4]["sample_rate"] is None


def test_audio_features_unsupported_codec_captured_per_row(spark):
    # a WAV container with a non-PCM format tag (e.g. 85 = mp3) must not
    # fail the job — per-row error capture
    import struct

    body = struct.pack("<HHIIHH", 85, 2, 44100, 176400, 4, 16)
    wav = (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(body)) + body
           + b"data" + struct.pack("<I", 4) + b"\x00" * 4)
    df = spark.createDataFrame([(1, bytearray(wav))], "id long, data binary")
    row = audio_features(df, "id", "data").collect()[0]
    assert row["codec"] == "unsupported:85/16" and row["duration_sec"] is None


def test_audio_windowed_features_exact_integers(spark):
    # the VAD-window primitive must be EXACTLY the int64 math on the
    # raw samples: known waveform -> hand-computed windows, including
    # the short tail window, stereo first-channel pick, 8-bit
    # centering and per-row error capture
    import io
    import struct
    import wave

    from healthcare_api_spark.operators.multimodal import (
        audio_windowed_features,
    )

    mono = [100, -50, 0, -1, 30000, -30000, 7, 3, -3]  # 9 samples, win=4
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(2); w.setframerate(8000)
        w.writeframes(struct.pack("<9h", *mono))
    # stereo: first channel [10, -20], second channel junk
    sbuf = io.BytesIO()
    with wave.open(sbuf, "wb") as w:
        w.setnchannels(2); w.setsampwidth(2); w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 10, 999, -20, -999))
    # 8-bit PCM is unsigned: bytes [128, 130, 126] -> centered [0, 2, -2]
    bbuf = io.BytesIO()
    with wave.open(bbuf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(1); w.setframerate(8000)
        w.writeframes(bytes([128, 130, 126]))
    # 32-bit PCM: Σv² would overflow int64 → must be rejected per-row
    ibuf = io.BytesIO()
    with wave.open(ibuf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(4); w.setframerate(8000)
        w.writeframes(struct.pack("<2i", 2**30, -(2**30)))
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, bytearray(sbuf.getvalue())),
         (3, bytearray(bbuf.getvalue())), (4, bytearray(b"xx")), (5, None),
         (6, bytearray(ibuf.getvalue()))],
        "id long, data binary",
    )
    rows = [
        r.asDict()
        for r in audio_windowed_features(df, "id", "data", window_samples=4)
        .orderBy("id", "window_idx").collect()
    ]
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    w0, w1, w2 = by_id[1]
    # window [100,-50,0,-1]: sign pattern + - + - -> 3 crossings
    assert (w0["n"], w0["energy"], w0["zero_crossings"], w0["peak"]) == (
        4, 100 * 100 + 50 * 50 + 0 + 1, 3, 100)
    # window [30000,-30000,7,3]: crossings at 0-1 and 1-2
    assert (w1["n"], w1["energy"], w1["zero_crossings"], w1["peak"]) == (
        4, 2 * 30000 * 30000 + 49 + 9, 2, 30000)
    # tail window [-3]: one sample, no pairs
    assert (w2["n"], w2["energy"], w2["zero_crossings"], w2["peak"]) == (
        1, 9, 0, 3)
    (s0,) = by_id[2]  # stereo: [10, -20] only (channel 0)
    assert (s0["n"], s0["energy"], s0["zero_crossings"], s0["peak"]) == (
        2, 100 + 400, 1, 20)
    (b0,) = by_id[3]  # 8-bit centered: [0, 2, -2]; sign(0>=0)=+
    assert (b0["n"], b0["energy"], b0["zero_crossings"], b0["peak"]) == (
        3, 8, 1, 2)
    assert by_id[4][0]["codec"] == "invalid" and by_id[4][0]["energy"] is None
    assert by_id[5][0]["codec"] == "empty" and by_id[5][0]["n"] is None
    assert by_id[6][0]["codec"] == "unsupported:1/32" and by_id[6][0]["n"] is None


def test_tumbling_window_counts_batch(spark):
    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:05:00", "click"), (2, "2024-01-01 10:55:00", "click"),
         (3, "2024-01-01 11:05:00", "view")],
        ["event_id", "ts", "event_type"],
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {(str(r["window_start"]), r["event_type"]): r["cnt"]
           for r in tumbling_window_counts(ev, watermark=None).collect()}
    assert out[("2024-01-01 10:00:00", "click")] == 2
    assert out[("2024-01-01 11:00:00", "view")] == 1


def test_sessionize_batch(spark):
    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7), (2, "2024-01-01 10:10:00", 7),
         (3, "2024-01-01 12:00:00", 7), (4, "2024-01-01 10:00:00", 8)],
        ["event_id", "ts", "user_id"],
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = sessionize(ev).collect()
    u7 = sorted([r for r in rows if r["user_id"] == 7], key=lambda r: r["session_start"])
    assert [r["n_events"] for r in u7] == [2, 1]  # 2h gap splits the session
    assert len([r for r in rows if r["user_id"] == 8]) == 1


def test_tumbling_window_streaming_with_watermark(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"ts": "2024-01-01 10:05:00", "event_type": "click"}) + "\n"
        + json.dumps({"ts": "2024-01-01 10:45:00", "event_type": "click"}) + "\n"
    )
    stream = (
        spark.readStream.schema("ts string, event_type string").json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    win = tumbling_window_counts(stream, "ts", "1 hour", ("event_type",), watermark="2 hours")
    q = (
        win.writeStream.format("memory").queryName("win_out").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {(str(r["window_start"]), r["event_type"]): r["cnt"]
                for r in spark.table("win_out").collect()}
        assert rows[("2024-01-01 10:00:00", "click")] == 2
    finally:
        q.stop()


def test_streaming_upsert_foreachbatch(spark, tmp_path):
    """readStream over an NDJSON directory → merge-by-id into the store
    (the --enable-update-create semantics, README.md:29)."""
    src = tmp_path / "stream_src"
    src.mkdir()
    (src / "batch1.json").write_text(
        json.dumps({"id": "a", "v": 1}) + "\n" + json.dumps({"id": "b", "v": 1}) + "\n"
    )
    store = ResourceStore(spark, str(tmp_path / "store"))
    store.import_resources(
        spark.createDataFrame([("a", 0)], ["id", "v"]), "Patient"
    )
    stream = spark.readStream.schema("id string, v int").json(str(src))
    q = streaming_upsert(stream, store, "Patient", version_col="v",
                         checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["id"]: r["v"] for r in store.table("Patient").collect()}
    assert rows == {"a": 1, "b": 1}  # a upserted, b created


def test_bmp_decode_real(spark):
    import struct

    import numpy as np

    from healthcare_api_spark.operators.multimodal import decode_bmp

    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)  # RGB
    # build a bottom-up 24bpp BMP: BGR rows padded to 4 bytes
    stride = (5 * 3 + 3) & ~3
    body = b""
    for y in range(2, -1, -1):  # bottom-up
        row = img[y, :, ::-1].tobytes()
        body += row + b"\x00" * (stride - len(row))
    header = (
        b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 5, 3, 1, 24, 0, len(body), 0, 0, 0, 0)
    )
    bmp = header + body

    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(b"BM short"))], ["id", "data"]
    )
    out = {r["id"]: r for r in decode_bmp(df, "id", "data").collect()}
    assert out[1]["status"] == "ok" and (out[1]["width"], out[1]["height"]) == (5, 3)
    got = np.frombuffer(out[1]["pixels"], dtype=np.uint8).reshape(3, 5, 3)
    assert np.array_equal(got, img)
    assert out[2]["status"] in ("invalid", "truncated")


def test_png_palette_roundtrip_and_trns():
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        _decode_png_pixels,
        encode_png_palette,
    )

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (9, 13), dtype=np.uint8)
    w, h, ch, data = _decode_png_pixels(encode_png_palette(idx, pal))
    assert (w, h, ch) == (13, 9, 3)
    assert np.array_equal(
        np.frombuffer(data, dtype=np.uint8).reshape(9, 13, 3), pal[idx]
    )
    # tRNS: entry 0 transparent → RGBA output with per-pixel alpha
    w, h, ch, data = _decode_png_pixels(
        encode_png_palette(idx, pal, trns=[0] + [255] * 15)
    )
    assert ch == 4
    rgba = np.frombuffer(data, dtype=np.uint8).reshape(9, 13, 4)
    assert np.array_equal(rgba[..., :3], pal[idx])
    assert np.array_equal(rgba[..., 3], np.where(idx == 0, 0, 255))


def test_png_sub_byte_depths_gray_and_palette():
    import struct
    import zlib

    import numpy as np

    from healthcare_api_spark.operators.multimodal import _decode_png_pixels

    def make_png(depth, color_type, w, h, packed_rows, plte=None):
        def chunk(cid, body):
            return (struct.pack(">I", len(body)) + cid + body
                    + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF))

        ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
        raw = b"".join(b"\x00" + r for r in packed_rows)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    # depth 1 gray, 10 px wide: bits 1010101010 → bytes 0xAA, 0x80
    png = make_png(1, 0, 10, 2, [b"\xaa\x80", b"\xaa\x80"])
    w, h, ch, data = _decode_png_pixels(png)
    row = np.frombuffer(data, dtype=np.uint8).reshape(2, 10)[0]
    assert list(row) == [255, 0] * 5  # 1-bit scaled ×255, trimmed to w

    # depth 2 gray: samples 0,1,2,3 in one byte = 0b00011011
    png = make_png(2, 0, 4, 1, [bytes([0b00011011])])
    _, _, _, data = _decode_png_pixels(png)
    assert list(np.frombuffer(data, dtype=np.uint8)) == [0, 85, 170, 255]

    # depth 4 palette: samples 0..3, palette maps i → (i, 2i, 3i)
    plte = bytes(b for i in range(16) for b in (i, 2 * i, 3 * i))
    png = make_png(4, 3, 4, 1, [bytes([0x01, 0x23])], plte=plte)
    w, h, ch, data = _decode_png_pixels(png)
    px = np.frombuffer(data, dtype=np.uint8).reshape(1, 4, 3)
    assert [tuple(p) for p in px[0]] == [(0, 0, 0), (1, 2, 3), (2, 4, 6), (3, 6, 9)]


def test_png_palette_error_statuses():
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        _decode_png_pixels,
        encode_png_palette,
    )

    pal = np.zeros((4, 3), dtype=np.uint8)
    idx = np.full((2, 2), 9, dtype=np.uint8)  # out of palette range
    assert _decode_png_pixels(encode_png_palette(idx, pal)) == "palette-overflow"
    # ct3 without PLTE
    ok = encode_png_palette(np.zeros((2, 2), dtype=np.uint8), pal)
    import re

    no_plte = re.sub(b"PLTE", b"plXe", ok)  # corrupt the chunk id
    out = _decode_png_pixels(no_plte)
    assert isinstance(out, str)


def test_gif_multiframe_roundtrip(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif_frames,
    )

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    frames = [rng.integers(0, 8, (5, 7), dtype=np.uint8) for _ in range(3)]
    gif = encode_gif_frames(frames, pal)
    df = spark.createDataFrame([(1, bytearray(gif)), (2, bytearray(b"nope"))],
                               ["id", "data"])
    out = decode_gif_frames(df, "id", "data").collect()
    ok = [r for r in out if r["id"] == 1]
    assert [r["frame_idx"] for r in sorted(ok, key=lambda r: r["frame_idx"])] == [0, 1, 2]
    for r in ok:
        assert (r["width"], r["height"]) == (7, 5)
        got = np.frombuffer(r["pixels"], dtype=np.uint8).reshape(5, 7, 3)
        assert np.array_equal(got, pal[frames[r["frame_idx"]]])
    bad = [r for r in out if r["id"] == 2]
    assert len(bad) == 1 and bad[0]["status"] == "invalid"


def test_gif_multiframe_max_frames_cap(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif_frames,
    )

    pal = np.zeros((4, 3), dtype=np.uint8)
    frames = [np.zeros((2, 2), dtype=np.uint8)] * 5
    df = spark.createDataFrame([(1, bytearray(encode_gif_frames(frames, pal)))],
                               ["id", "data"])
    out = decode_gif_frames(df, "id", "data", max_frames=2).collect()
    assert len(out) == 2


def test_png_interlaced_palette_roundtrip():
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        _decode_png_pixels,
        encode_png_palette,
    )

    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (11, 9), dtype=np.uint8)
    w, h, ch, data = _decode_png_pixels(encode_png_palette(idx, pal, interlace=True))
    assert (w, h, ch) == (9, 11, 3)
    assert np.array_equal(
        np.frombuffer(data, dtype=np.uint8).reshape(11, 9, 3), pal[idx]
    )
    # with tRNS too
    w, h, ch, data = _decode_png_pixels(
        encode_png_palette(idx, pal, trns=[0] + [255] * 15, interlace=True)
    )
    assert ch == 4


def test_gif_disposal_compositing(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        composite_gif_frames,
        encode_gif_frames,
    )

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    # frame0: full 4x4 of color 1; frame1: 2x2 patch of color 2 at (1,1)
    # with disposal 2 (restore background=0 after); frame2: 1x1 color 3
    f0 = np.full((4, 4), 1, np.uint8)
    f1 = np.full((2, 2), 2, np.uint8)
    f2 = np.full((1, 1), 3, np.uint8)
    gif = encode_gif_frames(
        [f0, f1, f2], pal,
        offsets=[(0, 0), (1, 1), (0, 0)],
        disposals=[0, 2, 0],
        screen=(4, 4),
    )
    sw, sh, states = composite_gif_frames(gif)
    assert (sw, sh) == (4, 4) and len(states) == 3
    s0 = np.frombuffer(states[0], np.uint8).reshape(4, 4, 3)
    assert (s0 == pal[1]).all()
    s1 = np.frombuffer(states[1], np.uint8).reshape(4, 4, 3)
    assert (s1[1:3, 1:3] == pal[2]).all() and (s1[0, 0] == pal[1]).all()
    # disposal 2 restored the patch region to BACKGROUND (index 0 = black)
    s2 = np.frombuffer(states[2], np.uint8).reshape(4, 4, 3)
    assert (s2[1:3, 1:3] == pal[0]).all()      # restored
    assert (s2[0, 0] == pal[3]).all()          # frame2's own pixel
    assert (s2[3, 3] == pal[1]).all()          # untouched canvas


def test_gif_transparency_leaves_canvas(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        composite_gif_frames,
        encode_gif_frames,
    )

    pal = np.array([[9, 9, 9], [255, 0, 0], [0, 255, 0], [7, 7, 7]], np.uint8)
    f0 = np.full((2, 2), 1, np.uint8)
    f1 = np.array([[2, 3], [3, 2]], np.uint8)  # 3 = transparent index
    gif = encode_gif_frames([f0, f1], pal, transparent=3, screen=(2, 2))
    _, _, states = composite_gif_frames(gif)
    s1 = np.frombuffer(states[1], np.uint8).reshape(2, 2, 3)
    assert (s1[0, 0] == pal[2]).all() and (s1[1, 1] == pal[2]).all()
    # transparent pixels keep frame0's red underneath
    assert (s1[0, 1] == pal[1]).all() and (s1[1, 0] == pal[1]).all()


def test_gif_disposal_restore_previous(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        composite_gif_frames,
        encode_gif_frames,
    )

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    f0 = np.full((2, 2), 1, np.uint8)
    f1 = np.full((2, 2), 2, np.uint8)   # disposal 3: undo after showing
    f2 = np.full((1, 1), 3, np.uint8)
    gif = encode_gif_frames(
        [f0, f1, f2], pal, disposals=[0, 3, 0], screen=(2, 2)
    )
    _, _, states = composite_gif_frames(gif)
    s2 = np.frombuffer(states[2], np.uint8).reshape(2, 2, 3)
    # frame1 fully undone; frame2 paints one pixel over frame0's state
    assert (s2[0, 0] == pal[3]).all()
    assert (s2[0, 1] == pal[1]).all() and (s2[1, 1] == pal[1]).all()


def test_scene_cuts_y4m_and_unsupported(spark):
    from healthcare_api_spark.operators.multimodal import scene_cuts

    w, h = 4, 2
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode()

    def frame(luma):
        return b"FRAME\n" + bytes([luma]) * (w * h) + bytes([128]) * (w * h // 2)

    # lumas 50, 52, 140, 141 → diffs 2, 88, 1 → one cut at idx 2
    vid = head + frame(50) + frame(52) + frame(140) + frame(141)
    df = spark.createDataFrame([(1, bytearray(vid)), (2, bytearray(b"mp4x" * 8))],
                               "doc_id long, data binary")
    rows = scene_cuts(df, "doc_id", "data", threshold=24.0).collect()
    y4m = sorted(
        [(r["frame_idx"], r["mad"], r["is_cut"]) for r in rows if r["id"] == 1]
    )
    assert y4m == [(1, 2.0, 0), (2, 88.0, 1), (3, 1.0, 0)]
    other = [r for r in rows if r["id"] == 2]
    assert len(other) == 1 and other[0]["mode"] == "unsupported"


def test_image_ahash_identical_and_inverted(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        encode_png_bytes,
        image_ahash,
    )

    grad = (np.arange(64).reshape(8, 8) * 4).astype(np.uint8)
    rows = [
        (1, bytearray(encode_png_bytes(grad))),
        (2, bytearray(encode_png_bytes(grad))),          # exact visual dup
        (3, bytearray(encode_png_bytes(255 - grad))),     # inverted
        (4, bytearray(b"not a png")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, data binary")
    out = {r["id"]: r for r in image_ahash(df, "doc_id", "data").collect()}
    assert out[1]["ahash"] == out[2]["ahash"] and out[1]["status"] == "ok"
    # inverted image flips every bit → bitwise complement of the hash
    a, inv = int(out[1]["ahash"], 16), int(out[3]["ahash"], 16)
    assert a ^ inv == (1 << 64) - 1
    assert out[4]["status"] != "ok" and out[4]["ahash"] is None


def test_image_ahash_block_mean_downsample(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        encode_png_bytes,
        image_ahash,
    )

    # 16×16 built by 2×2-upsampling an 8×8 pattern → same hash as the 8×8
    base = ((np.arange(64).reshape(8, 8) * 37) % 251).astype(np.uint8)
    up = np.kron(base, np.ones((2, 2), dtype=np.uint8))
    df = spark.createDataFrame(
        [(1, bytearray(encode_png_bytes(base))), (2, bytearray(encode_png_bytes(up)))],
        "doc_id long, data binary",
    )
    out = {r["id"]: r["ahash"] for r in image_ahash(df, "doc_id", "data").collect()}
    assert out[1] == out[2]


def test_scene_cuts_short_videos_emit_marker(spark):
    # ADVICE r5: a VALID 0- or 1-frame Y4M must be distinguishable from
    # a dropped input — one 'y4m_short' marker row, frame_idx = frame
    # count, NULL mad/is_cut
    from healthcare_api_spark.operators.multimodal import scene_cuts

    w, h = 4, 2
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode()

    def frame(luma):
        return b"FRAME\n" + bytes([luma]) * (w * h) + bytes([128]) * (w * h // 2)

    df = spark.createDataFrame(
        [
            (0, bytearray(head)),                       # 0 frames
            (1, bytearray(head + frame(50))),           # 1 frame
            (2, bytearray(head + frame(50) + frame(60))),  # 1 transition
        ],
        "doc_id long, data binary",
    )
    rows = scene_cuts(df, "doc_id", "data").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    assert len(by_id[0]) == 1 and by_id[0][0]["mode"] == "y4m_short"
    assert by_id[0][0]["frame_idx"] == 0 and by_id[0][0]["mad"] is None
    assert len(by_id[1]) == 1 and by_id[1][0]["mode"] == "y4m_short"
    assert by_id[1][0]["frame_idx"] == 1 and by_id[1][0]["is_cut"] is None
    assert len(by_id[2]) == 1 and by_id[2][0]["mode"] == "y4m"


def test_image_ahash_rejects_unpackable_hash_size(spark):
    # ADVICE r5: hash_size² bits must fill whole bytes or the hex string
    # is longer than the documented hash_size²/4 chars
    import pytest as _pytest

    from healthcare_api_spark.operators.multimodal import image_ahash

    df = spark.createDataFrame([(1, bytearray(b""))], "doc_id long, data binary")
    for bad in (2, 6, 3, 0):
        with _pytest.raises(ValueError, match="multiple of 4"):
            image_ahash(df, "doc_id", "data", hash_size=bad)


def test_streaming_neardup_cross_and_within_batch(spark, tmp_path):
    """st5 machinery on a hand-built corpus: within-batch min-id wins;
    a later-batch doc loses to an earlier-batch owner EVEN with a
    smaller id (lexicographic (batch, id) ownership); distinct docs
    pass (r7)."""
    from healthcare_api_spark.streaming.neardup import streaming_neardup

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    t_dup = "the quick brown fox jumps over the lazy dog again and again"
    t_other = "completely different content about spark shuffle partitions"
    batch1 = [(10, t_dup), (20, t_dup), (30, t_other)]
    batch2 = [(5, t_dup), (40, t_other)]
    spark.createDataFrame(batch1, ["doc_id", "text"]).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = streaming_neardup(
        stream, state, "doc_id", "text", num_hashes=4, rows_per_band=2,
        checkpoint=ckpt,
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, ["doc_id", "text"]).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: r["admitted"]
        for r in spark.read.parquet(f"{state}/verdicts").collect()
    }
    # batch 1: 10 wins the dup bucket (min id), 20 loses, 30 distinct
    assert got[10] == 1 and got[20] == 0 and got[30] == 1
    # batch 2: 5 shares the dup bucket with batch-1 owner 10 — DROPPED
    # despite the smaller id (cross-batch state path); 40 shares with
    # batch-1 doc 30 — also dropped
    assert got[5] == 0 and got[40] == 0
    assert len(got) == 5


def test_image_patches_hand_computed(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        encode_png_bytes,
        image_patches,
    )

    # 8x8 grayscale ramp 0..63, P=4 -> 4 patches
    arr = np.arange(64, dtype=np.uint8).reshape(8, 8, 1)
    df = spark.createDataFrame([(1, bytearray(encode_png_bytes(arr)))], ["id", "data"])
    got = {
        (r["patch_row"], r["patch_col"]): r
        for r in image_patches(df, "id", "data", patch=4).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    for (py, px), r in got.items():
        tile = arr[py * 4:(py + 1) * 4, px * 4:(px + 1) * 4, :]
        assert r["px_sum"] == int(tile.sum())
        assert r["px_min"] == int(tile.min())
        assert r["px_max"] == int(tile.max())
        assert bytes(r["patch"]) == tile.tobytes()
        assert r["channels"] == 1 and r["status"] == "ok"


def test_image_patches_edges_dropped_and_errors(spark):
    import numpy as np
    import pytest

    from healthcare_api_spark.operators.multimodal import (
        encode_png_bytes,
        image_patches,
    )

    # 10x6 RGB, P=4 -> only a 2-wide x 1-tall full-patch grid
    arr = np.zeros((6, 10, 3), dtype=np.uint8)
    ok = bytearray(encode_png_bytes(arr))
    df = spark.createDataFrame(
        [(1, ok), (2, bytearray(b"notapng")), (3, bytearray(b""))],
        ["id", "data"],
    )
    rows = image_patches(df, "id", "data", patch=4).collect()
    ok_rows = [r for r in rows if r["status"] == "ok"]
    assert {(r["patch_row"], r["patch_col"]) for r in ok_rows} == {(0, 0), (0, 1)}
    by_status = {r["id"]: r["status"] for r in rows if r["status"] != "ok"}
    assert by_status[2] != "ok" and by_status[3] == "empty"
    # 3x3 image smaller than one patch -> zero rows, silently
    tiny = spark.createDataFrame(
        [(9, bytearray(encode_png_bytes(np.zeros((3, 3, 1), dtype=np.uint8))))],
        ["id", "data"],
    )
    assert image_patches(tiny, "id", "data", patch=4).count() == 0
    with pytest.raises(ValueError):
        image_patches(df, "id", "data", patch=0)


def test_select_keyframes_hand_computed(spark):
    from healthcare_api_spark.operators.multimodal import select_keyframes

    # 8 frames, cuts entering frames 3 and 6 -> shots [0-2][3-5][6-7]
    rows = [
        (1, i, 1.0 if i in (3, 6) else 0.5, 1 if i in (3, 6) else 0, "y4m")
        for i in range(1, 8)
    ]
    # a 1-frame video marker and an unsupported container
    rows += [(2, 1, None, None, "y4m_short"), (3, -1, None, None, "unsupported")]
    cuts = spark.createDataFrame(
        rows, "id long, frame_idx int, mad double, is_cut int, mode string"
    )
    got = {
        (r["id"], r["shot_id"]): (
            r["start_idx"], r["end_idx"], r["n_frames"], r["keyframe_idx"]
        )
        for r in select_keyframes(cuts).collect()
    }
    assert got == {
        (1, 0): (0, 2, 3, 1),
        (1, 1): (3, 5, 3, 4),
        (1, 2): (6, 7, 2, 6),
        (2, 0): (0, 0, 1, 0),   # the y4m_short single-frame shot
    }


def test_patch_vote_pairs_finds_aligned_crop(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        encode_png_bytes,
        image_ahash,
        image_patches,
        patch_vote_pairs,
    )

    # nonlinear field x*y%251: original 32x32, crop at (8,8) 16x16,
    # plus an unrelated image
    v = ((np.outer(np.arange(32), np.arange(32))) % 251).astype(np.uint8)
    u = ((np.outer(np.arange(32), np.arange(32)) * 7 + 3) % 249).astype(np.uint8)
    rows = [
        (1, bytearray(encode_png_bytes(v[:, :, None]))),
        (2, bytearray(encode_png_bytes(v[8:24, 8:24][:, :, None]))),
        (3, bytearray(encode_png_bytes(u[:, :, None]))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, data binary")
    patches = image_patches(df, "doc_id", "data", patch=8)
    got = {
        (r["id_a"], r["id_b"]): r["votes"]
        for r in patch_vote_pairs(
            patches, "id", "patch", min_votes=2, max_df=5
        ).collect()
    }
    # the 16x16 crop contributes 4 patches, all shared with image 1
    assert got == {(1, 2): 4}
    # the whole-image hash misses the crop: ahashes differ
    hashes = {
        r["id"]: r["ahash"]
        for r in image_ahash(df, "doc_id", "data", hash_size=8).collect()
    }
    assert hashes[1] != hashes[2]


def test_patch_vote_pairs_max_df_prunes_boilerplate(spark):
    import numpy as np

    from healthcare_api_spark.operators.multimodal import (
        encode_png_bytes,
        image_patches,
        patch_vote_pairs,
    )

    # five images sharing one constant (boilerplate) patch block plus
    # unique content: with max_df=3 the shared hash is dropped and no
    # pair survives; with max_df=10 every pair votes once (min_votes=1)
    rows = []
    for d in range(5):
        arr = ((np.outer(np.arange(16), np.arange(16)) * (d + 2)) % 255).astype(
            np.uint8
        )
        arr[:8, :8] = 7  # the shared solid patch
        rows.append((d, bytearray(encode_png_bytes(arr[:, :, None]))))
    df = spark.createDataFrame(rows, "doc_id long, data binary")
    patches = image_patches(df, "doc_id", "data", patch=8)
    pruned = patch_vote_pairs(patches, "id", "patch", min_votes=1, max_df=3)
    assert pruned.count() == 0
    kept = patch_vote_pairs(patches, "id", "patch", min_votes=1, max_df=10)
    assert kept.count() == 10  # C(5,2), one boilerplate vote each


def test_patch_vote_pairs_validation(spark):
    import pytest

    from healthcare_api_spark.operators.multimodal import patch_vote_pairs

    df = spark.createDataFrame(
        [(1, "ok", bytearray(b"x"))], "id long, status string, patch binary"
    )
    with pytest.raises(ValueError):
        patch_vote_pairs(df, "id", "patch", min_votes=0)
    with pytest.raises(ValueError):
        patch_vote_pairs(df, "id", "patch", min_votes=1, max_df=1)
