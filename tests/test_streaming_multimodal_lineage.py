"""Streaming, multimodal plumbing, and the resumable lineage ledger."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


# --- streaming ---------------------------------------------------------------

@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    from spikex_spark import synth
    from spikex_spark.streaming.stream import PAGES_SCHEMA

    d = tmp_path_factory.mktemp("pages_stream")
    df = spark.createDataFrame(synth.gen_pages(60), schema=PAGES_SCHEMA)
    df.repartition(3).write.mode("overwrite").parquet(str(d / "pages"))
    return str(d / "pages")


def test_windowed_counts_match_batch(spark, pages_dir):
    from spikex_spark.streaming.stream import (
        run_to_memory,
        stream_pages,
        windowed_mention_counts,
    )

    stream = stream_pages(spark, pages_dir)
    assert stream.isStreaming
    # complete mode: append would only emit windows already past the
    # watermark, and a single availableNow drain never closes the last ones
    got = run_to_memory(
        windowed_mention_counts(stream, window="1 hour"), "win_counts",
        mode="complete",
    )
    batch = (
        spark.read.parquet(pages_dir)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages")
    )
    g = {(r["window_start"], r["lang"]): r["n_pages"] for r in got.collect()}
    b = {(r["window_start"], r["lang"]): r["n_pages"] for r in batch.collect()}
    assert g == b and len(g) > 0


def test_streaming_dedup_first_wins(spark, pages_dir):
    from spikex_spark.streaming.stream import (
        run_to_memory,
        stream_pages,
        streaming_dedup,
    )

    stream = stream_pages(spark, pages_dir)
    got = run_to_memory(streaming_dedup(stream), "dedup_stream")
    n_distinct = (
        spark.read.parquet(pages_dir).select(F.md5("text")).distinct().count()
    )
    assert got.count() == n_distinct


# --- multimodal --------------------------------------------------------------

@pytest.fixture(scope="module")
def media_df(spark):
    from spikex_spark.multimodal import MEDIA_SCHEMA, gen_media

    return spark.createDataFrame(gen_media(21), schema=MEDIA_SCHEMA).cache()


def test_decode_features_shape_and_determinism(spark, media_df):
    from spikex_spark.multimodal import (
        _fake_features,
        decode_features,
        decode_image,
        image_features,
    )

    rows = decode_features(media_df).collect()
    assert len(rows) == 21
    assert all(len(r["features"]) == 16 for r in rows)
    got = dict((r["media_id"], r["features"]) for r in rows)
    # media_id 0 is an image with a real PPM payload -> REAL decoded features
    img_payload = media_df.where("media_id = 0").collect()[0]["payload"]
    assert got[0] == pytest.approx(
        image_features(decode_image(bytes(img_payload))), abs=1e-6)
    # media_id 1 is audio with a real WAV payload -> REAL decoded features
    from spikex_spark.multimodal import audio_features, decode_audio
    au_payload = media_df.where("media_id = 1").collect()[0]["payload"]
    assert got[1] == pytest.approx(
        audio_features(*decode_audio(bytes(au_payload))), abs=1e-6)
    # media_id 2 is video (opaque mp4 blob) -> deterministic fake path
    vid_payload = media_df.where("media_id = 2").collect()[0]["payload"]
    assert got[2] == pytest.approx(_fake_features(bytes(vid_payload)), abs=1e-6)


def test_resize_and_frame_sampling(spark, media_df):
    import numpy as np

    from spikex_spark.multimodal import (
        _resize_nearest,
        decode_image,
        resize_images,
        sample_frames,
    )

    resized = resize_images(media_df.where("kind = 'image'"), 32, 32).collect()
    originals = {r["media_id"]: bytes(r["payload"])
                 for r in media_df.where("kind = 'image'").collect()}
    assert len(resized) > 0
    for r in resized:
        # REAL resize: output is a decodable 32x32 image whose pixels are
        # the nearest-neighbor resample of the original (JPEG rows re-encode
        # lossily — close, not byte-equal)
        out = decode_image(bytes(r["resized"]))
        assert out.shape == (32, 32, 3)
        expect = _resize_nearest(decode_image(originals[r["media_id"]]), 32, 32)
        if originals[r["media_id"]][:3] == b"\xff\xd8\xff":
            assert np.abs(out.astype(int) - expect.astype(int)).mean() < 10
        else:
            assert np.array_equal(out, expect)

    frames = sample_frames(media_df.where("kind = 'video'"), every_ms=1000)
    per_media = {}
    for r in frames.collect():
        per_media.setdefault(r["media_id"], []).append(r["ts_ms"])
    durations = {r["media_id"]: r["duration_ms"]
                 for r in media_df.where("kind = 'video'").collect()}
    for mid, ts_list in per_media.items():
        assert len(ts_list) == durations[mid] // 1000
        assert sorted(ts_list) == [i * 1000 for i in range(len(ts_list))]


def test_decode_stub_raises_without_fake(spark, media_df, monkeypatch):
    import os

    from spikex_spark.multimodal import decode_features

    monkeypatch.setitem(os.environ, "SPIKEX_SPARK_FAKE_DECODE", "0")
    # PPM images decode for REAL — no env flag required
    imgs = decode_features(media_df.where("kind = 'image'")).collect()
    assert len(imgs) > 0 and all(len(r["features"]) == 16 for r in imgs)
    # WAV audio decodes for REAL too
    auds = decode_features(media_df.where("kind = 'audio'")).collect()
    assert len(auds) > 0 and all(len(r["features"]) == 16 for r in auds)
    # codec formats with no pure-Python decoder (mp4 video) still raise
    df = decode_features(media_df.where("kind = 'video'"))
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        df.collect()


def test_ppm_bmp_codecs_roundtrip():
    import struct

    import numpy as np

    from spikex_spark.multimodal import decode_image, encode_ppm

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    # P6 round-trip
    assert np.array_equal(decode_image(encode_ppm(img)), img)
    # P3 (ascii, with a comment) decodes to the same pixels
    p3 = b"P3\n# comment\n3 2\n255\n" + b" ".join(
        str(v).encode() for v in img.flatten()) + b"\n"
    assert np.array_equal(decode_image(p3), img)
    # 24-bit BMP: bottom-up rows, BGR order, 4-byte row padding
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    pix = b""
    for y in range(h - 1, -1, -1):                 # bottom-up
        row = img[y][..., ::-1].tobytes()          # BGR
        pix += row + b"\x00" * (stride - len(row))
    bmp = (b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                         2835, 2835, 0, 0) + pix)
    assert np.array_equal(decode_image(bmp), img)
    # unknown formats -> None (the stub/fake fallthrough)
    assert decode_image(b"II*\x00 tiff-ish bytes") is None


def test_png_codec_against_hand_built_spec_images():
    """Validate the stdlib PNG decoder against PNGs built BY HAND per spec
    (forward-filtered with independently-written filter code), covering all
    five scanline filters, color types 0/2/3/6, bit depths 1/4/8/16, Adam7
    interlace, and CRC verification — independent of encode_png."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pt

    from spikex_spark.multimodal import (
        decode_image,
        decode_png,
        detect_image_format,
        encode_bmp,
        encode_p3,
        encode_png,
    )

    SIG = b"\x89PNG\r\n\x1a\n"

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    def png(w, h, depth, color, scanlines, plte=None, interlace=0):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        out = SIG + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte.tobytes())
        return out + chunk(b"IDAT", zlib.compress(scanlines)) + chunk(b"IEND", b"")

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (23, 17, 3), dtype=np.uint8)

    # encode_png round-trip + sniffing
    assert np.array_equal(decode_png(encode_png(img)), img)
    assert detect_image_format(encode_png(img)) == "png"

    # hand-applied forward filters (spec formulas, written independently of
    # the decoder's unfilter loop)
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    def forward(img, ftypes):
        h, w, _ = img.shape
        body = img.reshape(h, w * 3).astype(np.int32)
        out, prev = bytearray(), np.zeros(w * 3, dtype=np.int32)
        for y in range(h):
            f = ftypes[y % len(ftypes)]
            row = body[y]
            enc = np.zeros(w * 3, dtype=np.int32)
            for i in range(w * 3):
                a = row[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2,
                        4: paeth(a, b, c)}[f]
                enc[i] = (row[i] - pred) & 0xFF
            out.append(f)
            out += bytes(enc.astype(np.uint8))
            prev = row
        return bytes(out)

    for ftypes in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = decode_png(png(17, 23, 8, 2, forward(img, ftypes)))
        assert np.array_equal(got, img), f"filter set {ftypes}"

    # RGBA: alpha dropped
    rgba = np.dstack([img, rng.randint(0, 256, (23, 17), dtype=np.uint8)])
    scan = b"".join(b"\x00" + rgba[y].tobytes() for y in range(23))
    assert np.array_equal(decode_png(png(17, 23, 8, 6, scan)), img)

    # grayscale 1-bit -> replicated 0/255 channels
    gb = rng.randint(0, 2, (5, 10)).astype(np.uint8)
    packed = np.packbits(gb, axis=1)
    scan = b"".join(b"\x00" + packed[y].tobytes() for y in range(5))
    got = decode_png(png(10, 5, 1, 0, scan))
    assert np.array_equal(got, np.repeat((gb * 255)[..., None], 3, axis=2))

    # palette 4-bit
    pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, (7, 9), dtype=np.uint8)
    hi = idx[:, ::2] << 4
    lo = np.zeros_like(hi)
    lo[:, : idx[:, 1::2].shape[1]] = idx[:, 1::2]
    scan = b"".join(b"\x00" + (hi | lo).astype(np.uint8)[y].tobytes()
                    for y in range(7))
    assert np.array_equal(decode_png(png(9, 7, 4, 3, scan, plte=pal)),
                          pal[idx])

    # 16-bit RGB: high byte
    img16 = rng.randint(0, 65536, (6, 4, 3)).astype(">u2")
    scan = b"".join(b"\x00" + img16[y].tobytes() for y in range(6))
    assert np.array_equal(decode_png(png(4, 6, 16, 2, scan)),
                          (img16 >> 8).astype(np.uint8))

    # Adam7: per-pass sub-images scattered on the 8x8 grid
    adam7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    big = rng.randint(0, 256, (13, 19, 3), dtype=np.uint8)
    parts = []
    for x0, y0, dx, dy in adam7:
        sub = big[y0::dy, x0::dx]
        if sub.size:
            parts += [b"\x00" + sub[y].tobytes() for y in range(sub.shape[0])]
    got = decode_png(png(19, 13, 8, 2, b"".join(parts), interlace=1))
    assert np.array_equal(got, big)

    # corrupt chunk CRC must raise, not return garbage
    bad = bytearray(encode_png(img))
    bad[-5] ^= 0xFF
    with _pt.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))

    # BMP / P3 encoders round-trip through the generic decoder
    assert np.array_equal(decode_image(encode_bmp(img)), img)
    assert np.array_equal(decode_image(encode_p3(img)), img)


def test_jpeg_codec_baseline():
    """Baseline JPEG codec: encoder→decoder round-trip properties that are
    analytically known (uniform image DC-only exactness), a hand-built
    grayscale scan with restart markers decoded independently of the
    encoder's MCU loop, and dispatch/edge cases."""
    import struct

    import numpy as np
    import pytest as _pt

    from spikex_spark.jpeg import (
        _AC_LUMA,
        _DC_LUMA,
        _BitWriter,
        _encode_codes,
        decode_jpeg,
        encode_jpeg,
    )
    from spikex_spark.multimodal import decode_image, detect_image_format

    # uniform color image: every block is DC-only; with the Annex-K table
    # scaled to q90 the DC quantizer divides 8*(v-128) exactly for v=130
    # (8*2/3 rounds to 5, 5*3/8 rounds back to 2) — near-exact round-trip
    img = np.full((24, 40, 3), 130, dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert dec.shape == (24, 40, 3)
    assert np.abs(dec.astype(int) - 130).max() <= 1

    # gradient round-trip: lossy but tight at q95 (4:4:4)
    y, x = np.mgrid[0:48, 0:64]
    grad = np.stack([40 + 2 * x, 60 + y, 30 + x + y], -1).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(grad, quality=95))
    assert np.abs(dec.astype(int) - grad.astype(int)).max() <= 4

    # 4:2:0 subsampling + odd dimensions: chroma-smooth image stays tight
    odd = grad[:45, :61]
    dec = decode_jpeg(encode_jpeg(odd, quality=95, subsample=True))
    assert dec.shape == odd.shape
    assert np.abs(dec.astype(int) - odd.astype(int)).max() <= 6

    # multi-MCU 4:2:0 block placement: quadrant colors land in the right
    # quadrants (catches MCU raster-order mistakes encoder OR decoder side)
    quad = np.zeros((32, 32, 3), np.uint8)
    quad[:16, :16], quad[:16, 16:] = (200, 30, 30), (30, 200, 30)
    quad[16:, :16], quad[16:, 16:] = (30, 30, 200), (220, 220, 40)
    dec = decode_jpeg(encode_jpeg(quad, quality=95, subsample=True))
    for sy, sx in ((4, 4), (4, 24), (24, 4), (24, 24)):
        assert np.abs(dec[sy, sx].astype(int)
                      - quad[sy, sx].astype(int)).max() <= 2

    # hand-built GRAYSCALE scan with DRI/RST: three uniform 8x8 MCUs whose
    # DC predictors reset at each restart. Flat quant table 16 makes the
    # decoded value analytic: v = 2*round(8*(v0-128)/16) + 128 = v0 exactly
    # for v0 ∈ {60, 150, 200}.
    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dc_codes = _encode_codes(*_DC_LUMA)
    ac_codes = _encode_codes(*_AC_LUMA)
    chunks = []
    for v0 in (60, 150, 200):
        wtr = _BitWriter()
        diff = round(8 * (v0 - 128) / 16)      # DC after predictor reset
        s = int(abs(diff)).bit_length()
        code, length = dc_codes[s]
        wtr.write(code, length)
        wtr.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        code, length = ac_codes[0x00]          # EOB: all AC zero
        wtr.write(code, length)
        chunks.append(wtr.flush())
    scan = (chunks[0] + b"\xff\xd0" + chunks[1] + b"\xff\xd1" + chunks[2])
    gray = (b"\xff\xd8"
            + seg(0xDB, bytes([0]) + bytes([16] * 64))
            + seg(0xC0, struct.pack(">BHHB", 8, 8, 24, 1) + bytes([1, 0x11, 0]))
            + seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0]) + bytes(_DC_LUMA[1]))
            + seg(0xC4, bytes([0x10]) + bytes(_AC_LUMA[0]) + bytes(_AC_LUMA[1]))
            + seg(0xDD, struct.pack(">H", 1))
            + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + scan + b"\xff\xd9")
    dec = decode_jpeg(gray)
    assert dec.shape == (8, 24, 3)
    for mcu, v0 in enumerate((60, 150, 200)):
        block = dec[:, mcu * 8:(mcu + 1) * 8]
        assert np.abs(block.astype(int) - v0).max() <= 1
        assert np.array_equal(block[..., 0], block[..., 1])  # gray replicated

    # dispatch: decode_image routes both sequential and progressive JPEG
    assert detect_image_format(encode_jpeg(img)) == "jpeg"
    assert np.abs(decode_image(encode_jpeg(img)).astype(int) - 130).max() <= 1
    progressive = encode_jpeg(img, quality=90, progressive=True)
    assert b"\xff\xc2" in progressive[:256]    # SOF2 frame header
    assert np.array_equal(decode_image(progressive), decode_jpeg(progressive))
    # a progressive frame with no scan data is corrupt, not "unsupported"
    with _pt.raises(ValueError):
        decode_jpeg(b"\xff\xd8"
                    + seg(0xC2, struct.pack(">BHHB", 8, 8, 8, 1)
                          + bytes([1, 0x11, 0])) + b"\xff\xd9")

    # corrupt entropy data raises (known format, bad bytes)
    good = bytearray(encode_jpeg(img, quality=90))
    with _pt.raises(ValueError):
        decode_jpeg(bytes(good[:40]))          # truncated mid-headers


def test_jpeg_codec_progressive():
    """Progressive (SOF2) JPEG: both encoder modes quantize IDENTICAL
    coefficients, so a full progressive decode must be pixel-identical to
    the baseline decode of the same image — across image kinds that
    exercise every scan type (EOB runs on flat blocks, ZRL + successive
    approximation on noise, spectral band splits on gradients, 4:2:0 and
    odd dims). Plus a hand-built single-component DC-only progression
    with restart markers, decoded independently of the encoder."""
    import struct

    import numpy as np

    from spikex_spark.jpeg import (
        _DC_LUMA,
        _BitWriter,
        _encode_codes,
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:37, 0:29]
    spikes = np.zeros((9, 70, 3), np.uint8)
    spikes[::7, ::5] = 255                     # sparse hi-freq: ZRL paths
    cases = [
        (np.full((24, 40, 3), 130, np.uint8), 90, False),   # flat: EOBn runs
        (rng.integers(0, 256, (33, 17, 3)).astype(np.uint8), 95, False),
        (rng.integers(0, 256, (16, 16, 3)).astype(np.uint8), 35, True),
        (rng.integers(0, 256, (1, 1, 3)).astype(np.uint8), 85, False),
        (np.stack([(yy * 4 + xx * 3) % 256, (255 - xx * 5) % 256,
                   (yy * yy // 7) % 256], -1).astype(np.uint8), 85, True),
        (spikes, 98, False),
    ]
    for img, q, sub in cases:
        base = decode_jpeg(encode_jpeg(img, quality=q, subsample=sub))
        prog = decode_jpeg(encode_jpeg(img, quality=q, subsample=sub,
                                       progressive=True))
        assert np.array_equal(base, prog), (img.shape, q, sub)

    # hand-built grayscale DC-only progression (no AC scans — a legal
    # partial progression): DC-first at Al=1 then DC-refine at Al=0, DRI=1
    # so every block is its own restart segment (per-scan predictor/EOBRUN
    # reset path). Flat quant 16 makes the pixel value analytic:
    # v = 2*dc + 128 with dc = round(8*(v0-128)/16), exact for these v0.
    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dc_codes = _encode_codes(*_DC_LUMA)
    vals = (60, 150, 200)                      # dc = -34, 11, 36: odd + even
    first_chunks, refine_chunks = [], []
    for v0 in vals:
        dc = round(8 * (v0 - 128) / 16)
        t = dc >> 1                            # point transform (arith shift)
        wtr = _BitWriter()
        s = int(abs(t)).bit_length()
        code, length = dc_codes[s]
        wtr.write(code, length)
        if s:
            wtr.write(t if t >= 0 else t + (1 << s) - 1, s)
        first_chunks.append(wtr.flush())
        wtr = _BitWriter()
        wtr.write(dc & 1, 1)                   # refinement: one raw bit
        refine_chunks.append(wtr.flush())

    def rst_join(chunks):
        out = bytearray()
        for idx, chunk in enumerate(chunks):
            if idx:
                out += bytes([0xFF, 0xD0 + (idx - 1) % 8])
            out += chunk
        return bytes(out)

    gray = (b"\xff\xd8"
            + seg(0xDB, bytes([0]) + bytes([16] * 64))
            + seg(0xC2, struct.pack(">BHHB", 8, 8, 24, 1)
                  + bytes([1, 0x11, 0]))
            + seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0])
                  + bytes(_DC_LUMA[1]))
            + seg(0xDD, struct.pack(">H", 1))
            + seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))   # DC first, Al=1
            + rst_join(first_chunks)
            + seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))   # DC refine, Al=0
            + rst_join(refine_chunks)
            + b"\xff\xd9")
    dec = decode_jpeg(gray)
    assert dec.shape == (8, 24, 3)
    for mcu, v0 in enumerate(vals):
        block = dec[:, mcu * 8:(mcu + 1) * 8]
        assert np.abs(block.astype(int) - v0).max() <= 1
        assert np.array_equal(block[..., 0], block[..., 1])


def test_resize_preserves_input_format(spark):
    """resize_images must re-encode each image in ITS OWN input format —
    a BMP round-trips as BMP, a PNG as PNG (gap flagged in round-3 review:
    P6-only re-encode changed the format of every non-P6 input)."""
    import numpy as np

    from spikex_spark.multimodal import (
        MEDIA_SCHEMA,
        _resize_nearest,
        decode_image,
        detect_image_format,
        gen_media,
        resize_images,
    )

    media = spark.createDataFrame(gen_media(30), schema=MEDIA_SCHEMA)
    rows = media.where("kind = 'image'").collect()
    in_fmt = {r["media_id"]: detect_image_format(bytes(r["payload"]))
              for r in rows}
    assert set(in_fmt.values()) == {"p6", "p3", "bmp", "png", "jpeg",
                                    "jpegp", "gif"}
    originals = {r["media_id"]: bytes(r["payload"]) for r in rows}
    for r in resize_images(media.where("kind = 'image'"), 16, 16).collect():
        out = bytes(r["resized"])
        fmt = in_fmt[r["media_id"]]
        assert detect_image_format(out) == fmt
        expect = _resize_nearest(decode_image(originals[r["media_id"]]),
                                 16, 16)
        got = decode_image(out)
        if fmt in ("jpeg", "jpegp"):   # lossy re-encode: close, not equal
            assert got.shape == expect.shape
            assert np.abs(got.astype(int) - expect.astype(int)).mean() < 10
        else:
            assert np.array_equal(got, expect)


# --- lineage ledger ----------------------------------------------------------

def test_run_stage_idempotent_resume(spark, tmp_path):
    from spikex_spark.lineage import ledger_summary, run_stage

    ledger = str(tmp_path / "ledger")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    out1 = run_stage(spark, ledger, "10_test", build, input_fingerprint="fp1")
    assert out1.count() == 100 and calls["n"] == 1
    # resume: same fingerprint -> no rebuild
    out2 = run_stage(spark, ledger, "10_test", build, input_fingerprint="fp1")
    assert out2.count() == 100 and calls["n"] == 1
    # changed input -> rebuild
    run_stage(spark, ledger, "10_test", build, input_fingerprint="fp2")
    assert calls["n"] == 2
    meta = ledger_summary(ledger)[0]
    assert meta["status"] == "COMPLETE" and meta["rows"] == 100
    assert sum(p["rows"] for p in meta["partitions"]) == 100


def test_resumable_pipeline_matches_oneshot(spark, tmp_path):
    from spikex_spark.lineage import ledger_summary, resolve_documents_resumable
    from spikex_spark.pipeline import resolve_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ledger = str(tmp_path / "pipeline_ledger")
    res = resolve_documents_resumable(spark, docs, ledger, fingerprint="sf0.001")
    oneshot = resolve_documents(docs)
    a = {(r["doc_id"], r["cluster_id"]) for r in res.collect()}
    b = {(r["doc_id"], r["cluster_id"]) for r in oneshot.collect()}
    assert a == b
    stages = [m["stage"] for m in ledger_summary(ledger)]
    assert stages == ["10_buckets", "20_pairs", "30_scores", "40_clusters"]
    # resume path: rerun touches no stage (ledger short-circuit)
    res2 = resolve_documents_resumable(spark, docs, ledger, fingerprint="sf0.001")
    assert res2.count() == docs.count()


def test_streaming_canonical_assign_stateful(spark, tmp_path_factory):
    """applyInPandasWithState custom operator: per-key running-min canonical
    id carries STATE across micro-batches (maxFilesPerTrigger=1 forces two
    batches)."""
    from pyspark.sql import types as T

    from spikex_spark.streaming.stream import (
        run_to_memory,
        streaming_canonical_assign,
    )

    d = tmp_path_factory.mktemp("canon_stream")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("block_key", T.StringType()),
    ])
    # batch 1: key 'a' min=5; batch 2 brings a SMALLER id (2) for 'a'
    b1 = spark.createDataFrame([(5, "a"), (9, "a"), (7, "b")], schema)
    b2 = spark.createDataFrame([(2, "a"), (8, "b")], schema)
    b1.coalesce(1).write.parquet(str(d / "f1"))
    b2.coalesce(1).write.parquet(str(d / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    out = run_to_memory(
        streaming_canonical_assign(stream), "t_canon_stream"
    ).collect()
    got = {(r["block_key"], r["doc_id"]): r["canonical_id"] for r in out}
    assert len(got) == 5
    # within each batch the canonical is the running min INCLUDING state:
    # whichever file lands first, key 'a' converges to 2 in the later batch
    batch_with_5 = got[("a", 5)]
    batch_with_2 = got[("a", 2)]
    assert batch_with_2 == 2
    assert batch_with_5 in (2, 5)  # depends on file order within the stream
    assert got[("b", 7)] in (7, 8) and got[("b", 8)] in (7, 8)
    # state monotonicity: at least one key saw its min carried across batches
    assert min(got[("a", 5)], got[("a", 9)], got[("a", 2)]) == 2


def test_resolve_entities_resumable_matches_oneshot(spark, tmp_path, pages_df, titles_df):
    """The title-blocking (north-rule) pipeline, ledgered: result equals the
    one-shot resolve_entities, all five stages COMPLETE, and a second run
    recomputes nothing (every stage short-circuits off the ledger)."""
    from spikex_spark.lineage import ledger_summary, resolve_entities_resumable
    from spikex_spark.pipeline import resolve_entities

    ledger = str(tmp_path / "er_ledger")
    got = resolve_entities_resumable(
        spark, pages_df, titles_df, ledger, fingerprint="v1"
    )
    oneshot = resolve_entities(pages_df, titles_df)
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in oneshot.collect()}
    assert a == b and len(a) > 0
    stages = ledger_summary(ledger)
    # the reduced star-edge stage is ledgered, never the O(m²) pair
    # enumeration (see test_resumable_entities_star_skips_pair_ledger)
    assert [m["stage"] for m in stages] == [
        "10_mentions", "20_blocks", "30_star_edges", "50_clusters"
    ]
    assert all(m["status"] == "COMPLETE" and m["partitions"] for m in stages)
    # resume: same fingerprint -> ledger read-back, identical result
    again = resolve_entities_resumable(
        spark, pages_df, titles_df, ledger, fingerprint="v1"
    )
    assert {tuple(r) for r in again.collect()} == a


def test_resumable_entities_star_skips_pair_ledger(spark, tmp_path, pages_df,
                                                   titles_df):
    """The ledgered entity run must NOT materialize the O(m²) pair/score
    stages — it ledgers the reduced star-edge stage instead — and clusters
    must equal the one-shot path's."""
    from spikex_spark.lineage import ledger_summary, resolve_entities_resumable
    from spikex_spark.pipeline import resolve_entities

    ledger = str(tmp_path / "star_ledger")
    res = resolve_entities_resumable(spark, pages_df, titles_df, ledger,
                                     fingerprint="t")
    oneshot = resolve_entities(pages_df, titles_df)
    key = lambda df: {(r["url"], r["cluster_id"]) for r in df.collect()}
    assert key(res) == key(oneshot)
    stages = [m["stage"] for m in ledger_summary(ledger)]
    assert stages == ["10_mentions", "20_blocks", "30_star_edges",
                      "50_clusters"]


def test_resume_after_midpipeline_kill(spark, tmp_path, pages_df, titles_df):
    """north_rule: "resumable from checkpoint ... resumes mid-pipeline".
    Simulate a driver/executor loss AFTER stage 2 of 4 (mentions + blocks
    written, star_edges never started); the rerun must (a) short-circuit the
    two finished stages off the ledger — their _lineage.json files stay
    byte-untouched — and (b) finish the remaining stages to the exact
    one-shot result."""
    import os

    import pytest

    from spikex_spark import lineage
    from spikex_spark.pipeline import resolve_entities

    ledger = str(tmp_path / "kill_ledger")
    done: list[str] = []

    def killing_runner(name, build, **hints):
        if len(done) == 2:
            raise RuntimeError("simulated mid-pipeline kill")
        done.append(name)
        return lineage.run_stage(spark, ledger, name, build,
                                 input_fingerprint="fp", **hints)

    with pytest.raises(RuntimeError, match="simulated mid-pipeline kill"):
        resolve_entities(pages_df, titles_df, stage_runner=killing_runner)
    assert done == ["10_mentions", "20_blocks"]
    before = {m["stage"]: m for m in lineage.ledger_summary(ledger)}
    assert set(before) == {"10_mentions", "20_blocks"}
    assert all(m["status"] == "COMPLETE" for m in before.values())
    mtimes = {s: os.stat(lineage._lineage_path(ledger, s)).st_mtime_ns
              for s in before}

    res = lineage.resolve_entities_resumable(
        spark, pages_df, titles_df, ledger, fingerprint="fp")
    oneshot = resolve_entities(pages_df, titles_df)
    key = lambda df: {(r["url"], r["cluster_id"]) for r in df.collect()}
    assert key(res) == key(oneshot)
    # finished stages were READ, not recomputed: lineage files untouched
    for s, t in mtimes.items():
        assert os.stat(lineage._lineage_path(ledger, s)).st_mtime_ns == t
    after = [m["stage"] for m in lineage.ledger_summary(ledger)]
    assert after == ["10_mentions", "20_blocks", "30_star_edges",
                     "50_clusters"]


@pytest.mark.parametrize("with_ddl", [True, False])
def test_old_mentions_layout_is_recomputed(spark, tmp_path, pages_df,
                                           titles_df, with_ddl):
    """A ledger whose COMPLETE 10_mentions holds the older per-mention
    layout (id, start, n, surface, key) recomputes that stage as block
    members instead of salting it, and finishes to the one-shot result."""
    from spikex_spark import lineage
    from spikex_spark.pipeline import MEMBER_COLUMNS, resolve_entities

    ledger = str(tmp_path / "old_layout")
    ddl = "id string, start int, n int, surface string, key string"
    spark.createDataFrame([("u1", 1, 1, "Apple", "apple")], ddl) \
        .write.parquet(lineage._data_path(ledger, "10_mentions"))
    meta = {"stage": "10_mentions", "status": "COMPLETE", "rows": 1,
            "partitions": [{"partition": 0, "rows": 1}],
            "input_fingerprint": "fp"}
    if with_ddl:
        meta["schema_ddl"] = ddl
    lineage._lineage_path(ledger, "10_mentions").write_text(json.dumps(meta))

    res = lineage.resolve_entities_resumable(spark, pages_df, titles_df,
                                             ledger, fingerprint="fp")
    key = lambda df: {(r["url"], r["cluster_id"]) for r in df.collect()}
    assert key(res) == key(resolve_entities(pages_df, titles_df))
    stored = spark.read.parquet(lineage._data_path(ledger, "10_mentions"))
    assert stored.columns == MEMBER_COLUMNS
    assert [m["stage"] for m in lineage.ledger_summary(ledger)] == [
        "10_mentions", "20_blocks", "30_star_edges", "50_clusters"]


def test_ppm_16bit_and_scaled_maxval():
    import numpy as np

    from spikex_spark.multimodal import decode_image

    img = np.array([[[255, 0, 128]]], dtype=np.uint8)
    # 16-bit P6 (maxval 65535, big-endian samples)
    vals = np.array([65535, 0, 32896], dtype=">u2")  # 128*65535//255=32896
    p6_16 = b"P6\n1 1\n65535\n" + vals.tobytes()
    got = decode_image(p6_16)
    # 32896*255//65535 = 128 (floor)
    assert got.shape == (1, 1, 3) and got[0, 0].tolist() == [255, 0, 128]
    # scaled 8-bit maxval (e.g. 100): 50*255//100 = 127
    p6_100 = b"P6\n1 1\n100\n" + bytes([100, 0, 50])
    assert decode_image(p6_100)[0, 0].tolist() == [255, 0, 127]


def test_opaque_blob_with_image_magic_takes_fake_path(spark):
    """An audio blob whose first bytes spell 'P6' must ride the fake path
    via the kind column — not crash the PPM header parser (magic-byte
    collisions are certain at corpus scale)."""
    from spikex_spark.multimodal import (
        MEDIA_SCHEMA,
        _fake_features,
        decode_features,
        resize_images,
    )

    evil = b"P6 not really a ppm \xff\xfe"
    rows = [{"media_id": 0, "kind": "audio", "mime": "audio/wav",
             "width": None, "height": None, "duration_ms": 1000,
             "payload": evil}]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = decode_features(df).collect()
    assert got[0]["features"] == pytest.approx(_fake_features(evil), abs=1e-6)
    rs = resize_images(df, 8, 8).collect()
    assert len(rs[0]["resized"]) == 16  # md5 fake blob, not a P6


def test_magic_collision_without_kind_column_falls_through(spark):
    """With NO kind column, decode dispatch is magic-sniffed only: an opaque
    blob whose first bytes collide with an image magic but whose header is
    garbage must fall through to the fake path, not fail the Arrow batch
    (ADVICE r3). A row explicitly typed kind='image' with the same corrupt
    payload must still raise — that is a data error the caller must see."""
    from pyspark.sql import types as T

    from spikex_spark.multimodal import (
        _fake_features,
        decode_features,
        resize_images,
    )

    evil = b"P6 not really a ppm \xff\xfe"
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    df = spark.createDataFrame([(0, bytearray(evil))], schema=schema)
    got = decode_features(df).collect()          # kind_col absent -> sniffed
    assert got[0]["features"] == pytest.approx(_fake_features(evil), abs=1e-6)
    rs = resize_images(df, 8, 8).collect()
    assert len(rs[0]["resized"]) == 16           # md5 fake blob, not a P6

    typed = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ])
    bad = spark.createDataFrame([(0, "image", bytearray(evil))], schema=typed)
    with pytest.raises(Exception, match="ValueError|P6|header|truncated"):
        decode_features(bad).collect()


def test_incremental_matches_full_rerun(spark, tmp_path, titles_df):
    """Incremental ER (new pages extend a completed ledger, old corpus is
    NOT re-scanned) must produce exactly the clusters of a full re-run
    over old ∪ new — including merges that bridge old and new pages."""
    from spikex_spark import synth
    from spikex_spark.lineage import (
        ledger_summary,
        resolve_entities_incremental,
        resolve_entities_resumable,
    )
    from spikex_spark.pipeline import resolve_entities

    all_rows = synth.gen_pages(120)
    old = spark.createDataFrame(all_rows[:80])
    new = spark.createDataFrame(all_rows[80:])
    both = spark.createDataFrame(all_rows)

    led_old = str(tmp_path / "old")
    led_new = str(tmp_path / "new")
    resolve_entities_resumable(spark, old, titles_df, led_old,
                               fingerprint="v0")
    inc = resolve_entities_incremental(spark, new, titles_df, led_old,
                                       led_new, fingerprint="v1")
    full = resolve_entities(both, titles_df)
    key = lambda df: {(r["url"], r["cluster_id"]) for r in df.collect()}
    assert key(inc) == key(full)
    # some cluster must actually bridge old and new urls (the increment
    # carries more members of the planted entities)
    by_cluster: dict = {}
    for url, cid in key(inc):
        by_cluster.setdefault(cid, set()).add(url)
    old_urls = {r["url"] for r in old.select("url").collect()}
    assert any(m & old_urls and m - old_urls for m in by_cluster.values())
    # the increment's stages are ledgered in the new ledger (next increment
    # chains off it)
    stages = [m["stage"] for m in ledger_summary(led_new)]
    assert stages == ["10_mentions", "20_blocks", "30_star_edges",
                      "50_clusters"]


def test_documents_incremental_matches_full_rerun(spark, tmp_path):
    """Incremental near-dup dedup: new docs extend a completed documents
    ledger (only new docs shingled; old texts read only for pair
    partners) — clusters must equal a full re-run over old ∪ new."""
    from spikex_spark.lineage import (
        resolve_documents_incremental,
        resolve_documents_resumable,
    )
    from spikex_spark.pipeline import resolve_documents

    full_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # split so that some near-dup partners straddle the boundary
    old = full_docs.where("doc_id % 5 != 0")
    new = full_docs.where("doc_id % 5 = 0")
    led_old = str(tmp_path / "docs_old")
    led_new = str(tmp_path / "docs_new")
    resolve_documents_resumable(spark, old, led_old, fingerprint="v0")
    inc = resolve_documents_incremental(spark, new, old, led_old, led_new,
                                        fingerprint="v1")
    fullrun = resolve_documents(full_docs)
    key = lambda df: {(r["doc_id"], r["cluster_id"]) for r in df.collect()}
    assert key(inc) == key(fullrun)


def test_documents_incremental_chains_across_two_batches(spark, tmp_path):
    """The second document increment extends the ledger the first one
    wrote; the result must equal one full run over all three batches."""
    from spikex_spark.lineage import (
        resolve_documents_incremental,
        resolve_documents_resumable,
    )
    from spikex_spark.pipeline import resolve_documents

    full_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b0 = full_docs.where("doc_id % 5 >= 2")
    b1 = full_docs.where("doc_id % 5 = 1")
    b2 = full_docs.where("doc_id % 5 = 0")
    led0, led1, led2 = (str(tmp_path / f"docs{i}") for i in range(3))
    resolve_documents_resumable(spark, b0, led0, fingerprint="v0")
    resolve_documents_incremental(spark, b1, b0, led0, led1,
                                  fingerprint="v1").count()
    inc2 = resolve_documents_incremental(spark, b2, b0.unionByName(b1),
                                         led1, led2, fingerprint="v2")
    key = lambda df: {(r["doc_id"], r["cluster_id"]) for r in df.collect()}
    assert key(inc2) == key(resolve_documents(full_docs))


def test_streaming_signature_dedup(spark, pages_dir):
    """Map-side MinHash signature dedup at ingest: survivors = one doc per
    distinct signature, matching the batch signature computation."""
    from spikex_spark.operators.blocking import (
        minhash_signatures,
        shingle_df,
    )
    from spikex_spark.streaming.stream import (
        run_to_memory,
        stream_pages,
        streaming_signature_dedup,
    )

    stream = stream_pages(spark, pages_dir)
    got = run_to_memory(streaming_signature_dedup(stream), "sig_dedup")
    batch = spark.read.parquet(pages_dir)
    sigs = minhash_signatures(shingle_df(batch, "url", "text", k=5))
    n_sigs = sigs.select(*[f"mh{i}" for i in range(16)]).distinct().count()
    assert got.count() == n_sigs
    assert got.select("sig").distinct().count() == n_sigs


def test_incremental_chains_across_two_batches(spark, tmp_path, titles_df):
    """Two successive increments (each chaining off the previous ledger)
    must equal one full run over all three batches."""
    from spikex_spark import synth
    from spikex_spark.lineage import (
        resolve_entities_incremental,
        resolve_entities_resumable,
    )
    from spikex_spark.pipeline import resolve_entities

    rows = synth.gen_pages(120)
    b0 = spark.createDataFrame(rows[:60])
    b1 = spark.createDataFrame(rows[60:90])
    b2 = spark.createDataFrame(rows[90:])
    led0, led1, led2 = (str(tmp_path / f"led{i}") for i in range(3))
    resolve_entities_resumable(spark, b0, titles_df, led0, fingerprint="v0")
    resolve_entities_incremental(spark, b1, titles_df, led0, led1,
                                 fingerprint="v1").count()
    inc2 = resolve_entities_incremental(spark, b2, titles_df, led1, led2,
                                        fingerprint="v2")
    full = resolve_entities(spark.createDataFrame(rows), titles_df)
    key = lambda df: {(r["url"], r["cluster_id"]) for r in df.collect()}
    assert key(inc2) == key(full)


def test_corrupt_png_zlib_error_normalized_to_valueerror(spark):
    """A PNG with intact chunk CRCs but an invalid IDAT zlib stream raises
    zlib.error inside decode_png — decode_image must normalize it to the
    documented ValueError so (a) kind='image' callers see the contract
    exception and (b) untyped magic-collision blobs fall through to the
    fake path instead of failing the whole Arrow batch."""
    import struct
    import zlib

    import pytest

    from spikex_spark.multimodal import (
        MEDIA_SCHEMA,
        _fake_features,
        decode_features,
        decode_image,
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", b"\x00not a zlib stream")   # CRC valid, data not
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="corrupt image stream"):
        decode_image(bad)

    # untyped dispatch (no kind column): falls through to the fake path
    rows = [{"media_id": 0, "kind": None, "mime": None, "width": None,
             "height": None, "duration_ms": None, "payload": bad}]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA).drop("kind")
    got = decode_features(df).collect()
    assert got[0]["features"] == pytest.approx(_fake_features(bad), abs=1e-6)


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a marker;
    the decoder must skip them, not parse 0xFF as a marker code with a
    bogus segment length."""
    import numpy as np

    from spikex_spark.jpeg import decode_jpeg, encode_jpeg

    img = np.stack([np.full((16, 16), v, np.uint8)
                    for v in (200, 80, 30)], axis=-1)
    enc = encode_jpeg(img, quality=90)
    assert enc[:2] == b"\xff\xd8"
    padded = enc[:2] + b"\xff\xff\xff" + enc[2:]   # fill before first marker
    base, dec = decode_jpeg(enc), decode_jpeg(padded)
    assert dec is not None and np.array_equal(base, dec)


def test_jpeg_nondividing_sampling_factors_return_none():
    """Sampling factors that do not divide the frame max (e.g. luma h=3
    with a chroma h=2) cannot be integer-ratio upsampled — the decoder
    must report 'unsupported' (None), not crash in the plane stack."""
    from spikex_spark.jpeg import _decode_scan

    frame = {"w": 24, "h": 8,
             "comps": [{"id": 1, "h": 3, "v": 1, "tq": 0},
                       {"id": 2, "h": 2, "v": 1, "tq": 0}]}
    assert _decode_scan(frame, {}, {}, {}, 0, []) is None


def test_incremental_refuses_incomplete_old_ledger(spark, tmp_path):
    """An old ledger whose bootstrap died mid-write (data files, no
    COMPLETE marker) must be REFUSED by the incremental extenders — a
    silent union would drop the missing old rows forever."""
    import pytest

    from spikex_spark import lineage

    old = tmp_path / "old_led"
    (old / "10_assign" / "data").mkdir(parents=True)
    spark.range(3).select(
        F.col("id").alias("id"), F.lit(0).alias("list_id")
    ).write.mode("overwrite").parquet(str(old / "10_assign" / "data"))
    # no _lineage.json -> not COMPLETE
    vecs = spark.range(2).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"))
    with pytest.raises(ValueError, match="no COMPLETE marker"):
        lineage.ivf_assign_incremental(
            spark, vecs, [[1.0, 0.0], [0.0, 1.0]],
            str(old), str(tmp_path / "new_led"))


# --- audio: real stdlib WAV codec --------------------------------------------

def test_wav_roundtrip_all_depths():
    import numpy as np

    from spikex_spark.multimodal import decode_wav, encode_wav

    sig = np.stack([np.sin(np.arange(4000) / 50.0),
                    np.cos(np.arange(4000) / 70.0)], axis=1) * 0.7
    for bits, tol in ((8, 1 / 250), (16, 1 / 60000), (32, 2e-7)):
        dec, rate = decode_wav(encode_wav(sig, 16000, bits=bits))
        assert rate == 16000 and dec.shape == (4000, 2)
        assert float(np.max(np.abs(dec - sig))) < tol


def _wav_raw(tag, bits, data, ch=1, rate=8000):
    import struct

    ba = ch * bits // 8
    fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * ba, ba, bits)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_decode_24bit_float_and_extensible():
    import struct

    import numpy as np

    from spikex_spark.multimodal import decode_wav

    # 24-bit PCM: exact sign-extension at both rails
    vals = np.array([0, 1 << 22, -(1 << 22), (1 << 23) - 1, -(1 << 23)],
                    dtype=np.int64)
    raw = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals)
    dec, rate = decode_wav(_wav_raw(1, 24, raw))
    assert np.allclose(dec[:, 0], vals / float(1 << 23), atol=1e-7)
    # IEEE float32 passthrough
    f32 = np.array([0.5, -0.25, 1.0], dtype="<f4").tobytes()
    dec, _ = decode_wav(_wav_raw(3, 32, f32))
    assert np.allclose(dec[:, 0], [0.5, -0.25, 1.0])
    # WAVE_FORMAT_EXTENSIBLE wrapping PCM16: real tag read from SubFormat
    ext = (struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
           + struct.pack("<HHI", 22, 16, 0) + struct.pack("<H", 1)
           + b"\x00" * 14)
    data = np.array([1000, -1000], dtype="<i2").tobytes()
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(ext)) + ext
            + b"data" + struct.pack("<I", len(data)) + data)
    dec, _ = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert abs(dec[0, 0] - 1000 / 32768.0) < 1e-6


def test_wav_contract_none_vs_valueerror():
    import pytest

    from spikex_spark.multimodal import decode_wav

    # unknown container -> None (mp3 magic); compressed-in-WAV tag -> None
    assert decode_wav(b"ID3\x04not-a-wav") is None
    assert decode_wav(_wav_raw(2, 4, b"\x00\x01")) is None  # ADPCM tag
    # known container, corrupt contents -> ValueError
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x10\x00\x00\x00WAVEfmt \x04\x00\x00\x00abcd")
    with pytest.raises(ValueError):  # data chunk shorter than its size field
        decode_wav(_wav_raw(1, 16, b"\x00\x01")[:-1])


def test_audio_features_known_signal():
    import numpy as np

    from spikex_spark.multimodal import audio_features

    rate = 8000
    t = np.arange(rate, dtype=np.float64) / rate  # exactly 1 s
    mono = (0.5 * np.sin(2 * np.pi * 100 * t))[:, None]
    f = audio_features(mono.astype(np.float32), rate)
    assert len(f) == 16
    assert f[0] == pytest.approx(1.0)              # duration s
    assert f[1] == pytest.approx(rate / 48000.0)   # rate norm
    assert f[2] == pytest.approx(1 / 8.0)          # channels norm
    assert f[3] == pytest.approx(0.5 / np.sqrt(2), abs=1e-3)  # sine RMS
    assert f[4] == pytest.approx(0.5, abs=1e-3)    # peak
    # 100 Hz over 1 s -> 200 zero crossings / 7999 transitions
    assert f[5] == pytest.approx(200 / 7999, abs=1e-3)
    # energy envelope bins of a steady tone are all ~= overall RMS
    assert all(abs(b - f[3]) < 1e-2 for b in f[8:])


def test_resample_audio_linear():
    import numpy as np

    from spikex_spark.multimodal import resample_audio

    # a straight ramp survives linear resampling exactly (interior points)
    ramp = np.linspace(0.0, 1.0, 101)[:, None]
    up = resample_audio(ramp, 100, 200)
    assert up.shape[0] == 202
    assert np.allclose(up[:-2, 0], np.linspace(0.0, 1.0, 201)[:-1], atol=1e-6)
    down = resample_audio(ramp, 100, 50)
    assert down.shape[0] == 50 or down.shape[0] == 51
    assert np.allclose(down[:, 0], ramp[::2, 0][: down.shape[0]], atol=1e-6)


def test_resample_audio_df_real_and_fake_paths(spark):
    import numpy as np

    from spikex_spark.multimodal import (
        MEDIA_SCHEMA,
        decode_wav,
        gen_media,
        resample_audio_df,
    )

    media = spark.createDataFrame(gen_media(12), schema=MEDIA_SCHEMA)
    got = {r["media_id"]: bytes(r["resampled"])
           for r in resample_audio_df(media, 16000).collect()}
    rows = {r["media_id"]: r for r in media.collect()}
    for mid, out in got.items():
        if rows[mid]["kind"] == "audio":
            samples, rate = decode_wav(out)
            assert rate == 16000
            # length scales by dst/src rate
            src_samples, src_rate = decode_wav(bytes(rows[mid]["payload"]))
            expect_n = int(round(src_samples.shape[0] * 16000 / src_rate))
            assert abs(samples.shape[0] - expect_n) <= 1
            assert samples.shape[1] == src_samples.shape[1]
            # resampling a band-limited tone preserves RMS (rough bound)
            assert float(np.sqrt((samples ** 2).mean())) == pytest.approx(
                float(np.sqrt((src_samples ** 2).mean())), rel=0.05)
        else:
            assert len(out) == 16  # md5 fake blob for image/video rows


def test_typed_corrupt_wav_raises_in_stage(spark):
    import pytest

    from spikex_spark.multimodal import MEDIA_SCHEMA, decode_features

    bad = b"RIFF\x10\x00\x00\x00WAVEfmt \x04\x00\x00\x00abcd"
    rows = [{"media_id": 0, "kind": "audio", "mime": "audio/wav",
             "width": None, "height": None, "duration_ms": 1000,
             "payload": bad}]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    with pytest.raises(Exception, match="ValueError|truncated|corrupt"):
        decode_features(df).collect()


# --- video: real ISO-BMFF container metadata ---------------------------------

def test_mp4_meta_roundtrip_and_contract():
    import pytest
    import struct

    from spikex_spark.multimodal import encode_mp4_stub, parse_mp4_meta

    p = encode_mp4_stub(7000, timescale=90000, n_tracks=2, brand=b"mp42",
                        mdat=b"opaque")
    m = parse_mp4_meta(p)
    assert m == {"brand": "mp42", "duration_ms": 7000, "timescale": 90000,
                 "n_tracks": 2}
    # 64-bit largesize box header parses too
    big = struct.pack(">I", 1) + b"free" + struct.pack(">Q", 16) + p
    assert parse_mp4_meta(big)["duration_ms"] == 7000
    # non-MP4 -> None; recognized-but-corrupt -> ValueError
    assert parse_mp4_meta(b"RIFF....WAVE....") is None
    assert parse_mp4_meta(b"\x00" * 20) is None
    with pytest.raises(ValueError):  # box size smaller than its header
        parse_mp4_meta(struct.pack(">I", 3) + b"ftypisom")
    with pytest.raises(ValueError):  # valid boxes but no moov/mvhd
        parse_mp4_meta(struct.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x00\x00")


def test_video_meta_df_real_and_null_paths(spark):
    import pytest

    from spikex_spark.multimodal import (
        MEDIA_SCHEMA,
        gen_media,
        parse_mp4_meta,
        video_meta_df,
    )

    media = spark.createDataFrame(gen_media(18), schema=MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in video_meta_df(media).collect()}
    rows = {r["media_id"]: r for r in media.collect()}
    assert len(got) == 18
    for mid, r in got.items():
        if rows[mid]["mime"] == "video/mp4":
            m = parse_mp4_meta(bytes(rows[mid]["payload"]))
            assert (r["brand"], r["duration_ms"], r["timescale"],
                    r["n_tracks"]) == (m["brand"], m["duration_ms"],
                                       m["timescale"], m["n_tracks"])
            # container duration agrees with the metadata column
            assert r["duration_ms"] == rows[mid]["duration_ms"]
        else:
            # non-ISO-BMFF rows (images, audio, MJPEG video) have no
            # container metadata -> NULLs, never a crash
            assert r["brand"] is None and r["duration_ms"] is None

    # corrupt payload typed kind='video' raises; untyped falls to NULLs
    bad = [{"media_id": 0, "kind": "video", "mime": "video/mp4",
            "width": None, "height": None, "duration_ms": 1000,
            "payload": __import__("struct").pack(">I", 3) + b"ftypisom"}]
    df = spark.createDataFrame(bad, schema=MEDIA_SCHEMA)
    with pytest.raises(Exception, match="ValueError|bad MP4"):
        video_meta_df(df).collect()
    untyped = video_meta_df(df.drop("kind")).collect()
    assert untyped[0]["brand"] is None


# --- GIF codec ----------------------------------------------------------------

def test_gif_roundtrip_and_decode_image_dispatch():
    import numpy as np

    from spikex_spark.gif import decode_gif, encode_gif
    from spikex_spark.multimodal import decode_image, detect_image_format

    rng = np.random.RandomState(7)
    pal = rng.randint(0, 256, (13, 3), dtype=np.uint8)
    img = pal[rng.randint(0, 13, (37, 29))]
    enc = encode_gif(img)
    assert detect_image_format(enc) == "gif"
    assert np.array_equal(decode_gif(enc), img)
    assert np.array_equal(decode_image(enc), img)   # dispatch wired
    # full 256-color palette exercises max starting code width
    pal256 = (np.arange(256 * 3).reshape(256, 3) % 256).astype(np.uint8)
    img2 = pal256[rng.randint(0, 256, (64, 64))]
    assert np.array_equal(decode_gif(encode_gif(img2)), img2)


def test_gif_interlace_and_errors():
    import numpy as np
    import pytest

    from spikex_spark.gif import decode_gif, encode_gif

    # build an interlaced GIF by permuting the rows of a non-interlaced
    # encode and setting the interlace flag — the decoder must undo it
    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, (7, 3), dtype=np.uint8)
    img = pal[rng.randint(0, 7, (13, 5))]
    h = img.shape[0]
    order = [r for off, step in ((0, 8), (4, 8), (2, 4), (1, 2))
             for r in range(off, h, step)]
    enc = bytearray(encode_gif(img[order]))
    # image descriptor flags byte: header 13 + GCT + 0x2C + 8 coords
    gct_size = 2 << (enc[10] & 7)
    flags_at = 13 + gct_size * 3 + 9
    assert enc[flags_at] == 0
    enc[flags_at] = 0x40                         # interlace flag
    assert np.array_equal(decode_gif(bytes(enc)), img)

    # >256 distinct colors cannot re-encode
    y, x = np.mgrid[0:32, 0:32]
    many = np.stack([y * 8 % 256, x * 8 % 256, (x + y) % 256],
                    axis=-1).astype(np.uint8)
    with pytest.raises(ValueError, match="<=256 colors"):
        encode_gif(many)
    # corrupt streams raise ValueError (known magic, bad bytes)
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a\x05\x00")
    with pytest.raises(ValueError):
        decode_gif(encode_gif(img)[:-10])        # truncated LZW data


def test_sessionize_batch_semantics(spark):
    """Hand-built fixture: gap merge, session_end = last event + gap,
    singleton sessions, per-user isolation."""
    from datetime import datetime as dt

    from spikex_spark.streaming.stream import sessionize

    rows = [
        (1, 1, dt(2024, 1, 1, 10, 0, 0), 1.0),
        (2, 1, dt(2024, 1, 1, 10, 30, 0), 2.0),   # +30m -> same session
        (3, 1, dt(2024, 1, 1, 12, 0, 0), 4.0),    # +90m -> new session
        (4, 2, dt(2024, 1, 1, 10, 45, 0), 8.0),   # other user, own session
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")
    got = {(r["user_id"], r["session_start"]): r for r in
           sessionize(df, "user_id", "ts", gap="1 hour",
                      value_col="value").collect()}
    s1 = got[(1, dt(2024, 1, 1, 10, 0, 0))]
    assert s1["session_end"] == dt(2024, 1, 1, 11, 30, 0)   # last + gap
    assert s1["n_events"] == 2 and s1["sum_value"] == 3.0
    s2 = got[(1, dt(2024, 1, 1, 12, 0, 0))]
    assert s2["session_end"] == dt(2024, 1, 1, 13, 0, 0)
    assert s2["n_events"] == 1
    assert got[(2, dt(2024, 1, 1, 10, 45, 0))]["n_events"] == 1
    assert len(got) == 3


def test_sessionize_streaming_matches_batch(spark, pages_dir):
    """The same sessionize() runs behind readStream (complete mode) and
    lands on the batch result."""
    from spikex_spark.streaming.stream import (
        run_to_memory,
        sessionize,
        stream_pages,
    )

    stream = stream_pages(spark, pages_dir)
    got = run_to_memory(
        sessionize(stream, "lang", "warc_ts", gap="30 minutes"),
        "sessions_stream", mode="complete")
    batch = sessionize(spark.read.parquet(pages_dir), "lang", "warc_ts",
                       gap="30 minutes")
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert g == b and len(g) > 0


def test_stream_interval_join_bounded_window(spark, tmp_path_factory):
    """Stream-stream interval self-join: rights within (l.ts - tol, l.ts]
    match; older or later rights don't; key must agree."""
    import datetime as dt

    from pyspark.sql import types as T

    from spikex_spark.streaming.stream import (
        run_to_memory,
        stream_interval_join,
    )

    def ts(m):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)

    d = tmp_path_factory.mktemp("ivj_stream")
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("kind", T.StringType()),
    ])
    rows = [
        (1, 1, ts(0), "click"),    # 60 min before error: outside tol
        (2, 1, ts(55), "click"),   # inside
        (3, 1, ts(60), "click"),   # equal ts: inside (<= bound)
        (4, 1, ts(61), "click"),   # after: outside
        (5, 2, ts(59), "click"),   # wrong user
        (100, 1, ts(60), "error"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(d / "f1"))
    stream = spark.readStream.schema(schema).parquet(str(d) + "/*")
    errors = (stream.where(F.col("kind") == "error")
              .select(F.col("event_id").alias("error_id"), "user_id",
                      F.col("ts").alias("error_ts")))
    clicks = (stream.where(F.col("kind") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts").alias("click_ts")))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_to_memory(
        stream_interval_join(errors, clicks, "user_id",
                             "error_ts", "click_ts",
                             tolerance="10 minutes"),
        "t_ivj", shuffle_partitions=3).collect()
    assert sorted(r["click_id"] for r in out) == [2, 3]
    assert all(r["error_id"] == 100 for r in out)
    # the scoped override is restored to whatever the session had before
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_sliding_window_counts_batch_and_stream_agree(spark,
                                                      tmp_path_factory):
    import datetime as dt

    from pyspark.sql import types as T

    from spikex_spark.streaming.stream import (
        run_to_memory,
        sliding_window_counts,
    )

    def ts(m):
        return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)

    rows = [(1, "a", ts(10)), (2, "a", ts(70)), (3, "b", ts(10)),
            (4, "a", ts(130))]
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    df = spark.createDataFrame(rows, schema)
    batch = {(r["window_start"], r["key"]): r["n"]
             for r in sliding_window_counts(
                 df, "ts", "k", window="2 hours",
                 slide="1 hour").collect()}
    # event@0:10 lands in windows starting 23:00(-1h) and 00:00
    assert batch[(ts(-60), "a")] == 1       # [23:00, 01:00): event 1
    assert batch[(ts(0), "a")] == 2          # [00:00, 02:00): events 1, 2
    assert batch[(ts(60), "a")] == 2         # [01:00, 03:00): events 2, 4
    assert batch[(ts(0), "b")] == 1
    # same code on a stream (availableNow drain, append w/ watermark)
    d = tmp_path_factory.mktemp("slide_stream")
    df.coalesce(1).write.parquet(str(d / "f1"))
    stream = spark.readStream.schema(schema).parquet(str(d) + "/*")
    out = run_to_memory(
        sliding_window_counts(stream, "ts", "k", window="2 hours",
                              slide="1 hour", watermark="1 minute"),
        "t_slide", shuffle_partitions=4)
    got = {(r["window_start"], r["key"]): r["n"] for r in out.collect()}
    # append mode emits only windows CLOSED by the final watermark
    # (last event 02:10 → watermark 02:09): the two still-open windows
    # ending 03:00/04:00 are correctly withheld, the rest match batch
    closed = {k: v for k, v in batch.items()
              if k[0] <= ts(9)}                 # end = start+2h <= 02:09
    assert got == closed and (ts(60), "a") not in got
    assert all(batch[k] == v for k, v in got.items())


# --- MJPEG: the real video path (round-5) -----------------------------------

@pytest.fixture(scope="module")
def mjpeg_frames():
    import numpy as np

    from spikex_spark.jpeg import encode_jpeg
    frames = []
    for c in ((255, 0, 0), (0, 255, 0), (16, 32, 64)):
        img = np.zeros((16, 16, 3), dtype=np.uint8)
        img[:, :] = c
        frames.append(encode_jpeg(img, quality=90))
    return frames


def test_mjpeg_split_roundtrip_and_detect(mjpeg_frames):
    from spikex_spark.jpeg import decode_jpeg
    from spikex_spark.multimodal import (detect_video_format,
                                         split_mjpeg_frames)

    stream = b"".join(mjpeg_frames)
    got = split_mjpeg_frames(stream)
    assert got == mjpeg_frames                     # byte-identical frames
    for f in got:
        assert decode_jpeg(f).shape == (16, 16, 3)
    assert detect_video_format(stream) == "mjpeg"
    # a single JPEG is an image, not a video
    assert detect_video_format(mjpeg_frames[0]) is None
    with pytest.raises(ValueError):
        split_mjpeg_frames(stream[:-4])            # truncated: no EOI


def test_mjpeg_sample_frames_real_no_flag(spark, mjpeg_frames, monkeypatch):
    import os

    from spikex_spark.jpeg import decode_jpeg
    from spikex_spark.multimodal import sample_frames

    monkeypatch.setitem(os.environ, "SPIKEX_SPARK_FAKE_DECODE", "0")
    stream = b"".join(mjpeg_frames)
    df = spark.createDataFrame(
        [(7, "video", stream, 3000)],
        "media_id long, kind string, payload binary, duration_ms int")
    rows = sorted(sample_frames(df, every_ms=1000).collect(),
                  key=lambda r: r["frame_idx"])
    assert [r["ts_ms"] for r in rows] == [0, 1000, 2000]
    # uniform spacing over 3000ms with 3 source frames: tick i -> frame i,
    # bytes are the REAL source JPEGs, each decodable
    for i, r in enumerate(rows):
        assert bytes(r["frame"]) == mjpeg_frames[i]
        assert decode_jpeg(bytes(r["frame"])).shape == (16, 16, 3)


def test_mjpeg_decode_features_first_frame(spark, mjpeg_frames, monkeypatch):
    import os

    import pytest as _pt

    from spikex_spark.jpeg import decode_jpeg
    from spikex_spark.multimodal import decode_features, image_features

    monkeypatch.setitem(os.environ, "SPIKEX_SPARK_FAKE_DECODE", "0")
    stream = b"".join(mjpeg_frames)
    df = spark.createDataFrame(
        [(7, "video", stream)],
        "media_id long, kind string, payload binary")
    row = decode_features(df).collect()[0]
    assert row["features"] == _pt.approx(
        image_features(decode_jpeg(mjpeg_frames[0])), abs=1e-6)
