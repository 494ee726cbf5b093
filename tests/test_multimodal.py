"""Multimodal plumbing: schema/batch-shape of the mapInPandas decode
stage, validated against an independent pure-python recomputation."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from roblox_vector_search_datagen_spark.operators import multimodal as M

def test_media_features_matches_independent_computation(spark, sf_dir):
    out = {r.doc_id: r for r in M.media_feature_arrays(spark, sf_dir).collect()}
    docs = duckdb.sql(f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()
    assert len(out) == len(docs)
    for doc_id, text in docs[:50]:
        r = out[doc_id]
        content = text.encode()
        assert r.n_bytes == len(content)
        dig = hashlib.md5(content).digest()
        assert r.features == [round(dig[i] / 255.0, 6) for i in range(4)]
        assert r.media_type == M.MEDIA_TYPES[doc_id % 3]

def test_media_schema_and_meta(spark, sf_dir):
    m = M.media(spark, sf_dir)
    assert [f.name for f in m.schema] == ["doc_id", "media_type", "content", "meta"]
    row = m.filter("doc_id = 5").collect()[0]
    assert row.media_type == "video"  # 5 % 3 == 2
    assert row.meta.width == (5 % 8 + 1) * 64
    assert row.meta.duration_ms == (5 % 30 + 1) * 1000
    img = m.filter("doc_id = 3").collect()[0]
    assert img.media_type == "image" and img.meta.duration_ms is None

def test_frame_sample_counts(spark, sf_dir):
    rows = M.frame_sample_plan(spark, sf_dir).collect()
    assert rows, "expected video rows"
    for r in rows[:20]:
        assert r.frame_ms % 5000 == 0 and r.frame_ms <= r.duration_ms

def test_real_pixels_falls_back_on_undecodable_blob():
    """The real-decoder arm is live code: given a decoder module it
    attempts a decode and falls back to the stub for non-image bytes —
    same 4-float shape either way, deterministic in every env."""
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    class FakePIL:
        @staticmethod
        def open(buf):
            raise ValueError("not an image")

    blob = b"not an image"
    assert mm._real_pixels(("pil", FakePIL), blob, 64, 64) == mm._stub_pixels(blob, 64, 64)

def test_real_pixels_decodes_when_decoder_works():
    import numpy as np

    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    class FakeImg:
        width, height = 32, 16

        def convert(self, mode):
            assert mode == "L"
            return self

        def __array__(self, dtype=None, copy=None):
            return np.full((16, 32), 51, dtype="uint8")

    class FakePIL:
        @staticmethod
        def open(buf):
            return FakeImg()

    # blob must pass the magic-bytes sniff to reach the PIL arm
    feats = mm._real_pixels(("pil", FakePIL), b"\x89PNG\r\n\x1a\npayload", 64, 64)
    assert feats == [0.2, 0.0, 0.5, 0.25]


# ---------------------------------------------------------------------------
# Vendored PNG decoder: the real decode arm, executed for real
# ---------------------------------------------------------------------------

def _gradient_rows(w=4, h=4):
    return [[(y * w + x) * 16 for x in range(w)] for y in range(h)]


def test_png_gray_roundtrip():
    from roblox_vector_search_datagen_spark.functions import png

    rows = _gradient_rows()
    blob = png.encode_png_gray(rows)
    w, h, got = png.decode_png_luminance(blob)
    assert (w, h) == (4, 4)
    assert got == rows


def test_png_corrupt_input_raises_valueerror():
    """The documented contract is ValueError for anything that is not a
    supported PNG — including blobs whose IDAT is corrupt (would be
    zlib.error) or decompresses short (would be IndexError in the
    unfilter loop)."""
    import struct
    import zlib

    from roblox_vector_search_datagen_spark.functions import png

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
    sig = b"\x89PNG\r\n\x1a\n"
    # corrupt deflate stream
    bad_idat = sig + ihdr + chunk(b"IDAT", b"\xde\xad\xbe\xef") + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="corrupt PNG IDAT"):
        png.decode_png_luminance(bad_idat)
    # valid deflate stream, but shorter than height*(stride+1)
    short = sig + ihdr + chunk(b"IDAT", zlib.compress(b"\x00" * 7)) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="truncated PNG pixel data"):
        png.decode_png_luminance(short)


def test_png_rgb_and_filters_decode():
    """Hand-assembled PNGs exercising the RGB luminance transform and
    every filter type (Sub/Up/Average/Paeth) against pixel values the
    test filters forward itself."""
    import struct
    import zlib

    from roblox_vector_search_datagen_spark.functions import png

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    # RGB 2x2, filter 0: known ITU-R 601-2 integer luminance
    px = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    raw = b"".join(
        b"\x00" + bytes(v for p in row for v in p) for row in px
    )
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, lum = png.decode_png_luminance(blob)
    assert (w, h) == (2, 2)
    assert lum == [[299 * 255 // 1000, 587 * 255 // 1000], [114 * 255 // 1000, 255]]

    # grayscale 4x5, one row per filter type, filtered forward here
    rows = [[(y * 37 + x * 16) % 256 for x in range(4)] for y in range(5)]
    lines = []
    prev = [0] * 4
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = rows[y]
        if ftype == 0:
            enc = cur[:]
        elif ftype == 1:
            enc = [(cur[i] - (cur[i - 1] if i else 0)) & 0xFF for i in range(4)]
        elif ftype == 2:
            enc = [(cur[i] - prev[i]) & 0xFF for i in range(4)]
        elif ftype == 3:
            enc = [
                (cur[i] - (((cur[i - 1] if i else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(4)
            ]
        else:
            enc = [
                (cur[i] - png._paeth(cur[i - 1] if i else 0, prev[i], prev[i - 1] if i else 0))
                & 0xFF
                for i in range(4)
            ]
        lines.append(bytes([ftype]) + bytes(enc))
        prev = cur
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    assert png.decode_png_luminance(blob) == (4, 5, rows)


def test_real_pixels_uses_vendored_png_backend():
    """A decodable PNG must take the REAL arm — this test fails if
    _real_pixels regresses to the stub on a decodable image."""
    import numpy as np

    from roblox_vector_search_datagen_spark.functions import png
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    rows = _gradient_rows()
    blob = png.encode_png_gray(rows)
    arr = np.asarray(rows, dtype="float64") / 255.0
    expected = [
        round(float(arr.mean()), 6),
        round(float(arr.std()), 6),
        round(4 / 8, 6),
        round(4 / 16, 6),
    ]
    backend = mm._try_real_decoder()
    got = mm._real_pixels(backend, blob, 8, 16)
    assert got == expected
    assert got != mm._stub_pixels(blob, 8, 16)


def test_media_features_real_arm_end_to_end(spark):
    """The full Arrow mapInPandas stage over a media frame holding one
    genuinely decodable PNG and one opaque blob: the PNG row must carry
    real luminance stats, the opaque row the documented stub."""
    import numpy as np

    from roblox_vector_search_datagen_spark.functions import png
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    rows = _gradient_rows()
    blob = png.encode_png_gray(rows)
    opaque = b"just text bytes"
    media_df = spark.createDataFrame(
        [
            (0, "image", bytearray(blob), (4, 4, None)),
            (1, "image", bytearray(opaque), (64, 64, None)),
        ],
        mm.MEDIA_SCHEMA,
    )
    out = {
        r.doc_id: r.features
        for r in mm.media_feature_arrays(spark, None, media_df=media_df).collect()
    }
    arr = np.asarray(rows, dtype="float64") / 255.0
    assert out[0] == [
        round(float(arr.mean()), 6),
        round(float(arr.std()), 6),
        1.0,
        1.0,
    ]
    assert out[1] == mm._stub_pixels(opaque, 64, 64)


def test_sniff_format_dispatch():
    from roblox_vector_search_datagen_spark.functions import png
    from roblox_vector_search_datagen_spark.operators import multimodal as MM

    png_blob = png.encode_png_gray([[0, 128], [255, 7]])
    assert MM._sniff_format(png_blob) == "png"
    assert MM._sniff_format(b"\xff\xd8\xff\xe0rest-of-jfif") == "jpeg"
    assert MM._sniff_format(b"plain text bytes") == "other"
    assert MM._sniff_format(b"") == "other"
    # a sniffed-jpeg blob with corrupt body degrades to the stub, not
    # an exception (the vendored decoder raises ValueError inside)
    backend = MM._try_real_decoder()
    jpeg_blob = b"\xff\xd8\xff\xe0\x00\x10JFIFgarbage"
    assert MM._real_pixels(backend, jpeg_blob, 4, 4) == MM._stub_pixels(jpeg_blob, 4, 4)
    # a sniffed-png blob with corrupt body still degrades to the stub
    corrupt = png_blob[:20] + b"\x00" * 10
    assert MM._real_pixels(backend, corrupt, 4, 4) == MM._stub_pixels(corrupt, 4, 4)


def test_media_inventory_counts_decode_paths(spark, sf_dir):
    """The fixture media table is text bytes — every blob must be
    visibly counted as stub-decoded (n_stub == n, zero png/jpeg): the
    'corpus is silently 100% stub' signal the counters exist for."""
    from roblox_vector_search_datagen_spark.operators import multimodal as MM

    for r in MM.media_inventory(spark, sf_dir).collect():
        assert r.n_stub == r.n
        assert r.n_png == 0 and r.n_jpeg == 0


def test_media_format_expr_matches_python_sniff(spark):
    """The Catalyst sniff and the Python-side sniff must agree on the
    same blobs (png / jpeg / text / short / empty)."""
    from roblox_vector_search_datagen_spark.functions import png
    from roblox_vector_search_datagen_spark.operators import multimodal as MM

    blobs = [
        png.encode_png_gray([[1]]),
        b"\xff\xd8\xff\xe1exif",
        b"text",
        b"\x89PNG\r\n",  # truncated magic -> other
        b"",
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)], "i int, content binary"
    ).select("i", MM.media_format_expr(F.col("content")).alias("fmt"))
    got = {r.i: r.fmt for r in df.collect()}
    assert got == {i: MM._sniff_format(b) for i, b in enumerate(blobs)}


# ---------------------------------------------------------------------------
# Vendored baseline JPEG decoder (functions/jpeg.py)
# ---------------------------------------------------------------------------


def _blocky_rows(w=16, h=16):
    """Image of flat 8x8 tiles — the DCT of a constant block is exactly
    its DC coefficient, so encode→decode is bit-exact (no rounding
    tolerance needed)."""
    return [[(((x // 8) * 2 + (y // 8)) * 60 + 40) % 256 for x in range(w)] for y in range(h)]


def test_jpeg_gray_roundtrip_exact_on_flat_blocks():
    from roblox_vector_search_datagen_spark.functions import jpeg

    rows = _blocky_rows()
    assert jpeg.decode_jpeg_luminance(jpeg.encode_jpeg_gray(rows)) == (16, 16, rows)


def test_jpeg_gray_roundtrip_gradient_within_rounding():
    """Arbitrary content round-trips within the +/-1 FDCT/IDCT float
    rounding bound at quant=1; also covers non-multiple-of-8 sizes
    (edge-replicated pad, cropped on decode)."""
    from roblox_vector_search_datagen_spark.functions import jpeg

    rows = [[(x * 17 + y * 31) % 256 for x in range(13)] for y in range(11)]
    w, h, dec = jpeg.decode_jpeg_luminance(jpeg.encode_jpeg_gray(rows))
    assert (w, h) == (13, 11)
    assert max(abs(a - b) for ra, rb in zip(rows, dec) for a, b in zip(ra, rb)) <= 1


def test_jpeg_nonuniform_quant_table_dequantizes_correctly():
    """A sloped quant table makes the zigzag-vs-raster indexing of the
    dequantizer observable: encode at quant q, decode must apply the
    SAME per-coefficient q (error stays bounded by the quantization
    step along each coefficient, far below a mis-indexed dequant)."""
    from roblox_vector_search_datagen_spark.functions import jpeg

    rows = [[(x * 37 + y * 11) % 256 for x in range(8)] for y in range(8)]
    quant = [1 + (i % 4) for i in range(64)]  # raster-order table
    _, _, dec = jpeg.decode_jpeg_luminance(jpeg.encode_jpeg_gray(rows, quant=quant))
    err = max(abs(a - b) for ra, rb in zip(rows, dec) for a, b in zip(ra, rb))
    assert err <= 8  # sum of +/- q/2 per active coefficient, observed ~4


def test_jpeg_restart_markers():
    from roblox_vector_search_datagen_spark.functions import jpeg

    rows = _blocky_rows(32, 8)  # 4 MCUs in a row
    blob = jpeg.encode_jpeg_gray(rows, restart_interval=1)
    assert b"\xff\xd0" in blob or b"\xff\xd1" in blob
    assert jpeg.decode_jpeg_luminance(blob) == (32, 8, rows)


def test_jpeg_color420_luma_matches_gray_encode():
    """3-component 4:2:0 with flat chroma: the decoder must entropy-
    decode chroma blocks to keep the bitstream in sync, and the Y it
    returns must equal the grayscale encode of the same plane."""
    from roblox_vector_search_datagen_spark.functions import jpeg

    rows = _blocky_rows(24, 16)  # width not a multiple of the 16-px MCU
    _, _, gray = jpeg.decode_jpeg_luminance(jpeg.encode_jpeg_gray(rows))
    w, h, color = jpeg.decode_jpeg_luminance(jpeg.encode_jpeg_color420_flat_chroma(rows))
    assert (w, h) == (24, 16)
    assert color == gray == rows


def test_jpeg_error_contract_is_valueerror():
    """Everything unsupported or corrupt raises ValueError — the same
    contract as decode_png_luminance."""
    from roblox_vector_search_datagen_spark.functions import jpeg

    rows = _blocky_rows(8, 8)
    blob = jpeg.encode_jpeg_gray(rows)
    with pytest.raises(ValueError):
        jpeg.decode_jpeg_luminance(b"not a jpeg at all")
    with pytest.raises(ValueError):
        jpeg.decode_jpeg_luminance(blob[:40])  # truncated mid-segment
    with pytest.raises(ValueError):
        jpeg.decode_jpeg_luminance(blob[:-20])  # truncated entropy data
    # progressive (SOF2) is out of scope and must be refused, not
    # mis-decoded: rewrite the SOF0 marker in place
    sof0 = blob.index(b"\xff\xc0")
    with pytest.raises(ValueError):
        jpeg.decode_jpeg_luminance(blob[:sof0] + b"\xff\xc2" + blob[sof0 + 2 :])
    # 16-bit quant tables (Pq=1) are out of scope
    dqt = blob.index(b"\xff\xdb")
    bad = bytearray(blob)
    bad[dqt + 4] = 0x10
    with pytest.raises(ValueError):
        jpeg.decode_jpeg_luminance(bytes(bad))
    # a DHT whose counts overflow the canonical code space (three
    # 1-bit codes) must raise ValueError, not IndexError, from the
    # LUT build (r11 advisory)
    with pytest.raises(ValueError):
        jpeg._HuffTable([3] + [0] * 15, b"\x01\x02\x03")


def test_real_pixels_uses_vendored_jpeg_backend():
    """A decodable baseline JPEG must take the REAL arm — this test
    fails if the jpeg branch regresses to the stub."""
    import numpy as np

    from roblox_vector_search_datagen_spark.functions import jpeg
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    rows = _blocky_rows()
    blob = jpeg.encode_jpeg_gray(rows)
    arr = np.asarray(rows, dtype="float64") / 255.0
    expected = [
        round(float(arr.mean()), 6),
        round(float(arr.std()), 6),
        round(16 / 32, 6),
        round(16 / 8, 6),
    ]
    backend = mm._try_real_decoder()
    got = mm._real_pixels(backend, blob, 32, 8)
    assert got == expected
    assert got != mm._stub_pixels(blob, 32, 8)


def test_media_features_jpeg_real_arm_end_to_end(spark):
    """The Arrow mapInPandas stage over a frame holding a PNG, a JPEG,
    and an opaque blob: each takes its own documented decode path."""
    import numpy as np

    from roblox_vector_search_datagen_spark.functions import jpeg, png
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    rows = _blocky_rows()
    png_blob = png.encode_png_gray(rows)
    jpeg_blob = jpeg.encode_jpeg_gray(rows)
    opaque = b"audio bytes, no codec"
    media_df = spark.createDataFrame(
        [
            (0, "image", bytearray(png_blob), (16, 16, None)),
            (1, "image", bytearray(jpeg_blob), (16, 16, None)),
            (2, "audio", bytearray(opaque), (None, None, 900)),
        ],
        mm.MEDIA_SCHEMA,
    )
    out = {
        r.doc_id: r.features
        for r in mm.media_feature_arrays(spark, None, media_df=media_df).collect()
    }
    arr = np.asarray(rows, dtype="float64") / 255.0
    real = [round(float(arr.mean()), 6), round(float(arr.std()), 6), 1.0, 1.0]
    assert out[0] == real  # png arm
    assert out[1] == real  # jpeg arm decodes the SAME luminance
    assert out[2] == mm._stub_pixels(opaque, 64, 64)


def test_jpeg_malformed_segments_raise_valueerror():
    """The documented contract (parity with decode_png_luminance) is
    ValueError for ANY malformed-but-sniffed blob — a DHT whose counts
    promise more symbols than the segment carries, short SOF/DRI/DQT/
    SOS bodies that pass the seglen check — never IndexError or
    struct.error escaping the parser."""
    import pytest

    from roblox_vector_search_datagen_spark.functions import jpeg

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    soi = b"\xff\xd8\xff\xe0\x00\x02"  # SOI + empty APP0
    cases = {
        "DHT counts exceed": soi + seg(0xC4, bytes([0x00] + [1] * 16)),  # 16 syms promised, 0 given
        "short DHT": soi + seg(0xC4, b"\x00\x01"),
        "short SOF": soi + seg(0xC0, b"\x08\x00"),
        "short SOF comps": soi + seg(0xC0, b"\x08\x00\x10\x00\x10\x03\x01\x11"),
        "short DRI": soi + seg(0xDD, b"\x07"),
        "short DQT": soi + seg(0xDB, b"\x00" + b"\x01" * 10),
        "short SOS": soi
        + seg(0xC0, b"\x08\x00\x08\x00\x08\x01\x01\x11\x00")
        + seg(0xDA, b"\x01\x01"),
    }
    for name, blob in cases.items():
        with pytest.raises(ValueError):
            jpeg.decode_jpeg_luminance(blob)


def test_resample_gray_box_kernel_matches_independent_block_mean():
    """The box-filter kernel at an integer ratio IS the block mean —
    verified against an independent numpy implementation (reshape +
    mean + round-half-up), plus the upscale/flat/floor edge cases."""
    import numpy as np

    from roblox_vector_search_datagen_spark.functions import resample

    rows = _blocky_rows()  # 16x16
    got = resample.resample_gray_box(rows, 8, 8)
    arr = np.asarray(rows, dtype="float64")
    expected = np.floor(arr.reshape(8, 2, 8, 2).mean(axis=(1, 3)) + 0.5).astype(int)
    assert got == expected.tolist()

    # flat stays flat at any (including non-integer) ratio
    flat = [[77] * 10 for _ in range(7)]
    for ow, oh in [(3, 3), (10, 7), (4, 5), (20, 14)]:
        out = resample.resample_gray_box(flat, ow, oh)
        assert len(out) == oh and len(out[0]) == ow
        assert all(v == 77 for r in out for v in r)

    # upscale degrades to nearest: a sub-pixel box lands in one pixel
    tiny = [[0, 255], [255, 0]]
    up = resample.resample_gray_box(tiny, 4, 4)
    assert up == [
        [0, 0, 255, 255],
        [0, 0, 255, 255],
        [255, 255, 0, 0],
        [255, 255, 0, 0],
    ]

    # non-integer ratio: dims honored, values in range, global mean
    # preserved within rounding (the box filter's defining property)
    out = resample.resample_gray_box(rows, 5, 3)
    assert len(out) == 3 and all(len(r) == 5 for r in out)
    assert all(0 <= v <= 255 for r in out for v in r)
    assert abs(
        np.mean(out) - np.asarray(rows, dtype="float64").mean()
    ) <= 2.0


def test_media_resized_real_arm_end_to_end(spark):
    """A decodable PNG and JPEG must take the REAL resample arm through
    the Arrow mapInPandas stage: resized_digest is the md5 of actual
    box-resampled re-encoded PNG bytes (checked against an independent
    numpy block-mean + the vendored encoder), and a regression to the
    stub digest on a decodable blob fails here. Opaque bytes keep the
    documented stub arm."""
    import hashlib

    import numpy as np

    from roblox_vector_search_datagen_spark.functions import jpeg, png
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    rows = _blocky_rows()  # 16x16
    png_blob = png.encode_png_gray(rows)
    jpeg_blob = jpeg.encode_jpeg_gray(rows)
    opaque = b"audio bytes, no codec"
    media_df = spark.createDataFrame(
        [
            (0, "image", bytearray(png_blob), (16, 16, None)),
            (1, "image", bytearray(jpeg_blob), (16, 16, None)),
            (2, "audio", bytearray(opaque), (64, 64, 900)),
        ],
        mm.MEDIA_SCHEMA,
    )
    # max_edge=8 forces a real 16x16 -> 8x8 downscale
    out = {
        r.doc_id: r
        for r in mm.media_resized(spark, None, max_edge=8, media_df=media_df).collect()
    }
    assert out[0].resample == "real" and out[1].resample == "real"
    assert out[2].resample == "stub"
    assert (out[0].out_width, out[0].out_height) == (8, 8)

    # independent expectation for the PNG arm: numpy block mean,
    # round-half-up, vendored encoder
    arr = np.asarray(rows, dtype="float64")
    block = np.floor(arr.reshape(8, 2, 8, 2).mean(axis=(1, 3)) + 0.5).astype(int)
    expected = hashlib.md5(png.encode_png_gray(block.tolist())).hexdigest()
    assert out[0].resized_digest == expected
    # regression-to-stub canary: the real digest is NOT the stub chain
    assert out[0].resized_digest != mm._stub_resize_digest(png_blob, 8, 8)
    assert out[1].resized_digest != mm._stub_resize_digest(jpeg_blob, 8, 8)
    # jpeg arm: same pipeline over the lossy-decoded luminance
    _w, _h, jrows = jpeg.decode_jpeg_luminance(jpeg_blob)
    jarr = np.asarray(jrows, dtype="float64")
    jblock = np.floor(jarr.reshape(8, 2, 8, 2).mean(axis=(1, 3)) + 0.5).astype(int)
    assert out[1].resized_digest == hashlib.md5(
        png.encode_png_gray(jblock.tolist())
    ).hexdigest()
    # stub arm unchanged for undecodable blobs
    assert out[2].resized_digest == mm._stub_resize_digest(opaque, 8, 8)

    # the real resized artifact itself roundtrips through the decoder
    w2, h2, back = png.decode_png_luminance(png.encode_png_gray(block.tolist()))
    assert (w2, h2) == (8, 8) and back == block.tolist()


def test_media_resized_is_arrow_batched_and_dims_correct(spark, sf_dir):
    """The resize stage is the Arrow mapInPandas operator with no
    shuffle, and the dimension arithmetic honors the contract: longest
    edge capped at max_edge, aspect preserved (floor), never below
    1px, scale=1 exactly when nothing exceeds the cap."""
    from roblox_vector_search_datagen_spark.operators import multimodal

    df = multimodal.media_resized(spark, sf_dir)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "MapInPandas" in p and "BatchEvalPython" not in p
    assert "Exchange" not in p

    cap = multimodal.RESIZE_MAX_EDGE
    rows = df.collect()
    assert rows
    for r in rows:
        assert max(r.out_width, r.out_height) <= cap
        assert r.out_width >= 1 and r.out_height >= 1
        if max(r.width, r.height) <= cap:
            assert (r.out_width, r.out_height) == (r.width, r.height)
            assert r.scale == 1.0
        else:
            assert r.scale < 1.0
            # aspect preserved within the floor's 1px quantization
            assert abs(r.out_width / r.width - r.out_height / r.height) <= max(
                1.0 / r.width, 1.0 / r.height
            )
        assert len(r.resized_digest) == 32


def test_media_resize_contract_real_arm_all_green(spark, sf_dir):
    """The r10 contract query: every row traverses the REAL arm
    (resample='real'), every contract boolean holds, both scale arms
    (pass-through and downscale) appear, and the digest the operator
    emitted is the digest of the independently verified bytes."""
    from roblox_vector_search_datagen_spark.operators import multimodal

    rows = multimodal.media_resize_contract(spark, sf_dir).collect()
    assert rows
    assert all(r.resample == "real" for r in rows)
    assert all(r.dims_ok and r.roundtrip_ok and r.digest_stable for r in rows)
    assert all(r.digest_match for r in rows)
    scales = {r.scale for r in rows}
    assert 1.0 in scales and any(s < 1.0 for s in scales)


def test_media_resize_contract_corrupt_blob_turns_false_not_crash(spark, sf_dir):
    """Adversarial arm: a PNG-sniffing but corrupt blob must take the
    stub fallback and flip EVERY contract boolean False (a red oracle
    row by design), never raise."""
    from pyspark.sql import functions as F

    from roblox_vector_search_datagen_spark.operators import multimodal

    corrupt = multimodal.synthetic_png_media(spark, sf_dir).withColumn(
        # keep the 8-byte PNG magic, destroy everything after it
        "content",
        F.concat(F.substring("content", 1, 8), F.lit(b"\x00garbage")),
    )
    resized = multimodal.media_resized(spark, sf_dir, media_df=corrupt)
    assert {r.resample for r in resized.collect()} == {"stub"}

    def run(batches):
        return multimodal._resize_contract_fn(batches, multimodal.CONTRACT_MAX_EDGE)

    contract = corrupt.mapInPandas(run, multimodal.CONTRACT_SCHEMA).collect()
    assert contract
    for r in contract:
        assert not r.dims_ok and not r.roundtrip_ok and not r.digest_stable


def test_media_resize_contract_jpeg_real_arm_all_green(spark, sf_dir):
    """The r11 JPEG twin: every row of the generative vendored-encoder
    JPEG corpus traverses the REAL arm, every contract boolean holds
    (including the exact pixel roundtrip — the resize output is PNG and
    the reference is the JPEG's own decoded luminance, so the codec's
    loss cancels out of the comparison), both scale arms appear, and
    the corpus is disjoint from the PNG contract's (residue 8 vs 0)."""
    from roblox_vector_search_datagen_spark.operators import multimodal

    rows = multimodal.media_resize_contract_jpeg(spark, sf_dir).collect()
    assert rows
    assert all(r.resample == "real" for r in rows)
    assert all(r.dims_ok and r.roundtrip_ok and r.digest_stable for r in rows)
    assert all(r.digest_match for r in rows)
    scales = {r.scale for r in rows}
    assert 1.0 in scales and any(s < 1.0 for s in scales)
    jpeg_ids = {r.doc_id for r in rows}
    png_ids = {
        r.doc_id for r in multimodal.media_resize_contract(spark, sf_dir).collect()
    }
    assert jpeg_ids and png_ids and not (jpeg_ids & png_ids)
    # the blobs really are JPEGs: magic sniff on the corpus itself,
    # and BOTH codec shapes appear (grayscale SOF0 and 3-component
    # 4:2:0 — the chroma bitstream-sync path), including a color blob
    # with a partial-MCU width (not a 16-multiple), which a k%2 codec
    # split would have pinned away
    blobs = [
        bytes(r.content)
        for r in multimodal.synthetic_jpeg_media(spark, sf_dir).select("content").collect()
    ]
    assert all(b[:3] == b"\xff\xd8\xff" for b in blobs)

    def _sof(b):  # (n_components, width) from the SOF0 segment
        i = b.index(b"\xff\xc0")
        return b[i + 9], int.from_bytes(b[i + 7 : i + 9], "big")

    sofs = [_sof(b) for b in blobs]
    ncomps = {n for n, _ in sofs}
    assert ncomps == {1, 3}, ncomps
    assert any(n == 3 and w % 16 != 0 for n, w in sofs)


def test_media_resize_contract_jpeg_corrupt_blob_turns_false_not_crash(spark, sf_dir):
    """Adversarial arm: a JPEG-sniffing but corrupt blob must take the
    stub fallback and flip EVERY contract boolean False (a red oracle
    row by design), never raise."""
    from pyspark.sql import functions as F

    from roblox_vector_search_datagen_spark.operators import multimodal

    corrupt = multimodal.synthetic_jpeg_media(spark, sf_dir).withColumn(
        # keep the 3-byte JPEG magic, destroy everything after it
        "content",
        F.concat(F.substring("content", 1, 3), F.lit(b"\x00garbage")),
    )
    resized = multimodal.media_resized(spark, sf_dir, media_df=corrupt)
    assert {r.resample for r in resized.collect()} == {"stub"}

    def run(batches):
        return multimodal._resize_contract_fn(batches, multimodal.CONTRACT_MAX_EDGE)

    contract = corrupt.mapInPandas(run, multimodal.CONTRACT_SCHEMA).collect()
    assert contract
    for r in contract:
        assert not r.dims_ok and not r.roundtrip_ok and not r.digest_stable


def test_media_phash_collides_across_dims_and_codecs(spark, sf_dir):
    """The r11 perceptual-hash family: every constructed-duplicate
    group (4 consecutive k sharing one logical image) hashes to ONE
    64-bit fingerprint across its different dims AND codecs — the
    duplicate classes binary dedup can never pair — all through the
    REAL decode arm; distinct groups get distinct hashes here."""
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    rows = mm.media_phash(spark, sf_dir).collect()
    assert rows
    assert all(r.arm == "real" for r in rows)
    assert all(set(r.phash) <= {"0", "1"} and len(r.phash) == 64 for r in rows)
    by_group: dict[int, set[str]] = {}
    meta: dict[int, set[tuple]] = {}
    for r in rows:
        k = r.doc_id // mm.CONTRACT_MODULO
        g = k // mm.PHASH_DUP_GROUP
        by_group.setdefault(g, set()).add(r.phash)
        meta.setdefault(g, set()).add((r.codec, r.width, r.height))
    # one hash per group; full groups mix codecs and dims
    assert all(len(hs) == 1 for hs in by_group.values()), by_group
    full = [g for g, ms in meta.items() if len(ms) == mm.PHASH_DUP_GROUP]
    assert full
    assert any(len({c for c, _, _ in meta[g]}) == 2 for g in full)
    assert any(len({(w, h) for _, w, h in meta[g]}) > 1 for g in full)
    # distinct groups -> distinct fingerprints (Knuth-mix injectivity
    # at fixture scale; the ORACLE tolerates collisions by design)
    hashes = [next(iter(hs)) for hs in by_group.values()]
    assert len(set(hashes)) == len(hashes)


def test_media_phash_dup_pairs_cross_codec_and_stub_arm(spark, sf_dir):
    """Pairs span codecs (a PNG pairing with a JPEG of the same
    picture), every pair shares its group's fingerprint, and an
    undecodable blob takes the md5-derived stub fingerprint with
    arm='stub' instead of crashing (so it can never collide into the
    real-arm pair stream by accident of all-False booleans)."""
    from pyspark.sql import functions as F

    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    pairs = mm.media_phash_dup_pairs(spark, sf_dir).collect()
    assert pairs
    assert any(p.cross_codec for p in pairs)
    g = lambda d: (d // mm.CONTRACT_MODULO) // mm.PHASH_DUP_GROUP
    assert all(g(p.doc_a) == g(p.doc_b) for p in pairs)

    corrupt = mm.synthetic_dup_media(spark, sf_dir).withColumn(
        "content", F.concat(F.substring("content", 1, 8), F.lit(b"\x00garbage"))
    )
    stub = mm.media_phash(spark, sf_dir, media_df=corrupt).collect()
    assert stub and all(r.arm == "stub" for r in stub)
    assert all(set(r.phash) <= {"0", "1"} and len(r.phash) == 64 for r in stub)


def test_media_phash_dup_pairs_bucket_cap_drops_hot_hashes(spark, sf_dir):
    """The lsh_candidate_pairs cap discipline on the hash key: with
    bucket_cap below the constructed group width, every bucket is
    dropped and the pair stream is empty — the quadratic blowup a
    duplicate-saturated crawl would cause is bounded by construction."""
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    assert mm.media_phash_dup_pairs(spark, sf_dir, bucket_cap=1).count() == 0


def test_media_ingest_dedup_oracle_parity_and_roles(spark, sf_dir):
    """The perceptual image front door's batch twin, driver-style
    oracle parity (registered in the r12 window; proven here first):
    survivors match the DuckDB re-derivation value-for-value, rejected
    arrivals are exactly the even-jdx ones, and rejection happened on
    PICTURE identity — every rejected arrival's bytes differ from all
    known blobs (binary dedup would have admitted them)."""
    from tests.oracle_utils import compare_spark_duckdb

    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    out = mm.media_ingest_dedup(spark, sf_dir)
    compare_spark_duckdb(out, mm.media_ingest_dedup_oracle(), sf_dir)

    mod, grp = mm.CONTRACT_MODULO, mm.PHASH_DUP_GROUP
    survivors = {r.doc_id for r in out.collect()}
    corpus = mm.synthetic_dup_media(spark, sf_dir).collect()
    arriving = {r.doc_id for r in corpus if (r.doc_id // mod) % 2 == 1}
    rejected = arriving - survivors
    assert rejected and survivors
    known_blobs = {
        bytes(r.content)
        for r in corpus
        if (r.doc_id // mod) % 2 == 0 and (r.doc_id // mod // grp) % 2 == 0
    }
    rejected_blobs = [bytes(r.content) for r in corpus if r.doc_id in rejected]
    assert all(b not in known_blobs for b in rejected_blobs)


def test_ahash_scale_and_codec_invariance_property():
    """Property (hypothesis): for ANY balanced 8x8 bit pattern and ANY
    cell-aligned dims (multiples of 8, not just the corpus lattice,
    width and height independent), the average-hash of the rendered
    image recovers the pattern exactly through BOTH vendored codecs —
    PNG losslessly, JPEG within its DCT rounding (the 0/255 margin
    absorbs it). This is the invariance media_phash's dedup semantics
    stand on: same picture, any size, any encoding, one fingerprint."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from roblox_vector_search_datagen_spark.functions import jpeg as J
    from roblox_vector_search_datagen_spark.functions import png as P
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    half = st.lists(st.integers(0, 1), min_size=32, max_size=32)

    @given(half, st.integers(1, 8), st.integers(1, 8), st.booleans())
    @settings(max_examples=60, deadline=None)
    def check(raw, wf, hf, as_jpeg):
        # balance exactly like the corpus: odd positions complement
        # their even neighbor, so the cell mean is pinned to 127.5
        bits = []
        for i in range(64):
            b = raw[i // 2]
            bits.append(b if i % 2 == 0 else 1 - b)
        w, h = wf * 8, hf * 8
        rows = [
            [255 * bits[(r * 8 // h) * 8 + (c * 8 // w)] for c in range(w)]
            for r in range(h)
        ]
        blob = J.encode_jpeg_gray(rows) if as_jpeg else P.encode_png_gray(rows)
        dec = mm._decode_luminance(mm._try_real_decoder(), blob)
        assert mm._ahash64(dec) == "".join(map(str, bits))

    check()


def test_media_phash_near_dup_pairs_oracle_parity_and_exact_pair_set(spark, sf_dir):
    """Hamming<=3 banded perceptual pairs (r12): driver-style oracle
    parity, then the pair set checked against an independent O(n^2)
    brute force over the constructed expected bit patterns — valid
    because 4x16 banding is pigeonhole-COMPLETE for Hamming <= 3 and
    the cap drops nothing here (asserted via the dropped-bands twin).
    Also pins the per-group design: (m0,m1)=1, (m0,m2)=3 (the
    threshold boundary, agreeing on exactly one band), (m1,m2)=2, and
    m3 (two flips in every band) in no pair."""
    from tests.oracle_utils import compare_spark_duckdb

    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    out = mm.media_phash_near_dup_pairs(spark, sf_dir)
    compare_spark_duckdb(out, mm.media_phash_near_dup_pairs_oracle(), sf_dir)

    dropped = mm.media_phash_dropped_bands(spark, sf_dir).collect()[0]
    assert dropped.n_dropped == 0  # brute force below assumes no cap hit

    mod, grp = mm.CONTRACT_MODULO, mm.PHASH_DUP_GROUP
    doc_ids = [
        r.doc_id
        for r in mm.synthetic_near_dup_media(spark, sf_dir).select("doc_id").collect()
    ]
    bits = {d: mm._near_dup_expected_bits(d // mod) for d in doc_ids}
    expected = set()
    ids = sorted(doc_ids)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(x != y for x, y in zip(bits[a], bits[b]))
            if h <= mm.PHASH_NEAR_MAX_HAMMING:
                expected.add((a, b, h))
    got = {(r.doc_a, r.doc_b, r.hamming) for r in out.collect()}
    assert got == expected and expected

    # per-group design pins (complete groups only)
    groups = {}
    for d in ids:
        groups.setdefault(d // mod // grp, {})[d // mod % grp] = d
    full = [g for g in groups.values() if len(g) == grp]
    assert full
    for g in full:
        assert (min(g[0], g[1]), max(g[0], g[1]), 1) in got
        assert (min(g[0], g[2]), max(g[0], g[2]), 3) in got
        assert (min(g[1], g[2]), max(g[1], g[2]), 2) in got
        assert not any(g[3] in (a, b) for a, b, _ in got)
    # the boundary pair (m0,m2) agrees on exactly ONE 16-bit band
    g = full[0]
    b0, b2 = bits[g[0]], bits[g[2]]
    agree = sum(b0[j * 16 : j * 16 + 16] == b2[j * 16 : j * 16 + 16] for j in range(4))
    assert agree == 1


def test_media_phash_near_dup_pairs_band_cap_bounds_hot_buckets(spark, sf_dir):
    """The simhash band-cap discipline on the image fingerprint: every
    within-group pair needs a shared (band, val) bucket of width >= 2,
    so cap=1 drops every such bucket and the pair stream is empty."""
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    assert mm.media_phash_near_dup_pairs(spark, sf_dir, band_cap=1).count() == 0


def test_media_ingest_decision_report_parity_and_verdict_branches(spark, sf_dir):
    """The image admission ledger (r12): oracle parity, then the
    verdict semantics — every arriving blob gets exactly one row;
    perceptual_dup iff the arrival's group is a known (even-jdx) one;
    exact_dup never fires here (arriving JPEGs can't byte-match known
    PNGs) but the Spark side ran a REAL digest probe to prove it; the
    survivors are exactly media_ingest_dedup's output."""
    from tests.oracle_utils import compare_spark_duckdb

    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    out = mm.media_ingest_decision_report(spark, sf_dir)
    compare_spark_duckdb(out, mm.media_ingest_decision_report_oracle(), sf_dir)

    rows = out.collect()
    mod, grp = mm.CONTRACT_MODULO, mm.PHASH_DUP_GROUP
    verdicts = {r.verdict for r in rows}
    assert verdicts == {"perceptual_dup", "accepted"}
    assert not any(r.is_exact_dup for r in rows)
    for r in rows:
        jdx = r.doc_id // mod // grp
        assert r.is_perceptual_dup == (jdx % 2 == 0)
        assert r.verdict == ("perceptual_dup" if jdx % 2 == 0 else "accepted")
    accepted = {r.doc_id for r in rows if r.verdict == "accepted"}
    survivors = {r.doc_id for r in mm.media_ingest_dedup(spark, sf_dir).collect()}
    assert accepted == survivors


# ---------------------------------------------------------------------------
# Audio (r12): vendored RIFF/WAVE PCM16 codec + real-decode operators
# ---------------------------------------------------------------------------


def test_wav_codec_roundtrip_and_chunk_walk():
    """Encode->decode is exact for mono PCM16 at several rates and
    lengths (including length 0 and 1), and the decoder's chunk walk
    skips unknown chunks — with the RIFF odd-size pad byte honored —
    so tool-written files decode."""
    import struct

    from roblox_vector_search_datagen_spark.functions import wav

    for rate in (8000, 16000, 44100):
        for samples in ([], [0], [1, -1, 32767, -32768], list(range(-500, 500, 7))):
            blob = wav.encode_wav_pcm16(samples, rate)
            assert wav.decode_wav_pcm16(blob) == (rate, samples)

    # splice an odd-sized unknown chunk between fmt and data
    samples = [100, -100, 25]
    blob = wav.encode_wav_pcm16(samples, 8000)
    data_at = blob.index(b"data")
    junk = b"LIST" + struct.pack("<I", 5) + b"junk!" + b"\x00"  # 5 odd -> pad
    spliced = blob[:data_at] + junk + blob[data_at:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    assert wav.decode_wav_pcm16(spliced) == (8000, samples)


def test_wav_codec_refuses_malformed():
    """The strictness contract: anything that is not mono PCM16 —
    wrong container, compressed format code, stereo, 8-bit, missing
    chunks, truncated data, out-of-range samples — raises ValueError,
    never mis-decodes."""
    import struct

    import pytest

    from roblox_vector_search_datagen_spark.functions import wav

    blob = wav.encode_wav_pcm16([1000, -1000] * 50, 8000)
    with pytest.raises(ValueError):
        wav.decode_wav_pcm16(b"not a wav")
    with pytest.raises(ValueError):
        wav.decode_wav_pcm16(blob[:8] + b"AVI " + blob[12:])  # not WAVE
    fmt_at = blob.index(b"fmt ")
    for off, val in ((8, 3), (10, 2), (22, 8)):  # format=float, stereo, 8-bit
        bad = bytearray(blob)
        struct.pack_into("<H", bad, fmt_at + off, val)
        with pytest.raises(ValueError):
            wav.decode_wav_pcm16(bytes(bad))
    with pytest.raises(ValueError):
        wav.decode_wav_pcm16(blob[:-10])  # truncated data chunk
    data_at = blob.index(b"data")
    with pytest.raises(ValueError):
        wav.decode_wav_pcm16(blob[:data_at])  # data chunk missing
    with pytest.raises(ValueError):
        wav.encode_wav_pcm16([40000], 8000)  # sample out of int16
    with pytest.raises(ValueError):
        wav.encode_wav_pcm16([0], 0)  # non-positive rate


def test_audio_features_oracle_parity_and_real_arm(spark, sf_dir):
    """The audio family's value pin: driver-style parity for both
    registry queries, every row on the real arm, and the family's
    decode-once contract — frame energies per doc sum to the doc's
    total energy."""
    from tests.oracle_utils import compare_spark_duckdb

    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    feats = mm.audio_features(spark, sf_dir)
    compare_spark_duckdb(feats, mm.audio_features_oracle(), sf_dir)
    rows = feats.collect()
    assert rows and all(r.arm == "real" for r in rows)

    fe = mm.audio_frame_energy(spark, sf_dir)
    compare_spark_duckdb(fe, mm.audio_frame_energy_oracle(), sf_dir)
    by_doc = {}
    for r in fe.collect():
        by_doc[r.doc_id] = by_doc.get(r.doc_id, 0) + r.frame_sum_sq
    assert by_doc == {r.doc_id: r.sum_sq for r in rows}


def test_audio_samples_stub_arm_on_undecodable(spark, sf_dir):
    """A corrupted blob takes arm='stub' with empty samples — the
    codec refuses, the pipeline degrades deterministically, and the
    features stay well-defined (no sequence(1,-1) descent)."""
    from pyspark.sql import functions as F

    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    corrupt = mm.synthetic_audio_media(spark, sf_dir).withColumn(
        "content", F.concat(F.lit(b"XX"), F.col("content"))
    )
    out = mm.audio_samples(spark, sf_dir, media_df=corrupt).collect()
    assert out and all(r.arm == "stub" and r.samples == [] for r in out)


def test_media_ingest_near_dedup_parity_and_roles(spark, sf_dir):
    """The image front door's near-dup escalation (r12): oracle
    parity, then the role design — every arriving member within
    Hamming<=3 of its group's known base (m1, m2) is rejected, and
    survivors are exactly the arrivals sharing NO band value with any
    known base (recomputed independently from the expected bits)."""
    from tests.oracle_utils import compare_spark_duckdb

    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    out = mm.media_ingest_near_dedup(spark, sf_dir)
    compare_spark_duckdb(out, mm.media_ingest_near_dedup_oracle(), sf_dir)

    mod = mm.CONTRACT_MODULO
    doc_ids = [
        r.doc_id
        for r in mm.synthetic_near_dup_media(spark, sf_dir).select("doc_id").collect()
    ]
    def bands(d):
        s = "".join(map(str, mm._near_dup_expected_bits(d // mod)))
        return {(j, s[j * 16 : j * 16 + 16]) for j in range(4)}
    known = set()
    for d in doc_ids:
        if (d // mod) % mm.PHASH_DUP_GROUP == 0:
            known |= bands(d)
    arriving = [d for d in doc_ids if (d // mod) % mm.PHASH_DUP_GROUP != 0]
    expected = {d for d in arriving if not (bands(d) & known)}
    survivors = {r.doc_id for r in out.collect()}
    assert survivors == expected and survivors
    # m1/m2 never survive (Hamming 1/3 from a known base)
    assert all((d // mod) % mm.PHASH_DUP_GROUP == 3 for d in survivors)
    rejected = set(arriving) - survivors
    assert rejected  # the reject branch really fired


def test_audio_dup_pairs_parity_and_loudness_invariance(spark, sf_dir):
    """Loudness-invariant audio dedup (r12): oracle parity, then the
    semantics — every pair shares (n_samples, half_period) but differs
    in amplitude (same waveform, different gain: the class byte dedup
    misses), checked against an independent brute force over the k
    lattice; cap=1 drops every collision bucket."""
    from tests.oracle_utils import compare_spark_duckdb

    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    out = mm.audio_dup_pairs(spark, sf_dir)
    compare_spark_duckdb(out, mm.audio_dup_pairs_oracle(), sf_dir)

    mod = mm.CONTRACT_MODULO
    doc_ids = [
        r.doc_id
        for r in mm.synthetic_audio_media(spark, sf_dir).select("doc_id").collect()
    ]
    def key(d):
        k = d // mod
        return ((k % 5 + 1), (k % 4 + 1))  # n frames, half-period
    def amp(d):
        return ((d // mod) % 7 + 1) * 4000
    ids = sorted(doc_ids)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if key(a) == key(b)
    }
    got = {(r.doc_a, r.doc_b) for r in out.collect()}
    assert got == expected and got
    assert any(amp(a) != amp(b) for a, b in got)  # cross-gain pairs present
    assert mm.audio_dup_pairs(spark, sf_dir, bucket_cap=1).count() == 0


def test_audio_features_degrades_on_undecodable_blob(spark, sf_dir):
    """A corrupt blob must reach audio_features' OUTPUT on the stub arm
    (duration 0, empty-array features), not crash the job: the
    sample_rate=0 stub row would throw ANSI DIVIDE_BY_ZERO through a
    plain `div` (self-review r12). Also pins the fmt-chunk truncation
    refusal as ValueError, not struct.error."""
    import pytest
    from pyspark.sql import functions as F

    from roblox_vector_search_datagen_spark.functions import wav
    from roblox_vector_search_datagen_spark.operators import multimodal as mm

    corrupt = mm.synthetic_audio_media(spark, sf_dir).withColumn(
        "content", F.concat(F.lit(b"XX"), F.col("content"))
    )
    rows = mm.audio_features(spark, sf_dir, media_df=corrupt).collect()
    assert rows and all(
        r.arm == "stub"
        and r.duration_ms == 0
        and r.n_samples == 0
        and r.zero_crossings == 0
        and r.sum_sq == 0
        for r in rows
    )

    blob = wav.encode_wav_pcm16([1, -1] * 20, 8000)
    fmt_at = blob.index(b"fmt ")
    with pytest.raises(ValueError):
        wav.decode_wav_pcm16(blob[: fmt_at + 12])  # truncated mid-fmt


def test_audio_ingest_dedup_oracle_parity_and_roles(spark, sf_dir):
    """The audio front door: driver-style parity, both branches
    exercised, and the semantics — every rejected arrival shares its
    (n_samples, half-period) collision class with a known recording at
    a DIFFERENT amplitude (the loudness-invariant catch), every
    survivor's class is unseen."""
    from tests.oracle_utils import compare_spark_duckdb

    aid = M.audio_ingest_dedup(spark, sf_dir)
    compare_spark_duckdb(aid, M.audio_ingest_dedup_oracle(), sf_dir)
    survivors = {r.doc_id for r in aid.collect()}
    assert survivors
    mod = M.CONTRACT_MODULO
    fps = {r.doc_id: r.fingerprint for r in M.audio_sign_fingerprint(spark, sf_dir).collect()}
    arriving = {d for d in fps if (d // mod) % 40 >= 20}
    known = {
        fps[d] for d in fps if (d // mod) % 40 < 20 and (d // mod) % 2 == 0
    }
    assert survivors < arriving  # both branches taken
    for d in arriving:
        assert (d in survivors) == (fps[d] not in known)
    # rejected arrivals are even k (their class parity matches a known
    # member); amplitudes differ between the pair (k vs k-20 differ mod 7
    # whenever the lattice tail allows, loudness-invariance is pinned by
    # audio_dup_pairs) — here pin the class-arithmetic role split:
    for d in arriving - survivors:
        assert (d // mod) % 2 == 0
