"""TIFF and BMP codec round-trips + the Spark sniff/corpus paths. TIFF is
the canonical scanned-document format — the bilevel (1-bit) LZW case is
the classic fax/scan shape."""

import numpy as np
import pytest

from granulate_char_ocr_spark.functions import kernels
from granulate_char_ocr_spark.functions.bmp import decode_bmp, encode_bmp
from granulate_char_ocr_spark.functions.tiff import decode_tiff, encode_tiff
from granulate_char_ocr_spark.sources.synthetic import render_word


@pytest.mark.parametrize("comp", [1, 5, 32773])  # none / LZW / PackBits
def test_tiff_gray_rgb_roundtrip(comp):
    rng = np.random.default_rng(13)
    gray = rng.integers(0, 256, (47, 61), dtype=np.uint8)
    rgb = rng.integers(0, 256, (23, 31, 3), dtype=np.uint8)
    assert np.array_equal(decode_tiff(encode_tiff(gray, compression=comp)), gray)
    assert np.array_equal(decode_tiff(encode_tiff(rgb, compression=comp)), rgb)
    # multi-strip layout
    assert np.array_equal(
        decode_tiff(encode_tiff(gray, compression=comp, rows_per_strip=10)),
        gray,
    )


def test_tiff_lzw_width_transitions():
    """60 kB of noise crosses every LZW code width (9→10→11→12) and a
    table reset — the early-change off-by-one shows up here if wrong."""
    rng = np.random.default_rng(7)
    big = rng.integers(0, 256, (200, 300), dtype=np.uint8)
    assert np.array_equal(decode_tiff(encode_tiff(big, compression=5)), big)


def test_tiff_predictor_horizontal_differencing():
    smooth = np.clip(
        np.add.outer(np.arange(47) * 3, np.arange(61) * 2), 0, 255
    ).astype(np.uint8)
    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, (23, 31, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_tiff(encode_tiff(smooth, compression=5, predictor=2)), smooth
    )
    assert np.array_equal(
        decode_tiff(
            encode_tiff(rgb, compression=5, predictor=2, rows_per_strip=7)
        ),
        rgb,
    )


@pytest.mark.parametrize("comp", [1, 5, 32773])
def test_tiff_bilevel_scan_shape(comp):
    rng = np.random.default_rng(5)
    bil = (rng.integers(0, 2, (33, 50), dtype=np.uint8) * 255).astype(np.uint8)
    data = encode_tiff(bil, compression=comp, bilevel=True, rows_per_strip=9)
    assert np.array_equal(decode_tiff(data), bil)


def test_tiff_rejects_unsupported():
    with pytest.raises(ValueError, match="byte-order"):
        decode_tiff(b"notatiff")
    data = bytearray(encode_tiff(np.zeros((4, 4), dtype=np.uint8)))
    i = data.find(b"\x03\x01")  # compression tag (259) little-endian
    data[i + 8] = 6  # old-style JPEG-in-TIFF (deprecated, unsupported)
    with pytest.raises(ValueError, match="compression 6"):
        decode_tiff(bytes(data))


def test_bmp_roundtrips():
    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, (13, 17), dtype=np.uint8)  # stride padding
    rgb = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(gray)), gray)
    assert np.array_equal(decode_bmp(encode_bmp(rgb)), rgb)
    with pytest.raises(ValueError, match="signature"):
        decode_bmp(b"XX")


def test_glyph_through_tiff_and_bmp_sniff(spark):
    """Lossless formats through decode_payload('auto'): the bilevel LZW
    TIFF (the scan shape) and the BMP recover the exact glyph plane."""
    from granulate_char_ocr_spark.operators.multimodal import decode_payload

    glyph = render_word("WORK", 0)  # 0/255 plane
    tif = encode_tiff(glyph, compression=5, bilevel=True)
    bmp = encode_bmp(glyph)
    for payload in (tif, bmp):
        gray = decode_payload(payload, "auto", 0, 0)
        assert np.array_equal(gray, glyph)
        chars = kernels.recognize_word(gray)
        assert "".join(c["latin"] for c in chars) == "WORK"


def test_five_format_corpus_scan(spark, tmp_path):
    """PNG, JPEG, GIF, TIFF and BMP files in one directory — all sniffed
    from content and recognized end-to-end."""
    from pyspark.sql import functions as F

    from granulate_char_ocr_spark.functions.gif import encode_gif
    from granulate_char_ocr_spark.functions.jpeg import encode_jpeg
    from granulate_char_ocr_spark.functions.png import encode_png
    from granulate_char_ocr_spark.operators.extract import extract_media_spans
    from granulate_char_ocr_spark.sources.binary_files import read_image_corpus

    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    g = render_word("US", 2)
    files = {
        "TEAM_1.png": encode_png(render_word("TEAM", 0)),
        "WORK_2.jpg": encode_jpeg(render_word("WORK", 1), quality=95),
        "US_3.gif": encode_gif((g > 0).astype(np.uint8), pal),
        "WE_4.tif": encode_tiff(render_word("WE", 0), compression=32773),
        "LAB_5.bmp": encode_bmp(render_word("LAB", 1)),
    }
    for name, payload in files.items():
        (tmp_path / name).write_bytes(payload)
    corpus = read_image_corpus(spark, str(tmp_path / "*"))
    rec = extract_media_spans(
        corpus.select(
            corpus.path.alias("doc_id"),
            corpus.path.alias("media_ref"),
            "width",
            "height",
            "pixels",
        ).withColumn("offset", F.lit(0)),
        detail=False,
    )
    got = {r["media_ref"].rsplit("/", 1)[-1]: r["text"] for r in rec.collect()}
    assert got == {
        "TEAM_1.png": "TEAM",
        "WORK_2.jpg": "WORK",
        "US_3.gif": "US",
        "WE_4.tif": "WE",
        "LAB_5.bmp": "LAB",
    }


def test_tiff_1bit_palette_uses_colormap():
    """Review fix: a 1-bit palette TIFF (photometric 3 + 2-entry ColorMap)
    must consult the colormap, not fall through to bilevel grayscale."""
    import struct as _struct

    data = bytearray(encode_tiff(
        (np.eye(6, dtype=np.uint8) * 255), bilevel=True
    ))
    # rewrite photometric 1 -> 3 and append a ColorMap IFD entry is complex;
    # instead build the minimal file by hand: reuse encoder output's strip
    # and construct a fresh IFD with photometric 3 + ColorMap
    bits = np.packbits(np.eye(6, dtype=bool), axis=1)
    strip = bits.tobytes()
    cmap_vals = [0x0000, 0xFFFF] + [0x0000, 0x8080] + [0x0000, 0x4040]
    entries = []
    extra = bytearray()
    ifd_off = 8
    n_tags = 10
    data_off = ifd_off + 2 + n_tags * 12 + 4

    def place(payload):
        off = data_off + len(extra)
        extra.extend(payload)
        return off

    strip_off = place(strip)
    cmap_off = place(
        b"".join(_struct.pack("<H", v) for v in cmap_vals)
    )
    def e(tag, typ, count, value):
        entries.append(_struct.pack("<HHI", tag, typ, count) + value)

    e(256, 4, 1, _struct.pack("<I", 6))
    e(257, 4, 1, _struct.pack("<I", 6))
    e(258, 3, 1, _struct.pack("<HH", 1, 0))
    e(259, 3, 1, _struct.pack("<HH", 1, 0))
    e(262, 3, 1, _struct.pack("<HH", 3, 0))
    e(273, 4, 1, _struct.pack("<I", strip_off))
    e(277, 3, 1, _struct.pack("<HH", 1, 0))
    e(278, 4, 1, _struct.pack("<I", 6))
    e(279, 4, 1, _struct.pack("<I", len(strip)))
    e(320, 3, 6, _struct.pack("<I", cmap_off))
    tif = (
        b"II*\x00" + _struct.pack("<I", ifd_off)
        + _struct.pack("<H", n_tags) + b"".join(entries)
        + _struct.pack("<I", 0) + bytes(extra)
    )
    out = decode_tiff(tif)
    assert out.shape == (6, 6, 3)
    want = np.where(
        np.eye(6, dtype=bool)[..., None],
        np.array([0xFF, 0x80, 0x40], dtype=np.uint8),
        np.zeros(3, dtype=np.uint8),
    )
    assert np.array_equal(out, want)


@pytest.mark.parametrize("comp", [8, 32946])
def test_tiff_deflate(comp):
    """Deflate strips (Adobe 8 and legacy 32946): zlib per strip, with
    the horizontal predictor composing the same as under LZW."""
    rng = np.random.default_rng(5)
    gray = rng.integers(0, 256, (31, 47), dtype=np.uint8)
    rgb = rng.integers(0, 256, (19, 23, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_tiff(encode_tiff(gray, compression=comp)), gray
    )
    assert np.array_equal(
        decode_tiff(encode_tiff(rgb, compression=comp, rows_per_strip=7)),
        rgb,
    )
    assert np.array_equal(
        decode_tiff(encode_tiff(gray, compression=comp, predictor=2)), gray
    )


def test_tiff_rejects_planar_and_lsb_fillorder():
    """ADVICE r3: PlanarConfiguration=2 (tag 284) and FillOrder=2 (tag 266)
    must reject with a reason, not silently scramble."""
    base = encode_tiff(np.zeros((4, 4), dtype=np.uint8))
    for tag_le, val, msg in (
        (b"\x1c\x01", 2, "PlanarConfiguration"),  # 284
        (b"\x0a\x01", 2, "FillOrder"),            # 266
    ):
        data = bytearray(base)
        # rewrite the SamplesPerPixel entry (tag 277, value 1) in place —
        # the decoder then falls back to its default spp=1
        i = data.find(b"\x15\x01")
        assert i >= 0
        data[i : i + 2] = tag_le
        data[i + 8] = val
        with pytest.raises(ValueError, match=msg):
            decode_tiff(bytes(data))


@pytest.mark.parametrize("comp", [1, 2, 3, 4])
def test_tiff_fillorder2_roundtrip(comp):
    """r4: FillOrder=2 (lsb-first, the fax-world convention) round-trips
    for bilevel none/MH-RLE/G3/G4; tag 266 is written and honored."""
    rng = np.random.default_rng(6)
    img = (rng.random((21, 37)) < 0.3).astype(np.uint8) * 255
    data = encode_tiff(img, compression=comp, bilevel=True, fill_order=2)
    assert b"\x0a\x01" in data  # tag 266 present
    got = decode_tiff(data)
    assert np.array_equal(got > 0, img > 0)
    # and the bytes differ from the msb-first encoding (it's not a no-op)
    assert data != encode_tiff(img, compression=comp, bilevel=True)


def test_tiff_fillorder2_rejected_where_unsupported():
    with pytest.raises(ValueError, match="fill_order=2"):
        encode_tiff(np.zeros((4, 4), dtype=np.uint8), fill_order=2)
    # a (synthetic) LZW file claiming FillOrder=2 must reject, not scramble
    base = encode_tiff(
        np.zeros((4, 4), dtype=np.uint8), compression=5
    )
    data = bytearray(base)
    i = data.find(b"\x15\x01")  # rewrite SamplesPerPixel slot into 266=2
    data[i : i + 2] = b"\x0a\x01"
    data[i + 8] = 2
    with pytest.raises(ValueError, match="FillOrder=2"):
        decode_tiff(bytes(data))


def test_tiff_lzw_photo_scale_budget():
    """Perf guard: LZW on a smooth 1 MP grayscale (the pathological input
    for the old byte-string dictionary + unmasked bit accumulator, which
    went quadratic: minutes instead of sub-second) stays linear — min-of-2
    with ~10x headroom for load drift (measured 0.56 s encode / 0.70 s
    decode solo)."""
    import time

    rng = np.random.default_rng(3)
    img = (np.cumsum(rng.integers(-3, 4, (1024, 1024)), axis=1) % 256).astype(
        np.uint8
    )
    data = encode_tiff(img, compression=5)
    best_enc = best_dec = None
    for _ in range(2):
        t0 = time.perf_counter()
        data = encode_tiff(img, compression=5)
        t1 = time.perf_counter()
        out = decode_tiff(data)
        t2 = time.perf_counter()
        best_enc = t1 - t0 if best_enc is None else min(best_enc, t1 - t0)
        best_dec = t2 - t1 if best_dec is None else min(best_dec, t2 - t1)
    assert np.array_equal(out, img)
    assert best_enc < 6.0, f"LZW 1MP encode took {best_enc:.2f}s"
    assert best_dec < 7.0, f"LZW 1MP decode took {best_dec:.2f}s"


def test_tiff_multipage_roundtrip():
    """Multi-page TIFF (one IFD per page chained by the next-IFD
    pointer — the fax/scanned-document convention): decode_tiff reads the
    first page for gray and bilevel compressions, and the single-page
    writer output is byte-identical to a 1-page chain."""
    from codec_fixtures import encode_tiff_multipage

    rng = np.random.default_rng(2)
    pages = [
        (np.cumsum(rng.integers(-2, 3, (20 + i, 31)), axis=1) % 256).astype(
            np.uint8
        )
        for i in range(4)
    ]
    for comp in (1, 5, 8, 32773):
        data = encode_tiff_multipage(pages, compression=comp)
        assert np.array_equal(decode_tiff(data), pages[0])
    bil = [(p > 128).astype(np.uint8) * 255 for p in pages]
    data = encode_tiff_multipage(bil, compression=4, bilevel=True)
    assert np.array_equal(decode_tiff(data) > 0, bil[0] > 0)
    assert encode_tiff(pages[0], compression=5) == encode_tiff_multipage(
        pages[:1], compression=5
    )


def test_tiff_tiled_roundtrip():
    """TIFF 6.0 §15 tiled layout (tags 322-325): equal independently-
    compressed tiles, edges padded to the grid and cropped on decode;
    tile dims are spec-required multiples of 16 (which byte-aligns
    bilevel tile columns)."""
    rng = np.random.default_rng(12)
    gray = (np.cumsum(rng.integers(-2, 3, (70, 90)), axis=1) % 256).astype(
        np.uint8
    )
    rgb = rng.integers(0, 256, (50, 45, 3), dtype=np.uint8)
    bil = (gray > 128).astype(np.uint8) * 255
    for comp in (1, 5, 8, 32773):
        data = encode_tiff(gray, compression=comp, tile=32)
        assert b"\x42\x01" in data  # tag 322 present
        assert np.array_equal(decode_tiff(data), gray)
    # predictor applies per tile
    data = encode_tiff(gray, compression=5, predictor=2, tile=16)
    assert np.array_equal(decode_tiff(data), gray)
    assert np.array_equal(
        decode_tiff(encode_tiff(rgb, compression=8, tile=16)), rgb
    )
    # CCITT tiles: each tile its own fax-coded stream
    for comp in (2, 3, 4):
        data = encode_tiff(bil, compression=comp, bilevel=True, tile=32)
        assert np.array_equal(decode_tiff(data) > 0, bil > 0)
    # exact-multiple dims need no padding
    sq = gray[:64, :64]
    assert np.array_equal(
        decode_tiff(encode_tiff(sq, compression=5, tile=32)), sq
    )


def test_tiff_tile_validation():
    img = np.zeros((20, 20), np.uint8)
    with pytest.raises(ValueError, match="multiple of 16"):
        encode_tiff(img, tile=20)
    with pytest.raises(ValueError, match="exclusive"):
        encode_tiff(img, tile=16, rows_per_strip=8)
    # a tiled file claiming a non-multiple-of-16 tile rejects on decode
    data = bytearray(encode_tiff(img, tile=16))
    i = data.find(b"\x42\x01")  # tag 322 value
    data[i + 8] = 20
    with pytest.raises(ValueError, match="tile size"):
        decode_tiff(bytes(data))


def test_tiff_16bit_roundtrip():
    """16-bit samples (scientific/high-bit-depth scans): exact uint16
    round-trip with scale_16bit=False, high-byte uint8 by default
    (matching decode_png), strips and tiles, gray and RGB."""
    rng = np.random.default_rng(13)
    deep = rng.integers(0, 65536, (40, 55), dtype=np.uint16)
    for comp in (1, 5, 8, 32773):
        data = encode_tiff(deep, compression=comp)
        full = decode_tiff(data, scale_16bit=False)
        assert full.dtype == np.uint16 and np.array_equal(full, deep)
        scaled = decode_tiff(data)
        assert scaled.dtype == np.uint8
        assert np.array_equal(scaled, (deep >> 8).astype(np.uint8))
    rgb = rng.integers(0, 65536, (24, 17, 3), dtype=np.uint16)
    assert np.array_equal(
        decode_tiff(encode_tiff(rgb, compression=8), scale_16bit=False), rgb
    )
    assert np.array_equal(
        decode_tiff(encode_tiff(deep, compression=5, tile=16),
                    scale_16bit=False),
        deep,
    )
    with pytest.raises(ValueError):  # CCITT-bilevel check fires first
        encode_tiff(deep, compression=4)
    # predictor 2 differs per 16-bit SAMPLE (§14), and pays off on
    # smooth data: exact round-trip, strips and tiles
    smooth = (
        np.cumsum(rng.integers(-300, 301, (40, 55)), axis=1) % 65536
    ).astype(np.uint16)
    for kw in ({}, {"tile": 16}):
        d2 = encode_tiff(smooth, compression=5, predictor=2, **kw)
        assert np.array_equal(decode_tiff(d2, scale_16bit=False), smooth)
    assert len(encode_tiff(smooth, compression=5, predictor=2)) < len(
        encode_tiff(smooth, compression=5)
    )


def test_tiff_deflate_bomb_bounded():
    """Review fix: a Deflate strip that inflates far past the declared
    strip size must not expand fully in memory — inflation is bounded
    by the expected byte count."""
    import struct
    import time
    import zlib as _zlib

    img = np.zeros((16, 16), np.uint8)
    data = bytearray(encode_tiff(img, compression=8))
    bomb = _zlib.compress(bytes(50_000_000), 9)  # ~48 KB -> 50 MB
    off = len(data)
    i273 = data.find(b"\x11\x01")
    struct.pack_into("<I", data, i273 + 8, off)
    i279 = data.find(b"\x17\x01")
    struct.pack_into("<I", data, i279 + 8, len(bomb))
    data += bomb
    t0 = time.perf_counter()
    out = decode_tiff(bytes(data))
    dt = time.perf_counter() - t0
    assert np.array_equal(out, img)  # first 256 inflated bytes are zeros
    assert dt < 2.0, f"bounded inflate took {dt:.1f}s"


def test_tiff_tile_grid_amplification_rejected():
    """Review fix: a tiny image declaring huge tiles (allocation
    amplification) rejects before decompressing the tile grid."""
    import struct

    img = np.zeros((16, 16), np.uint8)
    data = bytearray(encode_tiff(img, tile=16))
    for tag in (b"\x42\x01", b"\x43\x01"):  # TileWidth/TileLength
        i = data.find(tag)
        struct.pack_into("<I", data, i + 8, 8192)
    with pytest.raises(ValueError, match="implausibly exceeds"):
        decode_tiff(bytes(data))
