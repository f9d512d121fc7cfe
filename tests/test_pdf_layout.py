"""PDF layout parse — positioned runs -> reading order (functions/pdf.py).

The line-based extractor reads text in DRAW order; these tests pin the
text-matrix tracker (Tm/Td/TD/T*/TL/' per ISO 32000-1 §9.4.2) and the
one-level XY-cut that restores reading order for multi-column and
out-of-sequence draws, plus the Spark-side ``pdf_texts(layout=True)``
operator."""

import zlib

import pytest

from codec_fixtures import decode_pdf_runs, encode_pdf_cid
from granulate_char_ocr_spark.functions import pdf
from granulate_char_ocr_spark.functions.pdf import (
    _assemble_single,
    decode_pdf_layout_pages,
    decode_pdf_text,
    decode_pdf_text_layout,
    encode_pdf,
    encode_pdf_runs,
)

# two-column page drawn right-column-first per line — the interleave a
# draw-order reader cannot undo
TWO_COL = [
    (300.0, 700.0, "RIGHT TOP"),
    (50.0, 700.0, "LEFT TOP"),
    (300.0, 688.0, "RIGHT MID"),
    (50.0, 688.0, "LEFT MID"),
    (50.0, 676.0, "LEFT BOT"),
]
TWO_COL_READING = "LEFT TOP\nLEFT MID\nLEFT BOT\nRIGHT TOP\nRIGHT MID"


@pytest.mark.parametrize("objstm", [False, True])
def test_two_columns_reading_order(objstm):
    """Interleaved column draws come back column-major (left column
    top-to-bottom, then right), in both 1.4 and 1.5 layouts; the
    draw-order reader keeps the interleave (the difference this feature
    exists for)."""
    data = encode_pdf_runs(TWO_COL, object_streams=objstm)
    assert decode_pdf_text_layout(data) == TWO_COL_READING
    assert decode_pdf_text(data) == "".join(t for _, _, t in TWO_COL)


def test_runs_roundtrip_positions():
    """decode_pdf_runs returns each show's absolute (x, y, text) in draw
    order — the writer's Tm coordinates verbatim."""
    assert decode_pdf_runs(encode_pdf_runs(TWO_COL)) == TWO_COL


def test_single_column_matches_draw_order():
    """For a plain top-down single-column document (encode_pdf's
    Td-relative layout) reading order IS draw order — the layout path
    must agree with the line-based extractor exactly."""
    lines = ["first line", "second line", "third line"]
    data = encode_pdf(lines)
    assert decode_pdf_text_layout(data) == decode_pdf_text(data)
    assert decode_pdf_text_layout(data) == "\n".join(lines)


def test_same_line_runs_sorted_left_to_right():
    """Runs in the same y-band (within _LINE_TOL) form one line sorted
    by x regardless of draw order, concatenated without separators."""
    runs = [
        (120.0, 700.0, " world"),
        (72.0, 700.5, "hello"),
        (72.0, 686.0, "next line"),
    ]
    assert (
        decode_pdf_text_layout(encode_pdf_runs(runs))
        == "hello world\nnext line"
    )


def test_no_false_gutter_on_small_gaps():
    """X-gaps narrower than _MIN_GUTTER never split columns: a ragged
    single column whose second line starts 6 pt right of the first
    line's estimated extent stays one column (estimated widths can only
    create gutters BETWEEN runs, and only past the threshold)."""
    # "abcd" at 12pt Courier-estimate spans 72 .. 72 + 4*0.6*12 = 100.8
    runs = [
        (72.0, 700.0, "abcd"),
        (106.0, 688.0, "ef"),  # 5.2 pt past the estimated extent
    ]
    assert decode_pdf_text_layout(encode_pdf_runs(runs)) == "abcd\nef"
    # same shape with a real gutter does split (and reads left-first)
    wide = [
        (72.0, 688.0, "abcd"),
        (200.0, 700.0, "ef"),
    ]
    assert decode_pdf_text_layout(encode_pdf_runs(wide)) == "abcd\nef"


def test_relative_positioning_operators():
    """TD (translate + set leading), T* (next line) and ' (next line +
    show) all move the text matrix the tracker must follow."""
    ops = b"\n".join(
        [
            b"BT",
            b"/F1 12 Tf",
            b"1 0 0 1 72 720 Tm",
            b"(line one) Tj",
            b"0 -14 TD",  # leading := 14, move to 706
            b"(line two) Tj",
            b"T*",  # 692
            b"(line three) Tj",
            b"(line four) '",  # 678 + show
            b"ET",
        ]
    )
    data = _assemble_single(zlib.compress(ops), False)
    assert (
        decode_pdf_text_layout(data)
        == "line one\nline two\nline three\nline four"
    )
    # the draw-order reader agrees on this single-column stream
    assert decode_pdf_text(data) == decode_pdf_text_layout(data)


def test_layout_pages_mirror_text_pages():
    """decode_pdf_layout_pages yields one string per text-bearing
    stream, like decode_pdf_text's stream walk; a graphics-only BT/ET
    stream is omitted from both."""
    data = encode_pdf_runs(TWO_COL)
    assert decode_pdf_layout_pages(data) == [TWO_COL_READING]
    empty = zlib.compress(b"BT\nET")
    graft = (
        b"9 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n"
        % len(empty)
        + empty
        + b"\nendstream\nendobj\n"
    )
    i = data.index(b"xref")
    patched = data[:i] + graft + data[i:]
    assert decode_pdf_layout_pages(patched) == [TWO_COL_READING]


def test_pdf_texts_layout_operator(spark):
    """Spark operator: pdf_texts(layout=True) restores reading order per
    document; the default path keeps draw order (both over the same
    mapInPandas plumbing)."""
    import pandas as pd

    from granulate_char_ocr_spark.operators.docparse import pdf_texts

    pdf = pd.DataFrame(
        {
            "doc_id": ["cols", "plain"],
            "payload": [
                encode_pdf_runs(TWO_COL, object_streams=True),
                encode_pdf(["just one line"]),
            ],
        }
    )
    df = spark.createDataFrame(pdf, "doc_id string, payload binary")
    got = {r["doc_id"]: r["extracted"] for r in pdf_texts(df, layout=True).collect()}
    assert got == {"cols": TWO_COL_READING, "plain": "just one line"}
    draw = {r["doc_id"]: r["extracted"] for r in pdf_texts(df).collect()}
    assert draw["cols"] == "".join(t for _, _, t in TWO_COL)


# --- /ToUnicode CMap decoding (VERDICT r4 item 4) ----------------------------


def test_cid_font_roundtrip_all_paths():
    lines = [
        "Hello CMap world",
        "naïve — café €2 中文 😀",  # BMP + supplementary plane
        "ligature ﬃ expands",
    ]
    blob = encode_pdf_cid(lines)
    want = "\n".join(lines)
    assert pdf.decode_pdf_text(blob) == want
    assert pdf.decode_pdf_text_layout(blob) == want
    assert pdf.decode_pdf_layout_pages(blob) == [want]


def _cid_pdf_with_cmap(cmap_body: bytes, hex_show: bytes) -> bytes:
    """Hand-assembled CID PDF around an arbitrary CMap body — the
    fixtures the writer twin cannot produce (array-form bfrange, 1-byte
    codespace, malformed CMaps)."""
    import zlib

    content = zlib.compress(
        b"BT\n/F1 12 Tf\n72 720 Td\n<" + hex_show + b"> Tj\nET"
    )
    cmap = zlib.compress(cmap_body)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H "
        b"/BaseFont /X+F /DescendantFonts [6 0 R] /ToUnicode 7 0 R >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /X+F >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(cmap)
        + cmap + b"\nendstream",
    ]
    return pdf._assemble_classic(objs)


def test_bfrange_array_destination_form():
    cmap = (
        b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\n"
        b"endcodespacerange\n1 beginbfrange\n"
        b"<0001> <0003> [<0058> <0059005A> <0041>]\n"  # X, YZ, A
        b"endbfrange\nendcmap"
    )
    blob = _cid_pdf_with_cmap(cmap, b"000100020003")
    assert pdf.decode_pdf_text(blob) == "XYZA"


def test_one_byte_codespace_and_unmapped_replacement():
    cmap = (
        b"begincmap\n1 begincodespacerange\n<00> <FF>\n"
        b"endcodespacerange\n2 beginbfchar\n<41> <0061>\n<42> <0062>\n"
        b"endbfchar\nendcmap"
    )
    blob = _cid_pdf_with_cmap(cmap, b"414243")  # C (0x43) unmapped
    assert pdf.decode_pdf_text(blob) == "ab�"


def test_bfrange_destination_overflow_clamps_not_raises():
    """ADVICE r5: a bfrange whose destination increments past the
    n_dst-byte ceiling (<FF00> <FFFF> <FFFE> — emitted by buggy wild
    generators) must clamp at the boundary, not crash the document's
    decode with OverflowError."""
    cmap = (
        b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\n"
        b"endcodespacerange\n1 beginbfrange\n"
        b"<FF00> <FFFF> <FFFE>\n"  # dst overflows 2 bytes after +1
        b"endbfrange\nendcmap"
    )
    # FF00 -> U+FFFE, FF01 -> U+FFFF; FF02 crosses the ceiling -> unmapped
    blob = _cid_pdf_with_cmap(cmap, b"FF00FF02")
    assert pdf.decode_pdf_text(blob) == "￾�"


def test_font_name_rebound_to_different_object_drops_cmap():
    """ADVICE r5: /F1 bound to a CID font on page 1 and a DIFFERENT
    (plain) font object on page 2 makes the name ambiguous — its CMap
    must not be applied to either page's shows (default decode, the
    pre-CMap behavior), rather than page 1's map corrupting page 2."""
    import zlib

    cmap_body = (
        b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\n"
        b"endcodespacerange\n1 beginbfchar\n<4142> <005A>\nendbfchar\n"
        b"endcmap"
    )
    c1 = zlib.compress(b"BT\n/F1 12 Tf\n72 720 Td\n<4142> Tj\nET")
    c2 = zlib.compress(b"BT\n/F1 12 Tf\n72 720 Td\n(AB) Tj\nET")
    cmap = zlib.compress(cmap_body)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R 8 0 R] /Count 2 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H "
        b"/BaseFont /X+F /DescendantFonts [10 0 R] /ToUnicode 7 0 R >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c1)
        + c1 + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(cmap)
        + cmap + b"\nendstream",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 6 0 R >> >> /Contents 9 0 R >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c2)
        + c2 + b"\nendstream",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /X+F >>",
    ]
    blob = pdf._assemble_classic(objs)
    # default decode on both pages: 0x41 0x42 read as PDFDocEncoding
    assert pdf.decode_pdf_text(blob) == "AB\nAB"


def test_malformed_cmap_falls_back_to_default_decode():
    # an empty/broken CMap must not raise — the font falls back to the
    # pre-r5 §7.9.2 decode (glyph bytes read as PDFDocEncoding)
    blob = _cid_pdf_with_cmap(b"begincmap nothing here endcmap", b"4142")
    assert pdf.decode_pdf_text(blob) == "\x41\x42"


def test_mixed_fonts_cmap_and_plain():
    """Tf switches the active CMap; a plain font in the same stream
    keeps the default string decode."""
    import zlib

    cmap_body = (
        b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\n"
        b"endcodespacerange\n1 beginbfchar\n<0007> <0051>\nendbfchar\n"
        b"endcmap"
    )
    content = zlib.compress(
        b"BT\n/F1 12 Tf\n72 720 Td\n<0007> Tj\n"
        b"0 -14 Td\n/F2 12 Tf\n(plain) Tj\nET"
    )
    cmap = zlib.compress(cmap_body)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R /F2 6 0 R >> >> "
        b"/Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H "
        b"/BaseFont /X+F /DescendantFonts [8 0 R] /ToUnicode 7 0 R >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(cmap)
        + cmap + b"\nendstream",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /X+F >>",
    ]
    blob = pdf._assemble_classic(objs)
    assert pdf.decode_pdf_text(blob) == "Q\nplain"


def test_tounicode_writer_emits_bfranges():
    # consecutive alphabet → the writer must use the bfrange form (the
    # reader's range path is then under the round-trip, not just bfchar)
    blob = encode_pdf_cid(["abcdefgh", "XYZ"])
    # find + inflate the CMap stream and check its shape
    import re
    import zlib

    cm = None
    for m in pdf._STREAM_RE.finditer(blob):
        body = zlib.decompress(pdf._stream_body(m, blob,
                                                pdf._direct_length(m.group("dict"))))
        if b"begincmap" in body:
            cm = body
    assert cm is not None and b"beginbfrange" in cm
    assert pdf.decode_pdf_text(blob) == "abcdefgh\nXYZ"
