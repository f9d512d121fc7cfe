"""Charset sniffing + decode (functions/charset.py) and the decode_bodies
operator."""

import codecs

from granulate_char_ocr_spark.functions.charset import (
    decode_body,
    sniff_charset,
)

TEXT = "naïve café — résumé"


def test_bom_beats_everything():
    body = codecs.BOM_UTF16_LE + TEXT.encode("utf-16-le")
    assert sniff_charset(body, "text/html; charset=utf-8") == "utf-16-le"
    assert decode_body(body, "text/html; charset=utf-8") == TEXT


def test_utf8_bom_stripped():
    body = codecs.BOM_UTF8 + TEXT.encode("utf-8")
    assert decode_body(body) == TEXT


def test_http_charset_param():
    body = TEXT.encode("windows-1252")
    assert (
        sniff_charset(body, 'text/html; charset="ISO-8859-1"')
        == "windows-1252"
    )
    assert decode_body(body, "text/html; charset=iso-8859-1") == TEXT


def test_meta_charset_prescan():
    body = (
        '<html><head><meta charset="windows-1252"></head><body>'.encode()
        + TEXT.encode("windows-1252")
    )
    assert sniff_charset(body) == "windows-1252"
    assert TEXT in decode_body(body)


def test_meta_http_equiv_form():
    body = (
        b'<meta http-equiv="Content-Type" '
        b'content="text/html; charset=ISO-8859-1">'
        + "à la".encode("windows-1252")
    )
    assert sniff_charset(body) == "windows-1252"


def test_meta_outside_prescan_window_ignored():
    body = b" " * 1100 + b'<meta charset="utf-16le">' + b"plain"
    # falls through to the UTF-8 attempt
    assert sniff_charset(body) == "utf-8"


def test_unknown_label_falls_through():
    body = TEXT.encode("utf-8")
    assert sniff_charset(body, "text/html; charset=klingon-8") == "utf-8"


def test_utf8_attempt_then_cp1252_fallback():
    assert sniff_charset(TEXT.encode("utf-8")) == "utf-8"
    assert sniff_charset(TEXT.encode("windows-1252")) == "windows-1252"
    # 0x93/0x94 are cp1252 curly quotes — undefined in latin-1 proper
    assert decode_body(b"\x93quoted\x94") == "“quoted”"


def test_label_lie_yields_replacement_not_crash():
    body = b"ok \xff\xfe\xfa broken"
    out = decode_body(body, "text/html; charset=utf-8")
    assert out.startswith("ok ") and "�" in out


def test_decode_bodies_operator(spark):
    from granulate_char_ocr_spark.operators.docparse import decode_bodies

    rows = [
        (1, bytearray(TEXT.encode("utf-8")), "text/html"),
        (2, bytearray(TEXT.encode("windows-1252")),
         "text/html; charset=latin-1"),
        (3, bytearray(codecs.BOM_UTF16_BE + TEXT.encode("utf-16-be")),
         "text/html"),
        (4, bytearray(b"plain ascii"), None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id int, body binary, content_type string"
    )
    got = {r.doc_id: r.text for r in decode_bodies(df).collect()}
    assert got == {1: TEXT, 2: TEXT, 3: TEXT, 4: "plain ascii"}


def test_decode_bodies_null_body_passes_through(spark):
    from granulate_char_ocr_spark.operators.docparse import decode_bodies

    df = spark.createDataFrame(
        [(1, None, "text/html"), (2, bytearray(b"ok"), None)],
        "doc_id int, body binary, content_type string",
    )
    got = {r.doc_id: r.text for r in decode_bodies(df).collect()}
    assert got == {1: None, 2: "ok"}
