"""The per-row payload operators: each one's output schema and its
contract for a NULL payload (raise, zero rows, or one null row)."""

import os

import pytest

from granulate_char_ocr_spark.operators import debug_sink, docparse, multimodal
from granulate_char_ocr_spark.sources import binary_files

RAISES = "raises"
DOC = "doc_id string, payload binary"
MEDIA = multimodal.MULTIMODAL_SCHEMA
STORE = "media_ref string, word string, width int, height int, pixels binary"
PAGES = STORE + ", page_no int"
RAW = "media_ref string, width int, height int"

# name -> (operator, input DDL, the one input row, output DDL, outcome)
CASES = {
    "pdf_texts": (
        docparse.pdf_texts, DOC, ("d", None),
        "doc_id string, extracted string", RAISES,
    ),
    "warc_records": (
        docparse.warc_records, "file_id string, payload binary", ("f", None),
        "file_id string, rec_index int, rec_type string, url string, "
        "http_status int, content_type string, body binary",
        RAISES,
    ),
    "decode_bodies": (
        docparse.decode_bodies,
        "doc_id string, body binary, content_type string",
        ("d", None, "text/html"),
        "doc_id string, text string",
        [("d", None)],
    ),
    "pdf_pages": (
        docparse.pdf_pages, DOC, ("d", None),
        "doc_id string, page_no int, page_text string", RAISES,
    ),
    "docx_texts": (
        docparse.docx_texts, DOC, ("d", None),
        "doc_id string, extracted string, n_members int", RAISES,
    ),
    "archive_members": (
        docparse.archive_members, DOC, ("d", None),
        "doc_id string, member_name string, member_size bigint, "
        "member binary",
        RAISES,
    ),
    "xlsx_tables": (
        docparse.xlsx_tables, DOC, ("d", None),
        "doc_id string, row_idx int, cells array<string>, n_cells int",
        RAISES,
    ),
    "decode_media_store": (
        multimodal.decode_media_store, STORE, ("m", "w", 2, 2, None),
        STORE, RAISES,
    ),
    "decode_media_store_permissive": (
        lambda df: multimodal.decode_media_store(df, permissive=True),
        STORE, ("m", "w", 2, 2, None),
        STORE, [("m", "w", 0, 0, None)],
    ),
    "explode_tiff_pages": (
        multimodal.explode_tiff_pages, STORE, ("m", "w", 2, 2, None),
        PAGES, RAISES,
    ),
    "explode_tiff_pages_permissive": (
        lambda df: multimodal.explode_tiff_pages(df, permissive=True),
        STORE, ("m", "w", 2, 2, None),
        PAGES, [("m", "w", 0, 0, None, 0)],
    ),
    "resize_images": (
        multimodal.resize_images, MEDIA,
        ("m", "image", "raw", 2, 2, 1, 0, None),
        RAW + ", payload binary", RAISES,
    ),
    "sample_frames": (
        multimodal.sample_frames, MEDIA,
        ("m", "video", "raw", 2, 2, 3, 0, None),
        "media_ref string, frame_index int, width int, height int, "
        "payload binary",
        [],
    ),
    "audio_features": (
        multimodal.audio_features, MEDIA,
        ("m", "audio", "raw", 0, 0, 0, 8000, None),
        "media_ref string, duration_sec double, features array<float>",
        [("m", 0.0, [0.0] * 16)],
    ),
    "audio_segments": (
        multimodal.audio_segments, MEDIA,
        ("m", "audio", "raw", 0, 0, 0, 8000, None),
        "media_ref string, seg_index int, start_sec double, end_sec double, "
        "active boolean",
        [],
    ),
    "image_exif": (
        multimodal.image_exif, MEDIA,
        ("m", "image", "jpeg", 2, 2, 1, 0, None),
        "media_ref string, make string, model string, orientation int, "
        "datetime string, datetime_original string, exposure_time double, "
        "f_number double, iso int, gps_lat double, gps_lon double",
        [("m",) + (None,) * 10],
    ),
    "scene_changes": (
        multimodal.scene_changes, MEDIA,
        ("m", "video", "raw", 2, 2, 3, 0, None),
        "media_ref string, frame_index int, diff double, "
        "is_scene_start boolean",
        [],
    ),
    "media_stream_info": (
        multimodal.media_stream_info, MEDIA,
        ("m", "audio", "auto", 0, 0, 0, 0, None),
        "media_ref string, format string, duration_sec double, "
        "sample_rate int, channels int, bitrate_kbps double, vbr boolean, "
        "width int, height int, profile_level string, n_frames int",
        [("m",) + (None,) * 10],
    ),
    "debug_images": (
        debug_sink.debug_images, RAW + ", pixels binary", ("m", 2, 2, None),
        "media_ref string, n_regions int, png binary", RAISES,
    ),
}


def _ddl(df):
    assert all(f.nullable for f in df.schema.fields), df.schema
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


def _check(df, ddl, outcome):
    assert _ddl(df) == ddl
    if outcome == RAISES:
        with pytest.raises(Exception):
            df.collect()
    else:
        assert [tuple(r) for r in df.collect()] == outcome


@pytest.mark.parametrize("name", sorted(CASES))
def test_null_payload_contract_and_schema(spark, name):
    op, in_ddl, row, ddl, outcome = CASES[name]
    _check(op(spark.createDataFrame([row], in_ddl)), ddl, outcome)


@pytest.mark.parametrize("permissive", [True, False])
def test_read_image_corpus_undecodable_file(spark, tmp_path, permissive):
    """binaryFile content is never NULL (and empty files are not listed),
    so the scan's fault case is a payload no codec recognizes: a null-pixel
    row carrying the reason, or a raise."""
    (tmp_path / "JUNK_1.png").write_bytes(b"\x00")
    df = binary_files.read_image_corpus(
        spark, os.path.join(tmp_path, "*.png"), permissive=permissive
    )
    err = "unknown image signature (png/jpeg/gif/tiff/bmp/pdf supported)"
    _check(
        df.drop("path"),
        "expected string, width int, height int, pixels binary, "
        "decode_error string",
        [("JUNK", None, None, None, err)] if permissive else RAISES,
    )
    assert _ddl(df).startswith("path string, expected string")
