"""Corpus scan over loose image files (SURVEY §2.1 S4).

The reference's evaluation harness globs ``test_data/*_*.png`` and takes the
expected label from the filename stem (``evaluate_new_testdata.py:28-44``).
The Spark-native restatement: ``spark.read.format("binaryFile")`` +
``regexp_extract(input_file_name(), ...)`` — a distributed scan with the
label derivation as a column expression, no driver-side globbing.

Payload formats: the engine's raw format (``<ref>.raw`` = uint8 buffer
prefixed by two int32 dims, pure column-expression decode) and real
compressed images (``read_image_corpus`` — the reference's actual
``test_data/*_*.png`` glob generalized to mixed PNG/JPEG directories,
codec sniffed from the payload signature, decoded by the pure-NumPy codecs
in functions/png.py and functions/jpeg.py).
"""

from __future__ import annotations

import os
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# label = uppercase stem up to the first '_' (PLEASURE_1.raw → PLEASURE),
# with the reference's sanitization (strip !/.) folded in
_LABEL_RE = r"([A-Z]+)[!.]?_\d+\.raw$"


def write_raw(path: str, img: np.ndarray) -> None:
    """<h:int32 BE><w:int32 BE><h*w uint8 row-major> — the loose-file twin of
    the glyph_media pixel layout (big-endian header so the dims decode as a
    plain hex→int column expression)."""
    h, w = img.shape
    with open(path, "wb") as f:
        f.write(struct.pack(">ii", h, w))
        f.write(img.tobytes())


def read_labeled_corpus(spark: SparkSession, glob_path: str) -> DataFrame:
    """(path, expected, width, height, pixels): binaryFile scan with the
    label extracted from the filename, payload split into dims + buffer."""
    raw = spark.read.format("binaryFile").load(glob_path)
    return raw.select(
        F.col("path"),
        F.regexp_extract(
            F.element_at(F.split(F.col("path"), "/"), -1), _LABEL_RE, 1
        ).alias("expected"),
        # big-endian int32 header → hex string → int (pure column exprs)
        F.conv(F.hex(F.expr("substring(content, 1, 4)")), 16, 10)
        .cast("int")
        .alias("height"),
        F.conv(F.hex(F.expr("substring(content, 5, 4)")), 16, 10)
        .cast("int")
        .alias("width"),
        F.expr("substring(content, 9)").alias("pixels"),
    )


# case-insensitive: real corpora mix PLEASURE_1.png, pleasure_2.PNG,
# Photo_3.JPG (ADVICE r2: a lowercase-only match silently dropped every
# uppercase-extension file's label); the label folds to upper afterwards,
# matching the reference's sanitization
_IMAGE_LABEL_RE = r"(?i)([A-Z]+)[!.]?_\d+\.(?:png|jpe?g|gif|tiff?|bmp)$"


def read_image_corpus(
    spark: SparkSession, glob_path: str, permissive: bool = True
) -> DataFrame:
    """(path, expected, width, height, pixels, decode_error): the reference's
    REAL corpus shape — a glob of ``<LABEL>_<n>.(png|jpg)`` files
    (evaluate_new_testdata.py:28-44) — as a distributed binaryFile scan +
    Arrow-batched decode. The codec is sniffed from the payload signature
    (PNG magic / JPEG SOI), not the extension, and decoded by the pure-NumPy
    codecs (functions/png.py, functions/jpeg.py); decoded payloads land in
    the engine's raw layout so the extraction operators consume them
    unchanged.

    ``permissive=True`` (the production default, mirroring Spark's
    PERMISSIVE JSON mode): a corrupt/unsupported file yields a row with null
    pixels and the reason in ``decode_error`` instead of failing the task —
    at 100 TB some files ARE broken, and one of them must not kill a stage.
    ``permissive=False`` raises, for corpora that must be clean."""
    from granulate_char_ocr_spark.operators.doc_kernel import row_kernel
    from granulate_char_ocr_spark.operators.multimodal import decode_payload

    raw = spark.read.format("binaryFile").load(glob_path).select(
        "path",
        F.upper(
            F.regexp_extract(
                F.element_at(F.split(F.col("path"), "/"), -1),
                _IMAGE_LABEL_RE,
                1,
            )
        ).alias("expected"),
        "content",
    )

    def per_row(content):
        try:
            img = decode_payload(bytes(content), "auto", 0, 0)
        except Exception as ex:
            if not permissive:
                raise
            return [None], [None], [None], [str(ex)]
        return [img.shape[1]], [img.shape[0]], [img.tobytes()], [None]

    return row_kernel(
        raw,
        ("path", "expected"),
        ("content",),
        lambda: per_row,
        "width int, height int, pixels binary, decode_error string",
    )


def decode_error_summary(corpus: DataFrame) -> DataFrame:
    """(decode_error, n) over a ``read_image_corpus`` result — the aggregate
    visibility ADVICE r2 asked for: mass decode failure (wrong codec family,
    truncated uploads) must show up as one grouped count, not as silently
    empty labels downstream. The null-error row counts the healthy files."""
    return (
        corpus.groupBy("decode_error")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc_nulls_first("decode_error"))
    )


def evaluate_corpus_files(spark: SparkSession, glob_path: str) -> DataFrame:
    """EP3 analog over loose files: scan → recognize → per-file accuracy."""
    from granulate_char_ocr_spark.operators.extract import extract_media_spans

    corpus = read_labeled_corpus(spark, glob_path).select(
        F.col("path").alias("doc_id"),
        F.lit(0).alias("offset"),
        F.col("path").alias("media_ref"),
        "width",
        "height",
        "pixels",
        "expected",
    )
    rec = extract_media_spans(
        corpus.drop("expected"), detail=False
    ).withColumnRenamed("text", "recognized")
    return (
        corpus.select("media_ref", "expected")
        .join(rec, "media_ref")
        .select(
            "media_ref",
            "expected",
            "recognized",
            (F.col("expected") == F.col("recognized")).alias("word_ok"),
        )
    )


def dump_test_corpus(out_dir: str, words: list[str], variant: int = 0) -> None:
    """Materialize loose .raw files (test helper; mirrors test_data/)."""
    from granulate_char_ocr_spark.sources.synthetic import render_word

    os.makedirs(out_dir, exist_ok=True)
    for i, w in enumerate(words):
        write_raw(os.path.join(out_dir, f"{w}_{i + 1}.raw"), render_word(w, variant))
