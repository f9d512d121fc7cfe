"""Debug image sink — the reference's annotated-extraction dumps
(``training_data/scripts/debug_extraction.py``, SURVEY §2.1 S8), feasible
in-sandbox since functions/png.py exists: each media row is preprocessed,
segmented, bbox borders are burned in at mid-gray (128 distinguishes the
annotation from the {0,255} binary), and the result is PNG-encoded.

Split into a pure transformation (``debug_images`` — testable, no side
effects) and a file sink (``write_debug_image_files`` — foreachPartition,
each task writes its own files; at cluster scale point ``out_dir`` at a
fuse-mounted object store or swap the open() for a storage client)."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame

from granulate_char_ocr_spark.functions import kernels
from granulate_char_ocr_spark.functions.png import encode_png
from granulate_char_ocr_spark.operators.doc_kernel import row_kernel


def _annotate(pre: np.ndarray, regions: list[tuple[int, int, int, int]]) -> np.ndarray:
    img = pre.copy()
    for (x, y, w, h) in regions:
        x1, y1 = min(x + w, img.shape[1]) - 1, min(y + h, img.shape[0]) - 1
        img[y, x : x1 + 1] = 128
        img[y1, x : x1 + 1] = 128
        img[y : y1 + 1, x] = 128
        img[y : y1 + 1, x1] = 128
    return img


def debug_images(
    media: DataFrame, noisy: bool = False, segmenter: str = "projection"
) -> DataFrame:
    """(media_ref, width, height, pixels) → (media_ref, n_regions, png).
    Takes the same (noisy, segmenter) options as the extraction operators so
    the overlay always shows the regions classification actually sees."""

    def per_row(width, height, pixels):
        img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
        pre, _, regions = kernels.segment_image(img, noisy, segmenter)
        return [len(regions)], [encode_png(_annotate(pre, regions))]

    return row_kernel(
        media,
        ("media_ref",),
        ("width", "height", "pixels"),
        lambda: per_row,
        "n_regions int, png binary",
    )


def write_debug_image_files(debug_df: DataFrame, out_dir: str) -> None:
    """Side-effect sink: one ``<media_ref>.png`` per row, written by the
    task that owns the row (no driver collect)."""
    os.makedirs(out_dir, exist_ok=True)

    def write_partition(rows) -> None:
        for row in rows:
            with open(os.path.join(out_dir, f"{row['media_ref']}.png"), "wb") as f:
                f.write(bytes(row["png"]))

    debug_df.foreachPartition(write_partition)
