"""The media-span OCR extraction operator — an Arrow-batched ``mapInPandas``.

Spark-first restatement of the reference's per-image pipeline
(``ocr_service.py:92-171``): decode → preprocess → projection segmentation →
batched nearest-prototype classification → ordered word assembly. The
reference classifies characters one at a time (batch size 1,
``ocr_service.py:376``); here every crop from every image in an Arrow batch
is stacked into one (B, 64) bit matrix and classified with a single matmul.

Scale notes (100 TB posture):
* pixels NEVER cross a shuffle — this operator runs immediately after the
  media join and emits only recognized text + small char structs; the
  downstream doc_id re-assembly exchange carries no image bytes
  (SURVEY.md §7 R4).
* classifier prototypes are built once per Python worker
  (``alphabet.classifier_state()``), not per batch or per row — the
  executor-singleton fix for the reference's per-request model reload
  (``backend/api/endpoints/ocr.py:43``).
* `spark.sql.execution.arrow.maxRecordsPerBatch` bounds batch memory; one
  row ≈ width×64 bytes of pixels.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from granulate_char_ocr_spark.functions import kernels

# recognized-payload columns appended to the passthrough keys; the nested
# chars struct array is optional — building + Arrow-encoding per-char Python
# dicts costs more than the classification itself, so the hot path (stitch
# only needs text) runs with detail=False
_BASE_COLS = "text string, n_chars int, avg_confidence double"
_CHARS_COL = (
    "chars array<struct<latin:string,confidence:double,method:string,char_order:int>>"
)


def _schema(passthrough_schema: str, detail: bool) -> str:
    cols = f"{passthrough_schema}, {_BASE_COLS}"
    return f"{cols}, {_CHARS_COL}" if detail else cols


SPAN_KEYS = "doc_id string, offset int, media_ref string"
UNIQUE_KEYS = "media_ref string"


def _process_batch(
    pdf: pd.DataFrame,
    noisy: bool,
    passthrough: tuple[str, ...],
    detail: bool,
    segmenter: str = "projection",
) -> pd.DataFrame:
    n = len(pdf)
    crops: list[np.ndarray] = []
    gray_crops: list[np.ndarray] = []  # vote-tier inputs (noisy path only)
    owner: list[int] = []  # crop -> row index
    regions_per_row: list[int] = []
    widths = pdf["width"].to_numpy()
    heights = pdf["height"].to_numpy()
    buffers = pdf["pixels"].to_numpy()
    for i in range(n):
        # per-image faults (dangling media_ref → null payload, truncated
        # buffer, zero-dim) collapse to an empty result instead of failing
        # the task — the reference's error contract (ocr_service.py:164-171)
        buf = buffers[i]
        try:
            h_i, w_i = int(heights[i]), int(widths[i])
            if buf is None or h_i <= 0 or w_i <= 0 or len(buf) != h_i * w_i:
                regions_per_row.append(0)
                continue
            img = np.frombuffer(buf, dtype=np.uint8).reshape(h_i, w_i)
            # noisy: gray is the aligned plane the vote tier re-binarizes
            pre, gray, regs = kernels.segment_image(img, noisy, segmenter)
        except Exception:
            regions_per_row.append(0)
            continue
        regions_per_row.append(len(regs))
        for (x, y, w, h) in regs:
            crops.append(pre[y : y + h, x : x + w])
            if noisy:
                gray_crops.append(gray[y : y + h, x : x + w])
            owner.append(i)
    # ONE matmul for the whole batch; the vote tier reruns only rejects
    results = kernels.classify_batch_cascade(
        crops, gray_crops if noisy else None
    )

    letters: list[list[str]] = [[] for _ in range(n)]
    confs: list[list[float]] = [[] for _ in range(n)]
    methods: list[list[str]] = [[] for _ in range(n)]
    for row_i, (latin, conf, method) in zip(owner, results):
        if latin is None:
            continue  # unrecognized region dropped (reference ocr_service.py:149)
        letters[row_i].append(latin)
        confs[row_i].append(conf)
        methods[row_i].append(method)
    out = {c: pdf[c].to_numpy() for c in passthrough}
    out.update(
        {
            "text": ["".join(ls) for ls in letters],
            "n_chars": [len(ls) for ls in letters],
            "avg_confidence": [
                float(np.mean(cs)) if cs else 0.0 for cs in confs
            ],
        }
    )
    if detail:
        out["chars"] = [
            [
                {
                    "latin": latin,
                    "confidence": c,
                    "method": m,
                    "char_order": k,
                }
                for k, (latin, c, m) in enumerate(zip(ls, cs, ms))
            ]
            for ls, cs, ms in zip(letters, confs, methods)
        ]
    return pd.DataFrame(out)


def _map_extract(
    df: DataFrame,
    keys_schema: str,
    passthrough: tuple[str, ...],
    noisy: bool,
    detail: bool,
    segmenter: str = "projection",
) -> DataFrame:
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _process_batch(pdf, noisy, passthrough, detail, segmenter)

    cols = [*passthrough, "width", "height", "pixels"]
    return df.select(*cols).mapInPandas(fn, schema=_schema(keys_schema, detail))


def extract_media_spans(
    media_spans: DataFrame,
    noisy: bool = False,
    detail: bool = True,
    segmenter: str = "projection",
) -> DataFrame:
    """Per-span extraction: (doc_id, offset, media_ref, width, height, pixels)
    → recognized spans. Used by the non-dedup path where every span carries
    its own payload. ``detail=False`` skips the nested per-char structs."""
    return _map_extract(
        media_spans,
        SPAN_KEYS,
        ("doc_id", "offset", "media_ref"),
        noisy,
        detail,
        segmenter,
    )


def extract_unique_media(
    media: DataFrame,
    noisy: bool = False,
    detail: bool = True,
    segmenter: str = "projection",
) -> DataFrame:
    """Per-unique-image extraction: (media_ref, width, height, pixels) →
    recognized payload keyed by media_ref. The dedup path: recognition is a
    pure function of the pixels, so each distinct media_ref is classified
    exactly once and the (small) results join back to the span stream —
    pixel bytes never enter a span-stream shuffle."""
    return _map_extract(media, UNIQUE_KEYS, ("media_ref",), noisy, detail, segmenter)
