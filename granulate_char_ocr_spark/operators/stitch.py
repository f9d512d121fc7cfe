"""Span-sequence re-assembly (the stitch-back join, SURVEY.md §2.3 J7 + §2.5 W2).

Order is restored **by key** (`offset`), never by partition luck: the union of
the text and media branches is grouped per doc and `sort_array` over
`struct(offset, …)` rebuilds the sequence, then a higher-order `transform`
assigns the 0-based `order` rank — the Spark analog of the reference's
x-sorted character loop (``ocr_service.py:283``, ``:109``) and of
``OCRResult.characters`` order-is-the-text invariant
(``backend/domain/entities/ocr_result.py:7-22``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_documents(flat: DataFrame) -> DataFrame:
    """(doc_id, offset, kind, text, media_ref) → (doc_id, spans) with spans =
    array<struct<kind, text, media_ref, order>> ordered by offset.

    One shuffle (the doc_id exchange); `sort_array` sorts the collected
    structs by their first field (offset), so the result is deterministic
    under any upstream partitioning/AQE re-plan.
    """
    collected = flat.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
        ).alias("_s")
    )
    return collected.select(
        "doc_id",
        F.expr(
            "transform(_s, (x, i) -> struct("
            "x.kind as kind, x.text as text, x.media_ref as media_ref, "
            "cast(i as int) as `order`))"
        ).alias("spans"),
    )


def explode_expected(expected: DataFrame) -> DataFrame:
    """Golden (doc_id, spans[order]) → flat rows, for span-level comparison."""
    return expected.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.order")
