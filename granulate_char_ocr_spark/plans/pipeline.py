"""The end-to-end extraction plan (SURVEY.md §3 "Spark restatement").

    read documents → posexplode(spans)
      ├─ kind='text'  → vectorized normalization (built-ins + NFC pandas UDF)
      └─ kind='media' → recognition
      → union → groupBy(doc_id) sort_array stitch → (doc_id, spans[order])

Two recognition strategies, both Arrow-batched mapInPandas kernels:

* ``dedup_media=True`` (default) — recognition is a pure function of the
  pixels, so classify each DISTINCT media_ref exactly once:
  ``distinct(media_ref) → join media store → mapInPandas → join results back
  to the span stream``. Pixel bytes never enter a span-stream shuffle — they
  stay co-located with the media store — and media-heavy document skew is
  structurally eliminated before the only Python stage (a hot doc's 50 spans
  cost one dictionary hit each, not 50 decodes). This is the 100 TB posture:
  content-keyed compute dedup, the span stream carries only strings.
* ``dedup_media=False`` — per-span extraction with explicit **doc_id-salted
  repartition** (operators/skew.py) before the kernel, for corpora whose
  media are predominantly unique (every span pays a decode; the salt spreads
  a hot doc's spans across partitions). This is the north rule's literal
  salting strategy, kept first-class and tested for output equality with the
  dedup path.

The span stream crosses exactly two exchanges either way: into the
recognition join (or salted repartition) and out through the doc_id
re-assembly. The media store / recognized-results join broadcasts when small
and degrades to an AQE-skew-protected shuffle hash join on ``media_ref``
otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions.text import (
    ASCII_ONLY_RE,
    normalize_expr,
    normalize_jvm_expr,
)
from granulate_char_ocr_spark.operators.extract import (
    extract_media_spans,
    extract_unique_media,
)
from granulate_char_ocr_spark.operators.skew import (
    kernel_partitions,
    salt_repartition,
)
from granulate_char_ocr_spark.operators.stitch import assemble_documents


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents → one row per span (doc_id, offset, kind, text, media_ref)."""
    return docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")


def unique_media_repartitioned(
    media_refs: DataFrame, media_side: DataFrame
) -> DataFrame:
    """distinct media_ref keys → ``skew.kernel_partitions`` repartition →
    payload join. ``media_side`` should already be broadcast-wrapped when
    dim-sized."""
    return (
        media_refs.select("media_ref")
        .distinct()
        .repartition(kernel_partitions(media_refs.sparkSession), "media_ref")
        .join(media_side, "media_ref", "left")
    )


def extract_flat(
    docs: DataFrame,
    media: DataFrame,
    n_salts: int = 8,
    noisy: bool = False,
    broadcast_media: bool = True,
    dedup_media: bool = True,
    detail: bool = True,
    segmenter: str = "projection",
) -> DataFrame:
    """Flat extracted spans: (doc_id, offset, kind, text, media_ref,
    n_chars, avg_confidence[, chars]). Text spans carry n_chars = length of
    the normalized text and a null chars array. ``detail=False`` drops the
    per-char structs (cheaper Arrow encode; the stitch never reads them)."""
    spans = explode_spans(docs)

    # ASCII rows (the overwhelming majority of a real corpus) normalize
    # entirely JVM-side: NFC is identity on ASCII, and a pandas UDF inside a
    # when() is evaluated unconditionally, so the skip must be a PLAN split —
    # two filters over the same exploded scan, unioned back. Only the
    # non-ASCII residue pays the Arrow/Python round trip. Trade-off measured
    # at sf0.1: the synthetic corpus is deliberately accent/zero-width heavy
    # (35% ASCII) and there the split is noise-neutral (the double traversal
    # offsets the saved transfer); on real corpora (ASCII fractions ~99%)
    # the text stage becomes pure whole-stage codegen for the bulk.
    text_spans = spans.filter(F.col("kind") == "text")
    is_ascii = F.col("text").rlike(ASCII_ONLY_RE)
    ascii_norm = text_spans.filter(is_ascii).withColumn(
        "text", normalize_jvm_expr(F.col("text"))
    )
    other_norm = text_spans.filter(
        ~F.coalesce(is_ascii, F.lit(False))  # null text rides the NFC branch
    ).withColumn("text", normalize_expr(F.col("text")))
    text_out = ascii_norm.unionByName(other_norm).select(
        "doc_id",
        "offset",
        "kind",
        "text",
        "media_ref",
        F.length("text").alias("n_chars"),
        F.lit(None).cast("double").alias("avg_confidence"),
    )
    if detail:
        text_out = text_out.withColumn(
            "chars",
            F.lit(None).cast(
                "array<struct<latin:string,confidence:double,"
                "method:string,char_order:int>>"
            ),
        )

    media_side = F.broadcast(media) if broadcast_media else media
    media_spans = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref"
    )
    if dedup_media:
        # classify each distinct image once; join tiny results back
        uniq = unique_media_repartitioned(media_spans, media_side)
        rec_uniq = extract_unique_media(
            uniq, noisy=noisy, detail=detail, segmenter=segmenter
        )
        rec_side = F.broadcast(rec_uniq) if broadcast_media else rec_uniq
        recognized = media_spans.join(rec_side, "media_ref", "left")
    else:
        # per-span extraction behind a doc_id-salted repartition.
        # Order matters at scale: repartition the TINY span keys first, then
        # attach pixels via the (broadcast) media join inside each partition —
        # pixel bytes never enter the salt exchange.
        salted = salt_repartition(media_spans, n_salts=n_salts)
        joined = salted.join(media_side, "media_ref", "left")
        recognized = extract_media_spans(
            joined, noisy=noisy, detail=detail, segmenter=segmenter
        )
    out_cols = [
        "doc_id",
        "offset",
        F.lit("media").alias("kind"),
        "text",
        "media_ref",
        "n_chars",
        "avg_confidence",
    ]
    if detail:
        out_cols.append(F.col("chars"))
    media_out = recognized.select(*out_cols)
    return text_out.unionByName(media_out)


def extract_documents(
    docs: DataFrame,
    media: DataFrame,
    n_salts: int = 8,
    noisy: bool = False,
    broadcast_media: bool = True,
    dedup_media: bool = True,
    keep_empty_docs: bool = False,
    segmenter: str = "projection",
) -> DataFrame:
    """The headline job: documents + glyph_media → (doc_id, spans[order]).

    ``keep_empty_docs``: documents whose spans array is empty vanish under
    explode; when input/output doc-count parity matters (corpus accounting at
    scale), this re-attaches them with an empty spans array at the cost of
    one extra doc_id join."""
    flat = extract_flat(
        docs,
        media,
        n_salts=n_salts,
        noisy=noisy,
        broadcast_media=broadcast_media,
        dedup_media=dedup_media,
        detail=False,  # the stitch reads only (offset, kind, text, media_ref)
        segmenter=segmenter,
    )
    assembled = assemble_documents(
        flat.select("doc_id", "offset", "kind", "text", "media_ref")
    )
    if not keep_empty_docs:
        return assembled
    empty = F.expr(
        "cast(array() as array<struct<kind:string,text:string,"
        "media_ref:string,`order`:int>>)"
    )
    return (
        docs.select("doc_id")
        .join(assembled, "doc_id", "left")
        .withColumn("spans", F.coalesce("spans", empty))
    )
