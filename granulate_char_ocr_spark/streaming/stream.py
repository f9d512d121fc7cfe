"""Structured Streaming analog of the reference's camera loop (SURVEY §2.9).

The reference has no true stream engine — its frontend pushes camera frames
through the same OCR endpoint in a requestAnimationFrame loop
(``front/app/components/Camera/Camera.tsx:233-267``) and keeps a bounded
result history (last 50, ``useOCRStore.ts:27-33``). The honest Spark analog:

* ``recognize_stream``      — stateless per-span recognition over a streaming
  DataFrame of media spans (append mode; the same Arrow kernel as batch — a
  mapInPandas transformation is streaming-compatible as-is).
* ``assemble_stream``       — per-doc stitch via ``foreachBatch`` reusing the
  batch ``assemble_documents`` (document re-assembly needs a grouped
  aggregate; micro-batch boundaries are the natural completeness contract
  for a batch-shaped corpus replayed as a stream).
* ``keep_last_n``           — the bounded-history state (T3): last N results
  per key with ``applyInPandasWithState``.
* ``interval_join_stream``  — watermark-bounded stream-stream time-interval
  join, the streaming twin of operators/temporal.range_join.

The reference itself has no event-time semantics; the watermark-bearing
operators here (``windowed_span_stats``, ``dedupe_stream``,
``interval_join_stream``) are beyond-reference additions whose late-data
contract is Spark's own: rows later than the watermark delay are dropped,
and the watermark is what bounds window/dedup/join state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from granulate_char_ocr_spark.operators.extract import extract_media_spans
from granulate_char_ocr_spark.operators.stitch import assemble_documents


def recognize_stream(media_spans: DataFrame, noisy: bool = False) -> DataFrame:
    """Streaming per-span recognition (append-mode compatible): same
    Arrow-batched kernel as the batch path."""
    return extract_media_spans(media_spans, noisy=noisy)


def assemble_stream(
    flat_stream: DataFrame, out_path: str, checkpoint: str
):
    """Micro-batch stitch: foreachBatch reuses the batch assembler and writes
    parquet per epoch (at-least-once; pair with the resume ledger for
    exactly-once bucket semantics)."""

    def per_batch(df: DataFrame, epoch_id: int) -> None:
        (
            assemble_documents(df)
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(out_path)
        )

    return (
        flat_stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def windowed_span_stats(
    flat_stream: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window throughput over the recognized span
    stream: (window, kind, n_spans, n_chars). The watermark bounds state
    (windows older than max(event_time) − delay are finalized and evicted)
    and defines the late-data contract: rows later than the delay are
    dropped. This is the standard late-data posture for a 100 TB ingest
    stream; the reference's camera loop has no event time, so this operator
    is part of the training-pipeline surface, not reference parity."""
    return (
        flat_stream.withWatermark("event_time", watermark_delay)
        .groupBy(F.window("event_time", window_duration), "kind")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).alias("n_chars"),
        )
    )


def dedupe_stream(
    spans: DataFrame,
    keys: list[str] | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming once-per-key dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and evicts key
    state once the watermark passes it (a naive streaming ``distinct`` on
    the key alone grows state forever — the classic unbounded-state failure
    at ingest scale). The streaming twin of the batch engine's content-keyed
    compute dedup (pipeline.py dedup_media)."""
    return spans.withWatermark(
        "event_time", watermark_delay
    ).dropDuplicatesWithinWatermark(keys or ["media_ref"])


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    by: str = "user_id",
    on: str = "event_time",
    window: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join of right rows landing inside each left
    row's ``[on, on + window)`` follow-window on the same ``by`` key — the
    streaming twin of operators/temporal.range_join. Spark's native
    stream-stream join handles this directly: the time-range predicate
    plus watermarks on BOTH sides is exactly what lets the engine bound
    the join state (without the range condition, each side's state grows
    forever). Output columns are prefixed l_/r_ so both event times
    survive.

    Input columns must not already be l_/r_-prefixed duplicates; both
    sides need ``by`` + ``on``."""
    l = left.withWatermark(on, watermark_delay).alias("l")
    r = right.withWatermark(on, watermark_delay).alias("r")
    # F.col with backticks (not raw SQL interpolation) so column names
    # containing spaces/dots resolve instead of misparsing; only the
    # interval literal goes through expr
    lc = lambda c: F.col(f"l.`{c}`")
    rc = lambda c: F.col(f"r.`{c}`")
    cond = (
        (lc(by) == rc(by))
        & (rc(on) >= lc(on))
        & (rc(on) < lc(on) + F.expr(f"interval {window}"))
    )
    lcols = [F.col(f"l.{c}").alias(f"l_{c}") for c in left.columns]
    rcols = [F.col(f"r.{c}").alias(f"r_{c}") for c in right.columns]
    return l.join(r, cond).select(*lcols, *rcols)


LAST_N_STATE_SCHEMA = "texts array<string>"
LAST_N_OUT_SCHEMA = "doc_id string, history array<string>"


def keep_last_n(spans: DataFrame, n: int = 50) -> DataFrame:
    """Bounded per-key history (reference useOCRStore.ts:27-33 keeps the last
    50 results): arbitrary stateful processing via applyInPandasWithState."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        history: list[str] = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            for t in pdf.sort_values("offset")["text"]:
                history.append(t)
        history = history[-n:]
        state.update((history,))
        yield pd.DataFrame({"doc_id": [key[0]], "history": [history]})

    return spans.groupBy("doc_id").applyInPandasWithState(
        fn,
        outputStructType=LAST_N_OUT_SCHEMA,
        stateStructType=LAST_N_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def warc_ingest_stream(spark, warc_dir: str) -> DataFrame:
    """Continuous crawl ingest — the web-tier streaming front door:
    WARC files landing in a directory stream through the SAME stages as
    the batch fetch leg (operators/docparse.py) — record explode
    (mapInArrow is streaming-compatible as-is), 200-response filter,
    charset-sniffed body decode, pure-codegen boilerplate strip —
    yielding an append-mode (url, main_text) stream.

    The unit of parallelism AND of progress tracking is the FILE
    (binaryFile source rows); a writer checkpointLocation makes re-runs
    resume from unprocessed files only, and trigger(availableNow=True)
    drains the backlog and stops — the incremental-ingest posture a
    recurring crawl drop-off wants. Output equality with the batch path
    over the same files is pinned in tests/test_streaming.py."""
    from granulate_char_ocr_spark.operators.docparse import (
        decode_bodies,
        html_main_texts,
        warc_records,
    )

    files = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; this is the
        # binaryFile source's fixed one
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.warc.gz")
        .load(warc_dir)
        .select(
            F.col("path").alias("file_id"),
            F.col("content").alias("payload"),
        )
    )
    recs = warc_records(files)
    pages = recs.filter(
        (F.col("rec_type") == "response") & (F.col("http_status") == 200)
    ).select("url", "body", "content_type")
    texts = decode_bodies(pages, key_col="url")
    return html_main_texts(texts, html_col="text", key_col="url")
