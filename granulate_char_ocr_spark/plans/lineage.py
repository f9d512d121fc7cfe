"""Per-partition lineage/metrics rows + corpus evaluation (FIXTURES.md §6).

The metrics schema mirrors the reference's evaluation record
(``evaluate_new_testdata.py:59-67,86-95``): span counts, char/word accuracy,
elapsed. Lineage rows are computed with plain grouped aggregation over
``spark_partition_id()`` — distributed, no driver-side loops — and appended to
a parquet metrics table (Iceberg-ready schema; the sandbox has no Iceberg
jars, SURVEY.md §7 R3, so ``snapshot_id`` falls back to a manifest hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from granulate_char_ocr_spark.operators.stitch import explode_expected


def partition_lineage(
    flat: DataFrame,
    run_id: str,
    snapshot_id: str,
    expected: DataFrame | None = None,
    elapsed_ms: int | None = None,
) -> DataFrame:
    """One lineage row per physical input partition of the extracted span
    stream (FIXTURES.md §6): (run_id, input_snapshot_id, partition_hash,
    n_docs, n_text_spans, n_media_spans, n_chars, char_accuracy, elapsed_ms,
    committed_at). ``char_accuracy`` is per-partition media-text equality vs
    the golden expectation when one is supplied, else null."""
    rows = flat.withColumn("_pid", F.spark_partition_id())
    if expected is not None:
        # media-span recognition accuracy: the golden text of a media span is
        # fully determined by its media_ref (ref → word is a function), so a
        # broadcast of the distinct mapping suffices — no window/order join
        ref_truth = (
            explode_expected(expected)
            .filter(F.col("kind") == "media")
            .select("media_ref", F.col("text").alias("_etext"))
            .distinct()
        )
        rows = rows.join(F.broadcast(ref_truth), "media_ref", "left")
        acc = F.avg(
            F.when(
                F.col("kind") == "media",
                (F.col("text") == F.col("_etext")).cast("double"),
            )
        ).alias("char_accuracy")
    else:
        acc = F.first(F.lit(None).cast("double")).alias("char_accuracy")
    # one collect_set feeds both the hash and the count, and one percentile
    # both quantiles: a countDistinct beside them would expand the rows and
    # add a second exchange
    n_chars = F.coalesce("n_chars", F.lit(0))
    return (
        rows.groupBy("_pid")
        .agg(
            F.collect_set("doc_id").alias("_doc_ids"),
            F.sum((F.col("kind") == "text").cast("long")).alias("n_text_spans"),
            F.sum((F.col("kind") == "media").cast("long")).alias("n_media_spans"),
            F.sum(n_chars.cast("long")).alias("n_chars"),
            # per-partition span-length distribution (reference evaluation
            # record's distribution block, evaluate_new_testdata.py:86-95):
            # exact linearly interpolated percentiles, numpy's default
            # method (tests/test_pipeline.py checks both against it)
            F.percentile(n_chars, [0.5, 0.9]).alias("_pcts"),
            acc,
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(snapshot_id).alias("input_snapshot_id"),
            F.xxhash64(F.concat_ws(",", F.sort_array("_doc_ids")))
            .cast("string")
            .alias("partition_hash"),
            F.size("_doc_ids").cast("long").alias("n_docs"),
            "n_text_spans",
            "n_media_spans",
            "n_chars",
            F.round(F.col("_pcts")[0], 2).alias("p50_chars"),
            F.round(F.col("_pcts")[1], 2).alias("p90_chars"),
            "char_accuracy",
            F.lit(elapsed_ms).cast("long").alias("elapsed_ms"),
            F.current_timestamp().alias("committed_at"),
        )
    )


def evaluate(extracted: DataFrame, expected: DataFrame) -> DataFrame:
    """Corpus accuracy metrics vs the golden expectation — the Spark
    restatement of ``evaluate_new_testdata.py`` (EP3, SURVEY.md §3).

    Span-level join on (doc_id, order); char accuracy is the positional
    zip-join (J4): posexplode both texts and compare per position.
    Returns one row: n_docs, n_spans, span_equality, char_accuracy,
    word_accuracy, perfect_docs.
    """
    got = explode_expected(extracted).withColumnRenamed("text", "got_text")
    exp = explode_expected(expected).withColumnRenamed("text", "exp_text")
    joined = exp.join(
        got,
        ["doc_id", "order"],
        "left",
    ).select(
        "doc_id",
        "order",
        "exp_text",
        "got_text",
        (
            (F.col("exp_text") == F.col("got_text"))
            & (exp["kind"] == F.coalesce(got["kind"], F.lit("")))
        ).alias("span_ok"),
    )

    # positional char zip-join (reference evaluate_new_testdata.py:52-54)
    exp_chars = joined.select(
        "doc_id",
        "order",
        F.posexplode(F.split(F.coalesce("exp_text", F.lit("")), "")).alias(
            "pos", "exp_c"
        ),
    )
    got_chars = joined.select(
        "doc_id",
        "order",
        F.posexplode(F.split(F.coalesce("got_text", F.lit("")), "")).alias(
            "pos", "got_c"
        ),
    )
    # FULL outer join so length mismatches count as wrong on both sides:
    # rows = max(len(exp), len(got)) per span, matches need both chars equal
    # (the reference's correct_chars / max(len(expected), len(recognized)),
    # evaluate_new_testdata.py:52-54). A left join would silently drop the
    # extra/missing tail ('TEAM' vs 'T' must score 0.25, not 1.0).
    char_join = exp_chars.join(got_chars, ["doc_id", "order", "pos"], "full")
    char_acc = char_join.agg(
        F.avg(F.col("exp_c").eqNullSafe(F.col("got_c")).cast("double")).alias(
            "char_accuracy"
        )
    )

    per_doc = joined.groupBy("doc_id").agg(
        F.min(F.col("span_ok").cast("int")).alias("doc_ok"),
        F.count("*").alias("n_spans"),
    )
    summary = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_spans").alias("n_spans"),
        F.avg("doc_ok").alias("word_accuracy"),
        F.sum("doc_ok").alias("perfect_docs"),
    )
    span_eq = joined.agg(
        F.avg(F.col("span_ok").cast("double")).alias("span_equality")
    )
    return summary.crossJoin(span_eq).crossJoin(char_acc)
