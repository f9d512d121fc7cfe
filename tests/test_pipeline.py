"""End-to-end extraction pipeline tests: span-sequence equality (kind, text,
media_ref, order) == 100% vs the golden fixtures (BASELINE.json input_hint),
plus shuffle-invariance and skew plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from granulate_char_ocr_spark.plans.lineage import evaluate, partition_lineage
from granulate_char_ocr_spark.plans.pipeline import extract_documents, extract_flat
from granulate_char_ocr_spark.sources.synthetic import corpus_spark

N_DOCS = 120  # includes one heavy-tail doc (index 7)


@pytest.fixture(scope="module")
def corpus(spark):
    docs, media, expected = corpus_spark(spark, N_DOCS, seed=42)
    return docs.cache(), media.cache(), expected.cache()


def _as_map(rows):
    return {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in rows}


def test_span_sequence_equality(spark, corpus):
    docs, media, expected = corpus
    got = _as_map(extract_documents(docs, media).collect())
    exp = _as_map(expected.collect())
    assert set(got) == set(exp)
    mismatches = {d: (got[d], exp[d]) for d in exp if got[d] != exp[d]}
    assert not mismatches, list(mismatches.items())[:2]


def test_equality_survives_repartition(spark, corpus):
    """Order restored by key, not partition luck (SURVEY §7 R1)."""
    docs, media, expected = corpus
    shuffled = docs.repartition(13)
    got = _as_map(extract_documents(shuffled, media, n_salts=5).collect())
    exp = _as_map(expected.collect())
    assert got == exp


def test_dedup_and_salted_paths_agree(spark, corpus):
    """dedup_media=True (distinct-image classify + join back) must produce
    exactly the salted per-span path's output — and both must equal golden."""
    docs, media, expected = corpus
    dedup = _as_map(extract_documents(docs, media, dedup_media=True).collect())
    salted = _as_map(
        extract_documents(docs, media, dedup_media=False, n_salts=4).collect()
    )
    exp = _as_map(expected.collect())
    assert dedup == salted == exp


def test_bigint_doc_ids_on_both_paths(spark, corpus):
    """The span keys take their types from the input: bigint doc_ids run
    through the per-span path as well as the dedup path, and both give
    the golden spans under the same ids."""
    docs, media, expected = corpus

    def bigint_ids(df):
        return df.withColumn("doc_id", F.xxhash64("doc_id"))

    exp = _as_map(bigint_ids(expected).collect())
    for dedup_media in (True, False):
        out = extract_documents(
            bigint_ids(docs), media, dedup_media=dedup_media, n_salts=4
        )
        assert out.schema["doc_id"].dataType.simpleString() == "bigint"
        assert _as_map(out.collect()) == exp, dedup_media


def test_heavy_doc_extracted(spark, corpus):
    docs, media, expected = corpus
    heavy_id = "doc_00000007"
    row = (
        extract_documents(docs, media)
        .filter(F.col("doc_id") == heavy_id)
        .collect()[0]
    )
    exp = expected.filter(F.col("doc_id") == heavy_id).collect()[0]
    assert len(row["spans"]) >= 50
    assert [tuple(s) for s in row["spans"]] == [tuple(s) for s in exp["spans"]]


def test_keep_empty_docs_parity(spark, corpus):
    docs, media, _ = corpus
    import pyspark.sql.functions as SF

    with_empty = docs.union(
        spark.createDataFrame(
            [("doc_empty", [])],
            docs.schema,
        )
    )
    default = extract_documents(with_empty, media)
    assert default.filter(SF.col("doc_id") == "doc_empty").count() == 0
    kept = extract_documents(with_empty, media, keep_empty_docs=True)
    assert kept.count() == N_DOCS + 1
    [r] = kept.filter(SF.col("doc_id") == "doc_empty").collect()
    assert r["spans"] == []


def test_evaluate_metrics_all_perfect(spark, corpus):
    docs, media, expected = corpus
    extracted = extract_documents(docs, media)
    m = evaluate(extracted, expected).collect()[0]
    assert m["n_docs"] == N_DOCS
    assert m["span_equality"] == 1.0
    assert m["char_accuracy"] == 1.0
    assert m["word_accuracy"] == 1.0
    assert m["perfect_docs"] == N_DOCS


def test_evaluate_char_accuracy_counts_length_mismatch(spark):
    """ADVICE r1: expected 'TEAM' vs recognized 'T' must score 0.25 (the
    reference's correct / max(len_exp, len_got)), not 1.0 — a left char join
    silently dropped the missing tail."""

    def spans_df(text):
        return spark.createDataFrame(
            [("d1", [{"kind": "media", "text": text, "media_ref": "m", "order": 0}])],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,`order`:int>>",
        )

    m = evaluate(spans_df("T"), spans_df("TEAM")).collect()[0]
    assert m["char_accuracy"] == 0.25
    assert m["span_equality"] == 0.0
    # extra recognized chars count against accuracy too
    m2 = evaluate(spans_df("TEAMXX"), spans_df("TEAM")).collect()[0]
    assert abs(m2["char_accuracy"] - 4 / 6) < 1e-12


def test_partition_lineage_covers_all_docs(spark, corpus):
    docs, media, expected = corpus
    flat = extract_flat(docs, media).localCheckpoint()
    rows = partition_lineage(flat, run_id="t", snapshot_id="s").collect()
    assert sum(r["n_text_spans"] + r["n_media_spans"] for r in rows) == (
        flat.count()
    )
    assert all(r["run_id"] == "t" and r["input_snapshot_id"] == "s" for r in rows)
    assert len({r["partition_hash"] for r in rows}) == len(rows)
    assert all(r["char_accuracy"] is None for r in rows)  # no expectation given
    # distribution stats (evaluation-record parity): each partition's p50
    # and p90 are linearly interpolated percentiles of its span lengths
    want = []
    for r in (
        flat.groupBy(F.spark_partition_id())
        .agg(F.collect_list(F.coalesce("n_chars", F.lit(0))).alias("lens"))
        .collect()
    ):
        p50, p90 = np.percentile(r["lens"], [50, 90], method="linear")
        want.append((sum(r["lens"]), len(r["lens"]), round(p50, 2), round(p90, 2)))
    want.sort()
    got = sorted(
        (
            r["n_chars"],
            r["n_text_spans"] + r["n_media_spans"],
            r["p50_chars"],
            r["p90_chars"],
        )
        for r in rows
    )
    assert len(got) > 1
    assert got == want

    # with the golden expectation: every media-bearing partition scores 1.0
    rows2 = partition_lineage(
        flat, run_id="t", snapshot_id="s", expected=expected, elapsed_ms=123
    ).collect()
    assert all(
        r["char_accuracy"] == 1.0
        for r in rows2
        if r["n_media_spans"] > 0
    ), rows2
    assert all(r["elapsed_ms"] == 123 for r in rows2)


def _plan_nodes(df, *names):
    """Count of executed-plan nodes whose name contains each of ``names``
    (AQE off, so the static plan is the executed one)."""
    conf = df.sparkSession.conf
    aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = df._jdf.queryExecution().executedPlan()
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe)
    found = {n: 0 for n in names}
    stack = [plan]
    while stack:
        node = stack.pop()
        for n in names:
            found[n] += n in node.nodeName()
        stack.extend(node.children().apply(i) for i in range(node.children().size()))
    return found


def test_partition_lineage_one_exchange(spark, corpus):
    """One collect_set feeds partition_hash and n_docs and one percentile
    both quantiles: one exchange and two aggregates (the countDistinct
    formulation planned two and four) with the same rows."""
    from reference_twins import _partition_lineage_distinct

    docs, media, _ = corpus
    flat = extract_flat(docs, media).localCheckpoint()
    got = partition_lineage(flat, run_id="t", snapshot_id="s")
    ref = _partition_lineage_distinct(flat)
    assert _plan_nodes(got, "Exchange", "Aggregate") == {"Exchange": 1, "Aggregate": 2}
    assert _plan_nodes(ref, "Exchange", "Aggregate") == {"Exchange": 2, "Aggregate": 4}

    def key(r):
        return r["partition_hash"]

    want = sorted((r.asDict() for r in ref.collect()), key=key)
    rows = sorted(
        ({c: r[c] for c in ref.columns} for r in got.collect()), key=key
    )
    assert len(rows) > 1
    assert rows == want
    assert dict(got.dtypes)["n_docs"] == "bigint"


def test_extract_flat_media_details(spark, corpus):
    docs, media, _ = corpus
    flat = extract_flat(docs, media).filter(F.col("kind") == "media")
    row = flat.filter(F.size("chars") > 3).limit(1).collect()[0]
    chars = row["chars"]
    assert [c["char_order"] for c in chars] == list(range(len(chars)))
    assert all(c["method"] == "exact_hash" and c["confidence"] == 1.0 for c in chars)
    assert row["text"] == "".join(c["latin"] for c in chars)
    assert row["avg_confidence"] == 1.0
