"""Idempotent checkpoint/resume: kill-after-k-buckets → rerun → identical
output, no duplicates (SURVEY.md §5 test plan, north rule resume clause)."""

import pytest
from pyspark.sql import functions as F

from granulate_char_ocr_spark.plans import resume
from granulate_char_ocr_spark.plans.pipeline import extract_documents
from granulate_char_ocr_spark.sources.synthetic import corpus_spark

N_DOCS = 60
N_BUCKETS = 8


@pytest.fixture(scope="module")
def corpus(spark):
    docs, media, expected = corpus_spark(spark, N_DOCS, seed=7)
    return docs.cache(), media.cache(), expected


def _spans_map(df):
    return {
        r["doc_id"]: [tuple(s) for s in r["spans"]] for r in df.collect()
    }


def test_interrupted_run_then_resume(spark, corpus, tmp_path):
    docs, media, _ = corpus
    out = str(tmp_path / "out")

    # simulate a mid-job kill: only the first 3 buckets commit
    done1 = resume.run_with_resume(
        spark, docs, media, out, n_buckets=N_BUCKETS, only_buckets=[0, 1, 2]
    )
    assert done1 == [0, 1, 2]
    assert resume.read_ledger(out) == [0, 1, 2]
    partial = resume.read_output(spark, out)
    assert 0 < partial.count() < N_DOCS

    # resume: processes exactly the remaining buckets
    done2 = resume.run_with_resume(spark, docs, media, out, n_buckets=N_BUCKETS)
    assert done2 == sorted(set(range(N_BUCKETS)) - {0, 1, 2})
    assert resume.read_ledger(out) == list(range(N_BUCKETS))

    # third run: everything committed → no-op
    assert resume.run_with_resume(spark, docs, media, out, n_buckets=N_BUCKETS) == []

    # resumed output == one-shot output, byte-for-byte on span sequences
    resumed = _spans_map(resume.read_output(spark, out))
    oneshot = _spans_map(extract_documents(docs, media))
    assert resumed == oneshot

    # no duplicate docs
    got = resume.read_output(spark, out)
    assert got.count() == got.select("doc_id").distinct().count() == N_DOCS


def test_bucket_assignment_deterministic(spark, corpus):
    docs, _, _ = corpus
    a = resume.with_bucket(docs, N_BUCKETS).select("doc_id", "bucket")
    b = resume.with_bucket(docs.repartition(5), N_BUCKETS).select("doc_id", "bucket")
    assert {(r[0], r[1]) for r in a.collect()} == {(r[0], r[1]) for r in b.collect()}
    assert a.filter((F.col("bucket") < 0) | (F.col("bucket") >= N_BUCKETS)).count() == 0


def test_run_with_resume_accepts_job_kwargs(spark, tmp_path):
    """jobs/extract_job.py passes noisy/dedup_media/segmenter through
    run_with_resume — the exact call the production entrypoint makes must
    not TypeError (regression: extract_documents lacked the segmenter
    parameter)."""
    from granulate_char_ocr_spark.plans import resume
    from granulate_char_ocr_spark.sources.synthetic import corpus_spark

    docs, media, _ = corpus_spark(spark, 12, seed=42)
    done = resume.run_with_resume(
        spark,
        docs,
        media,
        str(tmp_path / "out"),
        n_buckets=4,
        n_salts=2,
        noisy=False,
        dedup_media=True,
        segmenter="projection",
    )
    assert sorted(done) == [0, 1, 2, 3]
    assert resume.read_output(spark, str(tmp_path / "out")).count() > 0


def test_resume_refuses_a_changed_bucket_count(spark, corpus, tmp_path):
    """A document's bucket depends on n_buckets, so a ledger of committed
    buckets only means something under the count it was written with:
    resuming with another count would skip documents whose new bucket was
    committed under the old count, or rewrite committed ones."""
    import json

    docs, media, _ = corpus
    out = str(tmp_path / "out")
    resume.run_with_resume(spark, docs, media, out, n_buckets=4, only_buckets=[0])
    with pytest.raises(ValueError, match="n_buckets=4"):
        resume.run_with_resume(spark, docs, media, out, n_buckets=8)
    assert resume.read_ledger(out) == [0]

    # a ledger written before the count was recorded is still accepted
    with open(tmp_path / "out" / resume.LEDGER_NAME, "w") as f:
        json.dump({"committed_buckets": [0]}, f)
    assert resume.run_with_resume(spark, docs, media, out, n_buckets=4) == [1, 2, 3]
    got = resume.read_output(spark, out)
    assert got.count() == got.select("doc_id").distinct().count() == N_DOCS
