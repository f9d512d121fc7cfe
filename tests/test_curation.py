"""Corpus-curation operators (operators/curation.py): PII redaction,
benchmark decontamination, TF-IDF keywords — unit semantics on
hand-checked rows plus the plan properties that make each scale
(broadcast sides, partitioned windows, no UDFs)."""

import pytest
from pyspark.sql import functions as F

import reference_twins as twins
from granulate_char_ocr_spark.operators import curation


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ---------------------------------------------------------------- pii_redact


def test_pii_redact_counts_and_masks(spark):
    out = {
        r["doc_id"]: r
        for r in curation.pii_redact(
            _docs(
                spark,
                [
                    (1, "mail a.b+c@ex-1.org then ping 10.0.0.1 x"),
                    (2, "call 555-123-4567 or 555-000-1111 now"),
                    (3, "clean text with no identifiers at all"),
                    (4, "dotted 1.2.3.4.5 runs and v1.2 tags"),
                ],
            )
        ).collect()
    }
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ipv4"]) == (1, 0, 1)
    assert out[1]["redacted"] == "mail <EMAIL> then ping <IP> x"
    assert out[2]["n_phones"] == 2
    assert out[2]["redacted"] == "call <PHONE> or <PHONE> now"
    # untouched text passes through byte-identically
    assert out[3]["redacted"] == "clean text with no identifiers at all"
    assert (out[3]["n_emails"], out[3]["n_phones"], out[3]["n_ipv4"]) == (0, 0, 0)
    # 1.2.3.4.5: the IPv4 regex takes the first 4 octets (\b anchors on
    # digit/non-digit edges; '.' is a non-word char so '.5' stays)
    assert out[4]["n_ipv4"] == 1
    assert out[4]["redacted"] == "dotted <IP>.5 runs and v1.2 tags"


def test_pii_email_masked_before_numeric_patterns(spark):
    # digits+dots inside an email local part must not leak a phone/IP hit
    # out of the redaction cascade (email replaced first)
    [r] = curation.pii_redact(
        _docs(spark, [(1, "x 555-123-4567.10.0.0.1@d.io y")])
    ).collect()
    assert r["redacted"] == "x <EMAIL> y"


def test_pii_redact_plan_has_no_shuffle(spark):
    plan = curation.pii_redact(
        _docs(spark, [(1, "a")])
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------------- decontaminate


def test_decontaminate_flags_shared_ngrams(spark):
    corpus = _docs(
        spark,
        [
            (1, "the quick brown fox jumps"),  # 'quick brown fox' shared
            (2, "a totally different document here"),
            (3, "quick brown fox quick brown fox"),  # distinct grams only
            (4, "to sh"),  # shorter than n -> no grams, never contaminated
        ],
    )
    bench = _docs(spark, [(100, "see the quick brown fox run")])
    out = {
        r["doc_id"]: (r["n_shared_grams"], r["contaminated"])
        for r in curation.decontaminate(corpus, bench, n=3).collect()
    }
    # doc 1 shares 'the quick brown', 'quick brown fox' (not '... jumps')
    assert out[1] == (2, 1)
    assert out[2] == (0, 0)
    # doc 3's repeated gram counts once (distinct per doc)
    assert out[3] == (1, 1)
    assert out[4] == (0, 0)
    assert set(out) == {1, 2, 3, 4}  # every corpus doc reported


def test_decontaminate_broadcasts_benchmark(spark):
    corpus = _docs(spark, [(1, "a b c d")])
    bench = _docs(spark, [(2, "b c d")])
    plan = (
        curation.decontaminate(corpus, bench, n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# ----------------------------------------------------------- tfidf_top_terms


def test_tfidf_ranks_rare_terms_first(spark):
    docs = _docs(
        spark,
        [
            (1, "common common rare1"),
            (2, "common rare2 rare2"),
            (3, "common filler filler filler"),
        ],
    )
    out = curation.tfidf_top_terms(docs, k=2).collect()
    top = {
        r["doc_id"]: r["term"] for r in out if r["rnk"] == 1
    }
    # df: common=3, rare1=1, rare2=1, filler=1
    assert top == {1: "rare1", 2: "rare2", 3: "filler"}
    r1 = {(r["doc_id"], r["rnk"]): r for r in out}
    assert r1[(2, 1)]["tf"] == 2 and r1[(2, 1)]["df"] == 1
    assert r1[(2, 1)]["score"] == 2.0
    # per-doc top-k caps rows
    assert all(r["rnk"] <= 2 for r in out)


def test_tfidf_tie_breaks_on_term(spark):
    docs = _docs(spark, [(1, "beta alpha")])
    out = sorted(
        curation.tfidf_top_terms(docs, k=2).collect(), key=lambda r: r["rnk"]
    )
    assert [r["term"] for r in out] == ["alpha", "beta"]


def test_tfidf_broadcasts_df_side(spark):
    docs = _docs(spark, [(1, "a b"), (2, "b c")])
    plan = (
        curation.tfidf_top_terms(docs, k=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# -------------------------------------------- gate entries (whole pipeline)


@pytest.mark.parametrize(
    "name",
    [
        "pii_redact_docs",
        "decontaminate_docs",
        "tfidf_top_terms_docs",
    ],
)
def test_gate_entries_run_nonempty(spark, name):
    from granulate_char_ocr_spark import driver_queries as dq

    df = dq.QUERIES[name](spark, "/root/testdata/sf0.001")
    assert df.count() > 0


def test_pii_gate_injection_hits_and_passthrough(spark):
    """The gate query must exercise BOTH nonzero matches (injected docs)
    and byte-identical passthrough (doc_id % 3 == 0)."""
    from granulate_char_ocr_spark import driver_queries as dq

    sf = "/root/testdata/sf0.001"
    out = dq.QUERIES["pii_redact_docs"](spark, sf)
    injected = out.where(F.col("doc_id") % 3 != 0)
    assert injected.where(
        (F.col("n_emails") > 0) & (F.col("n_phones") > 0) & (F.col("n_ipv4") > 0)
    ).count() == injected.count()
    clean = out.where(F.col("doc_id") % 3 == 0)
    assert clean.where(
        (F.col("n_emails") != 0) | (F.col("n_phones") != 0) | (F.col("n_ipv4") != 0)
    ).count() == 0


# ------------------------------------------------------ line chunking


def test_chunk_lines_empty_and_null_text(spark):
    """Null/empty text yields an EMPTY lines array in quality_filter's
    line chunking — split('') would give [''], a fake line that every
    empty doc would count."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, None)], "doc_id bigint, text string"
    )
    lines = {
        r["doc_id"]: r["lines"]
        for r in docs.select("doc_id", "text", F.split("text", " ").alias("_toks"))
        .select("doc_id", curation._chunk_lines_col(2).alias("lines"))
        .collect()
    }
    assert lines == {1: ["a b", "c"], 2: [], 3: []}
    n_lines = {
        r["doc_id"]: r["n_lines"]
        for r in curation.quality_filter(docs, words_per_line=2).collect()
    }
    assert n_lines == {1: 2, 2: 0, 3: 0}


def test_tf_kernel_equals_expr(spark):
    """The r6 in-row Counter kernel must emit the IDENTICAL
    (doc_id, term, tf) rows as the explode + groupBy formulation —
    empty terms dropped, null/empty texts contribute nothing."""
    from granulate_char_ocr_spark.operators import curation

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edges = spark.createDataFrame(
        [
            (500001, "a  b a  b a"),
            (500002, " x "),
            (500003, ""),
            (500004, None),
        ],
        "doc_id bigint, text string",
    )
    docs = base.unionAll(edges)
    new = {tuple(r) for r in curation._tf_kernel(docs).collect()}
    ref = {tuple(r) for r in twins._tf_expr(docs).collect()}
    assert new == ref
