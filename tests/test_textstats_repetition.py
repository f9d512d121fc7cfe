"""Gopher repetition filters (operators/textstats.repetition_signals):
hand-computed fixtures, degenerate-doc edges, Spark vs DuckDB oracle
parity on crafted documents, and the no-Python-stage plan invariant."""

import duckdb
import pandas as pd
import pytest

import reference_twins as twins
from granulate_char_ocr_spark.operators import textstats


def _signals(spark, texts):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id long, text string",
    )
    out = textstats.repetition_signals(docs).toPandas()
    return out.set_index("doc_id").sort_index()


def test_hand_computed_alternation(spark):
    """"a b a b a b": 6 tokens / 2 types; top bigram "a b" x3 covers
    9 of 11 chars; trigrams "a b a" and "b a b" tie at 2 hits and
    5 chars (coverage 10/11 either way); both 5-grams are unique."""
    row = _signals(spark, ["a b a b a b"]).loc[0]
    assert row["n_tokens"] == 6
    assert row["dup_word_frac"] == round(1 - 2 / 6, 6)
    assert row["top2_char_frac"] == round(9 / 11, 6)
    assert row["top3_char_frac"] == round(10 / 11, 6)
    assert row["dup5_char_frac"] == 0.0


def test_hand_computed_duplicated_5gram(spark):
    """Three repeats of a 5-word phrase: of the 15-token doc's 11
    5-grams, "v w x y z" appears 3x and every rotation 2x — ALL
    duplicated, so the fraction saturates at 1.0 (the Gopher signal
    that catches templated/boilerplate text)."""
    text = " ".join(["v w x y z"] * 3)
    row = _signals(spark, [text]).loc[0]
    assert row["dup5_char_frac"] == 1.0
    # top bigram: "v w" (also "y z v" etc exist) — count 3, 3 chars
    assert row["top2_char_frac"] == round(9 / len(text), 6)


def test_degenerate_docs(spark):
    """Empty text and single-token text have no n-grams: every fraction
    0 except dup_word_frac's types/tokens identity."""
    out = _signals(spark, ["", "word", "two words"])
    for i in (0, 1):
        assert out.loc[i, "dup_word_frac"] == 0.0
        assert out.loc[i, "top2_char_frac"] == 0.0
        assert out.loc[i, "dup5_char_frac"] == 0.0
    # exactly two tokens: one bigram, no trigram, no 5-gram
    assert out.loc[2, "top2_char_frac"] == round(9 / 9, 6)
    assert out.loc[2, "top3_char_frac"] == 0.0
    assert out.loc[2, "dup5_char_frac"] == 0.0


def test_spark_matches_duckdb_oracle(spark):
    """The gate query's DuckDB SQL and the Spark operator agree value-
    for-value on crafted docs covering every branch: repetition-free,
    alternation, exact phrase repeats, 5-token boundary, and a tie in
    top-gram count broken by gram length."""
    from granulate_char_ocr_spark import driver_queries

    texts = [
        "one two three four five six seven",
        "a b a b a b",
        " ".join(["boiler plate line here now"] * 4),
        "p q r s t",  # exactly 5 tokens: one 5-gram, never duplicated
        "aa b cc aa b dd",  # "aa b" twice; "b cc"/"b dd" once
        "",
        "solo",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    got = (
        textstats.repetition_signals(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (
        con.execute(driver_queries.REPETITION_SIGNALS_ORACLE)
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    for c in got.columns:
        assert got[c].astype(float).tolist() == pytest.approx(
            want[c].astype(float).tolist(), abs=0
        ), c


def test_plan_stays_jvm_side(spark):
    """One explode + doc_id-keyed aggregations: no Python stage, no
    cartesian/broadcast-nested-loop join anywhere in the plan."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b c"]}),
        "doc_id long, text string",
    )
    plan = textstats.repetition_signals(docs)._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_repetition_signals_docs_parity(spark):
    """Gopher repetition signals (left the 50-entry gate in r5; shape
    stays gate-visible via charlm/quality): exact DuckDB parity."""
    from parity import assert_parity

    from granulate_char_ocr_spark import driver_queries

    assert_parity(
        spark,
        driver_queries.repetition_signals_docs,
        driver_queries.REPETITION_SIGNALS_ORACLE,
    )


def test_winnow_fingerprints_parity(spark):
    """Winnowed fingerprints (left the 50-entry gate in r5 — it was the
    board's largest compare): exact DuckDB parity."""
    from parity import assert_parity

    from granulate_char_ocr_spark import driver_queries

    assert_parity(
        spark,
        driver_queries.winnow_fingerprints_docs,
        driver_queries.WINNOW_ORACLE,
    )


def test_winnow_kernel_equals_expression_twin(spark):
    """The r6 memoized Arrow kernel must emit the identical (doc_id, fp)
    set as the retained pure-expression formulation, including the
    whitespace/trim/lower normalization edge cases."""
    from granulate_char_ocr_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "The quick\tbrown  fox   jumps over the lazy dog"),
            (2, "  leading and trailing spaces padded out here  "),
            (3, "short"),          # < k + w - 1 after norm -> no rows
            (4, None),             # null text -> no rows
            (5, "ABCDEFGH ABCDEFGH abcdefgh"),   # case folding
            (6, "xy\fz\rw\nv tttttttt"),   # ASCII whitespace-class members
        ],
        "doc_id long, text string",
    )
    new = sorted(
        (r["doc_id"], r["fp"])
        for r in textstats.winnow_fingerprints(docs).collect()
    )
    ref = sorted(
        (r["doc_id"], r["fp"])
        for r in twins._winnow_fingerprints_expr(docs).collect()
    )
    assert new == ref and len(new) > 0
    parquet = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new2 = sorted(
        (r["doc_id"], r["fp"])
        for r in textstats.winnow_fingerprints(parquet).collect()
    )
    ref2 = sorted(
        (r["doc_id"], r["fp"])
        for r in twins._winnow_fingerprints_expr(parquet).collect()
    )
    assert new2 == ref2 and len(new2) > 0
