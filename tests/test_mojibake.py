"""Mojibake repair (functions/mojibake.py + curation.repair_mojibake).

Pins: (1) repair ∘ corrupt == identity for every string (hypothesis
property on the Python twin, Spark matrix for the expr); (2) the Spark
expressions agree with the Python twins char-for-char; (3) clean text —
ASCII, accented Latin, CJK, and text containing cp1252 display chars —
is never touched; (4) the validity regex rejects the RFC 3629 corners
(overlongs, surrogates, > U+10FFFF, truncated sequences)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import reference_twins as twins
from granulate_char_ocr_spark.functions import mojibake as mj

CASES = [
    "plain ascii only",
    "café au lait",
    "你好世界",
    "丁不",  # UTF-8 bytes hit cp1252-undefined 0x81 / 0x8D
    "em—dash … and €42",  # corrupts INTO display chars
    "emoji \U0001f600 4-byte",
    "mixed ascii + ü + 中 + \U0001f680",
    "",
    "Ã©",  # already looks like mojibake — repairs to é (documented)
]


# --- python twin properties ------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=120))
def test_repair_undoes_corrupt_always(s):
    assert twins.fix_mojibake_python(twins.mojibake_python(s)) == s


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=60))
def test_double_corruption_unwinds_one_layer_at_a_time(s):
    twice = twins.mojibake_python(twins.mojibake_python(s))
    once = twins.fix_mojibake_python(twice)
    assert once == twins.mojibake_python(s)
    assert twins.fix_mojibake_python(once) == s


def test_clean_text_untouched():
    for s in ["café au lait", "你好世界", "ASCII", "", "naïve — dash €"]:
        assert twins.fix_mojibake_python(s) == s
        # the only clean case that COULD repair is text that already
        # parses as mojibake; none of these do
        assert not twins.is_mojibake_python(s)


def test_ambiguous_case_repairs():
    # "Ã©" is byte-identical to mojibake of "é" — the documented
    # resolution is to repair
    assert twins.fix_mojibake_python("Ã©") == "é"
    assert twins.is_mojibake_python("Ã©")


def test_validity_regex_rejects_rfc3629_corners():
    # each string below, read char-as-byte, is structurally invalid
    # UTF-8 and must NOT repair
    corners = [
        "À¯",  # C0 80-style overlong 2-byte
        "à",  # E0 overlong 3-byte
        "í ",  # ED A0 80 — UTF-16 surrogate D800
        "ô",  # F4 90 — above U+10FFFF
        "ð",  # F0 overlong 4-byte
        "Â",  # truncated: lead with no continuation
        "ä¸",  # truncated 3-byte
        "abcdef",  # bare continuation byte
    ]
    for s in corners:
        assert not twins.is_mojibake_python(s), repr(s)
        assert twins.fix_mojibake_python(s) == s, repr(s)


def test_undefined_cp1252_bytes_pass_through():
    # 丁 = E4 B8 81, 不 = E4 B8 8D: 0x81/0x8D have no cp1252 display
    # char, so the corrupted text carries raw C1 controls (sloppy-cp1252)
    broken = twins.mojibake_python("丁不")
    assert "\x81" in broken and "\x8d" in broken
    assert twins.fix_mojibake_python(broken) == "丁不"


# --- spark expr == twin ----------------------------------------------------


@pytest.fixture(scope="module")
def matrix(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(CASES)], "i int, s string"
    )
    return (
        df.select(
            "i",
            mj.mojibake_expr(F.col("s")).alias("broken"),
            mj.fix_mojibake_expr(mj.mojibake_expr(F.col("s"))).alias("rt"),
            mj.fix_mojibake_expr(F.col("s")).alias("fix_clean"),
            mj.is_mojibake_expr(F.col("s")).alias("sig_clean"),
        )
        .orderBy("i")
        .collect()
    )


def test_spark_forward_matches_twin(matrix):
    for r in matrix:
        assert r["broken"] == twins.mojibake_python(CASES[r["i"]])


def test_spark_roundtrip_exact(matrix):
    for r in matrix:
        assert r["rt"] == CASES[r["i"]]


def test_spark_fix_and_signature_match_twin(matrix):
    for r in matrix:
        s = CASES[r["i"]]
        assert r["fix_clean"] == twins.fix_mojibake_python(s)
        assert r["sig_clean"] == twins.is_mojibake_python(s)


def test_repair_mojibake_operator_schema(spark):
    from pyspark.sql import functions as F

    from granulate_char_ocr_spark.operators.curation import repair_mojibake

    df = spark.createDataFrame(
        [(1, twins.mojibake_python("naïve €")), (2, "clean")],
        "doc_id int, text string",
    )
    out = repair_mojibake(df).orderBy("doc_id").collect()
    assert [c for c in repair_mojibake(df).columns] == [
        "doc_id",
        "repaired",
        "was_repaired",
    ]
    assert out[0]["repaired"] == "naïve €" and out[0]["was_repaired"]
    assert out[1]["repaired"] == "clean" and not out[1]["was_repaired"]
    # pure projection: no exchange in the plan
    plan = repair_mojibake(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_fix_mojibake_docs_parity(spark):
    """Mojibake repair gate query (left the 50-entry gate in r5 within
    the per-row-projection family): exact DuckDB parity."""
    from parity import assert_parity

    from granulate_char_ocr_spark import driver_queries

    assert_parity(
        spark,
        driver_queries.fix_mojibake_docs,
        driver_queries.FIX_MOJIBAKE_ORACLE,
    )
