"""The per-document text-kernel harness (operators/doc_kernel.py) and the
six kernels built on it."""

from collections import Counter

import pandas as pd
import pyarrow as pa
from pyspark.sql.types import LongType, StringType, StructField, StructType

import reference_twins as twins
from granulate_char_ocr_spark.operators import (
    curation,
    dedup,
    doc_kernel,
    sampling,
    textstats,
)

OUT = StructType(
    [StructField("g", StringType()), StructField("n", LongType())]
)


def _words(text, h):
    toks = [t for t in text.split(" ") if t]
    return toks, [h[t] for t in toks]


def _run(pdf, keys=("doc_id",), cap=doc_kernel.MEMO_CAP):
    per_task = doc_kernel._text_task(_words, len, cap)
    fn = doc_kernel._batches(per_task, OUT, list(keys), ("text",))
    (out,) = fn(iter([pa.RecordBatch.from_pandas(pdf, preserve_index=False)]))
    return out.to_pandas()


def test_null_text_and_zero_row_docs_emit_nothing():
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "text": ["a bb", None, "  ", "ccc"]}
    )
    out = _run(pdf)
    assert out.to_dict("list") == {
        "doc_id": [1, 1, 4],
        "g": ["a", "bb", "ccc"],
        "n": [1, 2, 3],
    }


def test_keys_and_carries_repeat_per_row_with_input_dtype():
    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "d2"],
            "tgt": [True, False],
            "text": ["x yy", "zzz"],
        }
    )
    out = _run(pdf, keys=("doc_id", "tgt"))
    assert out.to_dict("list") == {
        "doc_id": ["d1", "d1", "d2"],
        "tgt": [True, True, False],
        "g": ["x", "yy", "zzz"],
        "n": [1, 2, 3],
    }
    assert out["tgt"].dtype == bool


def test_all_null_batch_yields_empty_typed_frame():
    pdf = pd.DataFrame(
        {"doc_id": pd.Series([7, 8], dtype="int64"), "text": [None, None]}
    )
    out = _run(pdf)
    assert len(out) == 0
    assert list(out.columns) == ["doc_id", "g", "n"]
    assert [str(d) for d in out.dtypes] == ["int64", "object", "int64"]


def test_memo_is_bounded_and_exact():
    memo = doc_kernel._Memo(len, 2)
    for key in ["a", "bb", "ccc", "a", "dddd", "bb"]:
        assert memo[key] == len(key)
        assert len(memo) <= 2
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["a bb ccc a", "dddd a"]})
    assert _run(pdf, cap=2).equals(_run(pdf))


def _edge_docs(spark, id_type: str):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "a  b c  d a  b c", "de"),   # empty tokens, repeated windows
        (3, " lead trail ", "en"),
        (4, "one two", "fr"),            # < 3 tokens: no shingles
        (5, "", "es"),
        (6, None, "en"),                 # null text: no rows anywhere
        (7, "tie tie ABCDEFGH abcdefgh", "en"),
    ]
    if id_type == "string":
        rows = [(f"doc-{i}", t, lang) for i, t, lang in rows]
    return spark.createDataFrame(
        rows, f"doc_id {id_type}, text string, lang string"
    )


def _kernel_twin_pairs(docs):
    """(name, kernel, twin) for the six doc_kernel kernels."""
    return [
        ("shingles", dedup._shingles_kernel(docs, 3), dedup.shingles(docs, 3)),
        (
            "minhash",
            dedup.minhash_signatures(docs, 4, 2),
            twins._minhash_signatures_expr(docs, 4, 2),
        ),
        ("simhash", dedup._simhash_kernel(docs, 32), dedup.simhash(docs, 32)),
        (
            "hashed_grams",
            sampling._hashed_grams(docs, 64, carry_cols=("lang",)),
            twins._hashed_grams_expr(
                docs, "doc_id", "text", 64, carry_cols=("lang",)
            ),
        ),
        (
            "winnow",
            textstats.winnow_fingerprints(docs),
            twins._winnow_fingerprints_expr(docs),
        ),
        ("tf", curation._tf_kernel(docs), twins._tf_expr(docs)),
    ]


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def test_kernels_run_on_string_doc_id(spark):
    """Every kernel keys its rows by whatever doc_id type the input has:
    on string ids each emits its twin's exact rows, keyed by string."""
    docs = _edge_docs(spark, "string")
    for name, kernel, twin in _kernel_twin_pairs(docs):
        assert kernel.schema["doc_id"].dataType == StringType(), name
        got = _rows(kernel)
        assert got == _rows(twin), name
        assert got and all(r[0].startswith("doc-") for r in got), name


def test_memo_cap_does_not_change_outputs(spark, monkeypatch):
    """A memo cleared after every second entry yields the same rows."""
    docs = _edge_docs(spark, "bigint")
    want = {name: _rows(k) for name, k, _ in _kernel_twin_pairs(docs)}
    monkeypatch.setattr(doc_kernel, "MEMO_CAP", 2)
    for name, kernel, _ in _kernel_twin_pairs(docs):
        assert _rows(kernel) == want[name], name
