"""Output checks against the goldens (run untimed, after each job).

* OCR: the job's written output is read back with pyarrow, flattened to
  ``(doc_id, order, kind, text, media_ref)`` and compared per document with
  the expected spans. A document counts as failed when any of its spans is
  missing, extra, duplicated or different.
* corpus_dedup: each query's result is reduced to an order-insensitive
  value hash (the oracle gate's canonical form: sorted columns, object
  cells as str, rows sorted) and compared with its DuckDB oracle's hash.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.inputs import tool

def flatten_output(extracted_dir: str) -> pd.DataFrame:
    """Written job output (bucket-partitioned parquet) → flat span rows."""
    table = pq.read_table(extracted_dir, columns=["doc_id", "spans"])
    spans = table.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    parents = pc.list_parent_indices(spans)
    return pa.table(
        {
            "doc_id": pc.take(table.column("doc_id"), parents),
            "order": flat.field("order"),
            "kind": flat.field("kind"),
            "text": flat.field("text"),
            "media_ref": flat.field("media_ref"),
        }
    ).to_pandas()


def failed_docs(actual: pd.DataFrame, expected: pd.DataFrame) -> set[str]:
    """doc_ids whose span sequence differs from the golden, plus any doc the
    output holds that the golden does not."""
    bad: set[str] = set()
    dup = actual.duplicated(["doc_id", "order"], keep=False)
    bad.update(actual.loc[dup, "doc_id"])
    merged = expected.merge(
        actual.drop_duplicates(["doc_id", "order"]),
        on=["doc_id", "order"],
        how="outer",
        suffixes=("_e", "_a"),
        indicator=True,
    )
    differs = merged["_merge"] != "both"
    for col in ("kind", "text", "media_ref"):
        e = merged[f"{col}_e"].fillna("\0")
        a = merged[f"{col}_a"].fillna("\0")
        differs |= e != a
    bad.update(merged.loc[differs, "doc_id"])
    return bad


def check_ocr(extracted_dir: str, expected: pd.DataFrame) -> int:
    """Number of failed documents: expected ones whose spans differ, plus
    any the golden does not hold, capped at the expected count (all of them
    when the output cannot be read)."""
    n_expected = int(expected["doc_id"].nunique())
    try:
        actual = flatten_output(extracted_dir)
    except (OSError, pa.ArrowException, KeyError):
        return n_expected
    return min(len(failed_docs(actual, expected)), n_expected)


def value_hash(df: pd.DataFrame) -> str:
    """Hash of the oracle gate's canonical form of ``df``."""
    canon = tool("check_oracles").normalize(df).astype(str)
    h = hashlib.sha256(repr(list(canon.columns)).encode())
    h.update(str(len(canon)).encode())
    h.update(pd.util.hash_pandas_object(canon, index=False).values.tobytes())
    return h.hexdigest()
