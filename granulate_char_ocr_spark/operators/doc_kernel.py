"""The one way to write a per-document text kernel.

A text kernel turns each document's ``text`` into a few output columns
(shingles, a signature, hashed grams, term counts). :func:`doc_kernel` is
the batch-at-a-time ``mapInPandas`` loop they all share; a kernel supplies
only ``per_doc(text, h)``, which returns one sequence per output column,
all of the same length (zero rows allowed).

The harness widens a narrow scan once, skips null text, repeats
``doc_id`` and the ``carry`` columns once per emitted row, and builds
every column as a typed Series: keys and carries keep their input dtype,
outputs take the pandas dtype of their Arrow type, so pandas never
infers a dtype by scanning every list. The key and carry fields of the
output schema come from the input schema, so a kernel runs on any
``doc_id`` type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

# Per-task memo bound: a memo this large is cleared, not grown further.
MEMO_CAP = 4_000_000


class _Memo(dict):
    """``h[key]`` is ``fn(key)``, computed once per task: a hit is one C
    dict lookup. Cleared when it holds ``cap`` entries."""

    __slots__ = ("fn", "cap")

    def __init__(self, fn, cap: int):
        super().__init__()
        self.fn = fn
        self.cap = cap

    def __missing__(self, key):
        if len(self) >= self.cap:
            self.clear()
        v = self[key] = self.fn(key)
        return v


def _batches(per_doc, out: StructType, keys: list[str], memo, cap: int):
    """The mapInPandas function of :func:`doc_kernel`. ``h`` is a
    ``_Memo`` over ``memo`` (None without one), fresh in every task."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.types import to_arrow_type

    names = out.fieldNames()
    dtypes = [to_arrow_type(f.dataType).to_pandas_dtype() for f in out.fields]

    def fn(batches):
        h = None if memo is None else _Memo(memo, cap)
        for pdf in batches:
            rows, cols = [], [[] for _ in names]
            for i, text in enumerate(pdf["text"]):
                if text is None:
                    continue
                got = per_doc(text, h)
                n = len(got[0])
                if n:
                    rows += [i] * n
                    for col, vals in zip(cols, got):
                        col.extend(vals)
            take = np.asarray(rows, dtype=np.intp)
            frame = {k: pdf[k].to_numpy()[take] for k in keys}
            for name, dtype, col in zip(names, dtypes, cols):
                frame[name] = pd.Series(col, dtype=dtype)
            yield pd.DataFrame(frame)

    return fn


def doc_kernel(
    docs: DataFrame,
    per_doc,
    out_schema: str,
    memo=None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *carry, *out_schema): ``per_doc(text, h)``'s rows for
    every document with non-null ``text``, keyed by its ``doc_id`` and
    ``carry`` values. ``out_schema`` is a DDL string of the output
    columns; ``memo`` is a pure one-argument function that ``h`` caches
    per task (``h[key] == memo(key)``)."""
    from granulate_char_ocr_spark.operators.skew import widen_narrow_scan

    keys = ["doc_id", *carry]
    src = widen_narrow_scan(docs.select(*keys, "text"))
    out = StructType.fromDDL(out_schema)
    schema = StructType([src.schema[k] for k in keys] + out.fields)
    return src.mapInPandas(
        _batches(per_doc, out, keys, memo, MEMO_CAP), schema=schema
    )
