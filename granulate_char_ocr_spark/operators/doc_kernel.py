"""The one way to write a per-row Python kernel.

A row kernel turns each input row into zero or more output rows: a PDF
into its pages, a WARC file into its records, an image into its decoded
plane, a document's ``text`` into its shingles. :func:`row_kernel` is the
batch-at-a-time ``mapInArrow`` loop they all share; a kernel supplies
only ``per_task()``, which runs once per task on the executor (imports,
per-task state) and returns ``per_row(*inputs)``. ``per_row`` returns one
sequence per output column, all of the same length, or an empty tuple
for no rows.

The harness repeats the caller-named key columns once per emitted row
(one Arrow ``take`` per batch) and builds every output column with
``pa.array(values, type=...)``, so every column keeps its nulls and no
dtype is inferred by scanning a list. Output fields come from the DDL
string, key fields take their type from the input schema, and every
field is nullable.

Kernels that vectorize ACROSS the rows of a batch (``extract._process_batch``,
``multimodal.image_embeddings``, the dedup pair kernels,
``similarity.cosine_topk_gemm``) keep their own batch functions.

:func:`doc_kernel` is the text entry point: it widens a narrow scan once,
skips null text and hands ``per_doc(text, h)`` a per-task memo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

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


def _batches(per_task, out: StructType, keys, inputs):
    """The mapInArrow function of :func:`row_kernel`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    names = [*keys, *out.fieldNames()]
    types = [to_arrow_type(f.dataType) for f in out.fields]

    def fn(batches):
        per_row = per_task()
        for batch in batches:
            rows, cols = [], [[] for _ in types]
            args = [batch.column(c).to_pylist() for c in inputs]
            for i, vals in enumerate(zip(*args)):
                got = per_row(*vals)
                n = len(got[0]) if got else 0
                if n:
                    rows += [i] * n
                    for col, col_vals in zip(cols, got):
                        col.extend(col_vals)
            take = pa.array(rows, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(k).take(take) for k in keys]
                + [pa.array(c, type=t) for c, t in zip(cols, types)],
                names=names,
            )

    return fn


def row_kernel(
    df: DataFrame,
    keys: tuple[str, ...],
    inputs: tuple[str, ...],
    per_task,
    out_schema: str,
) -> DataFrame:
    """(*keys, *out_schema): the rows ``per_row(*inputs)`` emits for every
    row of ``df``, keyed by that row's ``keys`` values. ``per_task()`` is
    called once per task and returns ``per_row``; ``out_schema`` is a DDL
    string of the output columns."""
    src = df.select(*keys, *inputs)
    out = StructType.fromDDL(out_schema)
    schema = StructType(
        [StructField(k, src.schema[k].dataType) for k in keys] + out.fields
    )
    return src.mapInArrow(_batches(per_task, out, keys, inputs), schema)


def _text_task(per_doc, memo, cap: int):
    """doc_kernel's ``per_task``: a fresh ``_Memo`` over ``memo`` (None
    without one) per task; null text emits no rows."""

    def per_task():
        h = None if memo is None else _Memo(memo, cap)
        return lambda text: () if text is None else per_doc(text, h)

    return per_task


def doc_kernel(
    docs: DataFrame,
    per_doc,
    out_schema: str,
    memo=None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *carry, *out_schema): ``per_doc(text, h)``'s rows for
    every document with non-null ``text``, keyed by its ``doc_id`` and
    ``carry`` values. ``memo`` is a pure one-argument function that ``h``
    caches per task (``h[key] == memo(key)``)."""
    from granulate_char_ocr_spark.operators.skew import widen_narrow_scan

    keys = ("doc_id", *carry)
    src = widen_narrow_scan(docs.select(*keys, "text"))
    return row_kernel(
        src, keys, ("text",), _text_task(per_doc, memo, MEMO_CAP), out_schema
    )
