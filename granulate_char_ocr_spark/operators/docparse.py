"""Document-format parsing operators — the web-extraction legs the north
rule names explicitly: "HTML boilerplate strip" and "PDF/layout parse".

HTML main-content extraction is PURE whole-stage codegen (a regex
cascade over a string column — functions/html.py); the binary-payload
parsers (PDF, WARC, charset) are per-row kernels on the
Arrow-batched harness (operators/doc_kernel.row_kernel). All are
deterministic, so the driver gate checks them against exact oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions.dom import main_content_expr
from granulate_char_ocr_spark.functions.html import main_text_expr
from granulate_char_ocr_spark.operators.doc_kernel import row_kernel


def html_main_texts(
    df: DataFrame, html_col: str = "html", key_col: str = "doc_id"
) -> DataFrame:
    """(key, html) -> (key, main_text): boilerplate-stripped body text,
    no Python in the plan."""
    return df.select(
        key_col, main_text_expr(F.col(html_col)).alias("main_text")
    )


def html_main_contents(
    df: DataFrame, html_col: str = "html", key_col: str = "doc_id"
) -> DataFrame:
    """(key, html) -> (key, main_content): density-selected content text
    (the DOM-heuristic leg, functions/dom.py) — link-dense and short
    blocks dropped by measure, not by element name. No Python in the
    plan."""
    return df.select(
        key_col, main_content_expr(F.col(html_col)).alias("main_content")
    )


def html_tables(
    df: DataFrame, html_col: str = "html", key_col: str = "doc_id"
) -> DataFrame:
    """(key, html) -> (key, table_idx, row_idx, is_header, cells,
    n_cells): ``<table>`` markup recovered as structured rows
    (functions/htmltable.py) — the structure the main-text legs
    deliberately flatten. Cells are US-joined (htmltable.CELL_SEP).
    Pure whole-stage codegen; the two posexplodes are the only row
    multipliers."""
    from granulate_char_ocr_spark.functions.htmltable import (
        table_rows_expr,
    )

    return table_rows_expr(df.select(key_col, html_col), html_col)


def pdf_texts(df: DataFrame, layout: bool = False) -> DataFrame:
    """(doc_id, pdf_bytes=payload) -> (doc_id, extracted): the text layer
    of each PDF — in operator (draw) order by default, or in READING order
    with ``layout=True`` (text-matrix tracking + XY-cut column sort,
    functions/pdf.py), which un-interleaves multi-column and
    out-of-sequence draws. The key column keeps its input type. Per-row
    parse failures raise (wrap upstream when a corpus needs the
    permissive contract)."""

    def per_task():
        from granulate_char_ocr_spark.functions.pdf import (
            decode_pdf_text,
            decode_pdf_text_layout,
        )

        decode = decode_pdf_text_layout if layout else decode_pdf_text
        return lambda p: ([decode(bytes(p))],)

    return row_kernel(
        df, ("doc_id",), ("payload",), per_task, "extracted string"
    )


def html_to_markdown(
    df: DataFrame, html_col: str = "html", key_col: str = "doc_id"
) -> DataFrame:
    """(key, html) -> (key, markdown): structure-preserving Markdown
    render (functions/markdown.py — headings, lists, links, emphasis,
    code survive into training text). Pure whole-stage codegen."""
    from granulate_char_ocr_spark.functions.markdown import (
        to_markdown_expr,
    )

    return df.select(
        key_col, to_markdown_expr(F.col(html_col)).alias("markdown")
    )


def build_warc_files(
    df: DataFrame,
    file_col: str = "file_id",
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(file_id, url, html) -> (file_id, payload, n_records): pack each
    file group's pages into one WARC file (functions/warc.py — leading
    warcinfo record, per-record gzip members, Common Crawl layout).
    Pages are packed in url order inside each file so the build is
    deterministic under any upstream partitioning. This is the
    test-harness DIRECTION: production reads WARC, it doesn't write it —
    the read path is ``warc_records``."""
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from granulate_char_ocr_spark.functions.warc import build_warc

        # (url, html) sort: url alone leaves duplicate-url rows in
        # upstream arrival order, which varies with partitioning
        pdf = pdf.sort_values([url_col, html_col])
        pages = [
            (u, h.encode("utf-8"))
            for u, h in zip(pdf[url_col], pdf[html_col])
        ]
        return pd.DataFrame(
            {
                file_col: [pdf[file_col].iloc[0]],
                "payload": [build_warc(pages)],
                "n_records": [len(pages) + 1],  # + warcinfo
            }
        )

    file_type = df.schema[file_col].dataType.simpleString()
    return df.groupBy(file_col).applyInPandas(
        fn, schema=f"{file_col} {file_type}, payload binary, n_records int"
    )


def warc_records(df: DataFrame) -> DataFrame:
    """1→N record explode over WARC files: (file_id, warc_bytes=payload)
    -> (file_id, rec_index, rec_type, url, http_status, content_type,
    body) — the web-scale ingest front door (Common Crawl arrives as
    WARC). Peak per-task memory is one file's DECOMPRESSED payload
    (parse_warc materializes the member stream before splitting records);
    at cluster scale the unit of parallelism is the FILE (binary source
    rows), so both skew and memory follow file sizing, which the
    crawler already bounds (~1 GB). Body stays ``binary`` — charset
    decode is the caller's step."""

    def per_task():
        from granulate_char_ocr_spark.functions.warc import parse_warc

        def per_row(p):
            return tuple(zip(*(
                (i, r.rec_type, r.url, r.http_status,
                 r.http_content_type or r.content_type, r.body)
                for i, r in enumerate(parse_warc(bytes(p)))
            )))

        return per_row

    return row_kernel(
        df,
        ("file_id",),
        ("payload",),
        per_task,
        "rec_index int, rec_type string, url string, http_status int, "
        "content_type string, body binary",
    )


def decode_bodies(df: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """(key, body, content_type) -> (key, text): charset-sniffed
    decode of crawled HTML bodies (functions/charset.py — BOM → HTTP
    charset= → <meta charset> prescan → UTF-8 try → windows-1252
    fallback). Real captures are not all UTF-8; a plain
    ``F.decode(body, 'UTF-8')`` mangles every legacy-encoded page.
    Arrow-batched; never raises (replacement chars mark label lies,
    NULL bodies pass through as NULL text)."""

    def per_task():
        from granulate_char_ocr_spark.functions.charset import decode_body

        return lambda b, ct: (
            [None if b is None else decode_body(bytes(b), ct or "")],
        )

    return row_kernel(
        df, (key_col,), ("body", "content_type"), per_task, "text string"
    )
