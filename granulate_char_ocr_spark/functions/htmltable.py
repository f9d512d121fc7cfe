"""HTML table extraction — ``<table>`` markup to structured rows as
PURE column expressions (whole-stage codegen, no UDF).

Tables are the one structure the main-text legs deliberately flatten:
the boilerplate strip (functions/html.py) and the density extractor
(functions/dom.py) both reduce a table to a word soup, losing the
row/column structure that makes tabular data usable as training signal
(infoboxes, spec sheets, results tables). This module recovers it:

    (doc_id, html) -> (doc_id, table_idx, row_idx, is_header,
                       cells, n_cells)

one output row per ``<tr>``, cells flattened/entity-decoded the same
way the main-text legs flatten prose (shared ``_TAG``/``_WS_CLASS``/
``decode_entities_expr`` from functions/html.py — a decode fix lands
everywhere at once).

Deterministic pipeline, mirrored byte-identically in Spark (Java
regex), DuckDB (RE2) and Python (tests/reference_twins.py):

1. strip comments, drop <script>/<style> subtrees (a table literal in
   JavaScript is code, not content);
2. ``<table>`` bodies by lazy match -> posexplode = table_idx;
3. each body's ``<tr>`` bodies by lazy match -> posexplode = row_idx;
4. each row's ``<td>``/``<th>`` inner HTML -> flatten inline tags to
   spaces, decode entities (named -> numeric -> ampersand LAST),
   collapse whitespace, trim;
5. ``is_header`` = the row contains a ``<th>``; rows with zero cells
   are dropped (nothing extracted).

``cells`` is the cell list joined on US (U+001F, the ASCII unit
separator) — a flat string survives every engine's value-hash compare.
U+001F is not whitespace-collapsed, and ``&#31;`` DECODES to it, so
cell text explicitly replaces U+001F with a space before joining
(review finding r4: without this, one numeric entity desynchronizes
``cells``' split count from ``n_cells``).

Documented scope bounds (the regex-parse tradeoff): NESTED tables
truncate — the inner
``</table>`` ends the outer lazy match, so the outer table yields its
rows up to the nesting point and the inner table is extracted as its
own table_idx (row recall is preserved, attribution shifts); legacy
HTML that omits ``</tr>``/``</td>`` close tags yields no cells for the
unclosed elements. Both are deterministic on both engines, so the
oracle stays exact. colspan/rowspan attributes are not expanded —
cells arrive in source order.

At 100 TB: per row the work is a bounded regex cascade inside
whole-stage codegen; the two posexplodes are the only row multipliers
(bounded by table count x row count per page); no shuffle, no Python.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions.html import (
    _COMMENT,
    _ENTITIES_PRE,
    _ENTITY_AMP,
    _TAG,
    _WS_CLASS,
    _numeric_entities_sql,
    decode_entities_expr,
)

_DROP_CODE = [
    r"(?is)<script\b[^>]*>.*?</script>",
    r"(?is)<style\b[^>]*>.*?</style>",
]
_TABLE = r"(?is)<table\b[^>]*>(.*?)</table>"
_TR = r"(?is)<tr\b[^>]*>(.*?)</tr>"
_CELL = r"(?is)<t[dh]\b[^>]*>(.*?)</t[dh]>"
_TH = r"(?is)<th\b"
CELL_SEP = "\x1f"  # U+001F unit separator (see module docstring)


def _cell_text_expr(c: Column) -> Column:
    out = F.regexp_replace(c, F.lit(_TAG), F.lit(" "))
    out = decode_entities_expr(out)
    # &#31; decodes to the join separator itself — neutralize before
    # the collapse so cells.split(CELL_SEP) always equals n_cells
    out = F.replace(out, F.lit(CELL_SEP), F.lit(" "))
    return F.trim(F.regexp_replace(out, F.lit(_WS_CLASS), F.lit(" ")))


def table_rows_expr(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(…, html) -> (…, table_idx, row_idx, is_header, cells, n_cells)
    with one row per non-empty ``<tr>``; every other input column is
    carried through. ``cells`` is US-joined (CELL_SEP)."""
    carried = [c for c in df.columns if c != html_col]
    h = F.col(html_col)
    for pat in _DROP_CODE:
        h = F.regexp_replace(h, F.lit(pat), F.lit(" "))
    h = F.regexp_replace(h, F.lit(_COMMENT), F.lit(" "))
    tables = F.regexp_extract_all(h, F.lit(_TABLE), F.lit(1))

    tbl = df.select(
        *carried, F.posexplode(tables).alias("table_idx", "_tbl")
    )
    rows = tbl.select(
        *carried,
        "table_idx",
        F.posexplode(
            F.regexp_extract_all(F.col("_tbl"), F.lit(_TR), F.lit(1))
        ).alias("row_idx", "_row"),
    )
    # cell COUNT depends only on the raw match list, not the cleanup —
    # filter and n_cells use the raw extract so the expensive per-cell
    # transform runs once, in the surviving rows' projection only
    raw = F.regexp_extract_all(F.col("_row"), F.lit(_CELL), F.lit(1))
    return (
        rows.filter(F.size(raw) > 0)
        .select(
            *carried,
            "table_idx",
            "row_idx",
            F.col("_row").rlike(_TH).alias("is_header"),
            F.array_join(
                F.transform(raw, _cell_text_expr), CELL_SEP
            ).alias("cells"),
            F.size(raw).alias("n_cells"),
        )
    )


def _cell_text_sql(c: str) -> str:
    out = f"regexp_replace({c}, '{_TAG}', ' ', 'g')"
    for ent, rep in _ENTITIES_PRE:
        lit = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{lit}')"
    out = _numeric_entities_sql(out)
    out = f"replace({out}, '{_ENTITY_AMP[0]}', '{_ENTITY_AMP[1]}')"
    out = f"replace({out}, chr(31), ' ')"  # &#31; == the separator
    return f"trim(regexp_replace({out}, '{_WS_CLASS}', ' ', 'g'))"


def table_rows_oracle_sql(
    source_sql: str, html_sql: str, carried: str = "doc_id"
) -> str:
    """The byte-identical DuckDB (RE2) transform: ``source_sql`` is a
    relation expression, ``html_sql`` the page expression over it,
    ``carried`` the comma-joined pass-through columns."""
    h = html_sql
    for pat in _DROP_CODE:
        h = f"regexp_replace({h}, '{pat}', ' ', 'g')"
    h = f"regexp_replace({h}, '{_COMMENT}', ' ', 'g')"
    return f"""
    WITH _pages AS (SELECT {carried}, {h} AS _h FROM {source_sql}),
    _tbls AS (
      SELECT {carried},
             generate_subscripts(_l, 1) - 1 AS table_idx,
             unnest(_l) AS _tbl
      FROM (SELECT {carried},
                   regexp_extract_all(_h, '{_TABLE}', 1) AS _l
            FROM _pages)),
    _rows AS (
      SELECT {carried}, table_idx,
             generate_subscripts(_r, 1) - 1 AS row_idx,
             unnest(_r) AS _row
      FROM (SELECT {carried}, table_idx,
                   regexp_extract_all(_tbl, '{_TR}', 1) AS _r
            FROM _tbls))
    SELECT {carried}, table_idx, row_idx,
           regexp_matches(_row, '{_TH}') AS is_header,
           array_to_string(
             list_transform(regexp_extract_all(_row, '{_CELL}', 1),
                            _c -> {_cell_text_sql('_c')}),
             chr(31)) AS cells,
           len(regexp_extract_all(_row, '{_CELL}', 1)) AS n_cells
    FROM _rows
    WHERE len(regexp_extract_all(_row, '{_CELL}', 1)) > 0
    """
