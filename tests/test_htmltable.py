"""HTML table extraction: Spark expr ≡ Python twin ≡ DuckDB oracle,
plus the documented scope bounds (nested truncation, unclosed rows)."""

import duckdb
import pytest

from reference_twins import table_rows_python

from granulate_char_ocr_spark.functions.htmltable import (
    CELL_SEP,
    table_rows_expr,
    table_rows_oracle_sql,
)

PAGE = """<html><head>
<script>var trap = "<table><tr><td>code not content</td></tr></table>";</script>
<style>table{border:0}</style></head><body>
<!-- <table><tr><td>commented out</td></tr></table> -->
<p>prose</p>
<TABLE class="spec">
  <tr><th>Field</th><th colspan="2">Value</th></tr>
  <tr><td>weight</td><td>12&#32;kg</td></tr>
  <tr><td>name</td><td><b>bold</b> &amp; <i>ital</i></td></tr>
  <tr></tr>
</TABLE>
<table><tr>
  <td> spaced   cell </td><TD>UPPER&lt;tag&gt;</TD>
</tr></table>
</body></html>"""


def test_python_twin_semantics():
    rows = table_rows_python(PAGE)
    # script/comment tables dropped; empty <tr> dropped
    assert rows == [
        (0, 0, True, ["Field", "Value"]),
        (0, 1, False, ["weight", "12 kg"]),
        (0, 2, False, ["name", "bold & ital"]),
        (1, 0, False, ["spaced cell", "UPPER<tag>"]),
    ]


def test_expr_matches_python(spark):
    df = spark.createDataFrame(
        [("d1", PAGE), ("d2", "<p>no tables here</p>")],
        "doc_id string, html string",
    )
    got = [
        (r.table_idx, r.row_idx, r.is_header, r.cells.split(CELL_SEP))
        for r in table_rows_expr(df)
        .orderBy("table_idx", "row_idx")
        .collect()
    ]
    assert got == table_rows_python(PAGE)
    # the table-less doc yields zero rows, not empty-cell rows
    assert (
        table_rows_expr(df).filter("doc_id = 'd2'").count() == 0
    )


def test_duckdb_oracle_parity(spark):
    df = spark.createDataFrame(
        [("d1", PAGE)], "doc_id string, html string"
    )
    got = {
        (r.doc_id, r.table_idx, r.row_idx, r.is_header, r.cells, r.n_cells)
        for r in table_rows_expr(df).collect()
    }
    con = duckdb.connect()
    esc = PAGE.replace("'", "''")
    sql = table_rows_oracle_sql(
        f"(SELECT 'd1' AS doc_id, '{esc}' AS html)", "html"
    )
    want = {tuple(r) for r in con.execute(sql).fetchall()}
    assert got == want


def test_nested_table_truncates_deterministically():
    """Documented bound: the inner </table> ends the outer lazy match —
    outer rows BEFORE the nesting point survive, the inner table
    becomes its own table_idx, and nothing is duplicated."""
    html = (
        "<table><tr><td>outer</td></tr>"
        "<tr><td><table><tr><td>inner</td></tr></table></td></tr>"
        "<tr><td>after</td></tr></table>"
    )
    rows = table_rows_python(html)
    assert (0, 0, False, ["outer"]) in rows
    flat = [c for _, _, _, cs in rows for c in cs]
    assert flat.count("inner") == 1 and "after" not in flat


def test_unclosed_row_yields_no_cells():
    assert table_rows_python("<table><tr><td>never closed</table>") == []


def test_carried_columns_pass_through(spark):
    df = spark.createDataFrame(
        [("d1", "h1", "<table><tr><td>x</td></tr></table>")],
        "doc_id string, host string, html string",
    )
    r = table_rows_expr(df).collect()[0]
    assert (r.doc_id, r.host, r.cells, r.n_cells) == ("d1", "h1", "x", 1)


def test_separator_entity_cannot_desync_cells():
    # &#31; decodes to the US join separator — must be neutralized so
    # cells.split(CELL_SEP) always has exactly n_cells parts (review r4)
    rows = table_rows_python(
        "<table><tr><td>A&#31;B</td><td>C</td></tr></table>"
    )
    assert len(rows) == 1
    _, _, _, cells = rows[0]
    assert len(cells) == 2
    joined = CELL_SEP.join(cells)
    assert len(joined.split(CELL_SEP)) == 2
    assert cells[0] == "A B"
