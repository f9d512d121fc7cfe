"""DOM-heuristic main-content extraction (functions/dom.py) — density
scoring must drop boilerplate by MEASURE (short / link-dense blocks),
keep prose, and agree byte-identically across Spark, the Python twin,
and the DuckDB oracle transform."""

import duckdb
import pandas as pd
import pytest

from reference_twins import main_content_python, main_text_python

from granulate_char_ocr_spark.functions.dom import (
    MIN_BLOCK_CHARS,
    main_content_oracle_sql,
)

PAGE = (
    '<html><head><title>T</title><style>p{x:1}</style>'
    '<script>var t = "<p>trap</p>";</script></head><body>'
    '<div class="menu"><a href="/">Home</a> <a href="/a">Articles</a> '
    '<a href="/c">Contact</a></div>'
    "<h1>Why shallow text features work</h1>"
    "<p>Boilerplate is short and link-dense; body text is long and "
    "link-sparse.</p>"
    '<div class="sidebar"><ul>'
    '<li><a href="/1">Ten related articles you must read today</a></li>'
    '<li><a href="/2">Another long teaser headline over here</a></li>'
    "</ul></div>"
    '<p>A block may cite <a href="/ref">one reference</a> and still read '
    "as prose because its link density stays low.</p>"
    '<footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a> '
    "(c) 2026</footer></body></html>"
)

PAGE_MAIN = (
    "Why shallow text features work "
    "Boilerplate is short and link-dense; body text is long and "
    "link-sparse. "
    "A block may cite one reference and still read as prose because its "
    "link density stays low."
)


def test_density_rule_pinned_page():
    """Absolute expected output, written by hand from the rule: the menu
    (short + all-link), the sidebar link farm (long but all-link), and
    the footer (short) drop; the heading, both paragraphs — including
    the one citing a single inline link — survive."""
    assert main_content_python(PAGE) == PAGE_MAIN


def test_density_beats_name_based_strip():
    """The differentiator vs functions/html.py: a link farm in a CLASS-
    named div is invisible to the name-based strip but dropped by
    density."""
    farm = (
        '<div class="related-posts">'
        '<a href="/1">A very long related article teaser one</a> '
        '<a href="/2">A very long related article teaser two</a></div>'
        "<p>The actual article body text, which reads as prose.</p>"
    )
    assert "teaser" in main_text_python(farm)  # name-based keeps it
    assert (
        main_content_python(farm)
        == "The actual article body text, which reads as prose."
    )


def test_min_chars_boundary():
    keep = "x" * MIN_BLOCK_CHARS
    drop = "x" * (MIN_BLOCK_CHARS - 1)
    assert main_content_python(f"<p>{keep}</p>") == keep
    assert main_content_python(f"<p>{drop}</p>") == ""


def test_link_density_boundary():
    """ln*3 <= n is a KEEP (exactly one third links); one char less of
    body text tips it over."""
    link = '<a href="/x">' + "x" * 10 + "</a>"
    kept = f"<p>{link} {'y' * 19}</p>"  # n = 30, ln = 10 -> keep
    dropped = f"<p>{link} {'y' * 18}</p>"  # n = 29, ln = 10 -> drop
    assert main_content_python(kept) == "x" * 10 + " " + "y" * 19
    assert main_content_python(dropped) == ""


def test_entities_decode_after_selection():
    page = "<p>caf&#233; costs &#x20AC;5 every single day</p>"
    assert main_content_python(page) == "café costs €5 every single day"


def test_all_boilerplate_page_is_empty():
    page = (
        '<nav><a href="/">Home</a></nav>'
        "<script>var x = 1;</script><footer>(c)</footer>"
    )
    assert main_content_python(page) == ""


PAGES = [
    PAGE,
    "<div>no boilerplate at all, just one plain content div</div>",
    "plain text with no tags, long enough to clear the floor",
    "<p>caf&#233; costs &#x20AC;5 every single day</p>",
    "<p>&amp;#39; stays literal in a block long enough to keep</p>",
    '<nav><a href="/">Home</a></nav><footer>(c)</footer>',
    "",
    # nested blocks: inner li text merges into split segments
    "<ul><li>first bullet item with enough characters</li>"
    "<li>second bullet item with enough characters</li></ul>",
    # an <a> split across a block boundary (degenerate nesting): the
    # closing </a> lands in the next segment; rule stays deterministic
    '<div><a href="/x">start of link <p>continued prose text inside '
    "the anchor element</p> tail</a></div>",
]


def test_spark_matches_python_and_oracle(spark):
    from pyspark.sql import functions as F

    from granulate_char_ocr_spark.operators.docparse import (
        html_main_contents,
    )

    pdf = pd.DataFrame({"doc_id": range(len(PAGES)), "html": PAGES})
    df = spark.createDataFrame(pdf, "doc_id long, html string")
    got = {
        r["doc_id"]: r["main_content"]
        for r in html_main_contents(df).collect()
    }
    want_py = {i: main_content_python(p) for i, p in enumerate(PAGES)}
    assert got == want_py
    con = duckdb.connect()
    con.register("pages", pdf)
    sql = (
        f"SELECT doc_id, {main_content_oracle_sql('html')} AS t FROM pages"
    )
    want_duck = {r[0]: r[1] for r in con.sql(sql).fetchall()}
    assert got == want_duck


def test_plan_is_pure_codegen(spark):
    """No Python anywhere in the plan — one Project over the scan."""
    from granulate_char_ocr_spark.operators.docparse import (
        html_main_contents,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "html": ["<p>x</p>"]}),
        "doc_id long, html string",
    )
    plan = (
        html_main_contents(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
