"""HTML → Markdown converter: Python-twin ≡ Spark-expr equivalence,
subset semantics, and gate parity against the independently-constructed
DuckDB oracle."""

import pytest

from reference_twins import to_markdown_python


CASES = [
    # structure: heading levels, paragraphs, list
    (
        "<h1>A</h1><h2>B</h2><h3>C</h3><p>x y</p><ul><li>i</li><li>j</li></ul>",
        "# A\n\n## B\n\n### C\n\nx y\n\n- i\n- j",
    ),
    # inline: link, bold, strong, italic, em, code, img
    (
        '<p><a href="u">t</a> <b>b</b> <strong>s</strong> <i>i</i> '
        "<em>e</em> <code>c</code></p><img src=\"p.png\">",
        "[t](u) **b** **s** *i* *e* `c`\n\n![](p.png)",
    ),
    # br / hr / blockquote
    ("<p>a<br>b</p><hr><blockquote>q</blockquote>", "a\nb\n\n---\n\n> q"),
    # source formatting is irrelevant: pretty-printed == minified
    ("<h1>\n  A\n</h1>\n<p>\n  x\n</p>", "# A\n\nx"),
    # head/script/style/comment dropped; leftover tags flatten
    (
        "<head><title>T</title></head><script>1<2</script>"
        "<!-- c --><div>keep</div>",
        "keep",
    ),
    # entities decode after tag work; &amp; last
    ("<p>&lt;tag&gt; &amp;amp; &#65;&#x42;</p>", "<tag> &amp; AB"),
    # uppercase tags, attributes on blocks
    ('<H1 CLASS="x">A</H1><P ID="y">b</P>', "# A\n\nb"),
    # empty blocks collapse (no 3+ newline runs survive)
    ("<p></p><p>x</p><p></p>", "x"),
    # ordered lists use the same dash items (documented subset)
    ("<ol><li>one</li><li>two</li></ol>", "- one\n- two"),
    # markdown metacharacters in text are NOT escaped (faithful-text)
    ("<p>a*b_c#d</p>", "a*b_c#d"),
    # \b guards: <link>/<pre>/<param> are NOT <li>/<p> (phantom-bullet
    # and fake-paragraph trap)
    (
        '<p>a</p><link rel="s" href="s.css"><p>b</p>',
        "a\n\nb",
    ),
    ("<pre>x</pre><param name=\"y\">", "x"),
    ("<hr><hreflang>z</hreflang>", "---\n\nz"),
]


@pytest.mark.parametrize("html,want", CASES)
def test_python_twin_cases(html, want):
    assert to_markdown_python(html) == want


def test_expr_equals_twin(spark):
    """The Spark expression and the Python twin agree byte-for-byte on
    every case (Java-regex / Python-regex parity for the cascade)."""
    from pyspark.sql import functions as F

    from granulate_char_ocr_spark.functions.markdown import (
        to_markdown_expr,
    )

    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(CASES)], "i int, html string"
    )
    got = {
        r.i: r.md
        for r in df.select(
            "i", to_markdown_expr(F.col("html")).alias("md")
        ).collect()
    }
    for i, (html, _) in enumerate(CASES):
        assert got[i] == to_markdown_python(html), CASES[i][0]


def test_markdown_convert_docs_parity(spark):
    """HTML→Markdown gate query (left the 50-entry gate in r5 within the
    HTML family's near-duplicate retirement): exact DuckDB parity."""
    from parity import assert_parity

    from granulate_char_ocr_spark import driver_queries

    assert_parity(
        spark,
        driver_queries.markdown_convert_docs,
        driver_queries.MARKDOWN_CONVERT_ORACLE,
    )
