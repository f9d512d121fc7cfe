"""HTML → Markdown conversion as PURE column expressions (whole-stage
codegen, no UDF) — the canonical "render for LLM training" step of a
web-extraction pipeline: boilerplate-stripped pages become Markdown so
document STRUCTURE (headings, lists, links, emphasis, code) survives
into the training text instead of collapsing to a word soup.

The reference repo has no web leg (SURVEY §2 is glyph OCR); this module
extends the north rule's "HTML boilerplate strip … DOM heuristics"
pipeline with the output format real corpus builds use.

Supported subset (deterministic, order-pinned cascade):

1. ALL source whitespace collapses to single spaces FIRST — Markdown
   block structure afterwards comes only from tags, never from source
   formatting (so pretty-printed and minified HTML convert identically);
2. <head>/<script>/<style> subtrees and comments drop wholesale;
3. block markers: <h1>-<h6> → '#'·n prefixes, <p>/<ul>/<ol> boundaries
   → blank lines, <li> → '- ' items, <br> → line break,
   <hr> → '---', <blockquote> → '> ' prefix (single-level);
4. inline spans: <a href> → [text](href), <b>/<strong> → **text**,
   <i>/<em> → *text*, <code> → `text`, <img src> → ![](src);
5. leftover tags flatten to spaces; entities decode (named set, numeric
   refs, ampersand last — shared with functions/html.py);
6. whitespace canonicalization: horizontal runs → one space, spaces
   hugging newlines dropped, 3+ newlines → exactly one blank line,
   leading/trailing space+newline trimmed.

Markdown METACHARACTERS in source text are NOT escaped (faithful-text
policy: corpus text passes through byte-identical, the way the
extraction legs' oracles demand). Tag names match case-insensitively;
nested same-name inline tags convert lazily (the synthesized-page and
common-crawl-reality subset — a full CommonMark emitter is out of
scope and documented as such).

Replacement strings use Java's ``$n`` group syntax (Spark regexp's
engine); the Python twin in tests/reference_twins.py uses ``\\n``. The
gate oracle does NOT mirror this cascade — it constructs the expected
Markdown independently from the source fields, which is the stronger
check.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions.html import (
    _COMMENT,
    _TAG,
    _WS_CLASS,
    decode_entities_expr,
)

# head/script/style drop wholesale — SHARED semantics with html.py's
# boilerplate strip (same \b guards, same lazy dot-all bodies); nav/
# header/footer/aside are NOT dropped here: Markdown render runs on
# already-main-content HTML, the strip legs own boilerplate removal.
_DROP = [
    r"(?is)<head\b[^>]*>.*?</head>",
    r"(?is)<script\b[^>]*>.*?</script>",
    r"(?is)<style\b[^>]*>.*?</style>",
    _COMMENT,
]

# (pattern, Java replacement, Python replacement) — RE2/Java patterns
# with NO backreferences in the pattern (closing tags are matched by
# literal level/name, not \1, so the same cascade stays portable).
# Every opener carries \b after the tag name — the html.py trap:
# without it '<p' swallows <pre>/<param>/<picture> and '<li' swallows
# <link>, fabricating paragraph breaks and phantom '-' items.
_BLOCK = (
    [(rf"(?i)<h{n}\b[^>]*>", "\n\n" + "#" * n + " ") for n in range(1, 7)]
    + [(rf"(?i)</h{n}\s*>", "\n\n") for n in range(1, 7)]
    + [
        (r"(?i)<p\b[^>]*>", "\n\n"),
        (r"(?i)</p\s*>", "\n\n"),
        (r"(?i)<br\b[^>]*>", "\n"),
        (r"(?i)<hr\b[^>]*>", "\n\n---\n\n"),
        (r"(?i)<li\b[^>]*>", "\n- "),
        (r"(?i)</li\s*>", ""),
        (r"(?i)</?[uo]l\b[^>]*>", "\n\n"),
        (r"(?i)<blockquote\b[^>]*>", "\n\n> "),
        (r"(?i)</blockquote\s*>", "\n\n"),
    ]
)

_INLINE_J = [  # Java $n replacements (Spark)
    (r'(?is)<a\s[^>]*?href="([^"]*)"[^>]*>(.*?)</a\s*>', "[$2]($1)"),
    (r"(?is)<(?:b|strong)\b[^>]*>(.*?)</(?:b|strong)\s*>", "**$1**"),
    (r"(?is)<(?:i|em)\b[^>]*>(.*?)</(?:i|em)\s*>", "*$1*"),
    (r"(?is)<code\b[^>]*>(.*?)</code\s*>", "`$1`"),
    (r'(?is)<img\s[^>]*?src="([^"]*)"[^>]*>', "![]($1)"),
]
_HWS = r"[ \t\r\f\x0B]+"  # horizontal whitespace (entity-decoded too)


def to_markdown_expr(col: Column) -> Column:
    """html string column -> Markdown string column, no Python in the
    plan."""
    out = F.regexp_replace(col, _WS_CLASS, " ")
    for pat in _DROP:
        out = F.regexp_replace(out, pat, " ")
    for pat, rep in _BLOCK:
        out = F.regexp_replace(out, pat, rep)
    for pat, rep in _INLINE_J:
        out = F.regexp_replace(out, pat, rep)
    out = F.regexp_replace(out, _TAG, " ")
    out = decode_entities_expr(out)
    out = F.regexp_replace(out, _HWS, " ")
    out = F.regexp_replace(out, r" *\n *", "\n")
    out = F.regexp_replace(out, r"\n{3,}", "\n\n")
    return F.btrim(out, F.lit(" \n"))
