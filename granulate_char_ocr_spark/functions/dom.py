"""DOM-heuristic main-content extraction — density-based block scoring
as PURE column expressions (whole-stage codegen, no UDF).

The north rule names "DOM heuristics" as its own web-extraction leg,
distinct from the named-container boilerplate strip (functions/html.py).
Where the strip drops <nav>/<header>/<footer>/<aside> by NAME, this
operator drops boilerplate by MEASURE — the shallow-text-feature rule of
Kohlschuetter et al., "Boilerplate Detection using Shallow Text
Features" (WSDM 2010), as popularized by Readability/boilerpipe/
trafilatura: segment the page into DOM blocks, score each block by text
length and link density, keep the content-dense blocks. That rule also
catches boilerplate the name-based pass cannot see (`<div
class="sidebar">` link farms, related-article link lists, pagination
bars) because it never looks at element names beyond block boundaries.

Deterministic pipeline, mirrored byte-identically in Spark (Java
regex), DuckDB (RE2) and Python (tests/reference_twins.py):

1. hard-drop only the non-content SUBTREES that are code rather than
   prose: <head>, <script>, <style>, and comments. Named boilerplate
   containers stay IN — the density rule must earn their removal;
2. split the document into blocks at every block-level tag boundary
   (open or close): p div section article main li ul ol h1-h6 td th tr
   table thead tbody blockquote pre br hr nav header footer aside body
   html form figure figcaption dl dt dd center;
3. per block: flatten inline tags to spaces and collapse whitespace ->
   the block text; extract <a>...</a> inner texts, flatten the same way
   -> the link text. Lengths are measured on the entity-ENCODED text
   (entities decode after selection) — deterministic and mirrorable;
4. keep blocks with text length >= MIN_BLOCK_CHARS and link density
   <= 1/3 (3 * link_len <= text_len, integer arithmetic — no float);
5. join kept blocks with a single space, then decode entities exactly
   as functions/html.py does (named set, numeric references, ampersand
   LAST) and collapse whitespace again (numeric references can decode
   to whitespace).

Short headings (< MIN_BLOCK_CHARS) drop with the boilerplate — the
classic shallow-feature tradeoff, accepted and documented; the
reference pipeline extracts span text, not page titles (SURVEY §2 S2).

Lazy quantifiers, (?is) flags and \\b word boundaries behave
identically in Java regex and RE2, so the DuckDB oracle is exact
(the same parity argument as functions/html.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions.html import (
    _COMMENT,
    _ENTITIES_PRE,
    _ENTITY_AMP,
    _TAG,
    _WS_CLASS,
    _numeric_entities_expr,
    _numeric_entities_sql,
)

# code-not-content subtrees (named boilerplate containers deliberately
# NOT here — the density rule handles them)
_DROP_CODE_SUBTREES = [
    r"(?is)<head\b[^>]*>.*?</head>",
    r"(?is)<script\b[^>]*>.*?</script>",
    r"(?is)<style\b[^>]*>.*?</style>",
]

_BLOCK_TAGS = (
    "p|div|section|article|main|li|ul|ol|h[1-6]|td|th|tr|table|thead"
    "|tbody|blockquote|pre|br|hr|nav|header|footer|aside|body|html"
    "|form|figure|figcaption|dl|dt|dd|center"
)
_BLOCK_SPLIT = rf"(?i)</?(?:{_BLOCK_TAGS})\b[^>]*>"
_LINK_INNER = r"(?is)<a\b[^>]*>(.*?)</a>"

MIN_BLOCK_CHARS = 25  # shorter blocks are headings/labels/buttons
LINK_DENSITY_NUM, LINK_DENSITY_DEN = 1, 3  # keep when ln/n <= 1/3


def _flat_expr(c: Column) -> Column:
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(c, F.lit(_TAG), F.lit(" ")),
            F.lit(_WS_CLASS),
            F.lit(" "),
        )
    )


def _entities_expr(out: Column) -> Column:
    for ent, rep in _ENTITIES_PRE:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = _numeric_entities_expr(out)
    return F.replace(out, F.lit(_ENTITY_AMP[0]), F.lit(_ENTITY_AMP[1]))


def main_content_expr(col: Column) -> Column:
    """html string column -> density-selected main-content text column."""
    out = col
    for pat in _DROP_CODE_SUBTREES:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, _COMMENT, " ")

    def block(b: Column) -> Column:
        t = _flat_expr(b)
        ln = F.length(
            _flat_expr(
                F.array_join(
                    F.regexp_extract_all(b, F.lit(_LINK_INNER), F.lit(1)),
                    " ",
                )
            )
        )
        return F.struct(t.alias("t"), ln.alias("ln"))

    blocks = F.transform(F.split(out, _BLOCK_SPLIT), block)
    kept = F.filter(
        blocks,
        lambda x: (F.length(x["t"]) >= MIN_BLOCK_CHARS)
        & (
            x["ln"] * LINK_DENSITY_DEN
            <= F.length(x["t"]) * LINK_DENSITY_NUM
        ),
    )
    joined = F.array_join(F.transform(kept, lambda x: x["t"]), " ")
    return F.trim(
        F.regexp_replace(_entities_expr(joined), _WS_CLASS, " ")
    )


def _flat_sql(e: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace({e}, '{_TAG}', ' ', 'g'), "
        f"'{_WS_CLASS}', ' ', 'g'))"
    )


def main_content_oracle_sql(col_sql: str) -> str:
    """The byte-identical DuckDB (RE2) transform for the oracle side.
    coalesce() pins Spark's empty-array semantics twice: a linkless
    block's array_to_string([]) and an all-boilerplate page's joined
    output are NULL in DuckDB but '' in Spark (CLAUDE.md gotcha)."""
    out = col_sql
    for pat in _DROP_CODE_SUBTREES:
        out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_COMMENT}', ' ', 'g')"
    link_join = (
        "coalesce(array_to_string("
        f"regexp_extract_all(b, '{_LINK_INNER}', 1), ' '), '')"
    )
    block = (
        f"struct_pack(t := {_flat_sql('b')}, "
        f"ln := length({_flat_sql(link_join)}))"
    )
    kept = (
        "list_filter(list_transform("
        f"string_split_regex({out}, '{_BLOCK_SPLIT}'), b -> {block}), "
        f"x -> length(x.t) >= {MIN_BLOCK_CHARS} "
        f"AND x.ln * {LINK_DENSITY_DEN} <= length(x.t) * {LINK_DENSITY_NUM})"
    )
    joined = (
        "coalesce(array_to_string("
        f"list_transform({kept}, x -> x.t), ' '), '')"
    )
    for ent, rep in _ENTITIES_PRE:
        lit = rep.replace("'", "''")
        joined = f"replace({joined}, '{ent}', '{lit}')"
    joined = _numeric_entities_sql(joined)
    joined = f"replace({joined}, '{_ENTITY_AMP[0]}', '{_ENTITY_AMP[1]}')"
    return f"trim(regexp_replace({joined}, '{_WS_CLASS}', ' ', 'g'))"
