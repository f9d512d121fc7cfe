"""HTML main-content extraction — boilerplate strip as PURE column
expressions (whole-stage codegen, no UDF).

The north rule names the web-extraction legs explicitly ("HTML
boilerplate strip ... DOM heuristics"); this is the density-free core of
that pipeline expressed as a deterministic regex cascade every engine
can mirror (the DuckDB oracle runs the byte-identical transform):

1. drop non-content SUBTREES wholesale: <script>/<style> (code, not
   content) and the classic boilerplate containers <nav>/<header>/
   <footer>/<aside> (the Readability/trafilatura first pass);
2. strip HTML comments;
3. flatten remaining tags to spaces (block boundaries become word
   boundaries, never concatenations);
4. decode entities: the named set boilerplate actually emits (&lt;
   &gt; &quot; &nbsp;), then NUMERIC character references (&#NNN; /
   &#xHH;, any BMP code point — r3 item 9), then ampersand LAST so
   "&amp;lt;" decodes to the literal "&lt;" and "&amp;#39;" to the
   literal "&#39;", never to their referents;
5. collapse whitespace and trim.

Lazy quantifiers and (?s) dot-all behave identically in Java regex
(Spark) and RE2 (DuckDB), so the oracle is exact. A same-logic Python
twin lives in tests/reference_twins.py."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# subtree-dropping patterns: lazy body match, case-insensitive, dot-all
# (\b keeps <head> from swallowing <header> — 'e' is a word char)
_DROP_SUBTREES = [
    r"(?is)<head\b[^>]*>.*?</head>",
    r"(?is)<script\b[^>]*>.*?</script>",
    r"(?is)<style\b[^>]*>.*?</style>",
    r"(?is)<nav\b[^>]*>.*?</nav>",
    r"(?is)<header\b[^>]*>.*?</header>",
    r"(?is)<footer\b[^>]*>.*?</footer>",
    r"(?is)<aside\b[^>]*>.*?</aside>",
]
_COMMENT = r"(?s)<!--.*?-->"
_TAG = r"(?s)<[^>]*>"
_ENTITIES_PRE = [  # named entities decoded BEFORE the numeric pass
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&nbsp;", " "),
]
_ENTITY_AMP = ("&amp;", "&")  # ampersand LAST (see module docstring)

# numeric character references (ADVICE/VERDICT r3 item 9): &#NNN; decimal
# and &#xHH; hex, any BMP code point 9..0xFFFF outside the surrogate
# block; out-of-range/garbled references stay literal. Decoded in ONE
# pass via split-on-'&#' + per-piece transform — expressible identically
# in Spark (HOF + UTF-16BE byte decode), DuckDB (list_transform + chr)
# and Python, so the oracle stays exact. Supplementary-plane references
# (> U+FFFF, vanishingly rare in boilerplate) stay literal: Spark has no
# codegen code-point constructor beyond UTF-16BE's BMP. The pass runs
# after the named entities but before &amp;, so '&amp;#39;' correctly
# yields the literal '&#39;'.
_DEC_ENT = r"^([0-9]{1,7});"
_HEX_ENT = r"^[xX]([0-9A-Fa-f]{1,6});"
_ANY_ENT = r"^(?:[0-9]{1,7}|[xX][0-9A-Fa-f]{1,6});"


# whitespace collapse must behave identically in Java regex (Spark),
# RE2 (DuckDB) and Python: each engine's \s differs (Unicode in Python,
# ASCII+VT in Java, ASCII-no-VT in RE2), so use one explicit class
_WS_CLASS = r"[ \t\r\n\f\x0B]+"


def _valid_code(code: Column) -> Column:
    return (
        code.isNotNull()
        & (code >= 9)
        & (code <= 0xFFFF)
        & ((code < 0xD800) | (code > 0xDFFF))
    )


def _numeric_entities_expr(out: Column) -> Column:
    """One-pass numeric character-reference decode, pure codegen: split on
    '&#', decode each piece's leading reference (BMP code point via
    UTF-16BE bytes — Spark's chr() is mod-256 ASCII, so unhex+decode is
    the code-point constructor), rejoin."""
    def piece(p: Column, i: Column) -> Column:
        dec = F.regexp_extract(p, _DEC_ENT, 1)
        hx = F.regexp_extract(p, _HEX_ENT, 1)
        code = F.when(dec != "", dec.cast("long")).when(
            hx != "", F.conv(hx, 16, 10).cast("long")
        )
        ch = F.decode(
            F.unhex(F.lpad(F.conv(code.cast("string"), 10, 16), 4, "0")),
            "UTF-16BE",
        )
        rest = F.regexp_replace(p, _ANY_ENT, "")
        decoded = F.when(_valid_code(code), F.concat(ch, rest)).otherwise(
            F.concat(F.lit("&#"), p)
        )
        return F.when(i == 0, p).otherwise(decoded)

    return F.array_join(F.transform(F.split(out, "&#"), piece), "")


def decode_entities_expr(out: Column) -> Column:
    """The shared entity-decode tail (named set → numeric refs →
    ampersand LAST) — one implementation for every leg that decodes
    entities (main-text strip here, Markdown render in markdown.py,
    page metadata in metadata.py), so an entity fix — and the amp-LAST
    ordering contract — lands everywhere at once."""
    for ent, rep in _ENTITIES_PRE:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = _numeric_entities_expr(out)
    return F.replace(out, F.lit(_ENTITY_AMP[0]), F.lit(_ENTITY_AMP[1]))


def main_text_expr(col: Column) -> Column:
    """html string column -> extracted main text column."""
    out = col
    for pat in _DROP_SUBTREES:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, _COMMENT, " ")
    out = F.regexp_replace(out, _TAG, " ")
    out = decode_entities_expr(out)
    return F.trim(F.regexp_replace(out, _WS_CLASS, " "))


def _numeric_entities_sql(out: str) -> str:
    """DuckDB mirror of _numeric_entities_expr: parts[1] || decoded tail
    pieces (list_transform has no index parameter, so the head piece is
    concatenated outside the lambda). The input expression is inlined
    twice — oracle clarity over oracle brevity."""
    valid = (
        "{v} IS NOT NULL AND {v} BETWEEN 9 AND 65535 "
        "AND ({v} < 55296 OR {v} > 57343)"
    )
    v = (
        f"CASE WHEN regexp_matches(p, '{_DEC_ENT}') THEN "
        f"CAST(regexp_extract(p, '{_DEC_ENT}', 1) AS BIGINT) "
        f"WHEN regexp_matches(p, '{_HEX_ENT}') THEN "
        f"CAST('0x' || regexp_extract(p, '{_HEX_ENT}', 1) AS BIGINT) "
        "ELSE NULL END"
    )
    piece = (
        f"CASE WHEN {valid.format(v=f'({v})')} THEN "
        f"chr(CAST(({v}) AS INTEGER)) || regexp_replace(p, '{_ANY_ENT}', '') "
        "ELSE '&#' || p END"
    )
    parts = f"string_split({out}, '&#')"
    # COALESCE: DuckDB's array_to_string([]) is NULL, Spark's array_join
    # of an empty array is '' — pin the Spark semantics
    return (
        f"(({parts})[1] || coalesce(array_to_string("
        f"list_transform(({parts})[2:], p -> {piece}), ''), ''))"
    )


def escape_text(col: Column) -> Column:
    """Entity-escape text for embedding into synthesized HTML (build side
    of the round trip; ampersand FIRST, the inverse order of decode)."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    return F.replace(out, F.lit(">"), F.lit("&gt;"))
