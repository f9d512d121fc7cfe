"""Mojibake repair — undo the single most common real-world text
corruption in web corpora: UTF-8 bytes that were decoded as
Windows-1252/Latin-1 somewhere upstream ("A-tilde copyright" for "e
acute", "a-circumflex euro-dash" for an em dash), the ftfy
``fix_encoding`` core case.

Pure column expressions end to end — the repair is a char<->byte
bijection plus a structural validity regex, so the whole fix stays
inside whole-stage codegen and scales as a map (no UDF, no Python):

1. *un-display*: ``translate`` the 27 Windows-1252 display characters
   (euro sign, dagger, oe ligature, curly quotes, ...) back to the C1
   control positions they render — after this every character of a
   mojibake string is <= U+00FF and stands for exactly one original
   byte. The 5 code points cp1252 leaves undefined (0x81 0x8D 0x8F
   0x90 0x9D) pass through as raw C1 controls, which is what lenient
   decoders emit for them ("sloppy-cp1252", the ftfy convention).
2. *validate*: a full-string regex accepts exactly the strings whose
   char-as-byte reading is well-formed UTF-8 (RFC 3629 table — the
   E0/ED/F0/F4 overlong/surrogate/range corners included) AND contains
   at least one multibyte lead byte. Any char > U+00FF fails the
   anchored classes, so genuinely non-Latin clean text can never be
   "repaired"; plain accented text ("cafe" with a real e-acute) fails
   because the lone continuation byte follows no lead.
3. *re-decode*: ``decode(encode(s, 'ISO-8859-1'), 'UTF-8')`` — exact
   (latin-1 is a bijection char<->byte on 0x00-0xFF, and step 2
   already proved the byte string is valid UTF-8, so ANSI-mode decode
   cannot throw).

Rows that fail validation keep their original text — repair is
conservative by construction. The residual ambiguity is inherent to
the problem (a string that LOOKS like mojibake could be intentional);
this module resolves it the way every production fixer does: a text
whose non-ASCII content parses exactly as UTF-8-through-cp1252 is
overwhelmingly more likely to be mojibake than intent.

The forward direction (``mojibake_expr``; its Python twin is in
tests/reference_twins.py) is provided for tests and gate corpora: repair o corrupt == identity for
EVERY string (property-tested), because corrupt produces precisely the
strings validate accepts.

The reference repo has no encoding-repair stage (its corpus is
synthetic pixels); this leg comes from the builder's web-tier brief —
encoding repair sits between charset-sniffed body decode
(functions/charset.py) and quality filtering in a real crawl pipeline.

Source is deliberately pure ASCII: every non-ASCII code point below is
spelled as an escape and the regex is assembled from ``\\uXXXX``
escapes (valid in both Python ``re`` and Java regex), so no invisible
C1 character ever sits in a source line.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The 27 C1 positions Windows-1252 defines, and what they display as.
# Derived from the codec itself so the table cannot drift: for each
# byte 0x80-0x9F that cp1252 maps, pair (chr(byte), cp1252 char).
_C1_BYTES = []
_DISPLAY = []
for _b in range(0x80, 0xA0):
    try:
        _ch = bytes([_b]).decode("cp1252")
    except UnicodeDecodeError:  # 0x81 0x8D 0x8F 0x90 0x9D undefined
        continue
    _C1_BYTES.append(chr(_b))
    _DISPLAY.append(_ch)
C1_CONTROLS = "".join(_C1_BYTES)
CP1252_DISPLAY = "".join(_DISPLAY)


def _r(lo: int, hi: int) -> str:
    """A latin-1 char-class range as explicit escapes."""
    return f"[\\u{lo:04x}-\\u{hi:04x}]"


# RFC 3629 well-formed UTF-8, written over latin-1 code points (one
# char == one byte). Anchored: any char outside these classes — in
# particular anything > U+00FF — fails the whole match.
_CONT = _r(0x80, 0xBF)
_UTF8_BODY = (
    f"(?:{_r(0x00, 0x7F)}"
    f"|{_r(0xC2, 0xDF)}{_CONT}"  # 2-byte, C0/C1 overlongs excluded
    f"|\\u00e0{_r(0xA0, 0xBF)}{_CONT}"  # E0: no overlongs
    f"|{_r(0xE1, 0xEC)}{_CONT}{_CONT}"
    f"|\\u00ed{_r(0x80, 0x9F)}{_CONT}"  # ED: no surrogate range
    f"|{_r(0xEE, 0xEF)}{_CONT}{_CONT}"
    f"|\\u00f0{_r(0x90, 0xBF)}{_CONT}{_CONT}"  # F0: no overlongs
    f"|{_r(0xF1, 0xF3)}{_CONT}{_CONT}{_CONT}"
    f"|\\u00f4{_r(0x80, 0x8F)}{_CONT}{_CONT})*"  # F4: <= U+10FFFF
)
VALID_UTF8_AS_LATIN1_RE = f"^{_UTF8_BODY}$"
# at least one multibyte lead — an all-ASCII string needs no repair
_HAS_LEAD_RE = _r(0xC2, 0xF4)


def undisplay_expr(col: Column) -> Column:
    """cp1252 display chars -> the C1 code points they render."""
    return F.translate(col, CP1252_DISPLAY, C1_CONTROLS)


def is_mojibake_expr(col: Column) -> Column:
    """True iff the un-displayed string reads as well-formed UTF-8
    bytes with at least one multibyte sequence (i.e. repair would both
    apply and change the text)."""
    u = undisplay_expr(col)
    return u.rlike(VALID_UTF8_AS_LATIN1_RE) & u.rlike(_HAS_LEAD_RE)


def fix_mojibake_expr(col: Column) -> Column:
    """Repaired text when the mojibake signature validates, the
    original text otherwise. NULL-preserving. Pure codegen; the decode
    branch only evaluates on validated rows (CASE WHEN is lazy, unlike
    a Python UDF — CLAUDE.md gotcha)."""
    u = undisplay_expr(col)
    return F.when(
        u.rlike(VALID_UTF8_AS_LATIN1_RE) & u.rlike(_HAS_LEAD_RE),
        F.decode(F.encode(u, "ISO-8859-1"), "UTF-8"),
    ).otherwise(col)


def mojibake_expr(col: Column) -> Column:
    """Forward corruption (tests/gate corpora): the string's UTF-8
    bytes re-read as sloppy-cp1252. Identity on pure-ASCII text."""
    return F.translate(
        F.decode(F.encode(col, "UTF-8"), "ISO-8859-1"),
        C1_CONTROLS,
        CP1252_DISPLAY,
    )
