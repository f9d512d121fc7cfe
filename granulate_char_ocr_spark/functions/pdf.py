r"""Minimal PDF text layer — the "PDF/layout parse" leg of the north rule.

Writes and reads the text-bearing core of ISO 32000: a one-page document
whose Flate-compressed content stream shows text with BT/ET + Tf/Td/Tj
operators, with either a classic xref table (PDF 1.4) or — VERDICT r3
item 3 — a 1.5-style cross-reference STREAM plus an object stream
(/ObjStm) holding the structure objects, so third-party readers open
both outputs. The extractor walks every stream object, inflates
FlateDecode streams, and collects Tj/TJ/' strings in operator order
(one emitted line per text-positioning group), decoding literal-string
escapes (\\, \(, \), \n, \r, \t, octal), hex strings, and both string
encodings the spec defines (UTF-16BE with BOM, else PDFDocEncoding ~
Latin-1). Subset-embedded fonts (VERDICT r4 item 4) are handled through
their /ToUnicode CMaps (§9.10.3): font resources resolve to their CMap
streams (codespacerange width, bfchar, bfrange in both destination
forms), Tf switches the active map, and glyph-coded show strings map
back to text — the route professionally-produced PDFs require; fonts
without /ToUnicode keep the default decode. For
1.5 files the /ObjStm streams are expanded, which resolves indirect
'/Length n 0 R' references whose integer lives inside an object stream;
the /XRef stream itself is not read (extraction walks the objects, not
the table). Content streams themselves
can never live inside an ObjStm (ISO 32000-1 §7.5.7 excludes stream
objects), so text extraction still walks top-level streams. Encrypted
PDFs and non-Flate filters are rejected with the reason; PDFs whose
text layer is scanned IMAGES are the OCR pipeline's job, not this
parser's.
"""

from __future__ import annotations

import bisect
import re
import struct
import zlib

import numpy as np

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _encode_pdf_string(s: str) -> bytes:
    """Text -> PDF literal string bytes: UTF-16BE+BOM when needed, else
    Latin-1; (, ) and \\ escaped."""
    try:
        raw = s.encode("latin-1")
        if raw[:2] == b"\xfe\xff":
            # would collide with the UTF-16BE BOM on decode — force the
            # unambiguous encoding (review finding)
            raw = b"\xfe\xff" + s.encode("utf-16-be")
    except UnicodeEncodeError:
        raw = b"\xfe\xff" + s.encode("utf-16-be")
    out = bytearray(b"(")
    for byte in raw:
        if byte in (0x28, 0x29, 0x5C):  # ( ) backslash
            out += b"\\"
        out.append(byte)
    out += b")"
    return bytes(out)


def _unescape_pdf_string(raw: bytes) -> bytes:
    """PDF literal-string body (between parens, escapes intact) -> the
    raw string bytes (escapes resolved, encoding NOT yet applied — a
    CMap-encoded show string maps these bytes as glyph codes)."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        b = raw[i]
        if b != 0x5C:  # backslash
            out.append(b)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        c = raw[i : i + 1]
        if c in _ESCAPES:
            out += _ESCAPES[c]
            i += 1
        elif b"0" <= c <= b"7":  # octal, up to 3 OCTAL digits (not 8/9)
            j = i
            while j < n and j - i < 3 and 0x30 <= raw[j] <= 0x37:
                j += 1
            out.append(int(raw[i:j], 8) & 0xFF)
            i = j
        elif c in (b"\n", b"\r"):  # line continuation
            i += 1
        else:
            out += c
            i += 1
    return bytes(out)


def _pdf_text(data: bytes) -> str:
    """String bytes -> text per ISO 32000-1 §7.9.2: UTF-16BE when the
    BOM leads, else PDFDocEncoding (~ Latin-1)."""
    if data[:2] == b"\xfe\xff":
        return data[2:].decode("utf-16-be", errors="replace")
    return data.decode("latin-1")


def _hex_string_bytes(raw: bytes) -> bytes:
    """Hex-string body (between < >, whitespace allowed) -> bytes; an
    odd final digit is padded with 0 (ISO 32000-1 §7.3.4.3)."""
    h = re.sub(rb"[^0-9A-Fa-f]", b"", raw)
    if len(h) % 2:
        h += b"0"
    try:
        return bytes.fromhex(h.decode("ascii"))
    except ValueError:
        return b""


def _content_stream(lines: list[str]) -> bytes:
    ops = [b"BT", b"/F1 12 Tf", b"72 720 Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append(b"0 -14 Td")
        ops.append(_encode_pdf_string(line) + b" Tj")
    ops.append(b"ET")
    return zlib.compress(b"\n".join(ops))


_STRUCT_OBJS = [  # objects 1-4: catalog, page tree, page, font
    b"<< /Type /Catalog /Pages 2 0 R >>",
    b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
    b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
]


def _assemble_classic(objs: list[bytes]) -> bytes:
    """Objects 1..n -> a 1.4 file with the classic xref table."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_off)
    )
    return bytes(out)


def _objstm_body(packed: list[bytes], nums: list[int]) -> bytes:
    """Pack object bodies into a /ObjStm stream object body."""
    offs, blob = [], bytearray()
    for body in packed:
        offs.append(len(blob))
        blob += body + b"\n"
    header = b" ".join(
        b"%d %d" % (n, o) for n, o in zip(nums, offs)
    ) + b"\n"
    payload = zlib.compress(header + bytes(blob))
    return (
        b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode "
        b">>\nstream\n" % (len(packed), len(header), len(payload))
        + payload
        + b"\nendstream"
    )


def _xref_stream_obj(entries: list[tuple[int, int, int]], size: int) -> bytes:
    """(type, field2, field3) entries -> a /XRef stream object body.
    W [1 4 2]: 4-byte offsets — a 2-byte field caps the file at 64 KiB
    and crashes the packer past it (review finding r4)."""
    cols = 7
    rows = bytearray()
    prev = bytes(cols)
    for t, a, b in entries:
        row = struct.pack(">BIH", t, a, b)
        rows.append(2)  # PNG Up predictor (filter 2): delta vs prev row
        rows += bytes((c - p) & 0xFF for c, p in zip(row, prev))
        prev = row
    payload = zlib.compress(bytes(rows))
    return (
        b"<< /Type /XRef /Size %d /Root 1 0 R /W [1 4 2] /Index [0 %d] "
        b"/Filter /FlateDecode "
        b"/DecodeParms << /Columns %d /Predictor 12 >> /Length %d "
        b">>\nstream\n" % (size, size, cols, len(payload))
        + payload
        + b"\nendstream"
    )


def encode_pdf(lines: list[str], object_streams: bool = False) -> bytes:
    """Text lines -> a minimal single-page PDF with a Flate content
    stream (Helvetica 12pt, one Td-positioned Tj per line). With
    ``object_streams`` the file is written the PDF 1.5 way: structure
    objects packed in a compressed /ObjStm, a cross-reference STREAM
    (W [1 2 2], PNG Up-predictor rows) instead of the classic table,
    and the content stream's /Length as an indirect reference whose
    integer lives inside the object stream — the layout most PDFs
    written in the last 15 years use."""
    return _assemble_single(_content_stream(lines), object_streams)


def _assemble_single(content: bytes, object_streams: bool) -> bytes:
    """One compressed content stream -> a complete single-page file
    (classic 1.4 table or 1.5 ObjStm+XRef-stream layout). Object
    numbering is pinned by the xref round-trip tests — do not renumber."""
    if not object_streams:
        return _assemble_classic(
            _STRUCT_OBJS
            + [
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n"
                % len(content)
                + content
                + b"\nendstream",
            ]
        )

    # --- PDF 1.5: ObjStm (obj 6) + XRef stream (obj 7) -----------------------
    # object 8 (inside the ObjStm) is the content stream's /Length integer,
    # exercising indirect-Length resolution through an object stream
    objstm = _objstm_body(
        _STRUCT_OBJS + [b"%d" % len(content)], [1, 2, 3, 4, 8]
    )
    content_obj = (
        b"<< /Length 8 0 R /Filter /FlateDecode >>\nstream\n"
        + content
        + b"\nendstream"
    )
    out = bytearray(b"%PDF-1.5\n")
    top_offsets: dict[int, int] = {}
    for num, body in ((5, content_obj), (6, objstm)):
        top_offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_off = len(out)
    entries = [(0, 0, 0xFFFF)]  # free head
    for i in range(4):
        entries.append((2, 6, i))  # objects 1-4 live in ObjStm 6
    entries.append((1, top_offsets[5], 0))
    entries.append((1, top_offsets[6], 0))
    entries.append((1, xref_off, 0))  # the xref stream itself
    entries.append((2, 6, 4))  # object 8: the /Length integer
    out += b"7 0 obj\n" + _xref_stream_obj(entries, 9) + b"\nendobj\n"
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)


def _fmt_num(v: float) -> bytes:
    """PDF numeric operand: integers bare, reals with trailing zeros
    trimmed (4-decimal precision is exact for layout coordinates)."""
    if float(v) == int(v):
        return b"%d" % int(v)
    return f"{v:.4f}".rstrip("0").rstrip(".").encode()


def encode_pdf_runs(
    runs: list[tuple[float, float, str]],
    object_streams: bool = False,
    size: int = 12,
) -> bytes:
    """Positioned text runs -> a single-page PDF whose content stream
    shows each run at its absolute (x, y) via a ``1 0 0 1 x y Tm`` text
    matrix, IN THE GIVEN ORDER — the draw order need not be the reading
    order (real generators emit columns, footnotes and floats out of
    sequence), which is exactly what ``decode_pdf_text_layout`` must
    undo. Same structural objects/numbering as ``encode_pdf``."""
    ops = [b"BT", b"/F1 %d Tf" % size]
    for x, y, s in runs:
        ops.append(b"1 0 0 1 %s %s Tm" % (_fmt_num(x), _fmt_num(y)))
        ops.append(_encode_pdf_string(s) + b" Tj")
    ops.append(b"ET")
    return _assemble_single(zlib.compress(b"\n".join(ops)), object_streams)


# a dict immediately followed by the stream keyword: lazy body bound only
# as a FALLBACK — /Length (below) slices from the keyword position instead
_STREAM_RE = re.compile(
    rb"<<(?P<dict>.*?)>>\s*stream\r?\n(?P<body>.*?)endstream", re.S
)
_DELIMS = b"()<>[]{}/%"
_WHITESPACE = b"\x00\t\n\x0c\r "


def _tokenize_content(body: bytes):
    """Content-stream tokens in order: ('str', raw-escaped-bytes) for
    literal strings (escape-aware, balanced unescaped parens per the
    spec), ('hex', raw-hex-digits) for <...> hex strings (the encoding
    subset-font generators emit for glyph-coded shows), ('op', token)
    for everything else. Comments skipped."""
    tokens = []
    i, n = 0, len(body)
    while i < n:
        b = body[i]
        if b in _WHITESPACE:
            i += 1
            continue
        if b == 0x25:  # % comment to end of line
            while i < n and body[i] not in (0x0A, 0x0D):
                i += 1
            continue
        if b == 0x28:  # ( literal string: track escapes + paren depth
            i += 1
            start = i
            depth = 1
            while i < n and depth:
                c = body[i]
                if c == 0x5C:
                    i += 2
                    continue
                if c == 0x28:
                    depth += 1
                elif c == 0x29:
                    depth -= 1
                i += 1
            tokens.append(("str", body[start : i - 1]))
            continue
        if b == 0x3C and not (i + 1 < n and body[i + 1] == 0x3C):
            # < hex string (a lone '<'; '<<' is the dict-open token)
            end = body.find(b">", i + 1)
            if end < 0:
                end = n
            tokens.append(("hex", body[i + 1 : end]))
            i = end + 1
            continue
        # operator / number / name / bracket token
        start = i
        if b == 0x2F:  # / begins a NAME token: consume regular chars
            i += 1
            while (
                i < n
                and body[i] not in _WHITESPACE
                and body[i] not in _DELIMS
            ):
                i += 1
        elif b in _DELIMS:
            i += 1
            if b in (0x3C, 0x3E) and i < n and body[i] == b:  # << >>
                i += 1
        else:
            while (
                i < n
                and body[i] not in _WHITESPACE
                and body[i] not in _DELIMS
            ):
                i += 1
        tokens.append(("op", body[start:i]))
    return tokens


def _show_text(kind: str, raw: bytes, cmap) -> str:
    """One show-string operand -> text: glyph codes through the active
    font's /ToUnicode CMap when it has one, else the §7.9.2 default
    (UTF-16BE-BOM / PDFDocEncoding)."""
    data = (
        _hex_string_bytes(raw) if kind == "hex" else _unescape_pdf_string(raw)
    )
    if cmap is None:
        return _pdf_text(data)
    width, mapping = cmap
    out = []
    for j in range(0, len(data) - width + 1, width):
        code = int.from_bytes(data[j : j + width], "big")
        out.append(mapping.get(code, "�"))
    return "".join(out)


def _extract_lines(
    body: bytes, lines: list[str], fontmap: dict[bytes, tuple] | None = None
) -> None:
    """Walk one content stream's tokens: strings shown by Tj / ' / " / TJ
    accumulate into the current line; Td/TD/T* start a new one (and so
    do ' and " themselves — ISO 32000-1 Table 107 defines them as
    move-to-next-line THEN show). ``fontmap`` carries each font
    resource's /ToUnicode CMap; Tf switches the active one."""
    parts: list[str] = []
    strings: list[tuple[str, bytes]] = []  # operand stack of pending strings
    names: list[bytes] = []  # pending name operands (for Tf)
    cmap = None

    def dec(s: tuple[str, bytes]) -> str:
        return _show_text(s[0], s[1], cmap)

    for kind, tok in _tokenize_content(body):
        if kind in ("str", "hex"):
            strings.append((kind, tok))
            continue
        if tok.startswith(b"/"):
            names.append(tok[1:])
            continue
        if tok == b"Tf":
            if names and fontmap:
                cmap = fontmap.get(names[-1])
            names = []
        elif tok in (b"Tj", b"'", b'"'):
            if tok != b"Tj" and parts:
                lines.append("".join(parts))
                parts = []
            if strings:
                parts.append(dec(strings[-1]))
            strings, names = [], []
        elif tok == b"TJ":  # array form: all pending strings, in order
            parts.extend(dec(s) for s in strings)
            strings, names = [], []
        elif tok in (b"Td", b"TD", b"T*", b"BT"):
            if parts:
                lines.append("".join(parts))
            parts = []
            strings, names = [], []
        elif tok == b"ET":
            strings, names = [], []
    if parts:
        lines.append("".join(parts))


def _direct_length(d: bytes) -> int | None:
    """A DIRECT /Length integer in a stream dict, or None. The single
    home of the anchored pattern (ADVICE r3 fixed its backtracking once;
    keeping one copy keeps it fixed): (?![0-9]) pins the digit run so
    '/Length 12 0 R' cannot backtrack to '1', and the second lookahead
    rejects indirect 'n g R' references."""
    lm = re.search(rb"/Length\s+(\d+)(?![0-9])(?!\s+\d+\s+R)", d)
    return int(lm.group(1)) if lm else None


def _dict_int(d: bytes, key: bytes, default: int | None = None) -> int:
    m = re.search(rb"/" + key + rb"\s+(\d+)(?![0-9])(?!\s+\d+\s+R)", d)
    if m:
        return int(m.group(1))
    if default is None:
        raise ValueError(f"PDF: missing /{key.decode()} in stream dict")
    return default


def _stream_body(
    m: re.Match, data: bytes, length: int | None = None
) -> bytes:
    """Raw body bytes for one _STREAM_RE match: slice ``length`` bytes
    from the stream keyword when known, else trim the lazy endstream
    bound's trailing EOL."""
    if length is not None:
        start = m.start("body")
        return data[start : start + length]
    body = m.group("body")
    if body.endswith(b"\r\n"):
        return body[:-2]
    if body.endswith(b"\n"):
        return body[:-1]
    return body


def _inflate(d: bytes, body: bytes) -> bytes:
    if b"/FlateDecode" in d:
        try:
            return zlib.decompress(body)
        except zlib.error as e:
            raise ValueError(f"PDF: bad Flate stream ({e})") from None
    if re.search(rb"/Filter\b", d):
        raise ValueError("PDF: only FlateDecode streams supported")
    return body


def expand_object_streams(data: bytes) -> dict[int, bytes]:
    """{objnum: object bytes} for every object packed inside a
    /Type /ObjStm stream (PDF 1.5): inflate, read the /N (num, offset)
    header pairs in the /First-byte prefix, slice each object."""
    out: dict[int, bytes] = {}
    for m in _STREAM_RE.finditer(data):
        d = m.group("dict")
        if not re.search(rb"/Type\s*/ObjStm\b", d):
            continue
        body = _stream_body(m, data, _direct_length(d))
        payload = _inflate(d, body)
        n, first = _dict_int(d, b"N"), _dict_int(d, b"First")
        header = payload[:first].split()
        if len(header) < 2 * n:
            raise ValueError("PDF: ObjStm header shorter than /N pairs")
        pairs = [
            (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
        ]
        for i, (objnum, off) in enumerate(pairs):
            end = first + pairs[i + 1][1] if i + 1 < n else len(payload)
            out[objnum] = payload[first + off : end].strip()
    return out


def _length_of(d: bytes, objmap: dict[int, bytes], data: bytes) -> int | None:
    """The stream dict's /Length: direct integer, or an indirect 'n g R'
    resolved through ObjStm-expanded objects / top-level integer
    objects; None when unresolvable (caller falls back to the lazy
    endstream bound)."""
    direct = _direct_length(d)
    if direct is not None:
        return direct
    ind = re.search(rb"/Length\s+(\d+)\s+\d+\s+R", d)
    if not ind:
        return None
    objnum = int(ind.group(1))
    ref = objmap.get(objnum)
    if ref is None:
        tm = re.search(
            rb"(?:^|[^0-9])%d\s+\d+\s+obj\s+(\d+)\s+endobj" % objnum, data
        )
        ref = tm.group(1) if tm else None
    if ref is not None and ref.strip().isdigit():
        return int(ref)
    return None


# --- /ToUnicode CMaps (subset-embedded fonts) --------------------------------
# Professionally-produced PDFs subset-embed fonts and show GLYPH-INDEXED
# strings; the font's /ToUnicode CMap (ISO 32000-1 §9.10.3) is the only
# route back to text. Parsed here: codespacerange (code width), bfchar
# pairs, and bfrange in both destination forms (start-code and array).

_HEX_TOK = re.compile(rb"<([0-9A-Fa-f \t\r\n]*)>")


def _parse_cmap(payload: bytes) -> tuple[int, dict[int, str]] | None:
    """ToUnicode CMap stream -> (code byte-width, {code -> text}).
    Destination hex is UTF-16BE (surrogate pairs → supplementary
    planes; multi-char destinations → ligature expansions)."""
    width = None
    m = re.search(
        rb"begincodespacerange(.*?)endcodespacerange", payload, re.S
    )
    if m:
        lows = _HEX_TOK.findall(m.group(1))
        if lows:
            width = len(_hex_string_bytes(lows[0]))
    mapping: dict[int, str] = {}

    def dst_text(h: bytes) -> str:
        return _hex_string_bytes(h).decode("utf-16-be", errors="replace")

    for sec in re.finditer(rb"beginbfchar(.*?)endbfchar", payload, re.S):
        toks = _HEX_TOK.findall(sec.group(1))
        for j in range(0, len(toks) - 1, 2):
            src = _hex_string_bytes(toks[j])
            width = width or len(src)
            mapping[int.from_bytes(src, "big")] = dst_text(toks[j + 1])
    for sec in re.finditer(rb"beginbfrange(.*?)endbfrange", payload, re.S):
        body = sec.group(1)
        pos = 0
        while True:
            lo_m = _HEX_TOK.search(body, pos)
            hi_m = _HEX_TOK.search(body, lo_m.end()) if lo_m else None
            if lo_m is None or hi_m is None:
                break
            lo_b = _hex_string_bytes(lo_m.group(1))
            width = width or len(lo_b)
            lo = int.from_bytes(lo_b, "big")
            hi = int.from_bytes(_hex_string_bytes(hi_m.group(1)), "big")
            pos = hi_m.end()
            # array destination: [ <d0> <d1> ... ], one per code
            arr_m = re.match(rb"\s*\[", body[pos:])
            if arr_m:
                close = body.find(b"]", pos)
                if close < 0:
                    break
                dsts = _HEX_TOK.findall(body[pos:close])
                for k, d in enumerate(dsts):
                    if lo + k <= hi:
                        mapping[lo + k] = dst_text(d)
                pos = close + 1
                continue
            d_m = _HEX_TOK.search(body, pos)
            if d_m is None:
                break
            base = int.from_bytes(_hex_string_bytes(d_m.group(1)), "big")
            n_dst = max(len(_hex_string_bytes(d_m.group(1))), 2)
            ceil = 1 << (8 * n_dst)  # destination-byte-width ceiling:
            for k in range(hi - lo + 1):
                if base + k >= ceil:  # buggy generators emit ranges whose
                    break  # increment crosses it — clamp, don't raise
                mapping[lo + k] = (
                    (base + k).to_bytes(n_dst, "big").decode(
                        "utf-16-be", errors="replace"
                    )
                )
            pos = d_m.end()
    if width is None or not mapping:
        return None
    return width, mapping


def _object_body(
    data: bytes, num: int, objmap: dict[int, bytes]
) -> bytes | None:
    """Object ``num``'s body: ObjStm-packed (objmap) or top-level."""
    if num in objmap:
        return objmap[num]
    m = re.search(
        rb"(?:^|[^0-9])%d\s+0\s+obj\b(.*?)endobj" % num, data, re.S
    )
    return m.group(1) if m else None


def _tounicode_fontmap(
    data: bytes, objmap: dict[int, bytes]
) -> dict[bytes, tuple[int, dict[int, str]]]:
    """{font resource name -> parsed CMap} for every font whose dict
    carries /ToUnicode: resource /Font bindings resolved to font
    objects, the indirect CMap stream inflated and parsed. Best-effort —
    a font this cannot resolve simply falls back to the §7.9.2 default
    string decode (the pre-r5 behavior, correct for unencoded fonts)."""
    out: dict[bytes, tuple[int, dict[int, str]]] = {}
    bound: dict[bytes, int] = {}  # name -> font object it resolved to
    for res in re.finditer(rb"/Font\s*<<(.*?)>>", data, re.S):
        for b in re.finditer(rb"/(\w+)\s+(\d+)\s+0\s+R", res.group(1)):
            name, fnum = b.group(1), int(b.group(2))
            if name in bound:
                # Real multi-page PDFs reuse /F1, /F2 across pages for
                # DIFFERENT fonts. A name is only reusable when it resolves
                # to the same font object; a conflicting rebinding makes the
                # name ambiguous document-wide, so its CMap is dropped and
                # shows through that name fall back to the §7.9.2 default
                # decode (the pre-CMap behavior — never another font's map).
                if bound[name] != fnum:
                    out.pop(name, None)
                continue
            bound[name] = fnum
            font = _object_body(data, fnum, objmap)
            if font is None:
                continue
            tu = re.search(rb"/ToUnicode\s+(\d+)\s+0\s+R", font)
            if tu is None:
                continue
            obj = _object_body(data, int(tu.group(1)), objmap)
            if obj is None:
                continue
            sm = _STREAM_RE.search(obj)
            if sm is None:
                continue
            try:
                d = sm.group("dict")
                payload = _inflate(d, _stream_body(sm, obj, _direct_length(d)))
                cmap = _parse_cmap(payload)
            except (ValueError, OverflowError, zlib.error):
                continue
            if cmap is not None:
                out[name] = cmap
    return out


def _decode_pdf_streams(data: bytes) -> list[list[str]]:
    """Shared walk: per text-content stream, the extracted lines, in
    document order. One content stream per page is the dominant layout
    (and this module's writer guarantees it)."""
    per_stream: list[list[str]] = []
    bodies, fontmap = _text_streams_and_fonts(data)
    for body in bodies:
        lines: list[str] = []
        _extract_lines(body, lines, fontmap)
        if lines:  # a BT/ET block with no text ops is not a text page —
            per_stream.append(lines)  # keeps pages/flat-join parity exact
    return per_stream


def _text_streams_and_fonts(
    data: bytes,
) -> tuple[list[bytes], dict[bytes, tuple]]:
    """(content-stream bodies, font-name → ToUnicode CMap) — the shared
    front half of line- and run-extraction."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("PDF: bad header")
    if b"/Encrypt" in data:
        raise ValueError("PDF: encrypted documents unsupported")
    objmap = expand_object_streams(data)
    bodies: list[bytes] = []
    for m in _STREAM_RE.finditer(data):
        d = m.group("dict")
        # honor a direct-or-resolvable /Length, slicing from the
        # stream-keyword position in the file — both blind
        # newline-trimming (a body whose last byte is CR) and the lazy
        # endstream bound (compressed bytes containing 'endstream')
        # corrupt the body otherwise. (The digit run in the /Length
        # regexes is anchored with (?![0-9]): without it, '/Length 12 0
        # R' backtracks (\d+) to '1' so the indirect-ref lookahead sees
        # '2 0 R' and wrongly passes — ADVICE r3.)
        if re.search(rb"/Type\s*/(XRef|ObjStm)\b", d):
            continue  # structure streams, never text content
        body = _inflate(d, _stream_body(m, data, _length_of(d, objmap, data)))
        if b"BT" in body:
            bodies.append(body)
    if not bodies:
        raise ValueError("PDF: no text content stream found")
    return bodies, _tounicode_fontmap(data, objmap)


def decode_pdf_text(data: bytes) -> str:
    """PDF bytes -> extracted text, one line per text-positioning group,
    content streams in document order. Handles both classic-xref (1.4)
    and xref-stream/ObjStm (1.5+) files: object streams are expanded
    first so indirect /Length integers packed inside them resolve."""
    return "\n".join(
        line for lines in _decode_pdf_streams(data) for line in lines
    )


# --- layout parse: positioned runs -> reading order --------------------------
# The line-based extractor above reads text in DRAW order; generators
# that emit multi-column layouts (or floats/footnotes first) interleave
# the columns there. The run extractor below tracks the text matrix
# (Tm/Td/TD/T*/TL per ISO 32000-1 §9.4.2) so every show operator gets an
# absolute position, and _reading_order applies a one-level XY-cut
# (Nagy & Seth 1984, the classic layout-analysis split): columns are the
# maximal x-interval groups separated by a full-height gutter in the
# union of estimated run extents, read left-to-right, each top-to-bottom.
# Run widths are ESTIMATED (chars x em-fraction x font size — no glyph
# metrics in a minimal parser); the estimate can never invent a gutter
# where runs overlap, only between runs, which is the deterministic
# failure mode the tests pin.

_CHAR_EM = 0.6  # estimated advance per char, em fraction (Courier = 0.6)
_MIN_GUTTER = 8.0  # pt; narrower x-gaps do not split columns
_LINE_TOL = 1.0  # pt; runs within this y-band are one line


def _extract_runs(
    body: bytes,
    runs: list[tuple[float, float, float, str]],
    fontmap: dict[bytes, tuple] | None = None,
) -> None:
    """Walk one content stream tracking the text LINE matrix; append
    (x, y, font_size, text) per show operator. Consecutive shows without
    repositioning share a position and stay in emission order (the sort
    below is stable). Kerning offsets inside TJ arrays are ignored —
    sub-glyph spacing, not layout. Tf also switches the active
    /ToUnicode CMap (``fontmap``) for glyph-coded shows."""
    m = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
    size, leading = 12.0, 0.0
    cmap = None
    nums: list[float] = []
    strings: list[tuple[str, bytes]] = []
    names: list[bytes] = []

    def translate(tx: float, ty: float) -> None:
        m[4] = tx * m[0] + ty * m[2] + m[4]
        m[5] = tx * m[1] + ty * m[3] + m[5]

    def show(parts: list[tuple[str, bytes]]) -> None:
        text = "".join(_show_text(k, s, cmap) for k, s in parts)
        if text:
            runs.append((m[4], m[5], size, text))

    for kind, tok in _tokenize_content(body):
        if kind in ("str", "hex"):
            strings.append((kind, tok))
            continue
        if tok == b"BT":
            m[:] = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
        elif tok == b"Tf":
            if nums:
                size = nums[-1]
            if names and fontmap:
                cmap = fontmap.get(names[-1])
        elif tok == b"Tm":
            if len(nums) >= 6:
                m[:] = nums[-6:]
        elif tok in (b"Td", b"TD"):
            if len(nums) >= 2:
                if tok == b"TD":
                    leading = -nums[-1]
                translate(nums[-2], nums[-1])
        elif tok == b"TL":
            if nums:
                leading = nums[-1]
        elif tok == b"T*":
            translate(0.0, -leading)
        elif tok == b"Tj":
            if strings:
                show([strings[-1]])
        elif tok in (b"'", b'"'):
            translate(0.0, -leading)
            if strings:
                show([strings[-1]])
        elif tok == b"TJ":
            show(strings)
        elif tok.startswith(b"/"):
            names.append(tok[1:])
            continue  # operand (name): keep the stack
        elif tok in (b"[", b"]"):
            continue  # array bracket operand: keep the stack
        else:
            try:
                nums.append(float(tok))
                continue
            except ValueError:
                pass  # some other operator: fall through to clear
        nums, strings, names = [], [], []


def _reading_order(runs: list[tuple[float, float, float, str]]) -> list[str]:
    """Runs -> text lines in reading order: one-level XY-cut into
    columns, columns left-to-right, lines top-to-bottom, runs within a
    line left-to-right and concatenated without separators (runs carry
    their own spacing)."""
    if not runs:
        return []
    spans = sorted(
        (x, x + _CHAR_EM * size * max(len(t), 1))
        for x, y, size, t in runs
    )
    cuts: list[float] = []
    reach = spans[0][1]
    for s, e in spans[1:]:
        if s - reach >= _MIN_GUTTER:
            cuts.append((reach + s) / 2.0)
        reach = max(reach, e)
    cols: list[list[tuple[float, float, float, str]]] = [
        [] for _ in range(len(cuts) + 1)
    ]
    for r in runs:
        cols[bisect.bisect_left(cuts, r[0])].append(r)
    lines: list[str] = []
    for col in cols:
        col.sort(key=lambda r: -r[1])  # stable: emission order on ties
        groups: list[list[tuple[float, float, float, str]]] = []
        for r in col:
            if not groups or groups[-1][0][1] - r[1] > _LINE_TOL:
                groups.append([])
            groups[-1].append(r)
        for g in groups:
            g.sort(key=lambda r: r[0])
            lines.append("".join(r[3] for r in g))
    return lines


def decode_pdf_layout_pages(data: bytes) -> list[str]:
    """Per-page text in READING order (see _reading_order); streams with
    no shown text omitted, like decode_pdf_text's stream walk."""
    pages = []
    bodies, fontmap = _text_streams_and_fonts(data)
    for body in bodies:
        runs: list[tuple[float, float, float, str]] = []
        _extract_runs(body, runs, fontmap)
        if runs:
            pages.append("\n".join(_reading_order(runs)))
    return pages


def decode_pdf_text_layout(data: bytes) -> str:
    """PDF bytes -> text in reading order — the layout-parse twin of
    decode_pdf_text (which reads in draw order)."""
    return "\n".join(decode_pdf_layout_pages(data))


# --- scanned pages: image XObjects -------------------------------------------
# Real scanner/copier output is a PDF whose pages contain no text layer at
# all — each page is one /Subtype /Image XObject drawn full-page, stored
# with the filters ISO 32000-1 §7.4 defines for raster data: DCTDecode
# (the stream body IS a complete JFIF/JPEG codestream), CCITTFaxDecode
# (a bare T.6/G4 codestream parameterized by /DecodeParms) or FlateDecode
# (raw samples, zlib). This is the input the north rule's OCR path exists
# for; the writer below produces the classic layout scanners emit (PDF
# 1.4 table — the text path already exercises 1.5 xref/ObjStm machinery,
# and the image extractor walks streams layout-agnostically either way).

_SCAN_MEDIA = b"/MediaBox [0 0 %d %d]"


def encode_pdf_scanned(
    img: "np.ndarray", image_filter: str = "FlateDecode", quality: int = 95
) -> bytes:
    """uint8 grayscale page image -> a single-page scanned PDF (no text
    layer): one /Image XObject drawn full-page via ``cm`` + ``Do``.

    ``image_filter``: FlateDecode (lossless raw gray), DCTDecode (a real
    JPEG codestream from functions/jpeg at ``quality``), or
    CCITTFaxDecode (G4/T.6 via functions/ccitt — requires a strictly
    0/255 bilevel image, the fax contract)."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("encode_pdf_scanned: need a uint8 (H, W) image")
    h, w = img.shape
    if image_filter == "FlateDecode":
        payload = zlib.compress(img.tobytes())
        parms = b"/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /FlateDecode "
    elif image_filter == "DCTDecode":
        from granulate_char_ocr_spark.functions.jpeg import encode_jpeg

        payload = encode_jpeg(img, quality=quality)
        parms = b"/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /DCTDecode "
    elif image_filter == "CCITTFaxDecode":
        vals = np.unique(img)
        if not np.isin(vals, (0, 255)).all():
            raise ValueError(
                "encode_pdf_scanned: CCITTFaxDecode needs 0/255 bilevel"
            )
        from granulate_char_ocr_spark.functions import ccitt

        payload = ccitt.encode_g4(img == 0)
        parms = (
            b"/BitsPerComponent 1 /ColorSpace /DeviceGray "
            b"/Filter /CCITTFaxDecode "
            b"/DecodeParms << /K -1 /Columns %d /Rows %d >> " % (w, h)
        )
    else:
        raise ValueError(
            f"encode_pdf_scanned: unsupported filter {image_filter!r} "
            "(FlateDecode/DCTDecode/CCITTFaxDecode)"
        )
    content = zlib.compress(b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R " + _SCAN_MEDIA % (w, h)
        + b" /Resources << /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
        + content
        + b"\nendstream",
        b"<< /Type /XObject /Subtype /Image /Width %d /Height %d " % (w, h)
        + parms
        + b"/Length %d >>\nstream\n" % len(payload)
        + payload
        + b"\nendstream",
    ]
    return _assemble_classic(objs)


def decode_pdf_images(data: bytes) -> list["np.ndarray"]:
    """Every /Subtype /Image XObject in the file, decoded to a uint8
    ndarray, document order — the scanned-PDF front half of the OCR
    path. DCTDecode bodies are complete JPEG codestreams (color stays
    (H, W, 3); the media-store luma step downstream handles it),
    CCITTFaxDecode is decoded as G4 (K<0 — the near-universal /K in PDF
    scan output; /BlackIs1 only renames the output BIT convention, the
    T.6 run semantics are fixed, so the black mask is the same either
    way), FlateDecode must be 8-bit /DeviceGray raw samples. Anything
    else (JPXDecode, RunLength, color Flate…) is rejected with the
    reason, and declared dimensions are bounded like every other codec
    in the family."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("PDF: bad header")
    if b"/Encrypt" in data:
        raise ValueError("PDF: encrypted documents unsupported")
    objmap = expand_object_streams(data)
    out: list[np.ndarray] = []
    for m in _STREAM_RE.finditer(data):
        d = m.group("dict")
        if not re.search(rb"/Subtype\s*/Image\b", d):
            continue
        w = _dict_int(d, b"Width")
        h = _dict_int(d, b"Height")
        if not (0 < w <= 1 << 20 and 0 < h <= 1 << 20 and w * h <= 1 << 30):
            raise ValueError("PDF: image dimensions out of bounds")
        body = _stream_body(m, data, _length_of(d, objmap, data))
        if b"/DCTDecode" in d:
            from granulate_char_ocr_spark.functions.jpeg import decode_jpeg

            img = decode_jpeg(bytes(body))
        elif b"/CCITTFaxDecode" in d:
            from granulate_char_ocr_spark.functions import ccitt

            pm = re.search(rb"/DecodeParms\s*<<(.*?)>>", d, re.S)
            pd = pm.group(1) if pm else b""
            km = re.search(rb"/K\s+(-?\d+)", pd)  # signed — _dict_int is unsigned
            if (int(km.group(1)) if km else 0) >= 0:
                raise ValueError("PDF: only G4 (/K < 0) CCITT images")
            cols = _dict_int(pd, b"Columns", 1728)
            rows = _dict_int(pd, b"Rows", h)
            black = ccitt.decode_g4(bytes(body), cols, rows)
            img = np.where(black, 0, 255).astype(np.uint8)
        elif b"/FlateDecode" in d:
            if _dict_int(d, b"BitsPerComponent", 8) != 8 or not re.search(
                rb"/ColorSpace\s*/DeviceGray\b", d
            ):
                raise ValueError(
                    "PDF: only 8-bit /DeviceGray Flate images supported"
                )
            raw = _inflate(d, body)
            if len(raw) != w * h:
                raise ValueError("PDF: Flate image size mismatch")
            img = np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
        else:
            raise ValueError(
                "PDF: unsupported image filter "
                "(DCTDecode/CCITTFaxDecode/gray FlateDecode only)"
            )
        if img.shape[:2] != (h, w):
            raise ValueError("PDF: decoded image does not match /Width /Height")
        out.append(img)
    if not out:
        raise ValueError("PDF: no image XObject found")
    return out
