"""Fixture encoders and test-side readers for the pure-NumPy codecs.

Each builds (or reads back) a file shape that only tests need: the
package decoders read these shapes, but no package code writes them.
"""

import re
import struct
import zlib

import numpy as np

from granulate_char_ocr_spark.functions.gif import _lzw_encode, _subblocks
from granulate_char_ocr_spark.functions.jpeg import (
    _ZIGZAG,
    _BitWriter,
    _build_huffman,
    _category,
    _encode_magnitude,
    _prepare_frame,
)
from granulate_char_ocr_spark.functions.pdf import (
    _assemble_classic,
    _content_stream,
    _dict_int,
    _extract_runs,
    _objstm_body,
    _text_streams_and_fonts,
    _xref_stream_obj,
    encode_pdf,
)
from granulate_char_ocr_spark.functions.png import (
    _SIGNATURE,
    _chunk,
    _filter_rows,
    _passes,
)
from granulate_char_ocr_spark.functions.tiff import _NONE, _encode_page

# IJG-style default progressive scan script: DC first at Al=1, luma AC in
# two spectral bands at Al=2 with two refinement passes, chroma AC in one
# band at Al=1 with one refinement, DC refinement for all components.
# (component indices, Ss, Se, Ah, Al)
_PROG_SCRIPT_GRAY = [
    ((0,), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0,), 0, 0, 1, 0),
    ((0,), 1, 63, 1, 0),
]


_PROG_SCRIPT_COLOR = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
]


def _optimal_huffman(freq256: list[int]) -> tuple[list[int], list[int]]:
    """Optimal length-limited Huffman table from symbol frequencies, per
    T.81 Annex K.2 (Figures K.1-K.4): code-size assignment by pairwise
    merge with the ``others`` chain, BITS counting, the >16-bit
    redistribution, and removal of the reserved all-ones pseudo-symbol
    (index 256). Returns (bits[16], huffval) for a DHT segment."""
    if not any(freq256[:256]):
        return [1] + [0] * 15, [0]  # degenerate: one dummy 1-bit code
    freq = list(freq256[:256]) + [1]  # reserve the pseudo-symbol
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        nz = [(f, -i) for i, f in enumerate(freq) if f > 0]
        if len(nz) < 2:
            break
        nz.sort()
        v1, v2 = -nz[0][1], -nz[1][1]  # two least-frequent; largest index wins ties
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] != -1:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] != -1:
            v2 = others[v2]
            codesize[v2] += 1
    bits = [0] * 33
    for s in range(257):
        if codesize[s]:
            bits[codesize[s]] += 1
    i = 32  # K.3: fold code lengths > 16 back into the tree
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the pseudo-symbol (it held the all-ones code)
    vals = sorted(
        (s for s in range(256) if codesize[s]),
        key=lambda s: (codesize[s], s),
    )
    return bits[1:17], vals


def _tok_dc_scan(tokens, scan, zz_of, ah, al, restart_interval, mcus_x, mcus_y):
    """DC scan tokens: first pass (Ah=0) Huffman-codes diffs of the
    point-transformed DC (arithmetic shift, G.1.2.1); refinement emits the
    single next-lower bit per block."""
    if len(scan) > 1:
        units = [
            (ci, (my * c["vi"] + v) * c["stride"] + (mx * c["hi"] + u))
            for my in range(mcus_y)
            for mx in range(mcus_x)
            for ci, c in enumerate(scan)
            for v in range(c["vi"])
            for u in range(c["hi"])
        ]
        per_mcu = sum(c["hi"] * c["vi"] for c in scan)
    else:
        c = scan[0]
        units = [
            (0, by * c["stride"] + bx)
            for by in range(c["nbh"])
            for bx in range(c["nbw"])
        ]
        per_mcu = 1
    pred = [0] * len(scan)
    for i, (ci, b) in enumerate(units):
        if i % per_mcu == 0:
            mcu = i // per_mcu
            if restart_interval and mcu and mcu % restart_interval == 0:
                tokens.append(("r",))
                pred = [0] * len(scan)
        dc = int(zz_of(ci)[b][0])
        if ah == 0:
            v = dc >> al
            diff = v - pred[ci]
            pred[ci] = v
            s = _category(diff)
            tokens.append(("s", 0, scan[ci]["dc_tid"], s))
            if s:
                tokens.append(("b", _encode_magnitude(diff, s), s))
        else:
            tokens.append(("b", (dc >> al) & 1, 1))


def _tok_ac_first(tokens, c, zz, ss, se, al, restart_interval):
    """AC first-pass scan tokens (Ah=0): run-length + EOBn block runs over
    the point-transformed band (magnitude truncation toward zero,
    G.1.2.2)."""
    tid = c["ac_tid"]
    eobrun = 0
    pend: list = []
    unit = 0
    for by in range(c["nbh"]):
        for bx in range(c["nbw"]):
            if restart_interval and unit and unit % restart_interval == 0:
                eobrun = _tok_flush_eob(tokens, tid, eobrun, pend)
                tokens.append(("r",))
            unit += 1
            row = zz[by * c["stride"] + bx]
            nz = []
            for k in range(ss, se + 1):
                cv = int(row[k])
                v = (abs(cv) >> al) * (1 if cv >= 0 else -1)
                if v:
                    nz.append((k, v))
            if not nz:
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = _tok_flush_eob(tokens, tid, eobrun, pend)
                continue
            eobrun = _tok_flush_eob(tokens, tid, eobrun, pend)
            prev = ss - 1
            for k, v in nz:
                run = k - prev - 1
                while run > 15:
                    tokens.append(("s", 1, tid, 0xF0))
                    run -= 16
                s = _category(v)
                tokens.append(("s", 1, tid, (run << 4) | s))
                tokens.append(("b", _encode_magnitude(v, s), s))
                prev = k
            if prev < se:
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = _tok_flush_eob(tokens, tid, eobrun, pend)
    _tok_flush_eob(tokens, tid, eobrun, pend)


def _tok_ac_refine(tokens, c, zz, ss, se, al, restart_interval):
    """AC refinement scan tokens (Ah=Al+1, G.1.2.3): symbols address
    zero-history positions; correction bits for crossed nonzero-history
    coefficients are emitted positionally after each symbol, and EOB-run
    correction bits are buffered until the EOBn flush — mirroring exactly
    the consumption order of the decode procedure."""
    tid = c["ac_tid"]
    eobrun = 0
    pend: list = []
    unit = 0
    for by in range(c["nbh"]):
        for bx in range(c["nbw"]):
            if restart_interval and unit and unit % restart_interval == 0:
                eobrun = _tok_flush_eob(tokens, tid, eobrun, pend)
                tokens.append(("r",))
            unit += 1
            row = zz[by * c["stride"] + bx]
            band = [int(row[k]) for k in range(ss, se + 1)]
            absv = [abs(v) >> al for v in band]
            new_pos = [i for i, a in enumerate(absv) if a == 1]
            if not new_pos:
                # whole block joins the EOB run; buffer its correction bits
                pend.extend(a & 1 for a in absv if a > 1)
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = _tok_flush_eob(tokens, tid, eobrun, pend)
                continue
            eobrun = _tok_flush_eob(tokens, tid, eobrun, pend)
            cursor = 0
            for kn in new_pos:
                events = [
                    (absv[i] & 1) if absv[i] > 1 else None  # None = zero-history
                    for i in range(cursor, kn)
                ]
                zeros = sum(1 for e in events if e is None)
                idx = 0
                while zeros > 15:
                    tokens.append(("s", 1, tid, 0xF0))
                    crossed = 0
                    while crossed < 16:
                        e = events[idx]
                        idx += 1
                        if e is None:
                            crossed += 1
                        else:
                            tokens.append(("b", e, 1))
                    zeros -= 16
                tokens.append(("s", 1, tid, (zeros << 4) | 1))
                tokens.append(("b", 1 if band[kn] > 0 else 0, 1))
                for e in events[idx:]:
                    if e is not None:
                        tokens.append(("b", e, 1))
                cursor = kn + 1
            if cursor <= se - ss:
                pend.extend(
                    absv[i] & 1
                    for i in range(cursor, se - ss + 1)
                    if absv[i] > 1
                )
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = _tok_flush_eob(tokens, tid, eobrun, pend)
    _tok_flush_eob(tokens, tid, eobrun, pend)


def _tok_flush_eob(tokens: list, tid: int, eobrun: int, pend: list) -> int:
    """Emit an EOBn symbol for the accumulated block run (run length
    2^n + extension bits, T.81 G.1.2.2) followed by any buffered
    refinement correction bits."""
    if eobrun:
        n = eobrun.bit_length() - 1
        tokens.append(("s", 1, tid, n << 4))
        if n:
            tokens.append(("b", eobrun - (1 << n), n))
        for bit in pend:
            tokens.append(("b", bit, 1))
        pend.clear()
    return 0


def encode_jpeg_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:2:0",
    restart_interval: int = 0,
) -> bytes:
    """uint8 image -> progressive JPEG (SOF2) with the IJG-style default
    scan script (spectral selection + successive approximation) and
    per-scan optimal Huffman tables (Annex K.2), re-declared via DHT
    before each scan. Coefficient-exact vs the baseline encoder: decoding
    yields pixel-identical output to ``decode_jpeg(encode_jpeg(img))`` at
    the same quality/subsampling."""
    (gray, h, w, frame_comps, qt_l, qt_c, mcus_x, mcus_y, zz_per_comp) = (
        _prepare_frame(img, quality, subsampling)
    )
    hmax = max(c[1] for c in frame_comps)
    vmax = max(c[2] for c in frame_comps)
    comps = []
    for i, (cid, hi, vi, qid) in enumerate(frame_comps):
        cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)
        comps.append(
            {
                "cid": cid,
                "hi": hi,
                "vi": vi,
                "qid": qid,
                "stride": mcus_x * hi,
                "nbw": -(-cw // 8),
                "nbh": -(-ch // 8),
                "dc_tid": 0 if qid == 0 else 1,
                "ac_tid": 0 if qid == 0 else 1,
            }
        )
    script = _PROG_SCRIPT_GRAY if gray else _PROG_SCRIPT_COLOR

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dqt = bytes([0x00]) + qt_l.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes()
    if not gray:
        dqt += (
            bytes([0x01])
            + qt_c.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes()
        )
    sof = seg(
        0xFFC2,
        struct.pack(">BHHB", 8, h, w, len(comps))
        + b"".join(
            bytes([c["cid"], (c["hi"] << 4) | c["vi"], c["qid"]])
            for c in comps
        ),
    )
    out = bytearray(b"\xff\xd8" + seg(0xFFDB, dqt) + sof)
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))

    for (cis, ss, se, ah, al) in script:
        scan = [comps[ci] for ci in cis]
        tokens: list = []
        if ss == 0:
            _tok_dc_scan(
                tokens, scan, lambda ci: zz_per_comp[cis[ci]], ah, al,
                restart_interval, mcus_x, mcus_y,
            )
        elif ah == 0:
            _tok_ac_first(
                tokens, scan[0], zz_per_comp[cis[0]], ss, se, al,
                restart_interval,
            )
        else:
            _tok_ac_refine(
                tokens, scan[0], zz_per_comp[cis[0]], ss, se, al,
                restart_interval,
            )
        # per-scan optimal tables from this scan's symbol stream
        freqs: dict[tuple[int, int], list[int]] = {}
        for t in tokens:
            if t[0] == "s":
                freqs.setdefault((t[1], t[2]), [0] * 257)[t[3]] += 1
        dht = b""
        enc_tables: dict[tuple[int, int], dict] = {}
        for (tc, tid), fr in sorted(freqs.items()):
            bits, vals = _optimal_huffman(fr)
            dht += bytes([(tc << 4) | tid]) + bytes(bits) + bytes(vals)
            enc_tables[(tc, tid)] = _build_huffman(bits, vals)[0]
        if dht:
            out += seg(0xFFC4, dht)
        sos = seg(
            0xFFDA,
            bytes([len(scan)])
            + b"".join(
                bytes([c["cid"], (c["dc_tid"] << 4) | c["ac_tid"]])
                for c in scan
            )
            + bytes([ss, se, (ah << 4) | al]),
        )
        out += sos
        bw = _BitWriter()
        rst = 0
        for t in tokens:
            if t[0] == "s":
                code, length = enc_tables[(t[1], t[2])][t[3]]
                bw.write(code, length)
            elif t[0] == "b":
                bw.write(t[1], t[2])
            else:  # restart boundary
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _pack_subbyte(vals: np.ndarray, depth: int) -> np.ndarray:
    """(h, w) small ints -> (h, ceil(w*depth/8)) bytes, fields packed
    big-endian-first within each byte (spec §7.2)."""
    h, w = vals.shape
    shifts = np.arange(depth - 1, -1, -1, dtype=np.uint8)
    bits = ((vals[:, :, None] >> shifts) & 1).reshape(h, w * depth)
    return np.packbits(bits, axis=1)  # zero-padded to byte boundary


def encode_png_palette(
    indices: np.ndarray,
    palette: np.ndarray,
    trns: np.ndarray | None = None,
    filter_type: int = 0,
    depth: int = 8,
    interlace: int = 0,
) -> bytes:
    """Indexed-color (type 3) PNG: uint8 (H,W) palette indices + (N,3)
    RGB palette [+ per-entry alpha] -> PNG bytes. ``depth`` 1/2/4/8 packs
    indices big-endian-first within each byte (spec §7.2)."""
    indices = np.ascontiguousarray(indices, dtype=np.uint8)
    palette = np.ascontiguousarray(palette, dtype=np.uint8)
    if indices.ndim != 2 or palette.ndim != 2 or palette.shape[1] != 3:
        raise ValueError("encode_png_palette: (H,W) indices + (N,3) palette")
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"PNG: invalid palette bit depth {depth}")
    if int(indices.max(initial=0)) >= min(len(palette), 1 << depth):
        raise ValueError("PNG: palette index out of range for depth")
    h, w = indices.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, interlace)
    body = []
    for (x0, y0, dx, dy, pw, ph) in _passes(w, h, interlace):
        if pw == 0 or ph == 0:
            continue
        sub = indices[y0::dy, x0::dx]
        packed = sub if depth == 8 else _pack_subbyte(sub, depth)
        body.append(_filter_rows(packed, filter_type, 1))
    chunks = [_chunk(b"IHDR", ihdr), _chunk(b"PLTE", palette.tobytes())]
    if trns is not None:
        chunks.append(
            _chunk(b"tRNS", np.ascontiguousarray(trns, np.uint8).tobytes())
        )
    chunks.append(_chunk(b"IDAT", zlib.compress(b"".join(body), 6)))
    chunks.append(_chunk(b"IEND", b""))
    return _SIGNATURE + b"".join(chunks)


def encode_gif_frames(
    frames: list[np.ndarray],
    palette: np.ndarray,
    delay_cs: int = 10,
    transparent: int | None = None,
) -> bytes:
    """Animated GIF89a: each uint8 (H, W) index frame full-size with its
    own graphic-control extension (disposal 1 = leave in place,
    ``delay_cs`` hundredths of a second per frame)."""
    if not frames:
        raise ValueError("encode_gif_frames: no frames")
    frames = [np.ascontiguousarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape
    if any(f.shape != (h, w) for f in frames):
        raise ValueError("encode_gif_frames: frames must share one size")
    palette = np.ascontiguousarray(palette, dtype=np.uint8)
    depth = max(int(len(palette) - 1).bit_length(), 1)
    if max(int(f.max(initial=0)) for f in frames) >= (1 << depth):
        raise ValueError("encode_gif_frames: index out of palette range")
    gct = np.zeros((1 << depth, 3), dtype=np.uint8)
    gct[: len(palette)] = palette
    out = bytearray(
        b"GIF89a"
        + struct.pack(
            "<HHBBB", w, h, 0x80 | ((depth - 1) << 4) | (depth - 1), 0, 0
        )
        + gct.tobytes()
    )
    min_code = max(depth, 2)
    flags = (1 << 2) | (0x01 if transparent is not None else 0)
    for f in frames:
        out += (
            b"\x21\xf9\x04"
            + struct.pack("<BHB", flags, delay_cs, transparent or 0)
            + b"\x00"
        )
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
        out += bytes([min_code]) + _subblocks(_lzw_encode(f, min_code))
    out += b"\x3b"
    return bytes(out)


def encode_tiff_multipage(
    pages: list[np.ndarray],
    compression: int = _NONE,
    rows_per_strip: int | None = None,
    predictor: int = 1,
    bilevel: bool = False,
    t4_2d: bool = False,
    fill_order: int = 1,
    tile: int | None = None,
) -> bytes:
    """Multi-page TIFF (the fax/scanned-document convention: one IFD per
    page chained by the next-IFD pointer). Page block sizes are
    offset-independent, so a sizing pass fixes the chain offsets and a
    second pass emits each block with absolute strip offsets (pages
    encode twice — an accepted cost: writes are corpus-generation only,
    decode is the hot path)."""
    if not pages:
        raise ValueError("encode_tiff_multipage: no pages")
    opts = (compression, rows_per_strip, predictor, bilevel, t4_2d,
            fill_order, tile)
    sizes = [len(_encode_page(p, 8, 0, *opts)) for p in pages]
    offs, off = [], 8
    for s in sizes:
        offs.append(off)
        off += s
    blocks = [
        _encode_page(
            p, offs[i], offs[i + 1] if i + 1 < len(pages) else 0, *opts
        )
        for i, p in enumerate(pages)
    ]
    return b"II*\x00" + struct.pack("<I", 8) + b"".join(blocks)


def _tounicode_cmap(chars: list[str]) -> bytes:
    """Characters (code = 1-based index) -> a spec-shaped ToUnicode
    CMap: consecutive-codepoint runs as bfrange (start-code form),
    singletons as bfchar — the mix subset-font generators emit."""
    runs: list[tuple[int, int, int]] = []  # (lo_code, hi_code, start_cp)
    for i, ch in enumerate(chars):
        code, cp = i + 1, ord(ch)
        if (
            runs
            and cp <= 0xFFFF
            and runs[-1][1] == code - 1
            and runs[-1][2] + (code - 1 - runs[-1][0]) == cp - 1
            and (cp & 0xFF) != 0  # a range may not cross its last byte
        ):
            lo, _, start = runs[-1]
            runs[-1] = (lo, code, start)
        else:
            runs.append((code, code, cp))

    def u16(cp: int) -> bytes:
        return chr(cp).encode("utf-16-be").hex().upper().encode()

    bfchar = [
        b"<%04X> <%s>" % (lo, u16(start))
        for lo, hi, start in runs
        if lo == hi
    ]
    bfrange = [
        b"<%04X> <%04X> <%s>" % (lo, hi, u16(start))
        for lo, hi, start in runs
        if lo != hi
    ]
    parts = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"/CMapName /Adobe-Identity-UCS def",
        b"/CMapType 2 def",
        b"1 begincodespacerange",
        b"<0000> <FFFF>",
        b"endcodespacerange",
    ]
    if bfchar:
        parts += [b"%d beginbfchar" % len(bfchar), *bfchar, b"endbfchar"]
    if bfrange:
        parts += [b"%d beginbfrange" % len(bfrange), *bfrange, b"endbfrange"]
    parts += [
        b"endcmap",
        b"CMap currentdict /CMap defineresource pop",
        b"end end",
    ]
    return b"\n".join(parts)


def encode_pdf_cid(lines: list[str]) -> bytes:
    """Text lines -> a single-page PDF the way professional generators
    write it: a subset-embedded Type0 (/Identity-H) font whose show
    strings are 2-byte GLYPH CODES in hex strings, readable only
    through the font's Flate-compressed /ToUnicode CMap (VERDICT r4
    item 4). The writer twin of the _tounicode_fontmap reader."""
    chars = sorted({c for line in lines for c in line})
    code_of = {c: i + 1 for i, c in enumerate(chars)}
    ops = [b"BT", b"/F1 12 Tf", b"72 720 Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append(b"0 -14 Td")
        hexstr = b"".join(b"%04X" % code_of[c] for c in line)
        ops.append(b"<" + hexstr + b"> Tj")
    ops.append(b"ET")
    content = zlib.compress(b"\n".join(ops))
    cmap = zlib.compress(_tounicode_cmap(chars))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+FakeSans "
        b"/Encoding /Identity-H /DescendantFonts [6 0 R] "
        b"/ToUnicode 7 0 R >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
        + content
        + b"\nendstream",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /AAAAAA+FakeSans "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(cmap)
        + cmap
        + b"\nendstream",
    ]
    return _assemble_classic(objs)


def encode_pdf_pages(
    pages: list[list[str] | str], object_streams: bool = False
) -> bytes:
    """Multi-page PDF: one /Page object + one Flate content stream per
    page under a shared /Pages tree and font. Each element of ``pages``
    is that page's line list (a bare string is one line). Single-page
    input delegates to ``encode_pdf`` (byte-identical output). With
    ``object_streams`` the structure objects and every content stream's
    indirect /Length integer pack into a /ObjStm + XRef stream (PDF
    1.5); content streams stay top-level (streams cannot live inside an
    object stream, ISO 32000 §7.5.7)."""
    norm = [[p] if isinstance(p, str) else list(p) for p in pages]
    if not norm:
        raise ValueError("encode_pdf_pages: no pages")
    if len(norm) == 1:
        return encode_pdf(norm[0], object_streams)
    contents = [_content_stream(p) for p in norm]
    n = len(norm)

    if not object_streams:
        # 1 catalog, 2 tree, 3 font; page i: dict 4+2i, stream 5+2i
        kids = b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(n))
        objs: list[bytes] = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n,
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        ]
        for i, c in enumerate(contents):
            objs.append(
                b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 3 0 R >> >> "
                b"/Contents %d 0 R >>" % (5 + 2 * i)
            )
            objs.append(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c)
                + c
                + b"\nendstream"
            )
        return _assemble_classic(objs)

    # --- 1.5 layout: 1 catalog, 2 tree, 3 font, 4..3+n page dicts (all
    # packed), 4+n..3+2n content streams (top-level), 4+2n..3+3n /Length
    # integers (packed), 4+3n ObjStm, 5+3n XRef stream
    kids = b" ".join(b"%d 0 R" % (4 + i) for i in range(n))
    packed: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    packed_nums: list[int] = [1, 2, 3]
    for i, c in enumerate(contents):
        packed.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % (4 + n + i)
        )
        packed_nums.append(4 + i)
    for i, c in enumerate(contents):
        packed.append(b"%d" % len(c))
        packed_nums.append(4 + 2 * n + i)
    objstm_num, xref_num = 4 + 3 * n, 5 + 3 * n
    objstm = _objstm_body(packed, packed_nums)
    out = bytearray(b"%PDF-1.5\n")
    top_offsets: dict[int, int] = {}
    for i, c in enumerate(contents):
        num = 4 + n + i
        top_offsets[num] = len(out)
        out += (
            b"%d 0 obj\n<< /Length %d 0 R /Filter /FlateDecode >>\n"
            b"stream\n" % (num, 4 + 2 * n + i)
            + c
            + b"\nendstream\nendobj\n"
        )
    top_offsets[objstm_num] = len(out)
    out += b"%d 0 obj\n" % objstm_num + objstm + b"\nendobj\n"
    xref_off = len(out)
    size = xref_num + 1
    entries = [(0, 0, 0xFFFF)]
    packed_index = {num: i for i, num in enumerate(packed_nums)}
    for num in range(1, size - 1):
        if num in packed_index:
            entries.append((2, objstm_num, packed_index[num]))
        else:
            entries.append((1, top_offsets[num], 0))
    entries.append((1, xref_off, 0))  # the xref stream itself
    out += (
        b"%d 0 obj\n" % xref_num
        + _xref_stream_obj(entries, size)
        + b"\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)


def decode_pdf_runs(data: bytes) -> list[tuple[float, float, str]]:
    """PDF bytes -> positioned text runs (x, y, text) in draw order,
    all content streams flattened."""
    runs: list[tuple[float, float, float, str]] = []
    bodies, fontmap = _text_streams_and_fonts(data)
    for body in bodies:
        _extract_runs(body, runs, fontmap)
    return [(x, y, t) for x, y, _, t in runs]


def _unpredict(raw: bytes, d: bytes) -> bytes:
    """Undo the /DecodeParms PNG row predictor on a decoded stream (xref
    streams near-universally use Predictor 12/Up). Reuses the PNG
    scanline inverse filters (png._unfilter) with bpp=1."""
    parms = re.search(rb"/DecodeParms\s*<<(.*?)>>", d, re.S)
    if not parms:
        return raw
    pd = parms.group(1)
    pred = _dict_int(pd, b"Predictor", 1)
    if pred == 1:
        return raw
    if pred < 10:
        raise ValueError(f"PDF: TIFF predictor {pred} unsupported")
    from granulate_char_ocr_spark.functions.png import _unfilter

    cols = _dict_int(pd, b"Columns", 1)
    if len(raw) % (cols + 1):
        raise ValueError("PDF: predictor data not a whole number of rows")
    out = bytearray()
    prev = np.zeros(cols, dtype=np.uint8)
    for r in range(0, len(raw), cols + 1):
        cur = np.frombuffer(raw[r + 1 : r + 1 + cols], dtype=np.uint8)
        prev = _unfilter(raw[r], cur, prev, 1)
        out += prev.tobytes()
    return bytes(out)


def parse_xref_stream(d: bytes, body: bytes) -> dict[int, tuple[int, int, int]]:
    """Decode one /Type /XRef cross-reference stream: {objnum: (type,
    field2, field3)} — type 1 = at offset field2, type 2 = object number
    field2's ObjStm at index field3 (ISO 32000-1 §7.5.8)."""
    w = re.search(rb"/W\s*\[([^\]]*)\]", d)
    if not w:
        raise ValueError("PDF: xref stream missing /W")
    widths = [int(x) for x in w.group(1).split()]
    idx = re.search(rb"/Index\s*\[([^\]]*)\]", d)
    if idx:
        index = [int(x) for x in idx.group(1).split()]
    else:
        index = [0, _dict_int(d, b"Size")]
    raw = _unpredict(body, d)
    rowlen = sum(widths)
    entries: dict[int, tuple[int, int, int]] = {}
    pos = 0
    for start, count in zip(index[::2], index[1::2]):
        for objnum in range(start, start + count):
            if pos + rowlen > len(raw):
                raise ValueError("PDF: truncated xref stream")
            fields = []
            for width in widths:
                fields.append(
                    int.from_bytes(raw[pos : pos + width], "big")
                    if width
                    else (1 if not fields else 0)  # defaults per spec
                )
                pos += width
            entries[objnum] = tuple(fields)
    return entries
