"""Pure-NumPy baseline JPEG codec (grayscale + YCbCr color), stdlib-only.

Closes the last codec stub in operators/multimodal.py: the reference's
corpora are compressed images (its decode step is PIL — ocr_service.py:
97-99) and this sandbox has no image library, so both directions are
implemented from the published standard (ITU-T T.81): 8×8 DCT blocks,
libjpeg-style quality-scaled quantization, zigzag, differential DC +
run-length AC, Huffman coding with the Annex K tables.

Scope: BASELINE SEQUENTIAL (SOF0) and PROGRESSIVE (SOF2, Annex G:
spectral selection + successive approximation, EOB runs, per-scan table
redefinition) — the two modes web and camera corpora actually contain.
Grayscale and 3-component YCbCr (JFIF full-range BT.601), any
sampling-factor grid whose factors divide the maxima — which covers
4:4:4, 4:2:2 and 4:2:0, the layouts phone cameras and libjpeg actually
emit (VERDICT r2 item 4: a photo corpus is ~100% color JPEG). Chroma
upsampling is pixel replication (JFIF mandates no filter). Restart
intervals (DRI/RSTn, the camera resync convention) encode and decode in
both modes: the entropy stream splits at RSTn markers into byte-aligned
segments with DC predictors and EOB runs reset. The progressive test
fixture (tests/codec_fixtures.py) encodes with the IJG-style default scan
script and per-scan optimal Huffman tables (Annex K.2). Arithmetic coding and
hierarchical mode stay rejected with the reason. The decoder reads quantization
and Huffman tables FROM the stream (DQT/DHT), so third-party baseline
files decode correctly; the encoder embeds its tables (Annex K luma +
chroma), so its output decodes in any standard decoder. JPEG is lossy:
round-trips are near-equal (PSNR), not bit-equal — pinned by tests.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# constants (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

# K.1 luminance quantization table (quality 50 base), raster order
_QTBL_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.float64,
).reshape(8, 8)

# K.2 chrominance quantization table (quality 50 base), raster order
_QTBL_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.float64,
).reshape(8, 8)

# zigzag scan order: _ZIGZAG[k] = raster index of the k-th zigzag element
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# K.3.1 luminance DC: BITS (codes per length 1..16) and HUFFVAL
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))

# K.3.2 luminance AC
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# K.3.3 chrominance DC
_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_VALS_C = list(range(12))

# K.3.4 chrominance AC
_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# DCT-II orthonormal basis: F = _C @ block @ _C.T ; inverse = _C.T @ F @ _C
_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _quant_table(quality: int, base: np.ndarray = _QTBL_LUMA) -> np.ndarray:
    """libjpeg quality scaling of the base table."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    q = np.floor((base * scale + 50) / 100)
    return np.clip(q, 1, 255)


# JFIF full-range BT.601 color transform (JFIF spec §7; T.871)
def _rgb_to_ycbcr(img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _box_downsample(plane: np.ndarray, fy: int, fx: int) -> np.ndarray:
    """Box-mean downsample by integer factors (edge-padded to a multiple) —
    the chroma decimation step of 4:2:0/4:2:2 encoding."""
    if fy == 1 and fx == 1:
        return plane
    h, w = plane.shape
    ph, pw = -(-h // fy) * fy, -(-w // fx) * fx
    p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))


def _build_huffman(bits: list[int], vals: list[int]):
    """(value -> (code, length)) and (length, code) -> value maps from the
    BITS/HUFFVAL representation (T.81 §C.2 canonical code assignment)."""
    enc: dict[int, tuple[int, int]] = {}
    dec: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[k]] = (code, length)
            dec[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return enc, dec


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


def _destuff_scan_segments(
    data: bytes, pos: int
) -> tuple[list[bytes], int]:
    """Entropy-coded scan split at RSTn markers: ([destuffed segment, ...],
    position of the terminating marker). A scan without restarts is one
    segment. 0xFF00 destuffs to 0xFF; runs of 0xFF fill bytes before a
    marker are legal padding (B.1.1.2)."""
    segments: list[bytes] = []
    out = bytearray()
    n = len(data)
    while pos < n:
        b = data[pos]
        if b == 0xFF:
            nxt = pos + 1
            while nxt < n and data[nxt] == 0xFF:  # fill bytes
                nxt += 1
            m = data[nxt] if nxt < n else None
            if m == 0x00 and nxt == pos + 1:
                out.append(0xFF)
                pos += 2
                continue
            if m is not None and 0xD0 <= m <= 0xD7:  # RSTn: segment boundary
                segments.append(bytes(out))
                out = bytearray()
                pos = nxt + 1
                continue
            break  # real marker (EOI / next SOS) ends the scan
        out.append(b)
        pos += 1
    segments.append(bytes(out))
    return segments, pos


# above this many payload bytes, _window16 returns array('I') instead of
# a list: a list of boxed ints costs ~290 B per payload byte (a 4 MB scan
# segment would hold ~1.1 GB live through its decode — the high-parallelism
# memory regime CLAUDE.md warns about), while array('I') is 32 B/byte at
# only ~1.5x the per-access cost
_WINDOW_LIST_MAX = 256 * 1024


def _window16(payload: bytes):
    """w[i] = the 16 bits starting at bit offset i, as one int per offset —
    the whole entropy stream becomes one sliding-window array so Huffman
    decode is ONE table lookup per symbol, not per bit. Built from a
    24-bit-per-byte staging array with 8 vectorized shifts (the earlier
    unpackbits + strided int64 matmul was the decode hot spot at photo
    scale — VERDICT r3 item 4). Small segments return a plain list (list
    access is ~5x cheaper than NumPy scalar indexing); segments past
    _WINDOW_LIST_MAX return array('I') to bound resident memory."""
    import array as _array

    b = np.frombuffer(payload + b"\x00\x00\x00", dtype=np.uint8).astype(
        np.uint32
    )
    u24 = (b[:-2] << 16) | (b[1:-1] << 8) | b[2:]
    out = np.empty((len(u24), 8), dtype=np.uint32)
    for r in range(8):
        out[:, r] = (u24 >> (8 - r)) & 0xFFFF
    flat = out.reshape(-1)
    if len(payload) <= _WINDOW_LIST_MAX:
        return flat.tolist()
    a = _array.array("I")
    a.frombytes(flat.tobytes())
    return a


def _build_lut(bits: list[int], vals: list[int]) -> list[int]:
    """65536-entry decode table: LUT[next16bits] = (symbol << 8) | length.
    Canonical codes are prefix-free, so every 16-bit window starting at a
    code boundary resolves to exactly one (symbol, length). Returned as a
    plain list — all consumers index one scalar per symbol."""
    lut = np.zeros(1 << 16, dtype=np.int32)  # 0 = invalid code
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            lut[lo:hi] = (vals[k] << 8) | length
            code += 1
            k += 1
        code <<= 1
    return lut.tolist()


class _SegReader:
    """Bit reader over one destuffed entropy segment: Huffman symbols via
    the 16-bit sliding-window LUT (one lookup per symbol), raw bits for
    magnitudes / successive-approximation corrections."""

    def __init__(self, segment: bytes) -> None:
        self.w16 = _window16(segment)
        self.pos = 0

    def sym(self, lut: list[int]) -> int:
        pack = lut[self.w16[self.pos]]
        if pack == 0:
            raise ValueError("JPEG: invalid Huffman code")
        self.pos += pack & 0xFF
        return pack >> 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        v = self.w16[self.pos] >> (16 - n)
        self.pos += n
        return v


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_magnitude(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1  # ones' complement form


def _decode_magnitude(bits: int, size: int) -> int:
    if size == 0:
        return 0
    if bits >> (size - 1):
        return bits
    return bits - (1 << size) + 1


def _zz_blocks(
    plane: np.ndarray, qt: np.ndarray, nby: int, nbx: int
) -> np.ndarray:
    """Level-shifted plane -> (nby*nbx, 64) zigzagged quantized coefficients
    (edge-padded to the block grid; one broadcast-BLAS DCT for every block —
    einsum's naive contraction path costs ~4x)."""
    h, w = plane.shape
    padded = np.pad(
        plane, ((0, nby * 8 - h), (0, nbx * 8 - w)), mode="edge"
    )
    blocks = (
        padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - 128.0
    )
    coefs = np.matmul(np.matmul(_C, blocks), _C.T)
    return np.round(coefs / qt).astype(np.int32).reshape(-1, 64)[:, _ZIGZAG]


def _encode_block(bw: _BitWriter, row, prev_dc: int, dc_enc, ac_enc) -> int:
    dc = int(row[0])
    diff = dc - prev_dc
    size = _category(diff)
    code, length = dc_enc[size]
    bw.write(code, length)
    if size:
        bw.write(_encode_magnitude(diff, size), size)
    ac = row[1:]
    nz = np.flatnonzero(ac)
    pos = 0
    for idx in nz:
        run = int(idx) - pos
        while run >= 16:
            code, length = ac_enc[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        v = int(ac[idx])
        size = _category(v)
        code, length = ac_enc[(run << 4) | size]
        bw.write(code, length)
        bw.write(_encode_magnitude(v, size), size)
        pos = int(idx) + 1
    if pos < 63:
        code, length = ac_enc[0x00]  # EOB
        bw.write(code, length)
    return dc


def _prepare_frame(img: np.ndarray, quality: int, subsampling: str):
    """Shared encoder frame setup (baseline here, progressive in the test
    fixtures): validate,
    color-transform, subsample, and DCT-quantize every component.
    Returns (gray, h, w, comps[(cid, hi, vi, qid)], qt_luma, qt_chroma,
    mcus_x, mcus_y, zz_per_comp)."""
    gray = img.ndim == 2
    if not gray and not (img.ndim == 3 and img.shape[2] == 3):
        raise ValueError("encode_jpeg: (H, W) grayscale or (H, W, 3) RGB")
    h, w = img.shape[0], img.shape[1]
    if h == 0 or w == 0:
        raise ValueError("encode_jpeg: empty image")
    if h > 65535 or w > 65535:
        raise ValueError("encode_jpeg: baseline dimensions cap at 65535")
    qt_l = _quant_table(quality)
    qt_c = None
    if gray:
        planes = [(1, 1, 1, 0, img.astype(np.float64), qt_l)]
    else:
        if subsampling == "4:4:4":
            cf = (1, 1)
        elif subsampling == "4:2:2":
            cf = (2, 1)
        elif subsampling == "4:2:0":
            cf = (2, 2)
        else:
            raise ValueError(f"encode_jpeg: subsampling {subsampling!r}")
        qt_c = _quant_table(quality, _QTBL_CHROMA)
        y, cb, cr = _rgb_to_ycbcr(img)
        planes = [
            (1, cf[0], cf[1], 0, y, qt_l),
            (2, 1, 1, 1, _box_downsample(cb, cf[1], cf[0]), qt_c),
            (3, 1, 1, 1, _box_downsample(cr, cf[1], cf[0]), qt_c),
        ]
    hmax = max(p[1] for p in planes)
    vmax = max(p[2] for p in planes)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    zz_per_comp = [
        _zz_blocks(plane, qt, mcus_y * vi, mcus_x * hi)
        for (_cid, hi, vi, _qid, plane, qt) in planes
    ]
    comps = [(cid, hi, vi, qid) for (cid, hi, vi, qid, _p, _q) in planes]
    return gray, h, w, comps, qt_l, qt_c, mcus_x, mcus_y, zz_per_comp


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:2:0",
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H, W) grayscale or (H, W, 3) RGB -> baseline JPEG bytes.

    Color encodes as one interleaved YCbCr scan; ``subsampling`` is
    '4:4:4' (full-res chroma), '4:2:2' (horizontally halved) or '4:2:0'
    (2×2-decimated chroma, the phone-camera default). Grayscale output is
    byte-compatible with the former single-component encoder.
    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker every
    that many MCUs (the camera-firmware resync convention)."""
    (gray, h, w, frame_comps, qt_l, qt_c, mcus_x, mcus_y, zz_per_comp) = (
        _prepare_frame(img, quality, subsampling)
    )
    luma_huff = (
        _build_huffman(_DC_BITS, _DC_VALS)[0],
        _build_huffman(_AC_BITS, _AC_VALS)[0],
    )
    chroma_huff = (
        (
            _build_huffman(_DC_BITS_C, _DC_VALS_C)[0],
            _build_huffman(_AC_BITS_C, _AC_VALS_C)[0],
        )
        if not gray
        else None
    )
    # comp: (id, hi, vi, qid, plane, qt, (dc_enc, ac_enc))
    comps = [
        (cid, hi, vi, qid, None, qt_l if qid == 0 else qt_c,
         luma_huff if qid == 0 else chroma_huff)
        for (cid, hi, vi, qid) in frame_comps
    ]

    bw = _BitWriter()
    prev_dc = [0] * len(comps)
    mcu_count = 0
    rst_n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and (
                mcu_count % restart_interval == 0
            ):
                bw.flush()  # 1-fill to byte boundary, then RSTn (E.1.4)
                bw.out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) % 8
                prev_dc = [0] * len(comps)
            mcu_count += 1
            for ci, (_cid, hi, vi, _qid, _plane, _qt, huff) in enumerate(comps):
                nbx = mcus_x * hi
                for v in range(vi):
                    for u in range(hi):
                        b = (my * vi + v) * nbx + (mx * hi + u)
                        prev_dc[ci] = _encode_block(
                            bw, zz_per_comp[ci][b], prev_dc[ci], *huff
                        )
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qt_zz = qt_l.reshape(-1)[_ZIGZAG].astype(np.uint8)  # DQT in zigzag order
    dqt = bytes([0x00]) + qt_zz.tobytes()
    dht = (
        bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
        + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    if not gray:
        qt_c_zz = _quant_table(quality, _QTBL_CHROMA).reshape(-1)[_ZIGZAG]
        dqt += bytes([0x01]) + qt_c_zz.astype(np.uint8).tobytes()
        dht += (
            bytes([0x01]) + bytes(_DC_BITS_C) + bytes(_DC_VALS_C)
            + bytes([0x11]) + bytes(_AC_BITS_C) + bytes(_AC_VALS_C)
        )
    sof_comps = b"".join(
        bytes([cid, (hi << 4) | vi, qid])
        for (cid, hi, vi, qid, _p, _q, _h) in comps
    )
    sof0 = seg(
        0xFFC0, struct.pack(">BHHB", 8, h, w, len(comps)) + sof_comps
    )
    sos_comps = b"".join(
        bytes([cid, 0x00 if qid == 0 else 0x11])
        for (cid, _hi, _vi, qid, _p, _q, _h) in comps
    )
    sos = seg(
        0xFFDA, bytes([len(comps)]) + sos_comps + bytes([0, 63, 0])
    )
    dri = (
        seg(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8" + seg(0xFFDB, dqt) + sof0 + seg(0xFFC4, dht) + dri + sos
        + bytes(bw.out) + b"\xff\xd9"
    )


def _decode_block(w16, pos: int, prev_dc: int, dc_lut, ac_lut, zz_row):
    """Decode one 8×8 data unit starting at bit offset ``pos``; fills
    ``zz_row`` and returns (new_pos, new_prev_dc)."""
    pack = dc_lut[w16[pos]]
    if pack == 0:
        raise ValueError("JPEG: invalid Huffman code")
    size = pack >> 8
    pos += pack & 0xFF
    mag = (w16[pos] >> (16 - size)) if size else 0
    pos += size
    prev_dc += _decode_magnitude(mag, size)
    zz_row[0] = prev_dc
    k = 1
    while k < 64:
        pack = ac_lut[w16[pos]]
        if pack == 0:
            raise ValueError("JPEG: invalid Huffman code")
        rs = pack >> 8
        pos += pack & 0xFF
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        run, size = rs >> 4, rs & 0xF
        k += run
        if k > 63:
            raise ValueError("JPEG: AC index overflow")
        mag = w16[pos] >> (16 - size)
        pos += size
        zz_row[k] = _decode_magnitude(mag, size)
        k += 1
    return pos, prev_dc


def _refine_nonzero(rdr: _SegReader, block, k: int, p1: int) -> None:
    """AC successive-approximation correction bit for an already-nonzero
    coefficient crossed by a run/EOB (T.81 G.1.2.3): a 1-bit appends p1 to
    the magnitude (guarded like the reference implementations: never
    re-set a bit that is somehow already present)."""
    if rdr.bits(1):
        v = int(block[k])
        if (v & p1) == 0:
            block[k] = v + p1 if v >= 0 else v - p1


def _decode_prog_ac_first(rdr, block, Ss, Se, Al, ac_lut, eobrun):
    """One block of an AC first-pass scan (Ah=0): baseline run-length
    semantics plus EOBn block runs; decoded values enter at << Al."""
    if eobrun > 0:
        return eobrun - 1
    k = Ss
    while k <= Se:
        rs = rdr.sym(ac_lut)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            return (1 << r) + rdr.bits(r) - 1  # EOBn: run covers this block
        k += r
        if k > Se:
            raise ValueError("JPEG: AC index overflow")
        block[k] = _decode_magnitude(rdr.bits(s), s) << Al
        k += 1
    return 0


def _decode_prog_ac_refine(rdr, block, Ss, Se, Al, ac_lut, eobrun):
    """One block of an AC refinement scan (Ah>0, T.81 G.1.2.3): symbols
    address ZERO-history positions only; every nonzero-history coefficient
    crossed consumes one correction bit."""
    p1 = 1 << Al
    if eobrun > 0:
        for k in range(Ss, Se + 1):
            if block[k]:
                _refine_nonzero(rdr, block, k, p1)
        return eobrun - 1
    k = Ss
    while k <= Se:
        rs = rdr.sym(ac_lut)
        r, s = rs >> 4, rs & 0xF
        if s == 0 and r != 15:  # EOBn: correct the rest of this block
            run = (1 << r) + rdr.bits(r)
            for kk in range(k, Se + 1):
                if block[kk]:
                    _refine_nonzero(rdr, block, kk, p1)
            return run - 1
        if s == 0:  # ZRL: cross 16 zero-history positions
            newval, target = 0, 16
        else:  # s == 1: place ±p1 after skipping r zero-history positions
            newval = p1 if rdr.bits(1) else -p1
            target = r
        zeros = 0
        while k <= Se:
            if block[k]:
                _refine_nonzero(rdr, block, k, p1)
                k += 1
            elif newval == 0:
                zeros += 1
                k += 1
                if zeros == target:
                    break
            elif zeros == target:  # the landing zero-history position
                block[k] = newval
                k += 1
                break
            else:
                zeros += 1
                k += 1
    return 0


def _decode_prog_scan(
    segments, scan, Ss, Se, Ah, Al, restart_interval, mcus_x, mcus_y
):
    """Decode one progressive scan into the per-component coefficient
    arrays. ``scan`` is a list of per-component dicts (scan order):
    {coef, stride, nbw, nbh, hi, vi, dc_lut, ac_lut}. DC predictors and
    EOB runs reset at scan start and at every restart boundary."""
    rdr = _SegReader(segments[0])
    seg_idx = 0
    unit = 0
    pred = [0] * len(scan)
    eobrun = 0

    def maybe_restart():
        nonlocal rdr, seg_idx, pred, eobrun, unit
        if restart_interval and unit and unit % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG: missing restart marker")
            rdr = _SegReader(segments[seg_idx])
            pred = [0] * len(scan)
            eobrun = 0
        unit += 1

    if Ss == 0:  # DC scan (interleaved when ns > 1)
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
        for i, (ci, b) in enumerate(units):
            if i % per_mcu == 0:
                maybe_restart()
            block = scan[ci]["coef"][b]
            if Ah == 0:
                s = rdr.sym(scan[ci]["dc_lut"])
                pred[ci] += _decode_magnitude(rdr.bits(s), s)
                block[0] = pred[ci] << Al
            else:
                block[0] = int(block[0]) | (rdr.bits(1) << Al)
        return

    c = scan[0]  # AC scans are always single-component (T.81 B.2.3)
    decode = _decode_prog_ac_first if Ah == 0 else _decode_prog_ac_refine
    for by in range(c["nbh"]):
        for bx in range(c["nbw"]):
            maybe_restart()
            eobrun = decode(
                rdr,
                c["coef"][by * c["stride"] + bx],
                Ss,
                Se,
                Al,
                c["ac_lut"],
                eobrun,
            )


def _idct_plane(zz: np.ndarray, qt: np.ndarray, nby: int, nbx: int) -> np.ndarray:
    """(nby*nbx, 64) zigzag coefficients -> (nby*8, nbx*8) float plane."""
    coefs = np.zeros((len(zz), 64))
    coefs[:, _ZIGZAG] = zz  # de-zigzag
    coefs = coefs.reshape(-1, 8, 8) * qt
    # B = C.T @ F @ C as two broadcast BLAS matmuls
    pixels = np.matmul(np.matmul(_C.T, coefs), _C) + 128.0
    return pixels.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3).reshape(
        nby * 8, nbx * 8
    )


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 (H, W) grayscale or (H, W, 3) RGB.

    Baseline sequential (SOF0, one interleaved scan) and progressive
    (SOF2, any number of spectral-selection / successive-approximation
    scans, T.81 Annex G). 1 or 3 components, any sampling-factor grid
    whose factors divide the maxima (4:4:4 / 4:2:2 / 4:2:0 and the
    grayscale degenerate case); chroma upsampling is pixel replication;
    restart intervals supported in both modes."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("JPEG: bad SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], list[int]] = {}  # (class, id) -> LUT
    h = w = None
    restart_interval = 0
    sof_comps: list[tuple[int, int, int, int]] = []  # (id, hi, vi, tq)
    scan_sel: dict[int, tuple[int, int]] = {}  # comp id -> (dc_id, ac_id)
    scan_order: list[int] = []
    scan_start = None
    progressive = False
    prog = None  # progressive coefficient store (allocated at first SOS)
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG: marker desync")
        while data[pos + 1] == 0xFF:  # fill bytes before a marker (B.1.1.2)
            pos += 1
        marker = struct.unpack(">H", data[pos : pos + 2])[0]
        if marker == 0xFFD9:
            break
        if marker == 0xFF01 or 0xFFD0 <= marker <= 0xFFD7:
            # TEM / stray RSTn: standalone markers with NO length word —
            # reading one would desync the parse (ADVICE r2)
            pos += 2
            continue
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        payload = data[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xFFDB:  # DQT (possibly several tables)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                if pq != 0:
                    raise ValueError("JPEG: 16-bit quant tables unsupported")
                tbl = np.zeros(64)
                tbl[_ZIGZAG] = np.frombuffer(
                    payload[p + 1 : p + 65], dtype=np.uint8
                )
                qtables[tq] = tbl.reshape(8, 8)
                p += 65
        elif marker == 0xFFC4:  # DHT (possibly several tables)
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                vals = list(payload[p + 17 : p + 17 + n])
                htables[(tc, th)] = _build_lut(bits, vals)
                p += 17 + n
        elif marker in (0xFFC0, 0xFFC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xFFC2
            precision, h, w, ncomp = struct.unpack(">BHHB", payload[:6])
            if precision != 8 or ncomp not in (1, 3):
                raise ValueError(
                    "JPEG: decoder handles 8-bit 1- or 3-component "
                    f"(got precision={precision}, components={ncomp})"
                )
            for c in range(ncomp):
                cid, hv, tq = payload[6 + 3 * c : 9 + 3 * c]
                sof_comps.append((cid, hv >> 4, hv & 0xF, tq))
        elif marker in (0xFFC1, 0xFFC3, 0xFFC9, 0xFFCA, 0xFFCB):
            raise ValueError(
                "JPEG: only baseline (SOF0) and progressive (SOF2) supported"
            )
        elif marker == 0xFFDD:  # DRI: MCUs between RSTn markers (0 = none)
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker == 0xFFDA:  # SOS
            ns = payload[0]
            scan_cids = []
            for c in range(ns):
                cid, tt = payload[1 + 2 * c : 3 + 2 * c]
                scan_sel[cid] = (tt >> 4, tt & 0xF)
                scan_cids.append(cid)
            if not progressive:
                scan_order = scan_cids
                scan_start = pos
                break
            # progressive: decode this scan into the coefficient store,
            # then keep walking markers (DHT/DQT/DRI may change between
            # scans) until EOI
            if h is None:
                raise ValueError("JPEG: SOS before SOF")
            ss, se, ahal = payload[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if (
                se > 63
                or se < ss
                or (ss == 0 and se != 0)  # DC scans carry DC only (G.1.1.1)
                or (ss > 0 and ns != 1)  # AC scans are non-interleaved
                or al > 13
                or (ah and ah != al + 1)  # refinement drops one bit at a time
            ):
                raise ValueError("JPEG: invalid progressive scan header")
            if prog is None:
                prog = _alloc_prog_store(sof_comps, h, w)
            segments, pos = _destuff_scan_segments(data, pos)
            scan = []
            for cid in scan_cids:
                if cid not in prog["comps"]:
                    raise ValueError("JPEG: scan/frame component mismatch")
                dc_id, ac_id = scan_sel[cid]
                scan.append(
                    dict(
                        prog["comps"][cid],
                        dc_lut=htables.get((0, dc_id)),
                        ac_lut=htables.get((1, ac_id)),
                    )
                )
            try:
                _decode_prog_scan(
                    segments, scan, ss, se, ah, al,
                    restart_interval, prog["mcus_x"], prog["mcus_y"],
                )
            except IndexError:
                raise ValueError("JPEG: truncated entropy stream") from None
            continue
    if progressive:
        if prog is None:
            raise ValueError("JPEG: missing SOS")
        return _reconstruct(
            [
                (
                    c["hi"],
                    c["vi"],
                    qtables[c["tq"]],
                    None,
                    None,
                    c["coef"].astype(np.float64),
                    c["stride"],
                )
                for c in (prog["comps"][cid] for cid, *_ in sof_comps)
            ],
            h, w, prog["hmax"], prog["vmax"],
            prog["mcus_x"], prog["mcus_y"],
        )
    if h is None or scan_start is None or not sof_comps:
        raise ValueError("JPEG: missing SOF0/SOS")
    if set(scan_order) != {c[0] for c in sof_comps}:
        raise ValueError("JPEG: scan/frame component mismatch")

    # a single-component scan is non-interleaved: MCU = one data unit and
    # sampling factors do not apply (T.81 A.2)
    if len(sof_comps) == 1:
        cid, _hi, _vi, tq = sof_comps[0]
        sof_comps = [(cid, 1, 1, tq)]
    hmax = max(c[1] for c in sof_comps)
    vmax = max(c[2] for c in sof_comps)
    for (_cid, hi, vi, _tq) in sof_comps:
        if hi < 1 or vi < 1 or hmax % hi or vmax % vi:
            raise ValueError(
                f"JPEG: unsupported sampling grid h={hi} v={vi} "
                f"(max {hmax}x{vmax})"
            )
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    segments, _ = _destuff_scan_segments(data, scan_start)
    w16 = _window16(segments[0])
    comps = []  # (hi, vi, qt, dc_lut, ac_lut, zz, nbx)
    for (cid, hi, vi, tq) in sof_comps:
        dc_id, ac_id = scan_sel[cid]
        nby, nbx = mcus_y * vi, mcus_x * hi
        comps.append(
            (
                hi,
                vi,
                qtables[tq],
                htables[(0, dc_id)],
                htables[(1, ac_id)],
                np.zeros((nby * nbx, 64), dtype=np.float64),
                nbx,
            )
        )

    pos = 0
    seg_idx = 0
    mcu_count = 0
    prev_dc = [0] * len(comps)
    try:
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_count and (
                    mcu_count % restart_interval == 0
                ):
                    # RSTn boundary: byte-realign to the next entropy
                    # segment, DC predictors reset (T.81 E.2.4)
                    seg_idx += 1
                    if seg_idx >= len(segments):
                        raise ValueError("JPEG: missing restart marker")
                    w16 = _window16(segments[seg_idx])
                    pos = 0
                    prev_dc = [0] * len(comps)
                mcu_count += 1
                for ci, (hi, vi, _qt, dc_lut, ac_lut, zz, nbx) in enumerate(
                    comps
                ):
                    for v in range(vi):
                        for u in range(hi):
                            b = (my * vi + v) * nbx + (mx * hi + u)
                            pos, prev_dc[ci] = _decode_block(
                                w16, pos, prev_dc[ci], dc_lut, ac_lut, zz[b]
                            )
    except IndexError:
        raise ValueError("JPEG: truncated entropy stream") from None

    return _reconstruct(comps, h, w, hmax, vmax, mcus_x, mcus_y)


def _reconstruct(comps, h, w, hmax, vmax, mcus_x, mcus_y) -> np.ndarray:
    """Dequantize + IDCT each component's coefficient grid, crop to its own
    resolution, replicate-upsample subsampled chroma, color-convert."""
    planes = []
    for (hi, vi, qt, _dc, _ac, zz, nbx) in comps:
        nby = mcus_y * vi
        plane = _idct_plane(zz, qt, nby, nbx)
        # crop to the component's own resolution, then replicate up
        ch, cw = -(-h * vi // vmax), -(-w * hi // hmax)
        plane = plane[:ch, :cw]
        if vi != vmax or hi != hmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
            )
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(*planes)


def _alloc_prog_store(sof_comps, h: int, w: int) -> dict:
    """Per-component int coefficient grids + geometry for a progressive
    frame. Storage uses the interleaved MCU-aligned grid (stride nbx);
    non-interleaved scans address the nbh x nbw prefix of it (T.81 A.2.2:
    a component's own block grid covers ceil(comp_dim / 8))."""
    hmax = max(c[1] for c in sof_comps)
    vmax = max(c[2] for c in sof_comps)
    for (_cid, hi, vi, _tq) in sof_comps:
        if hi < 1 or vi < 1 or hmax % hi or vmax % vi:
            raise ValueError(
                f"JPEG: unsupported sampling grid h={hi} v={vi} "
                f"(max {hmax}x{vmax})"
            )
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    comps = {}
    for (cid, hi, vi, tq) in sof_comps:
        nby, nbx = mcus_y * vi, mcus_x * hi
        cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)
        comps[cid] = {
            "coef": np.zeros((nby * nbx, 64), dtype=np.int64),
            "stride": nbx,
            "nbw": -(-cw // 8),
            "nbh": -(-ch // 8),
            "hi": hi,
            "vi": vi,
            "tq": tq,
        }
    return {
        "comps": comps,
        "hmax": hmax,
        "vmax": vmax,
        "mcus_x": mcus_x,
        "mcus_y": mcus_y,
    }
