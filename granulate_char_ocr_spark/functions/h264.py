"""H.264/AVC bitstream metadata — Annex-B NAL scan + SPS parse (ITU-T
H.264 §7.3.2.1.1 / B.1), WITHOUT slice decode.

Same posture as functions/mp3.py: the crawl-scale first pass over video
blobs needs resolution / profile / frame counts for routing and
budgeting; the CABAC/CAVLC slice decoder (the part that genuinely needs
ffmpeg) stays honestly stubbed in operators/multimodal.py. What IS
implemented here is the published spec, from scratch:

- Annex-B start-code scan (00 00 01 and 00 00 00 01), NAL type census;
- emulation-prevention-byte removal (00 00 03 xx -> 00 00 xx, §7.4.1.1);
- an Exp-Golomb bit reader (ue(v)/se(v), §9.1);
- seq_parameter_set parse through the frame-cropping window, including
  the high-profile chroma/bit-depth/scaling-list prefix, giving exact
  coded width x height (mb-aligned size minus crop offsets scaled by
  the chroma-format crop units, §7.4.2.1.1 equations 7-14..7-22).

Malformed input yields None fields, never an exception.
"""

from __future__ import annotations

from dataclasses import dataclass

_HIGH_PROFILES = {100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135}

# nal_unit_type values (§7.4.1 table 7-1)
NAL_SLICE = 1
NAL_IDR = 5
NAL_SPS = 7


@dataclass
class H264Info:
    profile_idc: int
    level_idc: int
    width: int
    height: int
    chroma_format: str  # "4:0:0" | "4:2:0" | "4:2:2" | "4:4:4"
    n_nal_units: int
    n_idr_slices: int
    n_slices: int  # coded pictures incl. IDR


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit cursor

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("exp-golomb runaway")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def strip_emulation(rbsp: bytes) -> bytes:
    """00 00 03 -> 00 00 (the 03 is an escape byte, §7.4.1.1)."""
    out = bytearray()
    i, n = 0, len(rbsp)
    while i < n:
        if i + 2 < n and rbsp[i] == 0 and rbsp[i + 1] == 0 and rbsp[i + 2] == 3:
            out += b"\x00\x00"
            i += 3
        else:
            out.append(rbsp[i])
            i += 1
    return bytes(out)


def iter_nal_units(data: bytes):
    """Yield (nal_type, payload) for each Annex-B start-coded unit."""
    i, n = 0, len(data)
    starts = []
    while i + 3 <= n:
        if data[i] == 0 and data[i + 1] == 0 and data[i + 2] == 1:
            starts.append(i + 3)
            i += 3
        else:
            i += 1
    for k, s in enumerate(starts):
        e = n
        if k + 1 < len(starts):
            e = starts[k + 1] - 3
            if e > s and data[e - 1] == 0:  # 4-byte start code's extra zero
                e -= 1
        if e > s:
            yield data[s] & 0x1F, data[s:e]


def _skip_scaling_list(r: _BitReader, size: int) -> None:
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + r.se() + 256) % 256
        last = nxt if nxt != 0 else last


def parse_sps(nal: bytes) -> dict | None:
    """Parse one SPS NAL (header byte included) to coded geometry."""
    try:
        r = _BitReader(strip_emulation(nal[1:]))
        profile_idc = r.u(8)
        r.u(8)  # constraint flags + reserved
        level_idc = r.u(8)
        r.ue()  # seq_parameter_set_id
        chroma_format_idc = 1
        if profile_idc in _HIGH_PROFILES:
            chroma_format_idc = r.ue()
            if chroma_format_idc == 3:
                r.u(1)  # separate_colour_plane_flag
            r.ue()  # bit_depth_luma_minus8
            r.ue()  # bit_depth_chroma_minus8
            r.u(1)  # qpprime_y_zero_transform_bypass
            if r.u(1):  # seq_scaling_matrix_present
                for i in range(8 if chroma_format_idc != 3 else 12):
                    if r.u(1):
                        _skip_scaling_list(r, 16 if i < 6 else 64)
        r.ue()  # log2_max_frame_num_minus4
        poc_type = r.ue()
        if poc_type == 0:
            r.ue()
        elif poc_type == 1:
            r.u(1)
            r.se()
            r.se()
            for _ in range(r.ue()):
                r.se()
        r.ue()  # max_num_ref_frames
        r.u(1)  # gaps_in_frame_num_value_allowed
        pic_width_in_mbs = r.ue() + 1
        pic_height_in_map_units = r.ue() + 1
        frame_mbs_only = r.u(1)
        if not frame_mbs_only:
            r.u(1)  # mb_adaptive_frame_field
        r.u(1)  # direct_8x8_inference
        crop_l = crop_r = crop_t = crop_b = 0
        if r.u(1):  # frame_cropping_flag
            crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
        # crop units (§7.4.2.1.1): SubWidthC/SubHeightC by chroma format
        sub_w = {0: 1, 1: 2, 2: 2, 3: 1}[chroma_format_idc]
        sub_h = {0: 1, 1: 2, 2: 1, 3: 1}[chroma_format_idc]
        crop_x = sub_w if chroma_format_idc else 1
        crop_y = (sub_h if chroma_format_idc else 1) * (2 - frame_mbs_only)
        width = pic_width_in_mbs * 16 - (crop_l + crop_r) * crop_x
        height = (
            pic_height_in_map_units * 16 * (2 - frame_mbs_only)
            - (crop_t + crop_b) * crop_y
        )
        return {
            "profile_idc": profile_idc,
            "level_idc": level_idc,
            "width": width,
            "height": height,
            "chroma_format": {0: "4:0:0", 1: "4:2:0", 2: "4:2:2", 3: "4:4:4"}[
                chroma_format_idc
            ],
        }
    except (IndexError, ValueError, KeyError):
        return None


def parse_h264(data: bytes) -> H264Info | None:
    """Scan an Annex-B stream: SPS geometry + NAL/slice census. None if
    no parseable SPS is found."""
    sps = None
    n_nal = n_idr = n_slice = 0
    for nal_type, payload in iter_nal_units(data):
        n_nal += 1
        if nal_type == NAL_SPS and sps is None:
            sps = parse_sps(payload)
        elif nal_type == NAL_IDR:
            n_idr += 1
            n_slice += 1
        elif nal_type == NAL_SLICE:
            n_slice += 1
    if sps is None:
        return None
    return H264Info(
        profile_idc=sps["profile_idc"],
        level_idc=sps["level_idc"],
        width=sps["width"],
        height=sps["height"],
        chroma_format=sps["chroma_format"],
        n_nal_units=n_nal,
        n_idr_slices=n_idr,
        n_slices=n_slice,
    )


class _BitWriter:
    """Test-fixture twin of _BitReader (kept here so the bit layout and
    its reader stay in one file)."""

    def __init__(self):
        self.bits: list[int] = []

    def u(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)
        return self

    def ue(self, v: int):
        k = v + 1
        n = k.bit_length()
        self.u(0, n - 1)
        self.u(k, n)
        return self

    def se(self, v: int):
        return self.ue(2 * v - 1 if v > 0 else -2 * v)

    def tobytes(self) -> bytes:
        bits = self.bits + [1] + [0] * 7  # rbsp_stop_one_bit + pad
        out = bytearray()
        for i in range(0, len(bits) - 7, 8):
            b = 0
            for j in range(8):
                b = (b << 1) | bits[i + j]
            out.append(b)
        return bytes(out)


def build_sps(
    profile: int = 66,
    level: int = 30,
    w_mbs: int = 20,
    h_units: int = 15,
    crop: tuple[int, int, int, int] | None = None,
) -> bytes:
    """Spec-built SPS NAL (ITU-T H.264 §7.3.2.1) — the fixture-builder
    twin of parse_sps: progressive (frame_mbs_only=1), geometry
    ``w_mbs×16`` by ``h_units×16`` minus optional crop. Used by the
    synthetic mixed-media store whose gate golden carries these same
    generation parameters as ground truth."""
    w = _BitWriter()
    w.u(profile, 8).u(0, 8).u(level, 8).ue(0)
    if profile in _HIGH_PROFILES:
        w.ue(1)  # chroma 4:2:0
        w.ue(0).ue(0).u(0, 1).u(0, 1)
    w.ue(4)  # log2_max_frame_num_minus4
    w.ue(0).ue(4)  # poc_type=0, log2_max_poc_lsb
    w.ue(1).u(0, 1)  # max_num_ref_frames, gaps flag
    w.ue(w_mbs - 1).ue(h_units - 1)
    w.u(1, 1)  # frame_mbs_only_flag (progressive)
    w.u(1, 1)  # direct_8x8
    if crop:
        w.u(1, 1)
        for v in crop:
            w.ue(v)
    else:
        w.u(0, 1)
    return bytes([0x67]) + w.tobytes()
