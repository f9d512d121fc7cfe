"""MPEG audio (MP3) frame-header parsing — stream metadata WITHOUT
audio decode (ISO/IEC 11172-3 §2.4.1.3 / 13818-3; the frame-length
formula and tables are the published spec constants).

The 100 TB posture: a crawl pipeline's first pass over audio blobs is
codec/bitrate/duration/channel metadata for routing, budgeting and
dedup — none of which needs the polyphase filterbank. This module walks
sync-aligned frame headers (4 bytes each), skips ID3v2 prefix tags, and
detects the Xing/Info VBR header, yielding exact frame counts and a
sample-accurate duration estimate. Full PCM decode stays honestly
stubbed (operators/multimodal.py — no ffmpeg in-sandbox); this parser
makes the metadata leg real.

Robustness contract: malformed or
non-MP3 bytes yield ``None``, never an exception — resync after junk is
bounded (``_MAX_RESYNC``), and a stream must contain at least
``_MIN_FRAMES`` consecutive parseable frames to count as MP3 at all
(random bytes contain 0xFFE syncs at ~1/2048 per offset; requiring a
chain of valid back-to-back headers is the standard false-sync filter).

Reference context: granulate-char-OCR has no audio path at all; this
leg comes from the pipeline brief's multimodal requirement.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

# bitrate tables, kbps; index 0 = "free", 15 = invalid (ISO 11172-3
# table B.2 / 13818-3). Rows: [version][layer].
_BITRATES_V1 = {
    1: (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    2: (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
}
_BITRATES_V2 = {
    1: (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    3: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}

# sample rates by version id (header bits 19-20: 0=MPEG2.5, 2=MPEG2,
# 3=MPEG1) then samplerate index
_SAMPLE_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}

_MIN_FRAMES = 3
_MAX_RESYNC = 4096  # bytes of junk tolerated before/between frames


@dataclass
class Mp3Info:
    n_frames: int
    sample_rate: int
    channels: int
    layer: int  # 1, 2 or 3
    version: str  # "1", "2", "2.5"
    bitrate_kbps: float  # mean over frames (== nominal for CBR)
    vbr: bool  # Xing/VBR header present or bitrate varies
    duration_s: float


def _parse_header(hdr: int):
    """Decode one 32-bit frame header -> (frame_len, sample_rate,
    channels, layer, version_id, bitrate_kbps, samples_per_frame) or
    None if any field is reserved/invalid."""
    if (hdr >> 21) & 0x7FF != 0x7FF:
        return None
    version_id = (hdr >> 19) & 0x3
    layer_id = (hdr >> 17) & 0x3
    if version_id == 1 or layer_id == 0:
        return None  # reserved
    layer = 4 - layer_id  # 3->L1, 2->L2, 1->L3
    bitrate_idx = (hdr >> 12) & 0xF
    sr_idx = (hdr >> 10) & 0x3
    if bitrate_idx in (0, 15) or sr_idx == 3:
        return None  # "free" bitrate unsupported, invalid indices out
    table = _BITRATES_V1 if version_id == 3 else _BITRATES_V2
    bitrate = table[layer][bitrate_idx] * 1000
    sample_rate = _SAMPLE_RATES[version_id][sr_idx]
    padding = (hdr >> 9) & 0x1
    channels = 1 if ((hdr >> 6) & 0x3) == 3 else 2
    if layer == 1:
        frame_len = (12 * bitrate // sample_rate + padding) * 4
        samples = 384
    elif layer == 2 or version_id == 3:
        frame_len = 144 * bitrate // sample_rate + padding
        samples = 1152
    else:  # Layer III, MPEG-2/2.5: half-rate frames
        frame_len = 72 * bitrate // sample_rate + padding
        samples = 576
    return frame_len, sample_rate, channels, layer, version_id, bitrate, samples


def _skip_id3v2(data: bytes) -> int:
    """Offset past an ID3v2 prefix tag (syncsafe 28-bit size), else 0."""
    if len(data) >= 10 and data[:3] == b"ID3":
        size = (
            (data[6] & 0x7F) << 21
            | (data[7] & 0x7F) << 14
            | (data[8] & 0x7F) << 7
            | (data[9] & 0x7F)
        )
        return 10 + size
    return 0


def _xing_present(data: bytes, off: int, version_id: int, channels: int) -> bool:
    """Xing/Info VBR tag sits after the Layer-III side info block
    (un-CRC'd frame layout); Fraunhofer VBRI at fixed offset 32 past
    the header."""
    side = (17 if channels == 1 else 32) if version_id == 3 else (
        9 if channels == 1 else 17
    )
    tag_off = off + 4 + side
    tag = data[tag_off : tag_off + 4]
    return tag in (b"Xing", b"Info") or data[off + 36 : off + 40] == b"VBRI"


def parse_mp3(data: bytes) -> Mp3Info | None:
    """Walk the frame chain; None unless >= _MIN_FRAMES consecutive
    valid frames are found at the first accepted sync."""
    if not data:
        return None
    pos = _skip_id3v2(data)
    end = len(data)
    scan_limit = min(end - 4, pos + _MAX_RESYNC)
    while pos <= scan_limit:
        if data[pos] == 0xFF and (data[pos + 1] & 0xE0) == 0xE0:
            got = _walk_frames(data, pos)
            if got is not None:
                return got
        pos += 1
    return None


def _walk_frames(data: bytes, start: int) -> Mp3Info | None:
    end = len(data)
    pos = start
    n = 0
    total_bits = 0
    total_samples = 0
    sr = ch = layer = version_id = None
    rates: set[int] = set()
    vbr_tag = False
    while pos + 4 <= end:
        (hdr,) = struct.unpack_from(">I", data, pos)
        f = _parse_header(hdr)
        if f is None:
            break
        frame_len, f_sr, f_ch, f_layer, f_ver, bitrate, samples = f
        if sr is None:
            sr, ch, layer, version_id = f_sr, f_ch, f_layer, f_ver
            if f_layer == 3:
                vbr_tag = _xing_present(data, pos, f_ver, f_ch)
        elif (f_sr, f_ch, f_layer, f_ver) != (sr, ch, layer, version_id):
            break  # a real stream never changes mode mid-chain
        n += 1
        rates.add(bitrate)
        total_bits += bitrate * samples  # bitrate × (samples/sr) seconds
        total_samples += samples
        pos += frame_len
    if n < _MIN_FRAMES or sr is None:
        return None
    version = {3: "1", 2: "2", 0: "2.5"}[version_id]
    duration = total_samples / sr
    mean_kbps = (total_bits / sr) / duration / 1000 if duration else 0.0
    return Mp3Info(
        n_frames=n,
        sample_rate=sr,
        channels=ch,
        layer=layer,
        version=version,
        bitrate_kbps=round(mean_kbps, 3),
        vbr=vbr_tag or len(rates) > 1,
        duration_s=round(duration, 6),
    )


def build_frame(
    version_id: int = 3,
    layer: int = 3,
    bitrate_idx: int = 9,
    sr_idx: int = 0,
    channels: int = 2,
    padding: int = 0,
) -> bytes:
    """Synthesize one spec-valid frame (header + zero payload) — the
    fixture generator for tests; also documents the header bit layout."""
    layer_id = 4 - layer
    mode = 0 if channels == 2 else 3
    hdr = (
        0x7FF << 21
        | version_id << 19
        | layer_id << 17
        | 1 << 16  # no CRC
        | bitrate_idx << 12
        | sr_idx << 10
        | padding << 9
        | mode << 6
    )
    f = _parse_header(hdr)
    assert f is not None
    return struct.pack(">I", hdr) + b"\x00" * (f[0] - 4)
