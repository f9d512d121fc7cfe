"""Pinned Granulate-alphabet constants and prototype construction.

The 26 64-bit aHash bitstrings and the 36-symbol Granulate↔Latin map are the
reference repo's own published constants (reference:
``backend/infrastructure/mapping/granulate_alphabet_generated.py:21-48`` and
``backend/infrastructure/mapping/granulate_alphabet.py:16-55``). They are the
only fully deterministic, self-contained recognition assets in the reference
(the CNN weights and the custom Tesseract model are absent from the repo — see
SURVEY.md §0 finding #1), so they pin our classifier and all fixtures.

Everything here is plain data + NumPy; no Spark imports. The classifier state
(`ClassifierState`) is built lazily once per Python worker process
(executor-singleton) — the reference's per-request model reload
(``backend/api/endpoints/ocr.py:43``) is the anti-pattern this fixes.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# ---------------------------------------------------------------------------
# 26 pinned 64-bit (8x8 mean-threshold) aHash prototypes, hash -> Latin.
# Verbatim values from reference granulate_alphabet_generated.py:21-48.
# ---------------------------------------------------------------------------
HASH_TO_LATIN: dict[str, str] = {
    "0000000001111110011111100000111001111110001111100000100000000000": "A",
    "0000000000011110001111100011110001111100001101100011111000000000": "B",
    "0000000001111100011111100101101001011010010010100100101000000000": "C",
    "0000000001111110011011000110011001110110011111100110110000000000": "D",
    "0000000000000001011000010110000101111101011111110000001100111111": "E",
    "0000000001111110011111100111111001111110011111100011111000000000": "F",
    "0000000001111110011111100111111001111110011010100010101000000000": "G",
    "0000000001110100011111100111011001111110011101100111010000000000": "H",
    "0000000001111110011111100000101000001110011111100111010000000000": "I",
    "0000000000111110001110000011100000011110001110000001111000000000": "J",
    "0000000000101110001111100111111001111100011111000010010000000000": "K",
    "0000000000111110001001100011111000111110001111100011111000000000": "L",
    "0000000000111110011111100111010001011100011101100011001000000000": "M",
    "0000000001111010001110100011111000110110001111100000011000000000": "N",
    "0000000001110110011111000101100001111110011111100101000000000000": "O",
    "0000000000111100001111000111010001110100011101100111011000000000": "P",
    "0000000000011100011111100001100001011110011111100111000000000000": "Q",
    "0000000001100110011111100001111001111110011111100111111000000000": "R",
    "0000000000101100000111100011110000111100001111100011111000000000": "S",
    "0000000001111110011111100111111001111110011110100111000000000000": "T",
    "0000000000111100001111000111111001111110011111100011111000000000": "U",
    "0000000001000110011101100111111001111110000111000000111000000000": "V",
    "0000000001111100011110000011010001111110001111000101100000000000": "W",
    "0000000001111000011110100111110001111110011110100111100000000000": "X",
    "0000000001111110011111100110011001111100011111000001100000000000": "Y",
    "0000000000000110011111100111011001110100011111100001100000000000": "Z",
}

LATIN_TO_HASH: dict[str, str] = {v: k for k, v in HASH_TO_LATIN.items()}

LETTERS: str = "".join(sorted(LATIN_TO_HASH))  # "ABC...Z"

# ---------------------------------------------------------------------------
# 36-symbol Granulate <-> Latin map (reference granulate_alphabet.py:16-55).
# ---------------------------------------------------------------------------
GRANULATE_TO_LATIN: dict[str, str] = {
    "ᐁ": "A", "ᐂ": "B", "ᐃ": "C", "ᐄ": "D", "ᐅ": "E", "ᐆ": "F", "ᐇ": "G",
    "ᐈ": "H", "ᐊ": "I", "ᐋ": "J", "ᐌ": "K", "ᐍ": "L", "ᐎ": "M", "ᐏ": "N",
    "ᐐ": "O", "ᐑ": "P", "ᐒ": "Q", "ᐓ": "R", "ᐔ": "S", "ᐕ": "T", "ᐖ": "U",
    "ᐗ": "V", "ᐘ": "W", "ᐙ": "X", "ᐚ": "Y", "ᐿ": "Z",
    "᐀": "0", "ᑐ": "1", "ᑑ": "2", "ᑒ": "3", "ᑓ": "4", "ᑔ": "5", "ᑕ": "6",
    "ᑖ": "7", "ᑗ": "8", "ᐉ": "9",
}

# Reference tests/debug/test_similarity_mapping.py:39-47 accepts a
# Hamming-nearest match only when the distance is <= 10 bits.
HAMMING_MAX_DISTANCE = 10

GLYPH_SIZE = 64  # rendered glyph tile (reference trains/extracts at 64x64)
HASH_SIDE = 8    # aHash grid (8x8 = 64 bits)


def hash_to_bits(hash_str: str) -> np.ndarray:
    """64-char bitstring -> uint8[64] array of {0,1}."""
    return np.frombuffer(hash_str.encode("ascii"), dtype=np.uint8) - ord("0")


def render_glyph(latin: str) -> np.ndarray:
    """Render the canonical 64x64 binary glyph for a letter from its hash.

    8x8 bit grid -> x8 nearest-neighbor upscale -> uint8 {0,255}. Because an
    8x8 block-mean of a block-constant 64x64 image is exact, the glyph's aHash
    equals its source bitstring by construction (SURVEY.md §7 M0).
    """
    bits = hash_to_bits(LATIN_TO_HASH[latin]).reshape(HASH_SIDE, HASH_SIDE)
    return np.kron(bits, np.ones((8, 8), dtype=np.uint8)) * np.uint8(255)


@dataclass(frozen=True)
class ClassifierState:
    """Immutable per-worker classifier state (built once per Python worker).

    ``crop_key_to_latin`` / ``crop_bits`` are the prototypes *as the segment
    stage sees them*: the reference hashes the tight ink crop of a region
    (``granulate_alphabet_generated.py:63-80`` resizes the raw crop to 8x8),
    so prototypes are derived by running the identical preprocess+segment+hash
    kernel over the 26 canonical glyphs — the same recipe the reference used
    to mint its table from extracted reference images
    (``training_data/scripts/create_mapping.py:18-30``).
    """

    letters: str
    crop_key_to_latin: dict[bytes, str]  # keyed by bits.tobytes()
    crop_bits: np.ndarray  # (26, 64) uint8


_STATE: ClassifierState | None = None


def classifier_state() -> ClassifierState:
    """Executor-singleton accessor (lazy; import-cycle-safe)."""
    global _STATE
    if _STATE is None:
        from granulate_char_ocr_spark.functions import kernels

        crop_key_to_latin: dict[bytes, str] = {}
        crop_bits = np.zeros((len(LETTERS), 64), dtype=np.uint8)
        for i, letter in enumerate(LETTERS):
            # Pad with zero margins so local morphology sees the same
            # neighborhood as a glyph embedded in a word image (gaps/margins
            # are all-zero there); without this, border-padding semantics of
            # erode would make isolated-glyph prototypes differ at the edges.
            glyph = np.pad(render_glyph(letter), ((0, 0), (4, 4)))
            pre = kernels.preprocess(glyph)
            regions = kernels.segment_regions(pre)
            if len(regions) != 1:  # pragma: no cover - pinned by tests
                raise RuntimeError(f"glyph {letter}: {len(regions)} islands")
            x, y, w, h = regions[0]
            bits = kernels.ahash_bits(pre[y : y + h, x : x + w])
            crop_key_to_latin[bits.tobytes()] = letter
            crop_bits[i] = bits
        if len(crop_key_to_latin) != len(LETTERS):  # pragma: no cover
            raise RuntimeError("crop-hash collision among prototypes")
        _STATE = ClassifierState(
            letters=LETTERS,
            crop_key_to_latin=crop_key_to_latin,
            crop_bits=crop_bits,
        )
    return _STATE
