"""Property-based tests (hypothesis) for the NumPy kernels and the
normalization twin — the randomized layer the reference lacks (SURVEY §5:
'no property-based testing' → ours adds it)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from granulate_char_ocr_spark import alphabet
from granulate_char_ocr_spark.functions import kernels
from granulate_char_ocr_spark.functions.text import normalize_python

# --- segmentation invariants --------------------------------------------------

islands = st.lists(
    st.tuples(st.integers(11, 40), st.integers(1, 30)),  # (width, gap-before)
    min_size=0,
    max_size=6,
)


@given(islands, st.integers(12, 40))
@settings(max_examples=60, deadline=None)
def test_segmentation_recovers_planted_islands(spec, height):
    """Planting islands wider than the min-width rule with non-trivial gaps
    must recover exactly those islands, in order."""
    cols = [0] * 12
    expected = []
    for width, gap in spec:
        cols.extend([0] * (gap + 11))  # gap wide enough to close any island
        expected.append((len(cols), width))
        cols.extend([255] * 0 or [1] * 0)  # no-op, clarity
        cols.extend([height] * width)
    cols.extend([0] * 12)
    img = np.zeros((max(height, 12) + 1, len(cols)), dtype=np.uint8)
    for x, v in enumerate(cols):
        img[:v, x] = 255
    regs = kernels.segment_regions(img)
    assert [(x, w) for (x, y, w, h) in regs] == expected


@given(st.integers(0, 25), st.integers(0, 2), st.integers(1, 6))
@settings(max_examples=40, deadline=None)
def test_recognition_invariant_under_horizontal_shift(idx, variant, extra_gap):
    """Extra all-zero margin must not change recognition (translation
    invariance along x for the projection segmenter)."""
    from granulate_char_ocr_spark.sources.synthetic import render_word

    letter = alphabet.LETTERS[idx]
    img = render_word(letter, variant)
    shifted = np.pad(img, ((0, 0), (extra_gap * 8, 0)))
    a = kernels.recognize_word(img)
    b = kernels.recognize_word(shifted)
    assert [c["latin"] for c in a] == [c["latin"] for c in b] == [letter]


@given(st.integers(0, 2**64 - 1))
@settings(max_examples=50, deadline=None)
def test_ahash_roundtrip_any_bit_pattern(bits_int):
    """ahash(render(bits)) == bits for EVERY 64-bit pattern, not just the 26
    pinned ones — block-mean exactness is structural."""
    bits = np.array([(bits_int >> i) & 1 for i in range(64)], dtype=np.uint8)
    if bits.sum() in (0, 64):
        return  # uniform image: mean-threshold degenerates by construction
    glyph = np.kron(bits.reshape(8, 8), np.ones((8, 8), np.uint8)) * np.uint8(255)
    got = kernels.ahash_bits(glyph)
    # strict '>' against the mean: ink blocks are 255 > mean, empty are 0 < mean
    assert (got == bits).all()


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=50, deadline=None)
def test_classify_never_crashes_on_garbage(payload):
    side = max(int(np.sqrt(max(len(payload), 1))), 1)
    img = np.frombuffer(payload[: side * side].ljust(side * side, b"\0"), np.uint8)
    kernels.recognize_word(img.reshape(side, side))  # must not raise


# --- normalization invariants ---------------------------------------------------

texts = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFF
    ),
    max_size=80,
)


@given(texts)
@settings(max_examples=100, deadline=None)
def test_normalize_idempotent(s):
    once = normalize_python(s)
    assert normalize_python(once) == once


@given(texts)
@settings(max_examples=100, deadline=None)
def test_normalize_no_forbidden_output(s):
    out = normalize_python(s)
    assert "!" not in out and "." not in out
    assert "  " not in out
    assert out == out.strip()


@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.sampled_from([1, 3, 4]),
    st.integers(0, 4),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_property(h, w, channels, ftype, seed):
    """decode(encode(img, any filter)) == img for arbitrary shapes/content
    across grey/RGB/RGBA."""
    import numpy as np

    from granulate_char_ocr_spark.functions.png import decode_png, encode_png

    shape = (h, w) if channels == 1 else (h, w, channels)
    img = np.random.default_rng(seed).integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img, ftype)), img)


@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.sampled_from([1, 2, 3, 4]),
    st.integers(0, 4),
    st.sampled_from([8, 16]),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_png_adam7_16bit_roundtrip_property(h, w, channels, ftype, depth, seed):
    """decode(encode(img, any filter, Adam7, depth 8/16)) == img for
    arbitrary shapes/content across grey / grey+alpha / RGB / RGBA —
    including shapes smaller than the Adam7 pass grid."""
    import numpy as np

    from granulate_char_ocr_spark.functions.png import decode_png, encode_png

    shape = (h, w) if channels == 1 else (h, w, channels)
    hi = 256 if depth == 8 else 65536
    dt = np.uint8 if depth == 8 else np.uint16
    img = np.random.default_rng(seed).integers(0, hi, shape, dtype=dt)
    data = encode_png(img, filter_type=ftype, interlace=1, depth=depth)
    assert np.array_equal(decode_png(data, scale_16bit=False), img)


@given(
    st.integers(1, 40),
    st.integers(1, 40),
    st.booleans(),
    st.sampled_from(["4:4:4", "4:2:2", "4:2:0"]),
    st.sampled_from([25, 60, 92]),
    st.sampled_from([0, 1, 3]),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_progressive_equals_baseline_property(
    h, w, gray, sub, quality, ri, seed
):
    """Progressive decode == baseline decode, pixel-exact, for arbitrary
    shapes/content/subsampling/quality/restart-interval: successive
    approximation must recover every coefficient bit."""
    import numpy as np

    from codec_fixtures import encode_jpeg_progressive

    from granulate_char_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg

    shape = (h, w) if gray else (h, w, 3)
    img = np.random.default_rng(seed).integers(0, 256, shape, dtype=np.uint8)
    kw = {} if gray else {"subsampling": sub}
    want = decode_jpeg(encode_jpeg(img, quality=quality, **kw))
    got = decode_jpeg(
        encode_jpeg_progressive(
            img, quality=quality, restart_interval=ri, **kw
        )
    )
    assert np.array_equal(got, want)


@given(
    st.integers(1, 16),
    st.integers(1, 80),
    st.sampled_from(["g4", "rle", "g3", "g3_2d"]),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_ccitt_roundtrip_property(h, w, mode, seed):
    """Any bilevel image round-trips through every CCITT mode — the 2D
    mode decisions (pass/vertical/horizontal) and MH run framing must be
    lossless for arbitrary transition patterns."""
    import numpy as np

    from granulate_char_ocr_spark.functions.ccitt import (
        decode_g3_2d,
        decode_g4,
        decode_mh,
        encode_g3_2d,
        encode_g4,
        encode_mh,
    )

    img = np.random.default_rng(seed).integers(0, 2, (h, w)).astype(bool)
    if mode == "g4":
        out = decode_g4(encode_g4(img), w, h)
    elif mode == "g3_2d":
        out = decode_g3_2d(encode_g3_2d(img), w, h)
    else:
        out = decode_mh(encode_mh(img, mode), w, h, mode)
    assert np.array_equal(out, img)
