"""Unit tests for the pure-NumPy kernels (SURVEY.md §5 layer 1).

Mirrors the reference's method-isolation harnesses
(tests/debug/test_hash_mapping.py, test_similarity_mapping.py) plus
hand-computed micro-fixtures per FIXTURES.md §8.
"""

import numpy as np
import pytest

import reference_twins as twins
from granulate_char_ocr_spark import alphabet
from granulate_char_ocr_spark.functions import kernels


def test_hash_roundtrip_all_26():
    # ahash(render(hash)) == hash, by block-mean exactness (SURVEY §7 M0)
    for letter, h in alphabet.LATIN_TO_HASH.items():
        g = alphabet.render_glyph(letter)
        got = kernels.ahash_bits(g)
        assert np.array_equal(got, alphabet.hash_to_bits(h)), letter


def test_grayscale_weights():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    img[..., 1] = 100  # G channel
    out = kernels.to_grayscale(img)
    assert out.shape == (2, 2)
    assert abs(int(out[0, 0]) - 59) <= 1  # 0.587 * 100


def test_polarity_invert_edges():
    dark = np.full((4, 4), 100, dtype=np.uint8)
    assert (kernels.polarity_invert(dark) == dark).all()
    light = np.full((4, 4), 200, dtype=np.uint8)
    assert (kernels.polarity_invert(light) == 55).all()
    # boundary: mean exactly 128 → no inversion (reference uses strict >)
    edge = np.full((4, 4), 128, dtype=np.uint8)
    assert (kernels.polarity_invert(edge) == 128).all()


def test_threshold_strictness():
    a = np.array([[127, 128, 129]], dtype=np.uint8)
    assert kernels.threshold(a).tolist() == [[0, 0, 255]]


def test_otsu_bimodal():
    a = np.array([[10] * 8 + [240] * 8], dtype=np.uint8)
    out = kernels.otsu_threshold(a)
    assert set(out.reshape(-1).tolist()) == {0, 255}
    assert out[0, 0] == 0 and out[0, -1] == 255


def test_adaptive_threshold_local_contrast():
    # gradient background with locally-brighter ink: a global threshold
    # misses the dim-side ink; the local-mean threshold keeps it
    img = np.tile(np.linspace(20, 220, 40).astype(np.uint8), (20, 1))
    img[8:12, 5:9] += 30    # dim-region ink
    img[8:12, 30:34] += 30  # bright-region ink
    out = kernels.adaptive_threshold(img, block=11, c=5)
    assert out[10, 6] == 255 and out[10, 31] == 255


def test_fast_morphology_matches_generic_pool():
    rng = np.random.default_rng(0)
    img = (rng.random((30, 50)) > 0.5).astype(np.uint8) * 255
    assert (kernels._dilate2(img) == twins._pool(img, 2, 2, True)).all()
    assert (kernels._erode2(img) == twins._pool(img, 2, 2, False)).all()


def test_morphology_close_fills_small_gap():
    img = np.zeros((8, 8), dtype=np.uint8)
    img[2:6, 2:6] = 255
    img[3, 3] = 0  # 1-px hole
    closed = kernels.morph_close(img)
    assert closed[3, 3] == 255


def test_gaussian_blur3_flat_invariant():
    img = np.full((6, 6), 90, dtype=np.uint8)
    assert (kernels.gaussian_blur3(img) == 90).all()


def test_deskew_noop_on_axis_aligned():
    g = alphabet.render_glyph("A")
    assert kernels.deskew_angle(g) == 0.0


# --- segmentation (W1 gaps-and-islands) -------------------------------------


def _img_from_cols(col_values, height=20):
    """Build an image whose column sums realize a 1-D projection profile."""
    img = np.zeros((height, len(col_values)), dtype=np.uint8)
    for x, v in enumerate(col_values):
        img[:v, x] = 255
    return img


def test_segment_basic_islands():
    # two islands of width 12, separated by a gap
    cols = [0] * 5 + [15] * 12 + [0] * 6 + [15] * 12 + [0] * 5
    regs = kernels.segment_regions(_img_from_cols(cols))
    assert [(r[0], r[2]) for r in regs] == [(5, 12), (23, 12)]


def test_segment_min_width_rule():
    # island of width exactly 10 is dropped (> 10 strictly, ocr_service.py:238)
    cols = [0] * 4 + [15] * 10 + [0] * 4 + [15] * 11 + [0] * 4
    regs = kernels.segment_regions(_img_from_cols(cols))
    assert len(regs) == 1 and regs[0][0] == 18 and regs[0][2] == 11


def test_segment_trailing_open_island():
    # reference ocr_service.py:241-243: tail island closes at right edge
    cols = [0] * 4 + [15] * 12
    regs = kernels.segment_regions(_img_from_cols(cols))
    assert regs == [(4, 0, 12, 15)]


def test_segment_threshold_fraction():
    # columns at exactly 10% of max are OUT (strict >)
    height = 40
    img = np.zeros((height, 30), dtype=np.uint8)
    img[:20, 5:17] = 255          # tall island: colsum 20*255
    img[:2, 20:29] = 255          # 2/20 = 10% of max → excluded
    regs = kernels.segment_regions(img)
    assert len(regs) == 1 and regs[0][0] == 5


def test_segment_min_height_rule():
    img = np.zeros((30, 30), dtype=np.uint8)
    img[10:15, 5:20] = 255  # h = 5 <= 10 → dropped
    assert kernels.segment_regions(img) == []


def test_segment_word_image_counts():
    from granulate_char_ocr_spark.sources.synthetic import render_word

    for word in ("PLEASURE", "A", "TRANSPORTATION", "YAMIGASHI"):
        img = render_word(word)
        regs = kernels.segment_regions(kernels.preprocess(img))
        assert len(regs) == len(word), word


# --- classification -----------------------------------------------------------


def test_classifier_state_26_distinct_prototypes():
    st = alphabet.classifier_state()
    assert len(st.crop_key_to_latin) == 26
    assert st.crop_bits.shape == (26, 64)
    assert sorted(st.crop_key_to_latin.values()) == sorted(alphabet.LETTERS)


def test_classify_all_letters_exact():
    from granulate_char_ocr_spark.sources.synthetic import render_word

    crops = []
    for letter in alphabet.LETTERS:
        pre = kernels.preprocess(render_word(letter, 0))
        (x, y, w, h) = kernels.segment_regions(pre)[0]
        crops.append(pre[y : y + h, x : x + w])
    results = kernels.classify_batch(crops)
    assert [r[0] for r in results] == list(alphabet.LETTERS)
    assert all(r[1] == 1.0 and r[2] == "exact_hash" for r in results)


def test_recognize_entire_vocabulary_all_variants():
    """The 100%-equality contract: every golden word, every rendering
    variant, recognized exactly via the exact-hash fast path."""
    from granulate_char_ocr_spark.sources.synthetic import N_VARIANTS, WORDS, render_word

    for word in WORDS:
        for v in range(N_VARIANTS):
            chars = kernels.recognize_word(render_word(word, v))
            got = "".join(c["latin"] for c in chars)
            assert got == word, (word, v, got)
            assert all(c["method"] == "exact_hash" for c in chars), (word, v)


def test_classify_hamming_fallback_and_reject():
    st = alphabet.classifier_state()
    # flip 3 bits of A's crop prototype → hamming match, conf 1 - 3/64
    bits_a = st.crop_bits[0].copy()
    # rebuild a synthetic crop at 8x8 scale: each bit → 8x8 block of 255
    flip_idx = [0, 1, 2]
    bits_a[flip_idx] ^= 1
    crop = np.kron(bits_a.reshape(8, 8), np.ones((8, 8), np.uint8)) * np.uint8(255)
    [(latin, conf, method)] = kernels.classify_batch([crop])
    assert method == "hamming" and latin == "A"
    assert conf == pytest.approx(1.0 - 3 / 64)
    # all-ones crop: far from everything → unknown? mean-threshold makes
    # uniform image hash to all zeros; distance to nearest prototype decides.
    uniform = np.full((64, 64), 255, dtype=np.uint8)
    [(latin_u, conf_u, method_u)] = kernels.classify_batch([uniform])
    assert method_u in ("hamming", "unknown")


def test_recognize_word_end_to_end():
    from granulate_char_ocr_spark.sources.synthetic import render_word

    chars = kernels.recognize_word(render_word("PLEASURE", 1))
    assert "".join(c["latin"] for c in chars) == "PLEASURE"
    assert all(c["method"] == "exact_hash" and c["confidence"] == 1.0 for c in chars)
    xs = [c["x"] for c in chars]
    assert xs == sorted(xs)


def test_deskew_recovers_rotated_word():
    from granulate_char_ocr_spark.sources.synthetic import render_word

    img = render_word("STOMACH", 0)
    # embed in a taller canvas so rotation doesn't clip, rotate by 9 degrees
    canvas = np.zeros((img.shape[0] + 80, img.shape[1] + 80), dtype=np.uint8)
    canvas[40 : 40 + img.shape[0], 40 : 40 + img.shape[1]] = img
    rotated = kernels._rotate_nn(canvas, 9.0)
    angle = kernels.deskew_angle(rotated)
    assert angle != 0.0
    fixed = kernels._rotate_nn(rotated, angle)
    # deskew must bring the principal text line back near horizontal:
    # row-sum variance of the corrected image ≈ the original's
    var_orig = np.var(canvas.sum(axis=1, dtype=np.int64))
    var_rot = np.var(rotated.sum(axis=1, dtype=np.int64))
    var_fix = np.var(fixed.sum(axis=1, dtype=np.int64))
    assert var_fix > var_rot * 1.5
    assert var_fix > 0.7 * var_orig
    # and the robust path should recover most characters
    chars = kernels.recognize_word(rotated, noisy=True)
    got = "".join(c["latin"] for c in chars)
    assert len(got) >= 5, got


def test_recognize_word_noisy_robustness():
    from granulate_char_ocr_spark.sources.synthetic import render_word_noisy

    # robustness bound, not an equality contract (SURVEY §7 R2)
    img = render_word_noisy("STOMACH", 0, seed=7)
    chars = kernels.recognize_word(img, noisy=True)
    got = "".join(c["latin"] for c in chars)
    # at least most characters recovered under light salt-and-pepper
    assert len(got) >= 5


def test_ahash_bits_batch_matches_scalar():
    from granulate_char_ocr_spark.sources.synthetic import render_word

    imgs = [render_word(w, 0) for w in ("TO", "US", "WE", "BY")]  # same shape
    batched = kernels.ahash_bits_batch(np.stack(imgs))
    for i, img in enumerate(imgs):
        assert np.array_equal(batched[i], twins.ahash_bits_single(img))
        assert np.array_equal(batched[i], kernels.ahash_bits(img))
    # mixed shapes, interleaved, plus crops narrower/shorter than the grid
    rng = np.random.default_rng(3)
    mixed = [render_word("STOMACH", 1), *imgs[:2], render_word("ZEBRA", 2)]
    mixed += [
        rng.integers(0, 256, (int(h), int(w)), dtype=np.uint8)
        for h, w in rng.integers(1, 40, (40, 2))
    ]
    mixed.append(imgs[3])
    # a side under 8 px leaves empty grid blocks: both forms divide by 0
    with np.errstate(divide="ignore", invalid="ignore"):
        many = kernels.ahash_bits_many(mixed)
        want = [twins.ahash_bits_single(img) for img in mixed]
    assert many.shape == (len(mixed), 64) and many.dtype == np.uint8
    for i, w in enumerate(want):
        assert np.array_equal(many[i], w), i
    assert kernels.ahash_bits_many([]).shape == (0, 64)
