"""Pure-NumPy image kernels (no cv2/PIL — the sandbox has neither, and the
north star mandates batched NumPy tensor work anyway).

Each kernel reimplements, from its published behavior, one stage of the
reference pipeline (citations are reference file:line; see SURVEY.md §2.8):

  to_grayscale          ocr_service.py:176-179   (P1)
  polarity_invert       ocr_service.py:181-185   (P2)
  threshold             ocr_service.py:195       (F4, fixed 128)
  otsu_threshold        optimize_preprocessing.py:81 (F5)
  adaptive_threshold    preprocess_color_images.py:133-136 (F6)
  dilate/erode/open/close  ocr_service.py:198-199,346-347 (F7)
  resize_area           ocr_service.py:353-357 / granulate_alphabet_generated.py:73 (F8)
  pad_to_square         ocr_service.py:359-367   (F9)
  gaussian_blur3        ocr_service.py:370       (F10)
  ahash_bits            granulate_alphabet_generated.py:66-77 (F11)
  hamming_distance      tests/debug/test_similarity_mapping.py:29-31 (F12)
  deskew                optimize_preprocessing.py:102-128 (F20)
  segment_regions       ocr_service.py:221-265   (W1/A2/A3/P3)
  classify_batch        ocr_service.py:331-394 cascade, batched (J1/J3)

All functions operate on whole uint8 arrays; ``classify_batch`` stacks every
crop in an Arrow batch into one (B, 64) bit matrix and resolves all of them
with a single (B, 64) x (64, 26) popcount matmul — the reference's
batch-size-1 inference (``ocr_service.py:376``) fixed by construction.
"""

from __future__ import annotations

import numpy as np

from granulate_char_ocr_spark import alphabet

# ---------------------------------------------------------------------------
# projections / color
# ---------------------------------------------------------------------------


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """H×W×3 BGR -> H×W uint8 (cv2.COLOR_BGR2GRAY weights, B first)."""
    if img.ndim == 2:
        return img
    w = np.array([0.114, 0.587, 0.299])  # B, G, R
    return np.clip(img[..., :3].astype(np.float64) @ w, 0, 255).astype(np.uint8)


def polarity_invert(gray: np.ndarray) -> np.ndarray:
    """Invert to black-background/white-ink when the mean says white bg."""
    if gray.mean() > 128:
        return (255 - gray.astype(np.int16)).astype(np.uint8)
    return gray


# ---------------------------------------------------------------------------
# thresholds
# ---------------------------------------------------------------------------


def threshold(img: np.ndarray, t: int = 128) -> np.ndarray:
    return np.where(img > t, np.uint8(255), np.uint8(0))


def otsu_threshold(img: np.ndarray) -> np.ndarray:
    """Data-driven global threshold maximizing between-class variance."""
    hist = np.bincount(img.reshape(-1), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return img.copy()
    omega = np.cumsum(hist) / total
    mu = np.cumsum(hist * np.arange(256)) / total
    mu_t = mu[-1]
    denom = omega * (1.0 - omega)
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = np.where(denom > 0, (mu_t * omega - mu) ** 2 / denom, 0.0)
    t = int(np.argmax(sigma_b))
    return threshold(img, t)


def _box_sum(img: np.ndarray, k: int) -> np.ndarray:
    """k×k sliding-window sum via 2-D cumsum (same-size, zero-padded)."""
    pad = k // 2
    padded = np.pad(img.astype(np.int64), ((pad + 1, pad), (pad + 1, pad)))
    c = padded.cumsum(axis=0).cumsum(axis=1)
    h, w = img.shape
    return (
        c[k : k + h, k : k + w]
        - c[0:h, k : k + w]
        - c[k : k + h, 0:w]
        + c[0:h, 0:w]
    )


def adaptive_threshold(img: np.ndarray, block: int = 11, c: int = 2) -> np.ndarray:
    """Per-pixel local-mean threshold (block×block box filter)."""
    counts = _box_sum(np.ones_like(img, dtype=np.uint8), block)
    local_mean = _box_sum(img, block) / counts
    return np.where(img.astype(np.float64) > local_mean - c, np.uint8(255), np.uint8(0))


# ---------------------------------------------------------------------------
# morphology (binary max/min pooling over shifted views)
# ---------------------------------------------------------------------------


def _pool(img: np.ndarray, kh: int, kw: int, reduce_max: bool) -> np.ndarray:
    """Max (dilate) / min (erode) over a kh×kw rect anchored like cv2 (origin
    at kernel center, ties to top-left for even sizes)."""
    pads = ((kh - 1) // 2, kh // 2, (kw - 1) // 2, kw // 2)
    if reduce_max:
        padded = np.pad(img, ((pads[0], pads[1]), (pads[2], pads[3])), constant_values=0)
        op = np.maximum
    else:
        padded = np.pad(img, ((pads[0], pads[1]), (pads[2], pads[3])), constant_values=255)
        op = np.minimum
    h, w = img.shape
    out = padded[0:h, 0:w].copy()
    for dy in range(kh):
        for dx in range(kw):
            if dy == 0 and dx == 0:
                continue
            out = op(out, padded[dy : dy + h, dx : dx + w])
    return out


def _dilate2(img: np.ndarray) -> np.ndarray:
    """2×2 dilate, separable in-place (exactly _pool(img, 2, 2, max): the
    window is {0,+1}² with zero padding at the right/bottom edge)."""
    out = img.copy()
    np.maximum(out[:, :-1], img[:, 1:], out=out[:, :-1])
    np.maximum(out[:-1, :], out[1:, :], out=out[:-1, :])
    return out


def _erode2(img: np.ndarray) -> np.ndarray:
    """2×2 erode (min-pool twin of _dilate2; edge = identity = 255-pad)."""
    out = img.copy()
    np.minimum(out[:, :-1], img[:, 1:], out=out[:, :-1])
    np.minimum(out[:-1, :], out[1:, :], out=out[:-1, :])
    return out


def dilate(img: np.ndarray, kh: int = 3, kw: int = 3) -> np.ndarray:
    if kh == 2 and kw == 2:
        return _dilate2(img)
    return _pool(img, kh, kw, reduce_max=True)


def erode(img: np.ndarray, kh: int = 3, kw: int = 3) -> np.ndarray:
    if kh == 2 and kw == 2:
        return _erode2(img)
    return _pool(img, kh, kw, reduce_max=False)


def morph_close(img: np.ndarray, kh: int = 2, kw: int = 2) -> np.ndarray:
    return erode(dilate(img, kh, kw), kh, kw)


def morph_open(img: np.ndarray, kh: int = 2, kw: int = 2) -> np.ndarray:
    return dilate(erode(img, kh, kw), kh, kw)


# ---------------------------------------------------------------------------
# resize / pad / blur
# ---------------------------------------------------------------------------


def resize_area(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-average resize. Exact block-mean when dims divide evenly (the
    fixture path: 64→8), pixel-area weighting otherwise."""
    h, w = img.shape
    if h % out_h == 0 and w % out_w == 0:
        bh, bw = h // out_h, w // out_w
        return (
            img.reshape(out_h, bh, out_w, bw).astype(np.float64).mean(axis=(1, 3))
        )
    ys = np.linspace(0, h, out_h + 1)
    xs = np.linspace(0, w, out_w + 1)
    # integral image for exact fractional-area averaging
    c = np.zeros((h + 1, w + 1), dtype=np.float64)
    c[1:, 1:] = img.astype(np.float64).cumsum(axis=0).cumsum(axis=1)

    def _interp(cum: np.ndarray, pos: np.ndarray, axis: int) -> np.ndarray:
        i = np.clip(np.floor(pos).astype(int), 0, cum.shape[axis] - 1)
        frac = pos - i
        lo = np.take(cum, i, axis=axis)
        hi = np.take(cum, np.minimum(i + 1, cum.shape[axis] - 1), axis=axis)
        shape = [1, 1]
        shape[axis] = -1
        return lo + (hi - lo) * frac.reshape(shape)

    rows = _interp(c, ys, axis=0)          # (out_h+1, w+1)
    grid = _interp(rows, xs, axis=1)       # (out_h+1, out_w+1)
    area = np.outer(np.diff(ys), np.diff(xs))
    return (grid[1:, 1:] - grid[:-1, 1:] - grid[1:, :-1] + grid[:-1, :-1]) / area


def pad_to_square(img: np.ndarray) -> np.ndarray:
    """Zero-pad to centered square (reference ocr_service.py:359-367)."""
    h, w = img.shape
    if h == w:
        return img
    size = max(h, w)
    out = np.zeros((size, size), dtype=img.dtype)
    y0 = (size - h) // 2
    x0 = (size - w) // 2
    out[y0 : y0 + h, x0 : x0 + w] = img
    return out


def gaussian_blur3(img: np.ndarray) -> np.ndarray:
    """Separable 3×3 [1,2,1]/4 Gaussian (edge-replicate)."""
    a = img.astype(np.float64)
    p = np.pad(a, 1, mode="edge")
    horiz = (p[1:-1, :-2] + 2 * p[1:-1, 1:-1] + p[1:-1, 2:]) / 4.0
    p2 = np.pad(horiz, ((1, 1), (0, 0)), mode="edge")
    out = (p2[:-2] + 2 * p2[1:-1] + p2[2:]) / 4.0
    return np.clip(out, 0, 255).astype(np.uint8)


def bilateral_filter(
    img: np.ndarray, d: int = 9, sigma_color: float = 75.0, sigma_space: float = 75.0
) -> np.ndarray:
    """Edge-preserving bilateral filter — the reference's denoise step
    (``cv2.bilateralFilter(gray, 9, 75, 75)``, ocr_service.py:188),
    reimplemented from the published definition: each output pixel is the
    intensity-weighted Gaussian mean over a d×d window,
    w = exp(-Δxy²/2σs²) · exp(-ΔI²/2σc²). Vectorized over the whole image
    via d² shifted views (no per-pixel Python). Functional reproduction, not
    bit-exact parity with cv2's fixed-point path (SURVEY §7 R2 — the
    deterministic fixture contract still excludes it; the robust/noisy
    pipeline may use it)."""
    a = img.astype(np.float64)
    r = d // 2
    padded = np.pad(a, r, mode="edge")
    h, w = a.shape
    num = np.zeros_like(a)
    den = np.zeros_like(a)
    inv2ss = -0.5 / (sigma_space**2)
    inv2sc = -0.5 / (sigma_color**2)
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            shifted = padded[r + dy : r + dy + h, r + dx : r + dx + w]
            wgt = np.exp((dy * dy + dx * dx) * inv2ss + (shifted - a) ** 2 * inv2sc)
            num += wgt * shifted
            den += wgt
    return np.clip(np.round(num / den), 0, 255).astype(np.uint8)


def clahe(
    img: np.ndarray, clip_limit: float = 2.0, tiles: int = 8
) -> np.ndarray:
    """Contrast-limited adaptive histogram equalization — the reference's
    contrast step (``cv2.createCLAHE(clipLimit=2.0, tileGridSize=(8,8))``,
    ocr_service.py:191), from the published algorithm: per-tile histograms
    clipped at ``clip_limit × mean-bin-height`` with the excess
    redistributed uniformly, per-tile equalization CDFs, and bilinear
    interpolation between the four surrounding tile mappings per pixel.
    Functional reproduction of the algorithm, not cv2-bit-exact."""
    h, w = img.shape
    th, tw = max(1, h // tiles), max(1, w // tiles)
    ny, nx = (h + th - 1) // th, (w + tw - 1) // tw
    # per-tile clipped-equalization lookup tables
    luts = np.empty((ny, nx, 256), dtype=np.float64)
    for ty in range(ny):
        for tx in range(nx):
            tile = img[ty * th : min((ty + 1) * th, h), tx * tw : min((tx + 1) * tw, w)]
            hist = np.bincount(tile.reshape(-1), minlength=256).astype(np.float64)
            limit = max(clip_limit * tile.size / 256.0, 1.0)
            excess = np.maximum(hist - limit, 0.0).sum()
            hist = np.minimum(hist, limit) + excess / 256.0
            cdf = hist.cumsum()
            cdf /= max(cdf[-1], 1.0)
            luts[ty, tx] = np.round(cdf * 255.0)
    # bilinear interpolation between the 4 surrounding tile LUTs
    yy, xx = np.mgrid[0:h, 0:w]
    fy = (yy + 0.5) / th - 0.5
    fx = (xx + 0.5) / tw - 0.5
    y0 = np.clip(np.floor(fy).astype(int), 0, ny - 1)
    x0 = np.clip(np.floor(fx).astype(int), 0, nx - 1)
    y1 = np.minimum(y0 + 1, ny - 1)
    x1 = np.minimum(x0 + 1, nx - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)
    wx = np.clip(fx - x0, 0.0, 1.0)
    v = img.astype(int)
    out = (
        luts[y0, x0, v] * (1 - wy) * (1 - wx)
        + luts[y1, x0, v] * wy * (1 - wx)
        + luts[y0, x1, v] * (1 - wy) * wx
        + luts[y1, x1, v] * wy * wx
    )
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _rotate_nn(img: np.ndarray, angle_deg: float) -> np.ndarray:
    """Nearest-neighbor rotation about the image center (zeros outside)."""
    theta = np.radians(-angle_deg)
    h, w = img.shape
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    yy, xx = np.mgrid[0:h, 0:w]
    sx = np.cos(theta) * (xx - cx) + np.sin(theta) * (yy - cy) + cx
    sy = -np.sin(theta) * (xx - cx) + np.cos(theta) * (yy - cy) + cy
    sxi = np.clip(np.round(sx).astype(int), 0, w - 1)
    syi = np.clip(np.round(sy).astype(int), 0, h - 1)
    valid = (sx >= -0.5) & (sx < w - 0.5) & (sy >= -0.5) & (sy < h - 0.5)
    return np.where(valid, img[syi, sxi], 0).astype(img.dtype)


def deskew_angle(
    img: np.ndarray,
    max_angle: float = 15.0,
    step: float = 3.0,
    min_gain: float = 1.5,
) -> float:
    """The angle ``deskew`` would apply (0.0 = keep as-is). Exposed so
    callers can rotate COMPANION planes (e.g. the grayscale the vote tier
    re-binarizes) by the identical transform and keep bboxes aligned.

    ``min_gain``: a candidate must beat the unrotated variance by this
    factor. Genuine skew scores are multiples of base (a true 9° rotation
    measures ≥5× at the correct angle); salt-noise perturbations of a
    STRAIGHT image max out ≈1.4× (measured across the noisy corpus), and a
    false rotation destroys downstream recognition — so the margin sits
    between the two populations, not at the old noise-fooled 1.02."""
    if img.size == 0 or not img.any():
        return 0.0
    angles = np.arange(-max_angle, max_angle + step / 2, step)
    base = float(np.var(img.sum(axis=1, dtype=np.int64)))
    best_angle, best_score = 0.0, base
    for a in angles:
        if abs(a) < 1e-9:
            continue
        score = float(np.var(_rotate_nn(img, a).sum(axis=1, dtype=np.int64)))
        if score > best_score:
            best_angle, best_score = float(a), score
    if best_angle == 0.0 or best_score <= base * min_gain:
        return 0.0
    return best_angle


def deskew(
    img: np.ndarray, max_angle: float = 15.0, step: float = 3.0
) -> np.ndarray:
    """Projection-profile deskew: among candidate rotations, keep the one
    maximizing row-sum variance (the classic text-line criterion; the
    reference's minAreaRect+warpAffine at optimize_preprocessing.py:102-128
    serves the same role). 0° is preferred unless a candidate is strictly
    >2% better — an exact no-op on clean axis-aligned fixtures."""
    a = deskew_angle(img, max_angle, step)
    return img if a == 0.0 else _rotate_nn(img, a)


# ---------------------------------------------------------------------------
# hash / distance
# ---------------------------------------------------------------------------


from functools import lru_cache


@lru_cache(maxsize=8192)
def _bm_geometry(h: int, w: int, oh: int, ow: int):
    """Cached reduceat boundaries + block pixel counts for (h,w)→(oh,ow)
    (crop shapes repeat heavily within a corpus)."""
    ys = (np.arange(oh) * h) // oh
    xs = (np.arange(ow) * w) // ow
    counts = np.outer(np.diff(np.append(ys, h)), np.diff(np.append(xs, w)))
    return ys, xs, counts.astype(np.float64)


def _block_mean(img: np.ndarray, oh: int, ow: int) -> np.ndarray:
    """Pixel-aligned block-mean downsample via two reduceat passes (~4 numpy
    calls). Identical to exact block-mean when dims divide evenly — the
    pinned full-glyph-hash case."""
    h, w = img.shape
    ys, xs, counts = _bm_geometry(h, w, oh, ow)
    colsum = np.add.reduceat(img.astype(np.int32), ys, axis=0)
    block = np.add.reduceat(colsum, xs, axis=1)
    return block / counts


def ahash_bits_batch(stack: np.ndarray) -> np.ndarray:
    """(B, H, W) uint8 -> (B, 64) {0,1} aHash bits: the batched twin of
    ``ahash_bits`` (same pixel-aligned block-mean, reduceat over axes 1/2 of
    the whole stack — one pair of NumPy calls for B images instead of B)."""
    b, h, w = stack.shape
    ys, xs, counts = _bm_geometry(h, w, alphabet.HASH_SIDE, alphabet.HASH_SIDE)
    colsum = np.add.reduceat(stack.astype(np.int32), ys, axis=1)
    block = np.add.reduceat(colsum, xs, axis=2) / counts[None, :, :]
    flat = block.reshape(b, -1)
    return (flat > flat.mean(axis=1, keepdims=True)).astype(np.uint8)


def ahash_bits(img: np.ndarray) -> np.ndarray:
    """8×8 mean-threshold aHash -> uint8[64] of {0,1} (strict >, as the
    reference's ``'1' if pixel > avg else '0'``). Uses the pixel-aligned
    block-mean (the reference minted its table from 64×64 crops where
    block-mean is exact; for general crops our prototypes are built with the
    identical kernel, so the choice is self-consistent)."""
    small = _block_mean(img, alphabet.HASH_SIDE, alphabet.HASH_SIDE)
    return (small > small.mean()).astype(np.uint8).reshape(-1)


def hamming_distance(a: np.ndarray, b: np.ndarray) -> int:
    return int(np.count_nonzero(a != b))


# ---------------------------------------------------------------------------
# preprocess + segmentation (the [P] production path)
# ---------------------------------------------------------------------------


def preprocess(img: np.ndarray) -> np.ndarray:
    """grayscale → polarity invert → threshold(128) → close(2×2).

    The reference additionally applies a bilateral filter and CLAHE
    (ocr_service.py:188-192); on binarized-at-128 output both are
    identity-after-threshold for clean synthetic glyphs and are
    unreproducible bit-exactly without cv2 (SURVEY.md §7 R2), so the
    deterministic contract excludes them. ``denoise=True`` adds a Gaussian
    pass for noisy inputs (robustness-bound tests only).
    """
    gray = to_grayscale(img)
    gray = polarity_invert(gray)
    binary = threshold(gray, 128)
    return morph_close(binary, 2, 2)


def preprocess_reference(img: np.ndarray) -> np.ndarray:
    """The reference's LITERAL preprocessing chain (ocr_service.py:176-199):
    grayscale → polarity → bilateral(9,75,75) → CLAHE(2.0, 8×8) →
    threshold(128) → close(2×2). Kept as a variant, not the default: the
    pinned prototypes were minted through ``preprocess`` (SURVEY §7 R2
    excludes bilateral/CLAHE from the bit-exact contract), so this chain
    classifies via the hamming/vote tiers where edges moved."""
    gray = polarity_invert(to_grayscale(img))
    den = bilateral_filter(gray)
    enh = clahe(den)
    return morph_close(threshold(enh, 128), 2, 2)


def preprocess_noisy_pair(img: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Robustness variant: blur before threshold to kill salt-and-pepper.
    Returns (binary, gray): the preprocessed binary AND the geometry-aligned
    smoothed grayscale (rotated by the same deskew angle) — the vote tier
    re-binarizes crops of the gray plane at the binary plane's bboxes."""
    gray = to_grayscale(img)
    gray = polarity_invert(gray)
    smooth = gaussian_blur3(gray)
    binary = otsu_threshold(smooth)
    a = deskew_angle(binary)
    if a != 0.0:
        binary = _rotate_nn(binary, a)
        smooth = _rotate_nn(smooth, a)
    return morph_close(binary, 2, 2), smooth


def preprocess_noisy(img: np.ndarray) -> np.ndarray:
    """Binary-only view of ``preprocess_noisy_pair``."""
    return preprocess_noisy_pair(img)[0]


# x-gap for the noisy path's adjacent-region merge: below the corpus'
# minimum inter-character spacing (12 px, sources/synthetic.py render_word)
# and above typical intra-glyph noise cuts
NOISY_MERGE_GAP = 8


def segment_regions(
    img: np.ndarray,
    theta_frac: float = 0.1,
    min_w: int = 10,
    min_h: int = 10,
) -> list[tuple[int, int, int, int]]:
    """Horizontal-projection run-length segmentation → [(x, y, w, h)], x-sorted.

    Vectorized gaps-and-islands over the column-sum projection — the same
    semantics as the reference's stateful scan (ocr_service.py:224-265):
    open island when colsum > 0.1*max, close when <= threshold, keep islands
    wider than ``min_w`` (tail island closed at the right edge), then bound
    each island vertically by its nonzero row-sums and drop regions with
    w <= min_w or h <= min_h.
    """
    if img.size == 0:
        return []
    colsum = img.sum(axis=0, dtype=np.int64)
    peak = colsum.max()
    if peak == 0:
        return []
    mask = colsum > peak * theta_frac
    d = np.diff(mask.astype(np.int8))
    starts = np.flatnonzero(d == 1) + 1
    ends = np.flatnonzero(d == -1) + 1
    if mask[0]:
        starts = np.concatenate(([0], starts))
    if mask[-1]:
        ends = np.concatenate((ends, [mask.size]))
    regions: list[tuple[int, int, int, int]] = []
    for s, e in zip(starts, ends):
        if e - s <= min_w:
            continue
        rowsum = img[:, s:e].sum(axis=1)
        yi = np.flatnonzero(rowsum > 0)
        if yi.size == 0:
            continue
        y0, y1 = int(yi[0]), int(yi[-1])
        w, h = int(e - s), y1 - y0 + 1
        if w > min_w and h > min_h:
            regions.append((int(s), y0, w, h))
    return regions  # starts are ascending → already left-to-right


# ---------------------------------------------------------------------------
# color-space conversions + color/shape region filters (fixture-extraction
# legs of the reference: extract_from_reference.py:85-92,243-253,
# preprocess_color_images.py — F19/P6/P7)
# ---------------------------------------------------------------------------


def bgr_to_hsv(img: np.ndarray) -> np.ndarray:
    """H×W×3 BGR uint8 -> H×W×3 HSV uint8 in cv2's 8-bit convention:
    H in [0,180), S and V in [0,255]."""
    b, g, r = (img[..., i].astype(np.float64) for i in range(3))
    v = np.maximum(np.maximum(b, g), r)
    mn = np.minimum(np.minimum(b, g), r)
    delta = v - mn
    s = np.where(v > 0, 255.0 * delta / np.where(v > 0, v, 1), 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        d = np.where(delta > 0, delta, 1)
        h = np.where(
            v == r,
            60.0 * (g - b) / d,
            np.where(v == g, 120.0 + 60.0 * (b - r) / d, 240.0 + 60.0 * (r - g) / d),
        )
    h = np.where(delta == 0, 0.0, h)
    h = np.where(h < 0, h + 360.0, h) / 2.0  # cv2 packs H into [0,180)
    return np.stack(
        [np.round(h), np.round(s), np.round(v)], axis=-1
    ).astype(np.uint8)


def bgr_to_lab(img: np.ndarray) -> np.ndarray:
    """H×W×3 BGR uint8 -> H×W×3 CIE-Lab uint8 (cv2 8-bit packing: L*255/100,
    a/b + 128), D65 white point — preprocess_color_images.py's Lab leg."""
    rgb = img[..., 2::-1].astype(np.float64) / 255.0
    rgb = np.where(rgb > 0.04045, ((rgb + 0.055) / 1.055) ** 2.4, rgb / 12.92)
    m = np.array(
        [
            [0.412453, 0.357580, 0.180423],
            [0.212671, 0.715160, 0.072169],
            [0.019334, 0.119193, 0.950227],
        ]
    )
    xyz = rgb @ m.T
    xyz /= np.array([0.950456, 1.0, 1.088754])  # D65 normalization

    def f(t):
        return np.where(t > 0.008856, np.cbrt(t), 7.787 * t + 16.0 / 116.0)

    fx, fy, fz = f(xyz[..., 0]), f(xyz[..., 1]), f(xyz[..., 2])
    L = np.where(xyz[..., 1] > 0.008856, 116.0 * fy - 16.0, 903.3 * xyz[..., 1])
    a = 500.0 * (fx - fy) + 128.0
    b = 200.0 * (fy - fz) + 128.0
    return np.clip(
        np.stack([L * 255.0 / 100.0, a, b], axis=-1), 0, 255
    ).astype(np.uint8)


PURPLE_LOWER = (120, 20, 20)  # reference extract_from_reference.py:86-87
PURPLE_UPPER = (180, 255, 255)


def purple_ratio(img_bgr: np.ndarray) -> float:
    """Fraction of pixels inside the reference's purple HSV window
    (inRange([120,20,20],[180,255,255]) — extract_from_reference.py:85-90)."""
    hsv = bgr_to_hsv(img_bgr)
    lo = np.array(PURPLE_LOWER, dtype=np.uint8)
    hi = np.array(PURPLE_UPPER, dtype=np.uint8)
    mask = np.all((hsv >= lo) & (hsv <= hi), axis=-1)
    return float(mask.mean()) if mask.size else 0.0


def filter_purple_regions(
    img_bgr: np.ndarray,
    regions: list[tuple[int, int, int, int]],
    min_ratio: float = 0.3,
) -> list[tuple[int, int, int, int]]:
    """Keep regions whose crop is >= ``min_ratio`` purple (the reference's
    30% bubble acceptance, extract_from_reference.py:92)."""
    return [
        (x, y, w, h)
        for (x, y, w, h) in regions
        if purple_ratio(img_bgr[y : y + h, x : x + w]) > min_ratio
    ]


def region_circularity(binary_crop: np.ndarray) -> float:
    """4*pi*area / perimeter^2 over the crop's ink mask. Area = ink pixel
    count; perimeter = boundary pixel count (ink pixels with a background
    4-neighbour) — the discrete stand-in for cv2.arcLength on the contour
    (extract_from_reference.py:243). ~1.0 for a disc, →0 for line-like ink."""
    ink = binary_crop > 0
    area = int(ink.sum())
    if area == 0:
        return 0.0
    padded = np.pad(ink, 1)
    interior = (
        padded[:-2, 1:-1] & padded[2:, 1:-1] & padded[1:-1, :-2] & padded[1:-1, 2:]
    )
    perimeter = int((ink & ~interior).sum())
    if perimeter == 0:
        return 0.0
    return float(4.0 * np.pi * area / (perimeter**2))


def filter_circular_regions(
    binary: np.ndarray,
    regions: list[tuple[int, int, int, int]],
    min_circularity: float = 0.4,
    aspect: tuple[float, float] = (0.7, 1.3),
) -> list[tuple[int, int, int, int]]:
    """The reference's bubble-shape gate (extract_from_reference.py:253):
    keep regions that are round enough AND near-square."""
    out = []
    for (x, y, w, h) in regions:
        ar = w / h if h > 0 else 0.0
        if not (aspect[0] < ar < aspect[1]):
            continue
        if region_circularity(binary[y : y + h, x : x + w]) > min_circularity:
            out.append((x, y, w, h))
    return out


def merge_adjacent_regions(
    regions: list[tuple[int, int, int, int]], max_gap: int = 20
) -> list[tuple[int, int, int, int]]:
    """Merge horizontally-adjacent region pairs — the reference's improved
    segmentation pass (ocr_service_improved.py:221-254): two x-sorted boxes
    merge when the x-gap between them is < ``max_gap`` AND their y-ranges
    overlap (a glyph that binarized into two islands — broken stroke, noise
    cut). Pairwise with a skip-by-2, exactly as the reference iterates; the
    reference's 20 px default suits its image scale — the noisy pipeline
    passes a gap below the corpus' inter-character spacing."""
    out: list[tuple[int, int, int, int]] = []
    i = 0
    while i < len(regions):
        x1, y1, w1, h1 = regions[i]
        if i + 1 < len(regions):
            x2, y2, w2, h2 = regions[i + 1]
            x_distance = x2 - (x1 + w1)
            y_overlap = min(y1 + h1, y2 + h2) - max(y1, y2)
            if x_distance < max_gap and y_overlap > 0:
                nx, ny = min(x1, x2), min(y1, y2)
                out.append(
                    (
                        nx,
                        ny,
                        max(x1 + w1, x2 + w2) - nx,
                        max(y1 + h1, y2 + h2) - ny,
                    )
                )
                i += 2
                continue
        out.append((x1, y1, w1, h1))
        i += 1
    return out


def _label_runs(img: np.ndarray) -> tuple[list[tuple[int, int, int, int]], list[int]]:
    """Row-run connected-component pass: returns per-run (y, x0, x1, run_id)
    and a union-find parent array over runs (8-connectivity)."""
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    runs: list[tuple[int, int, int, int]] = []  # (y, x0, x1_excl, id)
    prev_row: list[tuple[int, int, int]] = []  # (x0, x1_excl, id)
    mask = img > 0
    for y in range(img.shape[0]):
        row = mask[y]
        if not row.any():
            prev_row = []
            continue
        d = np.diff(row.astype(np.int8))
        starts = np.flatnonzero(d == 1) + 1
        ends = np.flatnonzero(d == -1) + 1
        if row[0]:
            starts = np.concatenate(([0], starts))
        if row[-1]:
            ends = np.concatenate((ends, [row.size]))
        cur_row: list[tuple[int, int, int]] = []
        for s, e in zip(starts.tolist(), ends.tolist()):
            rid = len(parent)
            parent.append(rid)
            runs.append((y, s, e, rid))
            # 8-connectivity: a run touches a previous-row run when their
            # x-intervals, each widened by 1, intersect
            for ps, pe, pid in prev_row:
                if s < pe + 1 and ps < e + 1:
                    union(rid, pid)
            cur_row.append((s, e, rid))
        prev_row = cur_row
    # path-compress everything to roots
    roots = [0] * len(parent)
    for i in range(len(parent)):
        roots[i] = find(i)
    return runs, roots


def segment_regions_cc(
    img: np.ndarray,
    min_w: int = 10,
    min_h: int = 10,
    row_gap: int = 24,
) -> list[tuple[int, int, int, int]]:
    """Connected-component segmentation → [(x, y, w, h)] in reading order.

    The reference keeps a contour-based strategy next to the projection one
    (``ocr_service_backup.py`` / the cv2.findContours fallback in
    ``ocr_service.py``); a pure column projection provably cannot separate
    multi-row layouts (two stacked rows project onto the same columns).
    Two-pass run-based union-find labeling (8-connectivity), then reading
    order: rows are clustered by y-center gaps > ``row_gap`` (the reference's
    y-gap row split, ``extract_from_reference.py:108-132``, 50 px at its
    bubble scale) and regions sort (row, x).
    """
    if img.size == 0 or not (img > 0).any():
        return []
    runs, roots = _label_runs(img)
    boxes: dict[int, list[int]] = {}  # root -> [x0, y0, x1, y1] (incl-excl)
    for (y, s, e, rid) in runs:
        root = roots[rid]
        b = boxes.get(root)
        if b is None:
            boxes[root] = [s, y, e, y + 1]
        else:
            b[0] = min(b[0], s)
            b[1] = min(b[1], y)
            b[2] = max(b[2], e)
            b[3] = max(b[3], y + 1)
    regions = [
        (x0, y0, x1 - x0, y1 - y0)
        for x0, y0, x1, y1 in boxes.values()
        if (x1 - x0) > min_w and (y1 - y0) > min_h
    ]
    if not regions:
        return []
    # reading order: cluster y-centers into rows, then x within each row
    centers = sorted((y + h / 2.0, i) for i, (x, y, w, h) in enumerate(regions))
    row_of = [0] * len(regions)
    row = 0
    for k, (cy, i) in enumerate(centers):
        if k and cy - centers[k - 1][0] > row_gap:
            row += 1
        row_of[i] = row
    order = sorted(range(len(regions)), key=lambda i: (row_of[i], regions[i][0]))
    return [regions[i] for i in order]


# ---------------------------------------------------------------------------
# batched classification
# ---------------------------------------------------------------------------


def classify_batch(
    crops: list[np.ndarray],
) -> list[tuple[str | None, float, str]]:
    """Classify every crop in one shot: (latin | None, confidence, method).

    Cascade (structural mirror of ocr_service.py:118-147 with the hash path
    as the deterministic classifier, SURVEY.md §0 finding #1):
      1. ``exact_hash``  — crop aHash hits the prototype dict → confidence 1.0
      2. ``hamming``     — nearest prototype by Hamming distance, accepted
                           when d <= 10 (test_similarity_mapping.py:39-47,
                           first-minimum tie-break) → confidence 1 - d/64
      3. ``unknown``     — rejected; caller drops the char, mirroring the
                           reference appending only recognized characters
                           (ocr_service.py:149).
    """
    if not crops:
        return []
    state = alphabet.classifier_state()
    bits = np.empty((len(crops), 64), dtype=np.uint8)
    for i, c in enumerate(crops):
        bits[i] = ahash_bits(c)
    # one popcount matmul: Hamming(a,b) = |a| + |b| - 2 a·b over {0,1} vectors
    proto = state.crop_bits  # (26, 64)
    dists = (
        bits.sum(axis=1, keepdims=True)
        + proto.sum(axis=1)[None, :]
        - 2 * (bits.astype(np.int32) @ proto.T.astype(np.int32))
    )  # (B, 26)
    nearest = dists.argmin(axis=1)  # first minimum wins (np.argmin semantics)
    mindist = dists[np.arange(len(crops)), nearest]
    out: list[tuple[str | None, float, str]] = []
    lookup = state.crop_key_to_latin
    for i in range(len(crops)):
        exact = lookup.get(bits[i].tobytes())
        if exact is not None:
            out.append((exact, 1.0, "exact_hash"))
        elif mindist[i] <= alphabet.HAMMING_MAX_DISTANCE:
            out.append(
                (state.letters[nearest[i]], 1.0 - mindist[i] / 64.0, "hamming")
            )
        else:
            out.append((None, 0.0, "unknown"))
    return out


def vote_classify_crop(gray_crop: np.ndarray) -> tuple[str | None, float, str]:
    """Third cascade tier — multi-binarization vote over one rejected region
    (the reference's per-bubble OCR vote, extract_from_reference.py:352-356,
    lifted to char level). The polarity-inverted grayscale crop is
    re-binarized three ways (fixed-128, Otsu, adaptive), each variant is
    classified by the exact→hamming cascade, and the most common recognized
    letter wins (first occurrence breaks ties, as Counter.most_common does).
    Confidence = mean confidence of the winner's votes; method = 'vote'."""
    variants = [
        morph_close(threshold(gray_crop, 128), 2, 2),
        morph_close(otsu_threshold(gray_crop), 2, 2),
        morph_close(adaptive_threshold(gray_crop), 2, 2),
    ]
    results = [r for r in classify_batch(variants) if r[0] is not None]
    if not results:
        return (None, 0.0, "unknown")
    from collections import Counter

    winner = Counter(r[0] for r in results).most_common(1)[0][0]
    confs = [r[1] for r in results if r[0] == winner]
    return (winner, float(np.mean(confs)), "vote")


def classify_batch_cascade(
    crops: list[np.ndarray],
    gray_crops: list[np.ndarray] | None = None,
) -> list[tuple[str | None, float, str]]:
    """Full three-tier cascade: exact_hash → hamming → multi-binarization
    vote. The vote tier runs only for regions the first two tiers rejected,
    and only when the caller supplies the raw (polarity-inverted grayscale)
    crops — the clean hot path passes gray_crops=None and pays nothing."""
    results = classify_batch(crops)
    if gray_crops is None:
        return results
    return [
        vote_classify_crop(gray_crops[i]) if r[0] is None else r
        for i, r in enumerate(results)
    ]


def segment_image(
    img: np.ndarray, noisy: bool = False, segmenter: str = "projection"
) -> tuple[np.ndarray, np.ndarray | None, list[tuple[int, int, int, int]]]:
    """The recognition chain up to classification: ``(pre, gray,
    regions)``. Clean path: ``preprocess`` → segment, ``gray`` None.
    ``noisy``: ``preprocess_noisy_pair`` → segment → adjacent-region merge
    (a glyph split in two by a noise cut re-joins), and ``gray`` is the
    geometry-aligned smoothed plane the vote tier re-binarizes.
    ``segmenter`` 'cc' segments by connected components, otherwise by
    projection profile."""
    segment = segment_regions_cc if segmenter == "cc" else segment_regions
    if noisy:
        pre, gray = preprocess_noisy_pair(img)
        return pre, gray, merge_adjacent_regions(segment(pre), NOISY_MERGE_GAP)
    pre = preprocess(img)
    return pre, None, segment(pre)


def recognize_word_vote(img: np.ndarray) -> str:
    """Majority vote across three binarizations (fixed-128, Otsu, adaptive) —
    the reference's per-bubble OCR vote (extract_from_reference.py:352-356).
    Per character position, the most common recognized letter wins (first
    occurrence breaks ties, as Counter.most_common does)."""
    gray = polarity_invert(to_grayscale(img))
    variants = [
        morph_close(threshold(gray, 128), 2, 2),
        morph_close(otsu_threshold(gray), 2, 2),
        morph_close(adaptive_threshold(gray), 2, 2),
    ]
    words = []
    for pre in variants:
        regions = segment_regions(pre)
        crops = [pre[y : y + h, x : x + w] for (x, y, w, h) in regions]
        words.append(
            "".join(r[0] for r in classify_batch(crops) if r[0] is not None)
        )
    from collections import Counter

    return Counter(words).most_common(1)[0][0] if words else ""


def recognize_word(img: np.ndarray, noisy: bool = False) -> list[dict]:
    """Full single-image path: preprocess → segment → classify.

    Under ``noisy=True`` the chain grows two robustness stages the clean
    path never pays for: adjacent-region merge (a glyph split in two by a
    noise cut re-joins before classification) and the multi-binarization
    vote tier for regions the exact/hamming cascade rejects.

    Returns one dict per *recognized* character, left-to-right:
    ``{latin, confidence, method, x, y, w, h}``. Unrecognized regions are
    dropped (reference ocr_service.py:149-154 appends only on recognition).
    """
    pre, gray, regions = segment_image(img, noisy)
    gray_crops = (
        None
        if gray is None
        else [gray[y : y + h, x : x + w] for (x, y, w, h) in regions]
    )
    crops = [pre[y : y + h, x : x + w] for (x, y, w, h) in regions]
    results = classify_batch_cascade(crops, gray_crops)
    chars = []
    for (x, y, w, h), (latin, conf, method) in zip(regions, results):
        if latin is not None:
            chars.append(
                {
                    "latin": latin,
                    "confidence": conf,
                    "method": method,
                    "x": x,
                    "y": y,
                    "w": w,
                    "h": h,
                }
            )
    return chars
