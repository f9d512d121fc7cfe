"""Pure-NumPy image kernels (no cv2/PIL — the sandbox has neither, and the
north star mandates batched NumPy tensor work anyway).

Each kernel reimplements, from its published behavior, one stage of the
reference pipeline (citations are reference file:line; see SURVEY.md §2.8):

  to_grayscale          ocr_service.py:176-179   (P1)
  polarity_invert       ocr_service.py:181-185   (P2)
  threshold             ocr_service.py:195       (F4, fixed 128)
  otsu_threshold        optimize_preprocessing.py:81 (F5)
  adaptive_threshold    preprocess_color_images.py:133-136 (F6)
  morph_close (2×2)     ocr_service.py:198-199,346-347 (F7)
  gaussian_blur3        ocr_service.py:370       (F10)
  ahash_bits            granulate_alphabet_generated.py:66-77 (F11)
  deskew_angle          optimize_preprocessing.py:102-128 (F20)
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


def _dilate2(img: np.ndarray) -> np.ndarray:
    """2×2 dilate, separable in-place: max over the window {0,+1}² (cv2's
    anchor for an even kernel) with zero padding at the right/bottom edge."""
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


def morph_close(img: np.ndarray) -> np.ndarray:
    """2×2 closing (dilate then erode), the size every recognition chain
    uses."""
    return _erode2(_dilate2(img))


# ---------------------------------------------------------------------------
# blur / deskew
# ---------------------------------------------------------------------------


def gaussian_blur3(img: np.ndarray) -> np.ndarray:
    """Separable 3×3 [1,2,1]/4 Gaussian (edge-replicate)."""
    a = img.astype(np.float64)
    p = np.pad(a, 1, mode="edge")
    horiz = (p[1:-1, :-2] + 2 * p[1:-1, 1:-1] + p[1:-1, 2:]) / 4.0
    p2 = np.pad(horiz, ((1, 1), (0, 0)), mode="edge")
    out = (p2[:-2] + 2 * p2[1:-1] + p2[2:]) / 4.0
    return np.clip(out, 0, 255).astype(np.uint8)


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
    """Projection-profile deskew angle (0.0 = keep as-is): among candidate
    rotations, the one maximizing row-sum variance (the classic text-line
    criterion; the reference's minAreaRect+warpAffine at
    optimize_preprocessing.py:102-128 serves the same role). Callers rotate
    with ``_rotate_nn``, and can rotate COMPANION planes (e.g. the grayscale
    the vote tier re-binarizes) by the identical transform to keep bboxes
    aligned.

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


# ---------------------------------------------------------------------------
# hash
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


def ahash_bits_batch(stack: np.ndarray) -> np.ndarray:
    """(B, H, W) uint8 -> (B, 64) {0,1} 8×8 mean-threshold aHash bits
    (strict >, as the reference's ``'1' if pixel > avg else '0'``). The
    downsample is a pixel-aligned block-mean, reduceat over axes 1/2 of the
    whole stack — one pair of NumPy calls for B images. The reference minted
    its table from 64×64 crops, where block-mean is exact; for general crops
    our prototypes are built with the identical kernel, so the choice is
    self-consistent."""
    b, h, w = stack.shape
    ys, xs, counts = _bm_geometry(h, w, alphabet.HASH_SIDE, alphabet.HASH_SIDE)
    colsum = np.add.reduceat(stack.astype(np.int32), ys, axis=1)
    block = np.add.reduceat(colsum, xs, axis=2) / counts[None, :, :]
    flat = block.reshape(b, -1)
    return (flat > flat.mean(axis=1, keepdims=True)).astype(np.uint8)


def ahash_bits_many(imgs: list[np.ndarray]) -> np.ndarray:
    """aHash bits of N images of any shapes -> (N, 64) uint8: images of one
    shape are stacked and hashed by one ``ahash_bits_batch`` call (crop and
    thumbnail shapes repeat heavily within a batch)."""
    out = np.empty((len(imgs), 64), dtype=np.uint8)
    by_shape: dict[tuple[int, ...], list[int]] = {}
    for i, img in enumerate(imgs):
        by_shape.setdefault(img.shape, []).append(i)
    for idxs in by_shape.values():
        out[idxs] = ahash_bits_batch(np.stack([imgs[i] for i in idxs]))
    return out


def ahash_bits(img: np.ndarray) -> np.ndarray:
    """aHash of one H×W image -> uint8[64] of {0,1}."""
    return ahash_bits_batch(img[None])[0]


# ---------------------------------------------------------------------------
# preprocess + segmentation (the [P] production path)
# ---------------------------------------------------------------------------


def preprocess(img: np.ndarray) -> np.ndarray:
    """grayscale → polarity invert → threshold(128) → close(2×2).

    The reference additionally applies a bilateral filter and CLAHE
    (ocr_service.py:188-192); on binarized-at-128 output both are
    identity-after-threshold for clean synthetic glyphs and are
    unreproducible bit-exactly without cv2 (SURVEY.md §7 R2), so the
    deterministic contract excludes them. Noisy inputs take
    ``preprocess_noisy_pair`` instead.
    """
    gray = to_grayscale(img)
    gray = polarity_invert(gray)
    binary = threshold(gray, 128)
    return morph_close(binary)


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
    return morph_close(binary), smooth


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
# region merge + connected-component segmentation (the robust paths)
# ---------------------------------------------------------------------------


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
    bits = ahash_bits_many(crops)
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
        morph_close(threshold(gray_crop, 128)),
        morph_close(otsu_threshold(gray_crop)),
        morph_close(adaptive_threshold(gray_crop)),
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
