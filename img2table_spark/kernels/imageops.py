"""NumPy equivalents of the OpenCV primitives used by the reference.

cv2 is unavailable here, so each routine replicates the exact OpenCV
semantics the reference relies on (rounding, borders, anchors):

  - rgb2gray: cv2.cvtColor RGB2GRAY fixed-point coefficients
  - sauvola_threshold: cv2.ximgproc.niBlackThreshold BINARIZATION_SAUVOLA
    (boxFilter mean/var, r=128) — reference tables/__init__.py:25-27
  - gaussian_blur: cv2.GaussianBlur sigma-from-ksize incl. the small fixed
    kernels for ksize ≤ 7, BORDER_REFLECT_101
  - in_range, convert_scale_abs
  - erode/dilate/morph open/close: rect kernels, cv2 anchor semantics for
    even sizes, van Herk O(n) sliding min/max
  - connected_components_with_stats: 8-connectivity run-based labeling
  - bilateral_filter3: cv2.bilateralFilter(d=3) — radius-1 disc (4-neigh),
    L1 color distance, reference lines.py:98
  - laplacian3: cv2.Laplacian ksize=3 ([[2,0,2],[0,-8,0],[2,0,2]])
  - find_external_bboxes: cv2.findContours RETR_EXTERNAL + boundingRect
    (components enclosed in holes excluded)
  - adaptive_threshold_gaussian_inv: cv2.adaptiveThreshold GAUSSIAN_C +
    THRESH_BINARY_INV — reference common.py:158
"""

from __future__ import annotations

import os

import numpy as np


# --------------------------------------------------------- intra-page bands
#
# The page-scale kernels below are elementwise / separable passes over a
# single image held by ONE Spark task, and a heavy-tailed payload corpus
# leaves the stage tail running a single such task while every other core
# idles (q14: the wall is one 8 s PDF page). Row/column banding with the
# halo already present in each kernel's padded input is BIT-EXACT — every
# output element is produced by the identical op sequence on the identical
# operands, only the outer iteration is split — so a small thread pool
# (NumPy releases the GIL on large ufunc loops) turns the tail task into a
# parallel one. Thread count derives from the task's cpu AFFINITY mask, so
# taskset-pinned scaling runs (2/8 cores) stay single-threaded and the
# measured scaling pair is unaffected; dense production corpora (millions
# of rows per partition, no idle tail) should set IMG2TABLE_KERNEL_THREADS=1.

_POOL = None


def _kernel_threads() -> int:
    try:
        return max(1, int(os.environ["IMG2TABLE_KERNEL_THREADS"]))
    except (KeyError, ValueError):  # unset or not a number: the affinity default
        pass
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        n = os.cpu_count() or 1
    return max(1, min(4, n // 8))


def _run_banded(n: int, fn, min_rows: int = 512) -> None:
    """Run ``fn(lo, hi)`` over [0, n) split into bands, threaded when the
    pool is enabled and the image is big enough to pay for dispatch."""
    nt = _kernel_threads()
    if nt <= 1 or n < min_rows * 2:
        fn(0, n)
        return
    global _POOL
    if _POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _POOL = ThreadPoolExecutor(max_workers=8)
    nb = min(nt, max(1, n // min_rows))
    bounds = [n * i // nb for i in range(nb + 1)]
    futs = [
        _POOL.submit(fn, bounds[i], bounds[i + 1]) for i in range(nb)
    ]
    for f in futs:
        f.result()


# ----------------------------------------------------------------- grayscale

def rgb2gray(img: np.ndarray) -> np.ndarray:
    """cv2 RGB2GRAY: fixed-point (R*4899 + G*9617 + B*1868 + 8192) >> 14.
    int32 suffices (max sum 255·16384 + 8192 < 2³¹) and halves memory traffic."""
    r = img[:, :, 0].astype(np.int32)
    g = img[:, :, 1].astype(np.int32)
    b = img[:, :, 2].astype(np.int32)
    return ((r * 4899 + g * 9617 + b * 1868 + (1 << 13)) >> 14).astype(np.uint8)


# -------------------------------------------------------------- box/gaussian

def _pad_replicate(a: np.ndarray, ry: int, rx: int) -> np.ndarray:
    return np.pad(a, ((ry, ry), (rx, rx)), mode="edge")


def _box_sum(a: np.ndarray, ky: int, kx: int) -> np.ndarray:
    """Sum over ky×kx windows centered (odd sizes), replicate border.

    Banded (see _run_banded): the axis-0 cumsum is per-column and the
    axis-1 cumsum per-row, so banding each pass along its independent axis
    reorders nothing — per-element f64 op sequences are identical to the
    single-thread chain."""
    ry, rx = ky // 2, kx // 2
    p = _pad_replicate(a, ry, rx).astype(np.float64)
    Hp, Wp = p.shape
    c = np.zeros((Hp + 1, Wp + 1), dtype=np.float64)

    def cum0(x0: int, x1: int) -> None:
        np.cumsum(p[:, x0:x1], axis=0, out=c[1:, 1 + x0 : 1 + x1])

    def cum1(y0: int, y1: int) -> None:
        np.cumsum(c[1 + y0 : 1 + y1, 1:], axis=1, out=c[1 + y0 : 1 + y1, 1:])

    _run_banded(Wp, cum0)
    _run_banded(Hp, cum1)
    H, W = a.shape
    out = np.empty((H, W), dtype=np.float64)

    def diff(y0: int, y1: int) -> None:
        # window rows [y, y+ky), cols [x, x+kx) in padded coords — contiguous
        # ranges, so plain slices (views) instead of fancy-index gathers
        np.subtract(
            c[ky + y0 : ky + y1, kx : kx + W], c[y0:y1, kx : kx + W],
            out=out[y0:y1],
        )
        out[y0:y1] -= c[ky + y0 : ky + y1, 0:W]
        out[y0:y1] += c[y0:y1, 0:W]

    _run_banded(H, diff)
    return out


def sauvola_threshold_mask(gray: np.ndarray, window: int, k: float = 0.2, r: float = 128.0) -> np.ndarray:
    """255 where gray <= Sauvola threshold T = m·(1 + k·(s/r − 1)).

    Matches cv2.ximgproc.niBlackThreshold(..., BINARIZATION_SAUVOLA) which
    uses boxFilter means with replicate border; computed in float32 like the
    OpenCV implementation.
    """
    g = gray.astype(np.float32)
    n = float(window * window)
    mean = (_box_sum(g, window, window) / n).astype(np.float32)
    sqmean = (_box_sum(g * g, window, window) / n).astype(np.float32)
    var = sqmean - mean * mean
    std = np.sqrt(np.maximum(var, 0), dtype=np.float32)
    thresh = mean * (1.0 + np.float32(k) * (std / np.float32(r) - 1.0))
    # cv2's niBlackThreshold ends with thresh.convertTo(src.depth()): the
    # float threshold is ROUNDED to uint8 (saturate_cast = half-to-even)
    # before the caller's `gray <= t` compare — boundary pixels where T
    # rounds up to the gray value flip ON only with this rounding
    t_u8 = np.clip(np.rint(thresh), 0, 255).astype(np.uint8)
    return (255 * (gray <= t_u8)).astype(np.uint8)


_SMALL_GAUSS = {
    1: np.array([1.0]),
    3: np.array([0.25, 0.5, 0.25]),
    5: np.array([0.0625, 0.25, 0.375, 0.25, 0.0625]),
    7: np.array([0.03125, 0.109375, 0.21875, 0.28125, 0.21875, 0.109375, 0.03125]),
}


def gaussian_kernel_1d(ksize: int, sigma: float = 0.0) -> np.ndarray:
    if sigma <= 0:
        if ksize in _SMALL_GAUSS:
            return _SMALL_GAUSS[ksize]
        sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    x = np.arange(ksize, dtype=np.float64) - (ksize - 1) * 0.5
    kern = np.exp(-(x * x) / (2 * sigma * sigma))
    return kern / kern.sum()


def _reflect101_idx(n: int, radius: int) -> np.ndarray:
    idx = np.arange(-radius, n + radius)
    idx = np.abs(idx)  # reflect at 0 without duplicating edge
    over = idx > n - 1
    idx[over] = 2 * (n - 1) - idx[over]
    return idx


def _sep_filter(a: np.ndarray, kernel: np.ndarray, axis: int) -> np.ndarray:
    r = len(kernel) // 2
    n = a.shape[axis]
    idx = _reflect101_idx(n, r)
    padded = np.take(a, idx, axis=axis)
    out = np.zeros_like(a, dtype=np.float64)
    # banded along the non-filter axis (rows/cols there are independent, so
    # per-element f64 tap order is unchanged); same float64 op order as the
    # naive chain, no per-tap temporary
    b_ax = (1 - axis) if a.ndim == 2 else None

    def band(lo: int, hi: int) -> None:
        bsl = [slice(None)] * a.ndim
        if b_ax is not None:
            bsl[b_ax] = slice(lo, hi)
        ob = out[tuple(bsl)]
        tmp = np.empty_like(ob)
        sl = list(bsl)
        for i, w in enumerate(kernel):
            sl[axis] = slice(i, i + n)
            np.multiply(padded[tuple(sl)], w, out=tmp)
            ob += tmp

    if b_ax is None:
        band(0, n)
    else:
        _run_banded(a.shape[b_ax], band)
    return out


def gaussian_blur_u8(gray: np.ndarray, ksize: int, sigma: float = 0.0) -> np.ndarray:
    """cv2.GaussianBlur on 8U, BORDER_REFLECT_101, rounded to nearest."""
    kern = gaussian_kernel_1d(ksize, sigma)
    f = _sep_filter(gray.astype(np.float64), kern, axis=1)
    f = _sep_filter(f, kern, axis=0)
    return np.clip(np.rint(f), 0, 255).astype(np.uint8)


def in_range_mask(gray: np.ndarray, lo: int, hi: int) -> np.ndarray:
    return (255 * ((gray >= lo) & (gray <= hi))).astype(np.uint8)


def convert_scale_abs(a: np.ndarray) -> np.ndarray:
    return np.clip(np.rint(np.abs(a)), 0, 255).astype(np.uint8)


# ------------------------------------------------------------- morphology

def _sliding_extreme_1d(a: np.ndarray, lo_off: int, hi_off: int, axis: int, maximum: bool, pad_val) -> np.ndarray:
    """min/max over window [i+lo_off, i+hi_off] along axis (constant pad).

    van Herk/Gil–Werman: O(n) independent of window size — the naive
    sliding-window reduce is O(n·k) and dominates profiles for the long
    line-detection kernels."""
    k = hi_off - lo_off + 1
    n = a.shape[axis]
    pad_before = max(0, -lo_off)
    pad_after = max(0, hi_off)
    pad_width = [(0, 0)] * a.ndim
    pad_width[axis] = (pad_before, pad_after)
    p = np.pad(a, pad_width, mode="constant", constant_values=pad_val)
    start = lo_off + pad_before  # result[i] = extreme over p[i+start : i+start+k]

    m = np.moveaxis(p, axis, -1)
    length = m.shape[-1]
    ufunc = np.maximum if maximum else np.minimum
    nblocks = -(-length // k)
    padded_len = nblocks * k
    if padded_len != length:
        extra = np.full(m.shape[:-1] + (padded_len - length,), pad_val, dtype=m.dtype)
        m = np.concatenate([m, extra], axis=-1)
    blocks = m.reshape(m.shape[:-1] + (nblocks, k))
    fwd = ufunc.accumulate(blocks, axis=-1).reshape(m.shape[:-1] + (padded_len,))
    bwd = ufunc.accumulate(blocks[..., ::-1], axis=-1)[..., ::-1].reshape(
        m.shape[:-1] + (padded_len,)
    )
    # window [j, j+k-1] = extreme(bwd[j], fwd[j+k-1])
    idx = np.arange(start, start + n)
    out = ufunc(bwd[..., idx], fwd[..., idx + k - 1])
    return np.moveaxis(out, -1, axis)


def _binary_window_1d(a: np.ndarray, lo: int, hi: int, axis: int, dilate: bool) -> np.ndarray:
    """Binary-mask morphology via windowed counts (cumsum; O(n), SIMD-fast):
    dilate ⇔ any set pixel in window, erode ⇔ all set. Exact for the 0/255
    masks this engine uses everywhere."""
    k = hi - lo + 1
    pad_before = max(0, -lo)
    pad_after = max(0, hi)
    # contiguous last axis: cumsum over a strided view (axis=0 callers) is
    # several times slower than the copy it avoids
    m = np.ascontiguousarray(np.moveaxis(a, axis, -1))
    n = m.shape[-1]
    # counts are bounded by the padded axis length, so int16 is exact for
    # any axis < 32k pixels (every page this engine renders); the narrower
    # accumulator halves the memory traffic of the cumsum + diff below.
    total = n + pad_before + pad_after
    dt = np.int16 if total < 32767 else np.int32
    on = np.empty(m.shape[:-1] + (total + 1,), dtype=dt)
    on[..., 0] = 0
    fill = 0 if dilate else 1  # erode pads 'set' so borders don't erode
    on[..., 1 : 1 + pad_before] = fill
    on[..., 1 + pad_before : 1 + pad_before + n] = m != 0
    on[..., 1 + pad_before + n :] = fill
    # dtype= matters: without it numpy widens integer cumsums to int64
    cs = np.cumsum(on, axis=-1, dtype=dt)
    start = lo + pad_before  # window for i: [i+start, i+start+k-1]
    wsum = cs[..., start + k : start + k + n] - cs[..., start : start + n]
    out = (255 * ((wsum > 0) if dilate else (wsum == k))).astype(np.uint8)
    return np.moveaxis(out, -1, axis)


def _morph_1d(a: np.ndarray, k: int, axis: int, dilate: bool) -> np.ndarray:
    if k <= 1:
        return a
    anchor = k // 2
    # cv2 anchor semantics (validated against the RLSA text-mask BMP golden):
    # both ops use windows [i-anchor, i+k-1-anchor] — for even k, erode kills
    # the run START and dilate extends the run END.
    lo, hi = -anchor, k - 1 - anchor
    return _binary_window_1d(a, lo, hi, axis, dilate)


def dilate_rect(a: np.ndarray, kx: int, ky: int, iterations: int = 1) -> np.ndarray:
    """cv2.dilate with MORPH_RECT (kx width, ky height)."""
    out = a
    for _ in range(iterations):
        out = _morph_1d(_morph_1d(out, kx, 1, True), ky, 0, True)
    return out


def erode_rect(a: np.ndarray, kx: int, ky: int, iterations: int = 1) -> np.ndarray:
    out = a
    for _ in range(iterations):
        out = _morph_1d(_morph_1d(out, kx, 1, False), ky, 0, False)
    return out


def morph_open(a: np.ndarray, kx: int, ky: int, iterations: int = 1) -> np.ndarray:
    out = a
    for _ in range(iterations):
        out = dilate_rect(erode_rect(out, kx, ky), kx, ky)
    return out


def morph_close(a: np.ndarray, kx: int, ky: int, iterations: int = 1) -> np.ndarray:
    out = a
    for _ in range(iterations):
        out = erode_rect(dilate_rect(out, kx, ky), kx, ky)
    return out


# -------------------------------------------------- connected components

def connected_components_with_stats(binary: np.ndarray) -> tuple[int, np.ndarray, np.ndarray]:
    """8-connectivity labeling of non-zero pixels.

    Returns (n_labels, labels int32, stats int32 (n,5) [x, y, w, h, area]);
    label 0 is background. Run-based two-pass with union-find; label ids are
    re-numbered in raster order of first appearance.
    """
    H, W = binary.shape
    fg = binary != 0
    labels = np.zeros((H, W), dtype=np.int32)
    if not fg.any():
        stats = np.array([[0, 0, W, H, H * W]], dtype=np.int32)
        return 1, labels, stats

    # find runs per row
    padded = np.zeros((H, W + 2), dtype=bool)
    padded[:, 1:-1] = fg
    diff = np.diff(padded.astype(np.int8), axis=1)
    starts_r, starts_c = np.nonzero(diff == 1)
    ends_r, ends_c = np.nonzero(diff == -1)
    # runs: row, col_start, col_end(exclusive) — aligned since per row runs alternate
    n_runs = len(starts_r)
    run_row = starts_r
    run_s = starts_c
    run_e = ends_c

    # plain python lists in the union-find loops: numpy scalar indexing is
    # several times slower than list indexing at this call density
    parent = list(range(n_runs))
    rs_l = run_s.tolist()
    re_l = run_e.tolist()

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    # row boundaries in the run arrays
    row_first = np.searchsorted(run_row, np.arange(H), side="left").tolist()
    row_last = np.searchsorted(run_row, np.arange(H), side="right").tolist()

    for r in range(1, H):
        i0, i1 = row_first[r], row_last[r]
        j0, j1 = row_first[r - 1], row_last[r - 1]
        if i0 == i1 or j0 == j1:
            continue
        j = j0
        for i in range(i0, i1):
            s, e = rs_l[i] - 1, re_l[i] + 1  # 8-connectivity widening
            while j < j1 and re_l[j] <= s:
                j += 1
            jj = j
            while jj < j1 and rs_l[jj] < e:
                ra, rb = find(i), find(jj)
                if ra != rb:
                    parent[rb] = ra
                jj += 1
            if j > j0:
                j -= 1  # step back: next run may overlap same upper run

    # root per run → component ids in raster order of first run
    comp_ids = {}
    run_comp = np.zeros(n_runs, dtype=np.int32)
    rc_l = run_comp.tolist()
    for i in range(n_runs):
        rt = find(i)
        c = comp_ids.get(rt)
        if c is None:
            c = len(comp_ids) + 1
            comp_ids[rt] = c
        rc_l[i] = c
    run_comp = np.asarray(rc_l, dtype=np.int32)

    n_comp = len(comp_ids)
    stats = np.zeros((n_comp + 1, 5), dtype=np.int64)
    # per-run label paint needs the slice loop; per-component extremes fold
    # vectorized (same min/max/area values as the old per-run updates)
    rr_l = run_row.tolist()
    for i in range(n_runs):
        labels[rr_l[i], rs_l[i] : re_l[i]] = rc_l[i]
    xmin = np.full(n_comp + 1, W + 1, dtype=np.int64)
    ymin = np.full(n_comp + 1, H + 1, dtype=np.int64)
    x2 = np.zeros(n_comp + 1, dtype=np.int64)
    y2 = np.zeros(n_comp + 1, dtype=np.int64)
    np.minimum.at(xmin, run_comp, run_s)
    np.minimum.at(ymin, run_comp, run_row)
    np.maximum.at(x2, run_comp, run_e)
    np.maximum.at(y2, run_comp, run_row + 1)
    areas = np.bincount(run_comp, weights=(run_e - run_s), minlength=n_comp + 1)
    stats[:, 0] = xmin
    stats[:, 1] = ymin
    stats[:, 4] = areas.astype(np.int64)
    stats[1:, 2] = x2[1:] - stats[1:, 0]
    stats[1:, 3] = y2[1:] - stats[1:, 1]
    # background stats (cv2 convention: bbox = full image, area = bg pixels)
    stats[0] = [0, 0, W, H, H * W - stats[1:, 4].sum()]
    return n_comp + 1, labels, stats.astype(np.int32)


# ------------------------------------------------------------- bilateral

def bilateral_filter3(img: np.ndarray, sigma_color: float = 40.0, sigma_space: float = 80.0) -> np.ndarray:
    """cv2.bilateralFilter(src, d=3, sigmaColor, sigmaSpace) on RGB uint8.

    d=3 → radius 1; OpenCV's disc test keeps only the 4-neighbors + center.
    Color distance is the L1 norm over channels; border reflect101.
    """
    gc = -0.5 / (sigma_color * sigma_color)
    gs = -0.5 / (sigma_space * sigma_space)
    sw_side = float(np.exp(gs * 1.0))

    H, W, _ = img.shape
    iy = _reflect101_idx(H, 1)
    ix = _reflect101_idx(W, 1)
    p8 = img[iy][:, ix]  # (H+2, W+2, 3)
    p16 = p8.astype(np.int16)

    # L1 color distances are integers in [0, 765], so the per-pixel
    # float32 exp chain collapses to a 766-entry lookup (~5× faster,
    # bit-exact: same f32 ops as `sw * np.exp(gc * d * d)` on f32 d)
    dr = np.arange(766, dtype=np.float32)
    lut_side = (sw_side * np.exp(gc * dr * dr)).astype(np.float32)

    out8 = np.empty((H, W, 3), dtype=np.uint8)

    def band(y0: int, y1: int) -> None:
        h = y1 - y0
        c16 = p16[1 + y0 : 1 + y1, 1 : W + 1]
        # center offset: d=0 → weight exactly 1 (uint8 → f32 is exact)
        num = p8[1 + y0 : 1 + y1, 1 : W + 1].astype(np.float32)
        den = np.ones((h, W), dtype=np.float32)
        # scratch buffers: the same f32/int ops as the naive chain, but per
        # channel with explicit out= targets and the uint8 page as the
        # multiply operand — no (H+2, W+2, 3) float copy and no (H, W, 3)
        # temporaries. Band rows read only their own halo rows of the
        # shared padded page, so every output pixel sees the identical op
        # sequence regardless of the band split.
        t16 = np.empty((h, W), dtype=np.int16)
        d = np.empty((h, W), dtype=np.int32)
        t32 = np.empty((h, W), dtype=np.float32)
        for dy, dx in ((-1, 0), (1, 0), (0, -1), (0, 1)):
            nb8 = p8[1 + dy + y0 : 1 + dy + y1, 1 + dx : 1 + dx + W]
            nb16 = p16[1 + dy + y0 : 1 + dy + y1, 1 + dx : 1 + dx + W]
            d[:] = 0
            for ch in range(3):
                np.subtract(nb16[:, :, ch], c16[:, :, ch], out=t16)
                np.abs(t16, out=t16)
                d += t16
            w = lut_side[d]
            for ch in range(3):
                np.multiply(w, nb8[:, :, ch], out=t32)
                num[:, :, ch] += t32
            den += w
        out = num / den[:, :, None]
        np.clip(np.rint(out, out=out), 0, 255, out=out)
        out8[y0:y1] = out

    _run_banded(H, band)
    return out8


# -------------------------------------------------------------- laplacian

def laplacian3_f64(gray: np.ndarray) -> np.ndarray:
    """cv2.Laplacian(src, CV_64F, ksize=3): kernel [[2,0,2],[0,-8,0],[2,0,2]],
    border reflect101."""
    g = gray.astype(np.float64)
    iy = _reflect101_idx(g.shape[0], 1)
    ix = _reflect101_idx(g.shape[1], 1)
    p = g[iy][:, ix]
    H, W = g.shape
    c = lambda dy, dx: p[1 + dy : 1 + dy + H, 1 + dx : 1 + dx + W]  # noqa: E731
    return 2 * (c(-1, -1) + c(-1, 1) + c(1, -1) + c(1, 1)) - 8 * c(0, 0)


# ------------------------------------------------------------ contours

def find_external_bboxes(binary: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Bounding boxes of RETR_EXTERNAL contours: 8-connected components not
    enclosed inside a hole of another component. Returned in cv2 order
    (bottom-up raster of first appearance reversed is NOT guaranteed —
    callers in the reference never rely on order beyond later sorts)."""
    n, labels, stats = connected_components_with_stats(binary)
    if n <= 1:
        return []
    # background components (4-connectivity on the complement)
    bg = (binary == 0).astype(np.uint8)
    nb, bg_labels, _ = _connected_components_4(bg)
    # outer background labels: any bg component touching the border
    border_bg = set(np.unique(np.concatenate([
        bg_labels[0], bg_labels[-1], bg_labels[:, 0], bg_labels[:, -1]
    ])))
    border_bg.discard(0)
    H, W = binary.shape
    outer = np.isin(bg_labels, list(border_bg)) if border_bg else np.zeros_like(bg, dtype=bool)
    # a component is external iff adjacent (8-neigh) to outer background or
    # touching the image border
    ext = set()
    pad_outer = np.zeros((H + 2, W + 2), dtype=bool)
    pad_outer[1:-1, 1:-1] = outer
    pad_outer[0] = pad_outer[-1] = True
    pad_outer[:, 0] = pad_outer[:, -1] = True
    near_outer = np.zeros((H, W), dtype=bool)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            near_outer |= pad_outer[1 + dy : 1 + dy + H, 1 + dx : 1 + dx + W]
    ext_labels = np.unique(labels[(labels > 0) & near_outer])
    ext = set(ext_labels.tolist())
    # cv2.findContours returns external contours bottom-up: reverse the
    # raster order (validated against the reference's elements.json golden)
    return [
        (int(stats[i, 0]), int(stats[i, 1]), int(stats[i, 2]), int(stats[i, 3]))
        for i in range(n - 1, 0, -1)
        if i in ext
    ]


def _connected_components_4(binary: np.ndarray) -> tuple[int, np.ndarray, np.ndarray]:
    """4-connectivity variant (for background labeling)."""
    H, W = binary.shape
    fg = binary != 0
    labels = np.zeros((H, W), dtype=np.int32)
    if not fg.any():
        return 1, labels, np.zeros((1, 5), dtype=np.int32)
    padded = np.zeros((H, W + 2), dtype=bool)
    padded[:, 1:-1] = fg
    diff = np.diff(padded.astype(np.int8), axis=1)
    starts_r, starts_c = np.nonzero(diff == 1)
    ends_r, ends_c = np.nonzero(diff == -1)
    n_runs = len(starts_r)
    run_row, run_s, run_e = starts_r, starts_c, ends_c
    parent = np.arange(n_runs, dtype=np.int64)

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    row_first = np.searchsorted(run_row, np.arange(H), side="left")
    row_last = np.searchsorted(run_row, np.arange(H), side="right")
    for r in range(1, H):
        i0, i1 = row_first[r], row_last[r]
        j0, j1 = row_first[r - 1], row_last[r - 1]
        if i0 == i1 or j0 == j1:
            continue
        j = j0
        for i in range(i0, i1):
            s, e = run_s[i], run_e[i]  # 4-connectivity: strict overlap
            while j < j1 and run_e[j] <= s:
                j += 1
            jj = j
            while jj < j1 and run_s[jj] < e:
                ra, rb = find(i), find(jj)
                if ra != rb:
                    parent[rb] = ra
                jj += 1
            if j > j0:
                j -= 1
    roots = [find(i) for i in range(n_runs)]
    comp_ids: dict[int, int] = {}
    for i in range(n_runs):
        rt = roots[i]
        if rt not in comp_ids:
            comp_ids[rt] = len(comp_ids) + 1
        labels[run_row[i], run_s[i] : run_e[i]] = comp_ids[rt]
    return len(comp_ids) + 1, labels, np.zeros((len(comp_ids) + 1, 5), dtype=np.int32)


# ---------------------------------------------------------- adaptive thresh

def adaptive_threshold_gaussian_inv(gray: np.ndarray, block_size: int, c: int) -> np.ndarray:
    """cv2.adaptiveThreshold(..., ADAPTIVE_THRESH_GAUSSIAN_C,
    THRESH_BINARY_INV, block_size, C): 255 where src <= mean - C.
    The gaussian mean is computed like cv2 (replicate border, rounded u8)."""
    kern = gaussian_kernel_1d(block_size, 0.0)
    # cv2 adaptiveThreshold uses BORDER_REPLICATE|BORDER_ISOLATED
    r = block_size // 2
    g = gray.astype(np.float64)
    gp = np.pad(g, ((r, r), (r, r)), mode="edge")
    f = _sep_filter_valid(gp, kern, axis=1)
    f = _sep_filter_valid(f, kern, axis=0)
    mean = np.clip(np.rint(f), 0, 255).astype(np.int32)
    return (255 * (gray.astype(np.int32) <= mean - c)).astype(np.uint8)


def _sep_filter_valid(a: np.ndarray, kernel: np.ndarray, axis: int) -> np.ndarray:
    """'valid' correlation along axis (input pre-padded)."""
    k = len(kernel)
    n = a.shape[axis] - k + 1
    out = None
    for i, w in enumerate(kernel):
        sl = [slice(None)] * a.ndim
        sl[axis] = slice(i, i + n)
        piece = w * a[tuple(sl)]
        out = piece if out is None else out + piece
    return out
