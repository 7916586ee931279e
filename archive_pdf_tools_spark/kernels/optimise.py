"""MRC foreground/background "optimisation" (mask-guided pixel radiation).

Re-derives the semantics of the reference's fast incremental FIR+IIR box
filters ``optimise_gray2`` / ``optimise_rgb2`` (``cython/optimiser.pyx:
153-273, 280-429``) and of ``fast_mask_denoise`` (``optimiser.pyx:436-472``)
as row-vectorized NumPy.  The reference's own slow versions
(``optimiser.pyx:22-76, 83-146``) are the precedent for slow-oracle testing;
ours are in this module too (``*_slow``).

Semantics (gray; rgb is per-channel identical):

For every pixel (y, x) with ``mask[y, x] == 0`` the new value is::

    FIR  = sum of img over mask pixels in rows [ys, ye) x cols [xs, xe)
    IIR  = sum of *new_img* over ALL pixels in rows [ys, y) x cols [xs, x)
    val_count = (#mask pixels in FIR window) + (y-ys)*(x-xs)
    new = (FIR + IIR) / val_count   # C-truncated integer division
                                    # (cdivision(True), optimiser.pyx:267)
    new = 0 when val_count == 0

with ``ys = max(0, y-n), ye = min(h, y+n), xs = max(0, x-n), xe = min(w,
x+n)`` — note the *half-open* upper bounds: the window is asymmetric,
covering n rows/cols above/left but n-1 below/right (``optimiser.pyx:
198-199, 238-239``).  Mask pixels keep their original value.

The IIR term reads already-written output rows, which makes the recursion
row-sequential; but within a row it only references rows strictly above
(cols ``[xs, x)`` of *previous* rows — ``optimiser.pyx:213-219, 250-255``),
so each row is computable as one vectorized step from the rows above.
Pages are independent => Spark parallelism is across pages, full vector
math within.

``fast_mask_denoise`` (``optimiser.pyx:436-472``): in-place raster-order
neighbour count on the *live* mask — a pixel stays set iff the symmetric
(2n+1)^2 window (minus itself) holds >= mincnt set pixels, where pixels
above/left have already been denoised.  Border rows/cols (within n of the
edge) are never touched.  Vectorized per row with a sparse sequential
fix-up only for pixels whose decision could flip due to same-row clears.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "optimise_gray2", "optimise_rgb2", "optimise_gray2_batch",
    "optimise_rgb2_batch", "optimise_gray_slow", "optimise_rgb_slow",
    "fast_mask_denoise", "fast_mask_denoise_slow",
]


def _windowed_sum_2d(arr: np.ndarray, r0, r1, c0, c1,
                     dtype=np.int64) -> np.ndarray:
    """Clamped-window sums for every pixel via a padded 2-D integral image.
    ``arr`` is (h, w) or (h, w, ch) of any unsigned/int dtype; the integral
    accumulates in ``dtype`` (callers pick the narrowest exact type —
    integer sums are value-identical in any non-overflowing dtype, and the
    kernels are memory-bandwidth-bound, so traffic is the cost driver).
    r0/r1 (inclusive) index rows per output row, c0/c1 per output col."""
    h, w = arr.shape[:2]
    S = np.zeros((h + 1, w + 1) + arr.shape[2:], dtype=dtype)
    inner = S[1:, 1:]
    np.cumsum(arr, axis=0, dtype=dtype, out=inner)
    np.cumsum(inner, axis=1, out=inner)
    St = S[r1 + 1]                         # fancy gather -> fresh array
    St -= S[r0]                            # (h, w+1[, ch])
    out = St[:, c1 + 1]
    out -= St[:, c0]                       # (h, w[, ch]); gather then in-place
    return out


def _integral_dtype(h: int, w: int, max_val: int):
    """Narrowest exact dtype for a 2-D integral image of values <= max_val."""
    return np.int32 if h * w * max_val < 2**31 else np.int64


from functools import lru_cache  # noqa: E402


@lru_cache(maxsize=64)
def _optimise_geometry(h: int, w: int, n_size: int):
    """Memoized clamped FIR window indices + IIR x-counts (page shapes
    repeat heavily across a corpus)."""
    xs_arr = np.maximum(np.arange(w) - n_size, 0)
    iir_xcount = (np.arange(w) - xs_arr).astype(np.int32)
    ys_idx = np.arange(h)
    r0 = np.maximum(ys_idx - n_size, 0)
    r1 = np.minimum(ys_idx + n_size, h) - 1
    xs_i = np.arange(w)
    c0 = xs_arr
    c1 = np.minimum(xs_i + n_size, w) - 1
    for a in (xs_arr, iir_xcount, r0, r1, c1):
        a.setflags(write=False)
    return xs_arr, iir_xcount, r0, r1, c0, c1


def _optimise2(mask: np.ndarray, img: np.ndarray, n_size: int) -> np.ndarray:
    """Shared fast path; img is (h, w) or (h, w, ch) uint8.

    The FIR term has no feedback, so it is computed for the whole page in
    one integral-image pass; only the IIR quadrant (which reads already-
    written output rows) iterates per row, fully vectorized along x."""
    from . import native as _ckern

    res = _ckern.optimise2_native(np.asarray(mask) != 0, img, n_size)
    if res is not None:                      # bit-identical C kernel
        return res

    mask_b = mask.astype(bool)
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = mask_b.shape
    chans = 1 if img.ndim == 2 else img.shape[2]
    img3 = img.reshape(h, w, chans)
    new = img3.copy()  # uint8; mask pixels keep original values
    if h == 0 or w == 0:
        return new.reshape(img.shape)

    # Everything integer below is exact in int32 for any page the FIR
    # integral fits (value bounds: FIR window sums <= 255*(2n)^2, IIR
    # column prefix sums <= 255*n*w); pick int64 only for huge pages.
    idt = _integral_dtype(h, w, 255)

    # FIR windows are half-open [y-n, y+n) x [x-n, x+n) clamped
    # (optimiser.pyx:198-199, 238-239) -> inclusive bounds for the
    # integral-image gather.
    xs_arr, iir_xcount, r0, r1, c0, c1 = _optimise_geometry(h, w, n_size)
    xs_i = np.arange(w)

    masked_vals = np.where(mask_b[:, :, None], img3, np.uint8(0))
    fir_val_full = _windowed_sum_2d(masked_vals, r0, r1, c0, c1, idt)
    fir_cnt_full = _windowed_sum_2d(mask_b.view(np.uint8), r0, r1, c0, c1, idt)

    # The IIR pixel count (y - ys)*(x - xs) is data-independent: fold the
    # whole count/zero/divisor matrices once, outside the row loop.
    iir_ycount = np.minimum(np.arange(h), n_size).astype(np.int32)
    cnt_full = fir_cnt_full + iir_ycount[:, None] * iir_xcount[None, :]
    zero_full = cnt_full == 0
    any_zero_row = zero_full.any(axis=1)
    np.maximum(cnt_full, 1, out=cnt_full)           # safe divisors in place

    # Running vertical IIR window [ys, y) column sums over `new`.
    cdt = np.int32 if 255 * (2 * n_size) * w < 2**31 else np.int64
    iir_val_cols = np.zeros((w, chans), dtype=cdt)
    iys_prev, iye_prev = 0, 0
    P = np.empty((w, chans), dtype=cdt)
    iir_v = np.zeros((w, chans), dtype=cdt)
    todo_rows = ~mask_b
    any_todo = todo_rows.any(axis=1)

    for y in range(h):
        ys = max(0, y - n_size)
        while iys_prev < ys:
            iir_val_cols -= new[iys_prev]
            iys_prev += 1
        while iye_prev < y:
            iir_val_cols += new[iye_prev]
            iye_prev += 1

        if not any_todo[y]:
            continue

        # IIR horizontal window sum over cols [max(0, x-n), x): expressed
        # as shifted slices of the prefix sum (no fancy gathers).
        np.cumsum(iir_val_cols, axis=0, out=P)
        iir_v[0] = 0
        if n_size < w:
            iir_v[1:n_size + 1] = P[0:n_size]
            np.subtract(P[n_size:w - 1], P[0:w - 1 - n_size],
                        out=iir_v[n_size + 1:])
        else:
            iir_v[1:] = P[0:w - 1]

        vals = fir_val_full[y] + iir_v
        res = vals // cnt_full[y][:, None]   # floor == C trunc (non-negative)
        if any_zero_row[y]:
            res[zero_full[y]] = 0
        np.copyto(new[y], res.astype(np.uint8),
                  where=todo_rows[y][:, None])

    return new.reshape(img.shape)


def _optimise2_batch(masks: np.ndarray, imgs: np.ndarray,
                     n_size: int) -> np.ndarray:
    """``_optimise2`` page by page over a leading batch axis: masks
    (B,h,w) bool-ish, imgs (B,h,w[,ch]) uint8."""
    out = np.empty(np.shape(imgs), np.uint8)
    for i, (mask, img) in enumerate(zip(masks, imgs)):
        out[i] = _optimise2(mask, img, n_size)
    return out


def optimise_gray2_batch(masks, imgs, n_size):
    assert imgs.ndim == 3
    return _optimise2_batch(masks, imgs, n_size)


def optimise_rgb2_batch(masks, imgs, n_size):
    assert imgs.ndim == 4
    return _optimise2_batch(masks, imgs, n_size)


def optimise_gray2(mask: np.ndarray, img: np.ndarray, n_size: int) -> np.ndarray:
    """Fast grayscale optimise; semantics of ``optimiser.pyx:153-273``."""
    assert img.ndim == 2
    return _optimise2(mask, img, n_size)


def optimise_rgb2(mask: np.ndarray, img: np.ndarray, n_size: int) -> np.ndarray:
    """Fast RGB optimise; semantics of ``optimiser.pyx:280-429``."""
    assert img.ndim == 3
    return _optimise2(mask, img, n_size)


def _optimise_slow(mask: np.ndarray, img: np.ndarray, n_size: int) -> np.ndarray:
    """Direct port of the reference's slow spec (``optimiser.pyx:22-146``).
    Test oracle only."""
    mask_b = mask.astype(bool)
    h, w = mask_b.shape
    chans = 1 if img.ndim == 2 else img.shape[2]
    img3 = np.asarray(img, dtype=np.int64).reshape(h, w, chans)
    new = img3.copy()
    for y in range(h):
        ys, ye = max(0, y - n_size), min(h, y + n_size)
        for x in range(w):
            if mask_b[y, x]:
                continue
            xs, xe = max(0, x - n_size), min(w, x + n_size)
            sub_m = mask_b[ys:ye, xs:xe]
            vals = img3[ys:ye, xs:xe][sub_m].sum(axis=0)
            cnt = int(sub_m.sum())
            vals = vals + new[ys:y, xs:x].sum(axis=(0, 1))
            cnt += (y - ys) * (x - xs)
            if cnt > 0:
                new[y, x] = vals // cnt
            else:
                new[y, x] = 0
    return new.astype(np.uint8).reshape(img.shape)


def optimise_gray_slow(mask, img, n_size):
    assert img.ndim == 2
    return _optimise_slow(mask, img, n_size)


def optimise_rgb_slow(mask, img, n_size):
    assert img.ndim == 3
    return _optimise_slow(mask, img, n_size)


def fast_mask_denoise(mask: np.ndarray, mincnt: int = 4, n_size: int = 2) -> np.ndarray:
    """Raster-order feedback denoise; semantics of ``optimiser.pyx:436-472``
    (call site ``mrc.py:386-390`` with mincnt=4, n_size=2).  Returns a new
    bool array (the reference mutates in place)."""
    from . import native as _ckern

    res = _ckern.mask_denoise_native(mask[None], mincnt, n_size)
    if res is not None:
        return res[0].view(bool)
    m = mask.astype(np.uint8).copy()
    h, w = m.shape
    if h <= 2 * n_size or w <= 2 * n_size:
        return m.astype(bool)
    kernel_full = 2 * n_size + 1
    xs0 = np.arange(n_size, w - n_size) - n_size
    xe0 = np.arange(n_size, w - n_size) + n_size + 1
    for y in range(n_size, h - n_size):
        # Window rows y-n..y+n over the live mask (rows above already
        # denoised, rows below original — exactly the reference's state).
        block = m[y - n_size:y + n_size + 1, :]
        c = np.zeros(w + 1, dtype=np.int64)
        np.cumsum(block.sum(axis=0, dtype=np.int64), out=c[1:])
        cnt0 = c[xe0] - c[xs0]              # includes the pixel itself
        row = m[y]
        inner = row[n_size:w - n_size].astype(bool)
        # Decisions that cannot be affected by same-row clears to the left:
        # clearing reduces cnt by at most 2*n_size (pixels in cols
        # [x-n, x-1] of this row).  cnt0 - 1 >= mincnt + 2*n_size => keep.
        ambiguous = inner & (cnt0 - 1 < mincnt + 2 * n_size)
        if not ambiguous.any():
            continue
        amb_idx = np.flatnonzero(ambiguous) + n_size
        cleared: list[int] = []
        for x in amb_idx:
            delta = 0
            for cx in reversed(cleared):
                if cx < x - n_size:
                    break
                delta += 1
            cnt = int(cnt0[x - n_size]) - delta
            if cnt - 1 < mincnt:
                row[x] = 0
                cleared.append(x)
    return m.astype(bool)


def fast_mask_denoise_batch(masks: np.ndarray, mincnt: int = 4,
                            n_size: int = 2) -> np.ndarray:
    """``fast_mask_denoise`` over same-shape masks (B, h, w): one C call
    for the batch, else the NumPy kernel mask by mask."""
    from . import native as _ckern

    res = _ckern.mask_denoise_native(masks, mincnt, n_size)
    if res is not None:
        return res.view(bool)
    out = np.empty(np.shape(masks), bool)
    for i, mask in enumerate(masks):
        out[i] = fast_mask_denoise(mask, mincnt, n_size)
    return out


def fast_mask_denoise_slow(mask: np.ndarray, mincnt: int = 4, n_size: int = 2) -> np.ndarray:
    """Direct raster-order scalar oracle of ``optimiser.pyx:436-472``."""
    m = mask.astype(np.uint8).copy()
    h, w = m.shape
    for y in range(n_size, h - n_size):
        for x in range(n_size, w - n_size):
            if m[y, x]:
                cnt = int(m[y - n_size:y + n_size + 1,
                            x - n_size:x + n_size + 1].sum())
                m[y, x] = 1 if (cnt - 1) >= mincnt else 0
    return m.astype(bool)
