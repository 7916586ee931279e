"""MRC page segmentation: hOCR-guided mask, threshold mask, components.

Re-derives ``internetarchivepdf/mrc.py:188-471`` as pure NumPy:

* ``create_hocr_mask`` (``mrc.py:188-270``): per text line — confidence /
  empty filters, bbox validity checks, Sauvola (k=0.1) on the line crop and
  its inverse, ratio decision tree (0.3 / 0.2 thresholds), optional
  wavelet-sigma comparison, paste the chosen threshold into the page mask.
  Returns per-line decisions so the caller can observe which lines were
  accepted (the spans contract).
* ``create_threshold_mask`` (``mrc.py:300-329``): noise estimate on the
  centre crop, Gaussian pre-blur when sigma > 1.0 (sigma*0.1), Sauvola
  k=0.34, OR-combined into the mask.
* ``create_mrc_components`` (``mrc.py:334-471``): gray conversion, both
  masks, fast denoise (mincnt=4, n=2 — ``mrc.py:388``), then
  foreground = optimise(mask, img, n=3) and
  background = optimise(~mask, img, n=10) (``mrc.py:409-449``).

Warnings mirror the reference's stderr prints / errors set
(``const.py:35-45``); they are returned as a list so the Spark layer can
fold them into the per-partition metrics table instead of stderr.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .grayconvert import rgb_to_gray, special_gray_convert
from .noise import estimate_noise, gaussian_filter, mean_estimate_sigma
from .optimise import fast_mask_denoise, optimise_gray2, optimise_rgb2
from .pages import WARN_TOO_SMALL_TO_DOWNSAMPLE, downsample_box
from .sauvola import threshold_image

__all__ = ["LineDecision", "create_hocr_mask", "create_threshold_mask",
           "mrc_mask_phase", "create_mrc_components", "merge_components",
           "MrcResult"]

DENOISE_NONE = "none"
DENOISE_FAST = "fast"
DENOISE_BREGMAN = "bregman"   # optional mode, stubbed (see below)

WARN_INVALID_BBOX = "invalid-bbox"
WARN_BBOX_OUTSIDE_IMAGE = "invalid-bbox-outside-image"


@dataclass
class LineDecision:
    """Outcome of the hOCR-mask decision tree for one line."""
    para_idx: int
    line_idx: int
    accepted: bool          # a threshold was pasted into the mask
    used_invert: bool       # the inverted-crop threshold was chosen
    skipped: str            # '' | 'empty-or-lowconf' | 'degenerate' |
    #                         'invalid' | 'outside'


@dataclass
class MrcResult:
    mask: np.ndarray                    # bool (h, w)
    foreground: np.ndarray              # uint8 (h, w) or (h, w, 3)
    background: np.ndarray
    line_decisions: list[LineDecision] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)


def _line_mean_conf(line: dict) -> float:
    confs = [w["confidence"] for w in line["words"]]
    return sum(confs) / len(confs) if len(confs) else 0


def create_hocr_mask(np_img: np.ndarray, mask_arr: np.ndarray,
                     hocr_word_data: list, downsample: float | None = None,
                     dpi: int | None = None,
                     warnings: list | None = None) -> list[LineDecision]:
    """Mutates ``mask_arr`` in place (like ``mrc.py:188-270``); returns the
    per-line decisions."""
    image_height, image_width = np_img.shape
    decisions: list[LineDecision] = []

    for p_idx, paragraph in enumerate(hocr_word_data):
        for l_idx, line in enumerate(paragraph["lines"]):
            dec = LineDecision(p_idx, l_idx, False, False, "")
            decisions.append(dec)

            line_text = " ".join(w["text"] for w in line["words"])
            line_conf = _line_mean_conf(line)
            if line_text.strip() == "" or line_conf < 20:   # mrc.py:202
                dec.skipped = "empty-or-lowconf"
                continue

            coords = line["bbox"]
            if downsample is not None:
                coords = [int(x / downsample) for x in coords]
            else:
                coords = [int(x) for x in coords]
            left, top, right, bottom = coords

            if left == right or top == bottom:              # mrc.py:212
                dec.skipped = "degenerate"
                continue
            if left >= right or top >= bottom:              # mrc.py:215
                dec.skipped = "invalid"
                if warnings is not None:
                    warnings.append(WARN_INVALID_BBOX)
                continue
            if left < 0 or right > image_width or top < 0 or bottom > image_height:
                dec.skipped = "outside"                     # mrc.py:219
                if warnings is not None:
                    warnings.append(WARN_BBOX_OUTSIDE_IMAGE)
                continue

            np_lineimg = np_img[top:bottom, left:right]
            np_lineimg_invert = 255 - np.copy(np_lineimg)

            k = 0.1                                         # mrc.py:229
            thres = threshold_image(np_lineimg, dpi, k)
            ones = int(np.count_nonzero(thres))
            zero = np_lineimg.size - ones
            ratio = ones / (zero + ones)

            thres_invert = threshold_image(np_lineimg_invert, dpi, k)
            ones_i = int(np.count_nonzero(thres_invert))
            zero_i = np_lineimg.size - ones_i
            inv_ratio = ones_i / (zero_i + ones_i)

            if ratio < 0.3 or inv_ratio < 0.3:              # mrc.py:240
                th = None
                used_invert = False
                if inv_ratio > 0.2 and ratio < 0.2:         # mrc.py:247
                    th = thres
                else:
                    # Expensive path, only when the ratio test is
                    # inconclusive (mrc.py:250-254).
                    ratio_sigma = mean_estimate_sigma(thres)
                    inv_ratio_sigma = mean_estimate_sigma(thres_invert)
                    if inv_ratio < 0.3 and inv_ratio < ratio and \
                            (inv_ratio_sigma < ratio_sigma or
                             (ratio_sigma < 0.1 and inv_ratio_sigma < 0.1)):
                        th = thres_invert
                        used_invert = True
                    elif ratio < 0.2:
                        th = thres
                if th is not None:
                    mask_arr[top:bottom, left:right] = th
                    dec.accepted = True
                    dec.used_invert = used_invert
    return decisions


def create_threshold_mask(mask_arr: np.ndarray, imgf: np.ndarray,
                          dpi: int | None = None) -> float:
    """OR a Sauvola k=0.34 mask of the (optionally pre-blurred) page into
    ``mask_arr`` (``mrc.py:300-329``).  Returns the estimated sigma."""
    sigma_est = estimate_noise(imgf)
    if sigma_est > 1.0:
        imgf = gaussian_filter(imgf, sigma=sigma_est * 0.1)
    thres_arr = threshold_image(imgf.astype(np.uint8), dpi)
    mask_arr |= thres_arr
    return sigma_est


def mrc_mask_phase(image: np.ndarray, hocr_word_data: list,
                   dpi: int | None = None,
                   downsample: float | None = None,
                   denoise_mask: str = DENOISE_FAST,
                   gray_mode: str = "itu"):
    """Mask-building phase of the MRC decomposition (``mrc.py:358-399``):
    gray conversion, hOCR mask, threshold mask, denoise.  Returns
    (mask, line_decisions, warnings).  Split out so a caller can run the
    denoise and the fg/bg optimise itself: the extraction operator
    passes ``DENOISE_NONE`` and calls both kernels through its own
    module names, one page at a time."""
    warnings: list[str] = []
    is_rgb = image.ndim == 3
    if is_rgb:
        if gray_mode == "special":
            grayimg = special_gray_convert(image)
        else:
            grayimg = rgb_to_gray(image)
    else:
        grayimg = image
    h, w = grayimg.shape

    mask_arr = np.zeros((h, w), dtype=bool)
    decisions = create_hocr_mask(grayimg, mask_arr, hocr_word_data,
                                 downsample=downsample, dpi=dpi,
                                 warnings=warnings)
    grayimgf = grayimg.astype(np.float32)
    create_threshold_mask(mask_arr, grayimgf, dpi=dpi)   # MIX_THRESHOLD=True

    if denoise_mask == DENOISE_FAST:
        mask_arr = fast_mask_denoise(mask_arr, 4, 2)      # mrc.py:388
    elif denoise_mask == DENOISE_BREGMAN:
        # The reference's optional TV mode (mrc.py:90-108); from-scratch
        # split-Bregman solver (kernels/bregman.py), same float-cast ->
        # weight=1.0 -> (>0.4) re-binarize contract.
        from .bregman import denoise_mask_bregman
        mask_arr = denoise_mask_bregman(mask_arr)
    elif denoise_mask != DENOISE_NONE:
        raise ValueError("Invalid denoise option: %s" % denoise_mask)
    return mask_arr, decisions, warnings


def create_mrc_components(image: np.ndarray, hocr_word_data: list,
                          dpi: int | None = None,
                          downsample: float | None = None,
                          denoise_mask: str = DENOISE_FAST,
                          gray_mode: str = "itu",
                          fg_downsample: float | None = None,
                          bg_downsample: float | None = None,
                          downsample_method: str = "box") -> MrcResult:
    """Full MRC decomposition of one page raster (``mrc.py:334-471``).

    ``image`` is uint8 (h, w) gray or (h, w, 3) RGB.  Unlike the
    reference's generator protocol (one component alive at a time,
    ``mrc.py:399-470``) this returns all three — inside a ``mapInPandas``
    batch the Arrow batch size bounds memory instead.

    ``gray_mode``: 'itu' (the reference's ``image.convert('L')``,
    ``mrc.py:361``) or 'special' (the ``--grayscale-pdf`` path,
    ``recode.py:360-364`` -> ``grayconvert.py:38-66``).
    """
    mask_arr, decisions, warnings = mrc_mask_phase(
        image, hocr_word_data, dpi=dpi, downsample=downsample,
        denoise_mask=denoise_mask, gray_mode=gray_mode)
    is_rgb = image.ndim == 3

    if is_rgb:
        fg = optimise_rgb2(mask_arr, image, 3)           # mrc.py:413-415
        bg = optimise_rgb2(~mask_arr, image, 10)         # mrc.py:447-449
    else:
        fg = optimise_gray2(mask_arr, image, 3)
        bg = optimise_gray2(~mask_arr, image, 10)

    # Optional component downsampling (mrc.py:420-434, 454-468):
    # 'lanczos' matches the reference's PIL LANCZOS semantics
    # (kernels/pages.py::downsample_lanczos); 'box' is the exact-integer
    # default used by the content-hash goldens.
    if downsample_method == "lanczos":
        from .pages import downsample_lanczos as _down
    elif downsample_method == "box":
        _down = downsample_box
    else:
        raise ValueError("downsample_method must be 'box' or 'lanczos'")
    if fg_downsample is not None:
        fg, warned = _down(fg, fg_downsample)
        if warned:
            warnings.append(WARN_TOO_SMALL_TO_DOWNSAMPLE)
    if bg_downsample is not None:
        bg, warned = _down(bg, bg_downsample)
        if warned:
            warnings.append(WARN_TOO_SMALL_TO_DOWNSAMPLE)

    return MrcResult(mask=mask_arr, foreground=fg, background=bg,
                     line_decisions=decisions, warnings=warnings)


def _upsample_nearest(img: np.ndarray, h: int, w: int) -> np.ndarray:
    ys = (np.arange(h) * img.shape[0]) // h
    xs = (np.arange(w) * img.shape[1]) // w
    return img[ys][:, xs]


def merge_components(mask: np.ndarray, fg: np.ndarray, bg: np.ndarray):
    """Recomposite an MRC triple back into a single image — the
    reference's ``tools/merge:17-39`` debug round-trip, automated: with
    undownsampled components the optimise kernels preserve pixel values
    under their own mask, so ``merge(mask, fg, bg) == original``
    *exactly*; the tests pin that identity (and bounded error once
    components are downsampled).  Components smaller than the mask are
    nearest-neighbour upsampled (PIL-resize deviation documented)."""
    h, w = mask.shape
    if fg.shape[:2] != (h, w):
        fg = _upsample_nearest(fg, h, w)
    if bg.shape[:2] != (h, w):
        bg = _upsample_nearest(bg, h, w)
    m = mask.astype(bool)
    if fg.ndim == 3:
        m = m[:, :, None]
    return np.where(m, fg, bg)
