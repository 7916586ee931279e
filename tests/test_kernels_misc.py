"""Unit tests: dpi chain, gray conversion, noise estimator, text layer."""

import math

import numpy as np
import pytest

from archive_pdf_tools_spark.kernels.dpi import (
    PDFA_MAX_UNITS, PDFA_MIN_UNITS, guess_dpi, page_geometry)
from archive_pdf_tools_spark.kernels.grayconvert import (
    level_arr, rgb_to_gray, special_gray_convert)
from archive_pdf_tools_spark.kernels.noise import (
    estimate_noise, estimate_sigma, gaussian_filter)
from archive_pdf_tools_spark.kernels.textlayer import (
    clip_baseline, codepoint_to_utf16be, floatbytes, get_word_baseline,
    prec, render_text_layer)


# ---------- dpi (recode.py:62-84, 145-203) ----------

@pytest.mark.parametrize("dpi", [72, 96, 150, 300, 600])
def test_guess_dpi_recovers_a4(dpi):
    w, h = round(8.27 * dpi), round(11.69 * dpi)
    assert guess_dpi(w, h) == dpi


def test_guess_dpi_tiny_image():
    assert guess_dpi(3, 3) == 72  # smallest candidate wins


def test_page_geometry_plain():
    w, h, ppi, warns = page_geometry(2481, 3507, doc_dpi=300)
    assert warns == []
    assert math.isclose(ppi, 300.0)
    assert math.isclose(w, 2481 / (300 / 72))


def test_page_geometry_per_page_overrides_doc():
    _, _, ppi, _ = page_geometry(2481, 3507, doc_dpi=300, per_page_dpi=600)
    assert math.isclose(ppi, 600.0)


def test_page_geometry_bad_per_page_falls_back():
    _, _, ppi, _ = page_geometry(2481, 3507, doc_dpi=300, per_page_dpi="x")
    assert math.isclose(ppi, 300.0)


def test_page_geometry_tiny_image_clamped():
    w, h, ppi, warns = page_geometry(2, 2, doc_dpi=300)
    assert "invalid-page-size" in warns
    assert w == PDFA_MIN_UNITS + 1


def test_page_geometry_huge_width_guesses():
    # width at 72dpi would exceed PDFA_MAX -> falls into guess path
    w, h, ppi, warns = page_geometry(20000, 28000, doc_dpi=72)
    assert "invalid-page-size" in warns
    assert w < PDFA_MAX_UNITS


# ---------- gray conversion ----------

def test_rgb_to_gray_matches_itu_rounding():
    img = np.zeros((1, 3, 3), dtype=np.uint8)
    img[0, 0] = [255, 0, 0]
    img[0, 1] = [0, 255, 0]
    img[0, 2] = [255, 255, 255]
    g = rgb_to_gray(img)
    assert g[0, 0] == (19595 * 255 + 32768) >> 16       # 76
    assert g[0, 1] == (38470 * 255 + 32768) >> 16       # 149
    assert g[0, 2] == 255


def test_level_arr_stretch_and_clamp():
    arr = np.array([0, 10, 100, 200, 255], dtype=np.uint8)
    out = level_arr(arr.copy(), minv=10, maxv=200)
    assert out[0] == 0          # below minv
    assert out[1] == 0          # == minv -> 0
    assert out[4] == 255        # above maxv
    assert out[2] == int((100 - 10) / ((200 / 255) - (10 / 255)))


def test_special_gray_convert_shapes_and_determinism():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(32, 24, 3), dtype=np.uint8)
    a = special_gray_convert(img)
    b = special_gray_convert(img.copy())
    assert a.dtype == np.uint8 and a.shape == (32, 24)
    np.testing.assert_array_equal(a, b)


# ---------- noise ----------

def test_estimate_sigma_scales_with_noise():
    rng = np.random.default_rng(11)
    flat = np.full((128, 128), 128.0)
    noisy2 = flat + rng.normal(0, 2.0, flat.shape)
    noisy8 = flat + rng.normal(0, 8.0, flat.shape)
    s0 = estimate_sigma(flat)
    s2 = estimate_sigma(noisy2)
    s8 = estimate_sigma(noisy8)
    assert s0 < 1e-6
    assert 1.0 < s2 < 4.0
    assert 5.0 < s8 < 12.0
    assert s8 > s2


def test_estimate_noise_center_crop_tiny_image():
    img = np.full((2, 2), 7.0, dtype=np.float32)
    assert estimate_noise(img) < 1e-6   # tiny-image path, flat input


def test_gaussian_filter_preserves_mean_and_dtype():
    rng = np.random.default_rng(3)
    img = rng.random((64, 64)).astype(np.float32) * 255
    out = gaussian_filter(img, sigma=1.5)
    assert out.dtype == np.float32
    assert abs(float(out.mean()) - float(img.mean())) < 1.0
    # blur reduces variance
    assert out.std() < img.std()


# ---------- text layer ----------

def test_prec_and_floatbytes():
    assert prec(1.23456) == 1.235
    assert prec(-0.0001) == 0.0
    assert floatbytes(1.5, 3) == b"1.500"
    assert floatbytes(1.0) == b"1.00000000"


def test_codepoint_utf16be():
    assert codepoint_to_utf16be(ord("A")) == (True, b"0041")
    ok, enc = codepoint_to_utf16be(0x1D518)          # astral plane
    assert ok and enc == b"D835DD18"
    assert codepoint_to_utf16be(0xD800)[0] is False  # surrogate dropped
    assert codepoint_to_utf16be(0x110000)[0] is False


def test_clip_baseline_flattens_when_nearly_horizontal():
    # rise*72 < 2*ppi < run*72
    x1, y1, x2, y2 = clip_baseline(300, 0, 100, 2000, 104)
    assert y1 == y2 == 102
    # steep baseline untouched
    x1, y1, x2, y2 = clip_baseline(300, 0, 100, 30, 400)
    assert (y1, y2) == (100, 400)


def test_get_word_baseline_projection():
    # Horizontal baseline at y=100, word at x=50: projection x=50 y=100
    x, y, wl = get_word_baseline(1, 72.0, 800, 50, 90, 80, 100,
                                 0, 100, 200, 100)
    assert math.isclose(x, 50.0)
    assert math.isclose(y, 800 - 100.0)
    assert math.isclose(wl, math.sqrt(30 * 30 + 10 * 10))


def _word(text, bbox, conf=90.0, fontsize=10.0, wd=0):
    return {"text": text, "bbox": bbox, "confidence": conf,
            "fontsize": fontsize, "writing_direction": wd}


def test_render_text_layer_basic(native_modes):
    word_data = [
        {"lines": [
            {"bbox": [10, 10, 200, 30], "baseline": [0.0, 0.0],
             "words": [_word("hello", [10, 10, 60, 30]),
                       _word("world", [70, 10, 130, 30])]},
        ]},
        {"lines": [   # whitespace-only paragraph skipped entirely
            {"bbox": [10, 40, 200, 60], "baseline": [0.0, 0.0],
             "words": [_word("   ", [10, 40, 60, 60])]},
        ]},
    ]
    results = []
    for _mode in native_modes():
        res = render_text_layer(word_data, 612, 792, ppi=72.0)
        results.append(res)
        assert res.lines == ["hello world"]
        ops = res.text_ops
        assert ops.count(b"BT") == 1          # second paragraph skipped
        assert b"Tm" in ops and b"Td" in ops and b"TJ" in ops
    assert results[0] == results[1]           # same bytes either way


def test_render_text_layer_drops_invalid_codepoints(native_modes):
    bad = chr(0xD800 + 1) if False else "a\udcff"  # lone surrogate via literal
    word_data = [{"lines": [
        {"bbox": [0, 0, 50, 10], "baseline": [0.0, 0.0],
         "words": [_word(bad, [0, 0, 50, 10])]},
    ]}]
    results = []
    for _mode in native_modes():
        res = render_text_layer(word_data, 612, 792, ppi=72.0)
        results.append(res)
        assert res.dropped_codepoints == 1
        assert res.lines == ["a"]
    assert results[0] == results[1]           # same bytes either way


def test_render_text_layer_fontsize_fallback_and_rtl(native_modes):
    word_data = [{"lines": [
        {"bbox": [0, 0, 100, 20], "baseline": [0.0, 0.0],
         "words": [_word("rtl", [0, 0, 40, 20], fontsize=0, wd=2)]},
    ]}]
    results = []
    for _mode in native_modes():
        res = render_text_layer(word_data, 612, 792, ppi=72.0)
        results.append(res)
        # fontsize fell back to clipped line height (0 after flatten)
        # -> default 8
        assert b"/f-0-0 8 Tf" in res.text_ops
        assert res.lines == ["rtl"]
    assert results[0] == results[1]           # same bytes either way


def test_mrc_gray_mode_special():
    """--grayscale-pdf path (recode.py:360-364): special gray convert
    feeds the same MRC pipeline; results differ from ITU-L but remain
    deterministic."""
    import numpy as np

    from archive_pdf_tools_spark.kernels.mrc import create_mrc_components

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (40, 60, 3), dtype=np.uint8)
    a = create_mrc_components(img, [], dpi=None, gray_mode="itu")
    b = create_mrc_components(img, [], dpi=None, gray_mode="special")
    b2 = create_mrc_components(img, [], dpi=None, gray_mode="special")
    np.testing.assert_array_equal(b.mask, b2.mask)
    assert a.mask.shape == b.mask.shape


def test_mrc_bregman_mode_runs():
    import numpy as np

    from archive_pdf_tools_spark.kernels.mrc import create_mrc_components

    img = np.full((40, 40), 200, dtype=np.uint8)
    img[10:20, 10:25] = 20                  # an inky block
    res = create_mrc_components(img, [], denoise_mask="bregman")
    assert res.mask.dtype == bool and res.mask.shape == img.shape


def test_bregman_denoise_properties():
    import numpy as np

    from archive_pdf_tools_spark.kernels.bregman import (
        denoise_mask_bregman, denoise_tv_bregman)

    # structure kept, isolated speckles removed
    mask = np.zeros((48, 48), dtype=bool)
    mask[8:28, 10:34] = True                # solid block: survives
    rng = np.random.default_rng(3)
    speckles = (rng.integers(0, 48, 12), rng.integers(0, 48, 12))
    noisy = mask.copy()
    for y, x in zip(*speckles):
        if not mask[max(y - 2, 0):y + 3, max(x - 2, 0):x + 3].any():
            noisy[y, x] = True              # isolated single pixels
    den = denoise_mask_bregman(noisy)
    assert den[12:24, 14:30].all()          # block interior intact
    n_spk = sum(1 for y, x in zip(*speckles)
                if noisy[y, x] and not mask[y, x])
    survivors = int((den & ~mask & noisy).sum())
    assert n_spk >= 5 and survivors < n_spk / 2   # most speckles gone

    # constant input is (nearly) a fixed point
    const = np.full((16, 16), 0.7)
    out = denoise_tv_bregman(const, weight=1.0)
    assert np.allclose(out, 0.7, atol=1e-6)

    # TV + fidelity energy does not increase
    def energy(u, f, lam):
        gx = np.diff(u, axis=1)
        gy = np.diff(u, axis=0)
        tv = np.sqrt(gx[:-1] ** 2 + gy[:, :-1] ** 2).sum()
        return tv + lam / 2 * ((u - f) ** 2).sum()

    f = noisy.astype(np.float64)
    u = denoise_tv_bregman(f, weight=1.0)
    assert energy(u, f, 2.0) <= energy(f, f, 2.0)


def test_mrc_component_downsample():
    import numpy as np

    from archive_pdf_tools_spark.kernels.mrc import create_mrc_components

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, (48, 60), dtype=np.uint8)
    r = create_mrc_components(img, [], dpi=None, bg_downsample=3,
                              fg_downsample=2)
    assert r.background.shape == (16, 20)
    assert r.foreground.shape == (24, 30)
    tiny = rng.integers(0, 256, (4, 4), dtype=np.uint8)
    r = create_mrc_components(tiny, [], dpi=None, bg_downsample=8)
    assert "too-small-to-downsample" in r.warnings
    assert r.background.shape == (4, 4)   # unchanged


def test_bregman_grad_div_adjoint():
    """<grad u, v> == -<u, div v> — the discrete adjoint identity the
    solver's optimality condition relies on."""
    import numpy as np

    from archive_pdf_tools_spark.kernels.bregman import _div, _grad

    rng = np.random.default_rng(11)
    for shape in ((5, 5), (6, 9), (2, 13)):
        u = rng.standard_normal(shape)
        vx = rng.standard_normal(shape)
        vy = rng.standard_normal(shape)
        gx, gy = _grad(u)
        lhs = float((gx * vx + gy * vy).sum())
        rhs = float(-(u * _div(vx, vy)).sum())
        assert abs(lhs - rhs) < 1e-10


def test_merge_components_roundtrip_identity():
    """tools/merge parity, automated: with undownsampled components the
    MRC triple recomposites to the original EXACTLY (optimise preserves
    pixels under its own mask on each side)."""
    import numpy as np

    from archive_pdf_tools_spark.corpus.rasters import (
        page_spec, make_media_ref, render_raster, spec_word_data)
    from archive_pdf_tools_spark.kernels.mrc import (
        create_mrc_components, merge_components)

    n_checked = 0
    for i in range(12):
        spec = page_spec(make_media_ref(f"m{i}", 0, i))
        if spec["bitonal"]:
            continue
        raster = render_raster(spec)
        res = create_mrc_components(raster, spec_word_data(spec),
                                    dpi=spec["dpi"])
        merged = merge_components(res.mask, res.foreground, res.background)
        np.testing.assert_array_equal(merged, raster)
        n_checked += 1
    assert n_checked >= 6


def test_merge_components_downsampled_bounded_error():
    import numpy as np

    from archive_pdf_tools_spark.kernels.mrc import (
        create_mrc_components, merge_components)

    rng = np.random.default_rng(13)
    img = np.full((64, 96), 230, dtype=np.uint8)
    img[10:30, 12:60] = 40
    img = np.clip(img.astype(np.int16) + rng.integers(-5, 6, img.shape),
                  0, 255).astype(np.uint8)
    res = create_mrc_components(img, [], bg_downsample=2.0)
    merged = merge_components(res.mask, res.foreground, res.background)
    assert merged.shape == img.shape
    err = np.abs(merged.astype(np.int32) - img.astype(np.int32)).mean()
    assert err < 16.0          # background smoothed, structure preserved
