"""Compiled-kernel (kernels/native) parity: the Python decode paths
are the oracle; the C transcription must match them bit-for-bit on
fuzzed inputs, including the awkward shapes (non-nominal AT pixels,
TPGDON/TPGRON, USESKIP, bypass segments, 1-pixel-wide blocks)."""

import numpy as np
import pytest

import archive_pdf_tools_spark.kernels.jbig2codec as jb
from archive_pdf_tools_spark.kernels import native
from archive_pdf_tools_spark.kernels.jp2codec import (_mq_decode_fn,
                                                      t1_decode,
                                                      t1_encode)

# Skip only when the kernels could not be built or are switched off: a
# build that fails its self-test must show up as failures here.
pytestmark = pytest.mark.skipif(
    native.status().startswith(("build failed", "disabled")),
    reason="compiled kernels not built (no C compiler) or disabled")


def test_kernels_active_in_container():
    assert native.status() == "compiled kernels active"


def _py_generic(data, w, h, template, at, tpgdon, skip=None):
    states = [0] * 65536
    mps = [0] * 65536
    return jb._decode_generic(_mq_decode_fn(data, states, mps), w, h,
                              template, at, tpgdon, skip=skip)


@pytest.mark.parametrize("template", [0, 1, 2, 3])
@pytest.mark.parametrize("tpgdon", [False, True])
def test_generic_parity_nominal(template, tpgdon):
    rng = np.random.default_rng(template * 10 + tpgdon)
    for shape in [(57, 83), (4, 4), (1, 40), (33, 1)]:
        bm = (rng.random(shape) < 0.35).astype(np.uint8)
        stream = jb.encode_jbig2(bm, template=template, tpgdon=tpgdon)
        # pull the embedded generic-region data out by decoding the
        # whole file both ways instead of re-parsing segment headers
        nat = jb.decode_jbig2(stream)
        try:
            native_save, native._lib = native._lib, None
            py = jb.decode_jbig2(stream)
        finally:
            native._lib = native_save
        assert np.array_equal(nat, py)
        assert np.array_equal(nat, bm)


def test_generic_parity_arbitrary_at():
    """Foreign encoders may move AT pixels anywhere causal — the C
    walk must agree with the Python general path, not just the
    nominal fast path."""
    rng = np.random.default_rng(99)
    w, h = 61, 47
    bm = (rng.random((h, w)) < 0.4).astype(np.uint8)
    from archive_pdf_tools_spark.kernels.jp2codec import _mq_encode_fns
    for at in [((-2, 5), (-1, -3), (-2, 2), (-2, -2)),
               ((0, -2), (-1, -3), (-2, 2), (-2, -2)),
               ((-1, 127), (-1, -3), (-2, 2), (-2, -2))]:
        states = [0] * 65536
        mps = [0] * 65536
        encode, flush = _mq_encode_fns(states, mps)
        jb._encode_generic_at(encode, bm, 0, at)
        data = flush()
        ses = native.generic_session(data)
        assert ses is not None
        nat = ses.decode_generic(w, h, 0, at, False)
        py = _py_generic(data, w, h, 0, at, False)
        assert np.array_equal(nat, py)
        assert np.array_equal(nat, bm)


def test_generic_parity_skip_and_shared_state():
    """Halftone shape: several planes share one coder, with USESKIP."""
    rng = np.random.default_rng(7)
    w, h = 37, 29
    planes = [(rng.random((h, w)) < 0.3).astype(np.uint8)
              for _ in range(4)]
    skip = (rng.random((h, w)) < 0.2).astype(np.uint8)
    for p in planes:
        p[skip == 1] = 0                     # skipped pixels carry 0
    from archive_pdf_tools_spark.kernels.jp2codec import _mq_encode_fns
    states = [0] * 65536
    mps = [0] * 65536
    encode, flush = _mq_encode_fns(states, mps)
    at = jb._NOMINAL_AT[0]
    for p in planes:
        jb._encode_generic(encode, p, 0, False, skip=skip)
    data = flush()

    ses = native.generic_session(data)
    nat = [ses.decode_generic(w, h, 0, at, False, skip=skip)
           for _ in planes]
    st = [0] * 65536
    mp = [0] * 65536
    dec = _mq_decode_fn(data, st, mp)
    py = [jb._decode_generic(dec, w, h, 0, at, False, skip=skip)
          for _ in planes]
    for a, b, want in zip(nat, py, planes):
        assert np.array_equal(a, b)
        assert np.array_equal(a, want)


@pytest.mark.parametrize("template", [0, 1])
@pytest.mark.parametrize("tpgron", [False, True])
def test_refinement_parity(template, tpgron):
    rng = np.random.default_rng(template * 2 + tpgron)
    base = (rng.random((44, 70)) < 0.5).astype(np.uint8)
    refined = base.copy()
    refined[rng.random((44, 70)) < 0.05] ^= 1
    stream = jb.encode_jbig2_refinement(base, refined,
                                        template=template,
                                        tpgron=tpgron)
    nat = jb.decode_jbig2(stream)
    try:
        native_save, native._lib = native._lib, None
        py = jb.decode_jbig2(stream)
    finally:
        native._lib = native_save
    assert np.array_equal(nat, py)
    assert np.array_equal(nat, refined)


@pytest.mark.parametrize("band", ["LL", "HL", "HH"])
@pytest.mark.parametrize("bypass", [False, True])
def test_t1_parity_fuzz(band, bypass):
    rng = np.random.default_rng(hash((band, bypass)) % 2**32)
    for shape in [(64, 64), (64, 1), (1, 64), (3, 5), (13, 64)]:
        h, w = shape
        for density in (0.05, 0.5, 0.95):
            coefs = rng.integers(-2**14, 2**14, size=shape)
            coefs[rng.random(shape) >= density] = 0
            coefs = coefs.astype(np.int64)
            data, npasses, numbps = t1_encode(coefs, band,
                                              bypass=bypass)
            if numbps == 0:
                continue
            segs = data if bypass else None
            raw = b"" if bypass else data
            py = t1_decode(raw, npasses, numbps, w, h, band,
                           segments=segs, _native=False)
            nat = t1_decode(raw, npasses, numbps, w, h, band,
                            segments=segs)
            assert np.array_equal(py, nat), (shape, density)


def test_t1_truncated_passes_parity():
    """Partial decode (fewer passes than encoded) — the progressive /
    lossy path."""
    rng = np.random.default_rng(5)
    coefs = rng.integers(-4000, 4000, size=(32, 32)).astype(np.int64)
    coefs[rng.random((32, 32)) < 0.5] = 0
    data, npasses, numbps = t1_encode(coefs, "LL")
    for n in range(1, npasses):
        py = t1_decode(data, n, numbps, 32, 32, "LL", _native=False)
        nat = t1_decode(data, n, numbps, 32, 32, "LL")
        assert np.array_equal(py, nat), n


def test_jpeg_scan_and_finish_parity():
    """Baseline Huffman walk + fused IDCT/YCbCr finishers: gray, RGB
    4:2:0/4:4:4, restart intervals, 12-bit extended — all byte-equal
    to the Python paths."""
    from archive_pdf_tools_spark.kernels import jpegcodec as jc

    rng = np.random.default_rng(77)
    gray = np.clip(rng.normal(180, 40, (120, 88)), 0, 255).astype(
        np.uint8)
    rgb = np.stack([gray, 255 - gray,
                    np.roll(gray, 7, axis=1)], axis=-1)
    streams = [
        jc.encode_baseline(gray, quality=85),
        jc.encode_baseline(rgb, quality=85),
        jc.encode_baseline(rgb, quality=40, subsample=(2, 2)),
        jc.encode_baseline(rgb, quality=85, restart_interval=4),
        jc.encode_extended(
            rng.integers(0, 4096, (56, 40, 3)).astype(np.uint16),
            quality=90),
    ]
    for i, data in enumerate(streams):
        nat = jc.decode_baseline(data)
        try:
            save, native._lib = native._lib, None
            py = jc.decode_baseline(data)
        finally:
            native._lib = save
        assert np.array_equal(nat, py), i


def test_jpeg_progressive_parity():
    """Progressive scans (DC first/refine, AC first with EOBn runs,
    AC refinement correction bits, DRI) through the compiled walk."""
    from archive_pdf_tools_spark.kernels import jpegcodec as jc

    rng = np.random.default_rng(55)
    cases = [((120, 200, 3), dict(quality=80, subsample=(2, 2))),
             ((64, 64), dict(quality=90)),
             ((97, 61, 3), dict(quality=40, subsample=(2, 1))),
             ((120, 200, 3), dict(quality=80, restart_interval=4))]
    for shape, kw in cases:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        d = jc.encode_progressive(img, **kw)
        nat = jc.decode_baseline(d)
        try:
            save, native._lib = native._lib, None
            py = jc.decode_baseline(d)
        finally:
            native._lib = save
        assert np.array_equal(nat, py), (shape, kw)


def test_jpeg_lossless_parity():
    """SOF3: all seven predictors, 8/16-bit, point transform,
    interleaved and multi-scan layouts through the compiled walk."""
    from archive_pdf_tools_spark.kernels import jpegcodec as jc

    rng = np.random.default_rng(66)
    for pred in range(1, 8):
        for shape, dtype in [((40, 56), np.uint8),
                             ((24, 30, 3), np.uint8),
                             ((20, 22), np.uint16)]:
            hi = 256 if dtype == np.uint8 else 60000
            img = rng.integers(0, hi, shape).astype(dtype)
            for il in (True, False):
                for pt in (0, 2):
                    d = jc.encode_lossless(img, predictor=pred,
                                           point_transform=pt,
                                           interleave=il)
                    nat = jc.decode_baseline(d)
                    try:
                        save, native._lib = native._lib, None
                        py = jc.decode_baseline(d)
                    finally:
                        native._lib = save
                    assert np.array_equal(nat, py), (pred, shape, il,
                                                     pt)


def test_jpeg_truncated_stream_matches_python():
    """A truncated entropy segment must raise the same JpegError
    whether the C walk or the Python walk sees it first (the C kernel
    reports an error code and Python re-raises from its own walk)."""
    from archive_pdf_tools_spark.kernels import jpegcodec as jc

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (64, 64)).astype(np.uint8)
    data = jc.encode_baseline(img, quality=85)
    bad = data[:len(data) // 2] + b"\xff\xd9"
    with pytest.raises(jc.JpegError):
        jc.decode_baseline(bad)
    try:
        save, native._lib = native._lib, None
        with pytest.raises(jc.JpegError):
            jc.decode_baseline(bad)
    finally:
        native._lib = save


@pytest.mark.parametrize("levels", [1, 2, 3, 5])
def test_dwt_parity(levels):
    """Inverse DWTs: int64 5/3 and float64 9/7 must be bit-identical
    to the numpy lifting (the C build pins -ffp-contract=off so gcc
    cannot fuse the 9/7 multiplies into FMAs)."""
    from archive_pdf_tools_spark.kernels import jp2codec as jp

    rng = np.random.default_rng(levels)
    for dims in [(64, 64), (63, 61), (1, 50), (50, 1), (2, 3),
                 (255, 129)]:
        a = rng.integers(-10000, 10000, size=dims).astype(np.int64)
        f = jp.dwt53_forward(a, levels)
        nat = jp.dwt53_inverse(f, levels)
        af = rng.normal(0, 1000, size=dims)
        f97 = jp.dwt97_forward(af, levels)
        nat97 = jp.dwt97_inverse(f97, levels)
        try:
            save, native._lib = native._lib, None
            py = jp.dwt53_inverse(f, levels)
            py97 = jp.dwt97_inverse(f97, levels)
        finally:
            native._lib = save
        assert np.array_equal(nat, py)
        assert np.array_equal(nat, a)        # perfect reconstruction
        assert np.array_equal(nat97, py97)   # bit parity, not allclose


@pytest.mark.parametrize("bypass", [False, True])
def test_t1_encode_byte_parity(bypass):
    """Compiled T1 ENCODER must emit byte-identical codeword segments
    (the pinned whole-PDF md5s depend on it)."""
    rng = np.random.default_rng(13 + bypass)
    for shape in [(64, 64), (61, 33), (1, 7), (64, 1), (13, 21)]:
        h, w = shape
        for dens in (0.1, 0.7):
            coefs = rng.integers(-20000, 20000, size=shape)
            coefs[rng.random(shape) >= dens] = 0
            coefs = coefs.astype(np.int64)
            for band in ("LL", "HL", "HH"):
                nat = t1_encode(coefs, band, bypass=bypass)
                try:
                    save, native._lib = native._lib, None
                    py = t1_encode(coefs, band, bypass=bypass)
                finally:
                    native._lib = save
                assert nat == py, (shape, dens, band)


def test_jbig2_encode_byte_parity():
    """Generic / halftone / refinement-base encoders through the
    shared-session MQ encode kernel: byte-identical streams."""
    rng = np.random.default_rng(9)
    bm = (rng.random((70, 90)) < 0.4).astype(np.uint8)
    bm[10:20] = 0
    pats = [np.full((6, 5), v % 2, np.uint8) for v in range(4)]
    gray = rng.integers(0, 4, (9, 11))
    base = (rng.random((40, 60)) < 0.5).astype(np.uint8)
    ref = base.copy()
    ref[5:9, 7:20] ^= 1

    def everything():
        out = []
        for tmpl in range(4):
            for tpgdon in (False, True):
                out.append(jb.encode_jbig2(bm, template=tmpl,
                                           tpgdon=tpgdon))
        for skip in (False, True):
            out.append(jb.encode_jbig2_halftone(gray, pats,
                                                enable_skip=skip))
        out.append(jb.encode_jbig2_refinement(base, ref))
        return out

    nat = everything()
    try:
        save, native._lib = native._lib, None
        py = everything()
    finally:
        native._lib = save
    assert nat == py
    assert np.array_equal(jb.decode_jbig2(nat[1]), bm)


def test_optimise2_parity():
    """MRC fill kernel (FIR+IIR windows, integer divisions): C vs the
    vectorized numpy path, single and batch, gray and RGB."""
    from archive_pdf_tools_spark.kernels.optimise import (
        optimise_gray2, optimise_gray2_batch, optimise_rgb2)

    rng = np.random.default_rng(19)
    for (h, w) in [(1, 1), (5, 7), (64, 64), (31, 129)]:
        for n in (1, 2, 10, 40):
            mask = (rng.random((h, w)) < 0.3).astype(np.uint8)
            g = rng.integers(0, 256, (h, w)).astype(np.uint8)
            rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            batch_m = np.stack([mask, 1 - mask])
            batch_i = np.stack([g, 255 - g])
            nat = (optimise_gray2(mask.copy(), g.copy(), n),
                   optimise_rgb2(mask.copy(), rgb.copy(), n),
                   optimise_gray2_batch(batch_m, batch_i, n))
            try:
                save, native._lib = native._lib, None
                py = (optimise_gray2(mask.copy(), g.copy(), n),
                      optimise_rgb2(mask.copy(), rgb.copy(), n),
                      optimise_gray2_batch(batch_m, batch_i, n))
            finally:
                native._lib = save
            for a, b in zip(nat, py):
                assert np.array_equal(a, b), (h, w, n)


def test_sauvola_parity():
    """Sauvola C kernel vs the numpy expressions: same clamped-window
    sums, same C-truncated divisions, same float64 operand order —
    bit parity across windows (incl. > 2*width), signs of k, tiny
    shapes."""
    from archive_pdf_tools_spark.kernels.sauvola import sauvola_mask

    rng = np.random.default_rng(12)
    for (h, w) in [(1, 1), (5, 7), (64, 64), (31, 257)]:
        img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        for (ww, wh) in [(3, 3), (51, 51), (15, 7), (2 * w + 3, 5)]:
            for k in (0.34, -0.2, 0.0):
                nat = sauvola_mask(img, ww, wh, k, 128.0)
                try:
                    save, native._lib = native._lib, None
                    py = sauvola_mask(img, ww, wh, k, 128.0)
                finally:
                    native._lib = save
                assert np.array_equal(nat, py), (h, w, ww, wh, k)


def test_lzw_parity():
    """TIFF-variant LZW: byte-identical encode, identical decode vs
    the Python walk, across content mixes incl. table resets."""
    from archive_pdf_tools_spark.kernels.tiffcodec import (lzw_decode,
                                                           lzw_encode)

    rng = np.random.default_rng(4)
    cases = [b"", b"A", b"AAAA" * 100,
             bytes(rng.integers(0, 256, 60000)),
             bytes(rng.integers(0, 4, 200000)),  # resets exercised
             b"pagepagepage" * 3000]
    for i, d in enumerate(cases):
        nat = lzw_encode(d)
        out = lzw_decode(nat, len(d))
        try:
            save, native._lib = native._lib, None
            py = lzw_encode(d)
            out_py = lzw_decode(nat, len(d))
        finally:
            native._lib = save
        assert nat == py, i
        assert out == out_py == d, i


def test_g4_parity():
    """T.6 pure-2D coder: byte-identical encode, pixel-identical
    decode vs the Python changing-elements walk, across densities,
    degenerate shapes and byte alignment."""
    from archive_pdf_tools_spark.kernels.ccittcodec import (decode_g4,
                                                            encode_g4)

    rng = np.random.default_rng(6)
    for (h, w) in [(1, 1), (3, 17), (64, 64), (100, 1), (31, 257)]:
        for dens in (0.0, 0.05, 0.5, 1.0):
            for ba in (False, True):
                bm = (rng.random((h, w)) < dens).astype(np.uint8)
                nat = encode_g4(bm, byte_align=ba)
                out = decode_g4(nat, w, h, byte_align=ba)
                try:
                    save, native._lib = native._lib, None
                    py = encode_g4(bm, byte_align=ba)
                    out_py = decode_g4(nat, w, h, byte_align=ba)
                finally:
                    native._lib = save
                assert nat == py
                assert np.array_equal(out, out_py)
                assert np.array_equal(out, bm)


def test_g4_truncated_falls_back_to_python_error():
    from archive_pdf_tools_spark.kernels.ccittcodec import (CcittError,
                                                            decode_g4,
                                                            encode_g4)

    rng = np.random.default_rng(2)
    bm = (rng.random((64, 64)) < 0.4).astype(np.uint8)
    data = encode_g4(bm)
    with pytest.raises(CcittError):
        decode_g4(data[:len(data) // 4], 64, 64)


@pytest.mark.parametrize("levels", [1, 3])
def test_dwt_forward_parity(levels):
    from archive_pdf_tools_spark.kernels import jp2codec as jp

    rng = np.random.default_rng(levels + 40)
    for dims in [(64, 64), (63, 61), (1, 50), (50, 1), (255, 129)]:
        a = rng.integers(-10000, 10000, size=dims).astype(np.int64)
        nat = jp.dwt53_forward(a, levels)
        af = rng.normal(0, 1000, size=dims)
        nat97 = jp.dwt97_forward(af, levels)
        try:
            save, native._lib = native._lib, None
            py = jp.dwt53_forward(a, levels)
            py97 = jp.dwt97_forward(af, levels)
        finally:
            native._lib = save
        assert np.array_equal(nat, py)
        assert np.array_equal(nat97, py97)
        assert np.array_equal(jp.dwt53_inverse(nat, levels), a)


def test_t1_numbps_out_of_range_falls_back():
    """numbps > 31 exceeds the C kernel's uint32 magnitudes — the
    wrapper must hand the call back to Python, not truncate."""
    assert native.t1_native(b"\x00", 1, 32, 2, 2, "LL") is None


def test_aes_rc4_parity():
    """AES-CBC both directions across key sizes / data sizes / pad
    modes, and RC4, byte-identical to the Python/numpy paths."""
    import archive_pdf_tools_spark.kernels.pdfcrypt as pc

    rng = np.random.default_rng(8)
    for klen in (16, 32):
        key = bytes(rng.integers(0, 256, klen).astype(np.uint8))
        for n in (0, 1, 16, 17, 1024):
            data = bytes(rng.integers(0, 256, n).astype(np.uint8))
            iv = bytes(rng.integers(0, 256, 16).astype(np.uint8))
            enc = pc.aes_cbc_encrypt(key, iv, data)
            dec = pc.aes_cbc_decrypt(key, enc)
            try:
                save, native._lib = native._lib, None
                enc_py = pc.aes_cbc_encrypt(key, iv, data)
                dec_py = pc.aes_cbc_decrypt(key, enc)
            finally:
                native._lib = save
            assert enc == enc_py
            assert dec == dec_py == data
    key = b"\x01\x02\x03\x04\x05"
    data = bytes(rng.integers(0, 256, 999).astype(np.uint8))
    a = pc.rc4(key, data)
    try:
        save, native._lib = native._lib, None
        b = pc.rc4(key, data)
    finally:
        native._lib = save
    assert a == b


def test_garbage_streams_no_crash_and_match_python():
    """Adversarial bytes through every C decode walk: either the same
    decoded array as pure Python or the same typed error — and never
    a crash (the zero-run G4 growth guard, LZW table overflow, MQ
    tail feeds, truncated JPEG segments all funnel through here)."""
    from archive_pdf_tools_spark.kernels import ccittcodec as cc
    from archive_pdf_tools_spark.kernels import jpegcodec as jc
    from archive_pdf_tools_spark.kernels import tiffcodec as tc

    rng = np.random.default_rng(123)

    def both(fn):
        try:
            a = ("ok", fn())
        except Exception as e:
            a = ("err", type(e).__name__)
        try:
            save, native._lib = native._lib, None
            try:
                b = ("ok", fn())
            except Exception as e:
                b = ("err", type(e).__name__)
        finally:
            native._lib = save
        assert a[0] == b[0]
        if a[0] == "ok":
            va, vb = a[1], b[1]
            if isinstance(va, np.ndarray):
                assert np.array_equal(va, vb)
            else:
                assert va == vb
        else:
            assert a[1] == b[1]

    for seed in range(12):
        blob = bytes(rng.integers(0, 256, 400).astype(np.uint8))
        both(lambda b=blob: cc.decode_g4(b, 64, 64))
        both(lambda b=blob: jb.decode_jbig2(
            jb.encode_jbig2(np.zeros((8, 8), np.uint8))[:40] + b[:80]))
        both(lambda b=blob: tc.lzw_decode(b, 512))


def test_native_kill_switch(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CKERN", "0")
    monkeypatch.setattr(native, "_tried", False)
    monkeypatch.setattr(native, "_lib", None)
    assert not native.available()
    assert "disabled" in native.status()


def test_gauss2d_parity():
    """Separable-Gaussian C kernel vs the numpy path in
    kernels/noise.py: np.pad-'reflect' boundary (incl. multi-fold when
    the radius exceeds the axis, and single-sample axes), ascending-tap
    float64 accumulation, per-axis cast-back — bit parity across
    dtypes, sigmas and degenerate shapes."""
    from archive_pdf_tools_spark.kernels.noise import gaussian_filter

    rng = np.random.default_rng(9)
    shapes = [(1, 1), (1, 23), (17, 1), (2, 2), (40, 56), (31, 257)]
    for (h, w) in shapes:
        for sigma in (0.3, 0.85, 2.4, 7.0):   # 7.0: radius > tiny axes
            for dt in (np.float64, np.float32, np.uint8):
                a = (rng.integers(0, 256, (h, w)).astype(np.uint8)
                     if dt == np.uint8
                     else rng.normal(100, 40, (h, w)).astype(dt))
                nat = gaussian_filter(a, sigma)
                try:
                    save, native._lib = native._lib, None
                    py = gaussian_filter(a, sigma)
                finally:
                    native._lib = save
                assert nat.dtype == py.dtype
                assert np.array_equal(nat, py), (h, w, sigma, dt)


def test_gauss2d_non_2d_uses_python_path():
    """1-D and 3-D inputs bypass the C kernel (it only serves 2-D) and
    still produce the documented numpy result."""
    from archive_pdf_tools_spark.kernels.noise import gaussian_filter

    rng = np.random.default_rng(10)
    a3 = rng.normal(100, 30, (9, 11, 3))
    nat = gaussian_filter(a3, 1.2)
    try:
        save, native._lib = native._lib, None
        py = gaussian_filter(a3, 1.2)
    finally:
        native._lib = save
    assert np.array_equal(nat, py)


def test_png_unfilter_parity():
    """Whole-sub-image PNG unfilter C kernel vs the Python walk:
    byte parity across filters 0-4, color types, bit depths and
    degenerate shapes (the Average/Paeth rows are the sequential
    CPython floor the kernel exists to lift)."""
    from archive_pdf_tools_spark.kernels import pngcodec as P

    rng = np.random.default_rng(21)
    shapes = [(1, 1), (1, 17), (9, 1), (13, 19)]
    for (h, w) in shapes:
        for ch in (None, 2, 3, 4):       # gray / GA / RGB / RGBA
            img = (rng.integers(0, 256, (h, w), dtype=np.uint8)
                   if ch is None else
                   rng.integers(0, 256, (h, w, ch), dtype=np.uint8))
            for ft in range(5):
                blob = P.encode_png(img, filter_type=ft)
                nat = P.decode_png(blob)
                try:
                    save, native._lib = native._lib, None
                    py = P.decode_png(blob)
                finally:
                    native._lib = save
                assert np.array_equal(nat, py), (h, w, ch, ft)
    # 1-bit bilevel masks (bpp=1 packed rows) through the same path
    mask = (rng.random((23, 31)) < 0.4)
    blob = P.encode_png(mask, bilevel=True)
    nat = P.decode_png(blob)
    try:
        save, native._lib = native._lib, None
        py = P.decode_png(blob)
    finally:
        native._lib = save
    assert np.array_equal(nat, py)


def test_mask_denoise_native_parity():
    """apts_mask_denoise == fast_mask_denoise_slow per page, including
    the sequential same-window feedback, n_size=0 (window = the pixel
    itself, NOT a no-op), and degenerate/small shapes."""
    from archive_pdf_tools_spark.kernels.native import mask_denoise_native
    from archive_pdf_tools_spark.kernels.optimise import (
        fast_mask_denoise_slow)

    rng = np.random.default_rng(31)
    for _ in range(60):
        h, w = rng.integers(1, 48, 2)
        n = int(rng.integers(0, 4))
        mincnt = int(rng.integers(0, 8))
        m = rng.random((h, w)) < rng.uniform(0.05, 0.9)
        got = mask_denoise_native(m[None], mincnt, n)
        if got is None:      # no compiler in this environment
            return
        assert np.array_equal(got[0].view(bool),
                              fast_mask_denoise_slow(m, mincnt, n)), \
            (h, w, n, mincnt)
    batch = rng.random((7, 33, 29)) < 0.5
    got = mask_denoise_native(batch, 4, 2)
    for b in range(7):
        assert np.array_equal(got[b].view(bool),
                              fast_mask_denoise_slow(batch[b], 4, 2))


def test_dwt2_hh_native_parity():
    """apts_dwt2_hh is bit-identical to the NumPy _dwt_axis pair
    (symmetric pad incl. repeated folds on tiny inputs, ascending-tap
    accumulation)."""
    from archive_pdf_tools_spark.kernels.native import dwt2_hh_native
    from archive_pdf_tools_spark.kernels.noise import _dwt_axis, _DB2_HI

    rng = np.random.default_rng(32)
    for _ in range(60):
        h, w = rng.integers(1, 70, 2)
        a = rng.random((h, w)) * 255
        got = dwt2_hh_native(a, _DB2_HI)
        if got is None:
            return
        ref = _dwt_axis(_dwt_axis(a, _DB2_HI, 0), _DB2_HI, 1)
        assert got.shape == ref.shape and np.array_equal(got, ref), (h, w)


# ------------------------------------------------------------ text layer

from archive_pdf_tools_spark.kernels import textlayer as tl  # noqa: E402

_TEXTS = ["spark", "Grüße", "文書", "Ω", "𝔘𝔫𝔦", "🚀", "שלום", "مرحبا",
          "   ", "", " \t", "a\udcff", "\ud800", "\U0010ffff", "x y",
          "􏿿", "b "]


def _tl_both(word_data, width, height, ppi, font_scale=1):
    return (tl._render_native(word_data, width, height, ppi, font_scale),
            tl._render_text_layer_py(word_data, width, height, ppi,
                                     font_scale))


def _assert_same(nat, py):
    assert nat is not None, "compiled kernel declined"
    assert nat.text_ops == py.text_ops
    assert nat.lines == py.lines
    assert nat.dropped_codepoints == py.dropped_codepoints


def _fuzz_word(rng, x, y, h, para_blank):
    text = "   " if para_blank else _TEXTS[rng.integers(len(_TEXTS))]
    if rng.random() < 0.2:          # random codepoints, surrogates too
        text = "".join(chr(int(c)) for c in
                       rng.integers(0xD700, 0xE100, rng.integers(1, 4)))
    w = int(rng.integers(0, 60))
    bbox = [x, y, x + w, y + h]
    if rng.random() < 0.15:
        bbox = [float(v) + 0.5 for v in bbox]
    if rng.random() < 0.05:
        bbox = [x + w, y + h, x, y]                 # inverted
    size = [0, 0.0, -2, -2.5, int(rng.integers(1, 30)),
            float(np.round(rng.uniform(4, 20), 2)),
            float(rng.uniform(4, 20))][rng.integers(7)]
    return {"text": text, "bbox": bbox, "confidence": 90.0,
            "fontsize": size, "writing_direction": int(rng.integers(4))}


def _fuzz_page(rng):
    paras = []
    for _p in range(int(rng.integers(0, 5))):
        blank = rng.random() < 0.15                 # whitespace-only
        lines = []
        for _l in range(int(rng.integers(0, 5))):
            y = int(rng.integers(0, 3000))
            h = int(rng.integers(0, 40))
            x = left = int(rng.integers(0, 500))
            words = []
            for _w in range(int(rng.integers(0, 7))):
                words.append(_fuzz_word(rng, x, y, h, blank))
                x += int(rng.integers(-5, 70))
            right = x
            slope = [0, 0.0, float(np.round(rng.uniform(-0.05, 0.05), 5)),
                     0.5, -1, 1][rng.integers(6)]
            intercept = [0, int(rng.integers(-5, 5)),
                         float(np.round(rng.uniform(-3, 3), 2))][
                rng.integers(3)]
            r = rng.random()
            if r < 0.15:
                right, slope = left, 0              # l2 == 0
            elif r < 0.25:
                left, right = right, left           # inverted
            lines.append({"bbox": [left, y, right, y + h],
                          "baseline": [slope, intercept], "words": words})
        paras.append({"lines": lines})
    return paras


def test_text_layer_parity_fuzz():
    """C text layer vs the Python body, byte for byte, over RTL and
    unspecified directions, fontsize <= 0 (line-height and default-8
    fallbacks), int/float sizes with and without a font scale, lone
    surrogates and astral codepoints, whitespace-only paragraphs, empty
    lines, zero-length and near-horizontal (clipped) baselines."""
    rng = np.random.default_rng(20261017)
    scales = [1, 1.0, 0.24, 300 / 96, 2, 0.5, 150 / 72.0]
    for i in range(1500):
        page = _fuzz_page(rng)
        ppi = [72.0, 300.0, 96, 150.0, 600.0][i % 5]
        scale = scales[i % len(scales)]
        _assert_same(*_tl_both(page, 612.0 + i, 792, ppi, scale))


def test_text_layer_parity_corpus_pages():
    """Every text page of the synthetic corpus, with the operator's own
    page geometry and font scaler: none declined, all identical."""
    import json

    from archive_pdf_tools_spark.corpus.generate import make_doc
    from archive_pdf_tools_spark.kernels.dpi import (page_geometry,
                                                     pick_font_scaler)

    n = 0
    for d in range(60):
        for s in make_doc(d, max_spans=20)["spans"]:
            if s["kind"] != "text":
                continue
            payload = json.loads(s["text"])
            pg = payload["page"]
            w, h, ppi, _ = page_geometry(pg["w"], pg["h"],
                                         doc_dpi=pg.get("dpi"))
            scale = pick_font_scaler(pg.get("scan_res"), ppi)
            _assert_same(*_tl_both(payload["paragraphs"], w, h, ppi,
                                   scale))
            n += 1
    assert n > 200


def test_text_layer_rounding_edges():
    """Rotation and Td terms that round to -0 print as 0; ties round to
    even; Tf spells int and float sizes as str() does, up to 16
    digits and down to 1e-4."""
    def page(size, baseline=(0.0, 0.0)):
        return [{"lines": [{"bbox": [0, 0, 100, 10],
                            "baseline": list(baseline), "words": [
            {"text": "a", "bbox": [0, 0, 10, 10], "fontsize": size,
             "writing_direction": 1},
            {"text": "b", "bbox": [0, 0, 10, 10], "fontsize": size,
             "writing_direction": 1}]}]}]

    for size in (7, 7.0, 0.0001, 0.1 + 0.2, 123456789012345.6, 1e14,
                 2.0 ** -13, 1 / 3, 9.999999999999999, 10.000000000000002,
                 0.00012345678901234567, 4503599627370495.5 / 8):
        nat, py = _tl_both(page(size), 612.0, 792.0, 72.0)
        _assert_same(nat, py)
        assert b"/f-0-0 " + str(size).encode() + b" Tf" in py.text_ops
    # fontsize <= 0 falls back to the line height, an int when the
    # line's bbox and baseline are ints and the baseline is not clipped
    for baseline, want in (((-1, 2), b" 100 Tf"), ((-1.0, 2), b" 100.0 Tf"),
                           ((0.001, 2), b" 8 Tf")):
        wd = page(0, baseline=baseline)
        nat, py = _tl_both(wd, 612.0, 792.0, 72.0)
        _assert_same(nat, py)
        assert want in py.text_ops
    for w0 in (0.0005, -0.0005, 0.0015, 2.5e-4):
        wd = page(10.0)
        wd[0]["lines"][0]["words"][1]["bbox"] = [w0, 0, 10, 10]
        nat, py = _tl_both(wd, 612.0, 792.0, 72.0)
        _assert_same(nat, py)
        assert b"-0.00000000" not in py.text_ops


@pytest.mark.parametrize("case", [
    "nan_bbox", "inf_bbox", "nan_baseline", "ppi0", "inf_size",
    "nan_size", "bool_size", "float32_bbox", "huge_int", "tiny_size",
    "huge_size", "short_bbox", "no_fontsize", "str_text", "nan_scale",
    "decimal_bbox"])
def test_text_layer_declines_to_python(case):
    """Pages the C kernel cannot reproduce exactly come back None, and
    ``render_text_layer`` then gives the Python body's result or
    raises its exception."""
    from decimal import Decimal

    word = {"text": "ab", "bbox": [1, 2, 30, 12], "fontsize": 10.0,
            "writing_direction": 0}
    line = {"bbox": [1, 2, 100, 12], "baseline": [0.01, -1.0],
            "words": [word, dict(word, bbox=[40, 2, 60, 12])]}
    ppi, scale = 72.0, 1
    if case == "nan_bbox":
        word["bbox"] = [1, float("nan"), 30, 12]
    elif case == "inf_bbox":
        word["bbox"] = [1, 2, float("inf"), 12]
    elif case == "nan_baseline":
        line["baseline"] = [float("nan"), 0.0]
    elif case == "ppi0":
        ppi = 0.0
    elif case == "inf_size":
        word["fontsize"] = float("inf")
    elif case == "nan_size":
        word["fontsize"] = float("nan")
    elif case == "bool_size":
        word["fontsize"] = True
    elif case == "float32_bbox":
        word["bbox"] = [np.float32(v) + np.float32(0.1) for v in (1, 2, 30, 12)]
    elif case == "huge_int":
        word["bbox"] = [2 ** 60 + 1, 2, 2 ** 60 + 7, 12]
    elif case == "tiny_size":
        word["fontsize"] = 1e-5
    elif case == "huge_size":
        word["fontsize"] = 1e16
    elif case == "short_bbox":
        word["bbox"] = [1, 2, 30]
    elif case == "no_fontsize":
        del word["fontsize"]
    elif case == "str_text":
        word["text"] = 5
    elif case == "nan_scale":
        scale = float("nan")
    elif case == "decimal_bbox":
        word["bbox"] = [Decimal(1), 2, 30, 12]
    page = [{"lines": [line]}]
    assert tl._render_native(page, 612.0, 792.0, ppi, scale) is None

    def outcome(fn):
        try:
            return fn(page, 612.0, 792.0, ppi, font_scale=scale)
        except Exception as exc:  # noqa: BLE001
            return type(exc)

    assert outcome(tl.render_text_layer) == outcome(
        tl._render_text_layer_py)


def test_text_layer_self_test_mismatch_falls_back(monkeypatch):
    """A build whose text layer disagrees with Python fails the load
    self-test: the process runs pure Python and ``status()`` says so."""
    monkeypatch.setattr(native, "text_layer_native",
                        lambda *a, **k: b"q 0 0 cm Q\n")
    monkeypatch.setattr(native, "_tried", False)
    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setattr(native, "_status", native._status)
    assert not native.available()
    assert native.status() == "self-test mismatch; pure Python"
    args = (native._TEXT_PAGE, 612.0, 792.0, 72.0, 0.24)
    assert tl.render_text_layer(*args[:4], font_scale=0.24) == \
        tl._render_text_layer_py(*args)


def test_text_layer_error_parity(spark, native_modes):
    """Malformed and non-finite text spans give the same
    ``extract-error:<Class>`` markers and the same partition_metrics
    rows with the compiled kernels on and off (the C kernel declines
    them and the page re-runs in Python)."""
    import json

    from archive_pdf_tools_spark.operators.extract import (
        extract_spans, partition_metrics)

    def span(offset, mutate=None):
        paras = json.loads(json.dumps(native._TEXT_PAGE))
        if mutate:
            mutate(paras[0]["lines"][0]["words"][0], paras)
        payload = {"page": {"w": 1700, "h": 2200, "dpi": 200,
                            "scan_res": 300}, "paragraphs": paras}
        return {"kind": "text", "text": json.dumps(payload),
                "media_ref": "", "offset": offset}

    def setter(key, value):
        return lambda w, _p: w.__setitem__(key, value)

    def huge_line(_w, paras):       # l2 = inf: the projection is nan
        paras[0]["lines"][0]["bbox"] = [-1e200, 10, 1e200, 30]

    spans = [span(0), span(1, setter("bbox", [10, 1e300, 60, 30])),
             span(2, huge_line), span(3, setter("bbox", [10, 10, 60])),
             span(4, setter("fontsize", 1e308)),
             span(5, lambda _w, p: p[0].pop("lines")),
             span(6, setter("fontsize", "big"))]
    rows = [("d0", spans[:4]), ("d1", spans[4:])]
    ddl = ("doc_id string, spans array<struct<kind:string,text:string,"
           "media_ref:string,offset:int>>")
    seen = []
    for _mode in native_modes(spark):
        docs = spark.createDataFrame(rows, ddl)
        ext = extract_spans(docs, num_partitions=2)
        pages = sorted(
            (r["doc_id"], r["in_offset"], tuple(r["warnings"]),
             r["ops_sha"])
            for r in ext.select("doc_id", "in_offset", "warnings",
                                "ops_sha").collect())
        metrics = sorted(
            (r["partition_id"], r["doc_count"], r["page_count"],
             r["text_pages"], r["media_pages"],
             tuple(sorted(r["warning_kinds"])))
            for r in partition_metrics(ext).collect())
        seen.append((pages, metrics))
    assert seen[0] == seen[1]
    kinds = {w for _d, _o, ws, _s in seen[0][0] for w in ws}
    assert {"extract-error:ValueError", "extract-error:OverflowError",
            "extract-error:TypeError", "extract-error:KeyError"} <= kinds


def test_native_cache_tag_tracks_host_isa(monkeypatch, tmp_path):
    """A -march=native build is cached per host ISA fingerprint; the
    portable fallback build has a tag of its own."""
    import subprocess

    built = []

    def fake_build(so, flags, src, cache):
        if "-march=native" in flags and "noisa" in so_isa[0]:
            raise subprocess.CalledProcessError(1, "gcc")
        built.append(so)
        open(so, "w").close()

    host_isa = native._host_isa()
    so_isa = [""]
    monkeypatch.setenv("SPARK_GRAFT_NATIVE_CACHE", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_CKERN_ARCH", raising=False)
    monkeypatch.setattr(native, "_build", fake_build)
    paths = []
    for isa in ("x86_64\0sse2 avx2", "x86_64\0sse2 avx2 avx512f",
                "x86_64\0sse2 avx2", "noisa"):
        so_isa[0] = isa
        monkeypatch.setattr(native, "_host_isa", lambda isa=isa: isa)
        paths.append(native._compile("int x;"))
    native_a, native_b, again, portable = paths
    assert native_a != native_b                   # two hosts, two files
    assert again == native_a and len(built) == 3  # cache hit, no rebuild
    assert portable not in (native_a, native_b)
    cache = native._cache_dir()
    assert portable == native._so_path(cache, ["-O3"], "int x;", "any")
    assert host_isa.startswith(__import__("platform").machine())


def test_text_layer_threads_keep_their_buffers():
    """The foreign call releases the GIL: threads rendering at once
    must each get their own page's bytes."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    rng = np.random.default_rng(7)
    pages = [_fuzz_page(rng) for _ in range(64)]
    want = [tl._render_text_layer_py(p, 612.0, 792.0, 72.0, 0.24)
            for p in pages]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as ex:
            futs = [ex.submit(tl.render_text_layer, p, 612.0, 792.0, 72.0,
                              font_scale=0.24)
                    for _ in range(8) for p in pages]
            got = [f.result(timeout=60) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert got == want * 8


def test_text_layer_output_larger_than_first_buffer():
    """A stream longer than the first buffer estimate (a Tm and a Tf
    for every word, coordinates near 10^15 pt) is rendered again into a
    buffer of the size the kernel reported."""
    import threading

    words = [{"text": "ab", "bbox": [16_000_000 - 9 * i, 2, 16_000_000, 12],
              "fontsize": 10 + i / 7, "writing_direction": 1 + i % 2}
             for i in range(50)]
    page = [{"lines": [{"bbox": [0, 2, 16_000_000, 12],
                        "baseline": [0.0, 0.0], "words": words}]}]
    ints, nums, blob, _lines, _dropped = tl._pack(page)
    first_estimate = 64 + 4 * len(ints) + 24 * len(nums) + len(blob)
    got = []                      # a fresh thread: a fresh buffer
    t = threading.Thread(target=lambda: got.append(
        tl._render_native(page, 612.0, 1e15, 1e-6, 1)))
    t.start()
    t.join(timeout=60)
    assert not t.is_alive()
    py = tl._render_text_layer_py(page, 612.0, 1e15, 1e-6)
    assert len(py.text_ops) > first_estimate
    _assert_same(got[0], py)


# ---------------------------------------------------- text payload parse

def _py_payload(raw: bytes):
    """What the Python path reads from a payload: the page fields (with
    their types) and ``_pack``'s streams, or None where it raises."""
    import orjson

    try:
        payload = orjson.loads(raw)
        page = payload["page"]
        fields = tuple(page[k] for k in ("w", "h", "dpi", "scan_res"))
        return fields, tl._pack(payload["paragraphs"])
    except Exception:  # noqa: BLE001
        return None


def _assert_payload_parity(raw: bytes):
    """The C parse of ``raw`` equals the Python path's reading of it,
    or the C parser declined it; returns whether it accepted."""
    got = native.text_payload_native(raw)
    if got is None:
        return False
    want = _py_payload(raw)
    assert want is not None, raw
    fields, ints, nums, blob, text, lens = got
    w_fields, (w_ints, w_nums, w_blob, w_lines, w_dropped) = want
    assert fields == w_fields, raw
    assert [type(v) for v in fields] == [type(v) for v in w_fields], raw
    assert ints == w_ints and blob == w_blob, raw
    assert nums.tobytes() == w_nums.tobytes(), raw        # -0.0 too
    assert tl._lines(text, lens) == w_lines and not w_dropped
    return True


def _spell(value, rng, escape: bool) -> str:
    """One JSON spelling of ``value``, picked at random: keys in any
    order, whitespace between tokens, floats spelled with exponents,
    and unknown keys holding nested values."""
    import json

    ws = ["", "", " ", "\n  ", "\t", "\r\n"]

    def pad():
        return ws[rng.integers(len(ws))]

    if isinstance(value, dict):
        items = list(value.items())
        rng.shuffle(items)
        if rng.random() < 0.3:
            extra = [None, True, False, -3, 2.5, "x\u00e9", [1, [2.0, {}]],
                     {"k": [None, "\U0001f680"]}, "\\\"/"]
            items.insert(int(rng.integers(len(items) + 1)),
                         ("extra", extra[rng.integers(len(extra))]))
        return "{" + ",".join(
            pad() + json.dumps(k) + pad() + ":" + pad()
            + _spell(v, rng, escape) + pad() for k, v in items) + "}"
    if isinstance(value, list):
        return "[" + ",".join(pad() + _spell(v, rng, escape) + pad()
                              for v in value) + "]"
    if isinstance(value, float) and rng.random() < 0.2:
        return "%.17e" % value          # the same double, exponent-spelt
    return json.dumps(value, ensure_ascii=escape)


def test_text_payload_parity_fuzz():
    """The C payload parser against orjson + ``_pack``, bit for bit:
    key order, unknown keys, whitespace, escaped and raw non-ASCII text,
    exponent spellings, negative zeros; every payload it declines
    (escaped surrogates among them) the Python path decides."""
    rng = np.random.default_rng(20261019)
    accepted = 0
    for i in range(800):
        page = {"w": [2550, 2550.5, 612, -0.0][i % 4],
                "h": [3300, 3300.25, 0][i % 3],
                "dpi": [None, 300, 72.0][i % 3],
                "scan_res": [None, 300, 0, -0.0][i % 4]}
        payload = {"page": page, "paragraphs": _fuzz_page(rng)}
        escape = bool(i % 2)
        raw = _spell(payload, rng, escape).encode("utf-8", "surrogatepass")
        ok = _assert_payload_parity(raw)
        if not escape:
            # raw UTF-8 has no surrogate escapes: the parser declines
            # only what the Python path rejects (lone surrogates)
            assert ok == (_py_payload(raw) is not None), raw
        accepted += ok
    assert accepted > 150


_WORD = '{"text": %s, "bbox": [1, 2, 30, 12], "fontsize": 10.0, ' \
        '"writing_direction": 0}'


def _payload(word=_WORD % '"ab"', page='"w": 1700, "h": 2200, "dpi": 300, '
             '"scan_res": null', line_extra="", top_extra=""):
    return ('{"page": {%s}, "paragraphs": [{"lines": [{"bbox": [1, 2, 100, '
            '12], "baseline": [0.01, -1.0], "words": [%s]%s}]}]%s}'
            % (page, word, line_extra, top_extra)).encode()


_DECLINED = {
    "surrogate_pair_escape": _payload(_WORD % '"\\ud835\\udd18"'),
    "lone_surrogate_escape": _payload(_WORD % '"a\\udcff"'),
    "duplicate_word_key": _payload(_WORD % '"a", "text": "b"'),
    "duplicate_page_key": _payload(page='"w": 1, "h": 2, "dpi": 3, '
                                   '"scan_res": null, "w": 5'),
    "missing_word_key": _payload('{"text": "a", "bbox": [1, 2, 3, 4], '
                                 '"fontsize": 1}'),
    "missing_page_key": _payload(page='"w": 1, "h": 2, "dpi": 3'),
    "missing_paragraphs": b'{"page": {"w": 1, "h": 2, "dpi": 3, '
                          b'"scan_res": 4}}',
    "int_above_int64": _payload(_WORD.replace("30", "9223372036854775808")
                                % '"a"'),
    "int_below_int64": _payload(_WORD.replace("1,", "-9223372036854775809,")
                                % '"a"'),
    "int_above_uint64": _payload(_WORD.replace("30", "1" + "0" * 20) % '"a"'),
    "infinite_spelling": _payload(_WORD.replace("10.0", "1e400") % '"a"'),
    "underflow_spelling": _payload(_WORD.replace("10.0", "1e-400") % '"a"'),
    "nan_literal": _payload(_WORD.replace("10.0", "NaN") % '"a"'),
    "number_too_long": _payload(_WORD.replace("10.0", "1." + "0" * 45)
                                % '"a"'),
    "leading_zero": _payload(_WORD.replace("30", "030") % '"a"'),
    "bool_geometry": _payload(_WORD.replace("30", "true") % '"a"'),
    "null_fontsize": _payload(_WORD.replace("10.0", "null") % '"a"'),
    "number_text": _payload(_WORD % "5"),
    "short_bbox": _payload(_WORD.replace("30, ", "") % '"a"'),
    "string_page_field": _payload(page='"w": "1", "h": 2, "dpi": 3, '
                                  '"scan_res": 4'),
    "lines_not_array": b'{"page": {"w": 1, "h": 2, "dpi": 3, "scan_res": 4}'
                       b', "paragraphs": [{"lines": {}}]}',
    "trailing_bytes": _payload() + b" x",
    "top_level_array": b"[" + _payload() + b"]",
    "bom": b"\xef\xbb\xbf" + _payload(),
    "raw_control_char": _payload(_WORD % '"a\x01"'),
    "bad_escape": _payload(_WORD % '"a\\x"'),
    "deep_unknown_value": _payload(top_extra=', "x": ' + "[" * 80
                                   + "]" * 80),
    "empty": b"",
    "not_json": b"{not json",
    "invalid_utf8": _payload(_WORD % '"a"').replace(b'"a"', b'"a\xff"'),
    "overlong_utf8": _payload(_WORD % '"a"').replace(b'"a"', b'"\xc0\xaf"'),
    "utf8_surrogate": _payload(_WORD % '"a"').replace(b'"a"',
                                                      b'"\xed\xa0\x80"'),
}


# Payloads that stdlib json reads (to a page, or to a ValueError page)
# but orjson rejects: the Python parse is always orjson's, so their page
# is the same error on every executor.
_ORJSON_ERRORS = {"infinite_spelling", "lone_surrogate_escape",
                  "nan_literal"}


@pytest.mark.parametrize("case", sorted(_DECLINED))
def test_text_payload_declines(case):
    """Each class of payload the C parser cannot reproduce is declined,
    and the extraction body then gives the Python path's page (the same
    subs, digest and warnings, or the same ``extract-error`` marker)."""
    import pandas as pd

    from archive_pdf_tools_spark.operators import extract

    raw = _DECLINED[case]
    assert native.text_payload_native(raw) is None
    try:
        text = raw.decode()
    except UnicodeDecodeError:
        return                      # no str to put in a frame
    want = extract._guarded(0, extract.extract_one, "text", text, "")
    if case in _ORJSON_ERRORS:
        assert want == (0, ([], "", ["extract-error:JSONDecodeError"]))
    out = pd.concat(list(extract._extract_batches([pd.DataFrame([{
        "doc_id": "d", "offset": 0, "kind": "text", "text": text,
        "media_ref": ""}])])))
    got = (int(out["in_offset"][0]), (out["subs"][0], out["ops_sha"][0],
                                      list(out["warnings"][0])))
    assert got == want


_ACCEPTED = {
    "negative_zero_int": _payload(_WORD.replace("1,", "-0,") % '"a"'),
    "negative_zero_float": _payload(_WORD.replace("10.0", "-0.0") % '"a"'),
    "exponent_float": _payload(_WORD.replace("10.0", "7e-05") % '"a"'),
    "exponent_int_spelling": _payload(_WORD.replace("10.0", "1E2") % '"a"'),
    "int64_edges": _payload(_WORD.replace("1, 2,", "-9223372036854775808, "
                                          "9223372036854775807,") % '"a"'),
    "escapes": _payload(_WORD % '"q\\"\\\\\\/\\b\\f\\n\\r\\t\\u00e9\\u0000"'),
    "raw_astral": _payload(_WORD % '"\U0001d518\U0001f680"'),
    "escaped_key": _payload(_WORD.replace('"text"', '"te\\u0078t"')
                            % '"a"'),
    "unknown_keys": _payload(line_extra=', "x": {"y": [1.5, null, true]}',
                             top_extra=', "z": "\u00e9"'),
    "reordered_keys": ('{"paragraphs": [{"lines": [{"words": [{'
                       '"writing_direction": 1, "fontsize": 9, "text": '
                       '"b", "bbox": [5, 6, 7, 8]}], "baseline": [0, 0], '
                       '"bbox": [1, 2, 3, 4]}]}], "page": {"scan_res": 1.5, '
                       '"dpi": null, "h": 2, "w": 1}}').encode(),
    "whitespace": _payload().replace(b", ", b" \r\n,\t ").replace(
        b": ", b"\n:\n"),
    "blank_paragraph": _payload(_WORD % '"\\u3000 \\u2028"'),
}


@pytest.mark.parametrize("case", sorted(_ACCEPTED))
def test_text_payload_accepts_exactly(case):
    """Spellings the C parser reads exactly as orjson does are not
    declined, and give the Python path's streams bit for bit."""
    assert _assert_payload_parity(_ACCEPTED[case])


def test_text_payload_ink_is_str_strip():
    """Which words count as ink is ``str.strip()``'s answer for every
    whitespace code point Python knows, its neighbours and the whole
    BMP below U+3100, raw and escaped: a paragraph of one such word
    is kept or left out exactly as ``_pack`` does."""
    import json
    import sys

    space = [c for c in range(sys.maxunicode + 1) if chr(c).isspace()]
    cps = sorted(({c + d for c in space for d in (-1, 0, 1)}
                  | set(range(0x3100)) | {0x1F680, 0x10FFFF})
                 - set(range(0xD800, 0xE000)))
    assert max(space) < 0x3100
    paras = [{"lines": [{"bbox": [0, 0, 10, 10], "baseline": [0, 0],
                         "words": [{"text": chr(c), "bbox": [0, 0, 5, 5],
                                    "fontsize": 8,
                                    "writing_direction": 0}]}]}
             for c in cps]
    for escape in (False, True):
        # escaped, an astral code point is a surrogate pair: declined
        raw = json.dumps({"page": {"w": 1, "h": 1, "dpi": None,
                                   "scan_res": None},
                          "paragraphs": paras[:-2] if escape else paras},
                         ensure_ascii=escape).encode()
        assert _assert_payload_parity(raw)


def test_text_payload_declines_no_corpus_page():
    """The generator's text pages (raw UTF-8 astral words, exponent and
    negative-zero spellings among them) all parse in C, so none falls
    back to the Python parse, and each equals orjson + ``_pack``."""
    from archive_pdf_tools_spark.corpus.generate import make_doc

    n = 0
    for d in range(150):
        for s in make_doc(d, max_spans=40)["spans"]:
            if s["kind"] == "text":
                assert _assert_payload_parity(s["text"].encode()), s["text"]
                n += 1
    assert n > 1000


def test_text_payload_from_arrow_buffers():
    """The body hands the parser each row's bytes where they sit in the
    Arrow data buffer, sliced arrays included; a declined or null row
    comes back as its ``str`` (or None) for the Python path."""
    import pyarrow as pa

    from archive_pdf_tools_spark.operators.extract import _Payloads

    raws = [_ACCEPTED["raw_astral"], None, _DECLINED["not_json"],
            _ACCEPTED["escapes"], b""]
    col = pa.array([None if r is None else r.decode() for r in raws],
                   pa.string())
    for offset in (0, 1):
        rows = _Payloads(col.slice(offset))
        for slot, raw in enumerate(raws[offset:]):
            got = rows.parse(slot)
            if raw in (_ACCEPTED["raw_astral"], _ACCEPTED["escapes"]):
                packed = got["paragraphs"].packed
                want = _py_payload(raw)[1]
                assert packed[:3] == want[:3]
                assert list(packed[3]) == want[3]
                assert got["paragraphs"].paragraphs() == \
                    __import__("json").loads(raw)["paragraphs"]
            else:
                assert got is None
                assert rows.value(slot) == (None if raw is None
                                            else raw.decode())
    # an IPC stream whose offsets point past the data buffer reads
    # without complaint; no row of it reaches the parser
    raw = _ACCEPTED["raw_astral"]
    batch = pa.record_batch([pa.array([raw.decode()])], names=["text"])
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    stream = sink.getvalue().to_pybytes()
    at = stream.rindex(np.array([0, len(raw)], np.int32).tobytes())
    stream = (stream[:at] + np.array([0, len(raw) + 4096], np.int32)
              .tobytes() + stream[at + 8:])      # the body's offsets
    bad = pa.ipc.open_stream(stream).read_next_batch().column(0)
    assert _Payloads(bad).parse(0) is None


def test_text_payload_threads_keep_their_buffers():
    """The parse releases the GIL too: threads parsing at once must each
    get their own payload's streams, not another thread's."""
    import json
    import sys
    from concurrent.futures import ThreadPoolExecutor

    rng = np.random.default_rng(8)
    raws = [json.dumps({"page": {"w": 1 + i, "h": 2, "dpi": None,
                                 "scan_res": None},
                        "paragraphs": _fuzz_page(rng)},
                       ensure_ascii=False).encode("utf-8", "surrogatepass")
            for i in range(64)]
    want = [native.text_payload_native(r) for r in raws]
    assert sum(w is not None for w in want) > 20
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as ex:
            futs = [ex.submit(native.text_payload_native, r)
                    for _ in range(8) for r in raws]
            got = [f.result(timeout=60) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert got == want * 8


def test_text_payload_self_test_mismatch_falls_back(monkeypatch):
    """A build whose payload parser disagrees with ``_pack`` fails the
    load self-test too: the process runs pure Python."""
    got = native.text_payload_native(_ACCEPTED["raw_astral"])
    monkeypatch.setattr(native, "text_payload_native",
                        lambda *a, **k: got)       # another page's parse
    monkeypatch.setattr(native, "_tried", False)
    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setattr(native, "_status", native._status)
    assert not native.available()
    assert native.status() == "self-test mismatch; pure Python"
