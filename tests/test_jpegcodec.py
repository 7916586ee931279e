"""Baseline JPEG codec (kernels/jpegcodec.py): roundtrip bounds, exact
invariants, table pins, crash-safety fuzz, and the DCT page flowing
through the full PDF -> MRC extraction path (the round-3 S2 gap)."""

import numpy as np
import pytest

from archive_pdf_tools_spark.kernels.jpegcodec import (
    HUFF_AC_LUMA, HUFF_DC_LUMA, ZIGZAG, JpegError, _canonical_codes,
    decode_baseline, encode_baseline)


def test_zigzag_is_the_published_order():
    # ISO/IEC 10918-1 Figure 5 (spot-pin head and tail; the generator
    # covers the middle by construction).
    assert list(ZIGZAG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert list(ZIGZAG[-4:]) == [47, 55, 62, 63]
    assert sorted(ZIGZAG) == list(range(64))


def test_annex_k_huffman_codes_are_canonical():
    dc = _canonical_codes(*HUFF_DC_LUMA)
    # T.81 Table K.3: category 0 -> '00' (2 bits), 1 -> '010', 11 -> 9x'1'+'0'
    assert dc[0] == (0b00, 2)
    assert dc[1] == (0b010, 3)
    assert dc[11] == (0b111111110, 9)
    ac = _canonical_codes(*HUFF_AC_LUMA)
    assert ac[0x00] == (0b1010, 4)          # EOB (Table K.5)
    assert ac[0x01] == (0b00, 2)
    assert ac[0xF0] == (0b11111111001, 11)  # ZRL


def test_constant_gray_roundtrip_exact_at_q100():
    for v in (0, 1, 127, 200, 255):
        img = np.full((17, 23), v, dtype=np.uint8)
        assert np.array_equal(decode_baseline(encode_baseline(img, 100)), img)


def test_gray_roundtrip_bounds():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (41, 57), dtype=np.uint8)
    dec = decode_baseline(encode_baseline(img, quality=95))
    err = np.abs(dec.astype(int) - img.astype(int))
    assert dec.shape == img.shape and dec.dtype == np.uint8
    assert err.mean() < 5 and err.max() < 48


def test_rgb_roundtrip_bounds_444():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
    dec = decode_baseline(encode_baseline(img, quality=90))
    err = np.abs(dec.astype(int) - img.astype(int))
    assert dec.shape == img.shape
    assert err.mean() < 10 and err.max() < 96   # chroma error on noise


def test_smooth_rgb_420_and_422():
    y, x = np.mgrid[0:37, 0:52]
    img = np.stack([(x + y) % 256, x * 3 % 256, y * 5 % 256],
                   axis=-1).astype(np.uint8)
    for sub in ((2, 2), (2, 1)):
        dec = decode_baseline(encode_baseline(img, quality=92,
                                              subsample=sub))
        err = np.abs(dec.astype(int) - img.astype(int))
        assert dec.shape == img.shape
        assert err.mean() < 6 and err.max() < 64, sub


def test_restart_markers_do_not_change_reconstruction():
    """DRI only repackages the entropy stream (DC predictions reset at
    RSTn); the quantized coefficients are identical, so the decoded
    pixels must be bit-for-bit equal with and without restarts."""
    y, x = np.mgrid[0:37, 0:52]
    img = np.stack([(x + y) % 256, x * 3 % 256, y * 5 % 256],
                   axis=-1).astype(np.uint8)
    plain = decode_baseline(encode_baseline(img, 92, subsample=(2, 2)))
    for ri in (1, 3, 7):
        rst = decode_baseline(encode_baseline(img, 92, subsample=(2, 2),
                                              restart_interval=ri))
        assert np.array_equal(plain, rst), ri


def test_edge_geometries():
    rng = np.random.default_rng(5)
    for shape in ((1, 1), (8, 8), (9, 17), (8, 9, 3), (1, 300)):
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        dec = decode_baseline(encode_baseline(img, quality=93))
        assert dec.shape == img.shape


def test_fill_bytes_before_markers_tolerated():
    img = np.full((9, 9), 77, dtype=np.uint8)
    data = encode_baseline(img, 100)
    # inject a fill 0xFF before the SOF0 marker
    i = data.find(b"\xff\xc0")
    padded = data[:i] + b"\xff" + data[i:]
    assert np.array_equal(decode_baseline(padded), img)


def test_fill_bytes_inside_scan_before_stuffed_pair():
    """A fill 0xFF immediately preceding a stuffed FF00 pair inside the
    entropy data must be skipped (libjpeg convention), not decoded as an
    extra data byte."""
    rng = np.random.default_rng(11)
    data = None
    for _ in range(50):
        img = rng.integers(0, 256, (24, 24), dtype=np.uint8)
        cand = encode_baseline(img, quality=30)
        sos = cand.find(b"\xff\xda")
        i = cand.find(b"\xff\x00", sos + 4)
        if i != -1 and i < len(cand) - 4:
            data, pos, ref = cand, i, img
            break
    assert data is not None, "no stuffed pair found in any candidate"
    plain = decode_baseline(data)
    padded = data[:pos] + b"\xff" + data[pos:]
    assert np.array_equal(decode_baseline(padded), plain)


def test_undecodable_and_unsupported_raise_jpeg_error():
    from archive_pdf_tools_spark.corpus.pdfgen import synth_jpeg

    with pytest.raises(JpegError):
        decode_baseline(b"not a jpeg")
    with pytest.raises(JpegError):
        decode_baseline(synth_jpeg(33, 21, gray=True))   # no DQT/DHT
    # progressive marker (SOF2) must be rejected, not mis-decoded
    img = np.full((9, 9), 10, dtype=np.uint8)
    data = bytearray(encode_baseline(img, 90))
    data[data.find(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(JpegError):
        decode_baseline(bytes(data))


def test_malformed_streams_raise_jpeg_error_never_other_types():
    """The decoder's exception contract: every malformed/adversarial
    stream raises JpegError specifically (extract_page_images' fallback
    catches only that), covering the round-4 review findings."""
    img = np.full((9, 9), 50, dtype=np.uint8)
    data = encode_baseline(img, 90)

    # 1. SOF segment truncated via a lying length field -> used to be
    #    a bare IndexError
    i = data.find(b"\xff\xc0")
    cut_sof = data[:i + 2] + b"\x00\x02" + data[i + 4 + 15:]
    with pytest.raises(JpegError):
        decode_baseline(cut_sof)

    # 2. SOS parameter block truncated
    j = data.find(b"\xff\xda")
    cut_sos = data[:j + 2] + b"\x00\x02" + data[j + 10:]
    with pytest.raises(JpegError):
        decode_baseline(cut_sos)

    # 3. decompression bomb: SOF declares 65535x65535 -> rejected before
    #    any coefficient buffer is allocated
    bomb = bytearray(data)
    k = bomb.find(b"\xff\xc0") + 5
    bomb[k:k + 4] = b"\xff\xff\xff\xff"
    with pytest.raises(JpegError, match="max_pixels"):
        decode_baseline(bytes(bomb))

    # 4. non-divisible sampling factors (Y 3x1 vs Cb/Cr 2x1) pass the
    #    1..4 range check but cannot replication-upsample
    rgb = np.zeros((9, 9, 3), dtype=np.uint8)
    d3 = bytearray(encode_baseline(rgb, 90))
    i = d3.find(b"\xff\xc0")
    # layout: marker(2) len(2) precision(1) h(2) w(2) nc(1) then
    # id,hv,tq triplets -> first hv byte at i+11
    d3[i + 11] = 0x31               # Y h=3,v=1
    d3[i + 14] = 0x21               # Cb h=2,v=1
    with pytest.raises(JpegError, match="non-divisible"):
        decode_baseline(bytes(d3))


def test_fuzz_truncation_and_corruption_never_hang():
    """Every truncation point and a seeded set of single-byte
    corruptions either decodes to a well-formed uint8 array or raises
    JpegError — no other exception type, no unbounded work."""
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (24, 31), dtype=np.uint8)
    data = encode_baseline(img, quality=85, restart_interval=2)
    for cut in range(0, len(data), 7):
        try:
            out = decode_baseline(data[:cut])
            assert isinstance(out, np.ndarray) and out.dtype == np.uint8
        except JpegError:
            pass
    for _ in range(200):
        pos = int(rng.integers(0, len(data)))
        val = int(rng.integers(0, 256))
        mut = data[:pos] + bytes([val]) + data[pos + 1:]
        try:
            out = decode_baseline(mut)
            assert isinstance(out, np.ndarray) and out.dtype == np.uint8
        except JpegError:
            pass


def test_dct_page_flows_through_full_mrc_extraction(spark):
    """End-to-end S2 closure: a PDF page whose image is a real baseline
    JPEG (/DCTDecode) produces a decoded raster via extract_page_images
    and an MRC media span through the PDF front door — not the
    metadata-only skip of rounds 2-3."""
    from archive_pdf_tools_spark.corpus.pdfgen import build_pdf
    from archive_pdf_tools_spark.operators.pdfcomp import pdfs_to_spans
    from archive_pdf_tools_spark.sources.pdf_meta import (
        extract_page_images, parse_pdf)

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (40, 32), dtype=np.uint8)
    jpg = encode_baseline(px, quality=95)
    blob = build_pdf([{"width": 612, "height": 792, "text": "dct page",
                       "images": [{"w": 32, "h": 40, "gray": True,
                                   "dct": True, "data": jpg}]}])

    im = parse_pdf(blob)["pages"][0]["images"][0]
    assert (im["width"], im["height"], im["format"]) == (32, 40, "JPEG")

    rasters = extract_page_images(blob, 0)
    assert len(rasters) == 1
    _xref, arr = rasters[0]
    assert arr.shape == (40, 32) and arr.dtype == np.uint8
    err = np.abs(arr.astype(int) - px.astype(int))
    assert err.mean() < 5                     # decoded pixels, not metadata

    df = spark.createDataFrame([("d", bytearray(blob))],
                               "doc_id string, pdf binary")
    spans = [s.asDict() for r in pdfs_to_spans(df, hocr_col=None).collect()
             for s in r["spans"]]
    kinds = [s["kind"] for s in spans]
    assert "media" in kinds and "pdf_error" not in kinds
    media = next(s for s in spans if s["kind"] == "media")
    assert "#mrc=" in media["media_ref"]

    # a non-decodable (fake) DCT stream still degrades gracefully
    from archive_pdf_tools_spark.corpus.pdfgen import synth_jpeg
    blob2 = build_pdf([{"width": 612, "height": 792, "text": "meta only",
                        "images": [{"w": 33, "h": 21, "gray": True,
                                    "dct": True,
                                    "data": synth_jpeg(33, 21, True)}]}])
    assert extract_page_images(blob2, 0) == []


def test_property_roundtrip_bounds_and_determinism():
    """Hypothesis sweep: arbitrary small images, qualities, subsampling
    and restart intervals round-trip within a quantization-scaled error
    bound, deterministically, with gray shape preserved."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 40), h=st.integers(1, 40),
        gray=st.booleans(),
        quality=st.integers(35, 100),
        sub=st.sampled_from([(1, 1), (2, 1), (2, 2)]),
        rst=st.integers(0, 4),
        seed=st.integers(0, 10**6))
    def check(w, h, gray, quality, sub, rst, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if gray else (h, w, 3)
        # smooth-ish content so the error bound is quality-driven, not
        # dominated by chroma noise
        base = rng.integers(0, 256)
        img = np.clip(base + rng.integers(-40, 41, shape).cumsum(axis=0)
                      % 97 - 48, 0, 255).astype(np.uint8)
        data = encode_baseline(img, quality=quality, subsample=sub,
                               restart_interval=rst)
        dec = decode_baseline(data)
        assert dec.shape == img.shape and dec.dtype == np.uint8
        assert np.array_equal(decode_baseline(data), dec)  # deterministic
        err = np.abs(dec.astype(int) - img.astype(int))
        # generous but real bound: worst quant step at q35 is ~2x the
        # Annex K table; chroma subsampling doubles the chroma error
        assert err.mean() < 40
        if quality >= 90 and sub == (1, 1):
            assert err.mean() < 12

    check()


def test_transforms_match_the_t81_definition_sums():
    """Pin IDCT and FDCT against the direct O(N^4) T.81 A.3.3 sums.

    Round-trip tests cannot see a MATCHED transform bug (an encoder and
    decoder that agree on the same wrong basis still round-trip); the
    spec formula is the independent oracle.  Tolerance is far inside
    0.5 LSB of the pixel domain."""
    from archive_pdf_tools_spark.kernels.jpegcodec import DCT_A, _blocks_mul

    def c(u):
        return 1.0 / np.sqrt(2.0) if u == 0 else 1.0

    def idct_ref(S):
        out = np.zeros((8, 8))
        for y in range(8):
            for x in range(8):
                acc = 0.0
                for v in range(8):
                    for u in range(8):
                        acc += (c(u) * c(v) * S[v, u]
                                * np.cos((2 * x + 1) * u * np.pi / 16)
                                * np.cos((2 * y + 1) * v * np.pi / 16))
                out[y, x] = acc / 4.0
        return out

    def fdct_ref(s):
        out = np.zeros((8, 8))
        for v in range(8):
            for u in range(8):
                acc = 0.0
                for y in range(8):
                    for x in range(8):
                        acc += (s[y, x]
                                * np.cos((2 * x + 1) * u * np.pi / 16)
                                * np.cos((2 * y + 1) * v * np.pi / 16))
                out[v, u] = c(u) * c(v) * acc / 4.0
        return out

    rng = np.random.default_rng(42)
    # random coefficient blocks spanning the legal baseline range, plus
    # the degenerate corners (all-zero, lone DC, lone highest AC)
    coefs = list(rng.integers(-1024, 1024, size=(6, 8, 8)).astype(float))
    coefs.append(np.zeros((8, 8)))
    dc_only = np.zeros((8, 8)); dc_only[0, 0] = 1016.0
    hi_ac = np.zeros((8, 8)); hi_ac[7, 7] = -1024.0
    coefs += [dc_only, hi_ac]
    blocks = np.stack(coefs)

    idct = _blocks_mul(blocks, DCT_A.T, DCT_A)     # decoder's inverse
    for i, S in enumerate(blocks):
        assert np.allclose(idct[i], idct_ref(S), atol=1e-8), f"IDCT blk {i}"

    pix = rng.integers(-128, 128, size=(6, 8, 8)).astype(float)
    fdct = _blocks_mul(pix, DCT_A, DCT_A.T)        # encoder's forward
    for i, s in enumerate(pix):
        assert np.allclose(fdct[i], fdct_ref(s), atol=1e-8), f"FDCT blk {i}"


def test_transforms_are_bit_stable_across_hosts():
    """Both transform passes give exactly the bits of the in-order sum
    with every product and partial sum rounded on its own (plain Python
    floats).  A BLAS GEMM gives other bits on hosts whose OpenBLAS
    kernel fuses multiply-add, and then a coefficient on a quantiser's
    .5 boundary, and every md5 pinned over encoded bytes, follows the
    host."""
    from archive_pdf_tools_spark.kernels.jpegcodec import DCT_A, _blocks_mul

    def mul_ref(a, b):
        return [[sum_in_order(a[i][k] * b[k][j] for k in range(8))
                 for j in range(8)] for i in range(8)]

    def sum_in_order(terms):
        terms = iter(terms)
        acc = next(terms)
        for t in terms:
            acc += t
        return acc

    rng = np.random.default_rng(7)
    coefs = rng.integers(-1024, 1024, size=(24, 8, 8)).astype(float)
    pix = rng.integers(-128, 128, size=(24, 8, 8)).astype(float)
    A, At = DCT_A.tolist(), DCT_A.T.tolist()
    for blocks, left, right in ((coefs, At, A), (pix, A, At)):
        got = _blocks_mul(blocks, np.array(left), np.array(right))
        for i, blk in enumerate(blocks):
            want = mul_ref(left, mul_ref(blk.tolist(), right))
            assert got[i].tolist() == want, f"block {i}"


def test_progressive_decodes_bit_identical_to_baseline():
    """SOF2 parity oracle: encode_progressive shares encode_baseline's
    quantized coefficients, so the decoded pixels must match the
    baseline file's decode BIT-FOR-BIT across gray/RGB, subsampling,
    quality and restart intervals — any defect in spectral selection,
    successive approximation, EOBn runs or refinement bits breaks it."""
    rng = np.random.default_rng(8)
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_progressive

    for trial in range(10):
        gray = trial % 2 == 0
        h = int(rng.integers(8, 70))
        w = int(rng.integers(8, 70))
        shape = (h, w) if gray else (h, w, 3)
        sub = (1, 1) if gray else [(1, 1), (2, 2), (2, 1)][trial % 3]
        q = [92, 75, 50][trial % 3]
        rst = [0, 0, 3][trial % 3]
        img = np.clip(180 + rng.integers(-60, 61, shape).cumsum(axis=0)
                      % 120 - 60, 0, 255).astype(np.uint8)
        b = encode_baseline(img, quality=q, subsample=sub,
                            restart_interval=rst)
        p = encode_progressive(img, quality=q, subsample=sub,
                               restart_interval=rst)
        assert np.array_equal(decode_baseline(b), decode_baseline(p)), \
            (trial, gray, h, w, sub, q, rst)


def test_sof1_extended_sequential_decodes():
    """SOF1 is bit-identical baseline decoding at 8 bits: patching the
    SOF marker must not change the output."""
    img = np.arange(64 * 48, dtype=np.uint8).reshape(48, 64) % 251
    data = bytearray(encode_baseline(img, 90))
    i = bytes(data).find(b"\xff\xc0")
    ref = decode_baseline(bytes(data))
    data[i + 1] = 0xC1
    assert np.array_equal(decode_baseline(bytes(data)), ref)


def test_unsupported_processes_still_raise():
    img = np.full((16, 16), 50, np.uint8)
    data = bytearray(encode_baseline(img, 90))
    i = bytes(data).find(b"\xff\xc0")
    # 0xC3 (lossless) decodes since round 7 and is exercised above;
    # hierarchical/arithmetic processes still raise
    for marker in (0xC5, 0xC7, 0xC9, 0xCA, 0xCB):
        d = bytearray(data)
        d[i + 1] = marker
        with pytest.raises(JpegError):
            decode_baseline(bytes(d))


def test_progressive_fuzz_truncation_and_corruption():
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_progressive

    rng = np.random.default_rng(14)
    img = rng.integers(0, 256, (24, 32)).astype(np.uint8)
    data = bytearray(encode_progressive(img, 80))
    for i in range(2, len(data), 13):
        try:
            decode_baseline(bytes(data[:i]))
        except JpegError:
            pass
    for _ in range(150):
        d = bytearray(data)
        for _ in range(int(rng.integers(1, 5))):
            d[int(rng.integers(0, len(d)))] = int(rng.integers(0, 256))
        try:
            decode_baseline(bytes(d))
        except JpegError:
            pass


# ------------------------------------------------ libjpeg-parity mode

def test_fancy_upsample_matches_published_libjpeg_loops():
    """`_fancy_upsample` / `_ycc_rgb_libjpeg` transcribe libjpeg's
    jdsample.c h2v1/h2v2/h1v2_fancy_upsample and jdcolor.c fixed-point
    tables.  Parity oracle: a direct per-pixel transcription of the
    published loops (no libjpeg exists in-container to link against)."""
    from archive_pdf_tools_spark.kernels.jpegcodec import (
        _fancy_upsample, _ycc_rgb_libjpeg)

    rng = np.random.default_rng(17)

    def slow_h2v1(s):
        h, w = s.shape
        out = np.zeros((h, 2 * w), np.int32)
        for r in range(h):
            out[r, 0] = s[r, 0]
            out[r, 1] = (3 * s[r, 0] + s[r, 1] + 2) >> 2
            for c in range(1, w - 1):
                v = s[r, c] * 3
                out[r, 2 * c] = (v + s[r, c - 1] + 1) >> 2
                out[r, 2 * c + 1] = (v + s[r, c + 1] + 2) >> 2
            out[r, 2 * w - 2] = (3 * s[r, w - 1] + s[r, w - 2] + 1) >> 2
            out[r, 2 * w - 1] = s[r, w - 1]
        return out

    def slow_h2v2(s):
        h, w = s.shape
        out = np.zeros((2 * h, 2 * w), np.int32)
        for orow in range(2 * h):
            tr = orow // 2
            nr = tr - 1 if orow % 2 == 0 else tr + 1
            nr = min(max(nr, 0), h - 1)
            cs = [int(s[tr, c]) * 3 + int(s[nr, c]) for c in range(w)]
            out[orow, 0] = (cs[0] * 4 + 8) >> 4
            out[orow, 1] = (cs[0] * 3 + cs[1] + 7) >> 4
            for c in range(1, w - 1):
                out[orow, 2 * c] = (cs[c] * 3 + cs[c - 1] + 8) >> 4
                out[orow, 2 * c + 1] = (cs[c] * 3 + cs[c + 1] + 7) >> 4
            out[orow, 2 * w - 2] = (cs[w - 1] * 3 + cs[w - 2] + 8) >> 4
            out[orow, 2 * w - 1] = (cs[w - 1] * 4 + 7) >> 4
        return out

    for shape in [(8, 12), (5, 7), (16, 16), (3, 2)]:
        s = rng.integers(0, 256, shape).astype(np.uint8)
        got = _fancy_upsample(s, 2, 2)
        assert np.array_equal(got, slow_h2v2(s.astype(np.int32))), shape
        got1 = _fancy_upsample(s, 1, 2)
        assert np.array_equal(got1, slow_h2v1(s.astype(np.int32))), shape
        # h1v2 is h2v1 transposed by symmetry of the published loop
        got2 = _fancy_upsample(s, 2, 1)
        assert np.array_equal(got2, slow_h2v1(s.T.astype(np.int32)).T), \
            shape
    # unsupported ratios fall back (caller replicates, like libjpeg)
    assert _fancy_upsample(np.zeros((4, 4), np.uint8), 4, 4) is None

    # colour conversion vs the table-based loop (jdcolor.c)
    def fix(x):
        return int(x * 65536 + 0.5)

    y = rng.integers(0, 256, (9, 11)).astype(np.uint8)
    cb = rng.integers(0, 256, (9, 11)).astype(np.uint8)
    cr = rng.integers(0, 256, (9, 11)).astype(np.uint8)
    got = _ycc_rgb_libjpeg(y, cb, cr)
    for (rr, cc) in [(0, 0), (4, 7), (8, 10), (3, 3)]:
        yy, cbv, crv = int(y[rr, cc]), int(cb[rr, cc]) - 128, \
            int(cr[rr, cc]) - 128
        r_ = yy + ((fix(1.40200) * crv + 32768) >> 16)
        g_ = yy + ((-fix(0.34414) * cbv - fix(0.71414) * crv
                    + 32768) >> 16)
        b_ = yy + ((fix(1.77200) * cbv + 32768) >> 16)
        exp = [min(max(v, 0), 255) for v in (r_, g_, b_)]
        assert list(got[rr, cc]) == exp


def test_fancy_decode_end_to_end():
    """fancy_upsample=True decodes 4:2:0 streams through the libjpeg-
    parity path: same shape, plausible pixels, differing from the
    nearest-neighbour default exactly where chroma smoothing applies;
    4:4:4 streams (no upsampling) differ only by the colour rounding."""
    rng = np.random.default_rng(23)
    yy, xx = np.mgrid[0:33, 0:46]
    base = np.clip(120 + 60 * np.sin(xx / 5.0) + 40 * np.cos(yy / 7.0),
                   0, 255).astype(np.uint8)
    img = np.stack([base, 255 - base, np.roll(base, 5, 1)], axis=-1)
    d420 = encode_baseline(img, quality=92, subsample=(2, 2))
    plain = decode_baseline(d420)
    fancy = decode_baseline(d420, fancy_upsample=True)
    assert fancy.shape == plain.shape == img.shape
    assert not np.array_equal(fancy, plain)      # smoothing engaged
    # both stay close to the source on smooth content
    assert np.abs(fancy.astype(int) - img.astype(int)).mean() < 12
    # grayscale path untouched by the flag
    dg = encode_baseline(base, quality=95)
    assert np.array_equal(decode_baseline(dg, fancy_upsample=True),
                          decode_baseline(dg))


# ------------------------------------------------------ lossless (SOF3)

def test_lossless_roundtrip_every_predictor_every_layout():
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_lossless

    rng = np.random.default_rng(71)
    for pred in range(1, 8):
        for interleave in (True, False):
            img = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
            dec = decode_baseline(
                encode_lossless(img, predictor=pred, interleave=interleave))
            assert dec.dtype == np.uint8
            assert np.array_equal(dec, img), (pred, interleave)
    # grayscale, 1-pixel-wide, 1-pixel-tall edge geometries
    for shape in ((1, 1), (1, 9), (9, 1), (5, 7)):
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(
            decode_baseline(encode_lossless(img, predictor=4)), img)


def test_lossless_16bit_and_odd_precisions():
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_lossless

    rng = np.random.default_rng(72)
    img16 = rng.integers(0, 65536, (9, 11), dtype=np.uint16)
    dec = decode_baseline(encode_lossless(img16, predictor=1))
    assert dec.dtype == np.uint16 and np.array_equal(dec, img16)
    # 12-bit samples in an explicit precision=12 frame (medical shape)
    img12 = rng.integers(0, 4096, (8, 10), dtype=np.uint16)
    dec = decode_baseline(encode_lossless(img12, predictor=4, precision=12))
    assert dec.dtype == np.uint16 and np.array_equal(dec, img12)
    # 2-bit floor of the 2..16 range
    img2 = rng.integers(0, 4, (6, 6), dtype=np.uint8)
    assert np.array_equal(
        decode_baseline(encode_lossless(img2, predictor=7, precision=2)),
        img2)


def test_lossless_point_transform_and_component_counts():
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_lossless

    rng = np.random.default_rng(73)
    img = rng.integers(0, 256, (8, 8), dtype=np.uint8) & 0xF8
    dec = decode_baseline(encode_lossless(img, predictor=6,
                                          point_transform=3))
    assert np.array_equal(dec, img)        # decoder re-applies << Pt
    # 2- and 4-component frames (alpha / CMYK-ish) are legal in SOF3
    for nc in (2, 4):
        img = rng.integers(0, 256, (6, 7, nc), dtype=np.uint8)
        for interleave in (True, False):
            dec = decode_baseline(
                encode_lossless(img, predictor=2, interleave=interleave))
            assert np.array_equal(dec, img)


def test_lossless_handwritten_stream_pins_spec_semantics():
    """Asymmetric pin: a byte stream assembled by hand from the T.81
    Annex H equations (not via encode_lossless) must decode to the
    hand-computed samples.  The flat length-5 fixture table makes code
    words equal their category value, so the stream is writable by
    inspection.  img = [[130, 131], [129, 132]], predictor 1, P=8:
    diffs are +2, +1 (first line: 128 default then Ra), -1, +3
    (second line: Rb at the line start then Ra)."""
    from archive_pdf_tools_spark.kernels.jpegcodec import (
        LOSSLESS_BITS, LOSSLESS_VALS, encode_lossless)

    codes = _canonical_codes(LOSSLESS_BITS, LOSSLESS_VALS)
    assert codes[2] == (2, 5) and codes[16] == (16, 5)  # code == category

    bits = []

    def put(diff):
        t = abs(diff).bit_length()
        bits.extend(int(b) for b in format(t, "05b"))
        if 0 < t < 16:
            raw = diff if diff >= 0 else diff + (1 << t) - 1
            bits.extend(int(b) for b in format(raw, f"0{t}b"))

    for d in (2, 1, -1, 3):
        put(d)
    while len(bits) % 8:
        bits.append(1)                      # pad with 1s (F.1.2.3)
    scan = b""
    for i in range(0, len(bits), 8):
        b = int("".join(map(str, bits[i:i + 8])), 2)
        scan += bytes([b]) + (b"\x00" if b == 0xFF else b"")  # stuffing


    sof = bytes([8]) + (2).to_bytes(2, "big") + (2).to_bytes(2, "big") \
        + bytes([1, 1, 0x11, 0])
    dht = bytes([0x00]) + bytes(LOSSLESS_BITS) + bytes(LOSSLESS_VALS)
    sos = bytes([1, 1, 0x00, 1, 0, 0])      # pred 1, Se 0, Pt 0
    data = (b"\xff\xd8"
            + b"\xff\xc3" + (len(sof) + 2).to_bytes(2, "big") + sof
            + b"\xff\xc4" + (len(dht) + 2).to_bytes(2, "big") + dht
            + b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
            + scan + b"\xff\xd9")
    assert np.array_equal(decode_baseline(data),
                          np.array([[130, 131], [129, 132]], np.uint8))
    # and the encoder emits this exact stream for the same image
    assert encode_lossless(np.array([[130, 131], [129, 132]], np.uint8),
                           predictor=1) == data


def test_lossless_mod65536_wraparound_and_ssss16():
    """Differences of magnitude 32768 ride category 16 with zero raw
    bits (T.81 H.1.2.2's mod-65536 arithmetic): sample 0 against the
    2^15 default prediction exercises it exactly."""
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_lossless

    img = np.array([[0, 65535], [32768, 1]], dtype=np.uint16)
    data = encode_lossless(img, predictor=1)
    assert np.array_equal(decode_baseline(data), img)


def test_lossless_predictor4_flat_gradient_codes_to_zeros():
    """Ra + Rb - Rc is exact on any plane x = a + b*col + c*row, so the
    interior diffs are all category 0 — a semantic check on the
    predictor definition, visible as stream size."""
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_lossless

    yy, xx = np.mgrid[0:32, 0:32]
    img = (3 * xx + 5 * yy).astype(np.uint16)
    n4 = len(encode_lossless(img, predictor=4))
    n1 = len(encode_lossless(img, predictor=1))
    assert n4 < n1                           # P4 exact, P1 pays per row


def test_lossless_gates_and_malformed():
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_lossless

    img = np.full((8, 8), 9, np.uint8)
    good = bytearray(encode_lossless(img, predictor=1))
    # restart intervals in a lossless scan: explicit gate
    i = bytes(good).find(b"\xff\xda")
    dri = b"\xff\xdd\x00\x04\x00\x04"
    with pytest.raises(JpegError):
        decode_baseline(bytes(good[:i]) + dri + bytes(good[i:]))
    # subsampled lossless components: gate
    bad = bytearray(good)
    j = bytes(good).find(b"\xff\xc3")
    bad[j + 9] = 0x22                        # h=2, v=2 on the only comp
    with pytest.raises(JpegError):
        decode_baseline(bytes(bad))
    # predictor 0 / Se != 0 / Pt >= precision all raise
    for (off, val) in ((3, 0), (4, 7), (5, 8)):
        bad = bytearray(good)
        k = bytes(good).find(b"\xff\xda")
        bad[k + 4 + off] = val
        with pytest.raises(JpegError):
            decode_baseline(bytes(bad))
    # encoder-side validation
    with pytest.raises(ValueError):
        encode_lossless(img, predictor=0)
    with pytest.raises(ValueError):
        encode_lossless(img, precision=17)
    with pytest.raises(ValueError):
        encode_lossless(np.full((4, 4), 255, np.uint8), precision=4)


def test_lossless_fuzz_truncation_and_corruption():
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_lossless

    rng = np.random.default_rng(74)
    img = rng.integers(0, 256, (9, 12, 3), dtype=np.uint8)
    data = bytearray(encode_lossless(img, predictor=5, interleave=False))
    for i in range(2, len(data), 7):
        try:
            decode_baseline(bytes(data[:i]))
        except JpegError:
            pass
    for _ in range(200):
        d = bytearray(data)
        pos = int(rng.integers(2, len(d)))
        d[pos] = int(rng.integers(0, 256))
        try:
            decode_baseline(bytes(d))
        except JpegError:
            pass


# ------------------------------------------- 12-bit extended sequential

def test_extended12_constant_tiles_exact_and_vec_dri_path():
    """12-bit SOF1 at quality 100: constant 8x8 tiles decode bit-exact
    (DC-only blocks, all-ones quant) across the whole 12-bit range,
    through both the scalar walk and the restart-segment-vectorized
    lane decoder (64 MCUs at DRI=1 clears _VEC_MIN_LANES)."""
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_extended

    img = np.zeros((64, 64), dtype=np.uint16)
    for ty in range(8):
        for tx in range(8):
            img[8 * ty:8 * ty + 8, 8 * tx:8 * tx + 8] = \
                (521 * tx + 89 * ty) % 4096
    for ri in (0, 1):                        # scalar / vectorized DRI
        dec = decode_baseline(encode_extended(img, quality=100,
                                              restart_interval=ri))
        assert dec.dtype == np.uint16
        assert np.array_equal(dec, img), ri


def test_extended12_roundtrip_bounds_and_rgb():
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_extended

    rng = np.random.default_rng(76)
    g = rng.integers(0, 4096, (21, 27), dtype=np.uint16)
    dec = decode_baseline(encode_extended(g, quality=100))
    assert dec.shape == g.shape and dec.dtype == np.uint16
    assert np.abs(dec.astype(int) - g.astype(int)).max() <= 1
    # smooth RGB through 4:4:4 and 4:2:0 stays close on the 12-bit scale
    yy, xx = np.mgrid[0:24, 0:32]
    base = (2048 + 1500 * np.sin(xx / 6.0) * np.cos(yy / 8.0)
            ).astype(np.uint16)
    rgb = np.stack([base, 4095 - base, np.roll(base, 4, 1)], axis=-1)
    for sub in ((1, 1), (2, 2)):
        dec = decode_baseline(encode_extended(rgb, quality=97,
                                              subsample=sub))
        assert dec.shape == rgb.shape and dec.dtype == np.uint16
        err = np.abs(dec.astype(int) - rgb.astype(int)).mean()
        assert err < 16 * (1 + 15 * (sub != (1, 1))), (sub, err)


def test_extended12_dqt_pq1_and_table_reach():
    """The 12-bit stream exercises exactly the new envelope: Pq=1
    16-bit DQT entries and DC categories above 11 — verified on the
    emitted bytes, not just by round-trip."""
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_extended

    img = np.zeros((8, 16), dtype=np.uint16)
    img[:, 8:] = 4095                        # adjacent constant tiles:
    data = encode_extended(img, quality=100)  # DC diff 8*4095 = cat 15
    i = data.find(b"\xff\xdb")
    assert data[i + 4] == 0x10               # Pq=1, Tq=0
    assert data.find(b"\xff\xc1") > 0 and data[data.find(b"\xff\xc1") + 4] == 12
    dec = decode_baseline(data)
    assert np.array_equal(dec, img)          # exact: DC-only blocks


def test_extended12_gates():
    from archive_pdf_tools_spark.kernels.jpegcodec import (
        encode_extended, encode_progressive)

    with pytest.raises(ValueError):          # uint8 input rejected
        encode_extended(np.zeros((8, 8), dtype=np.uint8))
    with pytest.raises(ValueError):          # sample over 12 bits
        encode_extended(np.full((8, 8), 4096, dtype=np.uint16))
    # flipping SOF1 -> SOF2 leaves a sequential scan header (Ss=0,
    # Se=63) inside a progressive frame: malformed, raises (12-bit
    # progressive itself is SUPPORTED — see the parity test)
    img = np.full((16, 16), 100, dtype=np.uint16)
    data = bytearray(encode_extended(img, quality=90))
    j = bytes(data).find(b"\xff\xc1")
    data[j + 1] = 0xC2
    with pytest.raises(JpegError):
        decode_baseline(bytes(data))
    # baseline (SOF0) stays strictly 8-bit
    data = bytearray(encode_extended(img, quality=90))
    data[j + 1] = 0xC0
    with pytest.raises(JpegError):
        decode_baseline(bytes(data))
    # 8-bit files still decode with Pq=1 tables absent: regression guard
    img8 = np.full((8, 8), 50, np.uint8)
    assert decode_baseline(encode_baseline(img8, 90)).dtype == np.uint8


def test_extended12_fuzz_truncation_and_corruption():
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_extended

    rng = np.random.default_rng(77)
    img = rng.integers(0, 4096, (16, 16), dtype=np.uint16)
    data = bytearray(encode_extended(img, quality=85, restart_interval=2))
    for i in range(2, len(data), 11):
        try:
            decode_baseline(bytes(data[:i]))
        except JpegError:
            pass
    for _ in range(200):
        d = bytearray(data)
        pos = int(rng.integers(2, len(d)))
        d[pos] = int(rng.integers(0, 256))
        try:
            decode_baseline(bytes(d))
        except JpegError:
            pass


def test_extended12_images_flow_through_the_pdf_path():
    """12-bit DCT images in a PDF downshift into the 8-bit raster
    pipeline by SOF precision (same wiring as >8-bit lossless)."""
    from archive_pdf_tools_spark.corpus.pdfgen import build_pdf
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_extended
    from archive_pdf_tools_spark.sources.pdf_meta import (
        extract_page_images, parse_pdf)

    img = np.zeros((16, 24), dtype=np.uint16)
    img[:8], img[8:] = 1024, 3840            # constant tiles: exact
    pdf = build_pdf([{"width": 612, "height": 792, "images": [
        {"w": 24, "h": 16, "gray": True, "dct": True,
         "data": encode_extended(img, quality=100)}], "text": "x"}])
    meta = parse_pdf(pdf)
    im = meta["pages"][0]["images"][0]
    assert (im["width"], im["height"]) == (24, 16)
    arr = dict(extract_page_images(pdf, 0, meta=meta))[im["xref"]]
    assert arr.dtype == np.uint8
    assert np.array_equal(arr, (img >> 4).astype(np.uint8))


def test_progressive12_decodes_bit_identical_to_extended():
    """12-bit progressive (SOF2 precision 12): same quantized
    coefficients as encode_extended at the same quality, so decoded
    pixels must match bit-for-bit — the same parity oracle that pins
    the 8-bit progressive path, now over the wider DC/AC reach."""
    from archive_pdf_tools_spark.kernels.jpegcodec import (
        encode_extended, encode_progressive)

    rng = np.random.default_rng(78)
    g = rng.integers(0, 4096, (24, 33), dtype=np.uint16)
    for ri in (0, 2):
        p = decode_baseline(encode_progressive(g, quality=95,
                                               restart_interval=ri,
                                               precision=12))
        e = decode_baseline(encode_extended(g, quality=95,
                                            restart_interval=ri))
        assert p.dtype == np.uint16 and np.array_equal(p, e), ri
    rgb = rng.integers(0, 4096, (16, 24, 3), dtype=np.uint16)
    for sub in ((1, 1), (2, 2)):
        p = decode_baseline(encode_progressive(rgb, quality=90,
                                               subsample=sub,
                                               precision=12))
        e = decode_baseline(encode_extended(rgb, quality=90,
                                            subsample=sub))
        assert np.array_equal(p, e), sub
    # constant tiles at q100: exact against the source too
    img = np.zeros((16, 16), dtype=np.uint16)
    img[:, 8:] = 4095
    assert np.array_equal(
        decode_baseline(encode_progressive(img, quality=100,
                                           precision=12)), img)


def test_progressive12_fuzz():
    from archive_pdf_tools_spark.kernels.jpegcodec import encode_progressive

    rng = np.random.default_rng(79)
    img = rng.integers(0, 4096, (16, 16), dtype=np.uint16)
    data = bytearray(encode_progressive(img, quality=85, precision=12))
    for i in range(2, len(data), 13):
        try:
            decode_baseline(bytes(data[:i]))
        except JpegError:
            pass
    for _ in range(150):
        d = bytearray(data)
        pos = int(rng.integers(2, len(d)))
        d[pos] = int(rng.integers(0, 256))
        try:
            decode_baseline(bytes(d))
        except JpegError:
            pass
