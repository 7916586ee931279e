"""Reversible JPEG2000 codec (kernels/jp2codec.py): lossless round-trip
invariants, spec pins for the public constants (MQ Qe table, 5/3 lifting
equations, Table B.4 pass-count codes), component round-trips (MQ coder,
bit IO, tag trees, T1 blocks, DWT), crash-safety fuzz, and the JPX page
flowing through the full PDF -> MRC extraction path (the S6 gap —
reference decodes JP2 via external codecs, internetarchivepdf/
jpeg2000.py:87-148)."""

import numpy as np
import pytest

from archive_pdf_tools_spark.kernels.jp2codec import (
    MQ_TABLE, N_CTX, Jp2Error, _BioReader, _BioWriter, _MQDecoder,
    _MQEncoder, _TagTree, decode_jp2, dwt53_forward, dwt53_inverse,
    encode_jp2, t1_decode, t1_encode)


# ------------------------------------------------------------- constants

def test_mq_table_structural_pins():
    """Spot-pin the Annex C probability table: documented spec values
    (start state Qe=0x5601 with SWITCH, the non-adaptive state 46
    self-loop), plus structural invariants a transcription typo would
    break."""
    assert len(MQ_TABLE) == 47
    assert MQ_TABLE[0] == (0x5601, 1, 1, 1)
    assert MQ_TABLE[46] == (0x5601, 46, 46, 0)
    assert MQ_TABLE[45][0] == 0x0001          # smallest Qe
    for qe, nmps, nlps, sw in MQ_TABLE:
        assert 1 <= qe <= 0x5601
        assert 0 <= nmps < 47 and 0 <= nlps < 47
        assert sw in (0, 1)
    # fast-attack ramp: the first six states' Qe strictly decrease
    ramp = [MQ_TABLE[i][0] for i in range(6)]
    assert ramp == sorted(ramp, reverse=True)


def test_53_lifting_matches_the_annex_f_equations():
    """Hand-evaluated Annex F lifting on small vectors: a linear ramp
    has zero detail coefficients; a known 4-vector pins the floor
    arithmetic including the symmetric extension."""
    from archive_pdf_tools_spark.kernels.jp2codec import (_fwd53_axis0,
                                                          _inv53_axis0)

    s, d = _fwd53_axis0(np.array([1, 2, 3, 4, 5]))
    assert list(d) == [0, 0]
    assert list(s) == [1, 3, 5]

    x = np.array([10, 0, 7, 3])
    s, d = _fwd53_axis0(x)
    # d0 = 0 - floor((10+7)/2) = -8 ; d1 = 3 - floor((7+7)/2) = -4
    assert list(d) == [-8, -4]
    # s0 = 10 + floor((-8-8+2)/4) = 10 + floor(-14/4) = 10 - 4 = 6
    # s1 = 7 + floor((-8-4+2)/4) = 7 + floor(-10/4) = 7 - 3 = 4
    assert list(s) == [6, 4]
    assert list(_inv53_axis0(s, d, 4)) == list(x)


def test_dwt_constant_image_concentrates_in_ll():
    a = np.full((32, 24), 77, dtype=np.int64)
    f = dwt53_forward(a, 2)
    assert np.array_equal(f[:8, :6], np.full((8, 6), 77))
    assert not f[8:, :].any() and not f[:, 6:].any()


@pytest.mark.parametrize("shape", [(1, 1), (1, 7), (7, 1), (2, 2),
                                   (13, 17), (64, 64), (65, 63)])
def test_dwt_perfect_reconstruction(shape):
    rng = np.random.default_rng(11)
    a = rng.integers(-1000, 1000, shape).astype(np.int64)
    for lev in (1, 2, 3):
        assert np.array_equal(dwt53_inverse(dwt53_forward(a, lev), lev), a)


# ---------------------------------------------------------------- MQ / IO

def test_mq_roundtrip_random_and_skewed():
    rng = np.random.default_rng(1)
    for trial in range(60):
        n = int(rng.integers(1, 4000))
        ctxs = rng.integers(0, N_CTX, n).tolist()
        p1 = [0.5, 0.97, 0.03][trial % 3]
        bits = (rng.random(n) < p1).astype(int).tolist()
        enc = _MQEncoder()
        for c, b in zip(ctxs, bits):
            enc.encode(c, b)
        dec = _MQDecoder(enc.flush())
        assert [dec.decode(c) for c in ctxs] == bits


def test_mq_decoder_survives_truncated_segment():
    """Past end-of-data BYTEIN feeds 0xFF (C.3.4) — decode must not
    raise, just produce garbage bits."""
    enc = _MQEncoder()
    for i in range(500):
        enc.encode(i % N_CTX, i % 2)
    data = enc.flush()
    dec = _MQDecoder(data[:3])
    for i in range(500):
        assert dec.decode(i % N_CTX) in (0, 1)


def test_bio_stuffing_roundtrip():
    """Header bit IO: a run of 1-bits forces 0xFF bytes and the 7-bit
    stuffing rule; reader must mirror the writer exactly."""
    rng = np.random.default_rng(5)
    for trial in range(40):
        n = int(rng.integers(1, 300))
        bits = (rng.random(n) < [0.5, 0.98][trial % 2]).astype(int).tolist()
        w = _BioWriter()
        for b in bits:
            w.write(b)
        data = w.flush()
        r = _BioReader(data)
        assert [r.read() for _ in range(n)] == bits


def test_tag_tree_roundtrip():
    rng = np.random.default_rng(9)
    for (w, h) in [(1, 1), (3, 2), (4, 4), (7, 5)]:
        vals = rng.integers(0, 6, (h, w))
        enc_t = _TagTree(w, h)
        for y in range(h):
            for x in range(w):
                enc_t.set(x, y, int(vals[y, x]))
        enc_t.finalize()
        bio = _BioWriter()
        for y in range(h):
            for x in range(w):
                enc_t.encode(bio, x, y, 64)     # resolve fully
        data = bio.flush()
        dec_t = _TagTree(w, h)
        r = _BioReader(data)
        for y in range(h):
            for x in range(w):
                assert dec_t.decode_value(r, x, y) == vals[y, x]


def test_npasses_code_roundtrip_table_b4():
    from archive_pdf_tools_spark.kernels.jp2codec import (_read_npasses,
                                                          _write_npasses)

    for n in list(range(1, 40)) + [100, 164]:
        w = _BioWriter()
        _write_npasses(w, n)
        assert _read_npasses(_BioReader(w.flush())) == n


# ------------------------------------------------------------------ Tier-1

@pytest.mark.parametrize("band", ["LL", "HL", "LH", "HH"])
def test_t1_block_roundtrip(band):
    rng = np.random.default_rng(3)
    for trial in range(8):
        h = int(rng.integers(1, 70))
        w = int(rng.integers(1, 70))
        coefs = rng.integers(-2000, 2000, (h, w)).astype(np.int64)
        if trial % 3 == 0:                    # sparse block
            coefs = ((rng.random((h, w)) < 0.04)
                     * rng.integers(-9, 9, (h, w)))
        data, npasses, numbps = t1_encode(coefs, band)
        if numbps == 0:
            assert not coefs.any()
            continue
        assert npasses == 3 * numbps - 2
        dec = t1_decode(data, npasses, numbps, w, h, band)
        assert np.array_equal(dec, coefs)


def test_t1_zero_block_not_coded():
    data, npasses, numbps = t1_encode(np.zeros((16, 16), np.int64), "HH")
    assert (data, npasses, numbps) == (b"", 0, 0)


# ------------------------------------------------------------- full codec

@pytest.mark.parametrize("shape,lev,be", [
    ((37, 53), 2, (5, 5)), ((64, 64), 2, (6, 6)), ((16, 16), 1, (4, 4)),
    ((1, 1), 1, (4, 4)), ((5, 1), 1, (4, 4)), ((65, 33), 3, (6, 6))])
def test_gray_lossless_roundtrip(shape, lev, be):
    rng = np.random.default_rng(sum(shape))
    for img in (rng.integers(0, 256, shape).astype(np.uint8),
                np.full(shape, 200, np.uint8),
                np.zeros(shape, np.uint8)):
        data = encode_jp2(img, levels=lev, block_exp=be)
        assert np.array_equal(decode_jp2(data), img)


def test_rgb_rct_lossless_roundtrip():
    rng = np.random.default_rng(77)
    for shape in [(33, 65, 3), (64, 48, 3), (8, 8, 3)]:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        assert np.array_equal(decode_jp2(encode_jp2(img, levels=2)), img)
        # extreme chroma corners stress the 9-bit RCT planes
        corners = np.zeros(shape, np.uint8)
        corners[..., 0] = 255
        assert np.array_equal(decode_jp2(encode_jp2(corners)), corners)


def test_raw_codestream_and_jp2_wrap_agree():
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (24, 40)).astype(np.uint8)
    raw = encode_jp2(img, raw_codestream=True)
    wrapped = encode_jp2(img, raw_codestream=False)
    assert raw[:2] == b"\xff\x4f" and wrapped[:4] == b"\x00\x00\x00\x0c"
    assert np.array_equal(decode_jp2(raw), decode_jp2(wrapped))


def test_decode_is_deterministic():
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, (31, 47, 3)).astype(np.uint8)
    data = encode_jp2(img)
    assert np.array_equal(decode_jp2(data), decode_jp2(data))


# ---------------------------------------------------------- error contract

def test_unsupported_profiles_raise_jp2_error():
    img = np.full((16, 16), 9, np.uint8)
    data = bytearray(encode_jp2(img, raw_codestream=True))
    # COD is at a fixed offset in our emitter: find it and flip the
    # transform byte to 0 (9/7 irreversible)
    cod = bytes(data).find(b"\xff\x52")
    assert cod > 0
    data[cod + 2 + 2 + 9] = 0                # SPcod transform byte
    with pytest.raises(Jp2Error, match="9/7"):
        decode_jp2(bytes(data))
    with pytest.raises(Jp2Error):
        decode_jp2(b"\x00\x00\x00\x0CjP  \r\n\x87\n" + b"junk")
    with pytest.raises(Jp2Error):
        decode_jp2(b"not a jp2 at all")


def test_max_pixels_bomb_guard():
    img = np.full((8, 8), 1, np.uint8)
    data = bytearray(encode_jp2(img, raw_codestream=True))
    siz = bytes(data).find(b"\xff\x51")
    # Xsiz at siz+2(marker)+2(len)+2(Rsiz)
    data[siz + 6:siz + 10] = (1 << 16).to_bytes(4, "big")
    data[siz + 10:siz + 14] = (1 << 16).to_bytes(4, "big")
    with pytest.raises(Jp2Error, match="max_pixels"):
        decode_jp2(bytes(data))


def test_fuzz_truncation_and_corruption_raise_jp2_error_only():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (24, 32)).astype(np.uint8)
    data = bytearray(encode_jp2(img))
    for i in range(0, len(data), 11):
        try:
            decode_jp2(bytes(data[:i]))
        except Jp2Error:
            pass
    for _ in range(200):
        d = bytearray(data)
        for _ in range(int(rng.integers(1, 5))):
            d[int(rng.integers(0, len(d)))] = int(rng.integers(0, 256))
        try:
            decode_jp2(bytes(d))
        except Jp2Error:
            pass


def test_decode_image_routes_jp2():
    from archive_pdf_tools_spark.functions.multimodal import decode_image

    img = np.full((9, 9), 30, dtype=np.uint8)
    assert decode_image(encode_jp2(img)).shape == (9, 9)
    assert decode_image(encode_jp2(img, raw_codestream=True)).shape == (9, 9)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


# ------------------------------------------------------ PDF -> MRC e2e

def test_jpx_page_flows_through_full_mrc_extraction():
    """A /JPXDecode page image must decode (kernels.jp2codec) and run
    the SAME MRC decomposition as a raw page — and because the path is
    lossless, the component hashes must be IDENTICAL to the raw-pixel
    variant of the same page (cross-codec consistency, something the
    lossy JPEG page can't assert)."""
    from archive_pdf_tools_spark.corpus.pdfgen import build_pdf
    from archive_pdf_tools_spark.operators.pdfcomp import _recode_one
    from archive_pdf_tools_spark.sources.pdf_meta import parse_pdf

    rng = np.random.default_rng(42)
    w, h = 64, 48
    img = np.full((h, w), 235, dtype=np.uint8)
    img[4:16, 4:28] = 30
    img = np.clip(img.astype(np.int16) + rng.integers(-6, 7, (h, w)),
                  0, 255).astype(np.uint8)

    def pdf_with(im_spec):
        return build_pdf([{"width": 612, "height": 792,
                           "images": [im_spec], "text": "hello"}])

    raw_pdf = pdf_with({"w": w, "h": h, "gray": True,
                        "data": img.tobytes()})
    jpx_pdf = pdf_with({"w": w, "h": h, "gray": True, "jpx": True,
                        "data": encode_jp2(img)})
    meta = parse_pdf(jpx_pdf)
    assert meta["pages"][0]["images"][0]["format"] == "JPEG2000"

    raw_rows = _recode_one("d", raw_pdf, None)
    jpx_rows = _recode_one("d", jpx_pdf, None)
    assert len(jpx_rows) == 1 == len(raw_rows)
    # (mask_sha, fg_sha, bg_sha, src dims) identical: lossless decode
    assert jpx_rows[0][2:8] == raw_rows[0][2:8]


def test_undecodable_jpx_falls_back_to_metadata_only():
    """The old header-only synth_jp2 (no codestream) must keep taking
    the metadata path: page parses, image reported, no raster row."""
    from archive_pdf_tools_spark.corpus.pdfgen import build_pdf, synth_jp2
    from archive_pdf_tools_spark.sources.pdf_meta import (
        extract_page_images, parse_pdf)

    pdf = build_pdf([{"width": 612, "height": 792,
                      "images": [{"w": 20, "h": 10, "gray": True,
                                  "jpx": True,
                                  "data": synth_jp2(20, 10, True)}],
                      "text": None}])
    meta = parse_pdf(pdf)
    im = meta["pages"][0]["images"][0]
    assert (im["format"], im["width"], im["height"]) == ("JPEG2000", 20, 10)
    assert extract_page_images(pdf, 0) == []


# --------------------------------------------------------- irreversible 9/7

def test_97_lifting_perfect_reconstruction_in_float():
    from archive_pdf_tools_spark.kernels.jp2codec import (dwt97_forward,
                                                          dwt97_inverse)

    rng = np.random.default_rng(31)
    for shape in [(1, 1), (5, 1), (13, 17), (64, 64), (33, 47)]:
        a = rng.uniform(-300, 300, shape)
        for lev in (1, 2, 3):
            rec = dwt97_inverse(dwt97_forward(a, lev), lev)
            assert np.allclose(rec, a, atol=1e-9), (shape, lev)


def test_97_constant_image_decodes_exact_up_to_the_cell_width():
    """The low band is DC-normalised and details vanish on constants,
    so a constant image's only loss is the LL quantization cell: exact
    for steps <= 1 (midpoint reconstruction lands within rounding), and
    bounded by ~step/2 beyond that."""
    for shape in [(32, 48), (33, 47), (24, 24, 3)]:
        img = np.full(shape, 137, np.uint8)
        for step in (0.25, 0.5, 1.0):
            for derived in (False, True):
                d = decode_jp2(encode_jp2(img, levels=2, irreversible=True,
                                          step=step, derived_quant=derived))
                assert np.array_equal(d, img), (shape, step, derived)
        d = decode_jp2(encode_jp2(img, levels=2, irreversible=True,
                                  step=4.0))
        assert np.abs(d.astype(int) - 137).max() <= 2


def test_97_error_tracks_quantizer_step():
    yy, xx = np.mgrid[0:64, 0:80]
    img = (100 + 40 * np.sin(xx / 9) + 30 * np.cos(yy / 7)).astype(np.uint8)
    prev = -1.0
    for step, bound in [(0.25, 2), (0.5, 3), (2.0, 9)]:
        d = decode_jp2(encode_jp2(img, levels=3, irreversible=True,
                                  step=step))
        err = np.abs(d.astype(int) - img.astype(int))
        assert err.max() <= bound, (step, err.max())
        assert err.mean() >= prev - 0.05     # finer step never much worse
        prev = err.mean()


def test_97_rgb_ict_roundtrip_close():
    yy, xx = np.mgrid[0:48, 0:64]
    g = (100 + 40 * np.sin(xx / 9) + 30 * np.cos(yy / 7)).astype(np.uint8)
    img = np.stack([g, np.roll(g, 5, 1), 255 - g], -1)
    d = decode_jp2(encode_jp2(img, irreversible=True, step=0.5))
    assert d.shape == img.shape
    assert np.abs(d.astype(int) - img.astype(int)).max() <= 4


def test_97_derived_and_expounded_styles_both_decode():
    yy, xx = np.mgrid[0:48, 0:64]
    img = (100 + 40 * np.sin(xx / 9) + 30 * np.cos(yy / 7)).astype(np.uint8)
    for lev in (1, 2, 3):
        for derived in (False, True):
            d = decode_jp2(encode_jp2(img, levels=lev, irreversible=True,
                                      step=0.5, derived_quant=derived))
            assert np.abs(d.astype(int) - img.astype(int)).max() <= 6


def test_transform_quantization_mismatch_raises():
    """Reversible transform with a quantization style (or 9/7 without
    one) is an inconsistent codestream -> Jp2Error."""
    img = np.full((16, 16), 9, np.uint8)
    lossless = bytearray(encode_jp2(img, raw_codestream=True))
    qcd = bytes(lossless).find(b"\xff\x5c")
    patched = bytearray(lossless)
    patched[qcd + 4] |= 2                    # claim style 2 on 5/3
    with pytest.raises(Jp2Error):
        decode_jp2(bytes(patched))
    lossy = bytearray(encode_jp2(img, raw_codestream=True,
                                 irreversible=True))
    qcd = bytes(lossy).find(b"\xff\x5c")
    patched = bytearray(lossy)
    patched[qcd + 4] &= 0xE0                 # claim style 0 on 9/7
    with pytest.raises(Jp2Error):
        decode_jp2(bytes(patched))


def test_97_fuzz_raises_jp2_error_only():
    rng = np.random.default_rng(44)
    yy, xx = np.mgrid[0:24, 0:32]
    img = (100 + 40 * np.sin(xx / 5)).astype(np.uint8) + 0 * yy.astype(np.uint8)
    data = bytearray(encode_jp2(img, irreversible=True, step=0.5))
    for _ in range(150):
        d = bytearray(data)
        for _ in range(int(rng.integers(1, 5))):
            d[int(rng.integers(0, len(d)))] = int(rng.integers(0, 256))
        try:
            decode_jp2(bytes(d))
        except Jp2Error:
            pass


# ------------------------------------------------------- reduced decode

def test_reduced_resolution_decode():
    """kakadu -reduce / openjpeg -r parity feature
    (internetarchivepdf/jpeg2000.py:87-128): decode at 1/2^k by
    reconstructing only to the level-k LL.  Constants stay exact at
    every k (incl. odd dims); smooth content tracks the decimated
    original; the dropped resolutions' code-blocks are never
    Tier-1-decoded."""
    img = np.full((97, 133), 181, np.uint8)
    d = encode_jp2(img, levels=3)
    for k in range(4):
        out = decode_jp2(d, reduce_levels=k)
        assert out.shape == (-(-97 // (1 << k)), -(-133 // (1 << k)))
        assert (out == 181).all()

    yy, xx = np.mgrid[0:128, 0:160]
    smooth = (90 + 50 * np.sin(xx / 19) + 35 * np.cos(yy / 23)
              ).astype(np.uint8)
    d = encode_jp2(smooth, levels=3)
    r1 = decode_jp2(d, reduce_levels=1)
    dec = smooth[::2, ::2].astype(int)
    err = np.abs(r1.astype(int)[:dec.shape[0], :dec.shape[1]] - dec)
    assert err.max() <= 4 and err.mean() < 1.0

    # 9/7 + RGB keeps the channel axis and the reduced geometry
    rgb = np.stack([smooth, 255 - smooth, np.roll(smooth, 7, 1)], -1)
    r2 = decode_jp2(encode_jp2(rgb, levels=3, irreversible=True,
                               step=0.5), reduce_levels=2)
    assert r2.shape == (32, 40, 3)

    # reduce beyond the stream's levels clamps
    assert decode_jp2(d, reduce_levels=9).shape == (16, 20)


# ------------------------------------------------- review-fix regressions

def test_semantics_bearing_markers_raise_not_skip():
    """POC/RGN/PPM change decode semantics — skipping them would return
    silently corrupt pixels; MCT values beyond 0/1 likewise."""
    img = np.full((16, 16), 9, np.uint8)
    data = bytes(encode_jp2(img, raw_codestream=True))
    cod = data.find(b"\xff\x52")
    for marker in (b"\xff\x5f", b"\xff\x5e", b"\xff\x60"):   # POC/RGN/PPM
        patched = data[:cod] + marker + b"\x00\x04\x00\x00" + data[cod:]
        with pytest.raises(Jp2Error):
            decode_jp2(patched)
    rgb = np.full((16, 16, 3), 9, np.uint8)
    d3 = bytearray(encode_jp2(rgb, raw_codestream=True))
    cod = bytes(d3).find(b"\xff\x52")
    d3[cod + 2 + 2 + 4] = 2                  # SGcod MCT byte -> unknown
    with pytest.raises(Jp2Error, match="component transform"):
        decode_jp2(bytes(d3))


def test_reserved_segmentless_markers_are_skipped_without_length():
    """0xFF30-0xFF3F carry no segment; treating the next two bytes as a
    length desynchronised the old parser."""
    img = np.full((16, 16), 77, np.uint8)
    data = bytes(encode_jp2(img, raw_codestream=True))
    assert data[:2] == b"\xff\x4f"
    patched = data[:2] + b"\xff\x30" + data[2:]
    assert np.array_equal(decode_jp2(patched), img)


def test_adversarial_nlayers_does_not_preallocate():
    """65535 declared layers in a tiny stream must fail fast on
    truncated tile data, not allocate millions of packet tuples."""
    import time

    img = np.full((16, 16), 5, np.uint8)
    data = bytearray(encode_jp2(img, raw_codestream=True))
    cod = bytes(data).find(b"\xff\x52")
    data[cod + 2 + 2 + 2:cod + 2 + 2 + 4] = (0xFFFF).to_bytes(2, "big")
    t0 = time.time()
    with pytest.raises(Jp2Error):
        decode_jp2(bytes(data))
    assert time.time() - t0 < 5.0


def test_plt_and_com_in_tile_header_are_skipped():
    """Real encoders put PLT (packet lengths) and COM between SOT and
    SOD; both are informational and must not break decoding."""
    img = np.arange(24 * 32, dtype=np.uint8).reshape(24, 32) % 251
    data = bytes(encode_jp2(img, raw_codestream=True))
    sod = data.find(b"\xff\x93")
    plt = b"\xff\x58" + (5).to_bytes(2, "big") + bytes([0, 0, 7])
    com = b"\xff\x64" + (6).to_bytes(2, "big") + b"\x00\x01hi"
    # Psot covers SOT..tile end; adding header bytes needs Psot bumped
    sot = data.find(b"\xff\x90")
    psot = int.from_bytes(data[sot + 6:sot + 10], "big")
    grown = bytearray(data[:sod] + plt + com + data[sod:])
    grown[sot + 6:sot + 10] = (psot + len(plt) + len(com)).to_bytes(4, "big")
    assert np.array_equal(decode_jp2(bytes(grown)), img)


def test_tile_header_coding_overrides_raise():
    img = np.full((16, 16), 3, np.uint8)
    data = bytes(encode_jp2(img, raw_codestream=True))
    sod = data.find(b"\xff\x93")
    sot = data.find(b"\xff\x90")
    psot = int.from_bytes(data[sot + 6:sot + 10], "big")
    for marker in (b"\xff\x61", b"\xff\x52"):       # PPT / tile COD
        seg = marker + (4).to_bytes(2, "big") + b"\x00\x00"
        grown = bytearray(data[:sod] + seg + data[sod:])
        grown[sot + 6:sot + 10] = (psot + len(seg)).to_bytes(4, "big")
        with pytest.raises(Jp2Error):
            decode_jp2(bytes(grown))


def test_property_lossless_roundtrip_any_image():
    """Hypothesis-style sweep (seeded, bounded): ANY uint8 image
    round-trips bit-exactly through the reversible path — the codec's
    defining property, over adversarially-shaped content."""
    rng = np.random.default_rng(2024)
    for trial in range(25):
        h = int(rng.integers(1, 80))
        w = int(rng.integers(1, 80))
        ch = int(rng.choice([1, 3]))
        kind = trial % 5
        shape = (h, w) if ch == 1 else (h, w, 3)
        if kind == 0:
            img = rng.integers(0, 256, shape).astype(np.uint8)
        elif kind == 1:                       # bilevel (mask-like)
            img = (rng.random(shape) < 0.3).astype(np.uint8) * 255
        elif kind == 2:                       # extreme checkerboard
            base = ((np.indices((h, w)).sum(axis=0)) % 2 * 255)
            img = (np.stack([base] * 3, -1) if ch == 3 else base
                   ).astype(np.uint8)
        elif kind == 3:                       # near-constant
            img = np.full(shape, int(rng.integers(0, 256)), np.uint8)
            img.reshape(-1)[::7] ^= 1
        else:                                 # smooth ramp
            ramp = (np.indices((h, w)).sum(axis=0) * 3 % 256)
            img = (np.stack([ramp] * 3, -1) if ch == 3 else ramp
                   ).astype(np.uint8)
        lev = int(rng.integers(1, 4))
        data = encode_jp2(img, levels=lev,
                          block_exp=(int(rng.integers(4, 7)),) * 2)
        assert np.array_equal(decode_jp2(data), img), (trial, kind, shape)


# ------------------------------------------------------------ multi-tile

def test_multitile_lossless_roundtrip():
    """Tiled codestreams (the layout big archive scans ship): each tile
    is an independent region — edge tiles partial, gray + RGB, and the
    whole image still round-trips bit-exactly."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(9)
    for (h, w, ch, ts, lev) in [(100, 140, 1, (64, 64), 2),
                                (128, 128, 3, (64, 64), 2),
                                (70, 90, 1, (32, 32), 2),
                                (200, 120, 3, (64, 64), 3)]:
        shape = (h, w) if ch == 1 else (h, w, 3)
        img = rng.integers(0, 256, shape).astype(np.uint8)
        data = encode_j2k(img, levels=lev, tile_size=ts)
        assert np.array_equal(decode_jp2(data), img), (h, w, ch, ts)


def test_pcrl_cprl_progressions():
    """PCRL/CPRL spatial packet orders (B.12.1.4/.5) decode over REAL
    precinct partitions (round 6 — previously guarded to the
    single-precinct degenerate case)."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(3)
    for prog in ("PCRL", "CPRL"):
        for shape, kw in [((70, 90), {}),
                          ((64, 96), {"precinct_exp": (4, 4)}),
                          ((64, 96, 3), {"precinct_exp": (4, 3)}),
                          ((64, 80, 3), {"precinct_exp": (4, 4),
                                         "sop": True, "eph": True}),
                          ((100, 140), {"tile_size": (64, 64),
                                        "precinct_exp": (4, 4)})]:
            img = rng.integers(0, 256, shape).astype(np.uint8)
            d = encode_j2k(img, levels=2, progression=prog, **kw)
            assert np.array_equal(decode_jp2(d), img), (prog, shape, kw)
        # bypass + spatial progression compose
        img = rng.integers(0, 256, (64, 96)).astype(np.uint8)
        d = encode_j2k(img, levels=2, progression=prog,
                       precinct_exp=(4, 4), bypass=True)
        assert np.array_equal(decode_jp2(d), img), prog


def test_spatial_order_matches_spec_loop():
    """Structural pin against B.12.1's nested loops: the ONE shared
    order function (`_progression_order`, used verbatim by encoder AND
    decoder) must reproduce a hand-derived packet order for a 64x96
    2-level image with 16x16 precincts.

    Geometry (hand-derived, not read back from the code): r2 = full
    64x96 with 6x4 precincts anchored at multiples of 16 in reference
    coords; r1 = 32x48 with 3x2 precincts, anchors at multiples of
    2^(4+1) = 32; r0 = 16x24 with 2x1 precincts, anchors at multiples
    of 2^(4+2) = 64.  PCRL visits anchors in y-then-x order emitting
    every resolution anchored there in ascending r; CPRL is the same
    per component."""
    from archive_pdf_tools_spark.kernels.jp2codec import (
        _precinct_anchors, _progression_order, encode_j2k)

    geom = {2: (6, 4, 16), 1: (3, 2, 32), 0: (2, 1, 64)}
    plist = _precinct_anchors(
        2, [(4, 4)] * 3,
        lambda r: geom[r][0] * geom[r][1],
        lambda r: geom[r][0])
    # anchors themselves: spot-pin r0/r1 reference-grid scaling
    assert (0, 0, 1, 64, 0) in plist         # r0, precinct 1 at x=64
    assert (0, 1, 4, 32, 32) in plist        # r1, raster idx 4 = (1,1)
    got = _progression_order("PCRL", plist, 1)
    expect = []
    for y, x, r, pi in sorted(
            (py * s, px * s, r, py * nx + px)
            for r, (nx, ny, s) in geom.items()
            for py in range(ny) for px in range(nx)):
        expect.append((0, r, 0, pi))
    assert got == expect
    # first anchors: (0,0) hosts r0 p0, r1 p0, r2 p0 ascending r; the
    # next anchor x=16 hosts ONLY r2 p1; x=32 hosts r1 p1 then r2 p2
    assert got[:6] == [(0, 0, 0, 0), (0, 1, 0, 0), (0, 2, 0, 0),
                       (0, 2, 0, 1), (0, 1, 0, 1), (0, 2, 0, 2)]
    # CPRL on 3 components = per-component PCRL blocks (one anchor
    # list per component, concatenated — the round-7 plist shape)
    plist3 = []
    for c in range(3):
        plist3 += _precinct_anchors(
            2, [(4, 4)] * 3,
            lambda r: geom[r][0] * geom[r][1],
            lambda r: geom[r][0], c=c)
    got3 = _progression_order("CPRL", plist3, 1)
    per = [t for t in expect]
    assert got3 == [(0, r, c, pi) for c in range(3)
                    for (_l, r, _c, pi) in per]
    # and a real stream with that exact geometry still round-trips
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (64, 96)).astype(np.uint8)
    d = encode_j2k(img, levels=2, progression="PCRL",
                   precinct_exp=(4, 4), sop=True)
    assert np.array_equal(decode_jp2(d), img)
    assert d.count(b"\xff\x91") == len(expect)


def test_qcc_coc_per_component(monkeypatch):
    """QCC per-component quantization (the override kakadu emits for
    multi-component irreversible streams — coarser chroma) and COC
    per-component code-block style both decode (round 6)."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_jp2

    yy, xx = np.mgrid[0:80, 0:96]
    smooth = np.clip(110 + 50 * np.sin(xx / 7.0) + 35 * np.cos(yy / 5.0),
                     0, 255).astype(np.uint8)
    srgb = np.stack([smooth, 255 - smooth, np.roll(smooth, 3, 1)],
                    axis=-1)
    d = encode_jp2(srgb, levels=2, irreversible=True,
                   comp_steps=(0.25, 1.0, 1.0))
    assert d.find(b"\xff\x5d") > 0           # QCC marker present
    dec = decode_jp2(d)
    assert np.abs(dec.astype(int) - srgb.astype(int)).max() <= 4
    # luma must be sharper than chroma under the per-component steps:
    # re-encode with the FLAT coarse step; total error grows
    flat = decode_jp2(encode_jp2(srgb, levels=2, irreversible=True,
                                 step=1.0))
    assert (np.abs(dec.astype(int) - srgb.astype(int)).mean()
            < np.abs(flat.astype(int) - srgb.astype(int)).mean())
    # equal steps emit no QCC and byte-match the plain-step stream
    assert encode_jp2(srgb, levels=2, irreversible=True,
                      comp_steps=(0.5, 0.5, 0.5)) == \
        encode_jp2(srgb, levels=2, irreversible=True, step=0.5)

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (80, 96, 3)).astype(np.uint8)
    for glob, cb in [(True, {1: False, 2: False}), (False, {1: True}),
                     (True, {0: False})]:
        d2 = encode_jp2(img, levels=2, bypass=glob, coc_bypass=cb)
        assert d2.find(b"\xff\x53") > 0      # COC marker present
        assert np.array_equal(decode_jp2(d2), img), (glob, cb)

    with pytest.raises(ValueError, match="irreversible"):
        encode_jp2(img, levels=2, comp_steps=(1, 1, 1))
    with pytest.raises(ValueError, match="nonexistent"):
        encode_jp2(img, levels=2, coc_bypass={5: True})


def test_coc_qcc_decode_guards():
    """Malformed / out-of-scope per-component overrides raise loudly
    instead of decoding silently wrong."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_jp2

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (40, 48, 3)).astype(np.uint8)
    d = bytearray(encode_jp2(img, levels=2, raw_codestream=True,
                             coc_bypass={1: False}))
    coc = bytes(d).find(b"\xff\x53")
    assert coc > 0
    # COC for a nonexistent component
    bad = bytearray(d)
    bad[coc + 4] = 7
    with pytest.raises(Jp2Error, match="nonexistent"):
        decode_jp2(bytes(bad))
    # COC that bumps decomposition levels without the matching
    # quantization pairs (round 7: levels overrides decode, but the
    # component's QCD/QCC must cover its own 3*N_L+1 subbands)
    bad = bytearray(d)
    bad[coc + 6] += 1
    with pytest.raises(Jp2Error, match="exponent count mismatch"):
        decode_jp2(bytes(bad))
    dq = bytearray(encode_jp2(img, levels=2, raw_codestream=True,
                              irreversible=True,
                              comp_steps=(0.25, 1.0, 1.0)))
    qcc = bytes(dq).find(b"\xff\x5d")
    assert qcc > 0
    bad = bytearray(dq)
    bad[qcc + 4] = 9
    with pytest.raises(Jp2Error, match="nonexistent"):
        decode_jp2(bytes(bad))
    # truncated QCC body (odd pair bytes)
    bad = bytearray(dq)
    bad[qcc + 3] -= 1                        # shrink Lqcc by one byte
    with pytest.raises(Jp2Error):
        decode_jp2(bytes(bad[:qcc + 2]
                         + bad[qcc + 2:qcc + 2 + bad[qcc + 3]]
                         + dq[qcc + 2 + bad[qcc + 3] + 1:]))


def test_bypass_roundtrip_and_schedule():
    """Selective arithmetic coding bypass (T.800 D.6, round 6 — the
    'lazy' mode kakadu deployments use): raw SPP/MR passes after the
    10th coding pass in their own terminated codeword segments with
    per-segment Tier-2 lengths.  Entropy-layer only: decode(encode) is
    bit-exact, and the same image encoded with and without bypass
    decodes to identical pixels."""
    from archive_pdf_tools_spark.kernels.jp2codec import (
        _bypass_spans, _seg_id_bypass, encode_j2k, encode_jp2)

    # schedule pins from the spec's pass numbering: passes 1-10 MQ,
    # {11,12} raw, {13} cup, {14,15} raw, {16} cup, ...
    assert [_seg_id_bypass(t) for t in range(1, 17)] == \
        [0] * 10 + [1, 1, 2, 3, 3, 4]
    assert _bypass_spans(1, 13) == [(0, 10), (1, 2), (2, 1)]
    assert _bypass_spans(11, 4) == [(1, 2), (2, 1), (3, 1)]

    rng = np.random.default_rng(31)
    for shape in [(64, 64), (40, 56), (128, 96, 3), (7, 5)]:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        with_b = encode_jp2(img, levels=2)              # default: on
        without = encode_jp2(img, levels=2, bypass=False)
        assert np.array_equal(decode_jp2(with_b), img), shape
        assert np.array_equal(decode_jp2(without), img), shape
    # bypass composes with multi-tile, 9/7 and reduced decode
    yy, xx = np.mgrid[0:100, 0:140]
    smooth = (100 + 40 * np.sin(xx / 9) + 30 * np.cos(yy / 7)
              ).astype(np.uint8)
    dt = encode_j2k(smooth, levels=2, tile_size=(64, 64))
    assert np.array_equal(decode_jp2(dt), smooth)
    dl = encode_jp2(smooth, levels=2, irreversible=True, step=0.5)
    assert np.abs(decode_jp2(dl).astype(int)
                  - smooth.astype(int)).max() <= 3
    assert decode_jp2(encode_jp2(smooth, levels=2),
                      reduce_levels=1).shape == (50, 70)


def test_multitile_strip_narrower_than_tile():
    """A declared tile larger than the image in ONE dimension is legal
    (tall-strip scans: 50x150 image, 64x64 tiles -> a 1x3 tile column).
    The pow2 guard must run per dimension on what actually partitions —
    the clamped 50 never anchors an interior tile (ADVICE r5)."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(23)
    for shape, ts in [((150, 50), (64, 64)),     # tall strip, 3 tiles in y
                      ((50, 150), (64, 64)),     # wide strip, 3 tiles in x
                      ((150, 50, 3), (64, 64)),  # RGB tall strip
                      ((130, 40), (40, 32))]:    # non-pow2 xt, but ntx==1
        img = rng.integers(0, 256, shape).astype(np.uint8)
        data = encode_j2k(img, levels=2, tile_size=ts)
        assert np.array_equal(decode_jp2(data), img), (shape, ts)
    # 9/7 + reduce still work on strips
    yy, xx = np.mgrid[0:150, 0:50]
    smooth = (100 + 40 * np.sin(xx / 9) + 30 * np.cos(yy / 7)
              ).astype(np.uint8)
    d = encode_j2k(smooth, levels=2, tile_size=(64, 64),
                   irreversible=True, step=0.5)
    assert np.abs(decode_jp2(d).astype(int)
                  - smooth.astype(int)).max() <= 3
    assert decode_jp2(encode_j2k(smooth, levels=2, tile_size=(64, 64)),
                      reduce_levels=1).shape == (75, 25)
    # a dimension that DOES partition still rejects non-pow2
    img = rng.integers(0, 256, (150, 50)).astype(np.uint8)
    with pytest.raises(ValueError, match="power of two"):
        encode_j2k(img, levels=2, tile_size=(64, 48))


def test_multitile_97_and_reduced():
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    yy, xx = np.mgrid[0:100, 0:140]
    smooth = (100 + 40 * np.sin(xx / 9) + 30 * np.cos(yy / 7)
              ).astype(np.uint8)
    d = encode_j2k(smooth, levels=2, tile_size=(64, 64),
                   irreversible=True, step=0.5)
    assert np.abs(decode_jp2(d).astype(int)
                  - smooth.astype(int)).max() <= 3
    const = np.full((100, 140), 99, np.uint8)
    dc = encode_j2k(const, levels=2, tile_size=(64, 64))
    assert decode_jp2(dc, reduce_levels=1).shape == (50, 70)
    assert (decode_jp2(dc, reduce_levels=2) == 99).all()


def test_multitile_contract_checks():
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    img = np.full((70, 90), 5, np.uint8)
    with pytest.raises(ValueError, match="power of two"):
        encode_j2k(img, levels=2, tile_size=(30, 30))   # not 2^levels-aligned
    with pytest.raises(ValueError, match="power of two"):
        encode_j2k(img, levels=2, tile_size=(48, 48))   # aligned but not pow2
    data = bytearray(encode_j2k(img, levels=2, tile_size=(32, 32)))
    # duplicate tile index must raise, not silently overwrite
    sot = bytes(data).find(b"\xff\x90", 10)
    second = bytes(data).find(b"\xff\x90", sot + 2)
    patched = bytearray(data)
    patched[second + 4:second + 6] = (0).to_bytes(2, "big")
    with pytest.raises(Jp2Error):
        decode_jp2(bytes(patched))


def test_sop_eph_markers_roundtrip():
    """Real kakadu streams carry SOP resync markers and EPH header
    terminators; both must decode transparently (incl. multi-tile)."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (50, 70)).astype(np.uint8)
    for sop, eph in [(True, False), (False, True), (True, True)]:
        d = encode_j2k(img, levels=2, sop=sop, eph=eph)
        assert np.array_equal(decode_jp2(d), img), (sop, eph)
    d = encode_j2k(img, levels=2, tile_size=(32, 32), sop=True, eph=True)
    assert np.array_equal(decode_jp2(d), img)


def test_precinct_partitions_roundtrip():
    """Explicit precinct partitions (B.6): packets per precinct,
    per-precinct tag trees, code-block size capped by the band cell —
    round-trips bit-exactly across sizes, colour, 9/7, tiles and
    reduced decode; non-partitioning sizes behave like the default."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(31)
    for (h, w, ch, pe, lev) in [(100, 140, 1, (6, 6), 2),
                                (128, 96, 3, (5, 5), 2),
                                (80, 80, 1, (4, 4), 1),
                                (90, 70, 1, (5, 6), 3),
                                (64, 64, 3, (7, 7), 2)]:
        shape = (h, w) if ch == 1 else (h, w, 3)
        img = rng.integers(0, 256, shape).astype(np.uint8)
        d = encode_j2k(img, levels=lev, precinct_exp=pe)
        assert np.array_equal(decode_jp2(d), img), (h, w, ch, pe, lev)

    yy, xx = np.mgrid[0:100, 0:140]
    smooth = (100 + 40 * np.sin(xx / 9) + 30 * np.cos(yy / 7)
              ).astype(np.uint8)
    d = encode_j2k(smooth, levels=2, precinct_exp=(5, 5),
                   irreversible=True, step=0.5, sop=True, eph=True)
    assert np.abs(decode_jp2(d).astype(int)
                  - smooth.astype(int)).max() <= 3
    d = encode_j2k(smooth, levels=2, precinct_exp=(5, 5),
                   tile_size=(64, 64))
    assert np.array_equal(decode_jp2(d), smooth)
    d = encode_j2k(smooth, levels=2, precinct_exp=(5, 5))
    assert decode_jp2(d, reduce_levels=1).shape == (50, 70)


def test_progression_mislabel_raises_or_matches():
    """Round 6 removed the PCRL/CPRL guard — spatial progressions now
    decode (test_pcrl_cprl_progressions).  A stream whose COD CLAIMS a
    different progression than its packets were written in is simply a
    corrupt stream: the decoder must raise Jp2Error (packet headers
    misparse), never return silently-wrong pixels without erroring for
    THIS kind of layout (multiple partitioned resolutions make the
    packet sequences genuinely incompatible)."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (80, 80)).astype(np.uint8)
    data = bytearray(encode_j2k(img, levels=2, precinct_exp=(4, 4)))
    cod = bytes(data).find(b"\xff\x52")
    data[cod + 5] = 4                        # SGcod progression -> CPRL
    try:
        out = decode_jp2(bytes(data))
        # gray single-component: CPRL degenerates to the same
        # position-major order only if packets happen to align — if it
        # decodes at all, the pixels must NOT silently differ
        assert np.array_equal(out, img)
    except Jp2Error:
        pass


def test_tile_parts_roundtrip_and_ordering():
    """A tile's packets may span multiple tile-parts (TPsot) — kakadu
    emits one per resolution on big files; the concatenated payload
    decodes seamlessly, and out-of-order parts raise."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (60, 80)).astype(np.uint8)
    for tp in (2, 3):
        d = encode_j2k(img, levels=2, tile_parts=tp)
        assert np.array_equal(decode_jp2(d), img), tp
    d = encode_j2k(img, levels=2, tile_size=(32, 32), tile_parts=2)
    assert np.array_equal(decode_jp2(d), img)
    rgb = rng.integers(0, 256, (48, 64, 3)).astype(np.uint8)
    d = encode_j2k(rgb, levels=2, tile_parts=3, sop=True, eph=True)
    assert np.array_equal(decode_jp2(d), rgb)

    # swap the two tile-parts' TPsot fields -> ordering violation
    two = bytearray(encode_j2k(img, levels=2, tile_parts=2))
    sots = []
    k = 0
    while True:
        k = bytes(two).find(b"\xff\x90", k)
        if k < 0:
            break
        sots.append(k)
        k += 2
    assert len(sots) == 2
    two[sots[0] + 10], two[sots[1] + 10] = two[sots[1] + 10], two[sots[0] + 10]
    with pytest.raises(Jp2Error):
        decode_jp2(bytes(two))


def test_psot_zero_last_tile_part_decodes():
    """Psot=0 is legal in the final tile-part (A.4.2: payload runs to
    EOC); the EOC marker must stay visible to the tile walk."""
    rng = np.random.default_rng(51)
    img = rng.integers(0, 256, (40, 56)).astype(np.uint8)
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    data = bytearray(encode_j2k(img, levels=2))
    sot = bytes(data).find(b"\xff\x90")
    data[sot + 6:sot + 10] = (0).to_bytes(4, "big")     # Psot = 0
    assert np.array_equal(decode_jp2(bytes(data)), img)


def test_ppt_packed_headers():
    """PPT tile-part segments (A.7.5/B.10.5, round-6 late): packet
    headers relocated out of the bitstream decode — including with
    precinct partitions, SOP/EPH, spatial progressions, bypass, 9/7
    and multi-tile grids; Zppt split/ordering is validated."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(5)
    for shape, kw in [((70, 90), {}),
                      ((64, 96), {"precinct_exp": (4, 4)}),
                      ((64, 80, 3), {"sop": True, "eph": True}),
                      ((100, 140), {"tile_size": (64, 64)}),
                      ((64, 96), {"progression": "PCRL",
                                  "precinct_exp": (4, 4)}),
                      ((60, 72), {"bypass": False})]:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        d = encode_j2k(img, levels=2, ppt=True, **kw)
        assert b"\xff\x61" in d
        assert np.array_equal(decode_jp2(d), img), (shape, kw)
    yy, xx = np.mgrid[0:64, 0:96]
    sm = np.clip(110 + 50 * np.sin(xx / 7.0), 0, 255).astype(np.uint8)
    d = encode_j2k(sm, levels=2, ppt=True, irreversible=True, step=0.5)
    assert np.abs(decode_jp2(d).astype(int) - sm.astype(int)).max() <= 3
    # out-of-order Zppt raises
    img = rng.integers(0, 256, (40, 40)).astype(np.uint8)
    d = bytearray(encode_j2k(img, levels=2, ppt=True))
    zpos = bytes(d).find(b"\xff\x61") + 4
    d[zpos] = 1                              # Zppt 0 -> 1: gap
    with pytest.raises(Jp2Error, match="PPT"):
        decode_jp2(bytes(d))
    with pytest.raises(ValueError, match="tile-parts"):
        encode_j2k(img, levels=2, ppt=True, tile_parts=2)
    # mutation fuzz on the packed-header stream stays typed
    base = encode_j2k(img, levels=2, ppt=True)
    bad = 0
    for trial in range(60):
        buf = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
            buf[int(rng.integers(0, len(buf)))] = int(rng.integers(256))
        try:
            decode_jp2(bytes(buf))
        except Jp2Error:
            bad += 1
    assert bad > 0


def test_ppm_main_header_packed_headers():
    """PPM main-header segments (A.6.6, round-6 late): one Nppm-framed
    record per tile-part, consumed in codestream order and fed through
    the same packed-header decode path as PPT; composes with
    precincts, SOP/EPH, spatial progressions, multi-tile, bypass and
    9/7.  Mixing PPM with PPT raises."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(5)
    for shape, kw in [((70, 90), {}),
                      ((64, 96), {"precinct_exp": (4, 4)}),
                      ((64, 80, 3), {"sop": True, "eph": True}),
                      ((100, 140), {"tile_size": (64, 64)}),
                      ((64, 96), {"progression": "CPRL",
                                  "precinct_exp": (4, 4)}),
                      ((60, 72), {"bypass": False})]:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        d = encode_j2k(img, levels=2, ppm=True, **kw)
        sot = d.find(b"\xff\x90")
        ppm_at = d.find(b"\xff\x60")
        assert 0 < ppm_at < sot, (shape, kw)  # PPM in the MAIN header
        assert np.array_equal(decode_jp2(d), img), (shape, kw)
    yy, xx = np.mgrid[0:64, 0:96]
    sm = np.clip(110 + 50 * np.sin(xx / 7.0), 0, 255).astype(np.uint8)
    d = encode_j2k(sm, levels=2, ppm=True, irreversible=True, step=0.5)
    assert np.abs(decode_jp2(d).astype(int) - sm.astype(int)).max() <= 3
    img = rng.integers(0, 256, (40, 40)).astype(np.uint8)
    with pytest.raises(ValueError, match="mutually exclusive"):
        encode_j2k(img, levels=2, ppm=True, ppt=True)
    # truncated PPM record raises typed
    d = bytearray(encode_j2k(img, levels=2, ppm=True))
    ppm_at = bytes(d).find(b"\xff\x60")
    d[ppm_at + 5] = 0xFF                     # corrupt the Nppm length
    with pytest.raises(Jp2Error):
        decode_jp2(bytes(d))
    # mutation fuzz stays typed
    base = encode_j2k(img, levels=2, ppm=True)
    bad = 0
    for trial in range(60):
        buf = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
            buf[int(rng.integers(0, len(buf)))] = int(rng.integers(256))
        try:
            decode_jp2(bytes(buf))
        except Jp2Error:
            bad += 1
    assert bad > 0


def test_rgn_maxshift_roi():
    """RGN maxshift ROI (A.6.3/E.1, round-6 late): the decoder
    identifies ROI coefficients purely by magnitude >= 2^SPrgn and
    shifts them back — mask-free, so lossless streams round-trip
    bit-exactly and lossy ROI regions come back at least as accurate
    as the background."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(5)
    for shape in [(70, 90), (64, 80, 3), (40, 40)]:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        d = encode_j2k(img, levels=2, roi=(10, 8, 20, 16))
        assert 0 < d.find(b"\xff\x5e") < d.find(b"\xff\x90"), shape
        assert np.array_equal(decode_jp2(d), img), shape
    # composes with PPM, bypass-off and per-component selection
    img = rng.integers(0, 256, (50, 60, 3)).astype(np.uint8)
    for kw in ({"ppm": True}, {"bypass": False},
               {"roi_comps": (0, 2)}):
        d = encode_j2k(img, levels=2, roi=(5, 5, 20, 20), **kw)
        assert np.array_equal(decode_jp2(d), img), kw
    # lossy: ROI must not be worse than the overall error at a coarse
    # step (the shifted planes decode at full precision)
    yy, xx = np.mgrid[0:64, 0:96]
    sm = np.clip(110 + 50 * np.sin(xx / 5.0) + 35 * np.cos(yy / 4.0),
                 0, 255).astype(np.uint8)
    d = encode_j2k(sm, levels=2, irreversible=True, step=2.0,
                   roi=(30, 20, 24, 20))
    err = np.abs(decode_jp2(d).astype(int) - sm.astype(int))
    assert err[20:40, 30:54].mean() <= err.mean() + 0.2
    # contract checks
    with pytest.raises(ValueError, match="tiling"):
        encode_j2k(sm, levels=2, roi=(0, 0, 8, 8), tile_size=(64, 64))
    with pytest.raises(ValueError, match="outside"):
        encode_j2k(sm, levels=2, roi=(90, 0, 20, 8))
    # non-maxshift Srgn raises typed
    d = bytearray(encode_j2k(sm[:32, :32], levels=2, roi=(4, 4, 8, 8)))
    at = bytes(d).find(b"\xff\x5e")
    d[at + 5] = 1                            # Srgn -> 1
    with pytest.raises(Jp2Error, match="maxshift"):
        decode_jp2(bytes(d))


def test_poc_progression_order_change():
    """POC segments (A.6.4/B.12.2, round-6 late): each entry emits its
    (layer, resolution, component) volume in its own progression
    order, skipping already-emitted packets; partial covers raise.
    Exercises the classic streaming shape — low resolutions first,
    then the rest — including over precinct partitions with a spatial
    progression inside an entry."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(5)
    for shape in [(70, 90), (64, 80, 3)]:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        nc = 1 if img.ndim == 2 else 3
        poc = [(0, 0, 1, 2, nc, "RLCP"), (2, 0, 1, 3, nc, "LRCP")]
        d = encode_j2k(img, levels=2, poc=poc)
        assert 0 < d.find(b"\xff\x5f") < d.find(b"\xff\x90"), shape
        assert np.array_equal(decode_jp2(d), img), shape
    img = rng.integers(0, 256, (64, 96)).astype(np.uint8)
    poc = [(0, 0, 1, 1, 1, "LRCP"), (1, 0, 1, 3, 1, "PCRL")]
    d = encode_j2k(img, levels=2, precinct_exp=(4, 4), poc=poc)
    assert np.array_equal(decode_jp2(d), img)
    # overlapping volumes: the second entry re-covers the first's
    # packets, which must be skipped, not duplicated
    poc = [(0, 0, 1, 2, 1, "RLCP"), (0, 0, 1, 3, 1, "LRCP")]
    d = encode_j2k(img, levels=2, poc=poc)
    assert np.array_equal(decode_jp2(d), img)
    # a POC that does not cover every packet raises (encode side uses
    # the same shared order function as decode)
    with pytest.raises(Jp2Error, match="cover"):
        encode_j2k(img, levels=2, poc=[(0, 0, 1, 2, 1, "LRCP")])
    # decode side: truncated POC entry bytes raise typed
    d = bytearray(encode_j2k(img, levels=2,
                             poc=[(0, 0, 1, 3, 1, "LRCP")]))
    at = bytes(d).find(b"\xff\x5f")
    d[at + 3] -= 1                           # shrink Lpoc: 7 -> 6 body
    with pytest.raises(Jp2Error):
        decode_jp2(bytes(d))


def test_coc_per_component_block_sizes():
    """COC code-block-size overrides (round-6 late): per-component
    layouts thread through precinct geometry, packet headers, tag
    trees and Tier-1 on both sides; composes with precinct partitions,
    bypass styles and SOP/EPH."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (70, 90, 3)).astype(np.uint8)
    for kw in ({}, {"precinct_exp": (4, 4)}, {"bypass": False},
               {"coc_bypass": {1: False}}, {"sop": True, "eph": True}):
        d = encode_j2k(img, levels=2,
                       coc_block_exp={1: (4, 4), 2: (5, 3)}, **kw)
        assert d.find(b"\xff\x53") > 0
        assert np.array_equal(decode_jp2(d), img), kw
    # 9/7 + QCC + per-component blocks together
    yy, xx = np.mgrid[0:64, 0:80]
    sm = np.clip(110 + 50 * np.sin(xx / 7.0), 0, 255).astype(np.uint8)
    srgb = np.stack([sm, 255 - sm, np.roll(sm, 3, 1)], axis=-1)
    d = encode_j2k(srgb, levels=2, irreversible=True,
                   comp_steps=(0.25, 1.0, 1.0),
                   coc_block_exp={1: (4, 4)})
    assert np.abs(decode_jp2(d).astype(int)
                  - srgb.astype(int)).max() <= 4
    with pytest.raises(ValueError, match="illegal code-block"):
        encode_j2k(img, levels=2, coc_block_exp={1: (8, 8)})


def test_ppm_multi_tile_part_and_over_supply():
    """Review-fix regressions: a tile with MORE THAN ONE tile-part
    under PPM must decode (each part consumes its own Nppm record —
    previously misdiagnosed as PPM+PPT mixing), and leftover PPM
    records after the tile walk raise instead of silently desyncing."""
    from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (48, 56)).astype(np.uint8)
    d = bytearray(encode_j2k(img, levels=2, ppm=True))
    # append an EMPTY second tile-part (SOT header only, no packets)
    # and a matching zero-length Nppm record: headers and bodies are
    # unchanged, but the tile now has two parts
    ppm_at = bytes(d).find(b"\xff\x60")
    lppm = int.from_bytes(d[ppm_at + 2:ppm_at + 4], "big")
    d[ppm_at + 2:ppm_at + 4] = (lppm + 4).to_bytes(2, "big")
    d[ppm_at + 2 + lppm:ppm_at + 2 + lppm] = (0).to_bytes(4, "big")
    sot_at = bytes(d).find(b"\xff\x90")
    d[sot_at + 10] = 0                       # tpsot 0
    d[sot_at + 11] = 2                       # tnsot: now 2 parts
    empty_part = (b"\xff\x90" + (10).to_bytes(2, "big")
                  + (0).to_bytes(2, "big") + (14).to_bytes(4, "big")
                  + bytes((1, 2)) + b"\xff\x93")
    eoc = len(d) - 2
    d[eoc:eoc] = empty_part
    assert np.array_equal(decode_jp2(bytes(d)), img)
    # over-supplied records (an extra one nothing consumes) raise
    d2 = bytearray(encode_j2k(img, levels=2, ppm=True))
    at = bytes(d2).find(b"\xff\x60")
    l2 = int.from_bytes(d2[at + 2:at + 4], "big")
    d2[at + 2:at + 4] = (l2 + 4).to_bytes(2, "big")
    d2[at + 2 + l2:at + 2 + l2] = (0).to_bytes(4, "big")
    with pytest.raises(Jp2Error, match="unconsumed PPM"):
        decode_jp2(bytes(d2))
    # duplicate POC markers raise
    d3 = bytearray(encode_j2k(img, levels=2,
                              poc=[(0, 0, 1, 3, 1, "LRCP")]))
    at = bytes(d3).find(b"\xff\x5f")
    lpoc = int.from_bytes(d3[at + 2:at + 4], "big")
    seg = bytes(d3[at:at + 2 + lpoc])
    d3[at:at] = seg
    with pytest.raises(Jp2Error, match="duplicate POC"):
        decode_jp2(bytes(d3))
    # encoder contract checks from the same review pass
    with pytest.raises(ValueError, match="roi_comps"):
        encode_j2k(img, levels=2, roi=(2, 2, 8, 8), roi_comps=(3,))
    with pytest.raises(ValueError, match="roi_comps without roi"):
        encode_j2k(img, levels=2, roi_comps=(0,))
    with pytest.raises(ValueError, match="poc with tiling"):
        encode_j2k(np.tile(img, (2, 2)), levels=2,
                   tile_size=(64, 64), poc=[(0, 0, 1, 3, 1, "LRCP")])


# ------------------------- per-component levels / transform (round 7)

from archive_pdf_tools_spark.kernels.jp2codec import encode_j2k  # noqa: E402

def test_coc_per_component_levels_roundtrip():
    """COC decomposition-level overrides (A.6.2 SPcoc levels byte, the
    last COC scope item): each component owns its own Mallat pyramid
    depth, lossless round-trips bit-exactly across progressions and
    code-block-size combinations."""
    rng = np.random.default_rng(71)
    gray = rng.integers(0, 256, (45, 52)).astype(np.uint8)
    img3 = rng.integers(0, 256, (40, 48, 3)).astype(np.uint8)
    for kwargs in (
            dict(levels=2, coc_levels={0: 4}),
            dict(levels=3, coc_levels={0: 1}),
    ):
        d = encode_j2k(gray, **kwargs)
        assert np.array_equal(decode_jp2(d), gray)
    for kwargs in (
            dict(levels=3, coc_levels={2: 1}),
            dict(levels=1, coc_levels={1: 3, 2: 2}),
            dict(levels=2, coc_levels={0: 4}, progression="RLCP"),
            dict(levels=2, coc_levels={2: 3},
                 coc_block_exp={2: (4, 4)}),
            dict(levels=2, coc_levels={1: 3}, coc_bypass={1: False}),
    ):
        d = encode_j2k(img3, **kwargs)
        assert np.array_equal(decode_jp2(d), img3), kwargs
    # the override is actually signalled (COC present, levels byte set)
    d = encode_j2k(img3, levels=3, coc_levels={2: 1})
    i = d.find(b"\xff\x53")
    assert i > 0 and d[i + 4] == 2 and d[i + 6] == 1


def test_coc_per_component_transform_mixed():
    """COC transform overrides: mixed 5/3 + 9/7 components code each
    channel independently (MCT off — G.2/G.3 need a uniform wavelet);
    reversible components stay bit-exact while the 9/7 one quantizes."""
    rng = np.random.default_rng(72)
    img3 = rng.integers(0, 256, (40, 48, 3)).astype(np.uint8)
    d = encode_j2k(img3, levels=2, coc_transform={2: True}, step=4.0)
    # COD default reversible, no MCT; COC flips component 2 to 9/7
    # (segment: FF53 Lcoc Ccoc Scoc SPcoc=levels,xcb,ycb,style,transform)
    i = d.find(b"\xff\x53")
    assert i > 0 and d[i + 4] == 2 and d[i + 10] == 0
    assert d.find(b"\xff\x5d") > 0          # QCC carries its quant
    out = decode_jp2(d)
    assert np.array_equal(out[..., 0], img3[..., 0])
    assert np.array_equal(out[..., 1], img3[..., 1])
    err = np.abs(out[..., 2].astype(int) - img3[..., 2].astype(int))
    assert 0 < err.max() < 32
    # inverse direction: lossy default, one channel forced lossless
    d = encode_j2k(img3, levels=2, irreversible=True, step=2.0,
                   coc_transform={0: False})
    out = decode_jp2(d)
    assert np.array_equal(out[..., 0], img3[..., 0])
    assert not np.array_equal(out[..., 1], img3[..., 1])
    # combined levels + transform + block-size override on one channel
    d = encode_j2k(img3, levels=2, coc_transform={1: True},
                   coc_levels={1: 3}, coc_block_exp={1: (4, 4)},
                   step=0.25)
    out = decode_jp2(d)
    assert np.array_equal(out[..., 0], img3[..., 0])
    assert np.array_equal(out[..., 2], img3[..., 2])
    # derived-quant default with a deeper-pyramid component (per-
    # component E.1.1 expansion in the decoder)
    d = encode_j2k(img3, levels=2, irreversible=True,
                   derived_quant=True, coc_levels={1: 3}, step=0.25)
    out = decode_jp2(d)
    assert np.abs(out.astype(int) - img3.astype(int)).max() < 10


def test_coc_levels_reduce_and_tiles():
    """Per-component levels compose with reduce_levels (clamped to the
    SHALLOWEST component) and with multi-tile grids."""
    rng = np.random.default_rng(73)
    img3 = rng.integers(0, 256, (40, 48, 3)).astype(np.uint8)
    d = encode_j2k(img3, levels=3, coc_levels={2: 2})
    out = decode_jp2(d, reduce_levels=1)
    assert out.shape == (20, 24, 3)
    # reduce beyond the shallowest component clamps to it
    out = decode_jp2(d, reduce_levels=3)
    assert out.shape == (10, 12, 3)
    big = rng.integers(0, 256, (48, 64, 3)).astype(np.uint8)
    d = encode_j2k(big, levels=2, coc_levels={1: 3},
                   tile_size=(16, 16))
    assert np.array_equal(decode_jp2(d), big)


def test_coc_per_component_precincts_roundtrip():
    """Per-component precinct grids (round 7 late — the FINAL COC
    scope item): COC Scoc bit 0 gives a component its own precinct
    partition (or reverts it to the maximal default while COD
    declares precincts), changing its packet count, anchor set,
    tag-tree shapes and effective code-block caps.  Lossless
    round-trips across every progression order, composed with
    SOP/EPH, tile-parts, tiles, POC and the block-size overrides;
    plus contract guards and typed-error fuzz."""
    rng = np.random.default_rng(81)
    img = rng.integers(0, 256, (64, 96, 3)).astype(np.uint8)
    for prog in ("LRCP", "RLCP", "RPCL", "PCRL", "CPRL"):
        d = encode_j2k(img, levels=2, progression=prog,
                       precinct_exp=(4, 4),
                       coc_prec={1: (5, 4), 2: None})
        assert d.count(b"\xff\x53") >= 2     # COC for comps 1 and 2
        assert np.array_equal(decode_jp2(d), img), prog
    # COD default (maximal) + one component with real precincts
    d = encode_j2k(img, levels=2, coc_prec={0: (4, 5)})
    assert np.array_equal(decode_jp2(d), img)
    # composes with sop/eph/tile-parts, tiles, POC, cb-size overrides
    d = encode_j2k(img, levels=2, progression="RPCL", sop=True,
                   eph=True, precinct_exp=(4, 4), tile_parts=2,
                   coc_prec={2: (4, 5)})
    assert np.array_equal(decode_jp2(d), img)
    d = encode_j2k(img, levels=2, tile_size=(32, 32),
                   precinct_exp=(4, 4), coc_prec={1: (5, 4)})
    assert np.array_equal(decode_jp2(d), img)
    d = encode_j2k(img, levels=2, coc_prec={1: (4, 4)},
                   poc=[(0, 0, 1, 1, 3, "LRCP"),
                        (1, 0, 1, 3, 3, "RPCL")])
    assert np.array_equal(decode_jp2(d), img)
    d = encode_j2k(img, levels=2, precinct_exp=(4, 4),
                   coc_prec={1: (3, 3)}, coc_block_exp={1: (3, 3)})
    assert np.array_equal(decode_jp2(d), img)
    # guards
    with pytest.raises(ValueError, match="nonexistent"):
        encode_j2k(img, coc_prec={7: (4, 4)})
    with pytest.raises(ValueError, match="out of range"):
        encode_j2k(img, coc_prec={1: (0, 4)})
    with pytest.raises(ValueError, match="custom precincts"):
        encode_j2k(img, coc_levels={1: 3}, coc_prec={1: (4, 4)})
    # typed-error fuzz over a per-component-precinct stream
    data = bytearray(encode_j2k(img, levels=2, precinct_exp=(4, 4),
                                coc_prec={1: (5, 4), 2: None}))
    for i in range(0, len(data), 17):
        try:
            decode_jp2(bytes(data[:i]))
        except Jp2Error:
            pass
    for _ in range(120):
        d = bytearray(data)
        for _ in range(int(rng.integers(1, 5))):
            d[int(rng.integers(0, len(d)))] = int(rng.integers(0, 256))
        try:
            decode_jp2(bytes(d))
        except Jp2Error:
            pass


def test_coc_levels_guards_and_fuzz():
    """Contract guards for the new scope + typed-error fuzz over a
    levels-override stream."""
    rng = np.random.default_rng(74)
    img3 = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    with pytest.raises(ValueError, match="nonexistent"):
        encode_j2k(img3, coc_levels={5: 2})
    with pytest.raises(ValueError, match="out of range"):
        encode_j2k(img3, coc_levels={1: 9})
    with pytest.raises(ValueError, match="nonexistent"):
        encode_j2k(img3, coc_transform={4: True})
    with pytest.raises(ValueError, match="custom precincts"):
        encode_j2k(img3, coc_levels={1: 3}, precinct_exp=(4, 4))
    with pytest.raises(ValueError, match="roi"):
        encode_j2k(img3, coc_transform={1: True}, roi=(0, 0, 8, 8))
    with pytest.raises(ValueError, match="comp_steps"):
        encode_j2k(img3, irreversible=True, coc_levels={1: 3},
                   comp_steps=(0.5, 1.0, 1.0))
    data = bytearray(encode_j2k(img3, levels=2, coc_levels={2: 3},
                                coc_transform={1: True}, step=1.0))
    for i in range(0, len(data), 13):
        try:
            decode_jp2(bytes(data[:i]))
        except Jp2Error:
            pass
    for _ in range(150):
        d = bytearray(data)
        for _ in range(int(rng.integers(1, 5))):
            d[int(rng.integers(0, len(d)))] = int(rng.integers(0, 256))
        try:
            decode_jp2(bytes(d))
        except Jp2Error:
            pass
