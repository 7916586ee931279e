"""Compiled-kernel loader: builds ``extkern.c`` with the system C
compiler at first use and exposes ctypes wrappers for the arithmetic
-coded decode hot loops (JBIG2 generic/refinement regions, JPEG2000
Tier-1).

Why this exists: the reference project ships compiled Cython kernels
for its per-pixel hot loops (``cython/sauvola.pyx``,
``cython/optimize_gray.pyx``) and shells out to native codecs
(kakadu/jbig2) for decode speed.  This module plays the same role for
our from-scratch codecs — the C file is a transcription of OUR OWN
Python inner loops (see extkern.c's header), built in-process so
nothing needs to be installed.

Safety posture:

* the Python paths remain the oracle — ``tests/test_native.py`` fuzzes
  both paths against each other, and every pinned fixture in the suite
  exercises the compiled path by default;
* a build- or load-time failure (no compiler, read-only tmp, …) or a
  failed self-test silently falls back to pure Python — behaviour is
  identical either way, only throughput changes;
* ``SPARK_GRAFT_CKERN=0`` forces pure Python (used by the parity
  tests and available as an operational kill switch).

On a multi-executor cluster each executor compiles once per source
hash into its local temp dir (~200 ms) and memoizes the ``.so``; the
source travels inside ``engine.zip`` (``importlib.resources`` reads it
through zipimport), so ``spark-submit --py-files engine.zip`` needs no
extra deployment step.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import subprocess
import tempfile
import threading
from array import array

import numpy as np

__all__ = [
    "available",
    "status",
    "generic_session",
    "t1_native",
    "NativeError",
]


class NativeError(Exception):
    """Compiled kernel reported an error; caller must fall back."""


_lib = None
_tried = False
_status = "not loaded"

_U8P = ctypes.POINTER(ctypes.c_uint8)
_I8P = ctypes.POINTER(ctypes.c_int8)
_I32P = ctypes.POINTER(ctypes.c_int32)
_I64P = ctypes.POINTER(ctypes.c_int64)
_U16P = ctypes.POINTER(ctypes.c_uint16)
_F64P = ctypes.POINTER(ctypes.c_double)


def _source() -> str:
    from importlib import resources

    return (resources.files(__package__) / "extkern.c").read_text()


def _cache_dir() -> str:
    """Per-uid 0700 cache directory for built ``.so`` files.

    The tag in the filename is the sha256 of *public* source, so on a
    multi-user host a world-writable cache (e.g. bare /tmp) would let
    another local user pre-plant a malicious ``apts_ckern_<tag>.so``
    that ``ctypes.CDLL`` would then trust.  We therefore build and
    reuse only under a directory we own with mode 0700; anything that
    fails those checks is refused (caller falls back to a fresh dir).
    """
    base = (os.environ.get("SPARK_GRAFT_NATIVE_CACHE")
            or tempfile.gettempdir())
    d = os.path.join(base, f"apts_ckern_u{os.getuid()}")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.lstat(d)
        if (st.st_uid == os.getuid() and os.path.isdir(d)
                and not os.path.islink(d) and not (st.st_mode & 0o077)):
            return d
    except OSError:
        pass
    # the fixed path is unusable (pre-planted by another uid, wrong
    # perms, unwritable base): fall back to a fresh private dir — the
    # kernels still compile, only cross-process memoization is lost.
    # Anything else would let a local user DoS the compiled path by
    # squatting the predictable name.
    return tempfile.mkdtemp(prefix=f"apts_ckern_u{os.getuid()}_")


# -O3 + native ISA: enables auto-vectorization of the integer inner
# loops (Sauvola integrals, optimise2 window sums, mask denoise).
# Bit-parity is preserved because neither flag licenses FP
# reassociation (-ffast-math stays off and -ffp-contract=off below
# keeps FMA fusion disabled), so float64 expression trees still
# evaluate IEEE per-op exactly like NumPy's.  A -march=native build is
# tagged with the host's ISA fingerprint, so a cache directory shared
# by hosts of different CPU generations never hands one host another's
# instructions; SPARK_GRAFT_CKERN_ARCH= overrides (set to e.g.
# x86-64-v3, or empty to drop the flag entirely).
def _arch_flags() -> list:
    arch = os.environ.get("SPARK_GRAFT_CKERN_ARCH", "native")
    return [f"-march={arch}"] if arch else []


def _host_isa() -> str:
    """Machine name plus the CPU feature flags ``/proc/cpuinfo`` lists
    (the first ``flags``/``Features`` line); what ``-march=native``
    compiles for."""
    feats = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith(("flags", "Features")):
                    feats = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return f"{platform.machine()}\0{feats}"


def _so_path(cache: str, flags: list, src: str, isa: str) -> str:
    """Cache file for ``src`` built with ``flags``; a native-ISA build
    is keyed by the host fingerprint ``isa`` as well."""
    key = " ".join(flags) + "\0" + src
    if "-march=native" in flags:
        key += "\0" + isa
    tag = hashlib.sha256(key.encode()).hexdigest()[:16]
    return os.path.join(cache, f"apts_ckern_{tag}.so")


def _cached(so: str) -> bool:
    if not os.path.exists(so):
        return False
    st = os.lstat(so)
    # reuse only regular files the current uid owns
    if st.st_uid == os.getuid() and os.path.isfile(so) \
            and not os.path.islink(so):
        return True
    os.unlink(so)
    return False


def _build(so: str, flags: list, src: str, cache: str) -> None:
    fd, cpath = tempfile.mkstemp(suffix=".c", dir=cache)
    try:
        with os.fdopen(fd, "w") as f:
            f.write(src)
        tmp_so = f"{so}.build{os.getpid()}"
        # -ffp-contract=off: no FMA fusion, so the 9/7 float64 lifting
        # matches numpy's unfused expression trees bit-for-bit
        cmd = (["gcc"] + flags +
               ["-shared", "-fPIC", "-fvisibility=hidden",
                "-ffp-contract=off", "-o", tmp_so, cpath, "-lm"])
        subprocess.run(cmd, check=True, capture_output=True, timeout=300)
        os.replace(tmp_so, so)   # atomic: concurrent builders race safely
    finally:
        try:
            os.unlink(cpath)
        except OSError:
            pass


def _compile(src: str) -> str:
    flags = ["-O3"] + _arch_flags()
    # Ancient toolchains without -march=native support fall back to
    # the portable flag set, cached under its own tag.
    variants = [flags]
    if "-march=native" in flags:
        variants.append([a for a in flags if a != "-march=native"])
    cache = _cache_dir()
    isa = _host_isa()
    for fl in variants:
        so = _so_path(cache, fl, src, isa)
        if _cached(so):
            return so
        try:
            _build(so, fl, src, cache)
            return so
        except subprocess.CalledProcessError:
            if fl is variants[-1]:
                raise


def _bind(lib) -> None:
    lib.apts_set_mq_tables.argtypes = [_U16P, _U8P, _U8P, _U8P,
                                       ctypes.c_int32]
    lib.apts_set_mq_tables.restype = None
    lib.apts_jb2_generic.argtypes = [
        _U8P, ctypes.c_int64, _I64P, ctypes.c_int32, _U8P, _U8P,
        ctypes.c_int32, ctypes.c_int32, _I8P, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_int32, _U8P, _U8P,
    ]
    lib.apts_jb2_generic.restype = ctypes.c_int32
    lib.apts_jb2_refine.argtypes = [
        _U8P, ctypes.c_int64, _I64P, ctypes.c_int32, _U8P, _U8P,
        ctypes.c_int32, ctypes.c_int32, _I8P, ctypes.c_int32, _I8P,
        ctypes.c_int32, _U8P, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, _U8P,
    ]
    lib.apts_jb2_refine.restype = ctypes.c_int32
    lib.apts_t1_decode.argtypes = [
        _U8P, _I64P, ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_int32, ctypes.c_int32, _U8P, _U8P,
        _U8P, _U8P, ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        _I32P,
    ]
    lib.apts_t1_decode.restype = ctypes.c_int32
    lib.apts_jpeg_scan.argtypes = [
        _U8P, _I64P, ctypes.c_int32, ctypes.c_int32, ctypes.c_int64,
        ctypes.c_int32, ctypes.c_int32, _I32P, _I32P, _I32P,
        ctypes.POINTER(ctypes.c_int16), _I8P,
        ctypes.POINTER(ctypes.c_int16), _I8P, _I32P, ctypes.c_int32,
        _I32P, _I64P,
    ]
    lib.apts_jpeg_scan.restype = ctypes.c_int32
    _DP = ctypes.POINTER(ctypes.c_double)
    _U16 = ctypes.POINTER(ctypes.c_uint16)
    lib.apts_idct_finish.argtypes = [_DP, ctypes.c_int64,
                                     ctypes.c_int32, ctypes.c_int32,
                                     _U8P, _U16]
    lib.apts_idct_finish.restype = None
    lib.apts_ycc_rgb.argtypes = [
        _U16, _U16, _U16, ctypes.c_int64, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_double, ctypes.c_double,
        ctypes.c_double, ctypes.c_double, _U8P, _U16,
    ]
    lib.apts_ycc_rgb.restype = None
    lib.apts_dwt53_inv.argtypes = [_I64P, ctypes.c_int32,
                                   ctypes.c_int32, ctypes.c_int32]
    lib.apts_dwt53_inv.restype = ctypes.c_int32
    lib.apts_dwt97_inv.argtypes = [
        ctypes.POINTER(ctypes.c_double), ctypes.c_int32,
        ctypes.c_int32, ctypes.c_int32, ctypes.c_double,
        ctypes.c_double, ctypes.c_double, ctypes.c_double,
        ctypes.c_double,
    ]
    lib.apts_dwt97_inv.restype = ctypes.c_int32
    lib.apts_optimise2.argtypes = [
        _U8P, _U8P, ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, _U8P,
    ]
    lib.apts_optimise2.restype = ctypes.c_int32
    lib.apts_sauvola.argtypes = [
        _U8P, ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_double, ctypes.c_double, _U8P,
    ]
    lib.apts_sauvola.restype = ctypes.c_int32
    lib.apts_gauss_axis.argtypes = [
        _DP, _DP, ctypes.c_int64, ctypes.c_int64, ctypes.c_int32,
        _DP, ctypes.c_int32,
    ]
    lib.apts_gauss_axis.restype = ctypes.c_int32
    lib.apts_mask_denoise.argtypes = [
        _U8P, ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_int32,
    ]
    lib.apts_mask_denoise.restype = ctypes.c_int32
    lib.apts_dwt2_hh.argtypes = [
        _DP, ctypes.c_int64, ctypes.c_int64, _DP, ctypes.c_int32, _DP,
    ]
    lib.apts_dwt2_hh.restype = ctypes.c_int32
    lib.apts_box_downsample.argtypes = [
        _U8P, ctypes.c_int64, ctypes.c_int64, ctypes.c_int32,
        ctypes.c_int64, ctypes.c_int64, _U8P,
    ]
    lib.apts_box_downsample.restype = ctypes.c_int32
    lib.apts_png_unfilter.argtypes = [
        _U8P, ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
        ctypes.c_int64, ctypes.c_int32, _U8P,
    ]
    lib.apts_png_unfilter.restype = ctypes.c_int32
    lib.apts_jpeg_prog_scan.argtypes = [
        _U8P, _I64P, ctypes.c_int32, ctypes.c_int32, ctypes.c_int64,
        ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, _I32P, _I32P, _I32P, _I32P,
        ctypes.POINTER(ctypes.c_int16), _I8P, _I32P, ctypes.c_int32,
        ctypes.POINTER(_I32P),
    ]
    lib.apts_jpeg_prog_scan.restype = ctypes.c_int32
    _U32 = ctypes.POINTER(ctypes.c_uint32)
    lib.apts_aes_cbc.argtypes = [
        _U8P, ctypes.c_int64, _U8P, _U32, _U32, ctypes.c_int32,
        _U32, _U32, _U32, _U32, _U8P, ctypes.c_int32, _U8P,
    ]
    lib.apts_aes_cbc.restype = None
    lib.apts_rc4.argtypes = [_U8P, ctypes.c_int32, _U8P,
                             ctypes.c_int64, _U8P]
    lib.apts_rc4.restype = None
    lib.apts_jpeg_lossless.argtypes = [
        _U8P, ctypes.c_int64, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, ctypes.POINTER(ctypes.c_int16), _I8P, _I32P,
        _I32P,
    ]
    lib.apts_jpeg_lossless.restype = ctypes.c_int32
    lib.apts_lzw_decode.argtypes = [_U8P, ctypes.c_int64, _U8P,
                                    ctypes.c_int64, _I64P]
    lib.apts_lzw_decode.restype = ctypes.c_int32
    lib.apts_lzw_encode.argtypes = [_U8P, ctypes.c_int64, _U8P,
                                    ctypes.c_int64, _I64P]
    lib.apts_lzw_encode.restype = ctypes.c_int32
    i16 = ctypes.POINTER(ctypes.c_int16)
    lib.apts_g4_decode.argtypes = [
        _U8P, ctypes.c_int64, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int32, i16, _I8P, i16, _I8P, _U8P,
    ]
    lib.apts_g4_decode.restype = ctypes.c_int32
    lib.apts_g4_encode.argtypes = [
        _U8P, ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        _I8P, i16, _I8P, i16, _I8P, i16, _I8P, i16,
        _U8P, ctypes.c_int64, _I64P,
    ]
    lib.apts_g4_encode.restype = ctypes.c_int32
    lib.apts_dwt53_fwd.argtypes = lib.apts_dwt53_inv.argtypes
    lib.apts_dwt53_fwd.restype = ctypes.c_int32
    lib.apts_dwt97_fwd.argtypes = lib.apts_dwt97_inv.argtypes
    lib.apts_dwt97_fwd.restype = ctypes.c_int32
    lib.apts_t1_encode.argtypes = [
        ctypes.POINTER(ctypes.c_uint32), _U8P, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_int32, ctypes.c_int32, _U8P, _U8P,
        _U8P, _U8P, ctypes.c_int32, ctypes.c_int32, ctypes.c_int32,
        _U8P, ctypes.c_int64, _I64P, _I32P,
    ]
    lib.apts_t1_encode.restype = ctypes.c_int32
    lib.apts_jb2_encode_generic.argtypes = [
        _U8P, ctypes.c_int32, ctypes.c_int32, _I8P, ctypes.c_int32,
        ctypes.c_int32, ctypes.c_int32, _U8P, _U8P, _U8P, _I64P,
        _U8P, ctypes.c_int64,
    ]
    lib.apts_jb2_encode_generic.restype = ctypes.c_int32
    lib.apts_jb2_encode_flush.argtypes = [_I64P, _U8P,
                                          ctypes.c_int64, _I64P]
    lib.apts_jb2_encode_flush.restype = ctypes.c_int32
    vp, i64, f64 = ctypes.c_void_p, ctypes.c_int64, ctypes.c_double
    lib.apts_text_layer.argtypes = [
        vp, i64, vp, i64, vp, i64, f64, f64, f64, f64, ctypes.c_int32,
        vp, i64, _I64P,
    ]
    lib.apts_text_layer.restype = ctypes.c_int32
    lib.apts_text_payload.argtypes = [vp, i64] + [vp, i64] * 5 + [vp] * 4
    lib.apts_text_payload.restype = ctypes.c_int32


def _u8(a: np.ndarray):
    return a.ctypes.data_as(_U8P)


# One text page for the self-test: Tm and Td placement, an RTL word,
# the fontsize fallback, an astral codepoint and a float font scale.
_TEXT_PAGE = [{"lines": [{
    "bbox": [10, 10, 200, 30], "baseline": [0.05, -2.5], "words": [
        {"text": "spark", "bbox": [10, 10, 60, 30], "fontsize": 11.5,
         "writing_direction": 0},
        {"text": "query", "bbox": [64, 11, 100, 30], "fontsize": 11.5,
         "writing_direction": 1},
        {"text": "\u05e9\u05dc\u05d5\u05dd", "bbox": [104, 10, 130, 30],
         "fontsize": 0, "writing_direction": 2},
        {"text": "\U0001d518x", "bbox": [140, 12, 190, 31], "fontsize": 9,
         "writing_direction": 1}]}]}]


def _self_test(lib) -> bool:
    """Round-trip a small block through both coders, render one text
    page both ways and parse its payload both ways; any mismatch
    disables the compiled path for the process."""
    import json

    from ..jp2codec import t1_decode, t1_encode
    from ..textlayer import (_lines, _pack, _render_native,
                             _render_text_layer_py)

    args = (_TEXT_PAGE, 612.0, 792.0, 72.0, 0.24)
    nat = _render_native(*args, _lib=lib)
    if nat is None or nat != _render_text_layer_py(*args):
        return False
    page = {"w": 2550, "h": 3300.5, "dpi": None, "scan_res": 300}
    payload = json.dumps({"page": page, "paragraphs": _TEXT_PAGE},
                         ensure_ascii=False).encode()
    got = text_payload_native(payload, _lib=lib)
    if got is None:
        return False
    fields, ints, nums, blob, text, lens = got
    want = _pack(_TEXT_PAGE)
    if (fields != tuple(page.values())
            or [type(v) for v in fields] != [type(v) for v in page.values()]
            or (ints, nums, blob) != want[:3]
            or _lines(text, lens) != want[3] or want[4]):
        return False

    rng = np.random.default_rng(20260818)
    coefs = rng.integers(-900, 900, size=(23, 17)).astype(np.int64)
    coefs[rng.random((23, 17)) < 0.6] = 0
    for band in ("LL", "HH"):
        for bypass in (False, True):
            data, npasses, numbps = t1_encode(coefs, band, bypass=bypass)
            segs = data if bypass else None
            raw = b"" if bypass else data
            py = t1_decode(raw, npasses, numbps, 17, 23, band,
                           segments=segs, _native=False)
            nat = t1_native(raw, npasses, numbps, 17, 23, band,
                            segments=segs, _lib=lib)
            if nat is None or not np.array_equal(py, nat):
                return False
    return True


def _load():
    global _lib, _tried, _status
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("SPARK_GRAFT_CKERN", "1").lower() in ("0", "false"):
        _status = "disabled by SPARK_GRAFT_CKERN"
        return None
    try:
        lib = ctypes.CDLL(_compile(_source()))
        _bind(lib)
        from ..jp2codec import _NLPS, _NMPS, _QE, _SWITCH

        qe = np.array(_QE, dtype=np.uint16)
        nmps = np.array(_NMPS, dtype=np.uint8)
        nlps = np.array(_NLPS, dtype=np.uint8)
        sw = np.array(_SWITCH, dtype=np.uint8)
        lib.apts_set_mq_tables(
            qe.ctypes.data_as(_U16P), _u8(nmps), _u8(nlps), _u8(sw),
            len(qe))
        if not _self_test(lib):
            _status = "self-test mismatch; pure Python"
            return None
        _lib = lib
        _status = "compiled kernels active"
    except Exception as exc:            # no gcc, sandboxed tmp, …
        _status = f"build failed ({type(exc).__name__}); pure Python"
        _lib = None
    return _lib


def available() -> bool:
    return _load() is not None


def status() -> str:
    _load()
    return _status


# ------------------------------------------------------------- JBIG2

class GenericSession:
    """One MQ-coder session over a JBIG2 segment's data slice, shared
    across the generic/refinement regions it codes (the halftone
    bitplane case).  Mirrors the `_mq_decode_fn(data, states, mps)` +
    `_decode_generic(...)` pairing in jbig2codec."""

    __slots__ = ("_lib", "_data", "_n", "_regs", "_started", "_states",
                 "_mps")

    def __init__(self, lib, data: bytes):
        self._lib = lib
        # one pad byte so an empty slice still yields a valid pointer;
        # the C side never reads at or past index _n
        self._data = np.frombuffer(data + b"\x00", dtype=np.uint8)
        self._n = len(data)
        self._regs = np.zeros(4, dtype=np.int64)
        self._started = 0
        self._states = np.zeros(65536, dtype=np.uint8)
        self._mps = np.zeros(65536, dtype=np.uint8)

    def _dp(self):
        return _u8(self._data)

    def decode_generic(self, w: int, h: int, template: int, at,
                       tpgdon: bool, skip=None) -> np.ndarray:
        from ..jbig2codec import _TPGDON_CTX, _sorted_template

        pix = np.array(_sorted_template(template, at),
                       dtype=np.int8).ravel()
        out = np.zeros((h, w), dtype=np.uint8)
        skip_p = ctypes.cast(None, _U8P)
        if skip is not None:
            skip = np.ascontiguousarray(skip, dtype=np.uint8)
            skip_p = _u8(skip)
        rc = self._lib.apts_jb2_generic(
            self._dp(), self._n, self._regs.ctypes.data_as(_I64P),
            self._started, _u8(self._states), _u8(self._mps), w, h,
            pix.ctypes.data_as(_I8P), len(pix) // 2,
            1 if tpgdon else 0, _TPGDON_CTX[template], skip_p,
            _u8(out))
        if rc:
            raise NativeError(f"jb2_generic rc={rc}")
        self._started = 1
        return out

    def decode_refinement(self, w: int, h: int, template: int, at,
                          ref: np.ndarray, dx: int, dy: int,
                          tpgron: bool) -> np.ndarray:
        from ..jbig2codec import (_REF_CODING, _REF_REFERENCE,
                                  _TPGRON_CTX)

        coding = list(_REF_CODING[template])
        refpix = list(_REF_REFERENCE[template])
        if template == 0:
            coding.append(tuple(at[0]))
            refpix.append(tuple(at[1]))
        cod = np.array(coding, dtype=np.int8).ravel()
        rp = np.array(refpix, dtype=np.int8).ravel()
        ref = np.ascontiguousarray(ref, dtype=np.uint8)
        rh, rw = ref.shape
        out = np.zeros((h, w), dtype=np.uint8)
        rc = self._lib.apts_jb2_refine(
            self._dp(), self._n, self._regs.ctypes.data_as(_I64P),
            self._started, _u8(self._states), _u8(self._mps), w, h,
            cod.ctypes.data_as(_I8P), len(cod) // 2,
            rp.ctypes.data_as(_I8P), len(rp) // 2, _u8(ref), rh, rw,
            dx, dy, 1 if tpgron else 0, _TPGRON_CTX[template], 0,
            _u8(out))
        if rc:
            raise NativeError(f"jb2_refine rc={rc}")
        self._started = 1
        return out


def generic_session(data: bytes):
    """A compiled-kernel session for one segment, or None (pure
    Python) when the kernels are unavailable."""
    lib = _load()
    if lib is None:
        return None
    return GenericSession(lib, data)


# ---------------------------------------------------------- JPEG2000

def t1_native(data: bytes, npasses: int, numbps: int, w: int, h: int,
              band: str, segments=None, _lib=None):
    """Compiled T1 block decode; None means 'use the Python path'
    (kernel unavailable, unsupported shape, or the C walk reported an
    anomaly whose exception behaviour belongs to Python)."""
    lib = _lib if _lib is not None else _load()
    if lib is None or not 1 <= numbps <= 31:
        return None
    zc, sc_ctx, sc_xor, init, ctx_run, ctx_uni = _t1_tables(band)
    if segments is None:
        segbuf = np.frombuffer(data + b"\x00", dtype=np.uint8)
        offs = np.array([0, len(data)], dtype=np.int64)
        nseg, bypass = 1, 0
    else:
        segbuf = np.frombuffer(b"".join(segments) + b"\x00",
                               dtype=np.uint8)
        offs = np.zeros(len(segments) + 1, dtype=np.int64)
        if segments:
            offs[1:] = np.cumsum([len(s) for s in segments])
        nseg, bypass = len(segments), 1
    out = np.empty((h, w), dtype=np.int32)
    rc = lib.apts_t1_decode(
        _u8(segbuf), offs.ctypes.data_as(_I64P), nseg, bypass,
        npasses, numbps, w, h, _u8(zc), _u8(sc_ctx), _u8(sc_xor),
        _u8(init), len(init), ctx_run, ctx_uni,
        out.ctypes.data_as(_I32P))
    if rc:
        return None
    return out


def t1_encode_native(mags: np.ndarray, signs: np.ndarray, w: int,
                     h: int, numbps: int, bypass: bool, band: str):
    """Compiled T1 block encode; returns the list of codeword
    segments (one element when a single coder serves all passes), or
    None meaning 'use the Python encoder'."""
    lib = _load()
    if lib is None or not 1 <= numbps <= 31:
        return None
    zc, sc_ctx, sc_xor, init, ctx_run, ctx_uni = _t1_tables(band)
    fm = np.ascontiguousarray(mags, dtype=np.uint32).ravel()
    fs = np.ascontiguousarray(signs, dtype=np.uint8).ravel()
    npasses = 3 * numbps - 2
    cap = int(fm.size) * numbps // 2 + 4096
    out = np.empty(cap, dtype=np.uint8)
    segoff = np.zeros(npasses + 2, dtype=np.int64)
    nseg = ctypes.c_int32(0)
    rc = lib.apts_t1_encode(
        fm.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)), _u8(fs),
        w, h, numbps, 1 if bypass else 0, _u8(zc), _u8(sc_ctx),
        _u8(sc_xor), _u8(init), len(init), ctx_run, ctx_uni, _u8(out),
        cap, segoff.ctypes.data_as(_I64P), ctypes.byref(nseg))
    if rc:
        return None
    return [out[segoff[k]:segoff[k + 1]].tobytes()
            for k in range(nseg.value)]


class GenericEncodeSession:
    """One MQ-coder ENCODE session shared across the generic regions
    of a JBIG2 segment (mirror of the decode-side GenericSession)."""

    __slots__ = ("_lib", "_regs", "_states", "_mps", "_buf", "_cap")

    def __init__(self, lib, cap: int):
        self._lib = lib
        self._regs = np.zeros(4, dtype=np.int64)   # olen=0: fresh
        self._states = np.zeros(65536, dtype=np.uint8)
        self._mps = np.zeros(65536, dtype=np.uint8)
        self._cap = int(cap)
        self._buf = np.empty(self._cap, dtype=np.uint8)

    def encode_generic(self, bitmap: np.ndarray, template: int, at,
                       tpgdon: bool, skip=None) -> None:
        from ..jbig2codec import (_NOMINAL_AT, _TPGDON_CTX,
                                  _sorted_template)

        if at is None:
            at = _NOMINAL_AT[template]
        pix = np.array(_sorted_template(template, at),
                       dtype=np.int8).ravel()
        bm = np.ascontiguousarray(bitmap, dtype=np.uint8)
        h, w = bm.shape
        skip_p = ctypes.cast(None, _U8P)
        if skip is not None:
            skip = np.ascontiguousarray(skip, dtype=np.uint8)
            skip_p = _u8(skip)
        rc = self._lib.apts_jb2_encode_generic(
            _u8(bm), w, h, pix.ctypes.data_as(_I8P), len(pix) // 2,
            1 if tpgdon else 0, _TPGDON_CTX[template], skip_p,
            _u8(self._states), _u8(self._mps),
            self._regs.ctypes.data_as(_I64P), _u8(self._buf),
            self._cap)
        if rc:
            raise NativeError(f"jb2_encode_generic rc={rc}")

    def flush(self) -> bytes:
        start = ctypes.c_int64(0)
        rc = self._lib.apts_jb2_encode_flush(
            self._regs.ctypes.data_as(_I64P), _u8(self._buf),
            self._cap, ctypes.byref(start))
        if rc:
            raise NativeError(f"jb2_encode_flush rc={rc}")
        return self._buf[start.value:self._regs[3]].tobytes()


def generic_encode_session(cap: int):
    """A compiled-kernel MQ encode session (capacity in bytes), or
    None (pure Python) when the kernels are unavailable."""
    lib = _load()
    if lib is None:
        return None
    return GenericEncodeSession(lib, cap)


def jpeg_scan_native(segments, comps, hufftab, restart_interval: int,
                     n_mcus: int, mcus_x: int, dcmax: int) -> bool:
    """Baseline Huffman scan walk through the compiled kernel.
    Fills each comp's already-allocated int32 ``coef`` store in place
    and returns True; False means 'run the Python walk' (kernel
    unavailable or the C walk hit an error site whose exception
    belongs to Python)."""
    lib = _load()
    if lib is None or len(comps) > 4:
        return False
    keys = []
    for comp in comps:
        for key in ((0, comp["td"]), (1, comp["ta"])):
            if key not in keys:
                keys.append(key)
    i16 = ctypes.POINTER(ctypes.c_int16)
    dsym = np.concatenate([np.ascontiguousarray(hufftab[k][0],
                                                dtype=np.int16)
                           for k in keys])
    dlen = np.concatenate([np.ascontiguousarray(hufftab[k][1],
                                                dtype=np.int8)
                           for k in keys])
    tab_idx = np.array(
        [[keys.index((0, c["td"])), keys.index((1, c["ta"]))]
         for c in comps], dtype=np.int32).ravel()
    segbuf = np.frombuffer(b"".join(segments) + b"\x00", dtype=np.uint8)
    offs = np.zeros(len(segments) + 1, dtype=np.int64)
    if segments:
        offs[1:] = np.cumsum([len(s) for s in segments])
    sizes = [c["coef"].size for c in comps]
    coef_off = np.zeros(len(comps), dtype=np.int64)
    coef_off[1:] = np.cumsum(sizes[:-1])
    coef = np.zeros(int(sum(sizes)), dtype=np.int32)
    cv = np.array([c["v"] for c in comps], dtype=np.int32)
    ch = np.array([c["h"] for c in comps], dtype=np.int32)
    cbw = np.array([c["bw"] for c in comps], dtype=np.int32)
    rc = lib.apts_jpeg_scan(
        _u8(segbuf), offs.ctypes.data_as(_I64P), len(segments),
        restart_interval, n_mcus, mcus_x, len(comps),
        cv.ctypes.data_as(_I32P), ch.ctypes.data_as(_I32P),
        cbw.ctypes.data_as(_I32P), dsym.ctypes.data_as(i16),
        dlen.ctypes.data_as(_I8P), dsym.ctypes.data_as(i16),
        dlen.ctypes.data_as(_I8P), tab_idx.ctypes.data_as(_I32P),
        dcmax, coef.ctypes.data_as(_I32P),
        coef_off.ctypes.data_as(_I64P))
    if rc:
        return False
    for c, off, size in zip(comps, coef_off, sizes):
        c["coef"][...] = coef[off:off + size].reshape(c["coef"].shape)
    return True


def idct_finish_native(pix: np.ndarray, shift: int, maxv: int, dtype):
    """clip(round(pix) + shift, 0, maxv).astype(dtype) fused in C;
    None means 'do it in numpy'."""
    lib = _load()
    if lib is None:
        return None
    pix = np.ascontiguousarray(pix, dtype=np.float64)
    out = np.empty(pix.shape, dtype=dtype)
    p8 = _u8(out) if dtype == np.uint8 else None
    p16 = (out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint16))
           if dtype != np.uint8 else None)
    lib.apts_idct_finish(
        pix.ctypes.data_as(ctypes.POINTER(ctypes.c_double)), pix.size,
        shift, maxv, p8, p16)
    return out


def ycc_rgb_native(y: np.ndarray, cb: np.ndarray, cr: np.ndarray,
                   shift: int, maxv: int, dtype, k=(1.402, 0.344136,
                                                   0.714136, 1.772)):
    """Interleaved RGB from Y/Cb/Cr planes (the default BT.601 float
    conversion in jpegcodec._assemble), fused rint+clip+cast in C;
    None means 'do it in numpy'."""
    lib = _load()
    if lib is None:
        return None
    u16 = ctypes.POINTER(ctypes.c_uint16)
    y = np.ascontiguousarray(y, dtype=np.uint16)
    cb = np.ascontiguousarray(cb, dtype=np.uint16)
    cr = np.ascontiguousarray(cr, dtype=np.uint16)
    out = np.empty(y.shape + (3,), dtype=dtype)
    p8 = _u8(out) if dtype == np.uint8 else None
    p16 = out.ctypes.data_as(u16) if dtype != np.uint8 else None
    lib.apts_ycc_rgb(y.ctypes.data_as(u16), cb.ctypes.data_as(u16),
                     cr.ctypes.data_as(u16), y.size, shift, maxv,
                     k[0], k[1], k[2], k[3], p8, p16)
    return out


def optimise2_native(mask: np.ndarray, img: np.ndarray, n_size: int):
    """MRC background/foreground fill (uint8, mask pixels keep their
    img values); None = use the numpy path."""
    lib = _load()
    if lib is None:
        return None
    mask = np.ascontiguousarray(mask, dtype=np.uint8)
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = mask.shape
    ch = 1 if img.ndim == 2 else img.shape[2]
    out = img.reshape(h, w, ch).copy()
    rc = lib.apts_optimise2(_u8(mask), _u8(img), h, w, ch, n_size,
                            _u8(out))
    if rc:
        return None
    return out.reshape(img.shape)


def text_layer_native(ints, nums, blob: bytes, width, height, ppi,
                      scale, scale_mode: int, _lib=None):
    """Text-op stream of one packed page (``array('i')`` structure,
    ``array('d')`` geometry, hex payload blob; the layout is documented
    at ``apts_text_layer``); None = the page needs the Python path."""
    lib = _lib if _lib is not None else _load()
    if lib is None:
        return None
    out = _tl_out
    if not hasattr(out, "n"):     # first call on this thread
        out.n = ctypes.c_int64(0)
        out.n_ref = ctypes.byref(out.n)
        out.buf = np.empty(0, dtype=np.uint8)
    need = 64 + 4 * len(ints) + 24 * len(nums) + len(blob)
    while True:
        if len(out.buf) < need:
            out.buf = np.empty(need, dtype=np.uint8)
            out.addr = out.buf.ctypes.data
        cap = len(out.buf)
        rc = lib.apts_text_layer(
            ints.buffer_info()[0], len(ints), nums.buffer_info()[0],
            len(nums), blob, len(blob), width, height, ppi, scale,
            scale_mode, out.addr, cap, out.n_ref)
        if rc:
            return None
        if out.n.value <= cap:
            return ctypes.string_at(out.addr, out.n.value)
        need = out.n.value


# Per-thread op-stream buffer: the foreign call releases the GIL.
_tl_out = threading.local()


def text_payload_native(payload, n: int | None = None, _lib=None):
    """Parse one text span's JSON payload in C (``apts_text_payload``):
    ``payload`` is a bytes-like object, or the address of ``n`` UTF-8
    bytes (an Arrow string's slice of its data buffer).  Returns
    ``((w, h, dpi, scan_res), ints, nums, blob, text, lens)``: the page
    fields as the JSON spells them (int, float or None), the
    ``textlayer._pack`` streams (``array('i')``, ``array('d')``, hex
    payload bytes), and the kept line texts as one UTF-8 ``bytes`` with
    each line's byte length in ``lens`` (``array('i')``).  None = the
    parser declined the page (see ``apts_text_payload``)."""
    lib = _lib if _lib is not None else _load()
    if lib is None:
        return None
    if n is None:
        n = len(payload)
    buf = _tp_buf
    if getattr(buf, "cap", 0) < n:
        _tp_alloc(buf, max(n, 4096))
    # rc 2 (an output buffer full) cannot happen with _tp_alloc's sizes;
    # like a decline (1), it sends the page to the Python path
    if lib.apts_text_payload(payload, n, *buf.args):
        return None
    ni, nd, nb, nt, nl = buf.counts
    kinds, ints, floats = buf.page_t, buf.page_i, buf.page_d
    fields = tuple(None if kinds[k] == 0 else
                   ints[k] if kinds[k] == 1 else floats[k]
                   for k in range(4))
    return (fields, buf.iv[:ni], buf.dv[:nd],
            ctypes.string_at(buf.blob_addr, nb),
            ctypes.string_at(buf.txt_addr, nt), buf.ll[:nl])


def _tp_alloc(buf, cap: int) -> None:
    """(Re)allocate this thread's parse buffers and the argument tail of
    the foreign call.  A payload of ``cap`` bytes fits: every word,
    line and paragraph the parser stores takes at least 12 JSON bytes,
    a code point's hex takes at most 4 per byte it is spelled in, and
    the text at most one per byte."""
    buf.cap = cap
    buf.iv = array("i", bytes(4 * (cap // 4 + 64)))
    buf.dv = array("d", bytes(8 * (cap // 4 + 64)))
    buf.ll = array("i", bytes(4 * (cap // 4 + 64)))
    blob = ctypes.create_string_buffer(5 * cap + 64)
    txt = ctypes.create_string_buffer(2 * cap + 64)
    buf.page_i = (ctypes.c_int64 * 4)()
    buf.page_d = (ctypes.c_double * 4)()
    buf.page_t = (ctypes.c_int32 * 4)()
    buf.counts = (ctypes.c_int64 * 5)()
    buf.blob_addr, buf.txt_addr = ctypes.addressof(blob), ctypes.addressof(txt)
    buf.keep = (blob, txt)
    buf.args = (buf.iv.buffer_info()[0], len(buf.iv),
                buf.dv.buffer_info()[0], len(buf.dv),
                buf.blob_addr, len(blob), buf.txt_addr, len(txt),
                buf.ll.buffer_info()[0], len(buf.ll),
                ctypes.addressof(buf.page_i), ctypes.addressof(buf.page_d),
                ctypes.addressof(buf.page_t), ctypes.addressof(buf.counts))


# Per-thread payload-parse buffers, for the same reason.
_tp_buf = threading.local()


def sauvola_native(img: np.ndarray, ww: int, wh: int, k: float,
                   R: float):
    """Sauvola ink mask (bool, True on ink); None = use numpy."""
    lib = _load()
    if lib is None:
        return None
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape
    out = np.empty((h, w), dtype=np.uint8)
    rc = lib.apts_sauvola(_u8(img), h, w, ww, wh, k, R, _u8(out))
    if rc:
        return None
    return out.view(bool)


def gauss2d_native(img: np.ndarray, kern: np.ndarray):
    """Separable Gaussian blur of a 2-D array, bit-exact mirror of
    ``kernels/noise.py::gaussian_filter`` (np.pad-'reflect' boundary,
    float64 accumulation in ascending-tap order, per-axis cast back to
    the input dtype).  The numpy path pays two full ``np.pad`` copies
    plus klen whole-image multiply-adds per axis — at the sink's 8 Mpx
    pages that one stage was 60% of recode wall.  None = numpy path."""
    lib = _load()
    if lib is None:
        return None
    a = np.asarray(img)
    if a.ndim != 2 or a.shape[0] == 0 or a.shape[1] == 0:
        return None
    dtype = a.dtype
    kern = np.ascontiguousarray(kern, dtype=np.float64)
    if len(kern) % 2 == 0:
        return None
    kp = kern.ctypes.data_as(_F64P)
    for axis in (0, 1):
        src = np.ascontiguousarray(a, dtype=np.float64)
        out = np.empty_like(src)
        rc = lib.apts_gauss_axis(
            src.ctypes.data_as(_F64P), out.ctypes.data_as(_F64P),
            src.shape[0], src.shape[1], axis, kp, len(kern))
        if rc:
            return None
        # the per-axis cast-back is the documented noise.py semantics
        # (a float64 input makes it a no-op)
        a = out.astype(dtype, copy=False)
    return a


def mask_denoise_native(masks: np.ndarray, mincnt: int, n_size: int):
    """Batched raster-order mask denoise (B, h, w) -> denoised uint8
    batch, bit-exact mirror of ``optimise.py::fast_mask_denoise_slow``
    run per page (sequential same-window feedback included); None =
    use the NumPy path (``optimise.fast_mask_denoise``)."""
    lib = _load()
    if lib is None:
        return None
    if masks.ndim != 3 or n_size < 0 or n_size > 16384:
        return None
    m = masks.astype(np.uint8)          # always a fresh owned buffer
    B, h, w = m.shape
    if not (h and w):
        return None
    rc = lib.apts_mask_denoise(_u8(m), B, h, w, mincnt, n_size)
    if rc:
        return None
    return m


def box_downsample_native(img: np.ndarray, h_t: int, w_t: int):
    """Integer-area box-mean downsample of a uint8 (h, w[, ch]) image
    to (h_t, w_t[, ch]); bit-exact mirror of the reduceat expression in
    ``kernels/pages.py::downsample_box``; None = NumPy path."""
    lib = _load()
    if lib is None:
        return None
    a = np.ascontiguousarray(img)
    if a.dtype != np.uint8 or a.ndim not in (2, 3):
        return None
    h, w = a.shape[:2]
    ch = 1 if a.ndim == 2 else a.shape[2]
    if not (0 < h_t <= h and 0 < w_t <= w and 1 <= ch <= 4):
        return None
    out = np.empty((h_t, w_t) + a.shape[2:], dtype=np.uint8)
    rc = lib.apts_box_downsample(_u8(a), h, w, ch, h_t, w_t, _u8(out))
    if rc:
        return None
    return out


def dwt2_hh_native(a: np.ndarray, filt: np.ndarray):
    """Single-level 2-D high-pass DWT band (rows then columns),
    bit-exact mirror of ``noise.py::_dwt_axis`` applied per axis
    (symmetric pad, ascending-tap float64 accumulation); None = NumPy
    path."""
    lib = _load()
    if lib is None:
        return None
    a = np.ascontiguousarray(a, dtype=np.float64)
    if a.ndim != 2 or a.shape[0] == 0 or a.shape[1] == 0:
        return None
    kern = np.ascontiguousarray(filt, dtype=np.float64)
    L = len(kern)
    oh = (a.shape[0] + L - 1) // 2
    ow = (a.shape[1] + L - 1) // 2
    out = np.empty((oh, ow), dtype=np.float64)
    rc = lib.apts_dwt2_hh(a.ctypes.data_as(_F64P), a.shape[0],
                          a.shape[1], kern.ctypes.data_as(_F64P), L,
                          out.ctypes.data_as(_F64P))
    if rc:
        return None
    return out


def png_unfilter_native(raw: bytes, pos: int, h: int, rowbytes: int,
                        bpp: int):
    """Whole-sub-image PNG unfilter (pngcodec._unfilter_image
    semantics, filters 0-4); returns (rows (h, rowbytes) uint8 array,
    new pos) or None = use the Python path (kernel absent, input
    short, or an unknown filter byte — Python then raises the typed
    PngError)."""
    lib = _load()
    if lib is None or h < 0 or rowbytes <= 0 or bpp <= 0:
        return None
    buf = np.frombuffer(raw, dtype=np.uint8)
    out = np.empty((h, rowbytes), dtype=np.uint8)
    rc = lib.apts_png_unfilter(_u8(buf), len(buf), pos, h, rowbytes,
                               bpp, _u8(out))
    if rc:
        return None
    return out, pos + h * (1 + rowbytes)


def jpeg_prog_scan_native(segments, scan_comps, hufftab, tab_keys,
                          ss, se, ah, al, restart_interval, n_units,
                          interleaved, mcus_x, dcmax) -> bool:
    """One progressive scan through the compiled kernel, accumulating
    into each scan comp's coef store in place.  False = run the Python
    walk (kernel absent or a C error site — the stores are restored
    from backup first, since AC refinement is not idempotent)."""
    lib = _load()
    if lib is None or not 1 <= len(scan_comps) <= 4:
        return False
    i16 = ctypes.POINTER(ctypes.c_int16)
    uniq = list(dict.fromkeys(k for k in tab_keys if k is not None))
    if uniq:
        sym = np.concatenate([np.ascontiguousarray(hufftab[k][0],
                                                   dtype=np.int16)
                              for k in uniq])
        ln = np.concatenate([np.ascontiguousarray(hufftab[k][1],
                                                  dtype=np.int8)
                             for k in uniq])
    else:                                    # DC refinement: no tables
        sym = np.zeros(65536, dtype=np.int16)
        ln = np.zeros(65536, dtype=np.int8)
    tab_idx = np.array([uniq.index(k) if k is not None else 0
                        for k in tab_keys], dtype=np.int32)
    segbuf = np.frombuffer(b"".join(segments) + b"\x00",
                           dtype=np.uint8)
    offs = np.zeros(len(segments) + 1, dtype=np.int64)
    if segments:
        offs[1:] = np.cumsum([len(s) for s in segments])
    cv = np.array([c["v"] for c in scan_comps], dtype=np.int32)
    ch = np.array([c["h"] for c in scan_comps], dtype=np.int32)
    cbw = np.array([c["bw"] for c in scan_comps], dtype=np.int32)
    bw_ni = np.array([c["bw_ni"] for c in scan_comps], dtype=np.int32)
    backups = [c["coef"].copy() for c in scan_comps]
    flats = (_I32P * len(scan_comps))(
        *[c["coef"].ctypes.data_as(_I32P) for c in scan_comps])
    rc = lib.apts_jpeg_prog_scan(
        _u8(segbuf), offs.ctypes.data_as(_I64P), len(segments),
        restart_interval, n_units, ss, se, ah, al,
        1 if interleaved else 0, mcus_x, len(scan_comps),
        cv.ctypes.data_as(_I32P), ch.ctypes.data_as(_I32P),
        cbw.ctypes.data_as(_I32P), bw_ni.ctypes.data_as(_I32P),
        sym.ctypes.data_as(i16), ln.ctypes.data_as(_I8P),
        tab_idx.ctypes.data_as(_I32P), dcmax, flats)
    if rc:
        for c, b in zip(scan_comps, backups):
            c["coef"][...] = b
        return False
    return True


_AES_TABS = None


def _aes_tables():
    global _AES_TABS
    if _AES_TABS is None:
        from ..pdfcrypt import (_D0, _D1, _D2, _D3, _INV_SBOX, _SBOX,
                                _T0, _T1, _T2, _T3)

        u32 = lambda t: np.array(t, dtype=np.uint32)  # noqa: E731
        u8 = lambda t: np.frombuffer(bytes(t),       # noqa: E731
                                     dtype=np.uint8).copy()
        _AES_TABS = {
            "enc": ([u32(_T0), u32(_T1), u32(_T2), u32(_T3)],
                    u8(_SBOX)),
            "dec": ([u32(_D0), u32(_D1), u32(_D2), u32(_D3)],
                    u8(_INV_SBOX)),
        }
    return _AES_TABS


def aes_cbc_native(data: bytes, iv: bytes, kw, ikw, nr: int,
                   decrypt: bool):
    """Aligned CBC block work (padding stays in pdfcrypt); None =
    use the Python/numpy paths."""
    lib = _load()
    if lib is None or len(data) % 16 or not data:
        return None
    u32p = ctypes.POINTER(ctypes.c_uint32)
    tabs, sb = _aes_tables()["dec" if decrypt else "enc"]
    kw_f = np.array([w for rk in kw for w in rk], dtype=np.uint32)
    ikw_f = np.array([w for rk in ikw for w in rk], dtype=np.uint32)
    buf = np.frombuffer(data, dtype=np.uint8)
    ivb = np.frombuffer(iv, dtype=np.uint8)
    out = np.empty(len(data), dtype=np.uint8)
    lib.apts_aes_cbc(
        _u8(buf), len(data), _u8(ivb), kw_f.ctypes.data_as(u32p),
        ikw_f.ctypes.data_as(u32p), nr,
        tabs[0].ctypes.data_as(u32p), tabs[1].ctypes.data_as(u32p),
        tabs[2].ctypes.data_as(u32p), tabs[3].ctypes.data_as(u32p),
        _u8(sb), 1 if decrypt else 0, _u8(out))
    return out.tobytes()


def rc4_native(key: bytes, data: bytes):
    lib = _load()
    if lib is None or not key:
        return None
    kb = np.frombuffer(key, dtype=np.uint8)
    buf = np.frombuffer(data + b"\x00", dtype=np.uint8)
    out = np.empty(len(data), dtype=np.uint8)
    lib.apts_rc4(_u8(kb), len(key), _u8(buf), len(data), _u8(out))
    return out.tobytes()


def jpeg_lossless_native(segment: bytes, w: int, h: int, scomps,
                         pred_sel: int, prec: int, pt: int):
    """Lossless (SOF3) scan: per-sample diff walk + predictor
    reconstruction; returns a list of (h, w) int64 planes
    (pre-point-transform) or None for the Python walk."""
    lib = _load()
    if lib is None or not 1 <= len(scomps) <= 4:
        return None
    i16 = ctypes.POINTER(ctypes.c_int16)
    tabs = []
    for _cid, (sym, ln) in scomps:
        tabs.append((np.ascontiguousarray(sym, dtype=np.int16),
                     np.ascontiguousarray(ln, dtype=np.int8)))
    sym_stack = np.concatenate([t[0] for t in tabs])
    len_stack = np.concatenate([t[1] for t in tabs])
    tab_idx = np.arange(len(scomps), dtype=np.int32)
    seg = np.frombuffer(segment + b"\x00", dtype=np.uint8)
    outs = np.zeros((len(scomps), h, w), dtype=np.int32)
    rc = lib.apts_jpeg_lossless(
        _u8(seg), len(segment), w, h, len(scomps), pred_sel, prec, pt,
        sym_stack.ctypes.data_as(i16), len_stack.ctypes.data_as(_I8P),
        tab_idx.ctypes.data_as(_I32P), outs.ctypes.data_as(_I32P))
    if rc:
        return None
    return [o.astype(np.int64) for o in outs]


def lzw_decode_native(data: bytes, expected: int):
    """TIFF-variant LZW decode; None = use Python (including for the
    edge streams whose table outgrows the C arrays)."""
    lib = _load()
    if lib is None or expected < 0:
        return None
    buf = np.frombuffer(data + b"\x00", dtype=np.uint8)
    out = np.empty(max(expected, 1), dtype=np.uint8)
    written = ctypes.c_int64(0)
    rc = lib.apts_lzw_decode(_u8(buf), len(data), _u8(out), expected,
                             ctypes.byref(written))
    if rc:
        return None
    return out[:written.value].tobytes()


def lzw_encode_native(data: bytes):
    """TIFF-variant LZW encode; None = use Python."""
    lib = _load()
    if lib is None:
        return None
    buf = np.frombuffer(data + b"\x00", dtype=np.uint8)
    cap = len(data) + len(data) // 2 + 64   # worst case ~12/8 bits/byte
    out = np.empty(cap, dtype=np.uint8)
    written = ctypes.c_int64(0)
    rc = lib.apts_lzw_encode(_u8(buf), len(data), _u8(out), cap,
                             ctypes.byref(written))
    if rc:
        return None
    return out[:written.value].tobytes()


_G4_TABS = None


def _g4_tables():
    """Decode LUTs + encode tables as C arrays, built once from the
    ccittcodec source-of-truth tables."""
    global _G4_TABS
    if _G4_TABS is None:
        from ..ccittcodec import (_BLACK_LUT, _ENC_BLACK, _ENC_WHITE,
                                  _WHITE_LUT)

        def lut(py):
            run = np.full(len(py), -1, dtype=np.int16)
            ln = np.zeros(len(py), dtype=np.int8)
            for i, ent in enumerate(py):
                if ent is not None:
                    run[i], ln[i] = ent
            return run, ln

        def enc(d):
            tl = np.zeros(64, dtype=np.int8)
            tv = np.zeros(64, dtype=np.int16)
            for r in range(64):
                tl[r], tv[r] = d[r]
            mks = sorted(r for r in d if r >= 64)
            ml = np.zeros(len(mks), dtype=np.int8)
            mv = np.zeros(len(mks), dtype=np.int16)
            for i, r in enumerate(mks):
                assert r == 64 * (i + 1)
                ml[i], mv[i] = d[r]
            return tl, tv, ml, mv

        _G4_TABS = (lut(_WHITE_LUT), lut(_BLACK_LUT),
                    enc(_ENC_WHITE), enc(_ENC_BLACK))
    return _G4_TABS


def g4_decode_native(data: bytes, w: int, h: int, byte_align: bool):
    """Pure-2D T.6 decode of a known row count; None = use Python."""
    lib = _load()
    if lib is None or h <= 0:
        return None
    (wr, wl), (br, bl), _, _ = _g4_tables()
    i16 = ctypes.POINTER(ctypes.c_int16)
    buf = np.frombuffer(data + b"\x00\x00\x00\x00", dtype=np.uint8)
    out = np.zeros((h, w), dtype=np.uint8)
    rc = lib.apts_g4_decode(
        _u8(buf), len(data), w, h, 1 if byte_align else 0,
        wr.ctypes.data_as(i16), wl.ctypes.data_as(_I8P),
        br.ctypes.data_as(i16), bl.ctypes.data_as(_I8P), _u8(out))
    if rc:
        return None
    return out


def g4_encode_native(bm: np.ndarray, byte_align: bool):
    """Pure-2D T.6 encode + EOFB; None = use Python."""
    lib = _load()
    if lib is None:
        return None
    _, _, (wtl, wtv, wml, wmv), (btl, btv, bml, bmv) = _g4_tables()
    i16 = ctypes.POINTER(ctypes.c_int16)
    bm = np.ascontiguousarray(bm, dtype=np.uint8)
    h, w = bm.shape
    cap = int(h) * (w + 32) + 64
    out = np.empty(cap, dtype=np.uint8)
    olen = ctypes.c_int64(0)
    rc = lib.apts_g4_encode(
        _u8(bm), w, h, 1 if byte_align else 0,
        wtl.ctypes.data_as(_I8P), wtv.ctypes.data_as(i16),
        btl.ctypes.data_as(_I8P), btv.ctypes.data_as(i16),
        wml.ctypes.data_as(_I8P), wmv.ctypes.data_as(i16),
        bml.ctypes.data_as(_I8P), bmv.ctypes.data_as(i16),
        _u8(out), cap, ctypes.byref(olen))
    if rc:
        return None
    return out[:olen.value].tobytes()


def dwt53_forward_native(a: np.ndarray, levels: int):
    """In-place multi-level forward 5/3; None = use Python."""
    lib = _load()
    if lib is None or levels <= 0:
        return None
    a = np.ascontiguousarray(a, dtype=np.int64)
    h, w = a.shape
    rc = lib.apts_dwt53_fwd(a.ctypes.data_as(_I64P), h, w, levels)
    if rc:
        return None
    return a


def dwt97_forward_native(a: np.ndarray, levels: int, ka: float,
                         kb: float, kg: float, kd: float, kk: float):
    """In-place multi-level forward 9/7; None = use Python."""
    lib = _load()
    if lib is None or levels <= 0:
        return None
    a = np.ascontiguousarray(a, dtype=np.float64)
    h, w = a.shape
    rc = lib.apts_dwt97_fwd(
        a.ctypes.data_as(ctypes.POINTER(ctypes.c_double)), h, w,
        levels, ka, kb, kg, kd, kk)
    if rc:
        return None
    return a


def dwt53_inverse_native(a: np.ndarray, levels: int):
    """In-place multi-level inverse 5/3 on an int64 Mallat array;
    None means 'use the Python path'."""
    lib = _load()
    if lib is None or levels <= 0:
        return None
    a = np.ascontiguousarray(a, dtype=np.int64)
    h, w = a.shape
    rc = lib.apts_dwt53_inv(a.ctypes.data_as(_I64P), h, w, levels)
    if rc:
        return None
    return a


def dwt97_inverse_native(a: np.ndarray, levels: int, ka: float,
                         kb: float, kg: float, kd: float, kk: float):
    """In-place multi-level inverse 9/7 on a float64 Mallat array;
    None means 'use the Python path'."""
    lib = _load()
    if lib is None or levels <= 0:
        return None
    a = np.ascontiguousarray(a, dtype=np.float64)
    h, w = a.shape
    rc = lib.apts_dwt97_inv(
        a.ctypes.data_as(ctypes.POINTER(ctypes.c_double)), h, w,
        levels, ka, kb, kg, kd, kk)
    if rc:
        return None
    return a


_T1_TABS: dict = {}


def _t1_tables(band: str):
    """Per-band-class context LUTs as uint8 arrays, built once from
    the jp2codec source-of-truth tables."""
    t = _T1_TABS.get(band)
    if t is None:
        from ..jp2codec import (_BAND_CLASS, _SC_TAB, _ZC_TABS,
                                CTX_RUN, CTX_UNI, _init_ctx)

        zc = np.array(_ZC_TABS[_BAND_CLASS[band]], dtype=np.uint8)
        sc_ctx = np.array([s[0] for s in _SC_TAB], dtype=np.uint8)
        sc_xor = np.array([s[1] for s in _SC_TAB], dtype=np.uint8)
        init = np.array(_init_ctx()[0], dtype=np.uint8)
        t = (zc, sc_ctx, sc_xor, init, CTX_RUN, CTX_UNI)
        _T1_TABS[band] = t
    return t
