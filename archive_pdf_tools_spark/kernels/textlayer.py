"""Text-layer extraction: reading order + baseline placement math.

Re-derives the reference's hOCR→PDF text-op renderer (itself a port of
Tesseract's pdfrenderer.cpp): ``internetarchivepdf/pdfrenderer.py:61-207``
(state machine), ``:449-549`` (baseline / affine / codepoint helpers).

The Spark pipeline does not write PDFs; the observable outputs here are

* the ordered per-line extracted text (paragraph → line → word traversal
  with the paragraph empty-skip of ``pdfrenderer.py:92-103`` and invalid
  codepoints dropped, ``pdfrenderer.py:529-544``), and
* the exact text-op stream bytes (``Tm/Td/Tf/Tz/TJ`` with ``prec``/
  ``floatbytes`` formatting) — used as a placement digest so the golden
  tests pin the placement math bit-for-bit.

Quirks preserved on purpose (they are the reference's semantics):

* ``first_word_of_line`` is only cleared in the ``Td`` branch
  (``pdfrenderer.py:160``), so the word after a ``Tm`` recomputes the line
  baseline.
* Fontsize fallback uses the *pixel-space* clipped line height
  (``pdfrenderer.py:168-177``).
* ``Tf`` renders ``str(fontsize)`` verbatim (int vs float spelling).
* Every word appends the synthetic space codepoint ``0020``
  (``pdfrenderer.py:190-192``).
"""

from __future__ import annotations

import json
from array import array
from dataclasses import dataclass, field
from functools import lru_cache
from math import atan2, cos, sin

from . import native

__all__ = ["prec", "floatbytes", "dist2", "get_word_baseline",
           "affine_matrix", "clip_baseline", "codepoint_to_utf16be",
           "render_text_layer", "dump_payload", "parse_payload",
           "PageTextResult", "PackedPage"]

WRITING_DIRECTION_UNSPECIFIED = 0
WRITING_DIRECTION_LEFT_TO_RIGHT = 1
WRITING_DIRECTION_RIGHT_TO_LEFT = 2
WRITING_DIRECTION_TOP_TO_BOTTOM = 3

K_CHAR_WIDTH = 2
K_DEFAULT_FONTSIZE = 8


def prec(x: float) -> float:
    """Round to 1/1000 avoiding -0 (``pdfrenderer.py:449-454``)."""
    kPrecision = 1000.0
    a = round(x * kPrecision) / kPrecision
    if a == -0:
        return 0.0
    return a


_FLOAT_FMT: dict[int, str] = {}


def floatbytes(v: float, precision: int = 8) -> bytes:
    """Fixed-point formatting, no scientific notation
    (``pdfrenderer.py:547-549``).  %-formatting with a memoized format
    string — identical output to str.format, ~2x faster in the op-stream
    hot loop (this runs ~4x per word)."""
    fmt = _FLOAT_FMT.get(precision)
    if fmt is None:
        fmt = _FLOAT_FMT.setdefault(precision, "%." + str(precision) + "f")
    return (fmt % v).encode("ascii")


def dist2(x1, y1, x2, y2):
    return (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)


def get_word_baseline(writing_direction, ppi, height,
                      word_x1, word_y1, word_x2, word_y2,
                      line_x1, line_y1, line_x2, line_y2):
    """Project the word origin onto the line baseline and convert to PDF
    points (``pdfrenderer.py:461-493``)."""
    if writing_direction == WRITING_DIRECTION_RIGHT_TO_LEFT:
        word_x1, word_x2 = word_x2, word_x1
        word_y1, word_y2 = word_y2, word_y1

    px, py = word_x1, word_y1
    l2 = float(dist2(line_x1, line_y1, line_x2, line_y2))
    if l2 == 0:
        x = line_x1
        y = line_y1
    else:
        t = ((px - line_x2) * (line_x2 - line_x1) +
             (py - line_y2) * (line_y2 - line_y1)) / l2
        x = line_x2 + t * (line_x2 - line_x1)
        y = line_y2 + t * (line_y2 - line_y1)

    word_length = float(dist2(word_x1, word_y1, word_x2, word_y2) ** 0.5)
    word_length = word_length * 72.0 / ppi
    x = x * 72 / ppi
    y = height - (y * 72.0 / ppi)
    return x, y, word_length


def affine_matrix(writing_direction, line_x1, line_y1, line_x2, line_y2):
    """Rotation from the baseline angle; RTL sign flip
    (``pdfrenderer.py:495-513``)."""
    theta = atan2(float(line_y1 - line_y2), float(line_x2 - line_x1))
    a, b, c, d = cos(theta), sin(theta), -sin(theta), cos(theta)
    if writing_direction == WRITING_DIRECTION_RIGHT_TO_LEFT:
        a, b = -a, -b
    return a, b, c, d


def clip_baseline(ppi, x1, y1, x2, y2):
    """Flatten near-horizontal baselines (``pdfrenderer.py:516-526``)."""
    line_x1, line_y1, line_x2, line_y2 = x1, y1, x2, y2
    rise = abs(y2 - y1) * 72
    run = abs(x2 - x1) * 72
    if rise < 2 * ppi and 2 * ppi < run:
        line_y1 = line_y2 = (y1 + y2) / 2
    return line_x1, line_y1, line_x2, line_y2


@lru_cache(maxsize=None)          # domain is codepoints: bounded (< 2^21)
def codepoint_to_utf16be(code: int):
    """(ok, hex-bytes) — surrogate-pair split, invalid dropped
    (``pdfrenderer.py:529-544``)."""
    if ((code > 0xD7FF) and (code < 0xE000)) or (code > 0x10FFFF):
        return False, None
    if code < 0x10000:
        res = "%04X" % code
    else:
        a = code - 0x010000
        high = (0x03FF & (a >> 10)) + 0xD800
        low = (0x03FF & a) + 0xDC00
        res = "%04X%04X" % (high, low)
    return True, res.encode("ascii")


class PackedPage:
    """A payload's paragraphs as the compiled parser packed them, in
    place of the paragraph list for ``render_text_layer``: ``packed``
    is ``_pack``'s (ints, nums, blob, lines, dropped), and
    ``paragraphs()`` parses the paragraph list for the Python body, which
    runs when the op-stream kernel declines the page."""

    __slots__ = ("packed", "paragraphs")

    def __init__(self, packed, paragraphs):
        self.packed, self.paragraphs = packed, paragraphs


def _lines(data: bytes, lens) -> list:
    """The line texts of one UTF-8 ``bytes`` and each line's byte
    length."""
    lines = []
    pos = 0
    for n in lens:
        lines.append(data[pos:pos + n].decode())
        pos += n
    return lines


def dump_payload(page, paragraphs) -> str:
    """A text span's JSON payload, the format ``parse_payload`` reads:
    ``{"page": page, "paragraphs": paragraphs}`` with sorted keys and
    non-ASCII text kept as is."""
    return json.dumps({"page": page, "paragraphs": paragraphs},
                      ensure_ascii=False, sort_keys=True)


def parse_payload(payload, n, paragraphs):
    """A text span's JSON payload as ``orjson.loads`` reads it, with the
    paragraph list already packed: ``{"page": {"w", "h", "dpi",
    "scan_res"}, "paragraphs": PackedPage}``.  ``payload`` is the
    address of ``n`` UTF-8 bytes (or a bytes object of length ``n``);
    ``paragraphs`` is the callable that parses the paragraph list if the
    Python body needs it.  None when the compiled parser is not loaded
    or declines the payload."""
    got = native.text_payload_native(payload, n)
    if got is None:
        return None
    (w, h, dpi, scan_res), ints, nums, blob, text, lens = got
    return {"page": {"w": w, "h": h, "dpi": dpi, "scan_res": scan_res},
            "paragraphs": PackedPage(
                (ints, nums, blob, _lines(text, lens), 0), paragraphs)}


@dataclass
class PageTextResult:
    lines: list[str] = field(default_factory=list)      # per surviving line
    text_ops: bytes = b""                               # placement digest
    dropped_codepoints: int = 0


def _para_has_ink(paragraph) -> bool:
    """A paragraph whose words concatenate to whitespace-only produces no
    BT/ET block at all (the reference's paragraph empty-skip)."""
    return any(ch.strip()
               for line in paragraph["lines"]
               for word in line["words"]
               for ch in word["text"])


def _baseline_for(line, ppi):
    """Pixel-space baseline segment of a line: anchor the hOCR baseline
    polynomial (slope, intercept-from-bbox-bottom) at the line's left
    edge, extend to its right edge, then flatten if nearly horizontal."""
    left, _top, right, bottom = line["bbox"]
    slope, intercept = line["baseline"]
    y_left = bottom + intercept
    y_right = y_left + slope * (right - left)
    return clip_baseline(ppi, left, y_left, right, y_right)


@lru_cache(maxsize=1 << 16)       # natural text repeats words heavily
def _utf16_payload(text: str):
    """(hex payload, kept chars tuple, dropped count) for one word.

    Invalid codepoints (surrogate range / beyond U+10FFFF) are dropped;
    every word carries one trailing synthetic space glyph (0020).
    Memoized per word string — pure function, and word texts repeat
    across a corpus (measured ~30% of the text-span kernel before)."""
    parts = []
    kept: list[str] = []
    dropped = 0
    for ch in text:
        ok, hexed = codepoint_to_utf16be(ord(ch))
        if ok:
            parts.append(hexed)
            kept.append(ch)
        else:
            dropped += 1
    parts.append(b"0020")
    return b"".join(parts), tuple(kept), dropped


def render_text_layer(word_data: list, width: float, height: float,
                      ppi: float, hocr_ppi=None,
                      font_scale=1) -> PageTextResult:
    """Reading-order traversal producing the extracted line texts and the
    byte-exact Tm/Td/Tf/Tz/TJ op stream (the placement digest).

    ``font_scale`` (the hOCR font scaler, ``recode.py:205-209``)
    multiplies every word's font size when it is not 1.

    Runs the compiled kernel (``native.apts_text_layer``) when it is
    loaded and the page is one it reproduces exactly; otherwise, and
    for every page it declines, the pure-Python body below, which is
    the oracle the compiled kernel is tested against.  ``word_data``
    may be a ``PackedPage`` (``parse_payload``)."""
    res = _render_native(word_data, width, height, ppi, font_scale)
    if res is None:
        if type(word_data) is PackedPage:
            word_data = word_data.paragraphs()
        res = _render_text_layer_py(word_data, width, height, ppi,
                                    font_scale)
    return res


_NUM_TYPES = frozenset((int, float))


@lru_cache(maxsize=1 << 16)
def _packed_word(text: str):
    """(hex payload, kept text, dropped count, text has ink, kept text
    has ink) for one word, as the packer needs them."""
    payload, kept, dropped = _utf16_payload(text)
    kept_text = "".join(kept)
    return (payload, kept_text, dropped, bool(text.strip()),
            bool(kept_text.strip()))


def _pack(word_data):
    """One page in the stream layout ``apts_text_layer`` walks, plus the
    outputs that need no geometry: (ints, nums, blob, lines, dropped).

    Paragraphs without ink are left out (they emit nothing).  Any
    malformed input raises here; the caller then runs the Python body,
    which raises its own error for the page."""
    ints = [0]
    nums: list = []
    payloads: list = []
    lines: list = []
    dropped = 0
    n_paras = 0
    for para in word_data:
        marks = len(ints), len(nums), len(payloads), len(lines), dropped
        ink = False
        para_lines = para["lines"]
        ints.append(len(para_lines))
        for line in para_lines:
            words = line["words"]
            if words:
                left, _top, right, bottom = line["bbox"]
                slope, intercept = line["baseline"]
                nums += (left, right, bottom, slope, intercept)
                ints += (len(words), type(left) is type(right)
                         is type(bottom) is type(slope)
                         is type(intercept) is int)
            else:
                nums += (0, 0, 0, 0, 0)
                ints += (0, 0)
            kept = []
            line_ink = False
            for word in words:
                payload, kept_text, drop, w_ink, k_ink = \
                    _packed_word(word["text"])
                x1, y1, x2, y2 = word["bbox"]
                size = word["fontsize"]
                nums += (x1, y1, x2, y2, size, word["writing_direction"])
                ints.append(type(size) is int)
                payloads.append(payload)
                kept.append(kept_text)
                dropped += drop
                ink = ink or w_ink
                line_ink = line_ink or k_ink
            if line_ink:
                lines.append(" ".join(kept))
        if ink:
            n_paras += 1
        else:
            i0, n0, p0, l0, dropped = marks
            del ints[i0:], nums[n0:], payloads[p0:], lines[l0:]
    if not _NUM_TYPES.issuperset(map(type, nums)):
        raise TypeError("non-int/float geometry")
    ints[0] = n_paras
    return (array("i", ints), array("d", nums), b" ".join(payloads),
            lines, dropped)


def _render_native(word_data, width, height, ppi, font_scale, _lib=None):
    """The compiled kernel's result, or None when it is not loaded or
    the page needs the Python body."""
    lib = _lib if _lib is not None else native._load()
    if lib is None:
        return None
    packed = type(word_data) is PackedPage
    # the Python body must see the same input again if this declines
    if (not packed and type(word_data) not in (list, tuple)) \
            or not _NUM_TYPES.issuperset(
                (type(width), type(height), type(ppi), type(font_scale))):
        return None
    try:
        ints, nums, blob, lines, dropped = (
            word_data.packed if packed else _pack(word_data))
        scale_mode = (0 if font_scale == 1
                      else 2 if type(font_scale) is int else 1)
        ops = native.text_layer_native(ints, nums, blob, width, height,
                                       ppi, font_scale, scale_mode,
                                       _lib=lib)
    except Exception:  # noqa: BLE001 — malformed page: Python decides
        return None
    if ops is None:
        return None
    return PageTextResult(lines=lines, text_ops=ops,
                          dropped_codepoints=dropped)


def _render_text_layer_py(word_data: list, width: float, height: float,
                          ppi: float, font_scale=1) -> PageTextResult:
    """The pure-Python renderer (bit-exact oracle of the C kernel).

    Semantics match the reference renderer (textonly mode of
    ``internetarchivepdf/pdfrenderer.py:61-207``, itself an Apache-2.0
    Tesseract port) and are pinned bit-for-bit by the golden digests in
    ``tests/test_placements.py``.  Behavioural quirks the goldens encode:

    * the line baseline (and the word-supplied writing direction) is
      re-read for every word until the first ``Td`` is emitted — a word
      placed via ``Tm`` does not consume the line's first-word state;
    * the fontsize fallback chain is word value (times ``font_scale``)
      -> pixel-space clipped line height -> 8, and ``Tf`` spells the
      size with ``str()`` (so int vs float spelling is data-dependent);
    * transform state (position, rotation, direction) carries across
      paragraphs; only the fontsize tracker and block flag reset.
    """
    out = PageTextResult()
    ops: list[bytes] = [b"q " + floatbytes(prec(width), 3) + b" 0 0 "
                        + floatbytes(prec(height), 3) + b" 0 0 cm Q\n"]

    # Cursor: where the previous word landed, in PDF points.
    cur_x = cur_y = 0.0
    cur_dir = WRITING_DIRECTION_LEFT_TO_RIGHT
    rot = (1.0, 0.0, 0.0, 1.0)
    seg = (0, 0, 0, 0)
    seg_dir = WRITING_DIRECTION_LEFT_TO_RIGHT

    for paragraph in word_data:
        if not _para_has_ink(paragraph):
            continue
        ops.append(b"BT\n3 Tr")
        shown_size = 0
        pending_block = True

        for line in paragraph["lines"]:
            need_baseline = True
            surviving: list[str] = []

            for word in line["words"]:
                if need_baseline:
                    seg = _baseline_for(line, ppi)
                    seg_dir = word["writing_direction"]
                    if seg_dir == WRITING_DIRECTION_UNSPECIFIED:
                        seg_dir = WRITING_DIRECTION_LEFT_TO_RIGHT

                x, y, advance = get_word_baseline(
                    seg_dir, ppi, height, *word["bbox"], *seg)

                if pending_block or seg_dir != cur_dir:
                    rot = affine_matrix(seg_dir, *seg)
                    ops.append(b" " + b" ".join(
                        floatbytes(prec(v))
                        for v in (*rot, x, y)) + b" Tm ")
                    pending_block = False
                else:
                    dx, dy = x - cur_x, y - cur_y
                    ra, rb, rc, rd = rot
                    ops.append(b" " + floatbytes(prec(dx * ra + dy * rb))
                               + b" " + floatbytes(prec(dx * rc + dy * rd))
                               + b" Td ")
                    need_baseline = False
                cur_x, cur_y, cur_dir = x, y, seg_dir

                size = word["fontsize"]
                if font_scale != 1:
                    size = size * font_scale
                if size <= 0:
                    size = abs(seg[3] - seg[1])         # clipped line height
                    if size <= 0:
                        size = K_DEFAULT_FONTSIZE
                if size != shown_size:
                    ops.append(b"/f-0-0 " + str(size).encode("ascii")
                               + b" Tf ")
                    shown_size = size

                payload, kept, dropped = _utf16_payload(word["text"])
                out.dropped_codepoints += dropped
                n_glyphs = len(kept) + 1                # + synthetic space
                if advance > 0 and n_glyphs > 0:
                    stretch = K_CHAR_WIDTH * prec(
                        100.0 * advance / (size * n_glyphs))
                    ops.append(floatbytes(stretch) + b" Tz"
                               + b" [ <" + payload + b"> ] TJ")
                surviving.append("".join(kept))

            ops.append(b" \n")
            line_text = " ".join(surviving)
            if line_text.strip():
                out.lines.append(line_text)

        ops.append(b"ET\n")

    out.text_ops = b"".join(ops)
    return out
