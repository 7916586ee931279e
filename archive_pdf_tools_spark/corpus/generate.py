"""Deterministic interleaved-documents generator (FIXTURES.md §1-§2).

Produces rows in exactly the BASELINE.json input_hint shape: a
``doc_id`` string and ``spans`` of type ``pyworker.SPANS_DDL``, the
``(kind, text, media_ref, offset)`` structs.

Text spans carry a JSON-encoded hOCR-like payload (page dims / dpi /
scan_res + paragraphs→lines→words) mirroring the structure the reference
consumes at ``mrc.py:194-201`` and ``pdfrenderer.py:87-201``, with the
edge cases FIXTURES.md §2 lists (low-confidence lines, empty lines,
degenerate / inverted / out-of-page bboxes, missing dpi, astral-plane
codepoints, RTL words, zero/negative fontsize).

Media spans are ``text=''`` + a ``media_ref`` whose hash regenerates the
raster (see ``corpus.rasters``).

Per-doc seeding (seed ^ doc index) keeps generation embarrassingly
parallel: the Spark source builds partitions of doc indices and calls
``make_doc`` executor-side — no driver-side materialization at scale.
"""

from __future__ import annotations

import numpy as np

from ..kernels.textlayer import dump_payload
from .rasters import make_media_ref

__all__ = ["make_doc", "make_documents", "doc_ids", "SEED"]

SEED = 42

_WORDS = [
    "spark", "query", "table", "scan", "join", "merge", "filter", "window",
    "group", "order", "batch", "stream", "page", "line", "word", "text",
    "Grüße", "naïve", "文書", "Ω", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "🚀", "שלום", "مرحبا",
]


def _word(rng, forced_conf=None):
    text = _WORDS[int(rng.integers(len(_WORDS)))]
    conf = forced_conf if forced_conf is not None \
        else float(np.round(rng.uniform(30, 99), 1))
    fontsize = float(np.round(rng.uniform(6, 18), 2))
    r = rng.random()
    if r < 0.05:
        fontsize = 0.0
    elif r < 0.08:
        fontsize = -2.0
    wd = 0
    if rng.random() < 0.1:
        wd = 2 if rng.random() < 0.5 else 1
    return text, conf, fontsize, wd


def _text_payload(rng) -> str:
    w = int(rng.integers(600, 2600))
    h = int(rng.integers(800, 3600))
    dpi = None if rng.random() < 0.25 else int(rng.choice([72, 96, 150, 300, 600]))
    scan_res = None if rng.random() < 0.5 else int(rng.choice([150, 300, 600]))

    paragraphs = []
    for _ in range(int(rng.integers(1, 4))):
        lines = []
        y = int(rng.integers(0, h // 2))
        for _li in range(int(rng.integers(1, 5))):
            line_h = int(rng.integers(14, 40))
            x = int(rng.integers(0, w // 4))
            edge = rng.random()
            words = []
            forced_conf = None
            if edge < 0.06:
                # whole line low confidence (mask filter mrc.py:202)
                forced_conf = float(np.round(rng.uniform(0, 19), 1))
            n_words = int(rng.integers(1, 9))
            for _wi in range(n_words):
                text, conf, fontsize, wd = _word(rng, forced_conf)
                ww = max(5, int(len(text) * line_h * 0.5))
                words.append({
                    "text": text,
                    "bbox": [x, y, x + ww, y + line_h],
                    "confidence": conf,
                    "fontsize": fontsize,
                    "writing_direction": wd,
                })
                x += ww + 5
            bbox = [words[0]["bbox"][0], y, words[-1]["bbox"][2], y + line_h]
            if edge >= 0.06 and edge < 0.10:
                # whitespace-only line (pdfrenderer.py:92-103 skip)
                for wrd in words:
                    wrd["text"] = "   "
            elif edge >= 0.10 and edge < 0.13:
                bbox = [bbox[0], y, bbox[0], y + line_h]     # degenerate l==r
            elif edge >= 0.13 and edge < 0.16:
                bbox = [bbox[2], y, bbox[0], y + line_h]     # inverted l>r
            elif edge >= 0.16 and edge < 0.19:
                bbox = [bbox[0], y, w + 50, y + line_h]      # outside page
            lines.append({
                "bbox": bbox,
                "baseline": [float(np.round(rng.uniform(-0.05, 0.05), 5)),
                             float(np.round(rng.uniform(-3, 3), 2))],
                "words": words,
            })
            y += line_h + int(rng.integers(4, 20))
        paragraphs.append({"lines": lines})

    return dump_payload({"w": w, "h": h, "dpi": dpi, "scan_res": scan_res},
                        paragraphs)


def _n_spans(rng, max_spans: int) -> int:
    """Zipf-like page-count skew (FIXTURES.md §1)."""
    u = rng.random()
    if u < 0.80:
        n = int(rng.integers(1, 11))
    elif u < 0.95:
        n = int(rng.integers(11, 101))
    else:
        n = int(rng.integers(101, 2001))
    return min(n, max_spans)


def doc_ids(n_docs: int) -> list[str]:
    return [f"doc_{i:06d}" for i in range(n_docs)]


def make_doc(doc_index: int, seed: int = SEED, max_spans: int = 2000,
             media_fraction: float = 0.3) -> dict:
    """One document; deterministic in (doc_index, seed) alone."""
    doc_id = f"doc_{doc_index:06d}"
    rng = np.random.default_rng(np.random.PCG64(seed * 1_000_003 + doc_index))
    spans = []
    for offset in range(_n_spans(rng, max_spans)):
        if rng.random() < media_fraction:
            gen_id = int(rng.integers(0, 1 << 30))
            spans.append({"kind": "media", "text": "",
                          "media_ref": make_media_ref(doc_id, offset, gen_id),
                          "offset": offset})
        else:
            spans.append({"kind": "text", "text": _text_payload(rng),
                          "media_ref": "", "offset": offset})
    return {"doc_id": doc_id, "spans": spans}


def make_documents(n_docs: int, seed: int = SEED, max_spans: int = 2000,
                   media_fraction: float = 0.3) -> list[dict]:
    return [make_doc(i, seed, max_spans, media_fraction) for i in range(n_docs)]
