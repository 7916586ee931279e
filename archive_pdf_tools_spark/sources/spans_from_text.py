"""Adapter: plain-text documents table -> interleaved spans table.

The driver testdata ``documents`` table is (doc_id, text, lang, source,
n_chars); the engine's input contract is the interleaved
``(doc_id, spans)`` shape (BASELINE.json input_hint).  This source lays
the real text out as a deterministic hOCR-like page (fixed-metric font:
lines of up to 8 words, 20 px line height, 10 px per character — the
fixture counterpart of an OCR engine's word boxes) and interleaves a
seeded media span for every third document, so the flagship pipeline can
run end-to-end on the driver's own parquet.

The spans are built in ``pyworker.map_documents``, the guarded
per-document body every front door runs.
"""

from __future__ import annotations

from ..corpus.rasters import make_media_ref
from ..kernels.textlayer import dump_payload
from ..pyworker import SPANS_DDL, map_documents

__all__ = ["documents_to_spans", "layout_text"]

LINE_H = 20
CHAR_W = 10
WORDS_PER_LINE = 8
PAGE_W = 1000


def layout_text(text: str, max_words: int = 400) -> str:
    """Deterministic hOCR-like payload for a prose string."""
    return dump_payload(**layout_payload(text, max_words))


def layout_payload(text: str, max_words: int = 400) -> dict:
    """``layout_text`` before serialization — for consumers that feed
    the dict straight to a renderer (``corpus.hocrgen.synth_hocr``)
    without paying the dumps/loads round trip."""
    words = text.split()[:max_words]
    lines = []
    y = 10
    for i in range(0, len(words), WORDS_PER_LINE):
        chunk = words[i:i + WORDS_PER_LINE]
        x = 10
        wrecs = []
        for w in chunk:
            ww = max(CHAR_W, len(w) * CHAR_W)
            wrecs.append({"text": w, "bbox": [x, y, x + ww, y + LINE_H],
                          "confidence": 95.0, "fontsize": 12.0,
                          "writing_direction": 0})
            x += ww + CHAR_W
        lines.append({"bbox": [10, y, x, y + LINE_H],
                      "baseline": [0.0, 0.0], "words": wrecs})
        y += LINE_H + 6
    page_h = max(y + 10, 100)
    return {
        "page": {"w": PAGE_W, "h": page_h, "dpi": 300, "scan_res": None},
        "paragraphs": [{"lines": lines}] if lines else [],
    }


def _doc_spans(doc_key, doc_id, text):
    """One document's ``(kind, text, media_ref)`` spans: its laid-out
    text page, then a seeded media page for every third document."""
    gen_id = int(doc_id)
    yield "text", layout_text(text or ""), ""
    if gen_id % 3 == 0:
        yield "media", "", make_media_ref(doc_key, 1, gen_id)


def documents_to_spans(documents_df):
    """documents (doc_id, text, ...) -> (doc_id, spans) interleaved, the
    key ``tdoc_%08d`` of the numeric id; a document that fails to lay
    out (a null id) gives a ``text_error`` span."""
    from pyspark.sql import functions as F

    keyed = documents_df.select(
        F.format_string("tdoc_%08d", "doc_id").alias("doc_key"),
        "doc_id", "text")
    return map_documents(
        keyed, ["doc_key", "doc_id", "text"],
        f"doc_id string, spans {SPANS_DDL}", _doc_spans,
        lambda msg: ("text_error", msg, ""), spans=True)
