"""Deterministic hOCR fixtures.

``hocr_from_pages`` renders extraction-payload dicts back into hOCR
markup (the exact inverse of ``sources.hocr.page_payload``), so parity
tests can assert parse(render(payload)) == payload for any synthetic
page — and the hOCR front door provably feeds the pipeline the same
word data as the JSON path.

``synth_hocr`` builds a multi-page hOCR document from prose text using
the same fixed-metric layout as ``sources.spans_from_text.layout_text``
(split across pages of ``words_per_page`` words).
"""

from __future__ import annotations

import json
from xml.sax.saxutils import escape, quoteattr

__all__ = ["hocr_from_pages", "synth_hocr"]

_HEAD = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<html xmlns="http://www.w3.org/1999/xhtml">\n'
    "<head><title></title>"
    '<meta name="ocr-system" content="synthetic-fixture"/>'
    '<meta name="ocr-capabilities" content="ocr_page ocr_par ocr_line '
    'ocrx_word"/></head>\n<body>\n')
_TAIL = "</body>\n</html>\n"

_DIR_ATTRS = {1: "ltr", 2: "rtl"}


def _fmt(v) -> str:
    """Numbers in title properties: ints bare, floats via repr (so the
    parser's float() round-trips exactly)."""
    if isinstance(v, float) and v.is_integer() and abs(v) < 1e15:
        return repr(v)
    return str(v)


def _page_div(page: dict, paragraphs: list, page_no: int) -> list[str]:
    w, h = page["w"], page["h"]
    title = f"image \"synthetic_{page_no:04d}.jp2\"; bbox 0 0 {int(w)} {int(h)}; ppageno {page_no}"
    scan = page.get("scan_res")
    if scan is not None:
        title += f"; scan_res {int(scan)} {int(scan)}"
    out = [f"<div class='ocr_page' id='page_{page_no}' "
           f"title={quoteattr(title)}>\n"]
    wid = 0
    for p_idx, para in enumerate(paragraphs):
        out.append(f"<p class='ocr_par' id='par_{page_no}_{p_idx}'>\n")
        for l_idx, line in enumerate(para["lines"]):
            bx = " ".join(str(int(v)) for v in line["bbox"])
            slope, const = line["baseline"]
            # line/word titles are numeric-only (bbox/baseline/conf/
            # fsize tokens) — no XML specials possible, so plain
            # double-quoting IS quoteattr's output for them
            lt = f"bbox {bx}; baseline {_fmt(slope)} {_fmt(const)}"
            out.append(f"<span class='ocr_line' "
                       f"id='line_{page_no}_{p_idx}_{l_idx}' "
                       f'title="{lt}">')
            for word in line["words"]:
                wb = " ".join(str(int(v)) for v in word["bbox"])
                wt = (f"bbox {wb}; x_wconf {_fmt(word['confidence'])}; "
                      f"x_fsize {_fmt(word['fontsize'])}")
                d = _DIR_ATTRS.get(word.get("writing_direction", 0))
                dattr = f" dir='{d}'" if d else ""
                out.append(f"<span class='ocrx_word' id='w_{page_no}_{wid}'"
                           f' title="{wt}"{dattr}>'
                           f"{escape(word['text'])}</span> ")
                wid += 1
            out.append("</span>\n")
        out.append("</p>\n")
    out.append("</div>\n")
    return out


def hocr_from_pages(pages: list) -> str:
    """[(page dict, paragraphs)] or [payload-JSON str] -> hOCR markup."""
    parts = [_HEAD]
    for page_no, page in enumerate(pages):
        if isinstance(page, str):
            page = json.loads(page)
        parts.extend(_page_div(page["page"], page["paragraphs"], page_no))
    parts.append(_TAIL)
    return "".join(parts)


def synth_hocr(text: str, words_per_page: int = 80,
               max_words: int = 400) -> str:
    """Prose -> multi-page hOCR with the fixed-metric fixture layout."""
    from ..sources.spans_from_text import layout_payload

    words = text.split()[:max_words]
    payloads = []
    for i in range(0, max(len(words), 1), words_per_page):
        chunk = " ".join(words[i:i + words_per_page])
        payloads.append(layout_payload(chunk, max_words=words_per_page))
    return hocr_from_pages(payloads)
