"""hOCR markup parsing (S4 — the real-input front door).

The reference consumes hOCR through the external archive-hocr-tools
package (``hocr.parse.hocr_page_iterator`` / ``hocr_page_to_word_data``,
call sites ``recode.py:95-112, 211, 374`` and ``pdfrenderer.py:22-25``).
This module re-derives that capability from the public hOCR spec
(https://kba.github.io/hocr-spec/1.2/): streaming ``ocr_page``
iteration, ``title``-attribute property parsing, and the nested
paragraph → line → word structure the text-layer renderer consumes.

Design notes:

* ``iter_pages`` streams with ``xml.etree.ElementTree.iterparse`` and
  clears each page element after the consumer is done, so memory stays
  O(page), not O(document) — hOCR for a 1000-page book is tens of MB
  and the executor parses many documents per Arrow batch.
* ``hocr_documents`` is the DataFrame operator: (doc_id, hocr markup) →
  the interleaved ``(doc_id, spans)`` input contract, one text span per
  page whose payload is exactly the JSON the extraction kernel already
  consumes — so parsed-hOCR documents flow through the same pipeline,
  plans, and golden tests as the synthetic corpus.
* Word fontsize resolves x_fsize (word) → x_size (line) → 0 (renderer
  fallback chain); writing direction from the nearest ``dir`` attribute
  (rtl/ltr), else unspecified.
"""

from __future__ import annotations

import io
from typing import Iterator

from ..kernels.textlayer import dump_payload
from ..pyworker import SPANS_DDL, map_documents

__all__ = ["parse_properties", "iter_pages", "page_dimensions",
           "page_scan_res", "page_word_data", "page_payload",
           "word_data_by_page", "hocr_documents"]

_LINE_CLASSES = frozenset(
    {"ocr_line", "ocr_header", "ocr_caption", "ocr_textfloat"})

_DIR_CODES = {"ltr": 1, "rtl": 2}            # hOCR dir attr -> renderer code


def parse_properties(title: str | None) -> dict:
    """hOCR ``title`` attribute -> {property: [raw tokens]}.

    Properties are semicolon-separated, each ``name value value ...``;
    quoted values (``image "x.jp2"``) keep their inner text as one
    token.  Unknown properties pass through untouched (callers pick)."""
    props: dict[str, list[str]] = {}
    if not title:
        return props
    # Split on ';' only OUTSIDE double quotes — a quoted value may itself
    # contain semicolons (image "a;b.jp2"), which a naive split would
    # tear apart and even inject bogus property names.  Titles with no
    # quotes at all (every word/line title) take the plain-split fast
    # path; the character scan only runs for quoted titles.
    if '"' not in title:
        fields = title.split(";")
    else:
        fields = []
        buf: list[str] = []
        in_quotes = False
        for ch in title:
            if ch == '"':
                in_quotes = not in_quotes
                buf.append(ch)
            elif ch == ";" and not in_quotes:
                fields.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        fields.append("".join(buf))
    for field in fields:
        field = field.strip()
        if not field:
            continue
        name, _, rest = field.partition(" ")
        rest = rest.strip()
        if rest.startswith('"') and rest.endswith('"') and len(rest) >= 2:
            props[name] = [rest[1:-1]]
        else:
            props[name] = rest.split()
    return props


def _bbox(props: dict):
    vals = props.get("bbox")
    if not vals or len(vals) != 4:
        return None
    try:
        return [int(float(v)) for v in vals]
    except ValueError:
        return None


def _num(props: dict, name: str):
    vals = props.get(name)
    if not vals:
        return None
    try:
        return float(vals[0])
    except ValueError:
        return None


def _localname(tag) -> str:
    """Strip any XML namespace ({http://...}div -> div)."""
    return tag.rsplit("}", 1)[-1] if isinstance(tag, str) else ""


def _classes(el) -> frozenset:
    return frozenset((el.get("class") or "").split())


def iter_pages(markup: bytes | str) -> Iterator:
    """Stream the ``ocr_page`` elements of an hOCR document.

    Each page is yielded fully parsed and *detached* from the document
    tree, so the tree never accumulates processed pages — memory stays
    O(page) plus whatever the consumer still references (a 1000-page
    book's markup parses page-at-a-time).

    Gzipped markup (the archival item ships hOCR as ``*_hocr.html.gz``)
    is transparently inflated by magic; the stream stays wrapped, so
    decompression is incremental with the parse."""
    from xml.etree import ElementTree as ET

    if isinstance(markup, str):
        markup = markup.encode("utf-8")
    markup = bytes(markup)
    src = io.BytesIO(markup)
    if markup[:2] == b"\x1f\x8b":
        import gzip
        src = gzip.GzipFile(fileobj=src)
    ancestors: list = []
    for event, el in ET.iterparse(src, events=("start", "end")):
        if event == "start":
            ancestors.append(el)
            continue
        ancestors.pop()
        if _localname(el.tag) == "div" and "ocr_page" in _classes(el):
            yield el
            if ancestors:
                ancestors[-1].remove(el)


def page_dimensions(page) -> tuple[int, int]:
    """(width, height) from the page bbox; (0, 0) when absent."""
    box = _bbox(parse_properties(page.get("title")))
    if box is None:
        return 0, 0
    return box[2], box[3]


def page_scan_res(page):
    """The page's scan resolution (x component of ``scan_res``), or
    None."""
    vals = parse_properties(page.get("title")).get("scan_res")
    if not vals:
        return None
    try:
        return int(float(vals[0]))
    except ValueError:
        return None


def _writing_direction(el, inherited: int) -> int:
    return _DIR_CODES.get((el.get("dir") or "").lower(), inherited)


def _word_records(line_el, line_props: dict, inherited_dir: int) -> list:
    x_size = _num(line_props, "x_size")
    words = []
    for el in line_el.iter():
        cls = el.get("class")
        if not cls or "ocrx_word" not in cls.split():
            continue
        props = parse_properties(el.get("title"))
        box = _bbox(props)
        if box is None:
            continue
        fontsize = _num(props, "x_fsize")
        if fontsize is None:
            fontsize = x_size if x_size is not None else 0.0
        conf = _num(props, "x_wconf")
        words.append({
            "text": "".join(el.itertext()),
            "bbox": box,
            "confidence": conf if conf is not None else 100.0,
            "fontsize": float(fontsize),
            "writing_direction": _writing_direction(el, inherited_dir),
        })
    return words


def _line_record(line_el, inherited_dir: int):
    props = parse_properties(line_el.get("title"))
    box = _bbox(props)
    if box is None:
        return None
    baseline = props.get("baseline")
    try:
        slope, const = (float(baseline[0]), float(baseline[1])) \
            if baseline and len(baseline) == 2 else (0.0, 0.0)
    except ValueError:
        slope, const = 0.0, 0.0
    words = _word_records(line_el, props,
                          _writing_direction(line_el, inherited_dir))
    if not words:
        return None
    return {"bbox": box, "baseline": [slope, const], "words": words}


def page_word_data(page) -> list:
    """Page element -> [{lines: [{bbox, baseline, words: [...]}]}] — the
    nested word-data shape ``render_text_layer`` consumes.

    Paragraphs are the ``ocr_par`` elements; pages whose lines sit
    directly in a carea (no par wrapper) get one synthetic paragraph.
    Lines with no words (or no bbox) are dropped here — the renderer's
    own paragraph empty-skip handles whitespace-only content.

    One depth-first walk replaces the old two full-page passes plus a
    per-par subtree pass (each word element was visited ~4x).  The walk
    reproduces the old pass semantics exactly, including the edge
    cases: a line nested under several ``ocr_par`` ancestors is
    recorded once per ancestor with THAT par's writing-direction
    fallback (what the old per-par ``par.iter()`` passes produced),
    paragraph order is par document order, and lines with no ``ocr_par``
    ancestor form one trailing paragraph."""
    page_dir = _writing_direction(page, 0)
    paragraphs: list = []          # par-start document order
    par_stack: list = []           # open (par_dir, lines) contexts
    orphans: list = []

    def _walk(el):
        cls = el.get("class")
        toks = cls.split() if cls else ()
        is_par = "ocr_par" in toks
        if is_par:
            # dir inherits from the PAGE, not the enclosing par — the
            # old per-par passes each resolved against page_dir.
            ctx = {"lines": [],
                   "dir": _writing_direction(el, page_dir)}
            par_stack.append(ctx)
            paragraphs.append(ctx)
        if any(t in _LINE_CLASSES for t in toks):
            if par_stack:
                for ctx in par_stack:
                    rec = _line_record(el, ctx["dir"])
                    if rec is not None:
                        ctx["lines"].append(rec)
            else:
                rec = _line_record(el, page_dir)
                if rec is not None:
                    orphans.append(rec)
        for child in el:
            _walk(child)
        if is_par:
            par_stack.pop()

    _walk(page)
    out = [{"lines": ctx["lines"]} for ctx in paragraphs if ctx["lines"]]
    if orphans:
        out.append({"lines": orphans})
    return out


def page_payload(page, doc_dpi=None) -> str:
    """Page element -> the extraction kernel's JSON text-span payload
    (``textlayer.dump_payload``, as the synthetic corpus writes it)."""
    w, h = page_dimensions(page)
    return dump_payload({"w": w, "h": h, "dpi": doc_dpi,
                         "scan_res": page_scan_res(page)},
                        page_word_data(page))


def word_data_by_page(markup) -> dict[int, list]:
    """hOCR markup -> {page index: ``page_word_data``} in document
    order; empty for absent (None or empty) markup."""
    if not markup:
        return {}
    return {idx: page_word_data(page)
            for idx, page in enumerate(iter_pages(markup))}


def _page_spans(doc_id, markup, dpi=None):
    """One document's text spans, one per page.  A generator, so markup
    that breaks mid-stream keeps the pages parsed before the error,
    followed by the ``hocr_error`` marker."""
    dpi = None if dpi is None else int(dpi)
    for page in iter_pages(markup):
        yield "text", page_payload(page, dpi), ""


def hocr_documents(df, hocr_col: str = "hocr", dpi_col: str | None = None):
    """(doc_id, hOCR markup [, dpi]) -> interleaved (doc_id, spans).

    One text span per ``ocr_page`` in document order; payloads carry the
    parsed word data, so the result feeds ``run_extraction`` unchanged.
    Parsing happens executor-side inside one vectorized stage (map-only,
    no shuffle); the span structs cross the boundary as Arrow structs
    directly."""
    id_type = df.schema["doc_id"].dataType.simpleString()
    return map_documents(
        df, ["doc_id", hocr_col] + ([dpi_col] if dpi_col else []),
        f"doc_id {id_type}, spans {SPANS_DDL}", _page_spans,
        lambda msg: ("hocr_error", msg, ""), spans=True)
