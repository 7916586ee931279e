"""HTML main-content extraction (boilerplate strip, DOM heuristics).

The north rule's third front door: raw HTML documents -> the interleaved
``(doc_id, spans)`` contract, with chrome removed.  Heuristics are the
public readability/boilerpipe family (Arc90 readability; Kohlschütter
et al., WSDM 2010):

* semantic chrome subtrees are dropped outright: ``script style noscript
  template nav header footer aside form`` (plus obvious id/class tokens:
  nav, menu, sidebar, footer, header, ad, banner, comment);
* remaining *block-level* elements become candidate spans in DOM order;
* a block survives if its **link density** (chars inside <a> / total
  chars) is <= ``max_link_density`` and it has at least ``min_words``
  words — the text-vs-navigation signal boilerpipe built on;
* ``<img>`` elements inside surviving containers become media spans
  (``media_ref`` = the src attribute) — text and media interleave in
  document order, exactly the extraction pipeline's input shape.

Each document is parsed as one ElementTree (an HTML page is KBs —
unlike the 1000-page hOCR books that ``sources/hocr.py`` streams
page-at-a-time); the whole extractor is one map-only vectorized stage
(1 -> N spans per document).
"""

from __future__ import annotations

import re

__all__ = ["extract_main_spans", "html_documents"]

_DROP_TAGS = frozenset({"script", "style", "noscript", "template", "nav",
                        "header", "footer", "aside", "form"})
_DROP_TOKEN_RE = re.compile(
    r"\b(nav|menu|sidebar|footer|header|advert|ad|banner|comment)\b", re.I)
_BLOCK_TAGS = frozenset({"p", "div", "article", "section", "main", "li",
                         "td", "blockquote", "pre", "h1", "h2", "h3", "h4",
                         "h5", "h6"})

_WS_RE = re.compile(r"\s+")

_VOID_TAGS = frozenset({"area", "base", "br", "col", "embed", "hr", "img",
                        "input", "link", "meta", "param", "source", "track",
                        "wbr"})


from html.parser import HTMLParser as _HTMLParser
from xml.etree import ElementTree as _ET

from ..pyworker import SPANS_DDL, map_documents


class _Builder(_HTMLParser):
    """HTML-tolerant tree builder (module-level: defining it inside
    ``_parse_html`` rebuilt the class once per document)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _ET.Element("html")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        if tag in _VOID_TAGS:
            self.handle_startendtag(tag, attrs)
            return
        el = _ET.SubElement(self.stack[-1], tag,
                            {k: (v or "") for k, v in attrs})
        self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        _ET.SubElement(self.stack[-1], tag,
                       {k: (v or "") for k, v in attrs})

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignored

    def handle_data(self, data):
        parent = self.stack[-1]
        if len(parent):
            last = parent[-1]
            last.tail = (last.tail or "") + data
        else:
            parent.text = (parent.text or "") + data


def _parse_html(markup: str):
    """HTML-tolerant tree builder on stdlib ``html.parser``: unclosed
    void tags (<br>, <img>, <meta>), named entities (&nbsp;) and stray
    end tags — ubiquitous in real crawl pages — parse fine, unlike the
    strict XML parser this replaces (which turned virtually every real
    page into an html_error span with zero extracted content)."""
    b = _Builder()
    b.feed(markup)
    b.close()
    root = b.root
    # a well-formed page nests its own <html> inside the synthetic root
    if len(root) == 1 and _localname(root[0].tag) == "html":
        return root[0]
    return root


def _localname(tag) -> str:
    return tag.rsplit("}", 1)[-1].lower() if isinstance(tag, str) else ""


def _is_chrome(el) -> bool:
    if _localname(el.tag) in _DROP_TAGS:
        return True
    idcls = f"{el.get('id') or ''} {el.get('class') or ''}"
    return bool(_DROP_TOKEN_RE.search(idcls))


def _prune(el):
    """Drop chrome subtrees in place (children first, so nested chrome
    inside kept containers also disappears)."""
    kept = []
    for child in list(el):
        if _is_chrome(child):
            el.remove(child)
        else:
            _prune(child)
            kept.append(child)
    return kept


def _text_of(el) -> str:
    return _WS_RE.sub(" ", " ".join(el.itertext())).strip()


def _link_chars(el) -> int:
    n = 0
    for a in el.iter():
        if _localname(a.tag) == "a":
            n += len(_WS_RE.sub(" ", " ".join(a.itertext())).strip())
    return n


def extract_main_spans(markup: bytes | str, min_words: int = 3,
                       max_link_density: float = 0.5) -> list[dict]:
    """HTML -> ordered [(kind, text, media_ref, offset)] span dicts."""
    if isinstance(markup, bytes):
        markup = markup.decode("utf-8", "replace")
    root = _parse_html(markup)
    if _is_chrome(root):
        return []
    _prune(root)

    spans: list[dict] = []

    def emit_imgs(el):
        for im in el.iter():
            if _localname(im.tag) == "img":
                src = im.get("src") or ""
                if src:
                    spans.append({"kind": "media", "text": "",
                                  "media_ref": src,
                                  "offset": len(spans)})

    def walk(el):
        name = _localname(el.tag)
        if name == "img":
            emit_imgs(el)
            return
        # a block whose OWN direct text (not nested blocks') carries the
        # content: a leaf block has no block-level element children.
        # Inline <img> children do NOT disqualify it — the paragraph's
        # text is emitted AND its figures become media spans (dropping
        # the text of every paragraph with an inline figure was the old
        # behavior's silent content loss).
        has_block_child = any(_localname(c.tag) in _BLOCK_TAGS for c in el)
        if name in _BLOCK_TAGS and not has_block_child:
            text = _text_of(el)
            if text and len(text.split()) >= min_words:
                total = len(text)
                density = _link_chars(el) / total if total else 1.0
                if density <= max_link_density:
                    spans.append({"kind": "text", "text": text,
                                  "media_ref": "", "offset": len(spans)})
            emit_imgs(el)
            return
        for child in el:
            walk(child)

    walk(root)
    return spans


def _html_spans(doc_id, markup, payloads: bool) -> list[tuple]:
    """One document's ``(kind, text, media_ref)`` spans; with
    ``payloads`` each text span's prose is laid out as the extraction
    kernel's page payload."""
    if payloads:
        from .spans_from_text import layout_text
    return [(s["kind"],
             layout_text(s["text"]) if payloads and s["kind"] == "text"
             else s["text"], s["media_ref"])
            for s in extract_main_spans(markup)]


def html_documents(df, html_col: str = "html", payloads: bool = False):
    """(doc_id, html) -> interleaved (doc_id, spans); malformed markup
    gives an ``html_error`` span.

    ``payloads=True`` additionally lays each text span's plain prose out
    as the extraction kernel's hOCR-like page payload
    (``spans_from_text.layout_text``), so the result feeds
    ``run_extraction`` directly (the job.py ``--input-format html``
    path); with the default False the spans carry the raw main text
    (the analysis-table shape the ``html_extract`` query checks)."""
    id_type = df.schema["doc_id"].dataType.simpleString()
    return map_documents(
        df, ["doc_id", html_col],
        f"doc_id {id_type}, spans {SPANS_DDL}",
        lambda doc_id, markup: _html_spans(doc_id, markup, payloads),
        lambda msg: ("html_error", msg, ""), spans=True)
