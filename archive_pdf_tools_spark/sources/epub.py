"""EPUB front door — the ``bin/epub-to-pdf`` surface, rebuilt.

The reference's converter (``bin/epub-to-pdf:1-80``) wraps PyMuPDF:
render the EPUB to PDF pages, carry the table of contents over as
``/Outlines``, carry the document metadata, re-insert the links —
*skipping* ``LINK_NAMED`` (EPUB-internal) links, which MuPDF cannot
resolve to page numbers, while counting both totals.  This module
computes the same outputs from public structure only:

* **container**: stdlib ``zipfile`` -> ``META-INF/container.xml`` ->
  the OPF package document (rootfile);
* **OPF**: ``dc:`` metadata (title / creator / language), the
  manifest's id->href map, and the spine's reading order;
* **TOC**: the EPUB 2 ``toc.ncx`` navMap when the spine declares one
  (nested navPoints -> (level, title, chapter) entries, mapped
  through the manifest hrefs); otherwise one outline entry per spine
  chapter titled from its ``<title>``/first heading;
* **chapters**: each XHTML parses through the same tolerant tree
  builder the HTML front door uses (``sources/htmlmain``); block
  elements (p, h1-h6, li, blockquote, pre) become text blocks in
  document order, and ``<a href>`` anchors split into EXTERNAL
  (http/https -> kept, like the reference's insertable links) and
  INTERNAL/named (fragment or intra-book href -> skipped + counted,
  the reference's LINK_NAMED behavior);
* **PDF**: ``epub_to_pdf`` paginates the blocks (fixed leading,
  greedy word wrap), renders a VISIBLE text layer through the same
  Type0/UTF-16BE font machinery as the OCR text layer
  (``kernels/textlayer`` helpers), emits one ``/Outlines`` entry per
  TOC entry pointing at the chapter's first page, attaches external
  links as ``/Link`` URI annotations on their line's rect, and fills
  the document-information/XMP metadata — producer/creator defaults
  mirroring the reference's fallback behavior.

Scale shape: one EPUB = one ``mapInArrow`` row (``epubs_to_pdf``).
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile
from xml.etree import ElementTree as ET

from ..pyworker import map_documents

__all__ = ["EpubError", "parse_epub", "epub_to_pdf", "epubs_to_pdf",
           "EPUB_SCHEMA_DDL"]

_BLOCK_TAGS = {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li",
               "blockquote", "pre"}
_EXT_RE = re.compile(r"^https?://", re.I)


class EpubError(Exception):
    pass


def _xml(data: bytes) -> ET.Element:
    try:
        return ET.fromstring(data)
    except ET.ParseError as exc:
        raise EpubError(f"malformed XML: {exc}") from exc


def _ln(tag) -> str:
    return tag.rsplit("}", 1)[-1] if isinstance(tag, str) else ""


def parse_epub(data: bytes) -> dict:
    """EPUB bytes -> {metadata, chapters, toc, skipped_links}.

    chapters: [{href, title, blocks: [str], links: [(uri, text)]}]
    (links = EXTERNAL only); toc: [(level, title, chapter_idx)];
    skipped_links counts internal/named anchors (the reference's
    LINK_NAMED skip counter)."""
    from .htmlmain import _parse_html, _text_of

    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as exc:
        raise EpubError(f"not a zip container: {exc}") from exc

    def read(name: str) -> bytes:
        try:
            return zf.read(name)
        except KeyError as exc:
            raise EpubError(f"missing member {name!r}") from exc

    container = _xml(read("META-INF/container.xml"))
    rootfile = None
    for el in container.iter():
        if _ln(el.tag) == "rootfile":
            rootfile = el.get("full-path")
            break
    if not rootfile:
        raise EpubError("container.xml has no rootfile")
    opf_dir = posixpath.dirname(rootfile)
    opf = _xml(read(rootfile))

    md = {}
    for el in opf.iter():
        n = _ln(el.tag)
        if n in ("title", "creator", "language") and el.text:
            md.setdefault({"creator": "author"}.get(n, n),
                          el.text.strip())

    manifest: dict[str, str] = {}
    ncx_href = None
    for el in opf.iter():
        if _ln(el.tag) == "item":
            manifest[el.get("id", "")] = el.get("href", "")
            if el.get("media-type") == "application/x-dtbncx+xml":
                ncx_href = el.get("href")
    spine_ids = [el.get("idref") for el in opf.iter()
                 if _ln(el.tag) == "itemref"]

    chapters = []
    href_to_idx: dict[str, int] = {}
    skipped_links = 0
    for idref in spine_ids:
        href = manifest.get(idref or "", "")
        if not href:
            continue
        path = posixpath.join(opf_dir, href) if opf_dir else href
        markup = read(path).decode("utf-8", "replace")
        root = _parse_html(markup)
        title = None
        blocks: list[str] = []
        links: list[tuple[str, str]] = []
        for el in root.iter():
            n = _ln(el.tag).lower()
            if n == "title" and el.text and title is None:
                title = el.text.strip()
            elif n in _BLOCK_TAGS:
                t = _text_of(el)
                if t:
                    blocks.append(t)
                if title is None and n in ("h1", "h2"):
                    title = t or None
            elif n == "a":
                uri = el.get("href", "")
                text = _text_of(el)
                if _EXT_RE.match(uri):
                    links.append((uri, text))
                elif uri:
                    skipped_links += 1      # LINK_NAMED equivalent
        href_to_idx[href] = len(chapters)
        chapters.append({"href": href, "title": title or href,
                         "blocks": blocks, "links": links})

    toc: list[tuple[int, str, int]] = []
    if ncx_href:
        ncx_path = (posixpath.join(opf_dir, ncx_href)
                    if opf_dir else ncx_href)
        try:
            ncx = _xml(read(ncx_path))
        except EpubError:
            ncx = None
        if ncx is not None:
            def walk(el, level):
                for child in el:
                    if _ln(child.tag) != "navPoint":
                        continue
                    label, target = "", None
                    for sub in child.iter():
                        n = _ln(sub.tag)
                        if n == "text" and sub.text and not label:
                            label = sub.text.strip()
                        elif n == "content" and target is None:
                            src = (sub.get("src") or "").split("#")[0]
                            target = href_to_idx.get(src)
                    if target is not None:
                        toc.append((level, label or f"ch{target}",
                                    target))
                    walk(child, level + 1)
            for el in ncx.iter():
                if _ln(el.tag) == "navMap":
                    walk(el, 1)
                    break
    if not toc:
        toc = [(1, ch["title"], i) for i, ch in enumerate(chapters)]

    return {"metadata": md, "chapters": chapters, "toc": toc,
            "skipped_links": skipped_links}


def _wrap(text: str, width: int) -> list[str]:
    lines, cur = [], ""
    for word in text.split():
        cand = f"{cur} {word}".strip()
        if len(cand) > width and cur:
            lines.append(cur)
            cur = word
        else:
            cur = cand
    if cur:
        lines.append(cur)
    return lines


def epub_to_pdf(data: bytes, page_size=(612, 792), fontsize: int = 12,
                margin: float = 56.0, wrap_chars: int = 78) -> tuple:
    """EPUB bytes -> (pdf bytes, stats dict).

    Pages are text-only (``kind="text"`` sink pages) with a VISIBLE
    text layer; each chapter starts a new page; the TOC becomes the
    ``/Outlines`` tree; external links attach as ``/Link`` URI
    annotations on the line where the anchor text lands; metadata
    carries over with the reference's producer/creator fallbacks
    (``bin/epub-to-pdf:52-61``).  stats: n_pages, n_chapters,
    toc_count, ext_links, skipped_links."""
    from ..kernels.pdfsink import build_mrc_pdf
    from ..kernels.textlayer import _utf16_payload, floatbytes, prec

    doc = parse_epub(data)
    W, H = float(page_size[0]), float(page_size[1])
    leading = fontsize * 1.4
    max_lines = max(1, int((H - 2 * margin) // leading))

    pages: list[dict] = []
    chapter_first_page: list[int] = []
    ext_links = 0

    def new_page():
        pages.append({"kind": "text", "size": (W, H), "_lines": [],
                      "links": []})

    for ch in doc["chapters"]:
        new_page()
        chapter_first_page.append(len(pages) - 1)
        lines: list[str] = []
        if ch["title"]:
            lines.extend(_wrap(ch["title"], wrap_chars))
            lines.append("")
        for block in ch["blocks"]:
            lines.extend(_wrap(block, wrap_chars))
            lines.append("")
        # distribute to pages
        for ln in lines:
            if len(pages[-1]["_lines"]) >= max_lines:
                new_page()
            pages[-1]["_lines"].append(ln)
        # external links annotate the first line containing the
        # anchor text (fallback: the chapter's first line)
        for uri, anchor in ch["links"]:
            ext_links += 1
            placed = False
            for pi in range(chapter_first_page[-1], len(pages)):
                for li, ln in enumerate(pages[pi]["_lines"]):
                    if anchor and anchor in ln:
                        y = H - margin - (li + 1) * leading
                        pages[pi]["links"].append(
                            (uri, (margin, y, W - margin,
                                   y + leading)))
                        placed = True
                        break
                if placed:
                    break
            if not placed:
                y = H - margin - leading
                pages[chapter_first_page[-1]]["links"].append(
                    (uri, (margin, y, W - margin, y + leading)))

    # render visible text ops per page (Tm per line, UTF-16BE TJ —
    # the same font machinery as the OCR layer, render mode 0)
    for page in pages:
        ops = [b"BT\n0 Tr\n/f-0-0 " + str(fontsize).encode()
               + b" Tf"]
        for li, ln in enumerate(page.pop("_lines")):
            if not ln:
                continue
            y = H - margin - (li + 1) * leading
            payload, _kept, _dropped = _utf16_payload(ln)
            ops.append(b"1 0 0 1 " + floatbytes(prec(margin)) + b" "
                       + floatbytes(prec(y)) + b" Tm [<"
                       + payload + b">] TJ")
        ops.append(b"ET")
        page["text_ops"] = b"\n".join(ops)
        if not page["links"]:
            del page["links"]

    outline = [(lvl, title, chapter_first_page[ci])
               for lvl, title, ci in doc["toc"]]
    md = dict(doc["metadata"])
    # the reference fills empty producer/creator with its own banner
    md.setdefault("creatortool", "archive-pdf-tools-spark epub-to-pdf")
    pdf = build_mrc_pdf(pages, metadata=md, outline=outline,
                        lang=md.get("language"))
    stats = {"n_pages": len(pages), "n_chapters": len(doc["chapters"]),
             "toc_count": len(doc["toc"]), "ext_links": ext_links,
             "skipped_links": doc["skipped_links"]}
    return pdf, stats


EPUB_SCHEMA_DDL = ("doc_id string, pdf binary, n_pages int, "
                   "n_chapters int, toc_count int, ext_links int, "
                   "skipped_links int, error string")


def _epub_row(doc_id, blob) -> list[tuple]:
    pdf, st = epub_to_pdf(bytes(blob))
    return [(bytearray(pdf), st["n_pages"], st["n_chapters"],
             st["toc_count"], st["ext_links"], st["skipped_links"], None)]


def epubs_to_pdf(df, epub_col: str = "epub", id_col: str = "doc_id"):
    """(doc_id, epub binary) -> one finished PDF per book, with the
    link/TOC accounting the reference prints.  Map-only; a failing book
    gives a NULL pdf with ``error`` set."""
    return map_documents(df, [id_col, epub_col], EPUB_SCHEMA_DDL,
                         _epub_row,
                         lambda msg: (None, 0, 0, 0, 0, 0, msg))
