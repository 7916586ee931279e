"""scandata XML parsing (S5): per-document page metadata.

Re-derives ``internetarchivepdf/scandata.py:23-150`` with stdlib
``xml.etree`` instead of xmltodict:

* ``skip_pages``     — 0-based indices with ``addToAccessFormats == 'false'``
  (``scandata.py:23-36``; feeds the F1 anti-join filter),
* ``page_numbers``   — labels of non-skipped pages (``:39-60``; feeds the
  W1 series parser),
* ``dpi_per_page``   — ppi of non-skipped pages (``:63-84``; feeds the J4
  dpi fallback chain),
* ``document_dpi``   — bookData dpi, non-int -> None (``:87-98``),
* ``toc``            — pageType entries with @title; ``accessible-page``
  counts non-skipped pages seen so far (``:101-150``).

Scandata is per-document metadata: at scale it rides along as a small
struct column (or a broadcast dim table keyed by doc_id), never a
shuffle-heavy side.  ``scandata_df`` parses a column of XML strings via
``mapInArrow`` (``pyworker.map_documents``).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from ..pyworker import map_documents

__all__ = ["parse_scandata", "scandata_df"]


def _pages(root):
    page_data = root.find("pageData")
    if page_data is None:
        return []
    return page_data.findall("page")


def _add_to_access(page) -> str | None:
    el = page.find("addToAccessFormats")
    return None if el is None else (el.text or "")


def parse_scandata(xml_str: str) -> dict:
    """One scandata XML document -> metadata dict (see module docstring)."""
    root = ET.fromstring(xml_str)
    if root.tag != "book":
        book = root.find("book")
        root = book if book is not None else root

    pages = _pages(root)

    skip = [idx for idx, page in enumerate(pages)
            if _add_to_access(page) == "false"]

    page_numbers: list[str | None] = []
    dpi_per_page: list[int | None] = []
    for page in pages:
        if _add_to_access(page) == "false":
            continue
        pno = page.find("pageNumber")
        page_numbers.append(None if pno is None else pno.text)
        ppi = page.find("ppi")
        try:
            dpi_per_page.append(None if ppi is None or ppi.text is None
                                else int(ppi.text))
        except ValueError:
            dpi_per_page.append(None)

    doc_dpi = None
    book_data = root.find("bookData")
    if book_data is not None:
        dpi_el = book_data.find("dpi")
        if dpi_el is not None and dpi_el.text is not None:
            try:
                doc_dpi = int(dpi_el.text)
            except ValueError:
                doc_dpi = None

    toc = []
    accessible_count = 0
    for idx, page in enumerate(pages):
        leaf_num = page.get("leafNum")
        ptype = page.find("pageType")
        if ptype is not None and ptype.get("title") is not None:
            toc.append({
                "title": ptype.get("title"),
                "level": int(ptype.get("level", "1")),
                "label": ptype.get("label"),
                "leaf": leaf_num,
                "accessible_page": accessible_count,
            })
        if _add_to_access(page) != "false":   # default 'true' (scandata.py:146)
            accessible_count += 1

    return {"skip_pages": skip, "page_numbers": page_numbers,
            "dpi_per_page": dpi_per_page, "document_dpi": doc_dpi,
            "toc": toc}


SCANDATA_SCHEMA_DDL = (
    "doc_id string, skip_pages array<int>, page_numbers array<string>, "
    "dpi_per_page array<int>, document_dpi int, "
    "toc array<struct<title:string,level:int,label:string,leaf:string,"
    "accessible_page:int>>, error string"
)


def _scandata_row(doc_id, xml_str) -> list[tuple]:
    m = parse_scandata(xml_str)
    return [(m["skip_pages"], m["page_numbers"], m["dpi_per_page"],
             m["document_dpi"],
             [(t["title"], t["level"], t["label"], t["leaf"],
               t["accessible_page"]) for t in m["toc"]], None)]


def scandata_df(df, xml_col: str = "scandata_xml", id_col: str = "doc_id"):
    """(doc_id, scandata_xml) -> parsed metadata rows via mapInArrow;
    malformed XML gives a row of nulls with ``error`` set."""
    return map_documents(df, [id_col, xml_col], SCANDATA_SCHEMA_DDL,
                         _scandata_row,
                         lambda msg: (None, None, None, None, None, msg))
