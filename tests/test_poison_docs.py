"""Every front door runs its documents through one guarded body
(``pyworker.map_documents`` / ``map_document_groups``): a poison
document gives exactly one error marker whose text is the bounded
``Class: message``, and its batch neighbours come out exactly as they
do without it."""

import numpy as np
import pytest

PROSE = " ".join(f"word{i}" for i in range(60))


def _span_markers(kind):
    def markers(rows):
        return [s["text"] for r in rows for s in r["spans"]
                if s["kind"] == kind]
    return markers


def _column_markers(col):
    def markers(rows):
        return [r[col] for r in rows if r[col] is not None]
    return markers


def _html(spark, rows):
    from archive_pdf_tools_spark.sources.htmlmain import html_documents
    return html_documents(spark.createDataFrame(
        rows, "doc_id string, html string").repartition(1))


def _hocr(spark, rows):
    from archive_pdf_tools_spark.sources.hocr import hocr_documents
    return hocr_documents(spark.createDataFrame(
        rows, "doc_id string, hocr string").repartition(1))


def _pdf_df(spark, rows, with_hocr=False):
    if with_hocr:
        return spark.createDataFrame(
            [(d, bytearray(b), None) for d, b in rows],
            "doc_id string, pdf binary, hocr string").repartition(1)
    return spark.createDataFrame(
        [(d, bytearray(b)) for d, b in rows],
        "doc_id string, pdf binary").repartition(1)


def _pdf_spans(spark, rows):
    from archive_pdf_tools_spark.operators.pdfcomp import pdfs_to_spans
    return pdfs_to_spans(_pdf_df(spark, rows), hocr_col=None)


def _pdfcomp(spark, rows):
    from archive_pdf_tools_spark.operators.pdfcomp import (
        recode_existing_pdfs)
    return recode_existing_pdfs(_pdf_df(spark, rows, with_hocr=True))


def _pdfcomp_pdf(spark, rows):
    from archive_pdf_tools_spark.operators.pdfcomp import recompress_pdfs
    return recompress_pdfs(_pdf_df(spark, rows), hocr_col=None)


def _pdf_metadata(spark, rows):
    from archive_pdf_tools_spark.sources.pdf_meta import pdf_metadata
    return pdf_metadata(_pdf_df(spark, rows))


def _epub(spark, rows):
    from archive_pdf_tools_spark.sources.epub import epubs_to_pdf
    return epubs_to_pdf(spark.createDataFrame(
        [(d, bytearray(b)) for d, b in rows],
        "doc_id string, epub binary").repartition(1))


def _scandata(spark, rows):
    from archive_pdf_tools_spark.sources.scandata import scandata_df
    return scandata_df(spark.createDataFrame(
        rows, "doc_id string, scandata_xml string").repartition(1))


def _stack_df(spark, rows):
    return spark.createDataFrame(
        [(d, p, bytearray(b)) for d, pages in rows
         for p, b in enumerate(pages)],
        "doc_id string, page_idx int, image binary")


def _imagestack(spark, rows):
    from archive_pdf_tools_spark.operators.imagestack import (
        imagestack_to_spans)
    return imagestack_to_spans(_stack_df(spark, rows), hocr_col=None)


def _recode_pdf(spark, rows):
    from archive_pdf_tools_spark.operators.recode import recode_to_pdf
    return recode_to_pdf(_stack_df(spark, rows), hocr_col=None)


def _good(door):
    """Two good documents in the door's input shape."""
    if door == "html":
        from archive_pdf_tools_spark.corpus.htmlgen import synth_html
        return [(f"g{i}", synth_html(i, PROSE, with_image=False))
                for i in (1, 2)]
    if door == "hocr":
        from archive_pdf_tools_spark.corpus.hocrgen import synth_hocr
        return [(f"g{i}", synth_hocr(f"doc {i} {PROSE}",
                                     words_per_page=20)) for i in (1, 2)]
    if door == "epub":
        from archive_pdf_tools_spark.corpus.epubgen import synth_epub
        return [(f"g{i}", synth_epub(i)) for i in (1, 2)]
    if door == "scandata":
        return [(f"g{i}", "<book><bookData><dpi>300</dpi></bookData>"
                 f"<pageData><page leafNum='0'><pageNumber>{i}"
                 "</pageNumber></page></pageData></book>")
                for i in (1, 2)]
    if door in ("imagestack", "recode_pdf"):
        from archive_pdf_tools_spark.kernels.tiffcodec import encode_tiff
        rng = np.random.default_rng(5)
        return [(f"g{i}", [encode_tiff(rng.integers(
                    0, 256, (24, 32), dtype=np.uint8),
                    compression="lzw") for _p in range(2)])
                for i in (1, 2)]
    from archive_pdf_tools_spark.corpus.pdfgen import synth_pdf
    return [(f"g{i}", synth_pdf(i)) for i in (1, 2)]


# door -> (run, poison payload, the poison doc's markers, exception class)
DOORS = {
    "html": (_html, None, _span_markers("html_error"), "TypeError"),
    "hocr": (_hocr, "<html><body><div", _span_markers("hocr_error"),
             "ParseError"),
    "pdf_spans": (_pdf_spans, b"junk", _span_markers("pdf_error"),
                  "PdfError"),
    "pdfcomp": (_pdfcomp, b"junk", _column_markers("error"), "PdfError"),
    "pdfcomp_pdf": (_pdfcomp_pdf, b"junk", _column_markers("error"),
                    "PdfError"),
    "pdf_metadata": (_pdf_metadata, b"junk",
                     _column_markers("parse_error"), "PdfError"),
    "epub": (_epub, b"garbage", _column_markers("error"), "EpubError"),
    "scandata": (_scandata, "<book><pageData>", _column_markers("error"),
                 "ParseError"),
    "imagestack": (_imagestack, [b"junk"], _span_markers("stack_error"),
                   "TiffError"),
    "recode_pdf": (_recode_pdf, [b"junk"], _column_markers("error"),
                   "TiffError"),
}


def _by_doc(df):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["doc_id"], []).append(r)
    return {d: sorted(rows, key=repr) for d, rows in out.items()}


@pytest.mark.parametrize("door", list(DOORS))
def test_poison_document_gives_one_marker(spark, door):
    run, poison, markers, cls = DOORS[door]
    good = _good(door)
    # the poison document sits between its neighbours, in one batch
    got = _by_doc(run(spark, [good[0], ("bad", poison), good[1]]))
    want = _by_doc(run(spark, good))

    marks = markers(got.pop("bad"))
    assert len(marks) == 1
    assert marks[0].startswith(f"{cls}: ") and len(marks[0]) <= 200
    assert got == want
    assert not any(markers(rows) for rows in want.values())


def test_null_document_id_gives_one_text_error_span(spark):
    """``documents_to_spans`` runs the same guarded body: a document
    whose id is null (None across the Arrow boundary) gives one
    ``text_error`` span, and its neighbours
    (one with a media span, one without) come out as they do alone."""
    from archive_pdf_tools_spark.sources.spans_from_text import (
        documents_to_spans)

    def run(rows):
        return _by_doc(documents_to_spans(spark.createDataFrame(
            rows, "doc_id bigint, text string").repartition(1)))

    good = [(3, PROSE), (4, PROSE)]
    got = run([good[0], (None, PROSE), good[1]])
    want = run(good)

    assert {d: [s["kind"] for s in rows[0]["spans"]]
            for d, rows in want.items()} == {
        "tdoc_00000003": ["text", "media"], "tdoc_00000004": ["text"]}
    (bad,) = set(got) - set(want)
    assert [tuple(s) for r in got.pop(bad) for s in r["spans"]] == [
        ("text_error", "TypeError: int() argument must be a string, a "
         "bytes-like object or a real number, not 'NoneType'", "", 0)]
    assert got == want
