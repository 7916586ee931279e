"""Entry point 2 parity: recode images inside EXISTING PDFs.

The reference's ``bin/pdfcomp`` chain (``bin/pdfcomp:14-42``) is a
materialized file pipeline: structural metadata (``pdf-metadata-json``)
-> hOCR -> per-page image extraction + MRC decomposition + re-encode
(``bin/compress-pdf-images:26-152``).  Here the same dataflow is one
Spark stage over a ``(doc_id, pdf binary, hocr string)`` table:

    parse_pdf (xref tables or 1.5 xref/object streams)
      -> per page: decode raw-Flate image XObjects (S2)
      -> pair with the page's hOCR word data (ppageno order)
      -> MRC decomposition (mask/fg/bg kernels)
      -> emit content hashes + compressed-size estimate per image

The re-encoded bytes are represented by content-addressed component
hashes plus a Flate size estimate (the JP2/JBIG2 codec boundary —
consistent with the pipeline-wide media_ref contract, BASELINE.md).
Word boxes outside the image raster are handled by the mask kernels'
own bbox-validity filters, mirroring the reference's behaviour when the
hOCR scan coords disagree with the embedded image.
"""

from __future__ import annotations

import zlib

import numpy as np

from ..pyworker import map_documents
from .extract import _sha12, mrc_spans

__all__ = ["recode_existing_pdfs", "pdfs_to_spans", "recompress_pdfs",
           "run_pdf_checkpoint", "run_recompress_checkpoint",
           "PDFCOMP_SCHEMA_DDL", "RECOMPRESS_SCHEMA_DDL"]

PDFCOMP_SCHEMA_DDL = (
    "doc_id string, page_idx int, xref int, src_w int, src_h int, "
    "accepted_lines int, mask_sha string, fg_sha string, bg_sha string, "
    "orig_bytes bigint, est_bytes bigint, error string")


def _est(arr: np.ndarray) -> int:
    return len(zlib.compress(np.ascontiguousarray(arr).tobytes(), 6))


def _image_pages(pdf: bytes, hocr, password: bytes | str = b""):
    """The image-page walk both pdfcomp doors share: one structural
    parse and one xref resolver per document (a per-page re-parse was
    quadratic in page count).  Yields ``(page, reader, images)`` in page
    order; ``images`` lazily yields ``(xref, raster, words, mrc)`` per
    decodable image XObject, decomposed against the page's hOCR word
    data."""
    from ..kernels.mrc import create_mrc_components
    from ..sources.hocr import word_data_by_page
    from ..sources.pdf_meta import _Reader, extract_page_images, parse_pdf

    words_by_page = word_data_by_page(hocr)
    meta = parse_pdf(pdf, password)
    rd = _Reader(pdf, password)

    def images(pidx):
        words = words_by_page.get(pidx, [])
        for xref, raster in extract_page_images(pdf, pidx, meta=meta, rd=rd):
            yield xref, raster, words, create_mrc_components(raster, words)

    for page in meta["pages"]:
        yield page, rd, images(page["page_idx"])


def _recode_one(doc_id: str, pdf, hocr) -> list[tuple]:
    """One PDF -> a ``PDFCOMP_SCHEMA_DDL`` row (after doc_id) per
    recoded image XObject."""
    rows = []
    for page, _rd, images in _image_pages(bytes(pdf), hocr):
        for xref, raster, _words, res in images:
            est = _est(res.mask) + _est(res.foreground) + _est(res.background)
            rows.append((page["page_idx"], xref,
                         raster.shape[1], raster.shape[0],
                         sum(1 for d in res.line_decisions if d.accepted),
                         _sha12(res.mask), _sha12(res.foreground),
                         _sha12(res.background),
                         raster.size,  # uncompressed pixel bytes in the PDF
                         est, None))
    return rows


def _doc_spans(doc_id: str, pdf, hocr=None,
               password: bytes | str = b"") -> list[tuple]:
    """One PDF document -> ordered (kind, text, media_ref) output spans.

    Per page, in page order: the embedded text layer (literal strings the
    content stream shows — the reference's page.get_text equivalent),
    then per image XObject the hOCR-accepted MRC text lines and one
    media span whose ref carries the content hashes of (mask, fg, bg) —
    the same content-addressed media contract the flagship pipeline
    emits (BASELINE.md codec boundary)."""
    from ..sources.pdf_meta import (extract_text_strings, _stream_data,
                                    _get_ref)

    spans: list[tuple] = []
    for page, rd, images in _image_pages(bytes(pdf), hocr, password):
        if page["has_text"]:
            content_id = _get_ref(rd.obj(page["oid"])[1], b"/Contents")
            body, d = rd.obj(content_id)
            for s in extract_text_strings(_stream_data(
                    body, d, rd._decrypter(content_id))):
                if s.strip():
                    spans.append(("text", s, ""))
        for xref, _raster, words, res in images:
            spans.extend(mrc_spans(
                f"pdf://{doc_id}/p{page['page_idx']}/x{xref}", words,
                res.line_decisions, res.mask, res.foreground,
                res.background))
    return spans


def pdfs_to_spans(df, pdf_col: str = "pdf", hocr_col: str | None = "hocr",
                  password: bytes | str = b""):
    """(doc_id, pdf binary [, hocr]) -> (doc_id, spans) in the engine's
    output span contract — the PDF front door: a reference pdfcomp user
    points spark-submit at a table of PDFs and gets the recoded span
    table, shard-checkpointed like every other front door.
    ``password`` opens user/owner-password-protected inputs (one
    corpus-wide password, the batch-job shape); a document that fails
    gives one ``pdf_error`` span."""
    from ..operators.extract import OUTPUT_SCHEMA_DDL

    cols = ["doc_id", pdf_col] + (
        [hocr_col] if hocr_col and hocr_col in df.columns else [])
    return map_documents(
        df, cols, OUTPUT_SCHEMA_DDL,
        lambda doc_id, blob, hocr=None: _doc_spans(doc_id, blob, hocr,
                                                   password),
        lambda msg: ("pdf_error", msg, ""), spans=True)


def run_pdf_checkpoint(spark, pdf_df, out_dir: str, shards: int = 16,
                       stop_after_shards: int | None = None,
                       password: bytes | str = b"") -> dict:
    """Sharded snapshot commits for the PDF front door: the conversion
    IS the extraction here, so each shard writes ``pdfs_to_spans``
    output to ``<out>/spans/shard=k`` with a doc/span-count metrics
    row (``checkpoint.run_sharded``)."""
    from .checkpoint import run_sharded, span_count_metrics

    return run_sharded(pdf_df, out_dir, shards,
                       lambda d: pdfs_to_spans(d, password=password),
                       span_count_metrics, "spans",
                       stop_after_shards=stop_after_shards)


def recode_existing_pdfs(df, pdf_col: str = "pdf", hocr_col: str = "hocr"):
    """(doc_id, pdf, hocr) -> one row per recoded image XObject; a
    failing document gives one ``page_idx = -1`` row with ``error``
    set."""
    return map_documents(
        df, ["doc_id", pdf_col, hocr_col], PDFCOMP_SCHEMA_DDL, _recode_one,
        lambda msg: (-1, -1, 0, 0, 0, "", "", "", 0, 0, msg))


RECOMPRESS_SCHEMA_DDL = (
    "doc_id string, pdf binary, n_pages int, n_images int, "
    "skipped int, orig_image_bytes bigint, new_image_bytes bigint, "
    "error string")


def recompress_pdfs(df, pdf_col: str = "pdf",
                    hocr_col: str | None = "hocr",
                    fg_downsample: int = 3, bg_downsample: int = 3,
                    password: bytes | str = b""):
    """(doc_id, pdf binary[, hocr]) -> (doc_id, recompressed pdf, ...)
    — the reference's second entry point's ACTUAL PRODUCT
    (``bin/compress-pdf-images:130-150``): per document, every image
    XObject is MRC-decomposed and re-encoded (JP2 bg + JP2 fg through
    a JBIG2 /SMask) inside the EXISTING document, preserving its text
    layer and structure (``kernels/pdfrewrite.recompress_pdf``).
    Encrypted inputs decrypt-and-rewrite into plain PDFs
    (``password`` opens user/owner-protected corpora).

    Scale shape: one ``mapInArrow`` stage (the document row already
    holds everything the rewrite needs — no shuffle at all); a failing
    document gives a NULL pdf with ``error`` set."""
    from ..kernels.pdfrewrite import recompress_pdf

    def doc(doc_id, blob, hocr=None):
        r = recompress_pdf(bytes(blob), hocr, fg_downsample=fg_downsample,
                           bg_downsample=bg_downsample, password=password)
        return [(bytearray(r.pdf), r.n_pages, r.n_images, r.skipped,
                 r.orig_image_bytes, r.new_image_bytes, None)]

    cols = ["doc_id", pdf_col] + (
        [hocr_col] if hocr_col is not None and hocr_col in df.columns
        else [])
    return map_documents(df, cols, RECOMPRESS_SCHEMA_DDL, doc,
                         lambda msg: (None, 0, 0, 0, 0, 0, msg))


def run_recompress_checkpoint(spark, pdf_df, out_dir: str,
                              shards: int = 16,
                              stop_after_shards: int | None = None,
                              hocr_col: str | None = "hocr",
                              password: bytes | str = b"") -> dict:
    """Sharded snapshot commits for the PDF-recompress sink: finished
    PDFs land in ``<out>/pdfs/shard=k`` with a per-shard metrics row
    (``checkpoint.run_sharded``)."""
    from pyspark.sql import functions as F

    from .checkpoint import pdf_count_metrics, run_sharded

    return run_sharded(
        pdf_df, out_dir, shards,
        lambda d: recompress_pdfs(d, hocr_col=hocr_col, password=password),
        lambda d: pdf_count_metrics(
            d, F.sum("n_images").alias("image_count"),
            F.sum("orig_image_bytes").alias("orig_image_bytes"),
            F.sum("new_image_bytes").alias("new_image_bytes")),
        "pdfs", stop_after_shards=stop_after_shards)
