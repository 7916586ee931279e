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

import hashlib
import zlib
from typing import Iterable, Iterator

import numpy as np

from ..pyworker import python_task

__all__ = ["recode_existing_pdfs", "pdfs_to_spans", "recompress_pdfs",
           "run_pdf_checkpoint", "run_recompress_checkpoint",
           "PDFCOMP_SCHEMA_DDL", "RECOMPRESS_SCHEMA_DDL"]

PDFCOMP_SCHEMA_DDL = (
    "doc_id string, page_idx int, xref int, src_w int, src_h int, "
    "accepted_lines int, mask_sha string, fg_sha string, bg_sha string, "
    "orig_bytes bigint, est_bytes bigint, error string")


def _sha12(arr: np.ndarray) -> str:
    return hashlib.sha1(np.ascontiguousarray(arr).tobytes()).hexdigest()[:12]


def _est(arr: np.ndarray) -> int:
    return len(zlib.compress(np.ascontiguousarray(arr).tobytes(), 6))


def _recode_one(doc_id: str, pdf: bytes, hocr) -> list[tuple]:
    from ..kernels.mrc import create_mrc_components
    from ..sources.hocr import iter_pages, page_word_data
    from ..sources.pdf_meta import _Reader, extract_page_images, parse_pdf

    word_data_by_page: dict[int, list] = {}
    if hocr:
        for idx, page in enumerate(iter_pages(hocr)):
            word_data_by_page[idx] = page_word_data(page)

    # One structural parse + one xref resolver per document, shared by
    # every page (the per-page re-parse was quadratic in page count).
    meta = parse_pdf(pdf)
    rd = _Reader(pdf)
    rows = []
    for page in meta["pages"]:
        pidx = page["page_idx"]
        words = word_data_by_page.get(pidx, [])
        for xref, raster in extract_page_images(pdf, pidx, meta=meta, rd=rd):
            res = create_mrc_components(raster, words)
            accepted = sum(1 for d in res.line_decisions if d.accepted)
            orig = raster.size  # uncompressed pixel bytes in the PDF
            est = _est(res.mask) + _est(res.foreground) + _est(res.background)
            rows.append((doc_id, pidx, xref,
                         raster.shape[1], raster.shape[0], accepted,
                         _sha12(res.mask), _sha12(res.foreground),
                         _sha12(res.background), orig, est, None))
    return rows


def _doc_spans(doc_id: str, pdf: bytes, hocr,
               password: bytes | str = b"") -> list[tuple]:
    """One PDF document -> ordered (kind, text, media_ref) output spans.

    Per page, in page order: the embedded text layer (literal strings the
    content stream shows — the reference's page.get_text equivalent),
    then per image XObject the hOCR-accepted MRC text lines and one
    media span whose ref carries the content hashes of (mask, fg, bg) —
    the same content-addressed media contract the flagship pipeline
    emits (BASELINE.md codec boundary)."""
    from ..kernels.mrc import create_mrc_components
    from ..sources.hocr import iter_pages, page_word_data
    from ..sources.pdf_meta import (_Reader, extract_page_images,
                                    extract_text_strings, parse_pdf,
                                    _stream_data, _get_ref)

    word_data_by_page: dict[int, list] = {}
    if hocr:
        for idx, page in enumerate(iter_pages(hocr)):
            word_data_by_page[idx] = page_word_data(page)

    meta = parse_pdf(pdf, password)
    rd = _Reader(pdf, password)
    spans: list[tuple] = []
    for page in meta["pages"]:
        pidx = page["page_idx"]
        if page["has_text"]:
            content_id = _get_ref(rd.obj(page["oid"])[1], b"/Contents")
            body, d = rd.obj(content_id)
            for s in extract_text_strings(_stream_data(
                    body, d, rd._decrypter(content_id))):
                if s.strip():
                    spans.append(("text", s, ""))
        words = word_data_by_page.get(pidx, [])
        for xref, raster in extract_page_images(pdf, pidx, meta=meta, rd=rd):
            res = create_mrc_components(raster, words)
            for dec in res.line_decisions:
                if dec.accepted:
                    line = words[dec.para_idx]["lines"][dec.line_idx]
                    spans.append(("text",
                                  " ".join(w["text"] for w in line["words"]),
                                  ""))
            ref = (f"pdf://{doc_id}/p{pidx}/x{xref}"
                   f"#mrc={_sha12(res.mask)}-{_sha12(res.foreground)}-"
                   f"{_sha12(res.background)}")
            spans.append(("media", "", ref))
    return spans


def pdfs_to_spans(df, pdf_col: str = "pdf", hocr_col: str | None = "hocr",
                  password: bytes | str = b""):
    """(doc_id, pdf binary [, hocr]) -> (doc_id, spans) in the engine's
    output span contract — the PDF front door: a reference pdfcomp user
    points spark-submit at a table of PDFs and gets the recoded span
    table, shard-checkpointed like every other front door.
    ``password`` opens user/owner-password-protected inputs (one
    corpus-wide password, the batch-job shape; per-doc failures still
    degrade to the pdf_error span)."""
    import pandas as pd

    from ..operators.extract import OUTPUT_SCHEMA_DDL

    @python_task
    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdfb in batches:
            ids, spans_col = [], []
            hocrs = (pdfb[hocr_col].values
                     if hocr_col and hocr_col in pdfb.columns
                     else [None] * len(pdfb))
            for doc_id, blob, hocr in zip(pdfb["doc_id"].values,
                                          pdfb[pdf_col].values, hocrs):
                try:
                    rows = _doc_spans(doc_id, bytes(blob), hocr,
                                      password)
                except Exception as exc:  # noqa: BLE001 — poison-doc guard
                    # same observable-failure contract as the HTML front
                    # door's html_error span: the failing document stays
                    # in the output, marked, never silently emptied
                    rows = [("pdf_error",
                             f"{type(exc).__name__}: {exc}"[:200], "")]
                ids.append(doc_id)
                spans_col.append([
                    {"kind": k, "text": t, "media_ref": m, "offset": i}
                    for i, (k, t, m) in enumerate(rows)])
            yield pd.DataFrame({"doc_id": ids, "spans": spans_col})

    cols = ["doc_id", pdf_col] + (
        [hocr_col] if hocr_col and hocr_col in df.columns else [])
    return df.select(*cols).mapInPandas(gen, schema=OUTPUT_SCHEMA_DDL)


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
    """(doc_id, pdf, hocr) -> one row per recoded image XObject."""
    import pandas as pd

    @python_task
    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "page_idx", "xref", "src_w", "src_h",
                "accepted_lines", "mask_sha", "fg_sha", "bg_sha",
                "orig_bytes", "est_bytes", "error"]
        for pdfb in batches:
            rows = []
            for doc_id, blob, hocr in zip(pdfb["doc_id"].values,
                                          pdfb[pdf_col].values,
                                          pdfb[hocr_col].values):
                try:
                    rows.extend(_recode_one(doc_id, bytes(blob), hocr))
                except Exception as exc:  # noqa: BLE001 — poison-doc guard
                    rows.append((doc_id, -1, -1, 0, 0, 0, "", "", "",
                                 0, 0, f"{type(exc).__name__}"))
            yield pd.DataFrame(rows, columns=cols)

    return df.select("doc_id", pdf_col, hocr_col).mapInPandas(
        gen, schema=PDFCOMP_SCHEMA_DDL)


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

    Scale shape: one ``mapInPandas`` stage (the document row already
    holds everything the rewrite needs — no shuffle at all); a poison
    document (wrong password, malformed) degrades to a NULL pdf with
    the error recorded, never a failed task."""
    import pandas as pd

    from ..kernels.pdfrewrite import recompress_pdf

    has_hocr = hocr_col is not None and hocr_col in df.columns

    @python_task
    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdfb in batches:
            rows = []
            hocrs = (pdfb[hocr_col].values if has_hocr
                     else [None] * len(pdfb))
            for doc_id, blob, hocr in zip(pdfb["doc_id"].values,
                                          pdfb[pdf_col].values, hocrs):
                try:
                    r = recompress_pdf(
                        bytes(blob), hocr,
                        fg_downsample=fg_downsample,
                        bg_downsample=bg_downsample,
                        password=password)
                    rows.append((doc_id, bytearray(r.pdf),
                                 np.int32(r.n_pages),
                                 np.int32(r.n_images),
                                 np.int32(r.skipped),
                                 r.orig_image_bytes,
                                 r.new_image_bytes, None))
                except Exception as exc:  # noqa: BLE001 — poison guard
                    rows.append((doc_id, None, np.int32(0),
                                 np.int32(0), np.int32(0), 0, 0,
                                 f"{type(exc).__name__}: {exc}"[:200]))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "pdf", "n_pages", "n_images", "skipped",
                "orig_image_bytes", "new_image_bytes", "error"])

    cols = ["doc_id", pdf_col] + ([hocr_col] if has_hocr else [])
    return df.select(*cols).mapInPandas(gen,
                                        schema=RECOMPRESS_SCHEMA_DDL)


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
