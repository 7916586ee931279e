"""Recode operator: imagestack rows -> finished MRC PDFs.

This is the reference engine's whole purpose as one cluster operator
(``recode.py:595-716`` ``recode(...)``: imagestack + hOCR in, MRC
PDF out): pages decode through the engine's codecs, MRC-decompose,
re-encode (JBIG2 mask + JPEG2000 fg/bg), get an invisible text layer,
and assemble into one PDF per document (``kernels/pdfsink.py``).

Scale shape: identical to the other front doors — ONE shuffle (the
per-doc regroup), every page decode / MRC / encode / assembly step
inside the grouped UDF, no driver-side state.  Output rows are
(doc_id, pdf binary, n_pages, n_text_lines, error).
"""

from __future__ import annotations

import numpy as np

from ..pyworker import map_document_groups

__all__ = ["recode_to_pdf", "recode_document",
           "run_recode_checkpoint"]

OUTPUT_DDL = ("doc_id string, pdf binary, n_pages int, "
              "n_text_lines int, error string")


def _flat_page(payload: bytes, raster: np.ndarray, image_mode: int,
               image_format: str, jpeg_quality):
    """Flat-image page dict for image modes 0/1.  Passthrough (mode 0)
    inserts the source stream verbatim when it is already a PDF image
    filter payload — JPEG -> /DCTDecode, JP2 -> /JPXDecode (the
    fast-insert path, ``pdfhacks.py:106-177``); anything else (TIFF,
    PNG, PNM page files) falls back to the pixmap re-encode, the same
    degradation the reference's mode-0 insert performs on non-native
    streams."""
    h, w = raster.shape[:2]
    gray = raster.ndim == 2
    if image_mode == 0 and payload is not None:
        head = bytes(payload[:23])
        filt = None
        if head.startswith(b"\xff\xd8\xff"):
            filt = "DCTDecode"
        elif (head.startswith(b"\x00\x00\x00\x0cjP")
              or head.startswith(b"\xff\x4f\xff\x51")):
            filt = "JPXDecode"
        if filt is not None:
            return {"kind": "image",
                    "raw": {"data": bytes(payload), "w": w, "h": h,
                            "gray": gray, "filter": filt, "bpc": 8}}
    page = {"kind": "image", "image": raster,
            "image_format": image_format}
    if jpeg_quality is not None:
        page["jpeg_quality"] = jpeg_quality
    return page


def _bw_page(mask_arr: np.ndarray, mask_compression: str, ppi,
             text_ops):
    """--bw-pdf page dict: the text mask as the page's sole 1-bit
    image, ink black on white (``recode.py:400-430`` inverts the mask
    before encoding; here ink = bit 1 maps to sample 0 = black under
    both /JBIG2Decode and /CCITTFaxDecode default decode senses)."""
    from ..kernels.registry import get_encoder

    ink = (np.asarray(mask_arr) != 0).astype(np.uint8)
    h, w = ink.shape
    if mask_compression == "ccitt":
        raw = {"data": get_encoder("CCITT")(ink), "w": w, "h": h,
               "gray": True, "filter": "CCITTFaxDecode", "bpc": 1,
               "parms": (b"<< /K -1 /Columns " + str(w).encode()
                         + b" /Rows " + str(h).encode() + b" >>")}
    elif mask_compression == "jbig2":
        raw = {"data": get_encoder("JBIG2")(ink), "w": w, "h": h,
               "gray": True, "filter": "JBIG2Decode", "bpc": 1}
    else:
        raise ValueError(f"unknown mask format {mask_compression!r}")
    return {"kind": "image", "raw": raw, "ppi": ppi,
            "text_ops": text_ops}


def recode_document(pages: list, hocr, fg_downsample=3,
                    bg_downsample=3, ppi: float = 72.0,
                    scandata=None, metadata: dict | None = None,
                    lang: str | None = None,
                    image_mode: int = 2,
                    mrc_image_format: str = "jp2",
                    mask_compression: str = "jbig2",
                    grayscale: bool = False, bw: bool = False,
                    dpi: float | None = None,
                    downsample: float | None = None,
                    denoise_mask: str | None = None,
                    hq_pages: str | None = None,
                    hq_jp2_step: float = 0.25,
                    jpeg_quality: int | None = None):
    """[(page_idx, image bytes)] sorted + optional hOCR markup ->
    (pdf bytes, n_pages, n_text_lines).  The per-doc kernel the
    grouped UDF runs; also the local single-process runner.

    ``scandata``: the document's scandata XML (string/bytes) — its TOC
    becomes the PDF outline tree and its page-number labels the
    ``/PageLabels`` number tree (``write_pdf_toc`` +
    ``write_page_labels``, ``pdfhacks.py:211-238``, wired
    ``recode.py:719-727`` in the reference).  ``metadata``/``lang``
    flow to the sink's docinfo/XMP//Lang.

    Compression knobs — the reference CLI surface
    (``bin/recode_pdf:95-170``, wired ``recode.py:274-371,546-716``):

    * ``image_mode``: 0 passthrough (source page streams inserted
      verbatim when already PDF-embeddable — JPEG/JP2 — else pixmap
      fallback), 1 pixmap (flat re-encode), 2 MRC (default),
      3 skip images (text-only PDF);
    * ``mrc_image_format``: ``"jp2"`` | ``"jpeg"`` — bg/fg codec;
    * ``mask_compression``: ``"jbig2"`` | ``"ccitt"``;
    * ``grayscale``: ``--grayscale-pdf`` — ``special_gray_convert``
      on RGB input before the pipeline (``recode.py:360-364``);
    * ``bw``: ``--bw-pdf`` — 1-bit output: the MRC mask phase runs,
      its mask becomes the page's sole image (``recode.py:400-430``,
      ``force_1bit_output``);
    * ``dpi``: override page DPI (``-D/--dpi`` — skips guessing and
      scales the MediaBox);
    * ``downsample``: whole-image pre-downsample factor
      (``recode.py:368-371``);
    * ``denoise_mask``: mask denoise algorithm (None = kernel
      default, the reference's ``--denoise-mask`` choices);
    * ``hq_pages``: comma list per ``parse_hq_pages`` (1-indexed,
      negatives from the end) — HQ pages skip bg/fg downsampling and
      encode at ``hq_jp2_step`` / quality 95 (``recode.py:366,
      402-409``);
    * ``jpeg_quality``: bg/fg JPEG quality when
      ``mrc_image_format="jpeg"``."""
    from ..kernels.mrc import create_mrc_components, mrc_mask_phase
    from ..kernels.pages import downsample_box, parse_hq_pages
    from ..kernels.pdfsink import build_mrc_pdf, page_labels_pdf
    from ..kernels.textlayer import render_text_layer
    from ..sources.hocr import word_data_by_page
    from .imagestack import expand_item_pages

    words_by_page = word_data_by_page(hocr)

    outline = None
    page_labels = None
    if scandata is not None:
        from ..kernels.pagenumbers import parse_series
        from ..sources.scandata import parse_scandata
        if isinstance(scandata, (bytes, bytearray)):
            scandata = bytes(scandata).decode("utf-8", "replace")
        sd = parse_scandata(scandata)
        outline = [(t["level"], t["title"], t["accessible_page"])
                   for t in sd["toc"]] or None
        if sd["page_numbers"]:
            from ..kernels.pagenumbers import ARABIC
            runs, _ok = parse_series(sd["page_numbers"])
            vals: list = []
            for run in runs:          # decimal runs label; others blank
                if run["type"] == ARABIC:
                    vals.extend(run["values_numeric"])
                else:
                    vals.extend([None] * len(run["values"]))
            page_labels = page_labels_pdf(vals)

    if image_mode not in (0, 1, 2, 3):
        raise ValueError(f"bad image_mode {image_mode!r}")
    if dpi is not None:
        ppi = float(dpi)

    pages, decode = expand_item_pages(pages)
    hq_flags = parse_hq_pages(hq_pages, len(pages))
    mrc_kwargs = {}
    if denoise_mask is not None:
        mrc_kwargs["denoise_mask"] = denoise_mask
    sink_pages = []
    n_lines = 0
    for k, (pidx, payload) in enumerate(pages):
        raster = decode(payload, pidx)
        if grayscale and raster.ndim == 3:
            from ..kernels.grayconvert import special_gray_convert
            raster = special_gray_convert(raster)
        if downsample is not None:
            raster, _warn = downsample_box(raster, downsample)
        words = words_by_page.get(int(pidx), [])
        text_ops = b""
        if words:
            h, w = raster.shape[:2]
            # textlayer expects PAGE dims in PDF POINTS (extract.py
            # passes page_geometry output) — scale pixels by 72/ppi
            # so text placement tracks the MediaBox (review finding)
            tl = render_text_layer(words, w * 72.0 / ppi,
                                   h * 72.0 / ppi, ppi)
            text_ops = tl.text_ops
            n_lines += len(tl.lines)

        if image_mode == 3:                 # IMAGE_MODE_SKIP
            h, w = raster.shape[:2]
            sink_pages.append({"kind": "text", "size": (w, h),
                               "ppi": ppi, "text_ops": text_ops})
            continue

        if image_mode in (0, 1):            # passthrough / pixmap
            page = _flat_page(payload, raster, image_mode,
                              mrc_image_format, jpeg_quality)
            page.update(ppi=ppi, text_ops=text_ops)
            sink_pages.append(page)
            continue

        hq = hq_flags[k]
        if bw:
            # --bw-pdf: mask phase only; the (inverted-sense) mask is
            # the page's single 1-bit image (recode.py:400-430)
            mask_arr, _dec, _warn = mrc_mask_phase(
                raster, words, dpi=dpi, **mrc_kwargs)
            sink_pages.append(_bw_page(mask_arr, mask_compression,
                                       ppi, text_ops))
            continue

        res = create_mrc_components(
            raster, words, dpi=dpi,
            fg_downsample=None if hq else fg_downsample,
            bg_downsample=None if hq else bg_downsample,
            **mrc_kwargs)
        page = {"mask": res.mask, "fg": res.foreground,
                "bg": res.background, "ppi": ppi,
                "text_ops": text_ops,
                "image_format": mrc_image_format,
                "mask_format": mask_compression}
        if hq:
            if mrc_image_format == "jp2":
                page["jp2_step"] = hq_jp2_step
            else:
                page["jpeg_quality"] = 95
        elif jpeg_quality is not None:
            page["jpeg_quality"] = jpeg_quality
        sink_pages.append(page)
    # callers with a pre-parsed series may still attach labels via
    # sink_pages[0]["page_labels"]; scandata (above) wins if given
    if page_labels is not None and sink_pages:
        sink_pages[0]["page_labels"] = page_labels
    pdf = build_mrc_pdf(sink_pages, metadata=metadata,
                        outline=outline, lang=lang)
    return pdf, len(sink_pages), n_lines


def recode_to_pdf(df, image_col: str = "image",
                  hocr_col: str | None = "hocr",
                  scandata_col: str | None = "scandata",
                  fg_downsample=3, bg_downsample=3,
                  **recode_opts):
    """(doc_id, page_idx, image binary[, hocr][, scandata]) ->
    (doc_id, pdf, n_pages, n_text_lines, error) — one finished MRC PDF
    per document.  Same input contract as ``imagestack_to_spans``
    (pages assemble in page_idx order; hOCR/scandata on any row);
    scandata supplies the TOC outline + /PageLabels.

    ``recode_opts``: the per-document compression knobs, forwarded to
    ``recode_document`` verbatim (image_mode, mrc_image_format,
    mask_compression, grayscale, bw, dpi, downsample, denoise_mask,
    hq_pages, ...) — validated HERE at plan time so a typo fails the
    driver, not a thousand executors mid-job."""
    import inspect

    allowed = set(inspect.signature(recode_document).parameters)
    bad = set(recode_opts) - allowed
    if bad:
        raise TypeError(f"unknown recode option(s): {sorted(bad)}")

    def doc(doc_id, pages, hocr, scandata):
        pdf, n_pages, n_lines = recode_document(
            pages, hocr, fg_downsample=fg_downsample,
            bg_downsample=bg_downsample, scandata=scandata, **recode_opts)
        return [(bytearray(pdf), n_pages, n_lines, None)]

    first = [c if c in df.columns else None
             for c in (hocr_col, scandata_col)]
    return map_document_groups(df, image_col, first, OUTPUT_DDL, doc,
                               lambda msg: (None, 0, 0, msg))


def run_recode_checkpoint(spark, df, out_dir: str,
                          shards: int = 16,
                          stop_after_shards: int | None = None,
                          hocr_col: str | None = "hocr",
                          **recode_opts) -> dict:
    """Sharded snapshot commits for the PDF recode sink: finished PDFs
    land in ``<out>/pdfs/shard=k`` with a per-shard metrics row
    (``checkpoint.run_sharded``)."""
    from .checkpoint import pdf_count_metrics, run_sharded

    return run_sharded(
        df, out_dir, shards,
        lambda d: recode_to_pdf(d, hocr_col=hocr_col, **recode_opts),
        pdf_count_metrics, "pdfs", stop_after_shards=stop_after_shards)
