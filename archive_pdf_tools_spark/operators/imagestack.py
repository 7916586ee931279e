"""Imagestack front door: (doc_id, page_idx, image) -> output spans.

The reference's PRIMARY input is an image stack plus hOCR
(``recode.py:595-597``: glob + lexicographic sort of page-image
files, position = page index; pages are TIFF/JP2 files inside
``*_tif.zip``).  This operator is that front door as a cluster job:
one row per page file, pages decoded through the engine's own codecs
(``kernels/tiffcodec`` for TIFF — G4 fax, LZW/PackBits gray/RGB —
with JPEG2000/JPEG/PNG/PNM payloads routed to their codecs by
magic), MRC
decomposition per page, and per-doc span assembly in ``page_idx``
order (order is DATA, never file order — the S1 contract).

Scale shape: the only shuffle is the per-doc regroup
(``groupBy(doc_id).applyInArrow``), the same partitioning the
flagship extraction reuses; page decode + MRC run inside the grouped
UDF with no driver-side state, and the checkpoint protocol is the
shared ``checkpoint.run_sharded``.

Whole-item rows (``page_idx = -1``: a ``*_tif.zip`` or multi-page
TIFF as ONE binary cell) are bounded by Arrow/Parquet single-value
limits (~2 GB): items beyond that — BigTIFF masters especially —
must enter through the per-page row path (split upstream, e.g. one
zip entry per row), which has no per-item bound; the zip expansion
already inflates lazily so the in-memory bound is one page either
way.
"""

from __future__ import annotations

import numpy as np

from ..pyworker import map_document_groups

__all__ = ["imagestack_to_spans", "run_imagestack_checkpoint",
           "decode_page_image", "expand_item_pages"]


def decode_page_image(blob: bytes) -> np.ndarray:
    """One page file -> uint8 raster, dispatched by magic: TIFF
    (II*/MM*), JPEG2000 (JP2 box / raw J2K), JPEG (SOI), PNG
    (\\x89PNG), PNM (P1-P6).  The same typed-error contract as the
    PDF image path: unsupported/corrupt pages raise their codec
    error.  PNG alpha is dropped (gray+alpha -> gray, RGBA -> RGB),
    matching the reference's PIL ``convert('L')``/``convert('RGB')``
    behavior on page opens (``mrc.py:361``), so every dispatch
    lands on the MRC raster contract ((h, w) or (h, w, 3))."""
    from ..kernels.registry import get_decoder
    if blob[:4] in (b"II*\x00", b"MM\x00*"):
        return get_decoder("TIFF")(bytes(blob))
    if blob[:12] == b"\x00\x00\x00\x0cjP  \r\n\x87\n" \
            or blob[:4] == b"\xff\x4f\xff\x51":
        return get_decoder("JPEG2000")(bytes(blob))
    if blob[:2] == b"\xff\xd8":
        return get_decoder("JPEG")(bytes(blob))
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        img = get_decoder("PNG")(bytes(blob))
        if img.ndim == 3 and img.shape[2] in (2, 4):
            img = img[:, :, 0] if img.shape[2] == 2 else img[:, :, :3]
        return img
    if blob[:1] == b"P" and blob[1:2] in b"123456":
        return get_decoder("PNM")(bytes(blob))
    from ..kernels.tiffcodec import TiffError
    raise TiffError("unrecognized page-image format")


_ZIP_ENTRY_CAP = 256 * 1024 * 1024       # per-page inflate bound


def _zip_open(blob: bytes):
    """Archival ZIP item -> (ZipFile, [ZipInfo]) with the page entries
    in lexicographic entry-name order (``recode.py:597``:
    ``sorted(glob(...))``, so the zero-padded ``_NNNN`` names define
    page position).  Directory entries and dotfiles are skipped.
    Entries are NOT inflated here — the page loop reads them one at a
    time, so resident memory is bounded by a single page regardless of
    the archive's total uncompressed size."""
    import io
    import zipfile

    from ..kernels.tiffcodec import TiffError
    try:
        zf = zipfile.ZipFile(io.BytesIO(blob))
        infos = [zi for zi in zf.infolist()
                 if not zi.is_dir()
                 and not zi.filename.rsplit("/", 1)[-1].startswith(".")]
    except zipfile.BadZipFile as exc:
        raise TiffError(f"bad imagestack zip: {exc}") from exc
    infos.sort(key=lambda zi: zi.filename)
    if not infos:
        raise TiffError("imagestack zip has no page entries")
    return zf, infos


def _zip_read(zf, zi) -> bytes:
    """Inflate ONE page entry, bounding it ahead of the codecs' own
    pixel bomb guards (a lying local header can't overrun the declared
    size: ZipExtFile truncates at ``file_size``)."""
    from ..kernels.tiffcodec import TiffError
    if zi.file_size > _ZIP_ENTRY_CAP:
        raise TiffError(
            f"zip entry {zi.filename!r} exceeds inflate cap")
    try:
        return zf.read(zi)
    except Exception as exc:  # zlib/BadZipFile on corrupt entry data
        raise TiffError(
            f"bad imagestack zip entry {zi.filename!r}: {exc}") from exc


def expand_item_pages(pages: list):
    """Shared front-door page expansion: ``pages`` =
    [(page_idx, payload)] sorted — a single ``page_idx = -1`` row is
    a WHOLE-DOCUMENT item (archival ``*_tif.zip`` or multi-page TIFF)
    and expands; per-page rows pass through.  Returns
    ``(pages, decode)`` where ``decode(payload, k) -> raster``."""
    if len(pages) == 1 and int(pages[0][0]) < 0:
        blob = bytes(pages[0][1])
        if blob[:4] == b"PK\x03\x04":
            zf, infos = _zip_open(blob)
            pages = list(enumerate(infos))
            decode = lambda zi, _k: decode_page_image(  # noqa: E731
                _zip_read(zf, zi))
        else:
            from ..kernels.registry import get_decoder
            from ..kernels.tiffcodec import tiff_page_count
            pages = [(k, blob) for k in range(tiff_page_count(blob))]
            decode = lambda b, k: get_decoder("TIFF")(  # noqa: E731
                bytes(b), page=k)
    else:
        decode = lambda b, _k: decode_page_image(     # noqa: E731
            bytes(b))
    return pages, decode


def _doc_rows(doc_id: str, pages: list, hocr) -> list[tuple]:
    """pages: [(page_idx, image bytes)] sorted by page_idx -> ordered
    (kind, text, media_ref) spans, mirroring the PDF front door's
    per-image contract (hOCR-accepted MRC text lines + one
    content-addressed media span per page)."""
    from ..kernels.mrc import create_mrc_components
    from ..sources.hocr import word_data_by_page
    from .extract import mrc_spans

    words_by_page = word_data_by_page(hocr)
    pages, decode = expand_item_pages(pages)
    spans: list[tuple] = []
    for pidx, payload in pages:   # payload: page bytes, or a ZipInfo
        words = words_by_page.get(pidx, [])
        res = create_mrc_components(decode(payload, pidx), words)
        spans.extend(mrc_spans(f"stack://{doc_id}/p{pidx}", words,
                               res.line_decisions, res.mask,
                               res.foreground, res.background))
    return spans


def _stack_error(msg: str) -> tuple:
    """The error span of a failing imagestack document."""
    return ("stack_error", msg, "")


def imagestack_to_spans(df, image_col: str = "image",
                        hocr_col: str | None = "hocr"):
    """(doc_id, page_idx, image binary[, hocr per doc]) -> (doc_id,
    spans) in the engine's output span contract.  ``hocr_col`` (when
    present) carries the document's hOCR markup on any of its rows
    (typically page 0); pages assemble in ``page_idx`` order.  A doc
    whose single row has ``page_idx = -1`` is a WHOLE-DOCUMENT blob:
    the archival ``*_tif.zip`` item (pages = lexicographic entry
    order) or a multi-page TIFF (pages = next-IFD chain order)."""
    from ..operators.extract import OUTPUT_SCHEMA_DDL

    first = [hocr_col if hocr_col in df.columns else None]
    return map_document_groups(df, image_col, first, OUTPUT_SCHEMA_DDL,
                               _doc_rows, _stack_error, spans=True)


def run_imagestack_checkpoint(spark, df, out_dir: str,
                              shards: int = 16,
                              stop_after_shards: int | None = None,
                              hocr_col: str | None = "hocr") -> dict:
    """Sharded snapshot commits for the imagestack front door: spans to
    ``<out>/spans/shard=k`` with a doc/span-count metrics row, the same
    ``checkpoint.run_sharded`` commit as PDFs."""
    from .checkpoint import run_sharded, span_count_metrics

    return run_sharded(df, out_dir, shards,
                       lambda d: imagestack_to_spans(d, hocr_col=hocr_col),
                       span_count_metrics, "spans",
                       stop_after_shards=stop_after_shards)
