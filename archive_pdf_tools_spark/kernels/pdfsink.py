"""MRC PDF sink — the reference's actual end product, written by us.

The reference engine's output is a recoded PDF: per page, a JPEG2000
background drawn first, a JPEG2000 foreground painted through a JBIG2
mask, and an invisible text layer over both (``recode.py:440-483``
inserts the streams via PyMuPDF / the ``fast_insert_image`` raw-xref
path ``pdfhacks.py:106-177``; the text layer is the Tesseract-derived
renderer ``pdfrenderer.py:209-443``).  This module assembles the SAME
document structure from the engine's own codecs and text-op kernel —
no PDF library:

* background image XObject: ``/JPXDecode`` (``kernels/jp2codec``);
* foreground image XObject: ``/JPXDecode`` with ``/SMask`` pointing
  at a 1-bit ``/JBIG2Decode`` XObject (``kernels/jbig2codec``) — the
  exact object linkage ``pdfhacks.py:159-174`` builds, so ink pixels
  (JBIG2 sample 1) are where the foreground shows;
* text layer: the byte-exact ``Tm/Td/Tf/Tz/TJ`` stream from
  ``kernels/textlayer`` under a ``GlyphLessFont``-shaped Type0 font
  (Identity-H, CIDFontType2, identity ``/ToUnicode`` CMap — the
  public Tesseract PDF-renderer structure; render mode 3 never paints
  glyphs, so the font file itself is not embedded);
* optional ``/PageLabels`` number tree on the catalog (the
  ``write_page_labels`` feature, ``pdfhacks.py:212-228``).

Only public PDF 1.5 structure is used (ISO 32000: classic xref,
pages tree, image XObjects, Type0 fonts).  Every byte written here is
readable back by the engine's own ``sources/pdf_meta.py`` — the
round-trip (mask bit-exact, fg/bg through the JP2 decoder, text-op
digest) is the test contract.

Scale shape: one document = one PDF assembled inside the per-doc
``applyInArrow`` group (``operators/recode.py``) — no driver-side
state, no cross-document coordination.
"""

from __future__ import annotations

import zlib

import numpy as np

__all__ = ["build_mrc_pdf", "MRC_FONT_NAME"]

MRC_FONT_NAME = b"f-0-0"        # the name the textlayer ops reference

# Identity /ToUnicode CMap: CIDs ARE UTF-16BE code units (the
# textlayer payload writes codepoints as UTF-16BE), so one bfrange
# covers the BMP.  Structure per ISO 32000 §9.10.3 / the public
# Tesseract renderer.
_TOUNICODE_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def
/CMapName /Adobe-Identity-UCS def
/CMapType 2 def
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
1 beginbfrange
<0000> <FFFF> <0000>
endbfrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end
"""


def _jp2_dims_of(img: np.ndarray):
    h, w = img.shape[:2]
    gray = img.ndim == 2
    return w, h, gray


def _pdf_string(s) -> bytes:
    """Text -> PDF string object: escaped literal for ASCII, else a
    UTF-16BE hex string with BOM (ISO 32000 §7.9.2.2)."""
    if isinstance(s, bytes):
        b = s
    else:
        try:
            b = str(s).encode("ascii")
        except UnicodeEncodeError:
            return (b"<FEFF" + str(s).encode("utf-16-be").hex()
                    .upper().encode("ascii") + b">")
    b = (b.replace(b"\\", b"\\\\").replace(b"(", b"\\(")
         .replace(b")", b"\\)"))
    return b"(" + b + b")"


def _xmp_packet(md: dict, created: str, producer: str) -> bytes:
    """XMP metadata stream: the reference's field set
    (``write_metadata``, ``pdfhacks.py:456-527`` — xmp dates +
    CreatorTool, pdf:Producer, dc:title/creator/language, pdfaid
    part 3 conformance B), rebuilt with stdlib escaping."""
    from xml.sax.saxutils import escape

    e = escape
    parts = ['<?xpacket begin="\ufeff" id="W5M0MpCehiHzreSzNTczkc9d"?>',
             '<x:xmpmeta xmlns:x="adobe:ns:meta/">',
             '<rdf:RDF xmlns:rdf='
             '"http://www.w3.org/1999/02/22-rdf-syntax-ns#">',
             '<rdf:Description rdf:about="" '
             'xmlns:xmp="http://ns.adobe.com/xap/1.0/">',
             f'<xmp:CreateDate>{e(created)}</xmp:CreateDate>',
             f'<xmp:MetadataDate>{e(created)}</xmp:MetadataDate>',
             f'<xmp:ModifyDate>{e(created)}</xmp:ModifyDate>',
             '<xmp:CreatorTool>'
             + e(md.get("creatortool", producer))
             + '</xmp:CreatorTool>',
             '</rdf:Description>',
             '<rdf:Description rdf:about="" '
             'xmlns:pdf="http://ns.adobe.com/pdf/1.3/">']
    if md.get("keywords"):
        parts.append(f'<pdf:Keywords>{e(md["keywords"])}'
                     '</pdf:Keywords>')
    parts += [f'<pdf:Producer>{e(producer)}</pdf:Producer>',
              '</rdf:Description>',
              '<rdf:Description rdf:about="" '
              'xmlns:dc="http://purl.org/dc/elements/1.1/">']
    if md.get("title"):
        parts.append('<dc:title><rdf:Alt>'
                     f'<rdf:li xml:lang="x-default">{e(md["title"])}'
                     '</rdf:li></rdf:Alt></dc:title>')
    if md.get("author"):
        parts.append('<dc:creator><rdf:Seq>'
                     f'<rdf:li>{e(md["author"])}</rdf:li>'
                     '</rdf:Seq></dc:creator>')
    langs = md.get("language")
    if langs:
        if isinstance(langs, str):
            langs = [langs]
        parts.append('<dc:language><rdf:Bag>'
                     + "".join(f'<rdf:li>{e(v)}</rdf:li>'
                               for v in langs)
                     + '</rdf:Bag></dc:language>')
    parts += ['</rdf:Description>',
              '<rdf:Description rdf:about="" '
              'xmlns:pdfaid="http://www.aiim.org/pdfa/ns/id/">',
              '<pdfaid:part>3</pdfaid:part>',
              '<pdfaid:conformance>B</pdfaid:conformance>',
              '</rdf:Description>',
              '</rdf:RDF>',
              '</x:xmpmeta>',
              '<?xpacket end="r"?>']
    return "\n".join(parts).encode("utf-8")


def _write_outlines(add, next_id, entries, page_oid: list[int]) -> int:
    """Outline (bookmark) tree from TOC entries [(level, title,
    page_idx)] — the ``write_pdf_toc`` feature.  Levels nest by the
    usual stack walk (an entry at level L+1 becomes a child of the
    most recent level-L entry; jumps clamp); every node destination
    is its page at default zoom.  Returns the /Outlines root id."""
    nodes = []                  # (level, title, page_idx, children[])
    stack = []                  # indices into nodes of the open chain
    roots = []
    for level, title, pidx in entries:
        level = max(1, int(level))
        pidx = min(max(int(pidx), 0), len(page_oid) - 1)
        nodes.append({"title": title, "page": pidx, "kids": []})
        idx = len(nodes) - 1
        while len(stack) >= level:
            stack.pop()
        if stack:
            nodes[stack[-1]]["kids"].append(idx)
        else:
            roots.append(idx)
        stack.append(idx)

    first_id = next_id()
    ids = [first_id + i for i in range(len(nodes))]
    root_id = first_id + len(nodes)

    def count(idx) -> int:      # open descendants (ISO 32000 §12.3.3)
        return len(nodes[idx]["kids"]) + sum(
            count(k) for k in nodes[idx]["kids"])

    def emit(idx, parent_id, siblings):
        n = nodes[idx]
        pos = siblings.index(idx)
        body = (b"<< /Title " + _pdf_string(n["title"])
                + b" /Parent " + str(parent_id).encode() + b" 0 R"
                + b" /Dest [" + str(page_oid[n["page"]]).encode()
                + b" 0 R /XYZ null null null]")
        if pos > 0:
            body += b" /Prev " + str(ids[siblings[pos - 1]]).encode() \
                + b" 0 R"
        if pos + 1 < len(siblings):
            body += b" /Next " + str(ids[siblings[pos + 1]]).encode() \
                + b" 0 R"
        if n["kids"]:
            body += (b" /First " + str(ids[n["kids"][0]]).encode()
                     + b" 0 R /Last " + str(ids[n["kids"][-1]]).encode()
                     + b" 0 R /Count " + str(count(idx)).encode())
        got = add(body + b" >>")
        assert got == ids[idx], (got, ids[idx])
        for k in n["kids"]:
            emit(k, ids[idx], n["kids"])

    for r in roots:
        emit(r, root_id, roots)
    total = len(roots) + sum(count(r) for r in roots)
    got_root = add(b"<< /Type /Outlines /First "
                   + str(ids[roots[0]]).encode() + b" 0 R /Last "
                   + str(ids[roots[-1]]).encode() + b" 0 R /Count "
                   + str(total).encode() + b" >>")
    assert got_root == root_id, (got_root, root_id)
    return root_id


def build_mrc_pdf(pages: list[dict], creator: str = "archive-pdf-"
                  "tools-spark", metadata: dict | None = None,
                  outline: list | None = None, lang: str | None = None,
                  pdfa: bool = True, ua: bool = True) -> bytes:
    """Assemble one MRC PDF — archival-grade by default:

    * ``pdfa=True``: sRGB OutputIntent with a DERIVED ICC profile
      (``kernels/iccsrgb``), an uncompressed XMP ``/Metadata`` stream
      declaring pdfaid part 3 conformance B, and a document-info
      dictionary — the ``write_pdfa`` + ``write_metadata`` features
      (``pdfhacks.py:181-209, 403-529``);
    * ``ua=True``: basic structure tree — per-page ``/Figure``
      StructElems, ``/ParentTree``, ``/StructParents``, ``/MarkInfo``,
      ``/ViewerPreferences`` (``write_basic_ua``,
      ``pdfhacks.py:240-400``);
    * ``outline``: [(level>=1, title, page_idx)] -> ``/Outlines``
      bookmark tree (``write_pdf_toc``, ``pdfhacks.py:227-238`` —
      entries come from the scandata TOC, ``sources/scandata.py``);
    * ``metadata``: title/author/subject/keywords/creatortool/created
      (ISO 8601); the default ``created`` is a FIXED timestamp so the
      output stays byte-deterministic (the pinned-md5 test contract —
      the reference stamps utcnow, a deliberate determinism deviation);
    * ``lang``: document language for ``/Lang``.

    ``pages``: one dict per page.  ``kind`` selects the page shape
    (the reference's ``--image-mode``, ``bin/recode_pdf:95-98``):

    ``kind="mrc"`` (default — IMAGE_MODE_MRC):

    * ``mask``: (h, w) bool/0-1 — the text mask (full page size);
    * ``fg`` / ``bg``: uint8 rasters (gray or RGB; may be downsampled
      relative to the mask — PDF image placement rescales);
    * ``image_format``: ``"jp2"`` (default) or ``"jpeg"`` — the
      ``--mrc-image-format`` knob: bg/fg as /JPXDecode or /DCTDecode;
    * ``mask_format``: ``"jbig2"`` (default) or ``"ccitt"`` — the
      ``--mask-compression`` knob (CCITT = pure T.6 /CCITTFaxDecode,
      /K -1);
    * ``jp2_step`` / ``jpeg_quality`` (optional): encoder quality
      (the ``--hq-pages`` / compression-flags path — smaller step or
      higher quality = better fidelity);
    * ``fg_jp2`` / ``bg_jp2`` / ``mask_jbig2`` (optional, jp2/jbig2
      formats only): already-encoded streams (skips the encoders); a
      supplied ``mask_jbig2`` must already carry SMASK POLARITY
      (ink = JBIG2 bit 0, see below);

    ``kind="image"`` (IMAGE_MODE_PIXMAP / PASSTHROUGH):

    * ``image``: uint8 raster re-encoded per ``image_format`` —
      the pixmap mode; or
    * ``raw``: dict ``{data, w, h, gray, filter, bpc[, parms]}`` — an
      already-PDF-embeddable stream inserted verbatim (the
      fast_insert_image path, ``pdfhacks.py:106-177``): passthrough;

    ``kind="text"`` (IMAGE_MODE_SKIP):

    * ``size``: (w, h) pixels — the page box; no image XObjects.

    Common keys:

    * ``text_ops`` (optional): the textlayer op stream bytes;
    * ``ppi`` (default 72): pixels per inch — MediaBox scales to
      points.

    Optional top-level keys on the FIRST page dict:

    * ``page_labels``: pre-rendered ``/PageLabels`` dictionary bytes
      (e.g. from ``page_labels_pdf``).
    """
    # encoder seam (round 8): the sink's JP2/JBIG2 streams go through
    # the registry, so a contract-verified native encoder swap
    # (kernels/registry.py::register_encoder — the sink-side analogue
    # of the decode swap) changes THIS call site without touching the
    # Spark plan.  Built-ins by default; byte-identical output.
    from .registry import get_encoder
    encode_jp2 = get_encoder("JPEG2000")
    encode_jbig2 = get_encoder("JBIG2")
    encode_jpeg = get_encoder("JPEG")
    encode_ccitt = get_encoder("CCITT")

    if not pages:
        raise ValueError("build_mrc_pdf needs at least one page")

    objects: list[bytes] = []

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    def stream_obj(dict_head: bytes, data: bytes) -> int:
        return add(dict_head + b" /Length " + str(len(data)).encode()
                   + b" >>\nstream\n" + data + b"\nendstream")

    # ---- font chain (one per document; ops reference /f-0-0) ----
    tounicode_id = stream_obj(b"<<", _TOUNICODE_CMAP)
    desc_id = add(b"<< /Type /FontDescriptor /FontName /GlyphLessFont"
                  b" /Flags 5 /ItalicAngle 0 /Ascent 1000 /Descent -1"
                  b" /CapHeight 1000 /StemV 80"
                  b" /FontBBox [0 0 500 1000] >>")
    cidfont_id = add(b"<< /Type /Font /Subtype /CIDFontType2"
                     b" /BaseFont /GlyphLessFont /CIDToGIDMap /Identity"
                     b" /CIDSystemInfo << /Registry (Adobe)"
                     b" /Ordering (Identity) /Supplement 0 >>"
                     b" /FontDescriptor " + str(desc_id).encode()
                     + b" 0 R /DW 500 >>")
    font_id = add(b"<< /Type /Font /Subtype /Type0"
                  b" /BaseFont /GlyphLessFont /Encoding /Identity-H"
                  b" /DescendantFonts [" + str(cidfont_id).encode()
                  + b" 0 R] /ToUnicode " + str(tounicode_id).encode()
                  + b" 0 R >>")

    def image_obj(data: bytes, w: int, h: int, gray: bool,
                  filt: bytes, bpc: int,
                  smask: int | None = None,
                  parms: bytes | None = None) -> int:
        cs = b"/DeviceGray" if gray else b"/DeviceRGB"
        head = (b"<< /Type /XObject /Subtype /Image /Width "
                + str(w).encode() + b" /Height " + str(h).encode()
                + b" /ColorSpace " + cs + b" /BitsPerComponent "
                + str(bpc).encode() + b" /Filter " + filt
                + (b" /DecodeParms " + parms if parms else b"")
                + (b" /SMask " + str(smask).encode() + b" 0 R"
                   if smask else b""))
        return stream_obj(head, data)

    def cm(v: float) -> bytes:
        return (b"%.4f" % v).rstrip(b"0").rstrip(b".")

    def encode_raster(img: np.ndarray, fmt: str, *, step=None,
                      quality=None):
        """(stream bytes, /Filter name) for a continuous-tone raster
        under the chosen --mrc-image-format."""
        if fmt == "jpeg":
            data = (encode_jpeg(img, quality=quality)
                    if quality is not None else encode_jpeg(img))
            return data, b"/DCTDecode"
        if fmt != "jp2":
            raise ValueError(f"unknown image format {fmt!r}")
        data = (encode_jp2(img, irreversible=True, step=step)
                if step is not None
                else encode_jp2(img, irreversible=True))
        return data, b"/JPXDecode"

    pending = []
    page_links: dict[int, list] = {}
    for page in pages:
        kind = page.get("kind", "mrc")
        ppi = float(page.get("ppi", 72.0))
        text_ops = (bytes(page["text_ops"])
                    if page.get("text_ops") else None)

        if kind == "text":
            # --image-mode 3 (IMAGE_MODE_SKIP): text layer only, no
            # image XObjects — the text-only sink as a page shape.
            # ``links``: [(uri, (llx, lly, urx, ury))] -> /Link URI
            # annotations (the epub-to-pdf front door's external
            # links; annotation objects are emitted just before the
            # page objects below).
            pw, ph = page["size"]
            W, H = pw * 72.0 / ppi, ph * 72.0 / ppi
            ops = [text_ops] if text_ops else [b""]
            content = zlib.compress(b"\n".join(ops), 6)
            content_id = stream_obj(b"<< /Filter /FlateDecode", content)
            if page.get("links"):
                page_links[len(pending)] = list(page["links"])
            pending.append((W, H, [], content_id))
            continue

        if kind == "image":
            # --image-mode 1 (PIXMAP: ``image`` raster re-encoded) or
            # 0 (PASSTHROUGH: ``raw`` = already-PDF-embeddable stream
            # inserted verbatim — the fast_insert_image raw-xref path,
            # pdfhacks.py:106-177).
            raw = page.get("raw")
            if raw is not None:
                iw, ih = int(raw["w"]), int(raw["h"])
                img_id = image_obj(
                    raw["data"], iw, ih, bool(raw.get("gray", True)),
                    b"/" + raw["filter"].encode("ascii"),
                    int(raw.get("bpc", 8)),
                    parms=raw.get("parms"))
            else:
                img = np.asarray(page["image"])
                iw, ih, igray = _jp2_dims_of(img)
                data, filt = encode_raster(
                    img, page.get("image_format", "jp2"),
                    step=page.get("jp2_step"),
                    quality=page.get("jpeg_quality"))
                img_id = image_obj(data, iw, ih, igray, filt, 8)
            W, H = iw * 72.0 / ppi, ih * 72.0 / ppi
            ops = [b"q " + cm(W) + b" 0 0 " + cm(H)
                   + b" 0 0 cm /Im0 Do Q"]
            if text_ops:
                ops.append(text_ops)
            content = zlib.compress(b"\n".join(ops), 6)
            content_id = stream_obj(b"<< /Filter /FlateDecode", content)
            pending.append((W, H, [img_id], content_id))
            continue

        if kind != "mrc":
            raise ValueError(f"unknown page kind {kind!r}")

        mask = np.asarray(page["mask"])
        if mask.ndim != 2:
            raise ValueError("mask must be 2-D")
        ph, pw = mask.shape
        W = pw * 72.0 / ppi
        H = ph * 72.0 / ppi
        img_fmt = page.get("image_format", "jp2")
        jp2_step = page.get("jp2_step")
        jpeg_q = page.get("jpeg_quality")

        bg = page["bg"]
        fg = page["fg"]
        # Explicit None checks: a supplied-but-empty stream (b"") is a
        # caller bug and must surface, not silently re-encode.  The
        # pre-encoded keys are JP2-only (their historical contract).
        bg_jp2 = page.get("bg_jp2")
        fg_jp2 = page.get("fg_jp2")
        if img_fmt == "jp2" and bg_jp2 is not None:
            if not bg_jp2:
                raise ValueError("empty bg_jp2 stream supplied")
            bg_data, bg_filt = bg_jp2, b"/JPXDecode"
        else:
            if jp2_step is not None and img_fmt == "jp2":
                bg_data, bg_filt = encode_raster(
                    np.asarray(bg), img_fmt, step=jp2_step)
            else:
                bg_data, bg_filt = encode_raster(
                    np.asarray(bg), img_fmt, quality=jpeg_q)
        if img_fmt == "jp2" and fg_jp2 is not None:
            if not fg_jp2:
                raise ValueError("empty fg_jp2 stream supplied")
            fg_data, fg_filt = fg_jp2, b"/JPXDecode"
        else:
            if jp2_step is not None and img_fmt == "jp2":
                fg_data, fg_filt = encode_raster(
                    np.asarray(fg), img_fmt, step=jp2_step)
            else:
                fg_data, fg_filt = encode_raster(
                    np.asarray(fg), img_fmt, quality=jpeg_q)
        # SMask polarity: viewers map JBIG2 bit 1 (black) to gray
        # sample 0 = alpha 0, so the TEXT pixels must be encoded as
        # bit 0 for the foreground to paint at ink.  The reference
        # gets this implicitly (its mask PNG renders text WHITE and
        # jbig2enc encodes black as 1, mrc.py:493-499 +
        # pdfhacks.py:60-68 — no /Decode override in its dict);
        # we encode the inverted mask for the same wire polarity.
        # CCITT G4 (--mask-compression ccitt) shares it exactly:
        # /BlackIs1 false (default) maps black runs to sample 0, so
        # the same inverted bitmap gives the same alpha wire sense.
        mask_fmt = page.get("mask_format", "jbig2")
        mask_jbig2 = page.get("mask_jbig2")
        mask_parms = None
        if mask_fmt == "ccitt":
            if mask_jbig2 is not None:
                raise ValueError("mask_jbig2 supplied with ccitt mask")
            mask_data = encode_ccitt((mask == 0).astype(np.uint8))
            mask_filt = b"/CCITTFaxDecode"
            mask_parms = (b"<< /K -1 /Columns " + str(pw).encode()
                          + b" /Rows " + str(ph).encode() + b" >>")
        elif mask_fmt == "jbig2":
            if mask_jbig2 is None:
                mask_jbig2 = encode_jbig2((mask == 0).astype(np.uint8))
            elif not mask_jbig2:
                raise ValueError("empty mask_jbig2 stream supplied")
            mask_data, mask_filt = mask_jbig2, b"/JBIG2Decode"
        else:
            raise ValueError(f"unknown mask format {mask_fmt!r}")

        bw, bh, bgray = _jp2_dims_of(np.asarray(bg))
        fw, fh, fgray = _jp2_dims_of(np.asarray(fg))
        mask_id = image_obj(mask_data, pw, ph, True,
                            mask_filt, 1, parms=mask_parms)
        bg_id = image_obj(bg_data, bw, bh, bgray, bg_filt, 8)
        fg_id = image_obj(fg_data, fw, fh, fgray, fg_filt, 8,
                          smask=mask_id)

        ops = [b"q " + cm(W) + b" 0 0 " + cm(H) + b" 0 0 cm /Im0 Do Q",
               b"q " + cm(W) + b" 0 0 " + cm(H) + b" 0 0 cm /Im1 Do Q"]
        if text_ops:
            ops.append(text_ops)
        content = zlib.compress(b"\n".join(ops), 6)
        content_id = stream_obj(b"<< /Filter /FlateDecode", content)
        pending.append((W, H, [bg_id, fg_id], content_id))

    # /Link URI annotation objects (text pages' ``links``) — emitted
    # before the page objects so the pages can reference them
    annots_by_page: dict[int, list[int]] = {}
    for idx, links in page_links.items():
        ids = []
        for uri, rect in links:
            # rb"\\" is TWO bytes on the wire (one escaped backslash);
            # the old rb"\\\\" wrote four, so a URI backslash read back
            # as two (r9 ADVICE; pdfgen.py:343 had it right).
            u = (uri.encode("ascii", "replace")
                 .replace(b"\\", rb"\\")
                 .replace(b"(", rb"\(").replace(b")", rb"\)"))
            ids.append(add(
                b"<< /Type /Annot /Subtype /Link /Rect ["
                + b" ".join(b"%.2f" % float(v) for v in rect)
                + b"] /Border [0 0 0] /A << /Type /Action /S /URI"
                  b" /URI (" + u + b") >> >>"))
        annots_by_page[idx] = ids

    page_ids_start = len(objects) + 1
    tree_id = page_ids_start + len(pending)
    for k, (W, H, xobj_ids, content_id) in enumerate(pending):
        # /StructParents + /Tabs + explicit /CropBox//Rotate are the
        # basic-UA page keys (write_basic_ua, pdfhacks.py:355-374).
        xobj = b""
        if xobj_ids:
            xobj = (b"/XObject << "
                    + b" ".join(b"/Im%d %d 0 R" % (n, oid)
                                for n, oid in enumerate(xobj_ids))
                    + b" >> ")
        annots = b""
        if annots_by_page.get(k):
            annots = (b" /Annots ["
                      + b" ".join(b"%d 0 R" % a
                                  for a in annots_by_page[k]) + b"]")
        add(b"<< /Type /Page /Parent " + str(tree_id).encode()
            + b" 0 R /MediaBox [0 0 " + (b"%.4f %.4f" % (W, H))
            + b"] /CropBox [0 0 " + (b"%.4f %.4f" % (W, H))
            + b"] /Rotate 0 /Tabs /S /StructParents "
            + str(k).encode()
            + annots
            + b" /Resources << " + xobj + b"/Font << /"
            + MRC_FONT_NAME + b" " + str(font_id).encode()
            + b" 0 R >> >> /Contents " + str(content_id).encode()
            + b" 0 R >>")
    kids = b" ".join(b"%d 0 R" % (page_ids_start + k)
                     for k in range(len(pending)))
    got_tree = add(b"<< /Type /Pages /Kids [" + kids + b"] /Count "
                   + str(len(pending)).encode() + b" >>")
    assert got_tree == tree_id
    page_oid = [page_ids_start + k for k in range(len(pending))]

    catalog_extra = b""

    # ---- PDF/A finalization (write_pdfa, pdfhacks.py:181-209) ----
    # sRGB OutputIntent with a DERIVED ICC profile (kernels/iccsrgb),
    # uncompressed XMP /Metadata (PDF/A requires it filter-free), and
    # the document-information dictionary.  Deterministic timestamps
    # by default (the pinned-md5 test contract; the reference stamps
    # utcnow — production callers pass real time via ``metadata``).
    md = dict(metadata or {})
    created = md.get("created", "2020-01-01T00:00:00Z")
    pdf_date = (b"D:" + created.replace("-", "").replace(":", "")
                .replace("T", "").encode("ascii"))
    if pdfa:
        from .iccsrgb import srgb_icc_profile
        icc_id = stream_obj(b"<< /N 3 /Alternate /DeviceRGB",
                            srgb_icc_profile())
        intent_id = add(b"<< /Type /OutputIntent /S /GTS_PDFA1"
                        b" /OutputConditionIdentifier (Custom)"
                        b" /Info (sRGB IEC61966-2.1)"
                        b" /DestOutputProfile "
                        + str(icc_id).encode() + b" 0 R >>")
        catalog_extra += (b" /OutputIntents [" + str(intent_id).encode()
                          + b" 0 R]")
        xmp_id = stream_obj(
            b"<< /Type /Metadata /Subtype /XML",
            _xmp_packet(md, created, creator))
        catalog_extra += b" /Metadata " + str(xmp_id).encode() + b" 0 R"

    # ---- basic UA structure tree (write_basic_ua, pdfhacks:240+) ----
    # One /Figure StructElem per page (the MRC image is the page's
    # content), a /ParentTree number tree chunked <=32 entries per kid
    # node, /MarkInfo and /ViewerPreferences on the catalog.  The
    # ParentTree maps each page's /StructParents to [the StructElem]
    # — the ISO 32000 §14.7.4.4 shape (deliberate fix of the
    # reference's linkage, which points the Nums entries at the
    # attribute objects instead of the elements).
    if ua:
        attr_ids, elem_ids, nums_ids = [], [], []
        # forward reference: the root lands after 3 objects per page
        # (attr, elem, nums array), the <=32-entry kid nodes, and the
        # ParentTree node
        struct_root_id_ref = (len(objects) + 3 * len(pending)
                              + -(-len(pending) // 32) + 2)
        for k, (W, H, *_rest) in enumerate(pending):
            attr_ids.append(add(
                b"<< /O /Layout /Placement /Block /InlineAlign /Center"
                b" /BBox [0 0 " + (b"%.4f %.4f" % (W, H)) + b"] >>"))
            elem_ids.append(add(
                b"<< /Type /StructElem /S /Figure /K 0 /A "
                + str(attr_ids[-1]).encode() + b" 0 R /P "
                + str(struct_root_id_ref).encode() + b" 0 R /Pg "
                + str(page_oid[k]).encode() + b" 0 R >>"))
            nums_ids.append(add(b"[" + str(elem_ids[-1]).encode()
                                + b" 0 R]"))
        kid_ids = []
        for c in range(0, len(pending), 32):
            chunk = range(c, min(c + 32, len(pending)))
            kid_ids.append(add(
                b"<< /Limits [" + str(chunk[0]).encode() + b" "
                + str(chunk[-1]).encode() + b"] /Nums ["
                + b" ".join(b"%d %d 0 R" % (k, nums_ids[k])
                            for k in chunk) + b"] >>"))
        ptree_id = add(b"<< /Kids [" + b" ".join(
            b"%d 0 R" % i for i in kid_ids) + b"] >>")
        struct_root_id = add(
            b"<< /Type /StructTreeRoot /ParentTree "
            + str(ptree_id).encode() + b" 0 R /ParentTreeNextKey "
            + str(len(pending)).encode() + b" /K ["
            + b" ".join(b"%d 0 R" % i for i in elem_ids) + b"] >>")
        assert struct_root_id == struct_root_id_ref, \
            (struct_root_id, struct_root_id_ref)
        catalog_extra += (b" /StructTreeRoot " + str(struct_root_id)
                          .encode() + b" 0 R"
                          b" /MarkInfo << /Marked true >>"
                          b" /ViewerPreferences << /FitWindow true"
                          b" /DisplayDocTitle true >>")
        if lang:
            catalog_extra += (b" /Lang " + _pdf_string(lang))

    # ---- TOC outlines (write_pdf_toc, pdfhacks.py:227-238) ----
    if outline:
        outlines_id = _write_outlines(add, lambda: len(objects) + 1,
                                      outline, page_oid)
        catalog_extra += (b" /Outlines " + str(outlines_id).encode()
                          + b" 0 R")

    # ---- document information dictionary ----
    info_id = None
    info = b""
    for key, name in ((b"/Title", "title"), (b"/Author", "author"),
                      (b"/Subject", "subject"),
                      (b"/Keywords", "keywords")):
        if md.get(name):
            info += b" " + key + b" " + _pdf_string(md[name])
    info += (b" /Creator " + _pdf_string(md.get("creatortool", creator))
             + b" /Producer " + _pdf_string(creator)
             + b" /CreationDate (" + pdf_date + b")"
             + b" /ModDate (" + pdf_date + b")")
    info_id = add(b"<<" + info + b" >>")

    labels = pages[0].get("page_labels")
    catalog_id = add(b"<< /Type /Catalog /Pages " + str(tree_id).encode()
                     + b" 0 R"
                     + ((b" /PageLabels " + labels) if labels else b"")
                     + catalog_extra
                     + b" >>")

    out = bytearray(b"%PDF-1.5\n%\xde\xad\xbe\xef\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_pos = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root %d 0 R /Info %d 0 R >>\n"
            b"startxref\n%d\n"
            b"%%%%EOF\n" % (len(objects) + 1, catalog_id, info_id,
                            xref_pos))
    return bytes(out)


def page_labels_pdf(series: list) -> bytes:
    """Page-number series -> ``/PageLabels`` dictionary bytes (the
    ``write_page_labels`` feature, ``pdfhacks.py:212-228`` /
    ``series_to_pdf``): runs of decimal numbering become
    ``/S /D /St`` entries in a ``/Nums`` number tree; unnumbered runs
    get bare empty-prefix entries.

    ``series``: the per-page parsed numbers (ints or None), e.g. from
    ``kernels/pagenumbers.parse_series``."""
    nums: list[bytes] = []
    k = 0
    n = len(series)
    while k < n:
        v = series[k]
        if v is None:
            nums.append(b"%d << >>" % k)
            k += 1
            while k < n and series[k] is None:
                k += 1
            continue
        start = k
        expect = int(v)
        while k < n and series[k] is not None \
                and int(series[k]) == expect:
            k += 1
            expect += 1
        nums.append(b"%d << /S /D /St %d >>" % (start, int(v)))
    return b"<< /Nums [" + b" ".join(nums) + b"] >>"
