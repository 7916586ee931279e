"""PDF byte-stream structural parsing (S2/S3).

Re-derives the observable output of the reference's ``bin/pdf-metadata-json
analyse()`` (``:260-407``) and its page/image scan (``recode.py:316-332``)
without PyMuPDF: a small pure-Python PDF reader (xref table + trailer,
object fetch, /Pages tree walk) feeding per-page metadata:

* page rect (MediaBox), rotation,
* image XObjects: xref (object id), width/height, bits, colour mode
  (filter->format map, C21: ``bin/pdf-metadata-json:169-190``),
* text-layer presence (content stream contains Tj/TJ ops —
  ``bin/pdf-metadata-json``'s ``page.get_text`` probe),
* per-doc folds: recommended stack format (A8 precedence RGB > gray >
  bitonal, ``:223-257``) and scale estimate (A9 max image/bbox ratio with
  300/72 default and 10000 px clamp, ``:192-220, 354-366``).

Scope: both cross-reference forms of ISO 32000-1 — classic xref tables
(§7.5.4) and PDF 1.5 cross-reference streams (§7.5.8) with /Prev chains,
PNG/TIFF predictors (§7.4.4.4), and /ObjStm object streams (§7.5.7) — so
both the classic and modern fixture shapes parse to identical output.
Codec-filtered image payloads decode natively where the kernels
support them (DCT round 4, JPX round 5, JBIG2 + CCITT G4 round 6);
the residual families stay metadata-only via each codec's header
probe.

Spark surface: ``pdf_metadata(df)`` maps ``(doc_id, pdf binary)`` rows to
per-page metadata rows via ``mapInArrow`` (1->N, UDTF-shaped — SURVEY
§2.8), keeping the raw bytes out of any shuffle.
"""

from __future__ import annotations

import re
import zlib

from ..pyworker import map_documents

__all__ = ["parse_pdf", "pdf_metadata", "PDF_META_SCHEMA_DDL"]

_FILTER_FORMAT = {                     # C21 filter->format map
    b"/JPXDecode": "JPEG2000",
    b"/DCTDecode": "JPEG",
    b"/JBIG2Decode": "JBIG2",
    b"/CCITTFaxDecode": "CCITT",
    b"/FlateDecode": "FLATE",
}

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj")


class PdfError(ValueError):
    pass


def _find_trailer(data: bytes):
    tail = data[-2048:]
    m = list(re.finditer(rb"startxref\s+(\d+)", tail))
    if not m:
        raise PdfError("no startxref")
    return int(m[-1].group(1))


def _png_unpredict(raw: bytes, predictor: int, row_len: int) -> bytes:
    """Undo stream predictors (ISO 32000-1 §7.4.4.4).  Predictor 2
    (TIFF) and 10-15 (PNG None/Sub/Up/Average/Paeth, colors=1 bpc=8 —
    the xref-stream case) are supported."""
    if predictor < 2:
        return raw
    if predictor == 2:                      # TIFF horizontal differencing
        out = bytearray(raw)
        for r in range(0, len(out), row_len):
            for i in range(r + 1, min(r + row_len, len(out))):
                out[i] = (out[i] + out[i - 1]) & 0xFF
        return bytes(out)
    stride = row_len + 1                    # PNG: one filter byte per row
    out = bytearray()
    prev = bytearray(row_len)
    for r in range(0, len(raw), stride):
        ftype = raw[r]
        row = bytearray(raw[r + 1:r + stride])
        for i in range(len(row)):
            left = row[i - 1] if i else 0
            up = prev[i]
            if ftype == 1:
                row[i] = (row[i] + left) & 0xFF
            elif ftype == 2:
                row[i] = (row[i] + up) & 0xFF
            elif ftype == 3:
                row[i] = (row[i] + ((left + up) >> 1)) & 0xFF
            elif ftype == 4:                # Paeth
                ul = prev[i - 1] if i else 0
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else \
                    (up if pb <= pc else ul)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


class _Reader:
    """Cross-reference resolver: walks the startxref chain (classic
    tables and 1.5 xref streams, /Prev and hybrid /XRefStm links),
    resolving each object id to a byte offset or an object-stream slot.
    Newest sections win (incremental-update semantics)."""

    def __init__(self, data: bytes, password: bytes | str = b""):
        self.data = data
        self.password = password
        # oid -> (1, byte offset) | (2, objstm oid, index inside it)
        self.entries: dict[int, tuple] = {}
        self.trailers: list[bytes] = []
        self._objstm_cache: dict[int, dict[int, bytes]] = {}
        pos = _find_trailer(data)
        seen: set[int] = set()
        while pos is not None and 0 <= pos < len(data) and pos not in seen:
            seen.add(pos)
            pos = self._load_section(pos)
        self.crypt = None
        self._init_crypt()

    def _init_crypt(self):
        """Standard security handler (§7.6): when the trailer names an
        /Encrypt dictionary, derive the file key (for the empty user
        password by default, or the caller-supplied user/owner
        ``password``) so every stream fetch decrypts transparently —
        the capability the reference gets from PyMuPDF's crypto layer
        (``fitz.Document.authenticate``).
        Password-rejected or out-of-scope handlers raise ``PdfError``
        (callers degrade to the per-doc error row)."""
        enc_oid = None
        enc_direct = None
        id0 = b""
        for t in self.trailers:
            if enc_oid is None and enc_direct is None:
                enc_oid = _get_ref(t, b"/Encrypt")
                if enc_oid is None:
                    md = re.search(rb"/Encrypt\s*<<", t)
                    if md:                   # direct dictionary form
                        enc_direct = _dict_region(t[md.end() - 2:])
            if not id0:
                m = re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>", t)
                if m:
                    id0 = bytes.fromhex(
                        m.group(1).decode("ascii").strip())
                else:                        # literal-string /ID form
                    m = re.search(rb"/ID\s*\[\s*\(", t)
                    if m:
                        id0, _e = _parse_literal_string(t, m.end() - 1)
        if enc_direct is not None:
            d = enc_direct
        elif enc_oid is not None and self.has(enc_oid):
            _body, d = self.obj(enc_oid)
        else:
            return
        if b"/Standard" not in d:
            raise PdfError("unsupported security handler")
        v = _get_int(d, b"/V") or 0
        mstmf = re.search(rb"/StmF\s*/(\w+)", d)
        if mstmf and mstmf.group(1) == b"Identity":
            return                           # streams not encrypted
        if v >= 4 and mstmf is None:
            # ISO 32000-1 Table 25: /StmF defaults to Identity —
            # streams are NOT encrypted unless the filter is named
            return
        mcfm = re.search(rb"/CFM\s*/(\w+)", d)
        cfm = mcfm.group(1).decode("ascii") if mcfm else None
        # top-level /Length is in BITS (40-256); a nested crypt-filter
        # /Length is in BYTES — take the first bit-plausible match,
        # else the version's default key size
        length_bits = None
        for ml in re.finditer(rb"/Length\s+(\d+)", d):
            val = int(ml.group(1))
            if val >= 40 and val % 8 == 0:
                length_bits = val
                break
        if length_bits is None:
            length_bits = {4: 128, 5: 256}.get(v, 40)
        if cfm == "AESV2":
            length_bits = 128                # fixed per ISO 32000-1
        from ..kernels.pdfcrypt import PdfCryptError, StdSecurityHandler
        try:
            self.crypt = StdSecurityHandler(
                v=v,
                r=_get_int(d, b"/R") or 0,
                length_bits=length_bits,
                p=_get_int(d, b"/P") or -1,
                o=_crypt_string(d, b"/O"),
                u=_crypt_string(d, b"/U"),
                id0=id0,
                encrypt_metadata=not re.search(
                    rb"/EncryptMetadata\s+false", d),
                oe=_crypt_string(d, b"/OE"),
                ue=_crypt_string(d, b"/UE"),
                cfm=cfm,
                password=self.password)
        except PdfCryptError as exc:
            raise PdfError(f"encrypted PDF: {exc}") from exc

    def _decrypter(self, oid: int):
        """Per-object decrypt callable for ``_stream_data``, or None
        when the file is unencrypted."""
        if self.crypt is None:
            return None
        e = self.entries.get(oid)
        gen = e[2] if e and e[0] == 1 and len(e) > 2 else 0
        return lambda raw: self.crypt.decrypt(raw, oid, gen)

    # -- section loading ---------------------------------------------
    def _load_section(self, pos: int):
        if self.data[pos:pos + 4] == b"xref":
            return self._load_table(pos)
        return self._load_xref_stream(pos)

    def _load_table(self, pos: int):
        data = self.data
        # The trailer is read FIRST: in a hybrid-reference file the
        # /XRefStm stream's entries take precedence over this table's
        # own rows (ISO 32000-1 §7.5.8.4 — the table marks objstm-
        # resident objects free for pre-1.5 readers), so the stream
        # section must load before the table's free tombstones are
        # recorded.  The fixed-format table rows cannot contain the
        # keyword, so find() from pos is safe.
        tpos = data.find(b"trailer", pos)
        trailer = _dict_region(data[tpos:tpos + 4096]) if tpos >= 0 else b""
        hybrid = _get_int(trailer, b"/XRefStm")
        if hybrid is not None:
            self._load_section(hybrid)
        cur = pos + 4
        while True:
            m = re.match(rb"\s*(\d+)\s+(\d+)\s*", data[cur:cur + 64])
            if not m:
                break
            start, count = int(m.group(1)), int(m.group(2))
            cur += m.end()
            for i in range(count):
                entry = data[cur:cur + 20]
                if entry[17:18] == b"n":
                    self.entries.setdefault(
                        start + i,
                        (1, int(entry[0:10]), int(entry[11:16])))
                else:
                    # Free entries are tombstones: a newer section freeing
                    # an object must shadow an OLDER section's in-use
                    # entry (newest-section-wins), so record type 0 too.
                    self.entries.setdefault(start + i, (0,))
                cur += 20
        self.trailers.append(trailer)
        return _get_int(trailer, b"/Prev")

    def _load_xref_stream(self, pos: int):
        body = _object_body(self.data, pos)
        d = _dict_region(body)
        if b"/XRef" not in d:
            raise PdfError("startxref points at neither table nor /XRef")
        w = re.search(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]", d)
        if not w:
            raise PdfError("xref stream without /W")
        w1, w2, w3 = (int(w.group(i)) for i in (1, 2, 3))
        size = _get_int(d, b"/Size") or 0
        idx = re.search(rb"/Index\s*\[([\d\s]+)\]", d)
        nums = [int(v) for v in idx.group(1).split()] if idx else [0, size]
        raw = _stream_data(body, d)
        pred = re.search(rb"/Predictor\s+(\d+)", d)
        if pred:
            raw = _png_unpredict(raw, int(pred.group(1)), w1 + w2 + w3)
        row = w1 + w2 + w3
        fields = []
        for r in range(0, len(raw) - row + 1, row):
            chunk = raw[r:r + row]
            t = int.from_bytes(chunk[:w1], "big") if w1 else 1
            a = int.from_bytes(chunk[w1:w1 + w2], "big")
            b = int.from_bytes(chunk[w1 + w2:row], "big")
            fields.append((t, a, b))
        fi = 0
        for j in range(0, len(nums) - 1, 2):
            start, count = nums[j], nums[j + 1]
            for i in range(count):
                if fi >= len(fields):
                    break
                t, a, b = fields[fi]
                fi += 1
                if t == 1:
                    self.entries.setdefault(start + i, (1, a, b))
                elif t == 2:
                    self.entries.setdefault(start + i, (2, a, b))
                else:                        # type-0 free = tombstone
                    self.entries.setdefault(start + i, (0,))
        self.trailers.append(d)
        return _get_int(d, b"/Prev")

    # -- object access ------------------------------------------------
    def root_id(self):
        for t in self.trailers:
            rid = _get_ref(t, b"/Root")
            if rid is not None:
                return rid
        return None

    def has(self, oid: int) -> bool:
        e = self.entries.get(oid)
        return e is not None and e[0] != 0

    def _objstm(self, stm_oid: int) -> dict[int, bytes]:
        cached = self._objstm_cache.get(stm_oid)
        if cached is not None:
            return cached
        body = self.body(stm_oid)
        d = _dict_region(body)
        payload = _stream_data(body, d, self._decrypter(stm_oid))
        n = _get_int(d, b"/N") or 0
        first = _get_int(d, b"/First") or 0
        header = payload[:first].split()
        slots: dict[int, bytes] = {}
        pairs = [(int(header[2 * i]), int(header[2 * i + 1]))
                 for i in range(min(n, len(header) // 2))]
        for i, (objnum, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < len(pairs) else \
                len(payload) - first
            slots[objnum] = payload[first + off:first + end]
        self._objstm_cache[stm_oid] = slots
        return slots

    def body(self, oid: int) -> bytes:
        e = self.entries.get(oid)
        if e is None or e[0] == 0:           # absent or freed (tombstone)
            raise PdfError(f"object {oid} not in xref")
        if e[0] == 1:
            return _object_body(self.data, e[1])
        slots = self._objstm(e[1])
        if oid not in slots:
            raise PdfError(f"object {oid} missing from /ObjStm {e[1]}")
        return slots[oid]

    def obj(self, oid: int):
        body = self.body(oid)
        return body, _dict_region(body)


def _object_body(data: bytes, offset: int) -> bytes:
    m = _OBJ_RE.match(data, offset) or _OBJ_RE.search(
        data, max(0, offset - 32), offset + 64)
    if m is None:
        raise PdfError("object header not found at xref offset")
    start = m.end()
    end = data.find(b"endobj", start)
    return data[start:end]


def _dict_region(body: bytes) -> bytes:
    """The top-level << ... >> dictionary of an object body."""
    start = body.find(b"<<")
    if start < 0:
        return b""
    depth = 0
    i = start
    while i < len(body) - 1:
        pair = body[i:i + 2]
        if pair == b"<<":
            depth += 1
            i += 2
        elif pair == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return body[start:i]
        else:
            i += 1
    return body[start:]


def _get_int(d: bytes, key: bytes):
    m = re.search(re.escape(key) + rb"\s+(-?\d+)", d)
    return int(m.group(1)) if m else None


def _get_ref(d: bytes, key: bytes):
    m = re.search(re.escape(key) + rb"\s+(\d+)\s+\d+\s+R", d)
    return int(m.group(1)) if m else None


def _get_refs_array(d: bytes, key: bytes):
    m = re.search(re.escape(key) + rb"\s*\[(.*?)\]", d, re.S)
    if not m:
        return []
    return [int(g) for g in re.findall(rb"(\d+)\s+\d+\s+R", m.group(1))]


def _get_refs_array_or_ref(rd, d: bytes, key: bytes):
    """``key [refs...]`` inline, or ``key N 0 R`` where object N is
    the array (the /Annots wire shapes)."""
    m = re.search(re.escape(key) + rb"\s+(\d+)\s+\d+\s+R", d)
    if m:
        oid = int(m.group(1))
        if not rd.has(oid):
            return []
        return [int(g) for g in
                re.findall(rb"(\d+)\s+\d+\s+R", rd.body(oid))]
    return _get_refs_array(d, key)


def _string_value(rd, d: bytes, key: bytes, oid: int):
    """The PDF string after ``key`` in dict region ``d`` (literal or
    hex form), decrypted through the document's handler when the
    owning object ``oid`` is a top-level (type-1) object of an
    encrypted file (objstm residents arrive plaintext with their
    container).  Returns str or None."""
    m = re.search(re.escape(key) + rb"\s*(\(|<)", d)
    if not m:
        return None
    i = m.end() - 1
    if d[i:i + 1] == b"(":
        raw, _end = _parse_literal_string(d, i)
    else:
        j = d.find(b">", i)
        hx = re.sub(rb"\s", b"", d[i + 1:j if j > 0 else len(d)])
        if len(hx) % 2:
            hx += b"0"
        try:
            raw = bytes.fromhex(hx.decode("ascii"))
        except ValueError:
            return None
    e = rd.entries.get(oid)
    if rd.crypt is not None and e and e[0] == 1:
        raw = rd.crypt.decrypt(raw, oid, e[2] if len(e) > 2 else 0)
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("utf-8", "replace")


def _page_links(rd, page_dict: bytes) -> list[dict]:
    """S3 hyperlink capture — the one ``analyse()`` field previously
    missing (``bin/pdf-metadata-json:367-380``, the ``hyperlinks``
    list): /Link annotations whose action is /S /URI, as
    [{uri, xref, bbox}].  ``bbox`` is the annotation /Rect exactly as
    stored ([llx lly urx ury], PDF user space, y up); the reference
    reports the same box after PyMuPDF's top-left-origin flip — a
    documented axis convention, not a different rectangle.  /A and the
    /Annots array may each be inline or indirect."""
    links = []
    for aid in _get_refs_array_or_ref(rd, page_dict, b"/Annots"):
        if not rd.has(aid):
            continue
        _abody, ad = rd.obj(aid)
        if not re.search(rb"/Subtype\s*/Link\b", ad):
            continue
        act, act_oid = ad, aid
        a_ref = _get_ref(ad, b"/A")
        if a_ref is not None and rd.has(a_ref):
            act = rd.obj(a_ref)[1]
            act_oid = a_ref
        if not re.search(rb"/S\s*/URI\b", act):
            continue
        uri = _string_value(rd, act, b"/URI", act_oid)
        if uri is None:
            continue
        m = re.search(rb"/Rect\s*\[\s*([-+.\d eE]+?)\s*\]", ad)
        bbox = ([float(v) for v in m.group(1).split()]
                if m else [0.0, 0.0, 0.0, 0.0])
        links.append({"uri": uri, "xref": aid, "bbox": bbox})
    return links


def _resources_xobject(rd, d: bytes, owner_oid=None):
    """Resolve the /XObject dictionary reachable from a dict ``d`` that
    carries /Resources — each of /Resources and /XObject may be inline
    or an indirect reference (one level, the shapes PDF writers emit).
    Returns ``(region_bytes, container_oid)`` where ``container_oid``
    is the indirect object whose body holds the name->ref entries
    (``owner_oid`` — None = the caller's own object — when everything
    is inline).  Shared by the metadata scan and the recompress
    rewriter so both always agree on which images a page has."""
    container = owner_oid
    m = re.search(rb"/Resources\s+(\d+)\s+\d+\s+R", d)
    if m:
        if not rd.has(int(m.group(1))):
            return b"", owner_oid
        container = int(m.group(1))
        res = rd.obj(container)[1]
    else:
        split = d.split(b"/Resources", 1)
        if len(split) < 2:
            return b"", owner_oid
        res = _dict_region(split[1])
    m = re.search(rb"/XObject\s+(\d+)\s+\d+\s+R", res)
    if m:
        if not rd.has(int(m.group(1))):
            return b"", container
        container = int(m.group(1))
        return rd.obj(container)[1], container
    split = res.split(b"/XObject", 1)
    return (_dict_region(split[1]) if len(split) > 1 else b""), container


def _xobject_region(rd, d: bytes) -> bytes:
    return _resources_xobject(rd, d)[0]


def _crypt_string(d: bytes, key: bytes) -> bytes:
    """/O //U //OE //UE entries of an /Encrypt dictionary: hex or
    literal PDF strings holding arbitrary bytes (octal and two-char
    escapes honored)."""
    m = re.search(re.escape(key) + rb"\s*(\(|<)", d)
    if not m:
        return b""
    i = m.end() - 1
    if d[i:i + 1] == b"<":
        j = d.find(b">", i)
        hx = re.sub(rb"\s", b"", d[i + 1:j if j > 0 else len(d)])
        if len(hx) % 2:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except ValueError:
            return b""
    out, _end = _parse_literal_string(d, i)  # §7.3.4.2 escapes, shared
    return out


def _stream_data(body: bytes, d: bytes, decrypt=None) -> bytes:
    s = body.find(b"stream")
    if s < 0:
        return b""
    s += len(b"stream")
    if body[s:s + 2] == b"\r\n":
        s += 2
    elif body[s:s + 1] == b"\n":
        s += 1
    e = body.find(b"endstream", s)
    raw = body[s:e]
    if decrypt is not None:
        # encryption applies to the raw stream bytes before any
        # filter; the ciphertext length is exact, so the /Length trim
        # applies here even for Flate (the understated-Length caveat
        # below protects plaintext keyword scans, not ciphertext)
        n = (_get_int(d, b"/Length")
             if _get_ref(d, b"/Length") is None else None)
        if n is not None and 0 <= n <= len(raw):
            raw = raw[:n]
        elif raw.endswith(b"\r\n"):
            # indirect//missing /Length: only the single EOL before
            # the endstream keyword is non-data — ciphertext may
            # legitimately END in 0x0A/0x0D bytes, so never rstrip
            raw = raw[:-2]
        elif raw.endswith((b"\n", b"\r")):
            raw = raw[:-1]
        try:
            raw = decrypt(raw)
        except Exception:
            return b""                       # wrong key/garbage: empty
    # /Length is authoritative (ISO 32000-1 §7.3.8.2): the EOL before
    # the `endstream` keyword is NOT stream data — segment-exact codecs
    # (JBIG2) reject trailing bytes, so trim to the declared length.
    # NOT for FlateDecode: zlib is self-terminating (trailing bytes are
    # harmless) and an UNDERSTATED /Length would truncate a stream the
    # keyword scan recovers — trimming would turn recoverable content
    # into b'' (round-6 review finding).
    if b"/FlateDecode" not in d \
            and _get_ref(d, b"/Length") is None:  # indirect: keep scan
        n = _get_int(d, b"/Length")
        if n is not None and 0 <= n <= len(raw):
            raw = raw[:n]
    if b"/FlateDecode" in d:
        try:
            return zlib.decompress(raw)
        except zlib.error:
            return b""
    return raw


def _jpeg_sof(raw: bytes):
    """(width, height, n_components) from the first SOF frame header of
    a JPEG byte stream (ISO/IEC 10918-1 §B.2.2), or None.

    Metadata-without-decode for /DCTDecode image streams: the reference
    gets these via PyMuPDF's codec layer (``bin/pdf-metadata-json:
    169-190``); here the marker walk reads only the headers — SOF0-SOF15
    except the DHT/DAC/JPG reserved codes — and decode stays behind the
    multimodal codec gate."""
    sof = _jpeg_sof_fields(raw)
    return sof and (sof[0], sof[1], sof[2])


def _jpeg_sof_fields(raw: bytes):
    """One marker walk shared by ``_jpeg_sof`` and ``_jpeg_precision``:
    (width, height, n_components, precision) from the first SOF frame
    header, or None."""
    if raw[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(raw)
    while i + 9 < n:
        if raw[i] != 0xFF:
            i += 1
            continue
        marker = raw[i + 1]
        if marker == 0xFF:                 # fill byte (§B.1.1.2), re-sync
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2                         # standalone markers, no length
            continue
        if marker in (0xD9, 0xDA):         # EOI / start-of-scan: no SOF seen
            return None
        seg_len = int.from_bytes(raw[i + 2:i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h = int.from_bytes(raw[i + 5:i + 7], "big")
            w = int.from_bytes(raw[i + 7:i + 9], "big")
            return w, h, raw[i + 9], raw[i + 4]
        i += 2 + seg_len
    return None


def _jpeg_precision(raw: bytes) -> int:
    """SOF sample precision of a JPEG stream (8 when unreadable) —
    the companion to ``_jpeg_sof`` for the >8-bit (lossless SOF3 /
    extended SOF1-12) downshift in ``extract_page_images``."""
    sof = _jpeg_sof_fields(raw)
    return sof[3] if sof else 8


_ESCAPES = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
            b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\"}

_PDF_WS = b" \t\r\n\x0c\x00"
_PDF_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"^[+-]?(\d+\.?\d*|\.\d+)$")


def _parse_literal_string(ops: bytes, i: int):
    """Parse a ``(...)`` literal at ``ops[i]`` (ISO 32000-1 §7.3.4.2:
    nested balanced parens, backslash escapes, \\ddd octal with 1-3
    digits, line continuations; an unrecognized escape just drops the
    backslash).  Returns (bytes, index past the closing paren)."""
    k = i + 1
    n = len(ops)
    depth = 1
    buf = bytearray()
    while k < n and depth:
        c = ops[k:k + 1]
        if c == b"\\":
            nxt = ops[k + 1:k + 2]
            if nxt in _ESCAPES:
                buf += _ESCAPES[nxt]
                k += 2
            else:
                m = re.match(rb"[0-7]{1,3}", ops[k + 1:k + 4])
                if m:
                    buf.append(int(m.group(0), 8) & 0xFF)
                    k += 1 + len(m.group(0))
                elif nxt in (b"\r", b"\n"):     # line continuation
                    k += 2
                    if nxt == b"\r" and ops[k:k + 1] == b"\n":
                        k += 1
                else:                           # \8, \9, \x: drop backslash
                    k += 1
        elif c == b"(":
            depth += 1
            buf += c
            k += 1
        elif c == b")":
            depth -= 1
            if depth:
                buf += c
            k += 1
        else:
            buf += c
            k += 1
    return bytes(buf), k


def extract_text_strings(ops: bytes) -> list[str]:
    """Strings shown by Tj / TJ / ' / " operators in a content stream,
    in stream order (ISO 32000-1 §9.4.3) — the text layer a text-only
    PDF carries; the reference reads it via page.get_text
    (bin/pdf-metadata-json).

    Sequential token scan, not a regex heuristic: string operands are
    collected (inside or outside a ``[...]`` array) and emitted only
    when the next operator is actually a show operator — a string
    consumed by Td/Tf/etc., or one sitting between two TJ arrays, is
    never shown."""
    out: list[str] = []
    i, n = 0, len(ops)
    operands: list[bytes] = []          # string operands since last operator
    array_strings: list[bytes] = []
    in_array = False
    while i < n:
        c = ops[i:i + 1]
        if c in _PDF_WS:
            i += 1
        elif c == b"%":                  # comment to end of line
            j = ops.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c == b"(":
            s, i = _parse_literal_string(ops, i)
            (array_strings if in_array else operands).append(s)
        elif c == b"<" and ops[i + 1:i + 2] == b"<":
            i += 2                       # dict open: not an operand we track
            operands = []
        elif c == b"<":                  # hex string (§7.3.4.3)
            j = ops.find(b">", i)
            j = n if j < 0 else j
            hexed = bytes(ch for ch in ops[i + 1:j]
                          if ch not in _PDF_WS)
            if len(hexed) % 2:
                hexed += b"0"
            try:
                s = bytes.fromhex(hexed.decode("ascii"))
            except (ValueError, UnicodeDecodeError):
                s = b""
            (array_strings if in_array else operands).append(s)
            i = j + 1
        elif c == b"[":
            in_array = True
            array_strings = []
            i += 1
        elif c == b"]":
            in_array = False
            i += 1
        elif c == b"/":                  # name: operand, keep strings pending
            i += 1
            while i < n and ops[i:i + 1] not in _PDF_WS + _PDF_DELIM:
                i += 1
        else:                            # number or operator token
            j = i
            while j < n and ops[j:j + 1] not in _PDF_WS + _PDF_DELIM:
                j += 1
            tok = ops[i:j]
            i = j if j > i else i + 1
            if _NUM_RE.match(tok):
                continue                 # numeric operand: strings stay live
            if tok in (b"Tj", b"'", b'"'):
                if operands:
                    out.append(operands[-1])
                operands = []
            elif tok == b"TJ":
                out.extend(array_strings)
                array_strings = []
                operands = []
            else:                        # any other operator consumes them
                operands = []
    return [s.decode("latin-1") for s in out]


_JP2_SIG = b"\x00\x00\x00\x0cjP  \x0d\x0a\x87\x0a"


def _jp2_dims(raw: bytes):
    """(width, height, n_components) from a JPEG 2000 payload, or None.

    Handles both shapes a PDF /JPXDecode stream may carry: the JP2 file
    format (signature box -> jp2h superbox -> ihdr, ISO/IEC 15444-1
    §I.5) and a raw codestream (SOC marker -> SIZ segment, §A.5.1).
    Header-only — decode stays behind the multimodal codec gate."""
    if raw.startswith(_JP2_SIG):
        i, n = 0, len(raw)
        while i + 8 <= n:
            blen = int.from_bytes(raw[i:i + 4], "big")
            btype = raw[i + 4:i + 8]
            if btype == b"jp2h":
                i += 8                      # descend into the superbox
                continue
            if btype == b"ihdr" and i + 18 <= n:
                h = int.from_bytes(raw[i + 8:i + 12], "big")
                w = int.from_bytes(raw[i + 12:i + 16], "big")
                nc = int.from_bytes(raw[i + 16:i + 18], "big")
                return w, h, nc
            if blen < 8:                    # 0 = to-EOF; 1 = XLBox (rare)
                break
            i += blen
        return None
    if raw[:2] == b"\xff\x4f":              # SOC: raw codestream
        j = raw.find(b"\xff\x51")           # SIZ
        if j >= 0 and j + 40 <= len(raw):
            xsiz = int.from_bytes(raw[j + 6:j + 10], "big")
            ysiz = int.from_bytes(raw[j + 10:j + 14], "big")
            xo = int.from_bytes(raw[j + 14:j + 18], "big")
            yo = int.from_bytes(raw[j + 18:j + 22], "big")
            nc = int.from_bytes(raw[j + 38:j + 40], "big")
            return xsiz - xo, ysiz - yo, nc
    return None


def _jbig2_dims(raw: bytes):
    """(width, height, 1) from an embedded JBIG2 stream's page-info
    segment (T.88 §7.4.8), or None.  Header-only walk of the §7.2
    segment headers — the 1-bit analogue of ``_jpeg_sof``/``_jp2_dims``
    (JBIG2 pages are always single-component bitonal)."""
    from ..kernels.jbig2codec import Jbig2Error, _parse_segment_header

    pos, n = 0, len(raw)
    try:
        while pos < n:
            _, styp, _, _, dlen, body = _parse_segment_header(raw, pos)
            if styp == 48 and body + 8 <= n:
                w = int.from_bytes(raw[body:body + 4], "big")
                h = int.from_bytes(raw[body + 4:body + 8], "big")
                if h == 0xFFFFFFFF:          # striped page: height later
                    return None
                return w, h, 1
            if dlen == 0xFFFFFFFF:
                return None
            pos = body + dlen
    except Jbig2Error:
        return None
    return None


def parse_pdf(data: bytes, password: bytes | str = b"") -> dict:
    """PDF bytes -> {n_pages, recommended_format, scale, pages: [...]}
    (see module docstring for the field provenance).  ``password``
    opens user- or owner-password-protected files (empty default =
    the owner-locked archival shape)."""
    rd = _Reader(data, password)
    root_id = rd.root_id()
    if root_id is None or not rd.has(root_id):
        raise PdfError("no /Root")

    obj = rd.obj

    _, catalog = obj(root_id)
    pages_id = _get_ref(catalog, b"/Pages")

    # INHERITABLE page attributes (ISO 32000-1 §7.7.3.4): /Resources,
    # /MediaBox and /Rotate declared on a /Pages tree node apply to
    # every descendant page that doesn't override them — archival page
    # trees use this to share one resources dict across a book.  The
    # walk carries the nearest ancestor's values down.
    page_ids: list[tuple[int, tuple]] = []

    def _inheritable(d: bytes, inh: tuple) -> tuple:
        mb, rot, res_d = inh
        m = re.search(rb"/MediaBox\s*\[\s*([\d.\- ]+?)\s*\]", d)
        if m:
            mb = [float(v) for v in m.group(1).split()]
        r = _get_int(d, b"/Rotate")
        if r is not None:
            rot = r
        if b"/Resources" in d:
            res_d = d
        return (mb, rot, res_d)

    def walk(node_id: int, inh: tuple):
        body, d = obj(node_id)
        inh = _inheritable(d, inh)
        if b"/Page" in d and b"/Pages" not in d.split(b"/Kids")[0][:64] and \
                re.search(rb"/Type\s*/Page\b", d):
            page_ids.append((node_id, inh))
            return
        for kid in _get_refs_array(d, b"/Kids"):
            walk(kid, inh)

    walk(pages_id, (None, None, None))

    pages = []
    mode_rank = 0          # A8 precedence: 3 RGB > 2 gray > 1 bitonal
    max_scale = None
    for idx, (pid, inh) in enumerate(page_ids):
        body, d = obj(pid)
        rect = inh[0] if inh[0] is not None else [0, 0, 0, 0]
        rotate = inh[1] or 0

        images = []
        xobj_refs = []
        if inh[2] is not None:
            xobj_refs = re.findall(rb"/Im\d+\s+(\d+)\s+\d+\s+R",
                                   _xobject_region(rd, inh[2]))
        for xr in xobj_refs:
            oid = int(xr)
            _ibody, idict = obj(oid)
            if not re.search(rb"/Subtype\s*/Image", idict):
                continue
            w = _get_int(idict, b"/Width") or 0
            h = _get_int(idict, b"/Height") or 0
            bits = _get_int(idict, b"/BitsPerComponent") or 8
            gray = b"/DeviceGray" in idict
            fmt = "RAW"
            for f, name in _FILTER_FORMAT.items():
                if f in idict:
                    fmt = name
                    break
            mode = ("1" if bits == 1 else ("L" if gray else "RGB"))
            if fmt in ("JPEG", "JPEG2000", "JBIG2"):
                # Codec streams: the codec's own frame header (JPEG SOF /
                # JP2 ihdr / J2K SIZ / JBIG2 page-info) is the authority
                # for dims + component count (fills missing
                # /Width//Height, corrects a dict that disagrees with
                # the codec data).
                raw = _stream_data(_ibody, idict, rd._decrypter(oid))
                hdr = (_jpeg_sof(raw) if fmt == "JPEG"
                       else _jp2_dims(raw) if fmt == "JPEG2000"
                       else _jbig2_dims(raw))
                if hdr is not None:
                    w, h = hdr[0], hdr[1]
                    if fmt == "JBIG2":
                        mode = "1"           # always bitonal
                    else:
                        mode = "L" if hdr[2] == 1 else "RGB"
            images.append({"xref": oid, "width": w, "height": h,
                           "bits": bits, "mode": mode, "format": fmt})
            mode_rank = max(mode_rank,
                            {"1": 1, "L": 2, "RGB": 3}[mode])
            # A9: max per-image pixel/point ratio, clamped so the scaled
            # page stays under 10000 px (bin/pdf-metadata-json:192-220).
            page_w = abs(rect[2] - rect[0])
            page_h = abs(rect[3] - rect[1])
            if page_w > 0 and page_h > 0 and w > 0 and h > 0:
                scale = max(w / page_w, h / page_h)
                if page_w * scale > 10000:
                    scale = 10000 / page_w
                max_scale = scale if max_scale is None \
                    else max(max_scale, scale)

        content_id = _get_ref(d, b"/Contents")
        has_text = False
        if content_id is not None and rd.has(content_id):
            cbody, cdict = obj(content_id)
            ops = _stream_data(cbody, cdict, rd._decrypter(content_id))
            has_text = b"Tj" in ops or b"TJ" in ops

        pages.append({"page_idx": idx, "oid": pid,
                      "width": abs(rect[2] - rect[0]),
                      "height": abs(rect[3] - rect[1]), "rotate": rotate,
                      "n_images": len(images), "images": images,
                      "has_text": has_text,
                      "links": _page_links(rd, d)})

    recommended = {0: "NONE", 1: "BITONAL", 2: "GRAYSCALE",
                   3: "RGB"}[mode_rank]
    if max_scale is None:
        max_scale = 300 / 72          # A9 default
    return {"n_pages": len(pages), "recommended_format": recommended,
            "scale": round(max_scale, 6), "pages": pages}


def extract_page_images(data: bytes, page_idx: int, *, meta=None,
                        rd=None, password: bytes | str = b""):
    """S2 (``recode.py:316-332``): raw decoded pixel arrays of a page's
    image XObjects — ``[(xref, np.ndarray)]``.  Flate/raw streams decode
    directly; /DCTDecode streams decode through the from-scratch
    baseline-sequential JPEG decoder (``kernels.jpegcodec``, round 4);
    /JPXDecode streams decode through the from-scratch reversible
    JPEG2000 decoder (``kernels.jp2codec``, round 5 — the reference's
    PRIMARY codec, ``internetarchivepdf/jpeg2000.py:87-148`` /
    ``recode.py:337-358``); /JBIG2Decode streams decode through the
    from-scratch generic-region JBIG2 decoder (``kernels.jbig2codec``,
    round 6 — the reference's DEFAULT mask sink,
    ``internetarchivepdf/mrc.py:474-520`` / ``pdfhacks.py:106-177``);
    non-baseline JPEG, exotic JP2 profiles and symbol/MMR JBIG2 stay
    metadata-only (the documented codec gate), skipped without failing
    the page.

    ``meta``/``rd``: pass the already-parsed metadata and ``_Reader`` to
    amortize the structural parse across a document's pages (one parse
    per PDF, not one per page).

    Codec dispatch goes through ``kernels.registry`` (round 7): the
    from-scratch decoders are the defaults, and a native decoder
    swapped in via ``registry.register_decoder`` (contract-verified
    against the same true-arithmetic oracles) changes THIS call site's
    behavior without touching the Spark plan — the documented 100-TB
    remedy for the per-core codec floor (``BENCH/codec_swap_r7.md``)."""
    import numpy as np

    from ..kernels.ccittcodec import CcittError
    from ..kernels.jbig2codec import Jbig2Error
    from ..kernels.jp2codec import Jp2Error
    from ..kernels.jpegcodec import JpegError
    from ..kernels.registry import get_decoder
    decode_baseline = get_decoder("JPEG")
    decode_jp2 = get_decoder("JPEG2000")
    decode_jbig2 = get_decoder("JBIG2")
    decode_g3 = get_decoder("CCITT")

    if meta is None:
        meta = parse_pdf(data, password)
    if page_idx >= meta["n_pages"]:
        raise IndexError(page_idx)
    if rd is None:
        rd = _Reader(data, password)
    out = []
    for im in meta["pages"][page_idx]["images"]:
        if im["format"] not in ("FLATE", "RAW", "JPEG", "JPEG2000",
                                "JBIG2", "CCITT"):
            continue
        body, d = rd.obj(im["xref"])
        raw = _stream_data(body, d, rd._decrypter(im["xref"]))
        if im["format"] == "JPEG":
            try:
                arr = decode_baseline(raw)
            except JpegError:
                continue            # non-baseline/undecodable: metadata-only
            if arr.dtype != np.uint8:
                # >8-bit lossless (SOF3): downshift to the engine's
                # 8-bit raster pipeline by the SOF-declared precision
                arr = (arr >> max(0, _jpeg_precision(raw) - 8)
                       ).astype(np.uint8)
            if arr.ndim == 3 and arr.shape[2] not in (1, 3):
                continue            # 2/4-component lossless: no raster map
            out.append((im["xref"], arr))
            continue
        if im["format"] == "JPEG2000":
            try:
                arr = decode_jp2(raw)
            except Jp2Error:
                continue            # unsupported profile: metadata-only
            out.append((im["xref"], arr))
            continue
        if im["format"] == "JBIG2":
            # jbig2enc's symbol coder shares its symbol dictionaries
            # via a /JBIG2Globals stream in /DecodeParms; the page
            # stream's text regions refer to them across the boundary
            gref = re.search(rb"/JBIG2Globals\s+(\d+)\s+\d+\s+R", d)
            gdata = b""
            if gref is not None and rd.has(int(gref.group(1))):
                gbody, gdict = rd.obj(int(gref.group(1)))
                gdata = _stream_data(gbody, gdict,
                                     rd._decrypter(int(gref.group(1))))
            try:
                bits = decode_jbig2(raw, gdata)
            except Jbig2Error:
                continue            # Huffman/halftone: metadata-only
            # /JBIG2Decode contract: 1 = black; as DeviceGray pixels
            # black is 0 — the mask shape MRC downstream expects
            arr = np.where(bits != 0, 0, 255).astype(np.uint8)
            out.append((im["xref"], arr))
            continue
        if im["format"] == "CCITT":
            # /CCITTFaxDecode: /K < 0 = pure 2D T.6 (Group 4), the
            # encoding pre-JBIG2 archival scans carry; /K == 0 = 1D MH
            # Group 3; /K > 0 = mixed 2D Group 3 (EOL + tag per line).
            # /Columns defaults to 1728 (spec).  /Rows absent with
            # /EndOfBlock (default true): the stream is self-delimiting
            # — decode to EOFB/RTC (rows=None) and let /Height clamp or
            # pad the result.  /BlackIs1 (default false) flips the
            # filter's sample sense (false: 0-bits are black); the
            # image's /Decode array (default [0 1]) then maps samples
            # to gray, so both are honored before the gray conversion.
            mk = re.search(rb"/K\s+(-?\d+)", d)
            k = int(mk.group(1)) if mk else 0
            mc = re.search(rb"/Columns\s+(\d+)", d)
            cols = int(mc.group(1)) if mc else 1728
            mr = re.search(rb"/Rows\s+(\d+)", d)
            eob = re.search(rb"/EndOfBlock\s+false", d) is None
            black1 = re.search(rb"/BlackIs1\s+true", d) is not None
            if mr:
                rows_n = int(mr.group(1))
            elif eob:
                rows_n = None       # self-delimiting: EOFB/RTC sets h
            else:
                rows_n = im["height"]
            ba = re.search(rb"/EncodedByteAlign\s+true", d) is not None
            eol = re.search(rb"/EndOfLine\s+true", d) is not None
            if cols <= 0 or (rows_n is not None and rows_n <= 0):
                continue
            try:
                bits = decode_g3(raw, cols, rows_n, k=k,
                                 byte_align=ba, end_of_line=eol)
            except CcittError:
                continue            # malformed: metadata-only
            # /Height is the image contract: crop longer streams, pad
            # shorter ones with white (ink = 0)
            hh = im["height"]
            if bits.shape[0] > hh:
                bits = bits[:hh]
            elif bits.shape[0] < hh:
                bits = np.vstack([bits, np.zeros(
                    (hh - bits.shape[0], cols), dtype=np.uint8)])
            # filter sample per /BlackIs1, then /Decode [a b] -> gray
            sample = bits if black1 else 1 - bits
            # PDF numbers may be reals (/Decode [1.0 0.0] is legal and
            # occurs in the wild); for 1-bit images the endpoints are
            # 0-or-1 valued either way
            mdec = re.search(
                rb"/Decode\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s*\]", d)
            try:
                a, b = ((int(float(mdec.group(1))),
                         int(float(mdec.group(2))))
                        if mdec else (0, 1))
            except ValueError:
                a, b = 0, 1
            if (a, b) not in ((0, 1), (1, 0)):
                a, b = 0, 1
            arr = ((a + sample.astype(np.int32) * (b - a)) * 255
                   ).astype(np.uint8)
            out.append((im["xref"], arr))
            continue
        ch = 1 if im["mode"] in ("L", "1") else 3
        n = im["width"] * im["height"] * ch
        if len(raw) < n:
            continue
        arr = np.frombuffer(raw[:n], dtype=np.uint8)
        shape = (im["height"], im["width"]) if ch == 1 else \
            (im["height"], im["width"], 3)
        out.append((im["xref"], arr.reshape(shape)))
    return out


PDF_META_SCHEMA_DDL = (
    "doc_id string, page_idx int, width double, height double, rotate int, "
    "n_images int, has_text boolean, recommended_format string, "
    "scale double, images array<struct<xref:int,width:int,height:int,"
    "bits:int,mode:string,format:string>>, "
    "links array<struct<uri:string,xref:int,bbox:array<double>>>, "
    "parse_error string"
)


def _page_rows(doc_id, blob) -> list[tuple]:
    meta = parse_pdf(bytes(blob))
    return [(page["page_idx"], float(page["width"]), float(page["height"]),
             page["rotate"], page["n_images"], page["has_text"],
             meta["recommended_format"], meta["scale"],
             [(im["xref"], im["width"], im["height"], im["bits"],
               im["mode"], im["format"]) for im in page["images"]],
             [(ln["uri"], ln["xref"], ln["bbox"]) for ln in page["links"]],
             None)
            for page in meta["pages"]]


def pdf_metadata(df, pdf_col: str = "pdf", id_col: str = "doc_id"):
    """(doc_id, pdf binary) -> per-page metadata rows (mapInArrow); an
    unparseable PDF gives one ``page_idx = -1`` row with
    ``parse_error`` set."""
    return map_documents(
        df, [id_col, pdf_col], PDF_META_SCHEMA_DDL, _page_rows,
        lambda msg: (-1, 0.0, 0.0, 0, 0, False, "NONE", 0.0, [], [], msg))
