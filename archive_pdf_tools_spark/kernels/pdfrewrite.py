"""Recompress the images inside an EXISTING PDF into MRC — the actual
product of the reference's second entry point.

``bin/compress-pdf-images:26-152`` takes a finished PDF (+ optional
hOCR), and per page: extracts each image XObject, runs the MRC
decomposition, re-encodes (JP2 bg + JP2 fg + JBIG2 mask), strips the
old ``/ImN Do`` operator from the content stream, and inserts the bg
and masked-fg pair at the old image's place, finally saving with
garbage collection (``doc.save(..., garbage=2)``) so the original
image bytes leave the file.  The original text layer, fonts, and
document structure are preserved untouched.

This module is that transform without a PDF library, built on the
engine's own reader (``sources/pdf_meta``) and codecs:

* every reachable object is copied VERBATIM (same object number, same
  generation, raw stream bytes) except the ones the recompression
  touches — replaced image XObjects are dropped (their xref slots
  become free entries: the garbage-collection step), page /Resources
  gain the new names, and the page content stream is rewritten;
* the content rewrite substitutes ``/ImN Do`` with
  ``/ImN_b Do /ImN_f Do`` IN PLACE, so the two new XObjects paint
  under the exact CTM the old image used — a deliberate simplification
  of the reference's remove-then-reinsert-at-bbox dance
  (``compress-pdf-images:25-33, 119-125``) that cannot drift the
  placement and needs no matrix recovery;
* new objects (bg /JPXDecode, fg /JPXDecode with /SMask, 1-bit
  /JBIG2Decode mask — the ``fast_insert_image`` linkage,
  ``pdfhacks.py:106-177``) append at fresh object numbers;
* the output is a clean classic-xref PDF 1.5 file; objects that lived
  in 1.5 object streams are hoisted to top level (the /ObjStm and
  /XRef containers themselves are infrastructure and never copied).

Encrypted inputs DECRYPT-AND-REWRITE (round 8): every kept stream
re-emits as plaintext (exact ciphertext recovered by the reader's own
/Length rules, ``/Length`` rewritten to the plain byte count), every
string in a kept type-1 body decrypts and re-encodes as a hex string,
objstm residents arrive plaintext with their container, the /Encrypt
dictionary is dropped, and the output trailer carries no /Encrypt —
an ordinary unencrypted PDF.  Encryption-exempt strings (the /XRef
stream's /ID, the /Encrypt dict's own entries) never reach the
decrypt pass because those objects are discarded first.  This goes
one step past the reference, whose chain fails on encrypted inputs
(PyMuPDF will not save an authenticated doc unencrypted without an
explicit decrypt pass).

Scale shape: one document per call inside ``mapInPandas`` — same
partitioning as every other per-doc kernel, no driver state.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

__all__ = ["recompress_pdf", "RecompressResult"]


class RecompressResult:
    """The recompressed bytes plus per-image accounting."""

    __slots__ = ("pdf", "n_images", "n_pages", "orig_image_bytes",
                 "new_image_bytes", "skipped")

    def __init__(self, pdf, n_images, n_pages, orig_image_bytes,
                 new_image_bytes, skipped):
        self.pdf = pdf
        self.n_images = n_images
        self.n_pages = n_pages
        self.orig_image_bytes = orig_image_bytes
        self.new_image_bytes = new_image_bytes
        self.skipped = skipped


def _xobject_names(rd, page_dict):
    """The page's /XObject image entries as [(name bytes, oid,
    container_oid)] where ``container_oid`` is the indirect object
    whose body holds the name->ref entry (None = the page object
    itself).  Handles /Resources and /XObject being inline or
    indirect, one level each (the shapes PDF writers emit), and
    /Resources INHERITED from an ancestor /Pages node (ISO 32000-1
    §7.7.3.4) — the container is then that ancestor, so the entry
    rewrite lands on the shared node (the append-keep-original +
    refcount discipline below keeps sibling pages consistent)."""
    from ..sources.pdf_meta import _dict_region, _resources_xobject

    # walk up /Parent for the nearest dict carrying /Resources; the
    # owner_oid (None = the page itself) is the rewrite target when
    # /Resources is inline
    owner_oid = None
    d = page_dict
    for _depth in range(32):
        if b"/Resources" in d:
            break
        pm = re.search(rb"/Parent\s+(\d+)\s+\d+\s+R", d)
        if pm is None or not rd.has(int(pm.group(1))):
            return []
        owner_oid = int(pm.group(1))
        d = _dict_region(rd.body(owner_oid))
    else:
        return []
    # shared resolver (sources/pdf_meta.py): the metadata scan and this
    # rewriter must agree on which images a page has — the img_use
    # refcounting depends on it
    xo_region, xo_container = _resources_xobject(rd, d, owner_oid)
    if not xo_region:
        return []

    out = []
    for nm, oid in re.findall(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R",
                              xo_region):
        out.append((nm, int(oid), xo_container))
    return out


def _content_ids(page_dict: bytes) -> list[int]:
    """The page's content-stream object ids: ``/Contents N 0 R`` or
    the array form ``/Contents [N 0 R M 0 R ...]``."""
    m = re.search(rb"/Contents\s*\[([^\]]*)\]", page_dict)
    if m:
        return [int(g) for g in
                re.findall(rb"(\d+)\s+\d+\s+R", m.group(1))]
    m = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", page_dict)
    return [int(m.group(1))] if m else []


def _hex_string(data: bytes) -> bytes:
    return b"<" + data.hex().upper().encode("ascii") + b">"


def _decrypt_strings(head: bytes, oid: int, gen: int, crypt) -> bytes:
    """Decrypt every PDF string object in a (non-stream) body region:
    literal ``(...)`` strings (escapes honored via the reader's own
    parser) and hex ``<...>`` strings.  Decrypted strings re-emit as
    hex strings — unambiguous for arbitrary plaintext bytes."""
    from ..sources.pdf_meta import _parse_literal_string

    out = bytearray()
    i = 0
    n = len(head)
    while i < n:
        c = head[i:i + 1]
        if c == b"(":
            raw, end = _parse_literal_string(head, i)
            out += _hex_string(crypt.decrypt(raw, oid, gen))
            i = end
        elif c == b"<" and head[i + 1:i + 2] != b"<":
            j = head.find(b">", i)
            if j < 0:
                out += head[i:]
                break
            hx = re.sub(rb"\s", b"", head[i + 1:j])
            if len(hx) % 2:
                hx += b"0"
            try:
                raw = bytes.fromhex(hx.decode("ascii"))
            except ValueError:
                out += head[i:j + 1]
                i = j + 1
                continue
            out += _hex_string(crypt.decrypt(raw, oid, gen))
            i = j + 1
        elif c == b"<" and head[i + 1:i + 2] == b"<":
            out += b"<<"
            i += 2
        else:
            out += c
            i += 1
    return bytes(out)


def _decrypt_object_body(body: bytes, oid: int, gen: int, rd) -> bytes:
    """One raw type-1 object body -> its decrypted equivalent: strings
    decrypted in the dictionary region, stream ciphertext replaced by
    plaintext with /Length rewritten to the plain byte count (an
    indirect /Length collapses to the direct value — the referenced
    length object may stay as an unreferenced leftover)."""
    from ..sources.pdf_meta import _get_int, _get_ref

    s = body.find(b"stream")
    head = body if s < 0 else body[:s]
    head = _decrypt_strings(head, oid, gen, rd.crypt)
    if s < 0:
        return head

    # exact ciphertext: /Length when direct (ciphertext length is
    # exact), else the single-EOL trim — the reader's own rules
    # (sources/pdf_meta.py::_stream_data decrypt branch)
    p = s + len(b"stream")
    if body[p:p + 2] == b"\r\n":
        p += 2
    elif body[p:p + 1] == b"\n":
        p += 1
    e = body.find(b"endstream", p)
    raw = body[p:e]
    d = body[:s]
    nlen = (_get_int(d, b"/Length")
            if _get_ref(d, b"/Length") is None else None)
    if nlen is not None and 0 <= nlen <= len(raw):
        raw = raw[:nlen]
    elif raw.endswith(b"\r\n"):
        raw = raw[:-2]
    elif raw.endswith((b"\n", b"\r")):
        raw = raw[:-1]
    plain = rd.crypt.decrypt(raw, oid, gen)
    head, n_len = re.subn(rb"/Length\s+\d+(?:\s+\d+\s+R)?",
                          b"/Length %d" % len(plain), head, count=1)
    if n_len == 0:
        head = head.rstrip()
        if head.endswith(b">>"):
            head = head[:-2] + b" /Length %d >>" % len(plain)
    return head + b"stream\n" + plain + b"\nendstream"


def _img_obj(w, h, gray, filt, bpc, data, smask=None):
    head = (b"<< /Type /XObject /Subtype /Image /Width "
            + str(w).encode() + b" /Height " + str(h).encode()
            + b" /ColorSpace "
            + (b"/DeviceGray" if gray else b"/DeviceRGB")
            + b" /BitsPerComponent " + str(bpc).encode()
            + b" /Filter " + filt
            + (b" /SMask %d 0 R" % smask if smask else b"")
            + b" /Length " + str(len(data)).encode() + b" >>")
    return head + b"\nstream\n" + data + b"\nendstream"


def recompress_pdf(pdf: bytes, hocr=None, fg_downsample: int = 3,
                   bg_downsample: int = 3,
                   password: bytes | str = b"") -> RecompressResult:
    """One PDF in, the MRC-recompressed PDF out (see module
    docstring).  ``hocr``: the document's hOCR markup — its word boxes
    steer the text/media mask exactly as in the flagship recode path;
    without it the threshold mask drives the split
    (``compress-pdf-images:66-70`` passes word data the same way).

    Encrypted inputs decrypt-and-rewrite: the output is an ordinary
    unencrypted PDF (``password`` opens user/owner-protected files;
    the empty default handles the owner-locked archival shape).

    Pages whose images cannot decode (gated codec profiles) keep those
    images untouched; their count lands in ``skipped``."""
    from ..sources.hocr import word_data_by_page
    from ..sources.pdf_meta import (PdfError, _Reader, _dict_region,
                                    _stream_data,
                                    extract_page_images, parse_pdf)
    from .mrc import create_mrc_components
    from .registry import get_encoder
    # encoder seam: same contract-verified swap point as the sink
    # (kernels/registry.py round 8) — built-ins by default
    encode_jp2 = get_encoder("JPEG2000")
    encode_jbig2 = get_encoder("JBIG2")

    meta = parse_pdf(pdf, password)
    rd = _Reader(pdf, password)
    # Encrypted input -> DECRYPT-AND-REWRITE (round 8): the clean full
    # rewrite re-emits every kept stream as plaintext and every string
    # re-encoded from its decrypted bytes, and drops the /Encrypt
    # dictionary — the output is an ordinary unencrypted PDF.  (The
    # reference's chain simply fails on encrypted inputs: PyMuPDF will
    # not save an authenticated doc decrypted without its own decrypt
    # pass — this goes one step further than parity.)

    words_by_page = word_data_by_page(hocr)

    # oid -> replacement body; dropped image oids; appended new bodies
    rewritten: dict[int, bytes] = {}
    dropped: set[int] = set()
    appended: list[bytes] = []
    next_id = max(rd.entries) + 1
    n_images = 0
    skipped = 0
    undecodable: set[int] = set()
    orig_bytes = 0
    new_bytes = 0

    def alloc(body: bytes) -> int:
        nonlocal next_id
        appended.append(body)
        next_id += 1
        return next_id - 1

    def work_body(oid: int) -> bytes:
        """A body about to be MUTATED into ``rewritten``: already-
        rewritten bodies are plaintext by construction; raw type-1
        bodies of an encrypted file get their strings decrypted first
        (the dict-only page/resources objects this path touches carry
        no streams)."""
        got = rewritten.get(oid)
        if got is not None:
            return got
        b = rd.body(oid)
        e = rd.entries.get(oid)
        if rd.crypt is not None and e and e[0] == 1:
            b = _decrypt_strings(b, oid,
                                 e[2] if len(e) > 2 else 0, rd.crypt)
        return b

    # content streams shared between pages must never be dropped;
    # image XObjects are refcounted the same way (round-8 ADVICE): an
    # image referenced from TWO pages' resources is dropped only when
    # EVERY referencing entry was successfully rewritten — a rollback
    # (or undecodable raster) on any one page keeps the object alive
    # so that page's /ImN Do keeps painting.
    content_use: dict[int, int] = {}
    img_use: dict[int, int] = {}
    img_release: dict[int, int] = {}
    img_replaced: dict[int, int] = {}
    stale_entries: list[tuple[int, bytes, int]] = []
    for page in meta["pages"]:
        body = rd.body(page["oid"])
        page_dict = _dict_region(body)
        for cid in _content_ids(page_dict):
            content_use[cid] = content_use.get(cid, 0) + 1
        for _nm, oid, _cont in _xobject_names(rd, page_dict):
            img_use[oid] = img_use.get(oid, 0) + 1

    for page in meta["pages"]:
        pidx = page["page_idx"]
        pid = page["oid"]
        page_body = rewritten.get(pid, rd.body(pid))
        page_dict = _dict_region(page_body)

        rasters = dict(extract_page_images(pdf, pidx, meta=meta, rd=rd))
        entries = _xobject_names(rd, page_dict)
        img_oids = {im["xref"] for im in page["images"]}
        todo = [(nm, oid, cont) for nm, oid, cont in entries
                if oid in img_oids]
        # distinct oids: with a SHARED resources dict every page lists
        # every sibling's images, so per-page counting would report one
        # bad image once per referencing page
        undecodable.update(oid for _nm, oid, _c in todo
                           if oid not in rasters)
        todo = [(nm, oid, cont) for nm, oid, cont in todo
                if oid in rasters]
        if not todo:
            continue

        # /Contents: a single ref or an ARRAY of stream parts (parts
        # concatenate with implied whitespace, ISO 32000 §7.8.2)
        content_ids = _content_ids(page_dict)
        if not content_ids or not all(rd.has(c) for c in content_ids):
            continue                      # imageless/odd page: keep
        parts = []
        for cid in content_ids:
            cb = rewritten.get(cid)
            if cb is not None:        # already rebuilt: plaintext
                parts.append(_stream_data(cb, _dict_region(cb)))
            else:
                cb = rd.body(cid)
                parts.append(_stream_data(cb, _dict_region(cb),
                                          rd._decrypter(cid)))
        ops = b"\n".join(parts)
        page_changed = False

        words = words_by_page.get(pidx, [])
        for nm, oid, cont in todo:
            pat = re.compile(rb"/" + re.escape(nm) + rb"\s+Do\b")
            if not pat.search(ops):
                # name never drawn on THIS page — the normal case for
                # a SHARED resources dict (inherited /Resources list
                # every sibling's images).  This page doesn't need the
                # object: release its reference without encoding
                # anything; the object drops once every referencing
                # page released it and at least one really replaced it.
                # The entry still goes on the stale list: if the
                # object DOES end up dropped, this page's container —
                # which may be its own separate dict, not the shared
                # one — must not keep a name pointing at a freed slot.
                img_release[oid] = img_release.get(oid, 0) + 1
                stale_entries.append((cont if cont is not None else pid,
                                      nm, oid))
                if (img_replaced.get(oid, 0) >= 1
                        and img_release[oid] >= img_use.get(oid, 1)):
                    dropped.add(oid)
                continue
            raster = rasters[oid]
            res = create_mrc_components(
                raster, words, fg_downsample=fg_downsample,
                bg_downsample=bg_downsample)
            bg_jp2 = encode_jp2(np.asarray(res.background),
                                irreversible=True)
            fg_jp2 = encode_jp2(np.asarray(res.foreground),
                                irreversible=True)
            # SMask wire polarity: text pixels = JBIG2 bit 0
            # (kernels/pdfsink.py — same contract)
            mask_jbig2 = encode_jbig2((res.mask == 0).astype(np.uint8))
            mh, mw = res.mask.shape
            bh, bw = res.background.shape[:2]
            fh, fw = res.foreground.shape[:2]
            mask_id = alloc(_img_obj(mw, mh, True, b"/JBIG2Decode", 1,
                                     mask_jbig2))
            bg_id = alloc(_img_obj(
                bw, bh, res.background.ndim == 2, b"/JPXDecode", 8,
                bg_jp2))
            fg_id = alloc(_img_obj(
                fw, fh, res.foreground.ndim == 2, b"/JPXDecode", 8,
                fg_jp2, smask=mask_id))

            # content stream: /Name Do -> bg then masked fg, same CTM.
            # New names are /Im<objid> — object ids are unique, and
            # the pure Im\d+ shape keeps the engine's own image scan
            # (parse_pdf resources regex) seeing them on re-read.
            bg_nm = b"Im%d" % bg_id
            fg_nm = b"Im%d" % fg_id
            repl = b"/" + bg_nm + b" Do /" + fg_nm + b" Do"
            new_ops, n_subs = pat.subn(repl, ops)

            # container dict: the two new names APPEND after the old
            # entry (the container is the page object, the resources
            # object, or the xobject dict object — whichever holds
            # it).  The old entry is kept for now: when the container
            # is SHARED between pages, another page may still need its
            # /ImN Do to resolve; stale entries for fully-replaced
            # images are stripped in the final pass below.
            entry_pat = re.compile(
                rb"/" + re.escape(nm) + rb"\s+(\d+)\s+(\d+)\s+R")
            entry_repl = (lambda m, _nm=nm, _b=bg_id, _f=fg_id:
                          b"/%s %s %s R /Im%d %d 0 R /Im%d %d 0 R"
                          % (_nm, m.group(1), m.group(2),
                             _b, _b, _f, _f))
            target = cont if cont is not None else pid
            tbody = work_body(target)
            tbody, n_entry = entry_pat.subn(entry_repl, tbody, count=1)
            if n_entry == 0:
                # drawn but the name->ref entry is unlocatable: leave
                # the page untouched for this image (roll back the
                # appends; ops stays unmutated — new_ops is
                # discarded).  No release either: this page keeps
                # painting the ORIGINAL object, so it must stay live.
                del appended[-3:]
                next_id -= 3
                skipped += 1
                continue
            ops = new_ops
            page_changed = True
            rewritten[target] = tbody
            img_replaced[oid] = img_replaced.get(oid, 0) + 1
            img_release[oid] = img_release.get(oid, 0) + 1
            if img_release[oid] >= img_use.get(oid, 1):
                dropped.add(oid)
            stale_entries.append((target, nm, oid))
            n_images += 1
            orig_bytes += len(_stream_data(rd.body(oid),
                                           rd.obj(oid)[1],
                                           rd._decrypter(oid)))
            new_bytes += len(bg_jp2) + len(fg_jp2) + len(mask_jbig2)

        if not page_changed:
            continue
        flate = zlib.compress(ops, 6)
        new_body = (b"<< /Filter /FlateDecode /Length "
                    + str(len(flate)).encode() + b" >>\nstream\n"
                    + flate + b"\nendstream")
        if len(content_ids) == 1:
            rewritten[content_ids[0]] = new_body
        else:
            # array form: ONE merged stream replaces the parts; the
            # page's /Contents array entry becomes the new ref, and
            # parts no other page shares are garbage-collected
            new_cid = alloc(new_body)
            pb = work_body(pid)
            pb, n_c = re.subn(rb"/Contents\s*\[[^\]]*\]",
                              b"/Contents %d 0 R" % new_cid, pb,
                              count=1)
            if n_c == 0:
                raise PdfError("could not rewrite /Contents array")
            rewritten[pid] = pb
            for cid in content_ids:
                if content_use.get(cid, 0) <= 1:
                    dropped.add(cid)

    # strip the kept-for-sharing old name entries whose image object
    # ended fully replaced (and therefore dropped) — a container entry
    # pointing at a free xref slot is the dangling-reference bug the
    # refcounting exists to prevent
    for target, nm, oid in stale_entries:
        if oid not in dropped:
            continue
        # a released-not-drawn page's container may never have been
        # rewritten — pull its (decrypted) body in so the strip lands
        body = work_body(target)
        new = re.sub(
            rb"/" + re.escape(nm) + rb"\s+%d\s+\d+\s+R" % oid,
            b"", body, count=1)
        if new != body:
            rewritten[target] = new
    out = _assemble(pdf, rd, rewritten, dropped, appended)
    return RecompressResult(out, n_images, meta["n_pages"],
                            orig_bytes, new_bytes,
                            skipped + len(undecodable))


def _assemble(pdf: bytes, rd, rewritten: dict[int, bytes],
              dropped: set[int], appended: list[bytes]) -> bytes:
    """Write the clean full file: kept objects verbatim (original
    number + generation), rewritten bodies in place, dropped slots as
    free xref entries, appended objects at the tail."""
    from ..sources.pdf_meta import _get_ref

    # the security-handler dictionary never survives: the output is
    # plaintext (decrypt-and-rewrite) and its trailer has no /Encrypt
    enc_oid = None
    if rd.crypt is not None:
        for t in rd.trailers:
            enc_oid = _get_ref(t, b"/Encrypt")
            if enc_oid is not None:
                break

    bodies: dict[int, tuple[int, bytes]] = {}   # oid -> (gen, body)
    for oid, e in rd.entries.items():
        if oid == 0 or e[0] == 0 or oid in dropped or oid == enc_oid:
            continue
        if e[0] == 1:
            gen = e[2] if len(e) > 2 else 0
            body = rd.body(oid)
        else:                       # hoisted from an object stream
            gen = 0
            body = rd.body(oid)
        d = body[:512]
        # infrastructure objects never survive a clean rewrite — and
        # must be discarded BEFORE the decrypt pass: an /XRef stream's
        # /ID strings are encryption-EXEMPT (ISO 32000 §7.6.2), so
        # "decrypting" them would garble or reject
        if re.search(rb"/Type\s*/(ObjStm|XRef)\b", d) \
                or b"/Linearized" in d:
            continue
        if rd.crypt is not None and e[0] == 1 \
                and oid not in rewritten:
            # objstm residents arrive plaintext (their container
            # decrypted whole); type-1 bodies decrypt here
            body = _decrypt_object_body(body, oid, gen, rd)
        bodies[oid] = (gen, rewritten.get(oid, body))
    for i, body in enumerate(appended):
        bodies[max(rd.entries) + 1 + i] = (0, body)

    size = max(bodies) + 1
    out = bytearray(b"%PDF-1.5\n%\xde\xad\xbe\xef\n")
    offsets: dict[int, tuple[int, int]] = {}
    for oid in sorted(bodies):
        gen, body = bodies[oid]
        offsets[oid] = (len(out), gen)
        out += b"%d %d obj\n" % (oid, gen) + body.strip() + b"\nendobj\n"

    xref_pos = len(out)
    out += b"xref\n0 %d\n" % size
    out += b"0000000000 65535 f \n"
    for oid in range(1, size):
        if oid in offsets:
            off, gen = offsets[oid]
            out += b"%010d %05d n \n" % (off, gen)
        else:
            out += b"0000000000 65535 f \n"

    root_id = rd.root_id()
    info_id = None
    for t in rd.trailers:
        m = re.search(rb"/Info\s+(\d+)\s+\d+\s+R", t)
        if m and int(m.group(1)) in bodies:
            info_id = int(m.group(1))
            break
    trailer = b"trailer\n<< /Size %d /Root %d 0 R" % (size, root_id)
    if info_id is not None:
        trailer += b" /Info %d 0 R" % info_id
    out += trailer + b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(out)
