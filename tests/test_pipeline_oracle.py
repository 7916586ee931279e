"""Golden slow-oracle test (FIXTURES.md §4-§5).

Runs the full media extraction path twice on small pages: once with the
fast kernels, once with the slow per-pixel oracles patched in under the
names ``extract_one`` calls (the reference's own slow/fast pair
precedent, optimiser.pyx:22-146), and asserts identical span output —
including the content hashes of mask/fg/bg, i.e. bit-exact segmentation
— and that every patched oracle ran.
"""

from collections import Counter

import numpy as np
import pytest

import archive_pdf_tools_spark.kernels.mrc as mrc_mod
import archive_pdf_tools_spark.operators.extract as extract_mod
from archive_pdf_tools_spark.corpus.rasters import (
    make_media_ref, page_spec, render_raster)
from archive_pdf_tools_spark.kernels.optimise import (
    fast_mask_denoise_slow, optimise_gray_slow, optimise_rgb_slow)
from archive_pdf_tools_spark.kernels.sauvola import sauvola_mask_slow
from archive_pdf_tools_spark.operators.extract import extract_one


def _slow_threshold_image(img, dpi, k=0.34):
    window_size = 51
    if dpi is not None:
        window_size = int(dpi / 4)
        if window_size % 2 == 0:
            window_size += 1
    return sauvola_mask_slow(img, window_size, window_size, k, 128.0)


def _tiny_media_refs(max_pixels=128 * 96, want=6):
    refs = []
    i = 0
    while len(refs) < want and i < 4000:
        ref = make_media_ref(f"doc_{i:06d}", i % 7, i * 131 + 17)
        spec = page_spec(ref)
        if spec["w"] * spec["h"] <= max_pixels and not spec["bitonal"]:
            refs.append(ref)
        i += 1
    assert len(refs) == want
    return refs


def _denoise_batch(masks, mincnt, n):
    return np.stack([fast_mask_denoise_slow(m, mincnt, n) for m in masks])


def _optimise_batch(slow):
    return lambda masks, imgs, n: np.stack(
        [slow(m, img, n) for m, img in zip(masks, imgs)])


@pytest.mark.parametrize("ref", _tiny_media_refs())
def test_media_extraction_fast_equals_slow_oracle(monkeypatch, ref):
    fast = extract_one("media", "", ref)

    calls = Counter()

    def counted(name, fn):
        def call(*args):
            calls[name] += 1
            return fn(*args)
        return call

    monkeypatch.setattr(mrc_mod, "threshold_image",
                        counted("threshold", _slow_threshold_image))
    for name, batch in (
            ("fast_mask_denoise_batch", _denoise_batch),
            ("optimise_gray2_batch", _optimise_batch(optimise_gray_slow)),
            ("optimise_rgb2_batch", _optimise_batch(optimise_rgb_slow))):
        monkeypatch.setattr(extract_mod, name, counted(name, batch))
    slow = extract_one("media", "", ref)

    assert fast[0] == slow[0]      # spans incl. mask/fg/bg content hashes
    assert fast[2] == slow[2]      # warnings
    optimise = ("optimise_rgb2_batch"
                if render_raster(page_spec(ref)).ndim == 3
                else "optimise_gray2_batch")
    assert calls.pop("threshold") > 0
    assert calls == {"fast_mask_denoise_batch": 1, optimise: 2}  # fg, bg


def test_tiny_media_refs_cover_gray_and_rgb():
    ndims = {render_raster(page_spec(ref)).ndim for ref in _tiny_media_refs()}
    assert ndims == {2, 3}


def _small_refs_by_shape(max_pixels=128 * 96):
    """Small generator pages: (h, w, mode) -> non-bitonal refs, and
    "bitonal" -> bitonal refs."""
    groups = {}
    for i in range(2000):
        ref = make_media_ref(f"doc_{i:06d}", i % 7, i * 131 + 17)
        spec = page_spec(ref)
        if spec["w"] * spec["h"] <= max_pixels:
            key = ("bitonal" if spec["bitonal"]
                   else (spec["h"], spec["w"], spec["mode"]))
            groups.setdefault(key, []).append(ref)
    return groups


def test_batch_body_matches_per_page_oracle():
    """One batch through the extraction body gives, row for row, the page
    row of the oracle (``extract_one`` under the poison-row guard):
    same-shape gray and RGB media pages, a page smaller than the Sauvola
    window, a bitonal page, a text page, an unknown kind and a null
    offset, all in one batch."""
    import pandas as pd

    from archive_pdf_tools_spark.corpus.generate import make_doc

    groups = _small_refs_by_shape()
    refs = (groups[(48, 64, "L")][:3] + groups[(48, 64, "RGB")][:2]
            + groups[(16, 24, "L")][:1] + groups["bitonal"][:1])
    text = next(s["text"] for s in make_doc(0, max_spans=10)["spans"]
                if s["kind"] == "text")
    spans = ([("media", "", ref) for ref in refs]
             + [("text", text, ""), ("scan", "", ""), ("media", "", refs[0])])
    rows = [{"doc_id": "d", "offset": i, "kind": kind, "text": payload,
             "media_ref": ref}
            for i, (kind, payload, ref) in enumerate(spans)]
    rows[-1]["offset"] = None
    out = pd.concat(list(extract_mod._extract_batches([pd.DataFrame(rows)])))
    assert len(out) == len(rows)
    got = [(None if pd.isna(r.in_offset) else int(r.in_offset),
            (r.subs, r.ops_sha, list(r.warnings))) for r in out.itertuples()]
    want = [extract_mod._guarded(row["offset"], extract_one, row["kind"],
                                 row["text"], row["media_ref"])
            for row in rows]
    assert got == want
    n = len(refs)
    assert all("#mrc=" in page[1][0][-1][2] for page in want[:n - 1])
    assert "#bitonal=" in want[n - 1][1][0][0][2]
    assert want[n][1][1] != ""                       # the text page's digest
    assert want[n + 1][1] == ([], "", ["unknown-kind:scan"])
    assert want[n + 2] == (None, ([], "", ["extract-error:ValueError"]))


def test_media_ref_hash_is_deterministic():
    ref = _tiny_media_refs(want=1)[0]
    a = extract_one("media", "", ref)
    b = extract_one("media", "", ref)
    assert a[0] == b[0]


def test_spec_regeneration_stable():
    ref = make_media_ref("doc_000001", 3, 12345)
    s1, s2 = page_spec(ref), page_spec(ref)
    assert s1 == s2
