"""The page-content extraction operator.

Dataflow (SURVEY.md §7.1, re-deriving the reference's two-pass ``recode()``
pipeline ``recode.py:562-796`` as one DataFrame DAG)::

    documents (doc_id, spans)                         -- Iceberg/Parquet scan
      -> inline(spans)                                -- span/page rows
      -> salted repartition on xxhash64(doc_id, offset)   [skew: SURVEY §4]
      -> mapInPandas EXTRACT (NumPy kernels, Arrow batches)
      -> groupBy(doc_id): array_sort(collect_list(...)) -> re-numbered spans

The kernel body is plain NumPy per span (a span is a whole page — the unit
of vectorization is the page raster / word array, exactly like the
reference's per-page kernels).  No per-row Spark-level Python UDFs.

Per-span outputs:

* text input span  -> one output text span per surviving hOCR line
  (paragraph empty-skip ``pdfrenderer.py:92-103``; invalid codepoints
  dropped ``pdfrenderer.py:529-544``), placement digest = sha1 of the
  exact text-op byte stream (pins the baseline math bit-for-bit).
* media input span -> regenerate raster from ``media_ref`` (corpus
  contract), full MRC decomposition (``mrc.py:334-471`` semantics), one
  output text span per line *accepted by the hOCR-mask decision tree*
  (``mrc.py:240-266``), then one media span whose ref carries content
  hashes of (mask, fg, bg) — pins Sauvola/denoise/optimise bit-for-bit.
* bitonal media (the reference's 1-bit passthrough ``recode.py:376-396``)
  -> single media span with the raster hash, no segmentation.

The intermediate is one row per input span (page): its kind, kernel
timing, warnings and placement digest, plus the ordered output spans in a
``subs`` array.  ``reassemble`` sorts a document's pages and flattens their
``subs`` (so documents whose spans produce nothing still appear, with empty
span arrays) and ``partition_metrics`` aggregates the page rows — mirroring
the reference's per-page timing/errors reporting (``recode.py:237-262,
494-525``; errors set ``const.py:35-45``).
"""

from __future__ import annotations

import hashlib
import json
import time
from typing import Iterable, Iterator

try:                                    # optional fast path for the per-page
    import orjson as _fastjson          # payload parse; stdlib json is the
except ImportError:                     # fallback where it is not installed
    _fastjson = None

def _loads(payload: str):
    # Measured (cProfile over 376 text-heavy pages): even the stdlib
    # parse is ~4% of the text-span kernel, and the workers take the
    # orjson path whenever the package is installed.  A
    # typed-struct payload via from_json would swap a 4% Python parse
    # for a JVM Jackson parse + Arrow struct transfer + pandas dict
    # materialization; not worth the golden-stability risk.  Re-measure
    # if the payload schema grows.
    if _fastjson is not None:
        return _fastjson.loads(payload)
    return json.loads(payload)

import numpy as np
import pandas as pd

from ..corpus.rasters import page_spec, render_raster, spec_word_data
from ..kernels.dpi import page_geometry, pick_font_scaler
from ..kernels.mrc import mrc_mask_phase
from ..kernels.optimise import (fast_mask_denoise_batch,
                                optimise_gray2_batch, optimise_rgb2_batch)
from ..kernels.textlayer import render_text_layer
from ..pyworker import number_spans, python_task

__all__ = ["extract_one", "extract_document_local", "extract_spans",
           "mrc_spans", "reassemble", "partition_metrics",
           "INTERMEDIATE_SCHEMA_DDL", "OUTPUT_SCHEMA_DDL"]

INTERMEDIATE_SCHEMA_DDL = (
    "doc_id string, in_offset int, page_kind string, ops_sha string, "
    "warnings array<string>, elapsed_ms double, "
    "subs array<struct<kind:string,text:string,media_ref:string>>"
)

OUTPUT_SCHEMA_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _sha12(arr: np.ndarray) -> str:
    return hashlib.sha1(np.ascontiguousarray(arr).tobytes()).hexdigest()[:12]


def mrc_spans(ref: str, word_data: list, decisions, mask: np.ndarray,
              fg: np.ndarray, bg: np.ndarray) -> list[tuple[str, str, str]]:
    """One MRC-decomposed image -> its output spans: the text of every
    hOCR line the mask accepted, in line order, then one media span
    ``<ref>#mrc=<mask>-<fg>-<bg>`` carrying the components' content
    hashes."""
    out = [("text", " ".join(
                w["text"]
                for w in word_data[d.para_idx]["lines"][d.line_idx]["words"]),
            "")
           for d in decisions if d.accepted]
    out.append(("media", "",
                f"{ref}#mrc={_sha12(mask)}-{_sha12(fg)}-{_sha12(bg)}"))
    return out


def _media_phase_a(media_ref: str, apply_denoise: bool = True):
    """Per-page part of the media path: raster, masks, line decisions.
    With ``apply_denoise=False`` the mask still needs the (batched)
    denoise pass before hashing/optimise."""
    spec = page_spec(media_ref)
    raster = render_raster(spec)
    if spec["bitonal"]:
        return {"bitonal": True, "spec": spec, "raster": raster}
    word_data = spec_word_data(spec)
    mask, decisions, warnings = mrc_mask_phase(
        raster, word_data, dpi=spec["dpi"], apply_denoise=apply_denoise)
    return {"bitonal": False, "spec": spec, "raster": raster, "mask": mask,
            "word_data": word_data, "decisions": decisions,
            "warnings": warnings}


def extract_one(kind: str, text: str, media_ref: str):
    """Extract one input span -> (list of (kind, text, media_ref),
    ops_sha, warnings).  Pure function of the inputs."""
    warnings: list[str] = []
    out: list[tuple[str, str, str]] = []
    ops_sha = ""

    if kind == "text":
        payload = _loads(text)
        page = payload["page"]
        width, height, ppi, warns = page_geometry(
            page["w"], page["h"], doc_dpi=page.get("dpi"))
        warnings.extend(warns)
        # the hOCR font scaler applies to font sizes only (consumed at
        # pdfrenderer.py:166); geometry stays in pixels
        scaler = pick_font_scaler(page.get("scan_res"), ppi)
        res = render_text_layer(payload["paragraphs"], width, height, ppi,
                                hocr_ppi=page.get("scan_res"),
                                font_scale=scaler)
        ops_sha = hashlib.sha1(res.text_ops).hexdigest()[:16]
        for line_text in res.lines:
            out.append(("text", line_text, ""))
        if res.dropped_codepoints:
            warnings.append("dropped-codepoints")

    elif kind == "media":
        pa = _media_phase_a(media_ref)
        if pa["bitonal"]:
            out.append(("media", "",
                        f"{media_ref}#bitonal={_sha12(pa['raster'])}"))
        else:
            warnings.extend(pa["warnings"])
            raster, mask = pa["raster"], pa["mask"]
            if raster.ndim == 3:
                fg = optimise_rgb2_batch(mask[None], raster[None], 3)[0]
                bg = optimise_rgb2_batch(~mask[None], raster[None], 10)[0]
            else:
                fg = optimise_gray2_batch(mask[None], raster[None], 3)[0]
                bg = optimise_gray2_batch(~mask[None], raster[None], 10)[0]
            out.extend(mrc_spans(media_ref, pa["word_data"],
                                 pa["decisions"], mask, fg, bg))
    else:
        warnings.append(f"unknown-kind:{kind}")

    return out, ops_sha, warnings


def _guarded(offset, page, *args):
    """The poison-row guard, shared by the Spark body and the oracle:
    ``(int(offset), page(*args))``, where ``page`` returns (subs, ops_sha,
    warnings).  If either raises (a malformed payload, a null offset),
    the page is empty and its one warning names the error: a malformed
    span must not kill a 10^12-doc job, and the metrics table surfaces
    the error."""
    in_offset = None
    try:
        in_offset = int(offset)
        return in_offset, page(*args)
    except Exception as exc:  # noqa: BLE001
        return in_offset, ([], "", [f"extract-error:{type(exc).__name__}"])


def extract_document_local(doc: dict, skip_offsets=None,
                           stop_after: int | None = None) -> dict:
    """Single-process reference runner (test oracle / bench baseline):
    same kernels, same ordering contract, same poison-row guard, no
    Spark.  Null offsets sort first and fall to a non-empty skip
    filter, as in Spark's ``orderBy`` and ``isin``."""
    rows = []
    skip = set(skip_offsets or ())
    kept = 0
    for span in sorted(doc["spans"],
                       key=lambda s: (s["offset"] is not None, s["offset"])):
        if skip and (span["offset"] is None      # recode.py:114-118
                     or span["offset"] in skip):
            continue
        if stop_after is not None and kept >= stop_after:
            break                            # recode.py:120-121
        kept += 1
        _offset, (subs, _sha, _warns) = _guarded(
            span["offset"], extract_one, span["kind"], span["text"],
            span["media_ref"])
        rows.extend(subs)
    return {"doc_id": doc["doc_id"], "spans": number_spans(rows)}


@python_task
def _extract_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: span rows in, one page row per span out.

    Non-bitonal media pages are executed in two phases: per-page mask
    building, then fg/bg optimise *batched across same-shape pages* of
    the Arrow batch (the sequential IIR row loop runs once per shape
    group instead of once per page — measured ~3x on the optimise
    kernel).  Results are bit-identical to the per-page path (tested).

    Incoming Arrow batches are coalesced to >= ``min_batch_rows`` before
    processing: under a small ``arrow.maxRecordsPerBatch`` (the session
    keeps it low for the payload-heavy queries) the same-shape optimise/
    denoise groups degenerate to ~1-2 pages each and their batch-
    vectorized row loops stop amortizing (measured 1.7 pages/group at
    64-row batches).  Coalescing is memory-safe here because span rows
    are small (refs + hOCR payloads — rasters are rendered inside this
    stage and never cross the boundary)."""
    # Cap the pixels stacked per optimise group (memory bound per worker).
    max_group_px = 4_000_000
    min_batch_rows = 512

    def _coalesced(it):
        pending = []
        pending_rows = 0
        for b in it:
            pending.append(b)
            pending_rows += len(b)
            if pending_rows >= min_batch_rows:
                yield pd.concat(pending) if len(pending) > 1 else pending[0]
                pending, pending_rows = [], 0
        if pending:
            yield pd.concat(pending) if len(pending) > 1 else pending[0]

    for pdf in _coalesced(batches):
        n = len(pdf)
        results: list = [None] * n          # slot -> (subs, ops_sha, warns)
        offsets: list = [None] * n
        elapsed = [0.0] * n
        deferred: dict[tuple, list] = {}    # (h,w,ndim) -> [(slot, pa)]

        rows = list(zip(pdf["doc_id"].values, pdf["offset"].values,
                        pdf["kind"].values, pdf["text"].values,
                        pdf["media_ref"].values))

        def first_phase(slot, kind, text, media_ref):
            if kind != "media":
                return extract_one(kind, text, media_ref)
            pa = _media_phase_a(media_ref, apply_denoise=False)
            if pa["bitonal"]:
                return ([("media", "",
                          f"{media_ref}#bitonal={_sha12(pa['raster'])}")],
                        "", [])
            deferred.setdefault(pa["raster"].shape, []).append((slot, pa))
            return None                     # filled in by the batched phase

        for slot, (_doc, offset, kind, text, media_ref) in enumerate(rows):
            t0 = time.perf_counter()
            # a null offset arrives as NaN and fails int() in the guard
            offsets[slot], results[slot] = _guarded(
                offset, first_phase, slot, kind, text, media_ref)
            elapsed[slot] = (time.perf_counter() - t0) * 1000.0

        for key, group in deferred.items():
            px = int(np.prod(key))
            chunk = max(1, max_group_px // max(px, 1))
            for i in range(0, len(group), chunk):
                part = group[i:i + chunk]
                t0 = time.perf_counter()
                masks = fast_mask_denoise_batch(
                    np.stack([pa["mask"] for _s, pa in part]), 4, 2)
                for j, (_s, pa) in enumerate(part):
                    pa["mask"] = masks[j]     # denoised mask is hashed
                imgs = np.stack([pa["raster"] for _s, pa in part])
                if imgs.ndim == 4:
                    fg = optimise_rgb2_batch(masks, imgs, 3)
                    bg = optimise_rgb2_batch(~masks, imgs, 10)
                else:
                    fg = optimise_gray2_batch(masks, imgs, 3)
                    bg = optimise_gray2_batch(~masks, imgs, 10)
                share = (time.perf_counter() - t0) * 1000.0 / len(part)
                for j, (slot, pa) in enumerate(part):
                    media_ref = rows[slot][4]
                    results[slot] = (
                        mrc_spans(media_ref, pa["word_data"],
                                  pa["decisions"], pa["mask"], fg[j], bg[j]),
                        "", list(pa["warnings"]))
                    elapsed[slot] += share

        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].values, "in_offset": offsets,
            "page_kind": pdf["kind"].values,
            "ops_sha": [r[1] for r in results],
            "warnings": [r[2] for r in results],
            "elapsed_ms": elapsed, "subs": [r[0] for r in results]})


def extract_spans(documents_df, num_partitions: int | None = None,
                  skip_offsets=None, stop_after: int | None = None):
    """documents (doc_id, spans) -> intermediate page rows.

    Explicit skew handling: pages of one huge document are spread across
    all partitions by hashing (doc_id, offset) — the reference analogue is
    none (single process); see SURVEY.md §4.

    ``skip_offsets``: page offsets to drop (the reference's scandata
    skip-page filter, ``recode.py:114-118`` — an anti-join semantically).
    ``stop_after``: keep only the first N *surviving* pages per document
    (``recode.py:120-121``: applied after the skip filter, hence the
    row_number window over the filtered rows).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    exploded = documents_df.select("doc_id", F.inline("spans"))
    if skip_offsets:
        exploded = exploded.where(~F.col("offset").isin(list(skip_offsets)))
    if stop_after is not None:
        w = Window.partitionBy("doc_id").orderBy("offset")
        exploded = (exploded
                    .withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") <= stop_after)
                    .drop("_rn"))
    if num_partitions is None:
        num_partitions = documents_df.sparkSession.sparkContext.defaultParallelism
    # Full-cardinality salt: repartition on the raw 64-bit hash, NOT on
    # hash % P — a P-valued salt re-hashed into P partitions leaves ~1/e
    # of them empty (balls-into-bins), silently cutting parallelism.
    salted = exploded.repartition(num_partitions,
                                  F.xxhash64("doc_id", "offset"))
    return salted.mapInPandas(_extract_batches, schema=INTERMEDIATE_SCHEMA_DDL)


def reassemble(extracted_df):
    """Page rows -> (doc_id, spans) with contiguous re-numbered offsets.

    Order is data, never partition order (SURVEY.md §7.4): array_sort on
    in_offset restores page order after the shuffle, ``flatten`` joins the
    pages' ``subs`` (each page's spans stay together, also when two pages
    share an offset) and ``transform`` renumbers — all JVM-side, no
    Python.  A document whose pages emit nothing gets spans = [].
    """
    from pyspark.sql import functions as F

    pages = F.array_sort(F.collect_list(F.struct("in_offset", "subs")))
    return (extracted_df
            .groupBy("doc_id")
            .agg(F.flatten(pages["subs"]).alias("_s"))
            .select(
                "doc_id",
                F.transform(
                    "_s",
                    lambda x, i: F.struct(
                        x["kind"].alias("kind"),
                        x["text"].alias("text"),
                        x["media_ref"].alias("media_ref"),
                        i.cast("int").alias("offset"))).alias("spans")))


def placements(extracted_df):
    """Per-page placement digests: sha1 of the exact text-op byte stream
    the reference would emit for the page (``pdfrenderer.py:61-207``
    semantics) — a queryable artifact pinning the baseline/affine math."""
    from pyspark.sql import functions as F

    return (extracted_df
            .where(F.col("ops_sha") != "")
            .select("doc_id", "in_offset", "ops_sha"))


def partition_metrics(extracted_df):
    """Per-partition lineage + metrics rows from the page rows."""
    from pyspark.sql import functions as F

    return (extracted_df
            .select(F.spark_partition_id().alias("partition_id"),
                    "doc_id", "elapsed_ms", "warnings", "page_kind")
            .groupBy("partition_id")
            .agg(F.countDistinct("doc_id").alias("doc_count"),
                 F.count("*").alias("page_count"),
                 F.sum(F.when(F.col("page_kind") == "text", 1).otherwise(0))
                  .alias("text_pages"),
                 F.sum(F.when(F.col("page_kind") == "media", 1).otherwise(0))
                  .alias("media_pages"),
                 F.sum("elapsed_ms").alias("kernel_ms"),
                 F.array_distinct(F.flatten(F.collect_list("warnings")))
                  .alias("warning_kinds")))
