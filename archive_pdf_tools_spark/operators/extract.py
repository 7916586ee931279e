"""The page-content extraction operator.

Dataflow (SURVEY.md §7.1, re-deriving the reference's two-pass ``recode()``
pipeline ``recode.py:562-796`` as one DataFrame DAG)::

    documents (doc_id, spans)                         -- Iceberg/Parquet scan
      -> inline(spans)                                -- span/page rows
      -> salted repartition on xxhash64(doc_id, offset)   [skew: SURVEY §4]
      -> mapInArrow EXTRACT (C/NumPy kernels; Arrow batches in and out)
      -> groupBy(doc_id): array_sort(collect_list(...)) -> re-numbered spans

The kernel body runs per span (a span is a whole page — the unit of
vectorization is the page raster / word array, exactly like the
reference's per-page kernels).  No per-row Spark-level Python UDFs.  Span
rows cross the Python boundary once, as Arrow record batches: the body
reads the payload, kind, offset and media_ref columns straight from them,
a text page's JSON payload is parsed in C from the Arrow data buffer
(``textlayer.parse_payload``; orjson + the Python packer only for pages
the C parser declines), and the page rows go back as one record batch
built by ``pyworker.arrow_batch``, without pandas.  ``_extract_batches``
is the same body behind a pandas-in/pandas-out adapter, for in-process
callers.

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
import time
from typing import Iterable, Iterator

import numpy as np
import orjson
import pandas as pd
import pyarrow as pa

from ..corpus.rasters import page_spec, render_raster, spec_word_data
from ..kernels.dpi import page_geometry, pick_font_scaler
from ..kernels.mrc import DENOISE_NONE, mrc_mask_phase
from ..kernels.optimise import (fast_mask_denoise_batch,
                                optimise_gray2_batch, optimise_rgb2_batch)
from ..kernels.textlayer import parse_payload, render_text_layer
from ..pyworker import SPANS_DDL, arrow_batch, number_spans, python_task

__all__ = ["extract_one", "extract_document_local", "extract_spans",
           "mrc_spans", "reassemble", "partition_metrics",
           "INTERMEDIATE_SCHEMA_DDL", "OUTPUT_SCHEMA_DDL"]

INTERMEDIATE_SCHEMA_DDL = (
    "doc_id string, in_offset int, page_kind string, ops_sha string, "
    "warnings array<string>, elapsed_ms double, "
    "subs array<struct<kind:string,text:string,media_ref:string>>"
)

OUTPUT_SCHEMA_DDL = f"doc_id string, spans {SPANS_DDL}"

# INTERMEDIATE_SCHEMA_DDL as Spark maps it to Arrow (list items are
# named "element"), and the span rows the extraction body reads.
_SUB_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string())])
PAGE_ROW_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("in_offset", pa.int32()),
    ("page_kind", pa.string()), ("ops_sha", pa.string()),
    ("warnings", pa.list_(pa.field("element", pa.string()))),
    ("elapsed_ms", pa.float64()),
    ("subs", pa.list_(pa.field("element", _SUB_TYPE)))])
_SPAN_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32())])


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


def _text_page(payload):
    """A parsed text payload -> (subs, ops_sha, warnings).  The
    paragraphs are a list, or a ``PackedPage`` from ``parse_payload``."""
    page = payload["page"]
    width, height, ppi, warnings = page_geometry(
        page["w"], page["h"], doc_dpi=page.get("dpi"))
    # the hOCR font scaler applies to font sizes only (consumed at
    # pdfrenderer.py:166); geometry stays in pixels
    scaler = pick_font_scaler(page.get("scan_res"), ppi)
    res = render_text_layer(payload["paragraphs"], width, height, ppi,
                            hocr_ppi=page.get("scan_res"),
                            font_scale=scaler)
    ops_sha = hashlib.sha1(res.text_ops).hexdigest()[:16]
    if res.dropped_codepoints:
        warnings.append("dropped-codepoints")
    return ([("text", line_text, "") for line_text in res.lines], ops_sha,
            warnings)


def extract_one(kind: str, text, media_ref: str):
    """Extract one input span -> (list of (kind, text, media_ref),
    ops_sha, warnings).  Pure function of the inputs.  ``text`` is a
    text span's JSON payload, or that payload already parsed by
    ``textlayer.parse_payload``.

    The kernels run one page at a time (``mrc.py:334-471``; the batch
    kernels get a batch of one), called through this module's globals
    so that perfbench's kernel sample can time each by patching it."""
    if kind == "text":
        return _text_page(text if isinstance(text, dict)
                          else orjson.loads(text))
    if kind != "media":
        return [], "", [f"unknown-kind:{kind}"]
    spec = page_spec(media_ref)
    raster = render_raster(spec)
    if spec["bitonal"]:
        return ([("media", "", f"{media_ref}#bitonal={_sha12(raster)}")],
                "", [])
    word_data = spec_word_data(spec)
    mask, decisions, warnings = mrc_mask_phase(
        raster, word_data, dpi=spec["dpi"], denoise_mask=DENOISE_NONE)
    mask = fast_mask_denoise_batch(mask[None], 4, 2)[0]     # mrc.py:388
    optimise = (optimise_rgb2_batch if raster.ndim == 3
                else optimise_gray2_batch)
    fg = optimise(mask[None], raster[None], 3)[0]
    bg = optimise(~mask[None], raster[None], 10)[0]
    return (mrc_spans(media_ref, word_data, decisions, mask, fg, bg), "",
            warnings)


def _guarded(offset, page, *args):
    """The poison-row guard, shared by the Spark body and the oracle:
    ``(int(offset), page(*args))``, where ``page`` returns (subs, ops_sha,
    warnings).  If either raises (a malformed payload, a null offset),
    the page is empty and its one warning names the error: a malformed
    span must not kill a 10^12-doc job, and the metrics table surfaces
    the error.  A null offset is a ``ValueError`` whether it arrives as
    None (Arrow, the oracle) or as NaN (a pandas frame)."""
    in_offset = None
    try:
        if offset is None:
            raise ValueError("null offset")
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


class _Payloads:
    """A batch's text column: each row's UTF-8 bytes where they sit in
    the Arrow data buffer, as an address and a length for the compiled
    parser; a row becomes a ``str`` only for the Python path.  Offsets
    that do not stay inside the data buffer send every row there."""

    def __init__(self, col):
        self.col = pa.array(col, pa.string())
        _valid, offsets, data = self.col.buffers()
        ends = np.frombuffer(offsets, np.int32, len(self.col) + 1,
                             4 * self.col.offset)
        size = data.size if data is not None else 0
        self.ok = bool(ends[0] >= 0 and ends[-1] <= size
                       and (np.diff(ends) >= 0).all())
        self.ends = ends.tolist()
        self.base = data.address if data is not None else 0

    def value(self, slot):
        return self.col[slot].as_py()

    def parse(self, slot):
        if not self.ok:
            return None
        start = self.ends[slot]
        return parse_payload(
            self.base + start, self.ends[slot + 1] - start,
            lambda: orjson.loads(self.value(slot))["paragraphs"])


def _extract_pages(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Span rows -> one page row per span (``PAGE_ROW_SCHEMA``): each
    row is ``extract_one`` under the poison-row guard, timed on its own;
    a text payload the compiled parser accepts reaches it parsed."""
    texts = _Payloads(batch.column("text"))

    def page(slot, kind, media_ref):
        text = None
        if kind == "text":              # parse() None: parse it in Python
            text = texts.parse(slot) or texts.value(slot)
        return extract_one(kind, text, media_ref)

    offsets, results, elapsed = [], [], []
    rows = zip(batch.column("offset").to_pylist(),
               batch.column("kind").to_pylist(),
               batch.column("media_ref").to_pylist())
    for slot, (offset, kind, media_ref) in enumerate(rows):
        t0 = time.perf_counter()
        in_offset, result = _guarded(offset, page, slot, kind, media_ref)
        elapsed.append((time.perf_counter() - t0) * 1000.0)
        offsets.append(in_offset)
        results.append(result)

    subs, shas, warnings = zip(*results) if results else ((), (), ())
    return arrow_batch([batch.column("doc_id"), offsets,
                        batch.column("kind"), shas, warnings, elapsed, subs],
                       PAGE_ROW_SCHEMA)


def _coalesced(batches):
    """Record batches concatenated to >= 512 rows each: under a small
    ``arrow.maxRecordsPerBatch`` (the session keeps it low for the
    payload-heavy queries) a batch's fixed cost (its column conversions
    in, its Arrow arrays out) would be paid every 64 rows; without this
    ``extract_text`` read slower in 5 of 6 A/B pairs (median throughput
    ratio 0.97).  Memory-safe: span rows are small (refs + hOCR payloads
    — rasters are rendered inside this stage and never cross the
    boundary)."""
    min_rows = 512
    pending: list = []
    rows = 0
    for b in batches:
        pending.append(b)
        rows += b.num_rows
        if rows >= min_rows:
            yield _concat(pending)
            pending, rows = [], 0
    if pending:
        yield _concat(pending)


def _concat(batches):
    if len(batches) == 1:
        return batches[0]
    merged = pa.Table.from_batches(batches).combine_chunks().to_batches()
    return merged[0] if merged else batches[0]


@python_task
def _extract_arrow(batches: Iterable[pa.RecordBatch]
                   ) -> Iterator[pa.RecordBatch]:
    """mapInArrow body: span rows in, one page row per span out."""
    for batch in _coalesced(batches):
        yield _extract_pages(batch)


def _extract_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``_extract_arrow`` for pandas frames of span rows (in-process
    callers: the kernel sample, tests): page rows come back as frames
    whose ``warnings`` are lists of ``str`` and whose ``subs`` are lists
    of ``(kind, text, media_ref)`` tuples."""
    spans = (pa.RecordBatch.from_pandas(pdf, schema=_SPAN_SCHEMA,
                                        preserve_index=False)
             for pdf in batches)
    for out in _extract_arrow(spans):
        cols = out.to_pydict()
        cols["subs"] = [[(s["kind"], s["text"], s["media_ref"]) for s in subs]
                        for subs in cols["subs"]]
        yield pd.DataFrame(cols)


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
    return salted.mapInArrow(_extract_arrow, schema=INTERMEDIATE_SCHEMA_DDL)


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
