"""Streaming extraction: continuously ingest new document files and emit
extracted spans, exactly-once per micro-batch.

The reference is batch-only (SURVEY.md §2.5: no streaming exists there);
this is the idiomatic Spark continuous-ingest shape for the same
semantics: a parquet-directory (or Iceberg) stream source feeding the
*identical* batch DAG through ``foreachBatch`` — the batch operators are
reused verbatim, so batch/stream parity is structural, not re-implemented.

Exactly-once: Structured Streaming's checkpoint makes batch REPLAY
possible (a crash after a partial write but before the offset commit
re-runs the micro-batch), so the per-batch writes here are IDEMPOTENT —
each batch lands in its own ``batch=<batch_id>`` directory with
``overwrite`` mode, and a replayed batch simply rewrites the same
directory instead of appending duplicates (the standard foreachBatch
dedup recipe from the Structured Streaming guide).  Readers see the
``batch`` partition column via normal parquet partition discovery.
"""

from __future__ import annotations

import os

from ..operators.checkpoint import commit_unit, span_count_metrics
from ..operators.extract import (OUTPUT_SCHEMA_DDL, extract_spans,
                                 partition_metrics, reassemble)

__all__ = ["stream_extraction", "stream_imagestack"]


def stream_extraction(spark, in_path: str, out_dir: str,
                      checkpoint_dir: str | None = None,
                      trigger_available_now: bool = True,
                      num_partitions: int | None = None):
    """Start the streaming extraction query; returns the StreamingQuery.

    ``in_path``: directory of parquet files in the documents schema; new
    files are picked up per micro-batch.  Output spans land in
    ``out_dir/spans/batch=<id>`` and metrics in
    ``out_dir/metrics/batch=<id>`` — overwrite-per-batch, so a replayed
    micro-batch is idempotent (exactly-once end to end).
    """
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(out_dir, "_stream_checkpoint")

    stream = (spark.readStream
              .schema(OUTPUT_SCHEMA_DDL)
              .parquet(in_path))

    def process_batch(batch_df, batch_id: int):
        commit_unit(extract_spans(batch_df, num_partitions=num_partitions),
                    out_dir, f"batch={batch_id}", "spans",
                    partition_metrics, product=reassemble)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- streaming imagestack ------------------------------------------------

# State per open document: the pages seen so far (index + bytes), the
# document's hOCR markup (if any row carried it), and the expected page
# count (-1 until a row declares it).  Bounded by ONE document's
# not-yet-complete pages — the same bound as the batch group.
_STACK_STATE_DDL = ("idxs array<int>, blobs array<binary>, hocr binary, "
                    "expected int")


def _make_assemble(hocr_col, expected_col, idle_flush_ms):
    from ..operators.imagestack import _doc_rows, _stack_error
    from ..pyworker import group_rows

    def assemble(key, pdf_iter, state):
        import pandas as pd

        (doc_id,) = key

        def frame(rows):
            return pd.DataFrame(rows, columns=["doc_id", "spans"])

        def spans_pdf(idxs, blobs, hocr):
            # the BATCH per-doc body, so stream and batch output are the
            # same function of the same pages
            return frame(group_rows(_doc_rows, _stack_error, True, doc_id,
                                    zip(idxs, blobs), hocr))

        if state.exists:
            idxs, blobs, hocr, expected = state.get
            idxs, blobs = list(idxs), list(blobs)
        else:
            idxs, blobs, hocr, expected = [], [], None, -1

        if state.hasTimedOut:
            # Idle flush: emit what arrived (a straggler-truncated doc
            # is observable as missing trailing pages, never silent
            # partial-duplicate rows) and free the state row.
            state.remove()
            yield spans_pdf(idxs, blobs, hocr)
            return

        for pdf in pdf_iter:
            idxs.extend(int(v) for v in pdf["page_idx"].values)
            blobs.extend(bytes(v) for v in pdf["image"].values)
            if hocr is None and hocr_col and hocr_col in pdf.columns:
                hv = pdf[hocr_col].dropna()
                if len(hv):
                    hocr = bytes(hv.iloc[0])
            if expected_col in pdf.columns:
                ev = pdf[expected_col].dropna()
                if len(ev):
                    expected = int(ev.iloc[-1])
        if any(i < 0 for i in idxs):
            expected = len(idxs)             # whole-item row: complete

        if expected >= 0 and len(idxs) >= expected:
            state.remove()
            yield spans_pdf(idxs, blobs, hocr)
            return

        state.update((idxs, blobs, hocr, expected))
        if idle_flush_ms is not None:
            state.setTimeoutDuration(int(idle_flush_ms))
        yield frame([])

    return assemble


def stream_imagestack(spark, in_path: str, out_dir: str,
                      checkpoint_dir: str | None = None,
                      trigger_available_now: bool = True,
                      hocr_col: str | None = "hocr",
                      expected_col: str | None = "n_pages",
                      idle_flush_ms: int | None = None):
    """Streaming imagestack ingest: continuously pick up new
    (doc_id, page_idx, image[, hocr][, n_pages]) parquet files —
    scanner output landing as pages — and emit per-doc ordered spans.

    Two modes, picked by whether ``expected_col`` names a column the
    input actually has:

    * **stateful** (``n_pages`` present): pages accumulate per doc_id in
      ``applyInPandasWithState`` across micro-batches — a document whose
      pages straddle batch boundaries (or a stream restart) still emits
      ONE complete span row, the moment its declared page count has
      arrived.  Whole-item rows (``page_idx = -1``) complete
      immediately.  ``idle_flush_ms`` optionally flushes a quiescent
      incomplete doc (bounded state for lossy feeds).
    * **per-batch** (no ``n_pages``): the batch operator runs per
      micro-batch; a document must then land within one micro-batch
      (the archival ``*_tif.zip`` whole-item shape always does — it is
      a single row).

    Both modes commit through ``foreachBatch``: ``commit_unit`` writes
    the micro-batch's spans to ``spans/batch=<id>`` and its
    doc/span-count row to ``metrics/batch=<id>``, both overwriting, so
    a replayed micro-batch adds no duplicate rows."""
    from ..operators.imagestack import imagestack_to_spans

    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(out_dir, "_stream_checkpoint")

    # Mode pick: stateful needs the expected-count column in the data.
    have_expected = False
    if expected_col:
        try:
            probe = spark.read.parquet(in_path)
            have_expected = expected_col in probe.columns
        except Exception:  # noqa: BLE001 — empty dir at start time
            have_expected = False

    schema = "doc_id string, page_idx int, image binary" + (
        f", {hocr_col} binary" if hocr_col else "") + (
        f", {expected_col} int" if have_expected else "")
    stream = spark.readStream.schema(schema).parquet(in_path)

    if have_expected:
        from pyspark.sql.streaming.state import GroupStateTimeout

        timeout = (GroupStateTimeout.NoTimeout if idle_flush_ms is None
                   else GroupStateTimeout.ProcessingTimeTimeout)
        stream = (stream.groupBy("doc_id")
                  .applyInPandasWithState(
                      _make_assemble(hocr_col, expected_col, idle_flush_ms),
                      OUTPUT_SCHEMA_DDL, _STACK_STATE_DDL, "append",
                      timeout))

    def process_batch(batch_df, batch_id: int):
        staged = (batch_df if have_expected
                  else imagestack_to_spans(batch_df, hocr_col=hocr_col))
        commit_unit(staged, out_dir, f"batch={batch_id}", "spans",
                    span_count_metrics)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
