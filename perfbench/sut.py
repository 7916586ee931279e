"""The system under test: one Spark driver process running a closed loop.

``run.py`` starts this file as a child process.  It starts a ``local[N]``
session sized to the host, runs untimed warm-up passes (the first writes
parquet through the engine, for the correctness check), then runs timed
passes back to back, one job at a time, until ``--seconds`` have passed.
With ``--trace 1`` it then runs one more pass with spans recorded around
every call into a layer, stops the session and runs the extraction
operator's own batch function over a sample of the workload's own pages
in this single process, with each kernel call timed.

Results go to ``<work>/result.json``; spans to ``<work>/spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import PASS_PROPERTY  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Spark's default driver heap, which job.py runs with too.  The workloads'
# live data is far smaller; with a quarter of a 16 GB host instead, the
# JVM's resident size swung between 1.0 and 1.8 GB from run to run with
# GC timing alone.
DRIVER_HEAP = "1g"
KERNEL_SAMPLE_PAGES = 240
KERNEL_SAMPLE_MIN_S = 2.0      # repeat the sample until this much time
MIN_TIMED_PASSES = 3
# Untimed passes before the timed ones.  Pass times keep falling for a
# while in a fresh session (JIT, Python worker start): on sharded_resume,
# 4-CPU host, the passes after one warm-up pass read 5.4, 4.6, 4.2, 4.2,
# 4.1 s in one session and 5.0, 4.9, 4.7, 4.3, 4.3 s in another; after
# two, the timed passes still fell (4.98, 4.81, 4.27 s); after three they
# were flatter (4.50, 4.38, 4.45, 4.39 s).
WARMUP_PASSES = 3


def make_session(slots: int, work: str, event_log: str | None):
    from pyspark.sql import SparkSession

    builder = (SparkSession.builder
               .master(f"local[{slots}]")
               .appName("perfbench")
               # the session job.py builds, sized to this host
               .config("spark.sql.adaptive.enabled", "true")
               .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
               .config("spark.driver.memory", DRIVER_HEAP)
               .config("spark.driver.extraJavaOptions",
                       f"-Djava.io.tmpdir={os.environ['TMPDIR']}")
               .config("spark.sql.warehouse.dir",
                       os.path.join(work, "warehouse"))
               .config("spark.executorEnv.PYTHONPATH",
                       os.environ["PYTHONPATH"])
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false"))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", "file://" + event_log)
                   .config("spark.eventLog.rolling.enabled", "false")
                   .config("spark.eventLog.compress", "false"))
    return builder.getOrCreate()


def worker_native_status(spark, slots: int) -> list[str]:
    """``kernels.native.status()`` as each Python worker sees it."""
    def status(_it):
        from archive_pdf_tools_spark.kernels import native
        native.available()
        yield native.status()

    n = 2 * slots
    return sorted(set(spark.sparkContext.parallelize(range(n), n)
                      .mapPartitions(status).collect()))


class ManifestWatcher(threading.Thread):
    """Watches ``_manifest.json`` from outside: each rewrite is a shard
    commit, stamped with the file's mtime (``time.time()`` clock)."""

    def __init__(self, out_dir: str):
        super().__init__(daemon=True)
        self.path = os.path.join(out_dir, "_manifest.json")
        self.commits: list[tuple[float, int]] = []
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(0.005):
            self._poll()

    def _poll(self):
        try:
            mtime = os.stat(self.path).st_mtime_ns / 1e9
            with open(self.path) as fh:
                n = len(json.load(fh)["committed_shards"])
        except (OSError, ValueError, KeyError):
            return
        if n > (self.commits[-1][1] if self.commits else 0):
            self.commits.append((mtime, n))

    def stop(self):
        self._halt.set()
        self.join()
        self._poll()          # the last commit may land after the last poll


class Job:
    """One pass of the workload's entry point over the staged input."""

    def __init__(self, spark, w, input_dir: str, work: str,
                 tracer: Tracer):
        self.spark, self.w, self.tracer = spark, w, tracer
        self.input_dir = input_dir
        self.out_dir = os.path.join(work, "out")

    def _docs(self):
        with self.tracer.span("sources.scan_open"):
            return self.spark.read.parquet(self.input_dir)

    def run(self, sink_dir: str | None = None):
        """Run one pass.  An extract pass writes parquet to ``sink_dir``
        when given (the warm-up, whose output is checked), else to the
        noop sink.  Returns the shard commit timings when tracing a
        sharded pass, else None."""
        if self.w.entry == "extract":
            return self._extract(sink_dir)
        return self._sharded()

    def _extract(self, sink_dir: str | None):
        from archive_pdf_tools_spark.plans import run_extraction

        docs = self._docs()
        with self.tracer.span("plans.run_extraction"):
            out, _ = run_extraction(docs, with_metrics=False)
        if sink_dir:
            with self.tracer.span("sink.parquet"):
                out.write.mode("overwrite").parquet(sink_dir)
        else:
            with self.tracer.span("sink.noop"):
                out.write.mode("overwrite").format("noop").save()
        return None

    def _sharded(self):
        """The whole job: a run stopped after half the shards, then the
        resume that commits the rest."""
        from archive_pdf_tools_spark.operators.checkpoint import (
            run_with_checkpoint)

        shutil.rmtree(self.out_dir, ignore_errors=True)
        s = self.w.shards
        watcher = ManifestWatcher(self.out_dir)
        if self.tracer.enabled:
            watcher.start()
        calls = []
        try:
            for stop_after in (s // 2, None):
                docs = self._docs()
                t = time.time()
                with self.tracer.span("checkpoint.run_with_checkpoint",
                                      stop_after_shards=stop_after):
                    run_with_checkpoint(self.spark, docs, self.out_dir,
                                        shards=s,
                                        stop_after_shards=stop_after)
                calls.append((t, time.time()))
        finally:
            if self.tracer.enabled:
                watcher.stop()
        if not self.tracer.enabled:
            return None
        # a shard's interval runs from the previous commit of the same
        # call, or from the call's start
        intervals = []
        for i, (start, _end) in enumerate(calls):
            nxt = calls[i + 1][0] if i + 1 < len(calls) else float("inf")
            prev = start
            for ts, _n in watcher.commits:
                if start <= ts < nxt:
                    intervals.append(ts - prev)
                    prev = ts
        return {"commits": len(watcher.commits), "intervals": intervals,
                "resume_s": calls[1][1] - calls[1][0]}


# span name -> the names the extraction operator calls that kernel by
KERNELS = {
    "corpus.render_raster": ("render_raster",),
    "kernels.mrc_mask": ("mrc_mask_phase",),
    "kernels.denoise": ("fast_mask_denoise_batch",),
    "kernels.optimise": ("optimise_gray2_batch", "optimise_rgb2_batch"),
    "kernels.text_layout": ("render_text_layer",),
}


def kernel_sample(input_dir: str, n: int):
    """A fixed, evenly strided sample of the input's pages, as the span
    rows the extraction operator's ``mapInPandas`` body takes."""
    import pandas as pd
    import pyarrow.parquet as pq

    pages = [{"doc_id": row["doc_id"], **span}
             for row in pq.read_table(input_dir).to_pylist()
             for span in row["spans"]]
    stride = max(1, len(pages) // n)
    return pd.DataFrame(pages[::stride][:n])


def time_kernels(frame, tracer: Tracer) -> None:
    """Run the extraction operator's own ``mapInPandas`` body over
    ``frame`` in this process, with a span around every kernel call it
    makes: the kernels see the engine's batching and arguments."""
    from archive_pdf_tools_spark.operators import extract

    def timed(name, fn):
        def call(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return call

    saved = {attr: getattr(extract, attr)
             for attrs in KERNELS.values() for attr in attrs}
    for name, attrs in KERNELS.items():
        for attr in attrs:
            setattr(extract, attr, timed(name, saved[attr]))
    try:
        for out in extract._extract_batches([frame.copy()]):
            errors = {w for ws in out["warnings"] for w in ws
                      if w.startswith("extract-error:")}
            if errors:
                raise RuntimeError(f"kernel sample failed: {errors}")
    finally:
        for attr, fn in saved.items():
            setattr(extract, attr, fn)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--slots", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="time.monotonic() when the parent spawned us")
    args = ap.parse_args(argv)
    w = WORKLOADS[args.workload]
    result: dict = {}

    spark = make_session(
        args.slots, args.work,
        os.path.join(args.work, "eventlog") if args.trace else None)
    result["session_ready_s"] = time.monotonic() - args.t0
    from archive_pdf_tools_spark.kernels import native
    native.available()
    result["native_status"] = native.status()
    result["worker_native_status"] = worker_native_status(spark, args.slots)

    untraced = Tracer(False)
    job = Job(spark, w, args.input, args.work, untraced)
    result["warmup_start_s"] = time.monotonic() - args.t0
    job.run(sink_dir=os.path.join(args.work, "warmup_out"))
    for _ in range(WARMUP_PASSES - 1):
        job.run()
    result["setup_s"] = time.monotonic() - args.t0

    passes = []
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(passes) < MIN_TIMED_PASSES:
        t = time.perf_counter()
        job.run()
        passes.append(time.perf_counter() - t)
    result["timed_pass_s"] = passes

    if args.trace:
        tracer = Tracer(True)
        job.tracer = tracer
        spark.sparkContext.setLocalProperty(PASS_PROPERTY, "traced")
        t = time.perf_counter()
        with tracer.span("pass", workload=w.name):
            ckpt = job.run()
        result["traced_pass_s"] = time.perf_counter() - t
        result["checkpoint"] = ckpt
        spark.sparkContext.setLocalProperty(PASS_PROPERTY, None)
    spark.stop()

    if args.trace:
        frame = kernel_sample(args.input, KERNEL_SAMPLE_PAGES)
        timed = 0
        t_end = time.perf_counter() + KERNEL_SAMPLE_MIN_S
        while not timed or time.perf_counter() < t_end:
            with tracer.span("kernel_sample", pages=len(frame)):
                time_kernels(frame, tracer)
            timed += len(frame)
        result["kernel_sample_pages"] = timed
        result["kernel_ms_per_page"] = {
            name: 1000.0 * tracer.total(name) / timed for name in KERNELS}
        tracer.dump(os.path.join(args.work, "spans.json"))
    with open(os.path.join(args.work, "result.json"), "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
