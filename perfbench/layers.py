"""Per-layer metrics of a traced run.

Spark's own per-stage counters come from the driver's event log of the
traced session; only the stages of jobs run under the local property
``perfbench.pass=traced`` count.  A stage is assigned to a layer by the
physical operators in its RDD scopes:

* scan: lists and reads the staged parquet table (``Scan parquet``, or
  no SQL operator at all: the footer job of ``spark.read.parquet``),
  explodes the span arrays and writes the salted
  ``xxhash64(doc_id, offset)`` exchange;
* kernel: runs ``MapInPandas`` (the extraction kernels) on fresh rows,
  not on a cached relation;
* regroup: every other stage of the pass -- the ``groupBy(doc_id)``
  regroup and the sink; on the sharded path also the per-shard metrics
  table, which reads the persisted kernel output.

The regroup exchange is what stages holding an ``ObjectHashAggregate``
write (its partial side); on the sharded path that includes the small
metrics-table aggregate.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

__all__ = ["stage_layers", "per_layer"]

MB = 2 ** 20
PASS_PROPERTY = "perfbench.pass"     # Spark local property naming the pass

_NO_SQL = {"parallelize", "mapPartitions"}


def _scopes(stage_info: dict) -> set:
    return {json.loads(rdd["Scope"]).get("name", "")
            for rdd in stage_info.get("RDD Info", ()) if rdd.get("Scope")}


def _layer(names: set) -> str:
    if names <= _NO_SQL or any(n.startswith("Scan parquet") for n in names):
        return "scan"
    if "MapInPandas" in names and "InMemoryTableScan" not in names:
        return "kernel"
    return "regroup"


def _empty_layer() -> dict:
    return {"records_read": 0, "shuffle_write": 0, "regroup_write": 0,
            "spill": 0, "run_ms": 0, "wall_ms": 0, "skews": []}


def stage_layers(event_log_dir: str) -> dict:
    """{layer: counters summed over the stages of the traced pass's jobs
    that ran tasks}: input records read, shuffle bytes written (all, and
    by aggregating stages), bytes spilled, executor run time, stage wall
    time, and per stage the max/median task time."""
    files = glob.glob(os.path.join(event_log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log, found {files}")
    pass_stages: set = set()
    infos: dict = {}
    tasks: dict = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get(PASS_PROPERTY) \
                        == "traced":
                    pass_stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                infos[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)

    layers: dict = {}
    for sid in sorted(pass_stages):
        if sid not in infos or not tasks.get(sid):
            continue                      # skipped: shuffle output reused
        info = infos[sid]
        names = _scopes(info)
        agg = layers.setdefault(_layer(names), _empty_layer())
        times = []
        for ev in tasks[sid]:
            m = ev.get("Task Metrics") or {}
            ti = ev["Task Info"]
            agg["records_read"] += (m.get("Input Metrics") or {}).get(
                "Records Read", 0)
            written = (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            agg["shuffle_write"] += written
            if "ObjectHashAggregate" in names:
                agg["regroup_write"] += written
            agg["spill"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
            agg["run_ms"] += m.get("Executor Run Time", 0)
            times.append(ti["Finish Time"] - ti["Launch Time"])
        agg["wall_ms"] += info["Completion Time"] - info["Submission Time"]
        if len(times) > 1 and statistics.median(times) > 0:
            agg["skews"].append(max(times) / statistics.median(times))
    return layers


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def per_layer(res: dict, work: str, n_pages: int, n_docs: int,
              slots: int, native_ok: bool) -> dict:
    """The per-layer metric values of one traced run, by name.  A layer
    the workload does not run (raster kernels on an all-text corpus,
    shard commits on the extract workloads) reads 0."""
    layers = stage_layers(os.path.join(work, "eventlog"))
    scan = layers.get("scan", _empty_layer())
    kernel = layers.get("kernel", _empty_layer())
    regroup = layers.get("regroup", _empty_layer())
    kernel_busy_s = kernel["run_ms"] / 1000.0
    kms = res["kernel_ms_per_page"]
    kernel_total_s = sum(kms.values()) * n_pages / 1000.0
    ckpt = res.get("checkpoint") or {}
    intervals = ckpt.get("intervals") or [0.0]
    out = os.path.join(work, "out")
    return {
        "sources.rows_read_ratio": scan["records_read"] / n_docs,
        "sources.scan_busy_s": scan["run_ms"] / 1000.0,
        "extract.salted_exchange_mb": scan["shuffle_write"] / MB,
        "extract.regroup_exchange_mb": sum(
            l["regroup_write"] for l in layers.values()) / MB,
        "extract.regroup_busy_s": regroup["run_ms"] / 1000.0,
        "extract.kernel_stage_busy_s": kernel_busy_s,
        "extract.kernel_stage_util": (
            kernel["run_ms"] / (kernel["wall_ms"] * slots)
            if kernel["wall_ms"] else 0.0),
        "extract.kernel_stage_skew": (
            statistics.median(kernel["skews"]) if kernel["skews"] else 0.0),
        "extract.spill_mb": sum(l["spill"] for l in layers.values()) / MB,
        "extract.udf_overhead_share": (
            1.0 - kernel_total_s / kernel_busy_s if kernel_busy_s else 0.0),
        "corpus.render_raster_ms": kms["corpus.render_raster"],
        "kernels.mrc_mask_ms": kms["kernels.mrc_mask"],
        "kernels.denoise_ms": kms["kernels.denoise"],
        "kernels.optimise_ms": kms["kernels.optimise"],
        "kernels.text_layout_ms": kms["kernels.text_layout"],
        "kernels.native_loaded": 1 if native_ok else 0,
        "checkpoint.shard_s_median": statistics.median(intervals),
        "checkpoint.shard_s_max": max(intervals),
        "checkpoint.commits": ckpt.get("commits", 0),
        "checkpoint.resume_s": ckpt.get("resume_s", 0.0),
        "checkpoint.output_mb": (_dir_bytes(os.path.join(out, "spans"))
                                 + _dir_bytes(os.path.join(out, "metrics")))
        / MB,
        # against the untraced pass just before: passes still speed up as
        # the JVM warms, so the median of all would flatter the tracing
        "trace.overhead_share": (res["traced_pass_s"]
                                 / res["timed_pass_s"][-1] - 1.0),
    }
