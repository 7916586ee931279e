"""Extraction benchmark: one command per (workload, seed) run.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload extract_text --seed 1 \\
        --seconds 16 --trace 0

This process is the load generator.  It stages the workload's input and
oracle (cached under ``.perfbench/`` per workload, seed and engine source
digest), starts the system under test (``sut.py``: one Spark driver
running a closed loop of one job at a time), samples the resident memory
of that process tree from ``/proc``, checks every document's output
against the oracle and prints one JSON line last.

Each child runs in a session of its own and is waited for together with
every process left in its session; this process also reaps the orphans
below it, and on every way out stops and waits for whatever is left.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from a separate traced pass, Spark's own per-stage
counters and a single-process kernel pass.  Everything it reads and
writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import (WORKLOADS, cache_dir, is_prepared,  # noqa: E402
                       source_digest, span_rows)

PACKAGE = "archive_pdf_tools_spark"
NATIVE_OK = "compiled kernels active"
RUN_DEADLINE_S = 160        # a run must end within 180 s, stopping included


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _proc_stat(pid: int) -> tuple[int, int, int, str] | None:
    """(parent pid, session id, start time, state) of a process, or None
    when gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    fields = stat[stat.rindex(")") + 2:].split()
    return int(fields[1]), int(fields[3]), int(fields[19]), fields[0]


def _all_procs() -> dict[int, tuple[int, int, int, str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st:
                out[int(name)] = st
    return out


def _session(sid: int) -> dict[int, int]:
    """{pid: start time} of every process in session ``sid``.  A child
    started with a session of its own keeps every process it starts in
    it, also those that lost their parent."""
    return {pid: st[2] for pid, st in _all_procs().items() if st[1] == sid}


def _descendants(root: int) -> dict[int, int]:
    """{pid: start time} of every process below ``root``."""
    procs = _all_procs()
    children: dict[int, list[int]] = {}
    for pid, st in procs.items():
        children.setdefault(st[0], []).append(pid)
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = procs[pid][2]
        todo.extend(children.get(pid, ()))
    return out


def _alive(procs: dict[int, int]) -> list[int]:
    """The processes of {pid: start time} that have not ended."""
    left = []
    for pid, start in procs.items():
        st = _proc_stat(pid)
        if st and st[2] == start and st[3] != "Z":
            left.append(pid)
    return left


def _existing(procs: dict[int, int]) -> list[int]:
    """The processes of {pid: start time} still in the process table,
    ended ones whose parent has not yet collected them included."""
    left = []
    for pid, start in procs.items():
        st = _proc_stat(pid)
        if st and st[2] == start:
            left.append(pid)
    return left


def _reap() -> None:
    """Collect the exit status of every ended child of this process,
    orphans handed to it included."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop(members, grace_s: float = 5.0) -> None:
    """Give the processes ``members()`` lists ({pid: start time})
    ``grace_s`` to end on their own, then SIGTERM, then SIGKILL what is
    left, and wait until every one is gone from the process table.
    ``members`` is asked again on every look, so a process started
    meanwhile (a JVM forks while it shuts down) is stopped too."""
    procs: dict[int, int] = {}

    def left() -> list[int]:
        _reap()
        procs.update(members())
        return _existing(procs)

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in _alive(procs) if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while left() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not left():
            return
    raise RuntimeError(f"processes {left()} did not stop")


def _become_subreaper() -> None:
    """Have every process below this one that loses its parent handed to
    this one (Linux ``PR_SET_CHILD_SUBREAPER``), so the final sweep in
    ``main`` finds it wherever it was started."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, each page shared with other
    processes split among them.  Summed over a tree it counts a page
    once, where resident sizes count a forked worker's shared libraries
    (or a JVM caught between fork and exec) again in every process."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class TreeWatcher(threading.Thread):
    """Samples the session of a child started with a session of its own
    from /proc: the peak of its summed resident memory (the JVM and the
    Python workers are in it)."""

    def __init__(self, root: int, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.period_s = root, period_s
        self.peak_bytes = 0
        self.peak_procs: list = []        # [(command, MB)] at the peak
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(self.period_s):
            members = _session(self.root)
            procs = []
            for pid in members:
                try:
                    with open(f"/proc/{pid}/comm") as fh:
                        procs.append((fh.read().strip(), _pss_bytes(pid)))
                except OSError:
                    pass
            total = sum(b for _c, b in procs)
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_procs = sorted(
                    ((c, round(b / 2 ** 20)) for c, b in procs),
                    key=lambda p: -p[1])

    def stop(self):
        self._halt.set()
        self.join()


def _env(root: str, work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                      if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_NATIVE_CACHE": os.path.join(work, "native"),
        "TMPDIR": tmp,
        # no hsperfdata files: the JVM writes those to /tmp, whatever
        # java.io.tmpdir says
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    return env


def check_output(w, cache: str, work: str) -> dict:
    """Compare each document's output with the oracle.  Returns pages
    attempted, pages in failing documents, and the failure reasons."""
    import pyarrow.dataset as ds

    with open(os.path.join(cache, "oracle.json")) as fh:
        oracle = json.load(fh)
    with open(os.path.join(cache, "pages.json")) as fh:
        pages = json.load(fh)
    reasons = []
    if w.entry == "extract":
        table = ds.dataset(os.path.join(work, "warmup_out")).to_table()
    else:
        out = os.path.join(work, "out")
        with open(os.path.join(out, "_manifest.json")) as fh:
            manifest = json.load(fh)
        if manifest.get("committed_shards") != list(range(w.shards)):
            reasons.append(f"manifest lists {manifest}")
        table = ds.dataset(os.path.join(out, "spans"),
                           partitioning="hive").to_table()
        metrics = ds.dataset(os.path.join(out, "metrics"),
                             partitioning="hive").to_table()
        errors = sorted({k for ks in metrics.column("warning_kinds").to_pylist()
                         for k in ks or () if k.startswith("extract-error:")})
        if errors:
            reasons.append(f"error markers {errors}")
        # a shard may hold no document at all (with the heavy tail, a
        # seed can give just two documents, both in one shard), and then
        # it writes no metrics rows; it still writes its directory
        missing = [k for k in range(w.shards) if not os.path.isdir(
            os.path.join(out, "metrics", f"shard={k}"))]
        if missing:
            reasons.append(f"no metrics written for shards {missing}")
        counted = sum(metrics.column("page_count").to_pylist())
        if counted != sum(pages.values()):
            reasons.append(f"metrics count {counted} pages, "
                           f"input has {sum(pages.values())}")

    got: dict = {}
    for row in table.select(["doc_id", "spans"]).to_pylist():
        if row["doc_id"] in got:
            reasons.append(f"duplicate output for {row['doc_id']}")
        got[row["doc_id"]] = span_rows(row["spans"] or [])
    failed_docs = [d for d in oracle if got.get(d) != oracle[d]]
    extra = set(got) - set(oracle)
    if extra:
        reasons.append(f"{len(extra)} documents not in the input")
    if failed_docs:
        reasons.append(f"{len(failed_docs)} documents differ, "
                       f"first {failed_docs[:3]}")
    attempted = sum(pages.values())
    failed = sum(pages[d] for d in failed_docs)
    if reasons and not failed:
        failed = attempted       # a broken commit fails every page
    return {"attempted": attempted, "failed": failed, "reasons": reasons}


def _declared_units(root: str, key: str) -> dict:
    """{metric name: unit} of one metric list in BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


def _cpu_jiffies() -> list[int]:
    """Host-wide CPU time counters from /proc/stat (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def _run_session(what: str, cmd: list, env: dict, log_path: str,
                 timeout_s: float) -> TreeWatcher:
    """Run ``cmd`` to completion in a session of its own, then wait until
    every process left in that session has ended (the JVM exits after
    the driver, the Python daemon after the JVM), stopping those that do
    not.  Returns the watcher of the session."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        tree = TreeWatcher(proc.pid)
        tree.start()
        try:
            rc = proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            tree.stop()
            _stop(lambda: _session(proc.pid))
            proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        _fail(f"{what} exited with {rc}", 1)
    return tree


def main(argv=None):
    _become_subreaper()
    try:
        run(argv)
    finally:
        _stop(lambda: _descendants(os.getpid()))


def run(argv=None):
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    w = WORKLOADS[args.workload]

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        _fail(f"no {PACKAGE}/ under {root}: run from the root of a checkout")
    units = _declared_units(root, "per_layer" if args.trace
                            else "end_to_end")
    work_root = os.path.join(root, ".perfbench")
    work = os.path.join(work_root, "run", w.name)
    env = _env(root, work_root)
    os.environ.update(env)
    sys.path.insert(0, root)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    slots = len(os.sched_getaffinity(0))

    # build: compile the native kernels into the cache (a no-op when the
    # cached library matches the source); the driver and every worker
    # report whether they loaded it
    from archive_pdf_tools_spark.kernels import native
    native.available()

    cache = cache_dir(w, args.seed, os.path.join(work_root, "cache"),
                      source_digest(os.path.join(root, PACKAGE)))
    if not is_prepared(cache):
        _run_session("input preparation",
                     [sys.executable, os.path.join(HERE, "workloads.py"),
                      w.name, str(args.seed), cache, str(slots)],
                     env, os.path.join(work, "prepare.log"),
                     RUN_DEADLINE_S - (time.monotonic() - started))
    with open(os.path.join(cache, "pages.json")) as fh:
        pages = json.load(fh)
    n_pages = sum(pages.values())

    cpu0 = _cpu_jiffies()
    tree = _run_session(
        "system under test",
        [sys.executable, os.path.join(HERE, "sut.py"),
         "--workload", w.name, "--input", os.path.join(cache, "input"),
         "--work", work, "--seconds", str(args.seconds),
         "--trace", str(args.trace), "--slots", str(slots),
         "--t0", repr(time.monotonic())], env,
        os.path.join(work, "sut.log"),
        RUN_DEADLINE_S - (time.monotonic() - started))
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)

    cpu = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
    check = check_output(w, cache, work)
    native_ok = (res["native_status"] == NATIVE_OK
                 and res["worker_native_status"] == [NATIVE_OK])
    if not native_ok:
        # the silent pure-Python fallback is 20-40x slower: a failed run,
        # not a timing
        check["reasons"].append(
            f"native kernels not loaded: driver {res['native_status']!r}, "
            f"workers {res['worker_native_status']!r}")
        check["failed"] = check["attempted"]

    if args.trace:
        from layers import per_layer
        values = per_layer(res, work, n_pages, len(pages), slots,
                           native_ok)
    else:
        values = {"pages_per_s": n_pages / statistics.median(
                      res["timed_pass_s"]),
                  "setup_s": res["setup_s"],
                  "peak_rss_mb": tree.peak_bytes / 2 ** 20}
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(values)} differ from "
                           f"BENCHMARK.json {sorted(units)}")
    metrics = {name: {"value": values[name], "unit": unit}
               for name, unit in units.items()} if native_ok else {}

    print(json.dumps({
        "workload": w.name, "seed": args.seed, "slots": slots,
        "input_docs": len(pages), "input_pages": n_pages,
        "session_ready_s": res["session_ready_s"],
        "warmup_start_s": res["warmup_start_s"],
        "timed_pass_s": res["timed_pass_s"],
        "native_status": res["native_status"],
        "worker_native_status": res["worker_native_status"],
        "peak_pss_by_process_mb": tree.peak_procs,
        # share of host CPU time the hypervisor took for other guests
        # while the system ran
        "host_steal_share": cpu[7] / max(1, sum(cpu)),
        "failed_page_ratio": check["failed"] / check["attempted"],
        "check": check["reasons"],
    }))
    print(json.dumps({"correct": not check["reasons"],
                      "attempted": check["attempted"],
                      "failed": check["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
