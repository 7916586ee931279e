"""Workload definitions and the load generator's inputs and oracle.

A workload is a corpus shape plus the entry point it drives.  Its input
is a function of (workload, seed) alone: documents come from the
engine's own deterministic generator (``corpus.generate.make_doc``)
with its own heavy tail of pages per document (5% of documents have 101
to 2000 pages); only the last document is cut short, so that the corpus
holds the workload's page count.  The staged input is a parquet table in
the ``(doc_id, spans)`` shape ``job.py --input`` reads.

The oracle is ``operators.extract.extract_document_local`` over every
document, run in a process pool before the engine starts.  Input and
oracle are cached together per (workload, seed, engine source digest).
Run as a script, this module fills one cache directory.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
from dataclasses import dataclass

__all__ = ["WORKLOADS", "Workload", "cache_dir", "is_prepared",
           "prepare_input", "source_digest", "span_rows"]

INPUT_FILES = 8          # files in the staged table, independent of host


@dataclass(frozen=True)
class Workload:
    name: str
    entry: str                  # "extract" (run_extraction) | "sharded"
    media_fraction: float
    pages: int                  # input size, the same for every seed
    shards: int = 0             # sharded only: S


# Why these two (each stresses a different layer; see BENCHMARK.json):
# * extract_text -- no raster work; the two exchanges and the
#   Arrow/JSON boundary carry the hOCR payloads.  Exchange-free
#   extraction shows here.
# * sharded_resume -- the write and commit path: S shard commits, a stop
#   after S/2 and a resume.  Each shard rescans the input today, so
#   single-scan sharding shows here only.  Its 30% media pages also carry
#   the raster kernels.
# There is no all-media workload: each run pays 30 to 45 s of session
# start and warm-up, so two workloads with more work per run give steadier
# figures than three with less.
# The page count is fixed, not the document count: with the heavy tail,
# a fixed document count swings the page count by a third from seed to
# seed, and each pass has a fixed cost.
WORKLOADS = {
    w.name: w for w in (
        Workload("extract_text", "extract", 0.0, pages=10000),
        Workload("sharded_resume", "sharded", 0.3, pages=2000, shards=2),
    )
}


def source_digest(package_dir: str) -> str:
    """Digest of the engine's sources; a changed engine gets a fresh
    oracle instead of a stale cached one."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(package_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith((".py", ".c")):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, package_dir).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _make_doc(args) -> dict:
    from archive_pdf_tools_spark.corpus.generate import make_doc

    index, seed, media_fraction = args
    return make_doc(index, seed=seed, media_fraction=media_fraction)


def _documents(w: Workload, seed: int, pool) -> list[dict]:
    """Documents 0, 1, ... until the corpus holds exactly ``w.pages``
    pages; the last document is cut short to fit."""
    docs, total = [], 0
    while total < w.pages:
        # ~65 pages per document on average: ask for a few more than needed
        batch = range(len(docs), len(docs) + (w.pages - total) // 65 + 4)
        for doc in pool.map(_make_doc, [(i, seed, w.media_fraction)
                                        for i in batch]):
            if total == w.pages:
                break
            doc["spans"] = doc["spans"][:w.pages - total]
            total += len(doc["spans"])
            docs.append(doc)
    return docs


def span_rows(spans) -> list:
    """Output spans as comparable [kind, text, media_ref, offset] rows."""
    return [[s["kind"], s["text"], s["media_ref"], s["offset"]]
            for s in spans]


def _oracle(doc: dict) -> list:
    """Pool task: the single-process reference output of one document."""
    from archive_pdf_tools_spark.operators.extract import (
        extract_document_local)

    return span_rows(extract_document_local(doc)["spans"])


def _write_table(docs: list, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()),
                        ("spans", pa.list_(span_t))])
    os.makedirs(path)
    per_file = -(-len(docs) // INPUT_FILES)
    for f in range(INPUT_FILES):
        part = docs[f * per_file:(f + 1) * per_file]
        if not part:
            break
        table = pa.Table.from_pylist(
            [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in part],
            schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def cache_dir(w: Workload, seed: int, cache_root: str, digest: str) -> str:
    """The cache directory of (w, seed) for an engine source digest."""
    key = hashlib.sha256(f"{digest} {w!r}".encode()).hexdigest()[:16]
    return os.path.join(cache_root, f"{w.name}-seed{seed}-{key}")


def is_prepared(final: str) -> bool:
    return os.path.exists(os.path.join(final, "oracle.json"))


def prepare_input(w: Workload, seed: int, final: str, procs: int) -> None:
    """Fill the cache directory ``final`` with ``input/`` (parquet table),
    ``oracle.json`` ({doc_id: [[kind, text, media_ref, offset], ...]})
    and ``pages.json`` ({doc_id: page count}) for (w, seed).

    The process pool starts a resource tracker that lives as long as
    the process that made the pool, so ``run.py`` calls this through the
    command line below, in a process of its own."""
    if is_prepared(final):
        return
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        # the generator's PCG64 seeding takes non-negative seeds only
        docs = _documents(w, seed % 2 ** 32, pool)
        # one document per task: a heavy-tail document must not hold a
        # worker while the others idle
        oracle = pool.map(_oracle, docs, chunksize=1)
    _write_table(docs, os.path.join(tmp, "input"))
    with open(os.path.join(tmp, "pages.json"), "w") as fh:
        json.dump({d["doc_id"]: len(d["spans"]) for d in docs}, fh)
    with open(os.path.join(tmp, "oracle.json"), "w") as fh:
        json.dump({d["doc_id"]: spans for d, spans in zip(docs, oracle)},
                  fh, ensure_ascii=False)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


if __name__ == "__main__":
    # python3 perfbench/workloads.py WORKLOAD SEED CACHE_DIR PROCS
    import sys

    name, seed, final, procs = sys.argv[1:]
    prepare_input(WORKLOADS[name], int(seed), final, int(procs))
