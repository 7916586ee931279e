"""Sharded snapshot checkpoint / resume.

The north rule requires resumability with per-partition lineage.  On a
real deployment the output table is Iceberg and each shard commit is an
atomic snapshot append; here the same protocol is implemented over a
parquet directory with an atomically-renamed JSON manifest (one entry per
committed shard) — the mechanism (commit manifest, restart from the
first uncommitted shard) is identical, only the catalog differs.  The
reference analogue is its ``report_every`` chunking + temp-file staging
(``recode.py:494-525, 633-635``).

Protocol:

* input docs are split into ``shards`` by ``pmod(xxhash64(doc_id), shards)``
  — deterministic, independent of partitioning;
* each shard runs its front door's stage and ``commit_unit`` writes
  ``out_dir/<product_dir>/shard=K/`` and ``out_dir/metrics/shard=K/``;
* the manifest is rewritten via temp-file + ``os.replace`` (atomic on
  POSIX) after each shard — a crash mid-shard leaves at most one
  uncommitted shard directory, which is overwritten on resume.

Resume is exactly the manifest: committed shards are skipped, every
other shard is recomputed whole.
"""

from __future__ import annotations

import json
import os
import tempfile

from .extract import extract_spans, partition_metrics, reassemble

__all__ = ["commit_unit", "run_sharded", "run_with_checkpoint",
           "read_manifest", "span_count_metrics", "pdf_count_metrics"]


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.json")


def read_manifest(out_dir: str) -> dict:
    path = _manifest_path(out_dir)
    if not os.path.exists(path):
        return {"committed_shards": [], "shards": None}
    with open(path) as fh:
        return json.load(fh)


def _write_manifest(out_dir: str, manifest: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=out_dir, prefix="_manifest", suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, _manifest_path(out_dir))


def commit_unit(staged, out_dir: str, part: str, product_dir: str,
                metrics, product=None) -> None:
    """Write one unit of output (``part`` = ``shard=k`` or
    ``batch=<id>``): ``product(staged)`` (``staged`` itself when None)
    to ``<out>/<product_dir>/<part>`` and ``metrics(staged)`` to
    ``<out>/metrics/<part>``, both overwriting.  ``staged`` is persisted
    across the two writes, so the metrics reuse its computation."""
    staged.persist()
    try:
        (product(staged) if product else staged).write.mode(
            "overwrite").parquet(os.path.join(out_dir, product_dir, part))
        metrics(staged).write.mode("overwrite").parquet(
            os.path.join(out_dir, "metrics", part))
    finally:
        staged.unpersist()


def span_count_metrics(spans_df):
    """Metrics projection of a (doc_id, spans) shard: one row of doc
    and span counts."""
    from pyspark.sql import functions as F

    return spans_df.select(F.count("*").alias("doc_count"),
                           F.sum(F.size("spans")).alias("span_count"))


def pdf_count_metrics(pdfs_df, *extra):
    """Metrics projection of a finished-PDF shard (``pdf``, ``n_pages``,
    ``error`` columns): one row of doc / page counts, the ``extra``
    aggregates, output bytes and error count."""
    from pyspark.sql import functions as F

    return pdfs_df.select(
        F.count("*").alias("doc_count"),
        F.sum("n_pages").alias("page_count"), *extra,
        F.sum(F.length("pdf")).alias("pdf_bytes"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("error_count"))


def run_sharded(documents_df, out_dir: str, shards: int, stage, metrics,
                product_dir: str, product=None,
                stop_after_shards: int | None = None) -> dict:
    """The shard-commit protocol shared by every front door:
    deterministic doc->shard assignment (``pmod(xxhash64(doc_id),
    shards)``); per uncommitted shard ``commit_unit(stage(shard_df),
    ...)``, whose ``metrics/shard=k`` directory carries the shard
    number; an atomic manifest rewrite after each.  Returns the
    manifest.

    ``stop_after_shards``: stop after committing that many shards THIS
    run (a deterministic stand-in for a mid-job kill, used by the
    resume fixtures)."""
    from pyspark.sql import functions as F

    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    if stop_after_shards is not None and stop_after_shards < 0:
        raise ValueError(
            f"stop_after_shards must be >= 0, got {stop_after_shards}")
    manifest = read_manifest(out_dir)
    if manifest["shards"] not in (None, shards):
        raise ValueError(
            f"existing checkpoint used shards={manifest['shards']}, "
            f"requested {shards}")
    manifest["shards"] = shards
    committed = set(manifest["committed_shards"])

    shard_col = F.pmod(F.xxhash64("doc_id"), F.lit(shards))
    done_this_run = 0
    for k in range(shards):
        if k in committed:
            continue
        if stop_after_shards is not None and done_this_run >= stop_after_shards:
            break
        commit_unit(stage(documents_df.where(shard_col == k)), out_dir,
                    f"shard={k}", product_dir, metrics, product)
        committed.add(k)
        manifest["committed_shards"] = sorted(committed)
        _write_manifest(out_dir, manifest)
        done_this_run += 1
    return manifest


def run_with_checkpoint(spark, documents_df, out_dir: str, shards: int = 16,
                        num_partitions: int | None = None,
                        stop_after_shards: int | None = None) -> dict:
    """Run extraction shard-by-shard with snapshot commits; returns the
    manifest.  Safe to call again after a crash — committed shards are
    skipped."""
    return run_sharded(
        documents_df, out_dir, shards,
        lambda d: extract_spans(d, num_partitions=num_partitions),
        partition_metrics, "spans", product=reassemble,
        stop_after_shards=stop_after_shards)
