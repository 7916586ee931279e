"""Checkpoint/resume: crash between shards -> resume completes, output
identical to a single uninterrupted run."""

import os

import pytest

from archive_pdf_tools_spark.operators.checkpoint import (
    read_manifest, run_with_checkpoint)
from archive_pdf_tools_spark.operators.extract import OUTPUT_SCHEMA_DDL
from archive_pdf_tools_spark.sources import synthetic_documents


@pytest.fixture(scope="module")
def docs_df(spark):
    return synthetic_documents(spark, n_docs=16, max_spans=10,
                               num_partitions=4).cache()


def _collect_spans(df):
    return {r["doc_id"]: [s.asDict() for s in r["spans"]]
            for r in df.collect()}


def test_resume_after_partial_run(spark, docs_df, tmp_path):
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "partial")

    run_with_checkpoint(spark, docs_df, full_dir, shards=4)

    # Simulate a crash: only run shards 0-1 by pre-committing 2-3 ...
    class _Stop(Exception):
        pass

    # run shard-by-shard manually: commit two shards, then "crash"
    import archive_pdf_tools_spark.operators.checkpoint as cp
    orig = cp.extract_spans
    calls = {"n": 0}

    def failing(df, num_partitions=None):
        calls["n"] += 1
        if calls["n"] > 2:
            raise _Stop()
        return orig(df, num_partitions=num_partitions)

    cp.extract_spans = failing
    try:
        with pytest.raises(_Stop):
            run_with_checkpoint(spark, docs_df, part_dir, shards=4)
    finally:
        cp.extract_spans = orig

    m = read_manifest(part_dir)
    assert len(m["committed_shards"]) == 2

    # Resume
    run_with_checkpoint(spark, docs_df, part_dir, shards=4)
    m = read_manifest(part_dir)
    assert m["committed_shards"] == [0, 1, 2, 3]

    got = _collect_spans(spark.read.parquet(os.path.join(part_dir, "spans")))
    want = _collect_spans(spark.read.parquet(os.path.join(full_dir, "spans")))
    assert got == want
    assert len(got) == 16


def test_shard_count_mismatch_rejected(spark, docs_df, tmp_path):
    out = str(tmp_path / "out")
    run_with_checkpoint(spark, docs_df, out, shards=2)
    with pytest.raises(ValueError):
        run_with_checkpoint(spark, docs_df, out, shards=8)
    # bad shard arguments are rejected before anything is written
    for i, bad in enumerate(({"shards": 0},
                             {"shards": 2, "stop_after_shards": -1})):
        fresh = str(tmp_path / f"bad{i}")
        with pytest.raises(ValueError):
            run_with_checkpoint(spark, docs_df, fresh, **bad)
        assert not os.path.exists(fresh)


def test_stop_after_shards_simulated_kill(spark, docs_df, tmp_path):
    """stop_after_shards commits exactly that many shards this run, and
    a plain resume completes the rest with the full output."""
    out = str(tmp_path / "killed")
    m = run_with_checkpoint(spark, docs_df, out, shards=4,
                            stop_after_shards=2)
    assert len(m["committed_shards"]) == 2
    m = run_with_checkpoint(spark, docs_df, out, shards=4)
    assert m["committed_shards"] == [0, 1, 2, 3]
    spans = spark.read.parquet(os.path.join(out, "spans"))
    assert spans.count() == 16
