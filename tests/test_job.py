"""Every job.py front door commits through the sharded checkpoint:
a run stopped after one shard, then a resume that commits the rest."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import job

PROSE = " ".join(f"word{i}" for i in range(60))

_SPANS_METRICS = [
    ("partition_id", "int"), ("doc_count", "bigint"),
    ("page_count", "bigint"), ("text_pages", "bigint"),
    ("media_pages", "bigint"), ("kernel_ms", "double"),
    ("warning_kinds", "array<string>")]
_COUNT_METRICS = [("doc_count", "bigint"), ("span_count", "bigint")]

# (input format, output format) -> the per-shard metrics schema
FRONT_DOORS = {
    ("spans", "spans"): _SPANS_METRICS,
    ("hocr", "spans"): _SPANS_METRICS,
    ("html", "spans"): _SPANS_METRICS,
    ("pdf", "spans"): _COUNT_METRICS,
    ("imagestack", "spans"): _COUNT_METRICS,
    ("imagestack", "pdf"): [
        ("doc_count", "bigint"), ("page_count", "bigint"),
        ("pdf_bytes", "bigint"), ("error_count", "bigint")],
    ("pdf", "pdf"): [
        ("doc_count", "bigint"), ("page_count", "bigint"),
        ("image_count", "bigint"), ("orig_image_bytes", "bigint"),
        ("new_image_bytes", "bigint"), ("pdf_bytes", "bigint"),
        ("error_count", "bigint")],
}


def _input(spark, fmt):
    """Four documents in the table shape ``--input-format fmt`` reads."""
    if fmt == "spans":
        from archive_pdf_tools_spark.sources import synthetic_documents
        return synthetic_documents(spark, n_docs=4, max_spans=6,
                                   num_partitions=2)
    if fmt == "hocr":
        from archive_pdf_tools_spark.corpus.hocrgen import synth_hocr
        return spark.createDataFrame(
            [(f"h{i}", synth_hocr(f"doc {i} {PROSE}", words_per_page=20))
             for i in range(4)], "doc_id string, hocr string")
    if fmt == "html":
        from archive_pdf_tools_spark.corpus.htmlgen import synth_html
        return spark.createDataFrame(
            [(f"w{i}", synth_html(i, PROSE, with_image=False))
             for i in range(4)], "doc_id string, html string")
    if fmt == "pdf":
        from archive_pdf_tools_spark.corpus.pdfgen import synth_pdf
        return spark.createDataFrame(
            [(f"p{i}", bytearray(synth_pdf(i))) for i in range(1, 5)],
            "doc_id string, pdf binary")
    from archive_pdf_tools_spark.kernels.pngcodec import encode_png
    rows = []
    for d in range(4):
        for p in range(2):
            img = np.random.default_rng(10 * d + p).integers(
                0, 256, (24, 32), dtype=np.uint8)
            rows.append((f"s{d}", p, bytearray(encode_png(img))))
    return spark.createDataFrame(
        rows, "doc_id string, page_idx int, image binary")


@pytest.mark.parametrize("in_fmt,out_fmt", list(FRONT_DOORS),
                         ids=[f"{i}-{o}" for i, o in FRONT_DOORS])
def test_front_door_commits_and_resumes(spark, tmp_path, in_fmt, out_fmt):
    src = str(tmp_path / "in")
    docs = _input(spark, in_fmt)
    docs.write.parquet(src)
    want = sorted({r["doc_id"] for r in docs.select("doc_id").collect()})
    out = str(tmp_path / "out")
    argv = ["--input", src, "--input-format", in_fmt,
            "--output-format", out_fmt, "--output", out, "--shards", "2"]

    # job.run is main's dispatch minus the session set-up and stop,
    # which would re-configure and stop the shared test session
    m = job.run(spark, job.parse_args(argv + ["-t", "1"]))
    assert m == {"committed_shards": [0], "shards": 2}
    m = job.run(spark, job.parse_args(argv))
    assert m == {"committed_shards": [0, 1], "shards": 2}

    product = spark.read.parquet(os.path.join(
        out, "pdfs" if out_fmt == "pdf" else "spans"))
    assert sorted(r["doc_id"] for r in product.collect()) == want
    for k in (0, 1):
        metrics = spark.read.parquet(os.path.join(out, "metrics",
                                                  f"shard={k}"))
        assert metrics.dtypes == FRONT_DOORS[in_fmt, out_fmt]
    # the shard lives in the directory name only, so pyarrow reads the
    # whole metrics table and its shards are the manifest's
    table = pq.read_table(os.path.join(out, "metrics"))
    assert sorted(set(table.column("shard").to_pylist())) == \
        m["committed_shards"]

