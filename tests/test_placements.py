"""Golden placement digests: the sha1 of the exact text-op byte stream is
pinned for a fixed corpus slice — any change to the reading-order /
baseline / affine / formatting math fails here (FIXTURES.md §4)."""

from archive_pdf_tools_spark.corpus.generate import make_doc
from archive_pdf_tools_spark.operators.extract import (
    extract_one, extract_spans, placements)

GOLDEN_DOC0 = {0: "81dfd5d0bfd66e60", 2: "8e5b35591a7b1c89",
               4: "497e84ec77f342ba"}


def test_golden_ops_sha_doc0(native_modes):
    doc = make_doc(0, max_spans=8)
    for mode in native_modes():
        got = {}
        for s in doc["spans"]:
            if s["kind"] == "text":
                _subs, sha, _w = extract_one(s["kind"], s["text"],
                                             s["media_ref"])
                got[s["offset"]] = sha
        assert got == GOLDEN_DOC0, mode


def _worker_native_status(spark) -> str:
    import pandas as pd

    from archive_pdf_tools_spark.kernels import native

    def status(batches):
        for _b in batches:
            yield pd.DataFrame({"s": [native.status()]})

    return spark.range(1).mapInPandas(status, "s string").first()["s"]


def test_placements_table(spark, native_modes):
    from archive_pdf_tools_spark.sources import synthetic_documents

    for mode in native_modes(spark):
        if mode == "python":
            assert "disabled" in _worker_native_status(spark)
        docs = synthetic_documents(spark, n_docs=1, max_spans=8)
        pl = placements(extract_spans(docs, num_partitions=2))
        got = {r["in_offset"]: r["ops_sha"] for r in pl.collect()}
        assert got == GOLDEN_DOC0, mode
