"""End-to-end: Spark extraction pipeline == single-process local runner.

The per-row invariant is span-sequence equality on
(kind, text, media_ref, order) — FIXTURES.md §4.
"""

import pytest

from archive_pdf_tools_spark.corpus.generate import make_documents
from archive_pdf_tools_spark.operators.extract import (
    extract_document_local, extract_spans, partition_metrics, reassemble)

N_DOCS = 24


@pytest.fixture(scope="module")
def corpus():
    return make_documents(N_DOCS, max_spans=30)


@pytest.fixture(scope="module")
def golden(corpus):
    return {d["doc_id"]: extract_document_local(d)["spans"] for d in corpus}


@pytest.fixture(scope="module")
def input_df(spark, corpus):
    from archive_pdf_tools_spark.operators.extract import OUTPUT_SCHEMA_DDL
    rows = [(d["doc_id"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in d["spans"]]) for d in corpus]
    return spark.createDataFrame(rows, schema=OUTPUT_SCHEMA_DDL)


@pytest.mark.parametrize("max_spans", [16, 2000])
def test_synthetic_source_equals_generator(spark, max_spans):
    """The Spark synthetic source gives the driver-side generator's
    documents row for row (ids, spans, offsets) in
    ``OUTPUT_SCHEMA_DDL``'s schema; 40 documents include one of 1735
    spans when ``max_spans`` allows it."""
    from pyspark.sql.types import StructType

    from archive_pdf_tools_spark.operators.extract import OUTPUT_SCHEMA_DDL
    from archive_pdf_tools_spark.sources import synthetic_documents

    df = synthetic_documents(spark, 40, max_spans=max_spans)
    assert df.schema == StructType.fromDDL(OUTPUT_SCHEMA_DDL)
    got = sorted((r["doc_id"], [s.asDict() for s in r["spans"]])
                 for r in df.collect())
    want = [(d["doc_id"], d["spans"])
            for d in make_documents(40, max_spans=max_spans)]
    assert got == want
    assert max(len(spans) for _, spans in want) == min(max_spans, 1735)


def test_spark_matches_local_runner(spark, input_df, golden):
    out = reassemble(extract_spans(input_df, num_partitions=8))
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in out.collect()}
    assert set(got) == set(golden)
    for doc_id in golden:
        assert got[doc_id] == golden[doc_id], doc_id


def test_output_offsets_contiguous(spark, input_df):
    out = reassemble(extract_spans(input_df, num_partitions=8))
    for row in out.collect():
        offsets = [s["offset"] for s in row["spans"]]
        assert offsets == list(range(len(offsets)))


def test_partitioning_invariance(spark, input_df, golden):
    """Same result at a different parallelism (order is data, not
    partition order)."""
    out = reassemble(extract_spans(input_df, num_partitions=3))
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in out.collect()}
    for doc_id in golden:
        assert got[doc_id] == golden[doc_id]


def test_metrics_cover_every_page(spark, input_df, corpus):
    extracted = extract_spans(input_df, num_partitions=8)
    m = partition_metrics(extracted).collect()
    total_pages = sum(len(d["spans"]) for d in corpus)
    assert extracted.count() == total_pages      # one row per page
    assert sum(r["page_count"] for r in m) == total_pages
    assert sum(r["doc_count"] for r in m) >= N_DOCS  # docs may span partitions
    assert all(r["kernel_ms"] >= 0 for r in m)


def test_skip_and_stop_after_match_local(spark, input_df, corpus):
    """F1/F2 pipeline options: skip offsets then stop-after, identical to
    the local runner's sequential semantics (recode.py:114-121)."""
    from archive_pdf_tools_spark.plans import run_extraction

    skip = {1, 3}
    out, _ = run_extraction(input_df, num_partitions=6,
                            with_metrics=False, skip_offsets=skip,
                            stop_after=4)
    got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in out.collect()}
    for doc in corpus:
        want = extract_document_local(doc, skip_offsets=skip, stop_after=4)
        if want["spans"] or doc["spans"]:
            assert got[doc["doc_id"]] == want["spans"], doc["doc_id"]


def test_guard_names_a_null_offset_value_error():
    """A null offset is a ValueError marker whether it arrives as None
    (the Arrow body, the oracle) or as NaN (a pandas frame), and the
    page body never runs for it."""
    from archive_pdf_tools_spark.operators.extract import _guarded

    calls = []

    def page():
        calls.append(1)
        return [("text", "x", "")], "sha", []

    for null in (None, float("nan")):
        assert _guarded(null, page) == (
            None, ([], "", ["extract-error:ValueError"]))
    assert calls == []
    assert _guarded(3, page) == (3, ([("text", "x", "")], "sha", []))


def test_page_row_arrow_schema_is_sparks(spark):
    """The Arrow batches the extraction body yields have exactly the
    types Spark maps the intermediate schema to."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from archive_pdf_tools_spark.operators.extract import (
        INTERMEDIATE_SCHEMA_DDL, PAGE_ROW_SCHEMA)

    want = to_arrow_schema(StructType.fromDDL(INTERMEDIATE_SCHEMA_DDL))
    assert PAGE_ROW_SCHEMA.equals(want, check_metadata=True)


def test_poison_row_does_not_kill_job(spark):
    """Malformed payloads become empty pages with an error marker in the
    metrics table; healthy rows are unaffected, and the single-process
    oracle degrades the same way."""
    from archive_pdf_tools_spark.operators.extract import OUTPUT_SCHEMA_DDL

    empty_page = ('{"page": {"w": 800, "h": 1000, "dpi": 300, '
                  '"scan_res": null}, "paragraphs": []}')
    line_page = ('{"page": {"w": 800, "h": 1000, "dpi": 300, '
                 '"scan_res": null}, "paragraphs": [{"lines": [{'
                 '"bbox": [10, 10, 200, 30], "baseline": [0, 0], '
                 '"words": [{"text": "kept", "fontsize": 10, '
                 '"writing_direction": 0, "bbox": [10, 10, 60, 30]}]}]}]}')
    rows = [
        ("ok", [("text", empty_page, "", 0)]),
        ("poison", [("text", "{not json", "", 0),
                    ("text", None, "", 1),
                    ("text", empty_page, "", None),
                    ("text", line_page, "", 2)]),
    ]
    df = spark.createDataFrame(rows, schema=OUTPUT_SCHEMA_DDL)
    extracted = extract_spans(df, num_partitions=2).cache()
    out = {r["doc_id"]: [s.asDict() for s in r["spans"]]
           for r in reassemble(extracted).collect()}
    assert set(out) == {"ok", "poison"}
    assert [s["text"] for s in out["poison"]] == ["kept"]   # not crashed
    poison = {"doc_id": "poison",
              "spans": [dict(zip(("kind", "text", "media_ref", "offset"), s))
                        for s in rows[1][1]]}
    assert out["poison"] == extract_document_local(poison)["spans"]
    # Spark's skip filter drops the null offset, and its stop_after
    # window counts it first: the oracle must agree on both
    for skip, stop in (([1], 2), (None, 3)):
        got = (reassemble(extract_spans(df, num_partitions=2,
                                        skip_offsets=skip, stop_after=stop))
               .where("doc_id = 'poison'").first()["spans"])
        want = extract_document_local(poison, skip, stop)["spans"]
        assert [s.asDict() for s in got] == want, (skip, stop)
    warn_kinds = set()
    for r in partition_metrics(extracted).collect():
        warn_kinds.update(r["warning_kinds"])
    assert any(w.startswith("extract-error:") for w in warn_kinds)
    assert "extract-error:ValueError" in warn_kinds      # the null offset
    extracted.unpersist()


def test_arrow_batch_size_invariance(spark, input_df, golden):
    """The extraction body (batches coalesced to >= 512 rows, then one
    page at a time) must produce identical output regardless of how
    Arrow slices the batches."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        out = reassemble(extract_spans(input_df, num_partitions=5))
        got = {r["doc_id"]: [s.asDict() for s in r["spans"]]
               for r in out.collect()}
        for doc_id in golden:
            assert got[doc_id] == golden[doc_id], doc_id
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_pages_sharing_an_offset_stay_contiguous(spark):
    """Nothing stops a document from repeating an offset: each page's
    spans must still come out together (which tied page comes first is
    not part of the contract)."""
    import json

    from archive_pdf_tools_spark.operators.extract import OUTPUT_SCHEMA_DDL

    def page(*lines):
        paras = [{"lines": [{"bbox": [10, 10 + 30 * i, 200, 30 + 30 * i],
                             "baseline": [0, 0],
                             "words": [{"text": t, "fontsize": 10,
                                        "writing_direction": 0,
                                        "bbox": [10, 10 + 30 * i, 60,
                                                 30 + 30 * i]}]}
                            for i, t in enumerate(lines)]}]
        return json.dumps({"page": {"w": 800, "h": 1000, "dpi": 300,
                                    "scan_res": None}, "paragraphs": paras})

    rows = [("dup", [("text", page("a1", "a2"), "", 0),
                     ("text", page("b1", "b2"), "", 0),
                     ("text", page("c1"), "", 1)])]
    df = spark.createDataFrame(rows, schema=OUTPUT_SCHEMA_DDL)
    for parts in (1, 3):
        out = reassemble(extract_spans(df, num_partitions=parts)).collect()
        texts = [s["text"] for s in out[0]["spans"]]
        assert texts in (["a1", "a2", "b1", "b2", "c1"],
                         ["b1", "b2", "a1", "a2", "c1"]), texts
        assert [s["offset"] for s in out[0]["spans"]] == list(range(5))
