"""Distributed synthetic-corpus source.

Documents are generated *executor-side* from their index alone (per-doc
seeding, ``corpus.generate.make_doc``), so the driver never materializes
the corpus: ``spark.range(n)`` gives the indices, the key ``doc_%06d``
is formatted JVM-side, and ``pyworker.map_documents`` (the guarded
per-document body every front door runs) yields each document's spans,
which cross the boundary as Arrow structs.
At 10^12-doc design scale the equivalent source is the Iceberg table scan;
this source exists so tests/benchmarks have an input of exactly the
BASELINE.json input_hint shape without external data.
"""

from __future__ import annotations

from ..pyworker import SPANS_DDL, map_documents


def synthetic_documents(spark, n_docs: int, seed: int = 42,
                        max_spans: int = 2000, media_fraction: float = 0.3,
                        num_partitions: int | None = None):
    """DataFrame (doc_id string, spans array<struct<...>>) of n_docs
    synthetic interleaved documents; a document that fails to generate
    gives a ``corpus_error`` span."""
    from pyspark.sql import functions as F

    from ..corpus.generate import make_doc

    def doc_spans(_doc_id, idx):
        doc = make_doc(int(idx), seed=seed, max_spans=max_spans,
                       media_fraction=media_fraction)
        for s in doc["spans"]:
            yield s["kind"], s["text"], s["media_ref"]

    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    keyed = spark.range(0, n_docs).repartition(num_partitions).select(
        F.format_string("doc_%06d", "id").alias("doc_id"), "id")
    return map_documents(
        keyed, ["doc_id", "id"], f"doc_id string, spans {SPANS_DDL}",
        doc_spans, lambda msg: ("corpus_error", msg, ""), spans=True)
