"""Distributed synthetic-corpus source.

Documents are generated *executor-side* from their index alone (per-doc
seeding, ``corpus.generate.make_doc``), so the driver never materializes
the corpus: ``spark.range(n) -> mapInPandas(generate) -> from_json``.
At 10^12-doc design scale the equivalent source is the Iceberg table scan;
this source exists so tests/benchmarks have an input of exactly the
BASELINE.json input_hint shape without external data.

The Python->JVM hop transfers one JSON string per document; the nested
span array is built JVM-side with ``from_json`` (cheap, columnar, and
keeps the Arrow schema trivial).
"""

from __future__ import annotations

import json
from typing import Iterable, Iterator

import pandas as pd

from ..pyworker import python_task

SPANS_JSON_SCHEMA = ("array<struct<kind:string,text:string,"
                     "media_ref:string,offset:int>>")
# Same shape, used as a mapInPandas output schema when the span structs
# cross the Python boundary as Arrow structs directly (no JSON detour).
SPANS_STRUCT_DDL = SPANS_JSON_SCHEMA


def _gen_batches(seed: int, max_spans: int, media_fraction: float):
    from ..corpus.generate import make_doc

    @python_task
    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx in pdf["id"].values:
                doc = make_doc(int(idx), seed=seed, max_spans=max_spans,
                               media_fraction=media_fraction)
                rows.append((doc["doc_id"],
                             json.dumps(doc["spans"], ensure_ascii=False)))
            yield pd.DataFrame(rows, columns=["doc_id", "spans_json"])
    return gen


def synthetic_documents(spark, n_docs: int, seed: int = 42,
                        max_spans: int = 2000, media_fraction: float = 0.3,
                        num_partitions: int | None = None):
    """DataFrame (doc_id string, spans array<struct<...>>) of n_docs
    synthetic interleaved documents."""
    from pyspark.sql import functions as F

    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    base = spark.range(0, n_docs).repartition(num_partitions)
    raw = base.mapInPandas(
        _gen_batches(seed, max_spans, media_fraction),
        schema="doc_id string, spans_json string")
    return raw.select(
        "doc_id",
        F.from_json("spans_json", SPANS_JSON_SCHEMA).alias("spans"))
