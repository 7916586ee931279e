"""Per-task hygiene for the bodies the engine runs in Spark Python workers.

Before every task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On CPython 3.11 that calls
``zipimporter.invalidate_caches`` on every zip importer cached in
``sys.path_importer_cache``, and each call re-reads its archive's whole
central directory.  A worker that has imported the engine caches about
16 of them (``pyspark.zip`` and its subpackages, the ``spark-core`` jar,
the py4j zip), a fixed 0.2-0.3 s per task.

``trim_zip_import_cache`` drops those importers.  Modules already
imported keep their own loader, and a later import from the same archive
rebuilds its importer from ``zipimport._zip_directory_cache`` without
reading the archive.  Archives under the SparkFiles root (``--py-files``,
``addPyFile``) keep their importers: those can change between tasks,
which is what the invalidation is for.

The same module holds the one per-document body every front door runs
(``map_documents`` under ``mapInArrow``, and ``map_document_groups``
under ``applyInArrow`` for pages regrouped by document): the batch
loop, the poison-document guard and the output batch live here once,
and a door supplies only ``doc(doc_id, ...)`` and the row that marks a
failed document.  Values cross the boundary as Arrow both ways: a
column's values reach ``doc`` through ``to_pylist`` (a null is None),
and ``arrow_batch`` builds every output batch, extraction's page rows
included, with ``pa.array`` per column of the Arrow schema.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

import pyarrow as pa

__all__ = ["trim_zip_import_cache", "python_task", "guarded_rows",
           "SPANS_DDL", "number_spans", "arrow_schema", "arrow_batch",
           "map_documents", "group_rows", "map_document_groups"]


def trim_zip_import_cache() -> int:
    """Drop cached zip importers of archives outside the SparkFiles root;
    returns how many were dropped.  A no-op outside a Spark Python worker
    (only the worker invalidates the import caches before each task)."""
    from pyspark import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return 0
    keep = os.path.join(SparkFiles.getRootDirectory(), "")
    dropped = 0
    for entry, finder in list(sys.path_importer_cache.items()):
        if (isinstance(finder, zipimport.zipimporter)
                and not finder.archive.startswith(keep)):
            del sys.path_importer_cache[entry]
            dropped += 1
    return dropped


def python_task(body):
    """Decorate a ``mapInArrow`` (or ``mapInPandas``) batch body so it
    trims the zip-import cache when it starts and when it ends:
    importers created while the task runs would otherwise be re-read
    before the next task.
    ``functools.wraps`` keeps a module-level body pickled by reference."""
    @functools.wraps(body)
    def task(batches):
        trim_zip_import_cache()
        try:
            yield from body(batches)
        finally:
            trim_zip_import_cache()
    return task


def guarded_rows(doc, error, doc_id, *values) -> list:
    """The poison-document guard: the rows ``doc(doc_id, *values)``
    returns or yields.  If it raises, the rows yielded before the error
    are kept and ``error(message)`` follows them, ``message`` being the
    bounded ``"Class: message"`` text: one malformed document must not
    fail its task, and its marker says what went wrong."""
    rows = []
    try:
        for row in doc(doc_id, *values):
            rows.append(row)
    except Exception as exc:  # noqa: BLE001 — poison-document guard
        rows.append(error(f"{type(exc).__name__}: {exc}"[:200]))
    return rows


# The type of the ``spans`` column ``number_spans`` fills.
SPANS_DDL = ("array<struct<kind:string,text:string,media_ref:string,"
             "offset:int>>")


def number_spans(spans) -> list[dict]:
    """Ordered ``(kind, text, media_ref)`` tuples -> the output span
    structs, numbered from 0."""
    return [{"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(spans)]


def _out_rows(doc_id, rows, spans: bool) -> list:
    """A document's output rows: one ``(doc_id, numbered spans)`` row
    when ``spans``, else one ``(doc_id, *row)`` per row."""
    if spans:
        return [(doc_id, number_spans(rows))]
    return [(doc_id, *row) for row in rows]


def arrow_schema(schema: str) -> pa.Schema:
    """A DDL schema as Spark maps it to Arrow.  Driver-side: Spark's DDL
    parser needs the session."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(schema))


def arrow_batch(columns, schema: pa.Schema) -> pa.RecordBatch:
    """Columns (Python sequences, or Arrow arrays passed through) -> one
    ``schema`` record batch, ``pa.array(column, field.type)`` each."""
    return pa.RecordBatch.from_arrays(
        [pa.array(col, field.type) for col, field in zip(columns, schema)],
        schema=schema)


def _rows_batch(rows, schema: pa.Schema) -> pa.RecordBatch:
    return arrow_batch(list(zip(*rows)) or [()] * len(schema), schema)


def map_documents(df, cols, schema: str, doc, error, spans: bool = False):
    """The per-document driver: ``df.select(*cols)`` (``cols[0]`` the
    document id) through one ``mapInArrow`` stage that calls
    ``doc(doc_id, *values)`` once per input row under ``guarded_rows``
    (a null arrives as None) and builds one ``schema`` record batch per
    input batch.  With ``spans`` the doc's rows are ``(kind, text,
    media_ref)`` spans and each document gives one ``(doc_id, spans)``
    row; otherwise each row the doc gives is one output row after its
    doc_id."""
    out_schema = arrow_schema(schema)

    @python_task
    def body(batches):
        for batch in batches:
            out = []
            for values in zip(*(col.to_pylist() for col in batch.columns)):
                out.extend(_out_rows(
                    values[0], guarded_rows(doc, error, *values), spans))
            yield _rows_batch(out, out_schema)

    return df.select(*cols).mapInArrow(body, schema=schema)


def group_rows(doc, error, spans: bool, doc_id, pages, *firsts) -> list:
    """The grouped counterpart's per-document body: ``pages``
    (``(page_idx, image)`` pairs) sorted by page_idx, then
    ``doc(doc_id, pages, *firsts)`` under ``guarded_rows`` -> the
    document's output rows.  ``map_document_groups`` and the stateful
    streaming assembly both run it."""
    pages = sorted(pages, key=lambda page: page[0])
    return _out_rows(
        doc_id, guarded_rows(doc, error, doc_id, pages, *firsts), spans)


def map_document_groups(df, image_col: str, first_cols, schema: str, doc,
                        error, spans: bool = False):
    """``map_documents`` for page rows: ``(doc_id, page_idx, image_col,
    *first_cols)`` regrouped by document (one shuffle) through
    ``applyInArrow`` and ``group_rows``.  Each of ``first_cols``
    contributes its first non-null value (None when it has none, or when
    the column is None: absent from the input)."""
    cols = ["doc_id", "page_idx", image_col,
            *(c for c in first_cols if c is not None)]
    out_schema = arrow_schema(schema)

    def first(table, col):
        vals = table.column(col).drop_null() if col is not None else ()
        return vals[0].as_py() if len(vals) else None

    def one_doc(table):
        pages = zip(table.column("page_idx").to_pylist(),
                    table.column(image_col).to_pylist())
        doc_id = table.column("doc_id")[0].as_py()
        rows = group_rows(doc, error, spans, doc_id, pages,
                          *(first(table, c) for c in first_cols))
        return pa.Table.from_batches([_rows_batch(rows, out_schema)])

    return (df.select(*cols).groupBy("doc_id")
            .applyInArrow(one_doc, schema=schema))
