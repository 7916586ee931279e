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
(``map_documents``, and ``map_document_groups`` for pages regrouped by
document): the batch loop, the poison-document guard and the output
frame live here once, and a door supplies only ``doc(doc_id, ...)`` and
the row that marks a failed document.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

__all__ = ["trim_zip_import_cache", "python_task", "guarded_rows",
           "SPANS_DDL", "number_spans", "map_documents", "document_group",
           "map_document_groups"]


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
    """Decorate a ``mapInPandas`` or ``mapInArrow`` batch body so it
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


def _column_names(schema: str) -> list:
    from pyspark.sql.types import StructType

    return StructType.fromDDL(schema).names


def map_documents(df, cols, schema: str, doc, error, spans: bool = False):
    """The per-document driver: ``df.select(*cols)`` (``cols[0]`` the
    document id) through one ``mapInPandas`` stage that calls
    ``doc(doc_id, *values)`` once per input row under ``guarded_rows``
    and builds the ``schema`` output frame.  With ``spans`` the doc's
    rows are ``(kind, text, media_ref)`` spans and each document gives
    one ``(doc_id, spans)`` row; otherwise each row the doc gives is one
    output row after its doc_id."""
    import pandas as pd

    names = _column_names(schema)

    @python_task
    def body(batches):
        for batch in batches:
            out = []
            for values in zip(*(batch[c].values for c in cols)):
                out.extend(_out_rows(
                    values[0], guarded_rows(doc, error, *values), spans))
            yield pd.DataFrame(out, columns=names)

    return df.select(*cols).mapInPandas(body, schema=schema)


def document_group(schema: str, doc, error, image_col: str = "image",
                   first_cols=(), spans: bool = False):
    """The grouped counterpart's per-document body, for
    ``applyInPandas``: one document's page rows -> its ``schema``
    output frame.  Pages are ``[(page_idx, image)]`` sorted by ``page_idx``; each of
    ``first_cols`` contributes its first non-null value (None when it
    has none, or when the column is None: absent from the input), so
    ``doc(doc_id, pages, *firsts)`` runs under ``guarded_rows``."""
    import pandas as pd

    names = _column_names(schema)

    def one_doc(group):
        doc_id = group["doc_id"].iloc[0]
        pages = sorted(zip(group["page_idx"].values,
                           group[image_col].values),
                       key=lambda t: int(t[0]))
        firsts = []
        for col in first_cols:
            vals = group[col].dropna() if col is not None else ()
            firsts.append(vals.iloc[0] if len(vals) else None)
        return pd.DataFrame(_out_rows(
            doc_id, guarded_rows(doc, error, doc_id, pages, *firsts),
            spans), columns=names)

    return one_doc


def map_document_groups(df, image_col: str, first_cols, schema: str, doc,
                        error, spans: bool = False):
    """``map_documents`` for page rows: ``(doc_id, page_idx, image_col,
    *first_cols)`` regrouped by document (one shuffle) through
    ``document_group``."""
    cols = ["doc_id", "page_idx", image_col,
            *(c for c in first_cols if c is not None)]
    return (df.select(*cols).groupBy("doc_id").applyInPandas(
        document_group(schema, doc, error, image_col, first_cols, spans),
        schema=schema))
