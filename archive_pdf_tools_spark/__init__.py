"""archive_pdf_tools_spark — a from-scratch, PySpark-native page-content
extraction engine with the capabilities of internetarchive/archive-pdf-tools.

Layout
------
- ``kernels/``   pure-NumPy re-derivations of the reference's per-page math
                 (Sauvola binarization, MRC fg/bg optimisation, mask denoise,
                 gray conversion, noise estimation, hOCR text layout, page
                 number series parsing, DPI heuristics).  No Spark imports —
                 unit-testable standalone, shipped to executors via
                 ``spark-submit --py-files``.
- ``corpus/``    deterministic synthetic generator for the interleaved
                 ``(doc_id, spans)`` input table and its media rasters.
- ``operators/`` Spark operators: the vectorized extraction kernel
                 (``mapInArrow``), salted repartitioning, span reassembly,
                 checkpoint/resume, metrics.
- ``sources/``   table readers (parquet dirs, the driver testdata tables).
- ``functions/`` column-level libraries for large-scale pipelines: dedup
                 (exact / minhash-LSH / simhash / n-gram jaccard), similarity
                 search, text stats, multimodal plumbing.
- ``plans/``     end-to-end pipeline assembly (the "recode" dataflow).
- ``streaming/`` Structured Streaming variant of the extraction pipeline.

Everything here derives only from public knowledge: the PySpark API and the
reference's observable semantics (cited per function as ``file:line`` into
``/root/reference``).
"""

__version__ = "0.1.0"
