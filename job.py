#!/usr/bin/env python
"""Cluster job entry point.

Deployment shape required by the north rule::

    zip -r engine.zip archive_pdf_tools_spark
    spark-submit --py-files engine.zip job.py \
        --input  <documents table path (parquet dir / Iceberg table)> \
        --output <output dir> [--shards 64] [-t N] [--synthetic N]

Runs the chosen front door with sharded snapshot checkpointing
(``operators/checkpoint.py``); re-running after a failure skips the
shards the manifest lists as committed and recomputes the rest.
"""

from __future__ import annotations

import argparse
import json
import sys

# recode_document keywords taken verbatim from the same-named options
_RECODE_OPTS = ("image_mode", "mrc_image_format", "mask_compression",
                "grayscale", "bw", "dpi", "downsample", "fg_downsample",
                "bg_downsample", "denoise_mask", "hq_pages", "jpeg_quality")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="documents table path (parquet)")
    ap.add_argument("--input-format", choices=("spans", "hocr", "html",
                                               "pdf", "imagestack"),
                    default="spans",
                    help="'spans' = interleaved (doc_id, spans) table; "
                         "'hocr' = (doc_id, hocr markup [, dpi]) table, "
                         "parsed executor-side via sources/hocr.py; "
                         "'html' = (doc_id, html) table, main content "
                         "extracted via sources/htmlmain.py; "
                         "'pdf' = (doc_id, pdf binary [, hocr]) table, "
                         "recoded to spans via operators/pdfcomp.py "
                         "(the bin/pdfcomp entry point as a cluster job); "
                         "'imagestack' = (doc_id, page_idx, image "
                         "binary [, hocr]) table of TIFF/JP2/JPEG/PNG/"
                         "PNM page files (page_idx = -1: the whole "
                         "*_tif.zip item or a multi-page TIFF), the "
                         "reference's primary input shape "
                         "(operators/imagestack.py)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("-t", "--stop-after-shards", type=int, default=None,
                    help="commit at most N shards this run, then stop "
                         "cleanly (the reference's -t/--stop-after as a "
                         "checkpoint-protocol knob; a later run resumes "
                         "from the next uncommitted shard)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--synthetic", type=int, default=None,
                    help="generate N synthetic docs instead of --input")
    ap.add_argument("--pdf-password", default="",
                    help="user or owner password for encrypted PDF "
                         "inputs (--input-format pdf); one corpus-wide "
                         "password, per-doc failures degrade to "
                         "pdf_error spans")
    ap.add_argument("--output-format", default="spans",
                    choices=("spans", "pdf"),
                    help="'spans' = the interleaved spans table; "
                         "'pdf' = one finished MRC PDF per document, "
                         "committed via the same sharded checkpoint: "
                         "with --input-format imagestack a NEW PDF is "
                         "assembled (operators/recode.py -> "
                         "kernels/pdfsink.py: JP2 bg + JP2 fg through "
                         "a JBIG2 /SMask + invisible text layer); "
                         "with --input-format pdf the EXISTING PDFs "
                         "are recompressed in place (kernels/"
                         "pdfrewrite.py: image XObjects swapped for "
                         "MRC bg/fg/mask, text layer preserved — the "
                         "bin/compress-pdf-images entry point)")
    comp = ap.add_argument_group(
        "recode compression", "the reference recode_pdf CLI surface "
        "(bin/recode_pdf:95-190) — applies to --output-format pdf "
        "with --input-format imagestack")
    comp.add_argument("-m", "--image-mode", type=int, default=2,
                      choices=(0, 1, 2, 3),
                      help="0 passthrough, 1 pixmap, 2 MRC (default), "
                           "3 skip images (text-only PDF)")
    comp.add_argument("--mrc-image-format", choices=("jp2", "jpeg"),
                      default="jp2", help="bg/fg codec inside MRC")
    comp.add_argument("--mask-compression", choices=("jbig2", "ccitt"),
                      default="jbig2", help="mask (lossless) codec")
    comp.add_argument("--grayscale-pdf", action="store_true",
                      dest="grayscale",
                      help="special_gray_convert input before recode")
    comp.add_argument("--bw-pdf", action="store_true", dest="bw",
                      help="1-bit output: the MRC text mask is the "
                           "page image")
    comp.add_argument("-D", "--dpi", type=int, default=None,
                      help="override page DPI (skips guessing)")
    comp.add_argument("--downsample", type=int, default=None,
                      help="downsample full image before processing")
    comp.add_argument("--bg-downsample", type=int, default=3)
    comp.add_argument("--fg-downsample", type=int, default=3)
    comp.add_argument("--denoise-mask", default=None,
                      choices=("none", "fast", "bregman"),
                      help="mask denoise algorithm (default: fast)")
    comp.add_argument("--hq-pages", default=None,
                      help="comma list of 1-indexed pages (negatives "
                           "from the end) rendered at high quality")
    comp.add_argument("--jpeg-quality", type=int, default=None,
                      help="bg/fg quality for --mrc-image-format jpeg")
    meta = ap.add_argument_group("metadata")
    for f in ("title", "author", "subject", "keywords", "creatortool",
              "language"):
        meta.add_argument(f"--metadata-{f}", default=None)
    ap.add_argument("--native-codecs", action="store_true",
                    help="swap contract-verified native image decoders "
                         "(Pillow etc., kernels/registry.py) in on "
                         "every executor; absent libraries or a "
                         "failed oracle suite leave the built-ins")
    args = ap.parse_args(argv)
    if args.output_format == "pdf":
        if args.input_format not in ("imagestack", "pdf"):
            ap.error("--output-format pdf requires --input-format "
                     "imagestack (recode) or pdf (recompress)")
        if args.synthetic or not args.input:
            ap.error("--output-format pdf needs a real --input table "
                     "(--synthetic generates interleaved span docs, "
                     "not page images)")
    if not (args.synthetic or args.input):
        ap.error("one of --input / --synthetic is required")
    return args


def run(spark, args: argparse.Namespace) -> dict:
    """Run the front door ``args`` names through its sharded checkpoint
    on ``spark``; returns the manifest."""
    from archive_pdf_tools_spark.operators import (checkpoint, imagestack,
                                                   pdfcomp, recode)
    from archive_pdf_tools_spark.sources import (hocr, htmlmain,
                                                 synthetic_documents)

    commit = dict(shards=args.shards,
                  stop_after_shards=args.stop_after_shards)
    if args.synthetic:
        docs = synthetic_documents(spark, n_docs=args.synthetic,
                                   num_partitions=args.partitions)
        return checkpoint.run_with_checkpoint(
            spark, docs, args.output, num_partitions=args.partitions, **commit)
    docs = spark.read.parquet(args.input)
    door = (args.input_format, args.output_format)
    if door == ("imagestack", "pdf"):
        md = {f: getattr(args, f"metadata_{f}")
              for f in ("title", "author", "subject", "keywords",
                        "creatortool")
              if getattr(args, f"metadata_{f}")}
        return recode.run_recode_checkpoint(
            spark, docs, args.output, metadata=md or None,
            lang=args.metadata_language, **commit,
            **{o: getattr(args, o) for o in _RECODE_OPTS})
    if door == ("imagestack", "spans"):
        return imagestack.run_imagestack_checkpoint(spark, docs, args.output,
                                                   **commit)
    if door == ("pdf", "pdf"):
        # Recompress: the MRC-recoded PDF itself is the product
        # (bin/compress-pdf-images as a cluster job).
        return pdfcomp.run_recompress_checkpoint(
            spark, docs, args.output, password=args.pdf_password, **commit)
    if door == ("pdf", "spans"):
        # The conversion IS the extraction for PDFs (content-stream
        # text + MRC-recoded images): shard-committed directly.
        return pdfcomp.run_pdf_checkpoint(
            spark, docs, args.output, password=args.pdf_password, **commit)
    if args.input_format == "hocr":
        docs = hocr.hocr_documents(
            docs, dpi_col="dpi" if "dpi" in docs.columns else None)
    elif args.input_format == "html":
        docs = htmlmain.html_documents(docs, payloads=True)
    return checkpoint.run_with_checkpoint(
        spark, docs, args.output, num_partitions=args.partitions, **commit)


def main(argv=None):
    args = parse_args(argv)

    import os

    from pyspark.sql import SparkSession

    builder = (SparkSession.builder
               .appName("archive-pdf-tools-spark-extract")
               .config("spark.sql.adaptive.enabled", "true")
               .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "64"))
    if args.native_codecs:
        # registry.py honors this at import in every python worker
        os.environ["SPARK_GRAFT_NATIVE_CODECS"] = "1"
        builder = builder.config(
            "spark.executorEnv.SPARK_GRAFT_NATIVE_CODECS", "1")
    spark = builder.getOrCreate()
    if args.native_codecs:
        # the env hook already ran the (contract-verifying) swap at
        # registry import — report its record, don't verify twice
        from archive_pdf_tools_spark.kernels import registry
        print(json.dumps({"native_codecs_swapped":
                          registry.ENV_SWAPPED}))
    try:
        print(json.dumps(run(spark, args)))
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
