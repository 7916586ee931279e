#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the flagship pipeline
and representative queries, for plan review without running Spark."""

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

COMMENT = {
    "extraction": (
        "Exactly two Exchanges: the explicit full-cardinality salt and the "
        "per-doc regroup.  Rasters/payloads cross only the first; the "
        "second moves extracted page rows.  ObjectHashAggregate handles "
        "collect_list; array_sort/flatten/transform run inside the same "
        "stage."),
    "nation_revenue": (
        "nation/region stay BroadcastHashJoin (explicit broadcast hints); "
        "lineitem-orders-customer are shuffle joins sized by AQE; partial "
        "HashAggregate before the final shuffle."),
    "pricing_summary": (
        "Filter pushed to the parquet scan (PushedFilters), two-phase "
        "HashAggregate, only the six referenced columns read."),
    "simhash": (
        "No Exchange at all: tokenize + md5 in whole-stage codegen, "
        "bit-counting in one Arrow-batched MapInPandas."),
    "minhash_sigs": (
        "Same shuffle-free hybrid shape as simhash; the mapInPandas "
        "boundary also stops CollapseProject from duplicating the "
        "hash-array expression per permutation."),
    "minhash_lsh_pairs": (
        "The scale-correct near-dup path: map-only signature stage -> "
        "explode to (band, bucket) -> self-join keyed on the bucket "
        "(candidate volume set by band width, not corpus size; AQE "
        "splits skewed buckets) -> exact-Jaccard verify join.  The "
        "verify shingle scan is candidate-bounded: a LeftSemi join on "
        "the candidate doc set precedes tokenization, so the cached "
        "working set is O(candidate docs), never the corpus."),
    "winnow_fp": (
        "Winnowing selection is ONE MapInPandas stage: k-gram hashes + "
        "rolling window minima inside the Arrow batch, no Exchange "
        "before the distinct (doc_id, fp) rows (the explode-per-"
        "character + window formulation shuffled a 10-20x-amplified "
        "row set); the only shuffle is the final per-doc aggregate."),
    "decontaminate": (
        "Benchmark decontamination: the eval-set shingle table "
        "broadcasts (BroadcastHashJoin), so the corpus-side shingle "
        "stream joins map-side and the corpus scan never shuffles; the "
        "only Exchange is the per-(doc, bench) overlap count."),
    "token_pack": (
        "Sequence packing: one window cumsum partitioned by (lang, "
        "hash shard) — bounded partitions, never a global ordering; "
        "a single Exchange on the partition key."),
    "embedding_dups": (
        "IVF-cell blocking: a vectorized MapInPandas assigns each "
        "vector its nprobe nearest centroids; only (vec_id, cell) rides "
        "the blocking self-join, embeddings re-join for the cosine "
        "verify — O(sum cell^2), not O(n^2), and no raster-sized rows "
        "in the wide shuffle."),
    "html_extract": (
        "HTML front door: two map-only vectorized stages (the fixture "
        "synth's MapInPandas, the boilerplate-strip parse's MapInArrow "
        "through pyworker.map_documents) + the tiny spread exchange; "
        "per-doc span analytics stay array-level (no explode shuffle)."),
    "pii_scrub": (
        "The 100-TB shape: a 3-column pruned scan, ONE codegen Project "
        "carrying every regexp_count/regexp_replace, partial "
        "aggregation (map-side combine) before the single Exchange, "
        "which moves only 5 longs per language.  No Python, no second "
        "pass over the text."),
    "substring_dedup": (
        "Lee-et-al substring dedup: ONE gram-keyed Exchange serves both "
        "the corpus-frequency count window and the rank-first "
        "row_number (same partition, one Sort); all per-doc metrics — "
        "incl. the span-union coverage and the apply-step removal — "
        "fold into a single Expand+distinct aggregate pass over the "
        "exploded positions (narrow int rows), so the wide gram "
        "relation shuffles exactly once.  key='hash' swaps the string "
        "key for an xxhash64 pair (16-byte shuffle keys) — the 100-TB "
        "shape, tested equal."),
    "lm_perplexity": (
        "Corpus-trained bigram-LM scoring: the bigram context zips "
        "inside the token array BEFORE the explode (no doc-keyed "
        "window shuffle — a lag() formulation shuffles the exploded "
        "corpus twice); unigram/bigram count tables are vocab-bounded "
        "and broadcast back (3 BroadcastHashJoin, 0 SortMergeJoin), "
        "and the LM constants derive from the unigram aggregate, not "
        "another corpus pass."),
    "pdfcomp_pdf": (
        "PDF recompress front door (r8): ZERO Exchange — the document "
        "row already carries everything the rewrite needs (parse, "
        "image decode, MRC, re-encode, content-stream rewrite, xref "
        "assembly all inside one MapInPandas over the scan), so 10^12 "
        "documents recompress with no shuffle at all; crash safety "
        "comes from the shared shard-manifest checkpoint, not from "
        "any cross-doc coordination."),
}


def main():
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from archive_pdf_tools_spark.operators.extract import (
        OUTPUT_SCHEMA_DDL, extract_spans, reassemble)
    from archive_pdf_tools_spark.queries import QUERIES

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue().strip()

    sections = []
    docs = spark.createDataFrame(
        [("d1", [("text", "{}", "", 0)])], schema=OUTPUT_SCHEMA_DDL)
    sections.append(("extraction (flagship pipeline)",
                     COMMENT["extraction"],
                     plan_of(reassemble(extract_spans(docs,
                                                      num_partitions=4)))))
    # every COMMENT entry renders — a hardcoded list silently dropped
    # sections when the dict grew
    for name in COMMENT:
        if name == "extraction":
            continue
        fn, _sql = QUERIES[name]
        sections.append((name, COMMENT[name], plan_of(fn(spark, SF))))

    out = ["# PLANS — formatted physical plans (regenerate: "
           "`python tools/dump_plans.py`)\n"]
    for title, comment, plan in sections:
        out.append(f"## {title}\n\n{comment}\n\n```\n{plan}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
