"""Deduplication over the ``documents`` table.

Six families:

* exact:      md5 fingerprint group-by, keep min doc_id (pure engine).
* n-gram Jaccard: word shingles -> stop-shingle filter -> self-join ->
              |A∩B| / (|A|+|B|-|A∩B|) >= tau.
* MinHash:    k Carter-Wegman permutations over md5-based shingle hashes,
              banded LSH bucket join -> candidates -> exact-Jaccard verify.
* SimHash:    56-bit sign-aggregate of token hashes.
* winnowing:  char k-gram rolling-min fingerprints (one vectorized map
              stage) -> DF-capped pair join (substring-level near-dups).
* embedding:  cosine near-dup, IVF-cell-blocked (pure engine verify).

Tokenize/shingle/hash stages run as vectorized Arrow-batched UDFs on
purpose: Catalyst's higher-order functions (transform/filter/aggregate
lambdas) are *interpreted*, and measured several times slower than
hashlib+NumPy in ``mapInPandas`` — joins, group-bys and filters stay
engine-side.  Every computed column is aliased so the DuckDB oracle can
emit the same names (the driver hashes columns sorted by name).

Scale notes (10^12-doc design point):

* signatures/fingerprints are map-only stages — no shuffle until the
  candidate join;
* the shingle self-join is the classic bottleneck — the stop-shingle
  filter (document frequency cap) bounds bucket sizes exactly like
  salting bounds key skew; at scale the DF cap becomes a broadcast-able
  sketch or a first groupBy pass (it is a groupBy here);
* MinHash bands join on (band, bucket-signature), so candidate volume is
  controlled by band width, not corpus size; AQE splits skewed buckets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .textstats import fingerprint

__all__ = ["exact_duplicates", "shingles_df", "ngram_jaccard_pairs",
           "minhash_signatures", "band_buckets", "minhash_lsh_pairs",
           "simhash", "winnow_fingerprints", "winnow_pairs",
           "duplicate_components", "embedding_near_dups",
           "positional_grams", "substring_dup_stats",
           "paragraph_dup_stats"]


# Shared word tokenizer for the shingle/minhash/simhash/substring
# families (winnowing normalizes differently and keeps its own): java/
# RE2 ``\\s`` class, NOT unicode ``\\s``, mirroring the SQL oracles'
# regexp_split_to_array(lower(trim(text)), '\\s+').  Known-latent
# cross-engine edge (verified absent from the testdata): SQL trim()
# strips only ASCII spaces while this strip set covers the full class,
# so text with LEADING/TRAILING tab/newline would tokenize differently
# on the two engines.  One definition so a future tuning lands in every
# family at once.
_WS_RE = None


def _ws_tokens(text):
    """``text`` -> lowercase word tokens, or None for non-string."""
    global _WS_RE
    if _WS_RE is None:
        import re as _re
        _WS_RE = _re.compile(r"[ \t\n\x0b\f\r]+")
    if not isinstance(text, str):
        return None
    return _WS_RE.split(text.strip(" \t\n\x0b\f\r").lower())


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Groups of byte-identical (normalized) texts with >1 member."""
    return (documents
            .select(F.col("doc_id"), fingerprint("text").alias("fp"))
            .groupBy("fp")
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("keep_doc_id"))
            .where(F.col("n_dups") > 1))


def shingles_df(documents: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per doc: (doc_id, shingle) rows.

    Vectorized-UDF tokenization (java/RE2 ``\\s`` semantics, mirroring
    the SQL oracles) — Catalyst's transform/slice higher-order functions
    are interpreted and measured several times slower."""

    import pandas as pd


    def _sh_batches(batches):
        for pdf in batches:
            ids, shs = [], []
            for doc_id, text in zip(pdf["doc_id"].values,
                                    pdf["text"].values):
                toks = _ws_tokens(text)
                if toks is None:                # NULL text -> no rows,
                    continue                    # mirroring SQL semantics
                if len(toks) < n:
                    continue
                for s in {" ".join(toks[i:i + n])
                          for i in range(len(toks) - n + 1)}:
                    ids.append(doc_id)
                    shs.append(s)
            if ids:     # an all-skipped batch must yield nothing: an
                        # empty untyped frame cannot cast to the schema
                yield pd.DataFrame({"doc_id": ids, "shingle": shs})

    src = documents.select("doc_id", "text")
    id_type = src.schema["doc_id"].dataType.simpleString()
    return src.mapInPandas(_sh_batches,
                           schema=f"doc_id {id_type}, shingle string")


def expand_id_pairs(grouped: DataFrame, id_type: str) -> DataFrame:
    """(ids array) rows -> (doc_a, doc_b) rows: every ordered pair
    (a < b) within each group, expanded by a vectorized NumPy map stage.

    The group-then-expand shape replaces a relation self-join on the
    group key: the upstream (signature/shingle) subtree executes ONCE
    instead of once per join side, and pairs cross as plain id columns.
    Pair order matches the engines' ``<``: numeric for numeric ids;
    NumPy object-array sort = code-point order = UTF-8 byte order for
    string ids."""
    import pandas as pd

    def _pair_batches(batches):
        tri = {}
        out_a, out_b, buffered = [], [], 0
        for pdf in batches:
            for ids in pdf["ids"].values:
                a = np.sort(np.asarray(ids))
                g = a.size
                iu = tri.get(g)
                if iu is None:
                    iu = tri[g] = np.triu_indices(g, k=1)
                out_a.append(a[iu[0]])
                out_b.append(a[iu[1]])
                buffered += iu[0].size
                if buffered >= 2_000_000:
                    yield pd.DataFrame({
                        "doc_a": np.concatenate(out_a),
                        "doc_b": np.concatenate(out_b)})
                    out_a, out_b, buffered = [], [], 0
        if buffered:
            yield pd.DataFrame({"doc_a": np.concatenate(out_a),
                                "doc_b": np.concatenate(out_b)})

    return grouped.mapInPandas(
        _pair_batches, schema=f"doc_a {id_type}, doc_b {id_type}")


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3,
                        tau: float = 0.8, max_df: int = 100) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard.

    ``max_df`` drops shingles present in more than that many documents
    (stop-shingles) — the standard scale guard that bounds the pair
    fan-out; deterministic, and mirrored in the oracle SQL.

    Shape (r10): one shingle-keyed shuffle builds per-shingle postings
    (``collect_list(doc_id)``, complete by construction since the group
    is global), the DF cap is the postings length (2 <= len <= max_df —
    the separate ``rare`` groupBy + join of the old self-join plan is
    gone), and a vectorized map stage expands each postings list into
    its ordered pairs.  |A∩B| then falls out of one codegen'd
    ``groupBy(doc_a, doc_b).count()`` with map-side partial aggregation
    — the pair volume (sum df·(df-1)/2, identical to the old self-join
    output) crosses the exchange as numeric key pairs instead of
    flowing through a string-keyed join.  Pair order inside the map
    stage matches the engines' ``<``: numeric for numeric doc ids, and
    NumPy object-array sort = code-point order = UTF-8 byte order for
    string ids.

    Scale contract: this exact algorithm is the ground-truth VERIFIER
    behind the blocked paths (``minhash_lsh_pairs`` / ``winnow``), not
    the 10^12-doc front door.  Accordingly only the per-doc size
    aggregate (O(n_docs) rows, reused by both join sides) is cached; the
    raw (doc_id, shingle) relation — the size of the tokenized corpus —
    is deliberately NOT cached, so a direct call on a large corpus costs
    bounded recompute, never a corpus-sized cache pin.
    """
    spark = documents.sparkSession
    par = spark.sparkContext.defaultParallelism
    src = documents.select("doc_id", "text").repartition(par)
    id_type = src.schema["doc_id"].dataType.simpleString()
    sh = shingles_df(src, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh")).cache()
    # Per-shingle postings: the groupBy is global, so len(ids) IS the
    # document frequency; singletons produce no pairs and are dropped
    # with the stop-shingles.  The shingle string itself never leaves
    # this subtree (projected away before the Python stage).
    grouped = (sh.groupBy("shingle")
               .agg(F.collect_list("doc_id").alias("ids"))
               .where((F.size("ids") >= 2) & (F.size("ids") <= max_df))
               .select("ids")
               # spread postings for the pair-expansion stage: the
               # postings relation is tiny (<= max_df ids per row), but
               # its pair output is quadratic in len(ids)
               .repartition(par))

    # Packed pair keys: when doc ids are integral in [0, 2^31) (checked
    # by a cheap pruned-scan bounds job), each ordered pair packs into
    # ONE int64 (a << 31 | b, bijective) — half the bytes through the
    # Arrow boundary and the exchange, one 8-byte key for the hash
    # aggregate.  Any other id domain takes the generic two-column
    # path; both are exact.
    packable = False
    if id_type in ("bigint", "int", "smallint", "tinyint"):
        lo, hi = documents.agg(F.min("doc_id"), F.max("doc_id")).head()
        packable = lo is not None and lo >= 0 and hi < (1 << 31)
    if packable:
        import pandas as pd

        def _pk_batches(batches):
            tri = {}
            out, buffered = [], 0
            for pdf in batches:
                for ids in pdf["ids"].values:
                    a = np.sort(np.asarray(ids, dtype=np.int64))
                    g = a.size
                    iu = tri.get(g)
                    if iu is None:
                        iu = tri[g] = np.triu_indices(g, k=1)
                    out.append((a[iu[0]] << np.int64(31)) | a[iu[1]])
                    buffered += iu[0].size
                    if buffered >= 2_000_000:
                        yield pd.DataFrame({"pk": np.concatenate(out)})
                        out, buffered = [], 0
            if buffered:
                yield pd.DataFrame({"pk": np.concatenate(out)})

        pk = grouped.mapInPandas(_pk_batches, schema="pk bigint")
        inter = (pk.groupBy("pk").agg(F.count("*").alias("n_inter"))
                 .select(F.shiftright("pk", 31).alias("doc_a"),
                         F.expr("pk & 2147483647").alias("doc_b"),
                         "n_inter"))
        if id_type != "bigint":
            inter = inter.select(
                F.col("doc_a").cast(id_type).alias("doc_a"),
                F.col("doc_b").cast(id_type).alias("doc_b"), "n_inter")
    else:
        pairs = expand_id_pairs(grouped, id_type)
        inter = (pairs.groupBy("doc_a", "doc_b")
                 .agg(F.count("*").alias("n_inter")))
    sa = F.broadcast(sizes.select(F.col("doc_id").alias("doc_a"),
                                  F.col("n_sh").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("doc_id").alias("doc_b"),
                                  F.col("n_sh").alias("n_b")))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard",
                        F.round(F.col("n_inter") /
                                (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4))
            .where(F.col("jaccard") >= tau)
            .select("doc_a", "doc_b", "jaccard"))


MINHASH_P = (1 << 31) - 1


def _perm_coeffs(k: int, seed: int = 7):
    """Carter-Wegman dot-product hash coefficients (a, b, c), each in
    [1, 2^31-1).  The permutation is
    ``(a*h_lo + b*h_hi + c) mod (2^31-1)`` over the 28-bit halves of the
    h56 shingle hash — every intermediate product < 2^59, so the whole
    computation is int64-safe in both Spark and DuckDB (no HUGEINT / no
    ANSI overflow)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_P, size=k, dtype=np.int64)
    b = rng.integers(1, MINHASH_P, size=k, dtype=np.int64)
    c = rng.integers(1, MINHASH_P, size=k, dtype=np.int64)
    return a.tolist(), b.tolist(), c.tolist()


def minhash_perm_expr(a: int, b: int, c: int) -> str:
    """SQL expression (valid in Spark SQL and DuckDB modulo the integer
    division spelling) for one permutation applied to column ``h``."""
    return (f"(({a} * (h % {1 << 28}) + {b} * (h {{div}} {1 << 28}) + {c}) "
            f"% {MINHASH_P})")


def minhash_signatures(documents: DataFrame, n: int = 3, k: int = 32,
                       seed: int = 7) -> DataFrame:
    """(doc_id, sig array<bigint> of length k) MinHash signatures (see
    ``_perm_coeffs`` for the int64-safe permutation family).

    Shuffle-free, single vectorized-UDF stage: tokenize / shingle / md5 /
    permutation minima all happen inside one ``mapInPandas`` (Catalyst's
    interpreted higher-order functions made the JVM-expression shingle
    path ~5x slower than hashlib-in-Arrow-batches; and the UDF boundary
    stops CollapseProject from duplicating work per permutation column).
    Tokenization mirrors the oracle exactly: ASCII-whitespace split of
    trimmed lowercased text (java/RE2 ``\\s`` semantics).  Map-only stage
    at any scale; the oracle SQL (explode+GROUP BY in DuckDB) checks
    results, not the plan."""
    import hashlib

    import pandas as pd

    a, b, c = _perm_coeffs(k, seed)
    av = np.asarray(a, dtype=np.int64)[None, :]
    bv = np.asarray(b, dtype=np.int64)[None, :]
    cv = np.asarray(c, dtype=np.int64)[None, :]
    mask28 = np.int64((1 << 28) - 1)

    def _sig_batches(batches):
        md5 = hashlib.md5
        for pdf in batches:
            out_ids, out_sigs = [], []
            for doc_id, text in zip(pdf["doc_id"].values,
                                    pdf["text"].values):
                toks = _ws_tokens(text)
                if toks is None:      # NULL -> absent (SQL parity)
                    continue
                if len(toks) < n:
                    continue          # no shingles -> absent (oracle parity)
                shingles = {" ".join(toks[i:i + n])
                            for i in range(len(toks) - n + 1)}
                hs = np.fromiter(
                    (int(md5(s.encode("utf-8")).hexdigest()[:14], 16)
                     for s in shingles),
                    dtype=np.int64, count=len(shingles))
                vals = (av * (hs[:, None] & mask28)
                        + bv * (hs[:, None] >> 28) + cv) % MINHASH_P
                out_ids.append(doc_id)
                out_sigs.append(vals.min(axis=0).tolist())
            if out_ids:
                yield pd.DataFrame({"doc_id": out_ids, "sig": out_sigs})

    src = documents.select("doc_id", "text")
    id_type = src.schema["doc_id"].dataType.simpleString()
    return src.mapInPandas(
        _sig_batches, schema=f"doc_id {id_type}, sig array<bigint>")


def band_buckets(sig_df: DataFrame, k: int, bands: int,
                 extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Explode (doc_id, sig) signature rows to (doc_id[, extra], band,
    bucket) LSH keys: band signature = '-'-joined band rows.  The ONE
    banding implementation — batch candidate generation and the
    streaming stateful matcher must bucket identically or checkpointed
    stream state silently diverges from batch results."""
    if bands > k or k % bands:
        raise ValueError(f"bands={bands} must divide k={k} (rows_per_band"
                         " = 0 would place every doc in one bucket)")
    rows_per_band = k // bands
    band_cols = []
    for bi in range(bands):
        seg = F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band)
        band_cols.append(F.struct(F.lit(bi).alias("band"),
                                  F.concat_ws("-", *[
                                      F.element_at(seg, j + 1).cast("string")
                                      for j in range(rows_per_band)]).alias("bucket")))
    return (sig_df.select("doc_id", *extra_cols,
                          F.explode(F.array(*band_cols)).alias("bb"))
            .select("doc_id", *extra_cols, "bb.band", "bb.bucket"))


def minhash_lsh_pairs(documents: DataFrame, n: int = 3, k: int = 32,
                      bands: int = 8, tau: float = 0.5,
                      seed: int = 7) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    band signature = concat of the band's rows; docs sharing any band
    bucket become candidates; candidates are verified with the exact
    n-gram Jaccard (no stop-shingle cap here: candidate count is already
    bounded by the banding).
    """
    sig = minhash_signatures(documents, n=n, k=k, seed=seed)
    buckets = band_buckets(sig, k, bands)
    id_type = buckets.schema["doc_id"].dataType.simpleString()
    # Candidate pairs via group-then-expand rather than a bucket
    # self-join: the signature+banding subtree (the expensive stage)
    # executes ONCE, one (band, bucket)-keyed shuffle builds the bucket
    # membership lists, and a vectorized map stage expands each bucket's
    # ordered pairs — identical candidate set (docs sharing any band
    # bucket), still bounded by band width.
    # cand is cached: it feeds BOTH the semi-join that bounds the verify
    # tokenization and the final intersect join — without the cache the
    # signature + banding lineage would execute twice.  The cached rows
    # are only the distinct candidate id pairs (bounded by band width),
    # not shingles.
    members = (buckets.groupBy("band", "bucket")
               .agg(F.collect_list("doc_id").alias("ids"))
               .where(F.size("ids") >= 2)
               .select("ids"))
    cand = (expand_id_pairs(members, id_type)
            .distinct()
            .cache())
    # Verify is candidate-bounded: only documents that appear in some
    # candidate pair are re-tokenized (semi-join on the candidate doc
    # set), so the shingle table cached here is O(candidate docs) — set
    # by band width — never the full corpus (a full-table cache is a
    # silent OOM/recompute hazard at warehouse scale).
    cand_docs = (cand.select(F.col("doc_a").alias("doc_id"))
                 .union(cand.select(F.col("doc_b").alias("doc_id")))
                 .distinct())
    sh = shingles_df(documents.join(cand_docs, "doc_id", "left_semi"),
                     n).cache()
    # Per-doc shingle ARRAYS + array_intersect: shingles are per-doc
    # distinct (shingles_df), so size(array_intersect(A, B)) == |A∩B|
    # exactly, with no |cand|·|shingles/doc| exploded equi-join and no
    # pair-keyed aggregation exchange.  Still candidate-bounded: the
    # arrays table is O(candidate docs), two id-keyed joins attach it
    # to the pairs.
    sharr = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shs"),
        F.count("*").alias("n_sh"))
    sa = sharr.select(F.col("doc_id").alias("doc_a"),
                      F.col("shs").alias("shs_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sharr.select(F.col("doc_id").alias("doc_b"),
                      F.col("shs").alias("shs_b"),
                      F.col("n_sh").alias("n_b"))
    # only pairs sharing a shingle are near-duplicates: without the
    # n_inter filter, tau <= 0 would admit disjoint candidates
    verified = (cand.join(sa, "doc_a").join(sb, "doc_b")
                .withColumn("n_inter", F.size(
                    F.array_intersect("shs_a", "shs_b")))
                .where(F.col("n_inter") > 0))
    return (verified
            .withColumn("jaccard",
                        F.round(F.col("n_inter") /
                                (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4))
            .where(F.col("jaccard") >= tau)
            .select("doc_a", "doc_b", "jaccard"))


def simhash(documents: DataFrame) -> DataFrame:
    """56-bit SimHash per document from whitespace tokens (h56-hashed;
    bits 0..55).

    Shuffle-free, single vectorized-UDF stage (same rationale as
    ``minhash_signatures``: Catalyst's higher-order functions are
    interpreted, so tokenize/md5/bit-count all run in one Arrow-batched
    NumPy pass; tokenization mirrors the oracle's java/RE2 ``\\s``).
    The naive explode formulation shuffles 56 rows per token.  The
    DuckDB oracle uses the explode+GROUP BY formulation; results are
    identical."""
    import hashlib

    import pandas as pd


    def _sim_batches(batches):
        md5 = hashlib.md5
        shifts = np.arange(56, dtype=np.int64)
        weights = (np.int64(1) << shifts)
        for pdf in batches:
            texts = pdf["text"].values
            keep = [isinstance(t, str) for t in texts]
            texts = [t for t, k in zip(texts, keep) if k]  # NULL -> absent
            lens = np.empty(len(texts), dtype=np.int64)
            chunks = []
            for i, text in enumerate(texts):
                toks = _ws_tokens(text)
                lens[i] = len(toks)
                chunks.append(np.fromiter(
                    (int(md5(t.encode("utf-8")).hexdigest()[:14], 16)
                     for t in toks), dtype=np.int64, count=len(toks)))
            flat = np.concatenate(chunks) if chunks else np.zeros(0, np.int64)
            bits = ((flat[:, None] >> shifts) & 1).astype(np.int64) * 2 - 1
            ends = np.cumsum(lens)
            starts = ends - lens
            csum = np.vstack([np.zeros(56, np.int64),
                              np.cumsum(bits, axis=0)])
            sums = csum[ends] - csum[starts]
            sim = ((sums > 0) * weights).sum(axis=1)
            if texts:
                yield pd.DataFrame({"doc_id": pdf["doc_id"].values[keep],
                                    "simhash": sim})

    src = documents.select("doc_id", "text")
    id_type = src.schema["doc_id"].dataType.simpleString()
    return src.mapInPandas(_sim_batches,
                           schema=f"doc_id {id_type}, simhash bigint")


# Polynomial-hash base for winnowing k-gram fingerprints (mod 2**56).
# Mirrored by the DuckDB winnow oracles via winnow_gram_hash_sql().
WINNOW_BASE = 1000003


def winnow_gram_hash_sql(k: int = 8, t: str = "t", i: str = "i") -> str:
    """The SQL expression computing the SAME k-gram polynomial hash as
    ``winnow_fingerprints`` for the gram starting at 1-based character
    position ``i`` of column ``t``: sum_j unicode(t[i+j]) *
    (BASE^(k-1-j) mod 2**56), all in HUGEINT (products < 2**77, sum
    < 2**80), reduced mod 2**56 and cast BIGINT.  Multiplication
    respects the modulus, so pre-reduced power constants are exact."""
    m = 1 << 56
    terms = " + ".join(
        f"CAST(unicode(substr({t}, {i}+{j}, 1)) AS HUGEINT) * "
        f"{pow(WINNOW_BASE, k - 1 - j, m)}::HUGEINT"
        for j in range(k))
    return f"CAST(({terms}) % {m}::HUGEINT AS BIGINT)"


def winnow_fingerprints(documents: DataFrame, k: int = 8,
                        w: int = 4) -> DataFrame:
    """Distinct winnowing fingerprints per doc: (doc_id, fp bigint) rows
    (Schleimer/Wilkerson/Aiken SIGMOD'03 selection).

    One vectorized map stage, zero shuffle before the fp rows: per doc,
    normalize -> char k-gram polynomial hashes -> rolling window-w
    minima via a NumPy sliding-window view -> np.unique.  The earlier
    formulation exploded ONE ROW PER CHARACTER (``F.explode(
    F.sequence(...))``) and pushed that ~10-20x-amplified row set
    through a window-function Exchange — at 100 TB of text that shuffle
    IS the job; here nothing leaves the executor but the distinct
    (doc_id, fp) rows (~n_chars/w per doc).  Same template as
    ``minhash_signatures``.

    Hash: degree-(k-1) polynomial over codepoints, base ``WINNOW_BASE``,
    mod 2**56 — k vectorized uint64 Horner steps per document instead of
    one interpreter-level md5 call per character position (the previous
    kernel's CPU profile was row-at-a-time Python in disguise).  uint64
    wraparound is exact here: powers-of-two moduli nest, so mod-2**64
    intermediates masked to 56 bits at the end equal true mod-2**56
    arithmetic.  56 bits keeps every fp exactly representable in a
    BIGINT/int64 and in DuckDB HUGEINT mirror math (see SQL_WINNOW).

    Normalization mirrors the SQL oracle exactly: ASCII-space trim,
    lower, java-``\\s+`` collapsed to one space.
    """
    import re as _re

    import pandas as pd

    ws = _re.compile(r"[ \t\n\x0b\f\r]+")     # java/RE2 \s, not unicode \s

    def _fp_batches(batches):
        swv = np.lib.stride_tricks.sliding_window_view
        base = np.uint64(WINNOW_BASE)
        mask56 = np.uint64((1 << 56) - 1)
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"].values,
                                    pdf["text"].values):
                if not isinstance(text, str):   # NULL -> absent (SQL parity)
                    continue
                t = ws.sub(" ", text.strip(" ").lower())
                n = len(t)
                if n < k + w - 1:
                    continue
                cps = np.frombuffer(t.encode("utf-32-le"),
                                    dtype=np.uint32).astype(np.uint64)
                hs = np.zeros(n - k + 1, dtype=np.uint64)
                for j in range(k):              # k Horner steps, vectorized
                    hs = hs * base + cps[j:n - k + 1 + j]
                hs = (hs & mask56).astype(np.int64)
                uniq = np.unique(swv(hs, w).min(axis=1))
                ids.extend([doc_id] * len(uniq))
                fps.extend(uniq.tolist())
            if ids:
                yield pd.DataFrame({"doc_id": ids, "fp": fps})

    src = documents.select("doc_id", "text")
    id_type = src.schema["doc_id"].dataType.simpleString()
    return src.mapInPandas(_fp_batches,
                           schema=f"doc_id {id_type}, fp bigint")


def winnow_pairs(documents: DataFrame, k: int = 8, w: int = 4,
                 max_df: int = 50, tau: float = 0.5) -> DataFrame:
    """Substring-level near-dup candidates via shared winnowing
    fingerprints (the cross-doc substring dedup signal of the Lee et al.
    2022 training-data dedup family).

    Vectorized map-stage fingerprinting (``winnow_fingerprints``) ->
    stop-fingerprint cap (document frequency <= max_df, the same
    self-join bound as stop-shingles) -> pairs sharing fingerprints,
    scored by containment = shared / min(|A|, |B|).
    """
    fps = winnow_fingerprints(documents, k=k, w=w)
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    rare = (fps.groupBy("fp").agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_df).select("fp"))
    filtered = fps.join(rare, "fp")
    a = filtered.alias("a")
    b = filtered.alias("b")
    shared = (a.join(b, (F.col("a.fp") == F.col("b.fp")) &
                     (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count("*").alias("shared")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_fp").alias("n_b"))
    return (shared.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("containment",
                        F.round(F.col("shared") /
                                F.least("n_a", "n_b"), 4))
            .where(F.col("containment") >= tau)
            .select("doc_a", "doc_b", "shared", "containment"))


def duplicate_components(doc_ids: DataFrame, pairs: DataFrame,
                         max_iters: int = 20) -> DataFrame:
    """Connected components over a near-dup pair graph: (doc_id,
    cluster_id) where cluster_id = min doc_id reachable through pairs.

    Hash-min label propagation (the standard distributed CC shape, cf.
    the "Connected Components in MapReduce" family): every round each
    vertex takes the min label among itself and its neighbours; rounds
    needed = component diameter, and near-dup components are shallow
    (dups of dups of X are near X), so this converges in a handful of
    rounds even at 10^12 docs.  Each round is one join + groupBy on the
    undirected edge list; ``localCheckpoint`` cuts the lineage so the
    plan does not grow per round (at real scale: parquet/Iceberg
    checkpoints instead).  The per-round convergence count is one
    bounded driver action, same as every iterative Spark algorithm.
    """
    edges = pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst"))
    und = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))).cache()
    labels = doc_ids.select("doc_id", F.col("doc_id").alias("cluster_id"))
    changed = 0
    for _ in range(max_iters):
        nbr = (und.join(labels, und["src"] == labels["doc_id"])
               .groupBy("dst").agg(F.min("cluster_id").alias("nbr_min")))
        merged = (labels.join(nbr, labels["doc_id"] == nbr["dst"], "left")
                  .select(labels["doc_id"],
                          F.least("cluster_id",
                                  F.coalesce("nbr_min", "cluster_id"))
                          .alias("cluster_id")))
        merged = merged.localCheckpoint(eager=True)
        changed = (merged.alias("n")
                   .join(labels.alias("o"), "doc_id")
                   .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
                   .count())
        labels = merged
        if changed == 0:
            break
    if changed != 0:
        # Non-convergence must be loud: partially-propagated labels are
        # silently *wrong* clusters, not approximate ones.
        raise RuntimeError(
            f"duplicate_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters — rounds "
            "needed = component diameter")
    return labels


def embedding_near_dups(embeddings: DataFrame, tau: float = 0.9,
                        n_centroids: int = 16, nprobe: int = 2,
                        seed: int = 17) -> DataFrame:
    """Cosine near-duplicate pairs, blocked on IVF cell membership.

    Scale shape: each vector is assigned to its ``nprobe`` nearest
    centroids (multi-probe — a pair straddling a cell boundary is still
    co-blocked if any probe cell overlaps); candidates are the distinct
    id pairs sharing a cell, so candidate volume is O(sum of cell
    sizes^2 / n_centroids), not O(n^2) per label group like the earlier
    label-blocked version.  Only (vec_id, cell) rides the blocking
    shuffle; vectors are re-joined for the exact-cosine verify.
    """
    from .similarity import ivf_cells, ivf_fit_centroids

    C = ivf_fit_centroids(embeddings, n_centroids=n_centroids, seed=seed)
    cells = ivf_cells(embeddings, C, nprobe=nprobe)
    a = cells.alias("a")
    b = cells.alias("b")
    cand = (a.join(b, (F.col("a.cell") == F.col("b.cell")) &
                   (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"))
            .distinct())
    # greatest() clamp: a zero-norm (failed/padded) embedding would abort
    # the whole query under Spark 4's default ANSI DIVIDE_BY_ZERO.
    norm = F.greatest(
        F.sqrt(F.aggregate("embedding", F.lit(0.0),
                           lambda acc, x: acc + x.cast("double") * x.cast("double"))),
        F.lit(1e-12))
    e = embeddings.select("vec_id", "embedding", norm.alias("nrm"))
    ea = e.select(F.col("vec_id").alias("vec_a"),
                  F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"),
                  F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b"))
    dot = F.aggregate(
        F.zip_with("emb_a", "emb_b",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    return (cand.join(ea, "vec_a").join(eb, "vec_b")
            .select("vec_a", "vec_b",
                    F.round(dot / (F.col("nrm_a") * F.col("nrm_b")), 4)
                     .alias("cosine"))
            .where(F.col("cosine") >= tau))


def positional_grams(documents: DataFrame, k: int = 5) -> DataFrame:
    """POSITIONAL token k-grams: (doc_id, n_toks, i, gram) — one row
    per gram start (1-based), duplicates kept (unlike ``shingles_df``,
    which is a distinct set).  The substring-dedup relation.

    Same vectorized-UDF tokenization as the other dedup entry points
    (lowercased, java/RE2 ``\\s`` split, mirroring the SQL oracles);
    docs shorter than ``k`` tokens emit nothing."""

    import pandas as pd


    def _gram_batches(batches):
        for pdf in batches:
            ids, ns, pos, grams = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"].values,
                                    pdf["text"].values):
                toks = _ws_tokens(text)
                if toks is None:
                    continue
                n = len(toks)
                if n < k:
                    continue
                for i in range(n - k + 1):
                    ids.append(doc_id)
                    ns.append(n)
                    pos.append(i + 1)            # 1-based like SQL
                    grams.append(" ".join(toks[i:i + k]))
            if ids:
                yield pd.DataFrame({"doc_id": ids, "n_toks": ns,
                                    "i": pos, "gram": grams})

    src = documents.select("doc_id", "text")
    id_type = src.schema["doc_id"].dataType.simpleString()
    return src.mapInPandas(
        _gram_batches,
        schema=f"doc_id {id_type}, n_toks int, i int, gram string")


def substring_dup_stats(documents: DataFrame, k: int = 5,
                        key: str = "string") -> DataFrame:
    """Cross-document SUBSTRING-level dedup statistics (the Lee et
    al. "Deduplicating Training Data" exact-substring family, sized
    to token k-grams): a gram is DUPLICATED when it occurs >= 2 times
    anywhere in the corpus (across docs or repeated within one), and
    each doc reports its gram total, duplicated-gram count, and the
    number of distinct token positions covered by the union of its
    duplicated grams' [i, i+k) spans — the quantity a span-removal
    pass would delete.

    Plan shape: one vectorized map stage emits the positional-gram
    relation, then ONE shuffle — a count window partitioned by the
    gram — tags every occurrence with its corpus frequency (an
    aggregate+join would shuffle the same relation twice).  The
    coverage union is exact via sequence-explode + countDistinct.
    All four per-doc metrics aggregate in ONE pass over the exploded
    relation (distinct-on-position for gram counts, distinct-on-
    covered-position for the union) — a two-branch formulation
    recomputes the tokenize+gram shuffle twice because column pruning
    defeats exchange reuse.  The gram KEY here is the string itself
    so the DuckDB oracle can join on gram identity; ``key="hash"``
    is the 100 TB shuffle shape — the windows key on an xxhash64 PAIR
    (two seeds, 128 collision bits) instead of the gram string, so
    shuffle rows carry 16 bytes per key instead of the full k-token
    text.  Same plan, same results (tested equal on the corpus);
    string keying stays the default because the SQL oracle joins on
    gram identity.

    The APPLY step rides the same shuffle: occurrences of each
    duplicated gram rank by (doc_id, i) — the row_number shares the
    count window's partition, so one sort serves both — and a token
    position is REMOVED when any NON-FIRST duplicated occurrence
    covers it (the all-but-one-span removal the Lee et al. tool
    performs; a kept span that overlaps a removed one still loses the
    shared tokens, matching byte-range removal semantics).
    ``removed_tokens``/``kept_tokens`` report it per doc."""
    from pyspark.sql import Window

    grams = positional_grams(documents, k)
    if key == "hash":
        grams = grams.select(
            "doc_id", "n_toks", "i",
            F.xxhash64("gram").alias("gk1"),
            F.xxhash64(F.lit("s2"), F.col("gram")).alias("gk2"))
        w = Window.partitionBy("gk1", "gk2")
    elif key == "string":
        w = Window.partitionBy("gram")
    else:
        raise ValueError("key must be 'string' or 'hash'")
    wo = w.orderBy("doc_id", "i")
    g2 = grams.withColumn(
        "c", F.count("*").over(
            w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    ).withColumn("rn", F.row_number().over(wo))
    pos = g2.select(
        "doc_id", "n_toks", "i", "c", "rn",
        F.explode(F.sequence(F.col("i"),
                             F.col("i") + F.lit(k - 1))).alias("t"))
    dup = F.col("c") >= 2
    out = pos.groupBy("doc_id").agg(
        F.max("n_toks").alias("n_tokens"),
        F.countDistinct("i").alias("n_grams"),
        F.countDistinct(F.when(dup, F.col("i"))).alias("dup_grams"),
        F.countDistinct(F.when(dup, F.col("t")))
         .alias("covered_tokens"),
        F.countDistinct(F.when(dup & (F.col("rn") >= 2), F.col("t")))
         .alias("removed_tokens"))
    return out.withColumn(
        "kept_tokens", F.col("n_tokens") - F.col("removed_tokens"))


def paragraph_dup_stats(documents: DataFrame,
                        paras_col: str = "paras",
                        id_col: str = "doc_id") -> DataFrame:
    """CCNet-style PARAGRAPH-level dedup statistics: the granularity
    most web-corpus cleaning actually removes at (boilerplate lines
    and paragraphs repeat across documents far more than whole docs
    do).  Input: one row per doc with an ``array<string>`` of
    paragraphs.  A paragraph occurrence is DUPLICATED when the same
    normalized paragraph (lower, whitespace-collapsed, 64-bit hash)
    appeared earlier under the global first-occurrence order
    (doc_id, position) — the keep-first rule of ``exact_duplicates``
    applied per paragraph.  Per doc: paragraph count, duplicated
    count, and the character count that survives removal.

    Scale shape: posexplode (map-side), one hash-keyed shuffle for the
    first-occurrence window (rows carry (hash, id, pos, length) — the
    paragraph TEXT never crosses the shuffle), then a doc-keyed
    aggregate; both keys are high-cardinality and unskewed by
    construction."""
    from pyspark.sql.window import Window

    ex = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(paras_col).alias("pos", "para"))
    norm = F.regexp_replace(F.lower(F.trim(F.col("para"))), r"\s+", " ")
    # Two independent 64-bit hashes (second one salted) key the
    # first-occurrence window: at ~1e11 paragraphs a bare 64-bit key
    # takes birthday collisions that silently merge distinct paragraphs
    # (r9 ADVICE); 128 effective bits pushes that out of reach while
    # the shuffle still carries only hashes, never text.  (Keying on
    # raw length instead would be WRONG: occurrences of the same
    # normalized paragraph can differ in raw length.)
    ex = ex.select(
        "doc_id", "pos", F.length("para").alias("chars"),
        F.xxhash64(norm).alias("ph"),
        F.xxhash64(F.lit("p2"), norm).alias("ph2"))
    w = Window.partitionBy("ph", "ph2").orderBy("doc_id", "pos")
    ranked = ex.withColumn("rn", F.row_number().over(w))
    return (ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_dup_paras"),
        F.sum(F.when(F.col("rn") == 1, F.col("chars"))
              .otherwise(F.lit(0))).cast("long").alias("kept_chars")))
