"""Functional tests for dedup / similarity / multimodal paths that have no
SQL oracle (plus planted-duplicate sanity for the ones that do)."""

import numpy as np
import pytest

from archive_pdf_tools_spark.functions.dedup import (
    exact_duplicates, minhash_lsh_pairs, ngram_jaccard_pairs)
from archive_pdf_tools_spark.functions.multimodal import (
    CODECS_AVAILABLE, decode_image, media_features)
from archive_pdf_tools_spark.functions.similarity import (
    brute_force_topk, srp_lsh_topk)


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight")
    near = base.replace("tonight", "today")          # 1-word change
    rows = [(0, base), (1, base), (2, near),
            (3, "completely different text about spark shuffles and "
                "partitions in a large cluster setting here"),
            (4, "another unrelated document mentioning archives scans "
                "and masks with many particular words inside")]
    # pad with distinct filler docs
    rows += [(i, f"filler document number {i} with token{i} token{i+1} "
                 f"token{i+2} token{i+3} unique content") for i in range(5, 30)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates_found(docs_with_dups):
    got = exact_duplicates(docs_with_dups).collect()
    assert len(got) == 1
    assert got[0]["n_dups"] == 2
    assert got[0]["keep_doc_id"] == 0


def test_ngram_jaccard_finds_near_dup(docs_with_dups):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs_with_dups, n=3,
                                          tau=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5
    assert (3, 4) not in pairs


def test_ngram_jaccard_generic_id_paths(docs_with_dups, spark):
    """The r10 packed-int64 pair path is a fast path only: string ids
    and out-of-range bigints (negative) must take the generic
    two-column path and produce the identically-mapped pair set."""
    from pyspark.sql import functions as F

    want = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs_with_dups, n=3,
                                         tau=0.5).collect()}
    as_str = docs_with_dups.withColumn(
        "doc_id", F.format_string("d%02d", F.col("doc_id")))
    got_str = {(r["doc_a"], r["doc_b"]): r["jaccard"]
               for r in ngram_jaccard_pairs(as_str, n=3,
                                            tau=0.5).collect()}
    assert got_str == {(f"d{a:02d}", f"d{b:02d}"): j
                       for (a, b), j in want.items()}
    # negative ids fail the [0, 2^31) bounds check -> generic fallback;
    # ordering by the shifted id keeps the same pair orientation
    as_neg = docs_with_dups.withColumn("doc_id", F.col("doc_id") - 100)
    got_neg = {(r["doc_a"], r["doc_b"]): r["jaccard"]
               for r in ngram_jaccard_pairs(as_neg, n=3,
                                            tau=0.5).collect()}
    assert got_neg == {(a - 100, b - 100): j
                       for (a, b), j in want.items()}


def test_minhash_lsh_finds_planted_pairs(docs_with_dups):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             minhash_lsh_pairs(docs_with_dups, n=3, k=32, bands=8,
                               tau=0.5).collect()}
    assert (0, 1) in pairs
    assert (0, 2) in pairs
    assert all(a in (0, 1, 2) and b in (0, 1, 2) for a, b in pairs)


def test_minhash_lsh_verify_shapes_agree(spark, docs_with_dups):
    """Every pair the LSH verify returns carries the exact rounded
    Jaccard of its two documents' shingle sets, computed here in plain
    Python, at tau > 0 and at tau = 0, where a candidate pair sharing no
    shingle must not pass."""
    texts = {r["doc_id"]: r["text"] for r in docs_with_dups.collect()}

    def shingles(text, n=3):
        toks = text.lower().split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    def run(docs, tau, bands=8):
        return sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"]) for r in
            minhash_lsh_pairs(docs, n=3, k=32, bands=bands,
                              tau=tau).collect())

    for tau in (0.3, 0.0):
        pairs = run(docs_with_dups, tau)
        assert pairs                          # non-vacuous
        for a, b, jaccard in pairs:
            sa, sb = shingles(texts[a]), shingles(texts[b])
            assert jaccard == round(len(sa & sb) / len(sa | sb), 4), (a, b)
            assert jaccard >= tau and sa & sb, (a, b)
    # one shingle each, disjoint, but their minhashes agree in
    # permutation row 28 (k=32, seed 7): with one row per band they
    # are an LSH candidate pair whose Jaccard is 0
    disjoint = spark.createDataFrame(
        [(0, "alpha9411 beta gamma"), (1, "alpha11313 beta gamma")],
        "doc_id bigint, text string")
    assert run(disjoint, 0.0, bands=32) == []


@pytest.fixture(scope="module")
def embeddings_df(spark):
    rng = np.random.default_rng(21)
    centers = rng.standard_normal((5, 16)) * 3
    rows = []
    for i in range(200):
        label = i % 5
        v = centers[label] + rng.standard_normal(16) * 0.4
        rows.append((i, [float(x) for x in v], int(label)))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")


def test_lsh_topk_recall(embeddings_df):
    q_row = embeddings_df.where("vec_id = 0").head()
    query = [float(v) for v in q_row["embedding"]]
    exact = [r["vec_id"] for r in
             brute_force_topk(embeddings_df, query, k=10).collect()]
    approx = [r["vec_id"] for r in
              srp_lsh_topk(embeddings_df, query, k=10, n_planes=8).collect()]
    assert exact[0] == 0                       # the query vector itself
    assert 0 in approx
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.4, f"recall {recall}"


def test_media_features_plumbing(spark):
    from archive_pdf_tools_spark.sources import synthetic_documents

    docs = synthetic_documents(spark, n_docs=6, max_spans=8)
    feats = media_features(docs).collect()
    assert len(feats) > 0
    for r in feats:
        assert r["width"] > 0 and r["height"] > 0
        assert r["mode"] in ("L", "RGB")
        assert 0.0 <= r["ink_ratio"] <= 1.0


def test_decode_stub_gated():
    assert not CODECS_AVAILABLE
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")
    # baseline JPEG is NOT gated since round 4: decodes natively
    import numpy as np

    from archive_pdf_tools_spark.kernels.jpegcodec import encode_baseline
    img = np.full((9, 9), 30, dtype=np.uint8)
    assert decode_image(encode_baseline(img, 100)).shape == (9, 9)


def test_ivf_topk_recall(embeddings_df):
    from archive_pdf_tools_spark.functions.similarity import ivf_topk

    q_row = embeddings_df.where("vec_id = 0").head()
    query = [float(v) for v in q_row["embedding"]]
    exact = [r["vec_id"] for r in
             brute_force_topk(embeddings_df, query, k=10).collect()]
    approx = [r["vec_id"] for r in
              ivf_topk(embeddings_df, query, k=10, n_centroids=8,
                       nprobe=2).collect()]
    assert 0 in approx
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, f"recall {recall}"


def test_ivf_training_sample_unbiased_under_id_correlation(spark):
    """vec_id-correlated corpus (clusters laid out in contiguous id
    ranges, the ingest-order shape): training on a sample SMALLER than
    one cluster must still see every cluster.  The pre-r5 ``sample
    smallest vec_ids`` rule trains entirely inside cluster 0 here and
    leaves later clusters without a nearby centroid; the hash-ranked
    draw keeps coverage."""
    from archive_pdf_tools_spark.functions.similarity import (
        ivf_fit_centroids)

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((6, 16)) * 4
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(600):
        label = i // 100                    # ids 0-99 cluster 0, etc.
        v = centers[label] * 3 + rng.standard_normal(16) * 0.2
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    C = ivf_fit_centroids(emb, n_centroids=12, sample=90, seed=17)
    # every true cluster center must have a trained centroid nearby
    for label, c in enumerate(centers):
        best = float(np.max(C @ c))
        assert best >= 0.8, f"cluster {label} unseen by training ({best:.2f})"


def test_ivf_deterministic(embeddings_df):
    from archive_pdf_tools_spark.functions.similarity import (
        ivf_fit_centroids)
    import numpy as np

    c1 = ivf_fit_centroids(embeddings_df, n_centroids=8)
    c2 = ivf_fit_centroids(embeddings_df, n_centroids=8)
    np.testing.assert_array_equal(c1, c2)


def test_duplicate_components_known_graph(spark):
    """Hash-min propagation on a graph with a 2-hop chain (needs >1
    round), a pair, and isolated vertices."""
    import pandas as pd

    from archive_pdf_tools_spark.functions.dedup import duplicate_components

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5, 6, 7, 8]}))
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 3, 5],
                      "doc_b": [2, 3, 4, 6]}))   # chain 1-2-3-4, pair 5-6
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_components(docs, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_resize_media_matches_kernel(spark):
    """resize_media rows reproduce downsample_box exactly (dims + hash)."""
    import hashlib

    import numpy as np

    from archive_pdf_tools_spark.corpus.rasters import (
        page_spec, render_raster)
    from archive_pdf_tools_spark.functions.multimodal import resize_media
    from archive_pdf_tools_spark.kernels.pages import downsample_box
    from archive_pdf_tools_spark.sources import synthetic_documents

    docs = synthetic_documents(spark, n_docs=8, max_spans=8)
    rows = resize_media(docs, factor=2.0).collect()
    assert rows
    for r in rows[:6]:
        spec = page_spec(r["media_ref"])
        raster = render_raster(spec)
        out, too_small = downsample_box(raster, 2.0)
        assert (r["src_w"], r["src_h"]) == (raster.shape[1], raster.shape[0])
        assert (r["dst_w"], r["dst_h"]) == (out.shape[1], out.shape[0])
        assert r["too_small"] == too_small
        want = hashlib.sha1(
            np.ascontiguousarray(out).tobytes()).hexdigest()[:12]
        assert r["content_sha"] == want


def test_sample_frames_deterministic_stride(spark):
    from archive_pdf_tools_spark.functions.multimodal import sample_frames
    from archive_pdf_tools_spark.sources import synthetic_documents

    docs = synthetic_documents(spark, n_docs=8, max_spans=8)
    rows = sample_frames(docs, every_n=5, fps=10.0).collect()
    assert rows
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    for ref, frames in by_ref.items():
        idxs = sorted(f["frame_idx"] for f in frames)
        assert idxs == list(range(0, max(idxs) + 1, 5))
        for f in frames:
            assert f["ts_ms"] == f["frame_idx"] * 100
            assert f["is_keyframe"] == (f["frame_idx"] == 0)
    # determinism across runs
    rows2 = sample_frames(docs, every_n=5, fps=10.0).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_pq_codes_compress_and_recall(spark):
    """PQ codes are m small ints per vector; ADC + rerank recovers most
    of the exact top-k on the uniform-random testdata."""
    from archive_pdf_tools_spark.functions.similarity import (
        brute_force_topk, pq_codes, pq_fit, pq_topk)
    from archive_pdf_tools_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = pq_fit(emb, m=8, ncode=16)
    assert books.shape == (8, 16, 8)

    codes = pq_codes(emb, books).collect()
    assert len(codes) == 500
    for r in codes[:20]:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    # determinism
    codes2 = {r["vec_id"]: r["codes"] for r in pq_codes(emb, books).collect()}
    assert all(codes2[r["vec_id"]] == r["codes"] for r in codes)

    q = [float(v) for v in
         emb.where("vec_id = 0").select("embedding").head()["embedding"]]
    bf = {r["vec_id"] for r in brute_force_topk(emb, q, k=20).collect()}
    pq = {r["vec_id"] for r in pq_topk(emb, q, k=20, rerank=200).collect()}
    assert len(bf & pq) >= 16


def test_winnow_fingerprints_matches_windowed_reference(spark):
    """Cross-implementation equivalence on adversarial strings: the
    vectorized uint64-Horner NumPy kernel must select exactly the
    fingerprints of a scalar big-int reference (k-gram polynomial hash
    mod 2**56, window-w minima, distinct) — including repeated text,
    short strings below the k+w-1 bound, mixed unicode and runs of
    whitespace.  Python big-int `% 2**56` has no wraparound, so this
    also proves the kernel's mod-2**64-then-mask-56 shortcut exact."""
    from archive_pdf_tools_spark.functions.dedup import (
        WINNOW_BASE, winnow_fingerprints)

    texts = [
        "abcdefghijklmno",
        "aaaaaaaaaaaaaaaaaaaaaa",
        "ab " * 30,
        "short",                       # below k+w-1: no fingerprints
        "   padded   with   spaces   and\ttabs\nnewlines   ",
        "naïve Grüße 文書 mixed unicode words repeated 文書 naïve",
        ("the quick brown fox jumps over the lazy dog " * 4).strip(),
    ]
    k, w = 8, 4
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id bigint, text string")
    got = {(r["doc_id"], r["fp"])
           for r in winnow_fingerprints(df, k=k, w=w).collect()}

    import re
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    want = set()
    for doc_id, text in enumerate(texts):
        t = ws.sub(" ", text.strip(" ").lower())
        if len(t) < k + w - 1:
            continue
        def poly(gram):
            h = 0
            for ch in gram:
                h = (h * WINNOW_BASE + ord(ch)) % (1 << 56)
            return h

        hs = [poly(t[i:i + k]) for i in range(len(t) - k + 1)]
        for j in range(len(hs) - w + 1):
            want.add((doc_id, min(hs[j:j + w])))
    assert got == want
    assert not any(d == 3 for d, _ in got)     # 'short' yields nothing


def test_dedup_kernels_skip_null_text(spark):
    """NULL text rows vanish (SQL null semantics) instead of crashing
    the Arrow batch — the JVM formulations they replaced dropped nulls
    via expression null propagation."""
    from archive_pdf_tools_spark.functions.dedup import (
        minhash_signatures, shingles_df, simhash, winnow_fingerprints)

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, None),
         (3, "another normal document with enough words to shingle")],
        "doc_id bigint, text string")
    assert {r["doc_id"] for r in shingles_df(df).select("doc_id")
            .distinct().collect()} == {1, 3}
    assert {r["doc_id"] for r in minhash_signatures(df, k=4)
            .collect()} == {1, 3}
    assert {r["doc_id"] for r in simhash(df).collect()} == {1, 3}
    assert {r["doc_id"] for r in winnow_fingerprints(df).select("doc_id")
            .distinct().collect()} == {1, 3}


def test_kmeans_clusters_separable_and_monotone(spark):
    """Distributed spherical k-means: on three well-separated direction
    bundles it recovers exactly the bundle partition, the objective is
    monotone non-decreasing, and reruns are deterministic."""
    import numpy as np

    from archive_pdf_tools_spark.functions.similarity import kmeans_clusters

    rng = np.random.default_rng(2)
    dirs = np.eye(3)
    rows = []
    for vid in range(90):
        base = dirs[vid % 3]
        v = base * 10 + rng.normal(0, 0.2, 3)
        rows.append((vid, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    assigned, C, objs = kmeans_clusters(emb, k=3, iters=4, seed=5)
    got = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    assert len(got) == 90
    # every bundle lands in exactly one cluster, bundles in distinct ones
    bundles = [{got[v] for v in range(b, 90, 3)} for b in range(3)]
    assert all(len(b) == 1 for b in bundles)
    assert len(set().union(*bundles)) == 3
    assert all(b >= a - 1e-12 for a, b in zip(objs, objs[1:]))
    assert C.shape == (3, 3)

    again, _, objs2 = kmeans_clusters(emb, k=3, iters=4, seed=5)
    assert {r["vec_id"]: r["cell"] for r in again.collect()} == got
    assert objs2 == objs


def test_kmeans_corpus_smaller_than_k(spark):
    """Fewer vectors than requested clusters degrades to a valid
    clustering over min(k, n) centroids instead of crashing (review
    regression: boolean-index shape mismatch in the update step)."""
    from archive_pdf_tools_spark.functions.similarity import kmeans_clusters

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7])],
        "vec_id bigint, embedding array<float>")
    assigned, C, objs = kmeans_clusters(emb, k=8, iters=3, seed=1)
    assert assigned.count() == 3
    assert C.shape == (3, 2)
    assert all(b >= a - 1e-12 for a, b in zip(objs, objs[1:]))


def test_substring_dup_stats_hand_computed(spark):
    """Lee-et-al substring dedup over token k-grams, verified against
    a corpus small enough to work by hand: with k=3,
    doc A = 'a b c d e', doc B = 'x a b c y', doc C = 'p q r s' —
    the only duplicated gram is 'a b c' (A@1, B@2), so A and B each
    have 1 dup gram covering tokens 1-3 (A) / 2-4 (B), C has none;
    a doc shorter than k emits nothing."""
    from archive_pdf_tools_spark.functions.dedup import (
        substring_dup_stats)

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x a b c y"), (3, "p q r s"),
         (4, "t u")],                        # < k tokens: no rows
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in substring_dup_stats(df, k=3).collect()}
    assert set(out) == {1, 2, 3}
    # doc 1 holds the FIRST 'a b c' occurrence: covered but KEPT;
    # doc 2's occurrence is non-first: its 3 covered tokens removed
    assert out[1] == {"doc_id": 1, "n_tokens": 5, "n_grams": 3,
                      "dup_grams": 1, "covered_tokens": 3,
                      "removed_tokens": 0, "kept_tokens": 5}
    assert out[2] == {"doc_id": 2, "n_tokens": 5, "n_grams": 3,
                      "dup_grams": 1, "covered_tokens": 3,
                      "removed_tokens": 3, "kept_tokens": 2}
    assert out[3]["dup_grams"] == 0 and out[3]["covered_tokens"] == 0
    assert out[3]["kept_tokens"] == 4
    # within-doc repetition counts too, and overlapping dup spans
    # union (not sum): 'a b a b a b' with k=3 has grams
    # (a b a)@1, (b a b)@2, (a b a)@3, (b a b)@4 — all duplicated;
    # the union covers all 6 tokens, the non-first occurrences
    # (@3, @4) remove positions {3,4,5} ∪ {4,5,6} = 4 tokens
    df2 = spark.createDataFrame([(9, "a b a b a b")],
                                "doc_id long, text string")
    r = substring_dup_stats(df2, k=3).collect()[0]
    assert (r["n_grams"], r["dup_grams"], r["covered_tokens"],
            r["removed_tokens"], r["kept_tokens"]) == (4, 4, 6, 4, 2)
    # the 100-TB shuffle shape (xxhash64-pair gram keys) computes the
    # same result as string keying
    both = df.unionByName(df2)
    a = substring_dup_stats(both, k=3).orderBy("doc_id").collect()
    h = substring_dup_stats(both, k=3, key="hash") \
        .orderBy("doc_id").collect()
    assert a == h
    import pytest as _pt
    with _pt.raises(ValueError, match="key"):
        substring_dup_stats(both, k=3, key="md5")


def test_bigram_nll_hand_computed(spark):
    """Add-one-smoothed bigram LM on a corpus small enough to work by
    hand: docs 'a a b' and 'a b' give N=5, V=2, c1(a)=3, c1(b)=2,
    c2(a,a)=1, c2(a,b)=2; first tokens score against the smoothed
    unigram, the rest against P(cur|prev)=(c2+1)/(c1(prev)+V)."""
    import math

    from archive_pdf_tools_spark.functions.textstats import bigram_nll

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a b"), (3, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_nll(df).collect()}
    assert set(out) == {1, 2}                # NULL text absent
    p_first_a = 4.0 / 7.0                    # (3+1)/(5+2)
    p_a_a = 2.0 / 5.0                        # (1+1)/(3+2)
    p_b_a = 3.0 / 5.0                        # (2+1)/(3+2)
    exp1 = round(-(math.log(p_first_a) + math.log(p_a_a)
                   + math.log(p_b_a)) / 3, 4)
    exp2 = round(-(math.log(p_first_a) + math.log(p_b_a)) / 2, 4)
    assert out[1]["n_tokens"] == 3 and out[1]["avg_nll"] == exp1
    assert out[2]["n_tokens"] == 2 and out[2]["avg_nll"] == exp2
    # an unusual doc scores higher nll than a corpus-typical one
    df2 = spark.createDataFrame(
        [(k, "the cat sat on the mat") for k in range(5)]
        + [(9, "zyx wvu tsr qpo nml kji")],
        "doc_id long, text string")
    r = {x["doc_id"]: x["avg_nll"] for x in bigram_nll(df2).collect()}
    assert r[9] > r[0]


def test_normalize_url_rules(spark):
    """Each canonicalization rule in isolation: scheme/host case,
    default ports, www., fragments, tracking params, param order,
    trailing slashes, missing scheme, empty path."""
    from archive_pdf_tools_spark.functions.pipeline import normalize_url

    cases = [
        ("HTTP://Example.COM:80/a/", "http://example.com/a"),
        ("https://Host.ORG:443/x?b=2&a=1", "https://host.org/x?a=1&b=2"),
        ("http://www.example.com/a?utm_source=n&fbclid=z&a=1",
         "http://example.com/a?a=1"),
        ("http://example.com/a#frag", "http://example.com/a"),
        ("example.com/a?gclid=1", "http://example.com/a"),
        ("https://example.com", "https://example.com/"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        ("https://example.com:80/a", "https://example.com:80/a"),
        ("http://example.com//deep///", "http://example.com//deep"),
        ("http://example.com/?ref=x", "http://example.com/"),
        # www-strip must match a LITERAL dot: www2/wwwhat keep their
        # hosts (r9 ADVICE: the under-escaped regex '^www.' corrupted
        # both)
        ("http://www2.example.com/a", "http://www2.example.com/a"),
        ("http://wwwhat.com/a", "http://wwwhat.com/a"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _w) in enumerate(cases)],
                               "doc_id int, url string")
    got = {r["doc_id"]: r["norm_url"]
           for r in normalize_url(df).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_url_dedup_groups(spark):
    """Variants of one resource collapse to one group with the min id
    kept; a scheme change keeps groups apart."""
    from archive_pdf_tools_spark.functions.pipeline import url_dedup

    rows = [
        (1, "HTTP://A.com:80/p/"),
        (2, "http://www.a.com/p?utm_source=x"),
        (3, "http://a.com/p#top"),
        (4, "https://a.com/p"),           # different scheme: own group
    ]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    out = {r["norm_url"]: (r["n_docs"], r["keep_doc"])
           for r in url_dedup(df).collect()}
    assert out["http://a.com/p"] == (3, 1)
    assert out["https://a.com/p"] == (1, 4)


def test_paragraph_dup_stats(spark):
    """Keep-first paragraph dedup: the same normalized paragraph
    (case + whitespace collapse) counts as duplicated everywhere but
    its global (doc_id, pos) first occurrence."""
    from archive_pdf_tools_spark.functions.dedup import (
        paragraph_dup_stats)

    rows = [
        (0, ["alpha beta", "Shared  Footer"]),
        (1, ["shared footer", "gamma delta"]),   # p0 dups doc0 p1
        (2, ["alpha beta", "alpha beta"]),       # both dup doc0 p0
    ]
    df = spark.createDataFrame(rows, "doc_id long, paras array<string>")
    got = {r["doc_id"]: (r["n_paras"], r["n_dup_paras"],
                         r["kept_chars"])
           for r in paragraph_dup_stats(df).collect()}
    assert got[0] == (2, 0, len("alpha beta") + len("Shared  Footer"))
    assert got[1] == (2, 1, len("gamma delta"))
    assert got[2] == (2, 2, 0)
