"""Similarity search over the ``embeddings`` table.

* ``brute_force_topk``: exact cosine top-k for a query vector — the
  correctness baseline; dot/norm via ``zip_with``/``aggregate`` (JVM-side,
  no Python).
* ``srp_lsh_topk``: sign-random-projection LSH bucketing (the scale
  path): H seeded random hyperplanes -> bit signature -> probe the query
  bucket (+ optional multi-probe by Hamming radius 1) -> exact re-rank
  inside the bucket.  At the 10^12 design point the signature is the
  shuffle key (bounded buckets); only bucket members are re-ranked.

Scores are rounded to 4 decimals and tie-broken by vec_id so results are
deterministic and oracle-comparable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

__all__ = ["brute_force_topk", "srp_lsh_topk", "srp_planes",
           "ivf_fit_centroids", "ivf_cells", "ivf_topk",
           "pq_fit", "pq_codes", "pq_topk", "kmeans_clusters"]


def _cosine_col(query: list[float]):
    qn = float(np.sqrt(np.dot(query, query))) or 1e-12
    qcol = F.array(*[F.lit(float(v)) for v in query])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), qcol,
                   lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda acc, x: acc + x)
    nrm = F.sqrt(F.aggregate(
        "embedding", F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    # Zero-norm guard: Spark 4 runs ANSI mode by default, where a single
    # all-zero embedding row (failed/padded embedding) would abort the
    # whole query with DIVIDE_BY_ZERO; clamping yields cosine 0 instead.
    nrm = F.greatest(nrm, F.lit(1e-12))
    return F.round(dot / (nrm * F.lit(qn)), 4)


def brute_force_topk(embeddings: DataFrame, query: list[float],
                     k: int = 10) -> DataFrame:
    """(vec_id, cosine) — exact top-k by cosine, ties by vec_id."""
    return (embeddings
            .select("vec_id", _cosine_col(query).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(k))


def srp_planes(dim: int, n_planes: int = 12, seed: int = 99) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _srp_sig_batches(planes: np.ndarray):
    """Vectorized SRP signatures: one NumPy matmul per Arrow batch.

    Replaces the earlier per-plane Catalyst ``aggregate`` lambdas —
    higher-order functions are interpreted, so n_planes of them per row
    were measured several times slower than a single (batch x dim) @
    (dim x planes) matmul (same finding as the minhash kernels)."""
    import pandas as pd

    weights = (np.int64(1) << np.arange(planes.shape[0], dtype=np.int64))

    def sig(batches):
        for pdf in batches:
            if len(pdf):
                X = np.array([np.asarray(v, dtype=np.float64)
                              for v in pdf["embedding"].values])
                sigs = (((X @ planes.T) > 0) * weights).sum(axis=1)
            else:
                sigs = np.zeros(0, np.int64)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "embedding": pdf["embedding"],
                                "sig": sigs})
    return sig


def ivf_fit_centroids(embeddings: DataFrame, n_centroids: int = 16,
                      iters: int = 3, sample: int = 4096,
                      seed: int = 17) -> np.ndarray:
    """IVF coarse quantizer: k-means on a bounded deterministic sample.

    Sampling + driver-side Lloyd iterations is the standard coarse-
    quantizer training shape (the sample bound, not the corpus, sizes the
    driver work — at 10^12 rows you still train on ~10^4-10^6 samples).
    Sample selection is deterministic AND unbiased: rows are ranked by
    ``xxhash64(vec_id)`` (ties by vec_id), i.e. a seeded uniform draw —
    the ``sample`` *smallest ids* would train the quantizer on whatever
    corpus slice ingest order put first (oldest shard, one source) and
    silently skew recall at scale."""
    from pyspark.sql import functions as F

    rows = (embeddings
            .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
            .limit(sample).select("embedding").collect())
    return _fit_centroids(
        np.array([r["embedding"] for r in rows], dtype=np.float64),
        n_centroids, iters, seed)


def _fit_centroids(X: np.ndarray, n_centroids: int, iters: int,
                   seed: int) -> np.ndarray:
    """``ivf_fit_centroids`` on the collected sample rows ``X``."""
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    # Farthest-first init (deterministic k-means++ flavour): a uniform
    # draw can seed two centroids inside one cluster and none in another,
    # and Lloyd then converges to that local optimum; greedily taking the
    # point least covered by the chosen seeds is O(sample*k) and makes
    # well-separated clusters recovered regardless of sample order.
    k_eff = min(n_centroids, len(X))
    chosen = [int(rng.integers(len(X)))]
    covered = X @ X[chosen[0]]
    while len(chosen) < k_eff:
        nxt = int(np.argmin(covered))
        chosen.append(nxt)
        covered = np.maximum(covered, X @ X[nxt])
    C = X[chosen].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def _assign_batches(C: np.ndarray):
    import pandas as pd

    def assign(batches):
        for pdf in batches:
            X = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["embedding"].values])
            if len(X):
                X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                                   1e-12)
                cells = np.argmax(X @ C.T, axis=1).astype(np.int32)
            else:
                cells = np.zeros(0, np.int32)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "embedding": pdf["embedding"],
                                "cell": cells})
    return assign


def ivf_cells(embeddings: DataFrame, C: np.ndarray,
              nprobe: int = 1) -> DataFrame:
    """(vec_id, cell) membership rows: each vector's ``nprobe`` nearest
    centroids (multi-probe blocking).  Vectorized matmul per Arrow batch;
    emits only ids + cells so the (heavy) embedding column never rides
    the blocking shuffle — callers re-join on vec_id when they need the
    vectors back."""
    return embeddings.select("vec_id", "embedding").mapInPandas(
        _top_cells_batches(C, nprobe), schema="vec_id bigint, cell int")


def _top_cells_batches(C: np.ndarray, nprobe: int):
    """``ivf_cells``' batch body: each vector's ``nprobe`` best cells."""
    import pandas as pd

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                X = np.array([np.asarray(v, dtype=np.float64)
                              for v in pdf["embedding"].values])
                X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                                   1e-12)
                scores = X @ C.T
                top = np.argsort(-scores, axis=1)[:, :nprobe]
                ids = np.repeat(pdf["vec_id"].values, top.shape[1])
                cells = top.ravel().astype(np.int32)
            else:
                ids = np.zeros(0, np.int64)
                cells = np.zeros(0, np.int32)
            yield pd.DataFrame({"vec_id": ids, "cell": cells})
    return assign


def ivf_topk(embeddings: DataFrame, query: list[float], k: int = 10,
             n_centroids: int = 16, nprobe: int = 2,
             seed: int = 17) -> DataFrame:
    """IVF ANN: assign every vector to its nearest centroid (vectorized
    NumPy matmul in mapInPandas — the cell id is the shuffle/partition
    key at scale), probe the query's ``nprobe`` nearest cells, exact
    cosine re-rank inside them."""
    C = ivf_fit_centroids(embeddings, n_centroids=n_centroids, seed=seed)
    q = np.asarray(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe_cells = np.argsort(-(C @ qn))[:nprobe].tolist()

    assigned = embeddings.select("vec_id", "embedding").mapInPandas(
        _assign_batches(C),
        schema="vec_id bigint, embedding array<float>, cell int")
    hits = assigned.where(F.col("cell").isin(probe_cells))
    return (hits
            .select("vec_id", _cosine_col(query).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(k))


def pq_fit(embeddings: DataFrame, m: int = 8, ncode: int = 16,
           iters: int = 4, sample: int = 4096, seed: int = 23) -> np.ndarray:
    """Product-quantizer codebooks (Jégou et al. 2011): the embedding is
    split into ``m`` subvectors, each k-means'd to ``ncode`` codewords on
    a bounded deterministic driver sample (same training shape as the
    IVF coarse quantizer; same unbiased ``xxhash64(vec_id)`` ranking —
    see ``ivf_fit_centroids`` for why id-order would bias the books).
    Returns (m, ncode, dim/m) float64; vectors are L2-normalized first
    (cosine regime)."""
    from pyspark.sql import functions as F

    rows = (embeddings
            .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
            .limit(sample).select("embedding").collect())
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    # zeros, not empty: corpora smaller than ncode leave unused codeword
    # slots, which must be deterministic (assignment argmins read them)
    books = np.zeros((m, ncode, dsub))
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(ncode, len(S)), replace=False)]
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(C)):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j, :len(C)] = C
    return books


def pq_codes(embeddings: DataFrame, books: np.ndarray) -> DataFrame:
    """(vec_id, codes array<int>) — each vector compressed to m codeword
    ids (64-dim float32 -> m small ints; the 10^12-row memory play).
    One NumPy pass per Arrow batch; map-only."""
    import pandas as pd

    m, ncode, dsub = books.shape

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                X = np.array([np.asarray(v, dtype=np.float64)
                              for v in pdf["embedding"].values])
                X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                                1e-12)
                codes = np.empty((len(X), m), dtype=np.int32)
                for j in range(m):
                    S = X[:, j * dsub:(j + 1) * dsub]
                    d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2
                          ).sum(axis=2)
                    codes[:, j] = np.argmin(d2, axis=1)
                out = list(codes)
            else:
                out = []
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "codes": out})
    return embeddings.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id bigint, codes array<int>")


def pq_topk(embeddings: DataFrame, query: list[float], k: int = 10,
            m: int = 8, ncode: int = 16, rerank: int = 100,
            seed: int = 23) -> DataFrame:
    """PQ ANN with asymmetric distance (ADC) + exact re-rank.

    The query's per-subspace dot products with every codeword form an
    (m x ncode) lookup table; each vector's approximate cosine is the
    sum of m table entries indexed by its codes — computed JVM-side from
    the broadcast table (tiny literal array), so the scan over codes is
    pure whole-stage codegen at any scale.  The top ``rerank``
    candidates are re-scored exactly against the raw vectors."""
    books = pq_fit(embeddings, m=m, ncode=ncode, seed=seed)
    q = np.asarray(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    dsub = len(query) // m
    table = np.stack([books[j] @ qn[j * dsub:(j + 1) * dsub]
                      for j in range(m)])           # (m, ncode)

    codes = pq_codes(embeddings, books)
    tbl = F.array(*[F.array(*[F.lit(float(v)) for v in row])
                    for row in table])
    approx = None
    for j in range(m):
        term = F.element_at(F.element_at(tbl, j + 1),
                            F.element_at("codes", j + 1) + 1)
        approx = term if approx is None else approx + term
    cand = (codes.select("vec_id", approx.alias("approx"))
            .orderBy(F.col("approx").desc(), F.col("vec_id"))
            .limit(rerank))
    hits = cand.join(embeddings.select("vec_id", "embedding"), "vec_id")
    return (hits.select("vec_id", _cosine_col(query).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(k))


def srp_lsh_topk(embeddings: DataFrame, query: list[float], k: int = 10,
                 n_planes: int = 12, seed: int = 99,
                 multiprobe: bool = True) -> DataFrame:
    """Approximate top-k: rank only vectors whose SRP signature is in the
    query's bucket (Hamming radius <= 1 when ``multiprobe``)."""
    dim = len(query)
    planes = srp_planes(dim, n_planes, seed)
    qsig = 0
    qv = np.asarray(query, dtype=np.float64)
    for i, plane in enumerate(planes):
        if float(plane @ qv) > 0:
            qsig |= 1 << i
    probes = [qsig]
    if multiprobe:
        probes += [qsig ^ (1 << i) for i in range(n_planes)]
    bucketed = embeddings.select("vec_id", "embedding").mapInPandas(
        _srp_sig_batches(planes),
        schema="vec_id bigint, embedding array<float>, sig bigint")
    hits = bucketed.where(F.col("sig").isin(probes))
    return (hits
            .select("vec_id", _cosine_col(query).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(k))


def kmeans_clusters(embeddings: DataFrame, k: int = 8, iters: int = 4,
                    seed: int = 17):
    """Distributed spherical k-means over the FULL corpus (the corpus-
    clustering step of a data-mixing pipeline, cf. the clustered-
    sampling family): centroids broadcast into a vectorized assignment
    kernel; the mean update is a distributed posexplode ->
    groupBy(cell, pos) sum — partial aggregation combines map-side, so
    each iteration shuffles only ~k*dim partial rows per partition
    regardless of corpus size, and the driver materializes just the
    k x dim centroid matrix.  Init reuses the bounded-sample trainer
    (``ivf_fit_centroids``), so driver memory never scales with the
    corpus either.

    Returns ``(assigned_df, centroids, objectives)``: the per-vector
    (vec_id, cell) assignment under the FINAL centroids, the final
    k x dim L2-normalized centroid matrix, and the per-iteration
    spherical objective (mean within-cluster cosine) — monotonically
    non-decreasing by Lloyd's argument, which ``kmeans_quality`` turns
    into a driver-checkable floor."""
    C = ivf_fit_centroids(embeddings, n_centroids=k, iters=2, seed=seed)
    k = C.shape[0]       # a tiny corpus yields fewer than k centroids
    src = embeddings.select("vec_id", "embedding")
    objectives = []
    for _ in range(iters):
        assigned = src.mapInPandas(
            _assign_batches(C),
            schema="vec_id bigint, embedding array<float>, cell int")
        # float64 throughout (same reason _cosine_col casts): float32
        # squares lose ~1e-7 precision and can overflow to inf
        emb64 = F.col("embedding").cast("array<double>")
        norm = F.sqrt(F.aggregate(
            F.zip_with(emb64, emb64, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x))
        stats = (assigned
                 .select("cell", F.posexplode(
                     F.transform(emb64,
                                 lambda v: v / F.greatest(norm, F.lit(1e-12))))
                     .alias("pos", "val"))
                 .groupBy("cell", "pos")
                 .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
                 .collect())
        sums = np.zeros_like(C)
        counts = np.zeros(k, dtype=np.int64)
        for r in stats:
            sums[r["cell"], r["pos"]] = r["s"]
            counts[r["cell"]] = r["n"]
        # spherical objective: sum_j ||sum of unit members_j|| / n_total,
        # reached exactly when each centroid is the normalized mean
        n_total = int(counts.sum()) or 1
        objectives.append(
            float(np.linalg.norm(sums, axis=1).sum()) / n_total)
        nz = counts > 0
        C = C.copy()
        C[nz] = sums[nz]
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    final = src.mapInPandas(
        _assign_batches(C),
        schema="vec_id bigint, embedding array<float>, cell int")
    return final.select("vec_id", "cell"), C, objectives
