"""Approximate nearest neighbors over embedding columns.

Three tiers (SURVEY "similarity search" requirement):

* brute-force cosine top-k — the exact baseline, SQL-expressible and
  DuckDB-oracled (`__spark_entry__.ann_cosine_topk`);
* **LSH-bucketed top-k** — the 10⁹-vector scale path: corpus bucketed
  once by random-hyperplane signature, queries probe their own bucket
  plus all Hamming-1 neighbors (multi-probe), exact cosine only within
  the probed buckets, Window top-k per query. Candidate count ≈
  (probes × corpus/2^planes) instead of |corpus|;
* **IVF (inverted-file) top-k** — k-means coarse quantizer: the corpus is
  assigned once to its nearest of `n_lists` centroids (trained on a
  driver-side sample — the centroid table is a tiny broadcast dim);
  queries probe their `n_probe` nearest lists. Recall degrades gracefully
  with n_probe, candidates ≈ n_probe · |corpus| / n_lists;
* **IVF-PQ top-k with exact re-rank** — the 10¹²-vector MEMORY path
  (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  TPAMI 2011): vectors are L2-normalized and product-quantized to ``m``
  one-byte codes (m=8 over dim=64 ⇒ 32× smaller than float32, 64× than
  float64 — the difference between a candidate set that fits executor
  memory and one that spills). Candidate scoring ships ONLY the m-byte
  codes through the probe join; cosine is approximated by asymmetric
  distance (one 256-entry inner-product table per query × subspace,
  then m table gathers per candidate — no decode), the top ``refine_k``
  approximate hits re-join the raw vectors (a refine_k·|queries|-row
  exchange, output-sized) and exact cosine re-ranks the final k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, LongType

from ..kernels import load_native


def _planes(n_planes: int, dim: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_planes, dim))


def _auto_lists(
    n_vectors: int, floor: int = 16, cap: int = 1 << 20
) -> int:
    """The standard IVF sizing rule: n_lists ≈ √N. Per-query candidate
    volume through the probe join is ≈ n_probe·N/n_lists, so √N lists
    balance it against the coarse-quantizer cost (n_lists distance
    evaluations per query) at n_probe·√N candidates — the fixed default
    of 16 would funnel corpus/4 rows per query into ONE window task at
    n_probe=4 on a 10⁹-vector corpus. Pure function (unit-tested at
    simulated 10¹² counts); ``floor`` keeps toy corpora probing sanely,
    ``cap`` bounds the broadcast centroid table (2²⁰ lists × dim=64
    float64 ≈ 0.5 GiB — at larger N raise m/sharding, not n_lists)."""
    import math

    if n_vectors <= 0:
        return floor
    return max(floor, min(cap, math.isqrt(n_vectors)))


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 7,
) -> DataFrame:
    """(query_id, corpus_id, cos_sim, rank) — approximate top-k."""
    planes = _planes(n_planes, dim, seed)

    pows = np.int64(1) << np.arange(n_planes, dtype=np.int64)

    def _base_sigs(vecs: pd.Series) -> np.ndarray:
        arr = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (arr @ planes.T) > 0  # one (batch × dim)·(dim × planes) matmul
        return bits.astype(np.int64) @ pows

    @pandas_udf(LongType())
    def _sig(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int64")
        return pd.Series(_base_sigs(vecs), dtype="int64")

    @pandas_udf(ArrayType(LongType()))
    def _probe_sigs(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        base = _base_sigs(vecs)
        # multi-probe: own bucket + every Hamming-1 signature, all batched
        probes = np.concatenate([base[:, None], base[:, None] ^ pows[None, :]], axis=1)
        return pd.Series(list(probes))

    c = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_cv")
    ).withColumn("bucket", _sig(F.col("_cv")))
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(vec_col).alias("_qv")
    ).withColumn("bucket", F.explode(_probe_sigs(F.col("_qv"))))

    # (qid, cid) pairs are unique by construction — a corpus vector has ONE
    # bucket and a query's probe signatures (base + base^2^i) are pairwise
    # distinct — so no dedup exchange is needed (round-8, guide §2.4; the
    # former dropDuplicates added a full candidate-set shuffle)
    cand = q.join(c, "bucket", "inner").filter(F.col("_qid") != F.col("_cid"))
    dot = F.expr(
        "aggregate(zip_with(_qv, _cv, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (a, x) -> a + x)"
    )
    nrm = lambda col: F.sqrt(
        F.expr(f"aggregate({col}, cast(0.0 as double), (a, x) -> a + cast(x as double) * cast(x as double))")
    )
    scored = cand.withColumn(
        # zero-norm vectors have no cosine: try_divide -> NULL, dropped
        # below (a zero embedding matches nothing; ANSI mode would raise)
        "cos_sim", F.round(F.try_divide(dot, nrm("_qv") * nrm("_cv")), 6)
    )
    w = Window.partitionBy("_qid").orderBy(F.col("cos_sim").desc(), F.col("_cid").asc())
    return (
        scored.filter(F.col("cos_sim").isNotNull())
        .select("_qid", "_cid", "cos_sim")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            "cos_sim",
            "rank",
        )
    )


# --- IVF tier ---------------------------------------------------------------


# optional C inner loop (kernels/planar_fast.c); numpy fallback below
_PF = load_native("operators.ann", "assign_nearest")


def _assign_nearest(X: np.ndarray, cents: np.ndarray, chunk: int = 1024) -> np.ndarray:
    """argmin_c ||x - cents[c]||² per row — elementwise identical to
    ``((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)`` (same
    IEEE ops per row; per-row reductions are independent of chunking),
    evaluated in row chunks so the temporary stays bounded. The unchunked
    cube is also a SCALE bug: at the 100k-row training sample with √N-auto
    lists it is tens of GB on the driver (round-8). chunk=1024 keeps the
    temp ≤ ~35 MB at the production (k=256, sub≤16) shape while paying the
    numpy dispatch cost 32× less often than the former chunk=32 (the
    dispatch, not the flops, dominated train_pq's driver CPU)."""
    n = len(X)
    if _PF is not None and 0 < cents.shape[1] <= 8192:
        # C port (planar_fast.assign_nearest): (x-c)^2 temps reduced via
        # the np.sum pairwise-order port, np.argmin tie/NaN semantics —
        # bit-identical assignments (tests/test_ann.py), releases the GIL
        # so the trainer's subspace threads run in parallel
        b = _PF.assign_nearest(
            np.ascontiguousarray(X, dtype=np.float64).tobytes(), n,
            np.ascontiguousarray(cents, dtype=np.float64).tobytes(),
            len(cents), cents.shape[1],
        )
        return np.frombuffer(b, dtype=np.int64).copy()
    out = np.empty(n, dtype=np.int64)
    for i in range(0, n, chunk):
        d2 = ((X[i : i + chunk, None, :] - cents[None, :, :]) ** 2).sum(-1)
        out[i : i + chunk] = d2.argmin(axis=1)
    return out


def _cluster_means_inplace(cents: np.ndarray, X: np.ndarray, a: np.ndarray) -> None:
    """cents[c] = X[a == c].mean(axis=0) for every non-empty cluster —
    restructured from k boolean-mask scans to one stable argsort + group
    slices.  BIT-IDENTICAL: X[order[s:e]] (stable sort ⇒ ascending original
    indices within a cluster) is the same C-contiguous row copy as
    X[a == c], so np.mean sees an identical array; empty clusters never
    form a group, matching the mask.any() skip."""
    order = np.argsort(a, kind="stable")
    sa = a[order]
    if not len(sa):
        return
    starts = np.r_[0, 1 + np.nonzero(sa[1:] != sa[:-1])[0], len(sa)]
    lens = np.diff(starts)
    cids = sa[starts[:-1]]
    # one vectorized pass per DISTINCT group size (the noder's bucket
    # trick): same-size clusters stack into an (ng, g, sub) cube whose
    # mean(axis=1) slices are bit-equal to the per-cluster mean(axis=0)
    # (asserted in tests/test_ann.py) — tens of numpy calls per iteration
    # instead of one per cluster
    for g in np.unique(lens):
        sel = np.nonzero(lens == g)[0]
        idx = order[starts[:-1][sel][:, None] + np.arange(g)]
        cents[cids[sel]] = X[idx].mean(axis=1)


def _sample_vectors(
    corpus: DataFrame, vec_col: str, seed: int, limit: int = 100_000
) -> np.ndarray:
    """The shared bounded training sample: TakeOrderedAndProject over
    rand(seed) — every partition contributes (no first-partitions bias),
    ≤ ``limit`` rows at any corpus size. train_centroids and train_pq used
    to run this identical job twice (same seed ⇒ same rows); sharing one
    collect halves the training-side job count (round-8)."""
    rows = corpus.select(vec_col).orderBy(F.rand(seed)).limit(limit).collect()
    if not rows:
        return np.zeros((0, 0))
    return np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])


def train_centroids(
    corpus: DataFrame, vec_col: str, dim: int, n_lists: int | None = None,
    sample_frac: float = 1.0, iters: int = 10, seed: int = 11,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """K-means coarse quantizer trained on a driver-side SAMPLE (Lloyd's
    iterations in numpy). The training set is a bounded sample — at 10⁹+
    vectors the centroid table is still O(n_lists·dim), a broadcastable
    dim; assignment of the full corpus stays distributed (ivf_assign).

    ``n_lists=None`` (the default) auto-sizes to ≈ √N from one corpus
    count (:func:`_auto_lists`) — pass an explicit value to pin it.

    The bound is enforced with orderBy(rand)+limit, which Spark compiles
    to TakeOrderedAndProject (per-partition 100k-heap, merged at the
    driver) — every partition contributes, unlike a bare ``limit`` that
    would take the first partitions only (first-partitions bias)."""
    if n_lists is None:
        n_lists = _auto_lists(corpus.count())
    if sample is not None and sample_frac >= 1.0:
        X = sample  # caller-shared collect (see _sample_vectors)
    else:
        s = corpus.select(vec_col)
        if sample_frac < 1.0:
            s = s.sample(fraction=sample_frac, seed=seed)
        rows = s.orderBy(F.rand(seed)).limit(100_000).collect()
        X = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), size=min(n_lists, len(X)), replace=False)]
    for _ in range(iters):
        a = _assign_nearest(X, cents)
        _cluster_means_inplace(cents, X, a)
    return cents


def _nearest_lists_udf(cents: np.ndarray, n: int):
    """vec → array of the n nearest centroid ids (batched matmul: argpartition
    over the full distance matrix, no per-vector Python)."""
    c2 = (cents ** 2).sum(axis=1)

    @pandas_udf(ArrayType(LongType()))
    def _f(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        d2 = c2[None, :] - 2.0 * (X @ cents.T)  # + |x|² (constant per row)
        if n == 1:
            idx = d2.argmin(axis=1)[:, None]
        else:
            part = np.argpartition(d2, min(n, d2.shape[1] - 1), axis=1)[:, :n]
            order = np.take_along_axis(d2, part, axis=1).argsort(axis=1)
            idx = np.take_along_axis(part, order, axis=1)
        return pd.Series(list(idx.astype(np.int64)))

    return _f


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    n_lists: int | None = None,
    n_probe: int = 4,
    seed: int = 11,
) -> DataFrame:
    """(query_id, corpus_id, cos_sim, rank) — IVF approximate top-k.
    ``n_lists=None`` auto-sizes to ≈ √N (one corpus count); the per-query
    candidate volume through the probe join is ≈ n_probe·N/n_lists, so
    the auto size bounds it at ≈ n_probe·√N rows per query."""
    cents = train_centroids(corpus, vec_col, dim, n_lists=n_lists, seed=seed)
    assign1 = _nearest_lists_udf(cents, 1)
    probe_n = _nearest_lists_udf(cents, min(n_probe, len(cents)))
    c = corpus.select(F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_cv")).withColumn(
        "list_id", F.element_at(assign1(F.col("_cv")), 1)
    )
    q = queries.select(F.col(query_id).alias("_qid"), F.col(vec_col).alias("_qv")).withColumn(
        "list_id", F.explode(probe_n(F.col("_qv")))
    )
    # (qid, cid) pairs are unique by construction — a corpus vector has ONE
    # list_id and a query's n_probe lists are distinct — so no dedup
    # exchange; and the vectors are projected away before the window
    # exchange (round-8, guide §2.3: the former plan shuffled both 64-float
    # vectors with every candidate row)
    cand = q.join(c, "list_id", "inner").filter(F.col("_qid") != F.col("_cid"))
    dot = F.expr(
        "aggregate(zip_with(_qv, _cv, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (a, x) -> a + x)"
    )
    nrm = lambda col: F.sqrt(
        F.expr(f"aggregate({col}, cast(0.0 as double), (a, x) -> a + cast(x as double) * cast(x as double))")
    )
    scored = cand.withColumn(
        # zero-norm vectors have no cosine: try_divide -> NULL, dropped
        # below (a zero embedding matches nothing; ANSI mode would raise)
        "cos_sim", F.round(F.try_divide(dot, nrm("_qv") * nrm("_cv")), 6)
    )
    w = Window.partitionBy("_qid").orderBy(F.col("cos_sim").desc(), F.col("_cid").asc())
    return (
        scored.filter(F.col("cos_sim").isNotNull())
        .select("_qid", "_cid", "cos_sim")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            "cos_sim",
            "rank",
        )
    )


# --- IVF-PQ tier ------------------------------------------------------------


def _norm_rows(X: np.ndarray) -> np.ndarray:
    """L2-normalize rows; zero rows stay zero (flagged by callers)."""
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return np.divide(X, n, out=np.zeros_like(X), where=n > 0)


def train_pq(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    n_codes: int = 256,
    iters: int = 10,
    seed: int = 11,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Product-quantizer codebooks, shape (m, n_codes, dim//m): per-subspace
    k-means over a bounded driver-side sample of L2-NORMALIZED vectors
    (normalization first makes subspace inner products sum to cosine).
    Same sampling contract as train_centroids: TakeOrderedAndProject over
    rand() — every partition contributes, 100k rows max at any scale."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    if sample is None:
        sample = _sample_vectors(corpus, vec_col, seed)
    if not len(sample):
        raise ValueError("train_pq: empty corpus — nothing to train on")
    X = _norm_rows(sample)
    X = X[np.abs(X).sum(axis=1) > 0]
    if not len(X):
        raise ValueError(
            "train_pq: no nonzero-norm vectors in the training sample "
            "(upstream featurizer produced all-zero embeddings?)"
        )
    rng = np.random.default_rng(seed)
    books = np.zeros((m, n_codes, sub))
    # initial centroids drawn first, in subspace order (the rng sequence is
    # shared), so the per-subspace trainings below are fully independent
    inits = []
    for s in range(m):
        Xs = X[:, s * sub : (s + 1) * sub]
        k = min(n_codes, len(Xs))
        inits.append(Xs[rng.choice(len(Xs), size=k, replace=False)])

    def _train_one(s: int):
        Xs = np.ascontiguousarray(X[:, s * sub : (s + 1) * sub])
        cents = inits[s]
        k = len(cents)
        for _ in range(iters):
            a = _assign_nearest(Xs, cents)
            _cluster_means_inplace(cents, Xs, a)
        return s, k, cents

    # the m subspace k-means are independent (no shared float state once
    # the rng draws are done) — run them on a thread pool; numpy releases
    # the GIL inside the large chunked ufunc/reduction calls, so the
    # driver-side training wall drops ~min(m, cores)× with BIT-IDENTICAL
    # output (each subspace computes exactly the sequential result)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 8)) as ex:
        for s, k, cents in ex.map(_train_one, range(m)):
            books[s, :k] = cents
            if k < n_codes:
                books[s, k:] = cents[0]  # degenerate tiny-sample fill
    return books


def _pq_encode_udf(books: np.ndarray):
    """vec → m-byte PQ code of the NORMALIZED vector (binary), NULL for
    zero-norm vectors (no cosine exists). Batched: one argmin matmul per
    subspace over the whole Arrow batch."""
    m, n_codes, sub = books.shape
    b2 = (books ** 2).sum(axis=2)  # (m, n_codes)

    @pandas_udf(BinaryType())
    def _f(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        nz = np.linalg.norm(X, axis=1) > 0
        Xn = _norm_rows(X)
        codes = np.zeros((len(X), m), dtype=np.uint8)
        for s in range(m):
            Xs = Xn[:, s * sub : (s + 1) * sub]
            d2 = b2[s][None, :] - 2.0 * (Xs @ books[s].T)  # + |x|², const/row
            codes[:, s] = d2.argmin(axis=1).astype(np.uint8)
        out = [codes[i].tobytes() if nz[i] else None for i in range(len(X))]
        return pd.Series(out, dtype=object)

    return _f


def _adc_score_udf(books: np.ndarray):
    """(query_vec, pq_code) → approximate cosine via asymmetric distance.
    Factorized on the query side (the point-probe pattern from
    functions/st.py): distinct query vectors in the batch each build ONE
    (m, n_codes) inner-product table — a single matmul — and every
    candidate row is then m table gathers, no per-row Python work beyond
    the bytes→uint8 view."""
    m, n_codes, sub = books.shape

    @pandas_udf(DoubleType())
    def _f(qvecs: pd.Series, codes: pd.Series) -> pd.Series:
        if not len(qvecs):
            return pd.Series([], dtype="float64")
        key = qvecs.map(lambda v: np.asarray(v, dtype=np.float64).tobytes())
        # hash-based factorize beats the sort-based object np.unique on
        # this hot scoring path (measured project-wide, see memory notes)
        inv, uniq = pd.factorize(key)
        tables = np.zeros((len(uniq), m, n_codes))
        for i, kb in enumerate(uniq):
            qn = _norm_rows(np.frombuffer(kb).reshape(1, -1))[0]
            for s in range(m):
                tables[i, s] = books[s] @ qn[s * sub : (s + 1) * sub]
        code_mat = np.stack(
            [np.frombuffer(c, dtype=np.uint8) for c in codes]
        ).astype(np.int64)
        rows = np.arange(m)[None, :]
        scores = tables[inv[:, None], rows, code_mat].sum(axis=1)
        return pd.Series(scores, dtype="float64")

    return _f


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    n_lists: int | None = None,
    n_probe: int = 4,
    m: int = 8,
    refine_k: int = 100,
    seed: int = 11,
    cents: np.ndarray | None = None,
    books: np.ndarray | None = None,
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """(query_id, corpus_id, cos_sim, rank) — IVF-PQ approximate top-k with
    exact cosine re-rank. Identical output contract to ivf_topk; the
    difference is WHAT ships through the probe join: an m-byte code per
    candidate instead of dim floats. ``n_lists=None`` auto-sizes to ≈ √N
    (one corpus count) bounding per-query probe candidates at
    ≈ n_probe·√N code rows; an explicit value pins the index layout. Plan shape: corpus → one scan →
    (list_id, pq_code); probe join on list_id; ADC scores + per-query
    approximate top-``refine_k``; only those rows re-join the raw vectors
    (an output-sized exchange on corpus_id) for exact cosine and the
    final Window top-k.

    Production decomposition (the 10¹²-vector shape is train WEEKLY,
    encode ONCE, query DAILY — never retrain per query batch): pass
    ``cents``/``books`` from a prior train_centroids/train_pq, and
    ``corpus_codes`` as a persisted (corpus_id, list_id, pq_code)
    DataFrame from :func:`ivf_pq_encode_corpus` — then a query batch
    costs one codes-table scan + the output-sized refine join against
    the raw vectors, with zero training and zero corpus re-encoding.
    The three default to being computed inline (self-contained form,
    what the bench key times end to end). Passing ``corpus_codes``
    REQUIRES cents+books: retraining here would silently probe the
    persisted list_ids with mismatched centroids and decode old codes
    with new codebooks — collapsed recall with no error.

    Exchange hygiene: the query vector is projected away before any
    candidate-sized exchange (the window shuffle moves only
    (_qid, _cid, approx_sim) — at dim=64 a riding _qv would be 64× the
    code payload); the refine join broadcasts the shortlist ids into the
    corpus scan (the corpus raw vectors are never shuffled), then the
    query vectors re-join on the output-sized shortlist."""
    if corpus_codes is not None and (cents is None or books is None):
        raise ValueError(
            "corpus_codes requires the cents+books the codes were built "
            "with (retraining would mismatch the persisted index)"
        )
    if cents is None or books is None:
        # ONE shared training collect (identical rows to the two separate
        # same-seed collects the trainers used to run — round-8 job dedup)
        X = _sample_vectors(corpus, vec_col, seed)
        if cents is None:
            cents = train_centroids(
                corpus, vec_col, dim, n_lists=n_lists, seed=seed, sample=X
            )
        if books is None:
            books = train_pq(corpus, vec_col, dim, m=m, seed=seed, sample=X)
    probe_n = _nearest_lists_udf(cents, min(n_probe, len(cents)))
    adc = _adc_score_udf(books)

    if corpus_codes is None:
        c_codes = ivf_pq_encode_corpus(
            corpus, corpus_id, vec_col, cents, books
        ).select(
            F.col(corpus_id).alias("_cid"), "list_id", "pq_code"
        )
    else:
        c_codes = corpus_codes.select(
            F.col(corpus_id).alias("_cid"), "list_id", "pq_code"
        ).filter(F.col("pq_code").isNotNull())
    qv_frame = queries.select(
        F.col(query_id).alias("_qid"), F.col(vec_col).alias("_qv")
    )
    q = qv_frame.withColumn("list_id", F.explode(probe_n(F.col("_qv"))))

    # (qid, cid) pairs are already distinct — each corpus vector has ONE
    # list_id and a query's probe lists are distinct — so no dedup pass;
    # ADC runs map-side after the probe join and the query vector is
    # dropped before the window exchange
    cand = (
        q.join(c_codes, "list_id", "inner")
        .filter(F.col("_qid") != F.col("_cid"))
        .withColumn("approx_sim", adc(F.col("_qv"), F.col("pq_code")))
        .select("_qid", "_cid", "approx_sim")
    )
    wa = Window.partitionBy("_qid").orderBy(
        F.col("approx_sim").desc(), F.col("_cid").asc()
    )
    shortlist = (
        cand.withColumn("_ar", F.row_number().over(wa))
        .filter(F.col("_ar") <= refine_k)
        .select("_qid", "_cid")
    )

    raw = corpus.select(F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_cv"))
    dot = F.expr(
        "aggregate(zip_with(_qv, _cv, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (a, x) -> a + x)"
    )
    nrm = lambda col: F.sqrt(
        F.expr(f"aggregate({col}, cast(0.0 as double), (a, x) -> a + cast(x as double) * cast(x as double))")
    )
    # broadcast the (refine_k × |queries|)-row id shortlist into the
    # corpus scan — the corpus never shuffles; then the query vectors
    # join on the output-sized result
    scored = (
        raw.join(F.broadcast(shortlist), "_cid")
        .join(qv_frame, "_qid")
        .withColumn(
            "cos_sim", F.round(F.try_divide(dot, nrm("_qv") * nrm("_cv")), 6)
        )
    )
    w = Window.partitionBy("_qid").orderBy(F.col("cos_sim").desc(), F.col("_cid").asc())
    return (
        scored.filter(F.col("cos_sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id),
            F.col("_cid").alias(corpus_id),
            "cos_sim",
            "rank",
        )
    )


def ivf_pq_encode_corpus(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    cents: np.ndarray,
    books: np.ndarray,
) -> DataFrame:
    """(corpus_id, list_id, pq_code) — the persistable IVF-PQ index rows:
    one corpus scan, two batched UDFs (coarse assignment + PQ encode),
    zero-norm vectors dropped (no cosine exists). Persist this (parquet /
    iceberg-lite) and hand it to ivf_pq_topk(corpus_codes=...) so daily
    query batches never re-encode the corpus; new crawl batches append
    their own rows — the codebooks are frozen at train time, so codes
    from any batch collide correctly (same contract as the persisted
    dedup fingerprints)."""
    assign1 = _nearest_lists_udf(cents, 1)
    return (
        corpus.select(F.col(corpus_id), F.col(vec_col).alias("_cv"))
        .withColumn("list_id", F.element_at(assign1(F.col("_cv")), 1))
        .withColumn("pq_code", _pq_encode_udf(books)(F.col("_cv")))
        .filter(F.col("pq_code").isNotNull())
        .drop("_cv")
    )
