"""ANN tests.

The driver's `embeddings` table is isotropic random vectors (measured:
same-label and cross-label mean cosine both ≈ 0, top-1 ≈ 0.37), so
"top-k of noise" is not LSH-recoverable at any reasonable probe count —
that's the exact regime where brute force (`ann_cosine_topk`, oracled) is
the right operator. The LSH tier's contract is recovering GENUINE
neighbors (near-duplicates / clustered data), which is what we assert:
every planted high-cosine twin must be found at rank 1.
"""

import numpy as np
from pyspark.sql import functions as F

from prclz_spark.operators.ann import ann_lsh_topk

SF = "/root/testdata/sf0.001"


def test_ann_lsh_finds_planted_neighbors(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.select("vec_id", "embedding").filter(F.col("vec_id") < 300).cache()
    # plant twins: scaled copies (cosine 1.0) with offset ids
    twins = base.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.expr("transform(embedding, x -> x * CAST(1.01 AS FLOAT))").alias("embedding"),
    )
    corpus = base.unionByName(twins).cache()
    queries = base.filter(F.col("vec_id") < 40).withColumnRenamed("vec_id", "qid")
    dim = len(base.first().embedding)

    out = ann_lsh_topk(
        queries, corpus, "qid", "vec_id", "embedding", dim=dim, k=3, n_planes=10
    ).toPandas()
    top1 = out[out["rank"] == 1]
    assert len(top1) == 40
    assert (top1.vec_id == top1.qid + 10_000).sum() >= 38  # twins at rank 1
    assert (top1.cos_sim > 0.999).sum() >= 38

def test_ann_ivf_finds_planted_neighbors_and_beats_bruteforce_candidates(spark):
    from prclz_spark.operators.ann import ivf_topk, train_centroids, _nearest_lists_udf

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.select("vec_id", "embedding").filter(F.col("vec_id") < 300).cache()
    twins = base.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.expr("transform(embedding, x -> x * CAST(1.01 AS FLOAT))").alias("embedding"),
    )
    corpus = base.unionByName(twins).cache()
    queries = base.filter(F.col("vec_id") < 40).withColumnRenamed("vec_id", "qid")
    dim = len(base.first().embedding)

    out = ivf_topk(
        queries, corpus, "qid", "vec_id", "embedding", dim=dim, k=3, n_lists=8, n_probe=3
    ).toPandas()
    top1 = out[out["rank"] == 1]
    # a scaled twin has IDENTICAL direction → same nearest centroid list →
    # always probed; must surface at rank 1 with cosine ≈ 1
    assert len(top1) == 40
    assert (top1.vec_id == top1.qid + 10_000).sum() >= 38
    assert (top1.cos_sim > 0.999).sum() >= 38

    # the quantizer actually partitions: every list non-trivially populated
    cents = train_centroids(corpus, "embedding", dim, n_lists=8)
    assign1 = _nearest_lists_udf(cents, 1)
    sizes = (
        corpus.withColumn("list_id", F.element_at(assign1(F.col("embedding")), 1))
        .groupBy("list_id")
        .count()
        .toPandas()
    )
    assert len(sizes) == 8 and sizes["count"].max() < 340  # no single-list collapse


def test_ann_zero_norm_vectors_no_crash(spark):
    """Corpus reality: all-zero embeddings (failed encoder rows) have no
    cosine. Under Spark 4's ANSI mode a bare division raised
    DIVIDE_BY_ZERO and killed the whole job; the scorers now use
    try_divide and drop NULL-cosine rows — a zero vector matches nothing,
    a zero-vector query returns no rows, and real queries are unaffected."""
    from prclz_spark.operators.ann import ann_lsh_topk, ivf_topk

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0]),
         (2, [0.5, 0.5, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.0, 0.0, 0.0])],
        "qid long, embedding array<float>",
    )
    for fn in (
        lambda: ann_lsh_topk(queries, corpus, "qid", "vec_id", "embedding",
                             dim=3, k=2, n_planes=4),
        lambda: ivf_topk(queries, corpus, "qid", "vec_id", "embedding",
                         dim=3, k=2, n_lists=2, n_probe=2),
    ):
        out = fn().toPandas()
        assert 11 not in set(out.qid)                      # zero query: no rows
        assert 1 not in set(out.vec_id)                    # zero corpus: never matched
        top = out[(out.qid == 10) & (out["rank"] == 1)]
        assert top.vec_id.tolist() == [0] and top.cos_sim.tolist() == [1.0]


def test_embedding_near_pairs_zero_vectors_no_crash(spark):
    from prclz_spark.operators.dedup import embedding_near_pairs

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 1e-4])],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_near_pairs(df, "vec_id", "embedding", dim=2,
                                 cos_threshold=0.99).toPandas()
    # the two zero vectors never pair (no cosine); the near-parallel pair does
    assert (0, 1) not in set(map(tuple, pairs[["id_a", "id_b"]].values))
    assert (2, 3) in set(map(tuple, pairs[["id_a", "id_b"]].values))


def test_ivf_recall_vs_nprobe_curve(spark):
    """Round-4 VERDICT #8: multi-probe must buy recall. Planted fixture:
    every corpus vector gets a perturbed twin (ε=0.3 of its norm — cosine
    ≥ 0.95, still rank-1 by a wide margin over random pairs at d=64, but
    the perturbation flips the coarse-list assignment for a measurable
    fraction of boundary-proximal vectors). nprobe=1 must measurably miss
    (recall = 0.982 on this seed, 9 missed queries); nprobe=4 must reach ≥ 0.95 (measured
    1.0). All seeds fixed — the curve is deterministic."""
    import numpy as np
    from pyspark.sql import functions as F

    from prclz_spark.operators.ann import ivf_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    rows = e.collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.stack([np.asarray(r.embedding, dtype=np.float32) for r in rows])
    dim = X.shape[1]
    rng = np.random.default_rng(3)
    noise = rng.standard_normal((len(X), dim)).astype(np.float32)
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    twins = X + 0.3 * np.linalg.norm(X, axis=1, keepdims=True) * noise
    corpus = e.unionByName(spark.createDataFrame(
        [(int(i) + 1_000_000, t.tolist()) for i, t in zip(ids, twins)],
        "vec_id long, embedding array<float>",
    ))
    queries = e.withColumnRenamed("vec_id", "qid")

    recall = {}
    for npb in (1, 4):
        out = ivf_topk(queries, corpus, "qid", "vec_id", "embedding",
                       dim=dim, k=1, n_lists=16, n_probe=npb)
        got = {r.qid: r.vec_id for r in out.filter(F.col("rank") == 1).collect()}
        hit = sum(1 for q in ids if got.get(int(q)) == int(q) + 1_000_000)
        recall[npb] = hit / len(ids)
    assert recall[1] <= 0.99, f"nprobe=1 should measurably miss: {recall}"
    assert recall[4] >= 0.95, f"nprobe=4 must recover: {recall}"
    assert recall[4] > recall[1]


def test_ivf_pq_topk_recall_and_exact_rerank(spark):
    """IVF-PQ with exact re-rank: planted scaled twins (same direction ⇒
    same coarse list AND same normalized vector ⇒ same PQ code as the
    query's own encoding) must surface at rank 1 with exact cosine ≈ 1;
    recall@5 vs brute force stays high because the ADC shortlist is
    re-ranked with exact cosine."""
    from prclz_spark.operators.ann import ivf_pq_topk

    e = spark.read.parquet(SF + "/embeddings.parquet")
    base = e.select("vec_id", "embedding").filter(F.col("vec_id") < 300).cache()
    twins = base.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.expr("transform(embedding, x -> x * CAST(1.01 AS FLOAT))").alias("embedding"),
    )
    corpus = base.unionByName(twins).cache()
    queries = base.filter(F.col("vec_id") < 40).withColumnRenamed("vec_id", "qid")
    dim = len(base.first().embedding)

    out = ivf_pq_topk(
        queries, corpus, "qid", "vec_id", "embedding", dim=dim,
        k=5, n_lists=8, n_probe=3, m=8, refine_k=60,
    ).toPandas()
    top1 = out[out["rank"] == 1]
    assert len(top1) == 40
    assert (top1.vec_id == top1.qid + 10_000).sum() >= 38
    assert (top1.cos_sim > 0.999).sum() >= 38

    # recall@5 vs brute force over the probed regime: compare against
    # exact cosine top-5 computed in numpy on the same corpus
    rows = corpus.collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    qrows = [r for r in rows if r.vec_id < 40]
    hits = tot = 0
    got = out.groupby("qid")["vec_id"].apply(set).to_dict()
    for r in qrows:
        qn = np.asarray(r.embedding, dtype=np.float64)
        qn = qn / max(np.linalg.norm(qn), 1e-300)
        sims = Xn @ qn
        mask = ids != r.vec_id
        order = np.argsort(-sims[mask])
        want = set(ids[mask][order[:5]].tolist())
        have = got.get(r.vec_id, set())
        hits += len(want & have)
        tot += 5
    assert hits / tot >= 0.80, hits / tot


def test_pq_encode_shape_and_zero_vectors(spark):
    from prclz_spark.operators.ann import _pq_encode_udf, train_pq

    e = spark.read.parquet(SF + "/embeddings.parquet").select("vec_id", "embedding")
    dim = len(e.first().embedding)
    zero = spark.createDataFrame(
        [(99_999, [0.0] * dim)], "vec_id long, embedding array<float>"
    )
    corpus = e.unionByName(zero)
    books = train_pq(corpus, "embedding", dim, m=8)
    assert books.shape == (8, 256, dim // 8)
    codes = corpus.select("vec_id", _pq_encode_udf(books)("embedding").alias("pq_code"))
    pdf = codes.toPandas().set_index("vec_id")
    # m bytes per vector — 32x smaller than the float32 array
    lens = pdf.loc[pdf.index != 99_999, "pq_code"].map(len)
    assert (lens == 8).all()
    assert pdf.loc[99_999, "pq_code"] is None

    # determinism: re-encoding yields identical codes
    pdf2 = codes.toPandas().set_index("vec_id")
    assert (
        pdf.loc[pdf.index != 99_999, "pq_code"]
        == pdf2.loc[pdf2.index != 99_999, "pq_code"]
    ).all()


def test_adc_score_approximates_cosine(spark):
    """ADC approximation quality on real vectors: mean |adc − cos| under
    0.15 and high rank correlation — the contract that makes refine_k=O(k)
    shortlists safe."""
    from prclz_spark.operators.ann import (
        _adc_score_udf, _pq_encode_udf, train_pq,
    )

    e = spark.read.parquet(SF + "/embeddings.parquet").select("vec_id", "embedding")
    dim = len(e.first().embedding)
    books = train_pq(e, "embedding", dim, m=8)
    q = e.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"))
    pairs = e.filter(F.col("vec_id") != 7).crossJoin(q).limit(200)
    scored = pairs.withColumn(
        "pq_code", _pq_encode_udf(books)(F.col("embedding"))
    ).withColumn("adc", _adc_score_udf(books)(F.col("qv"), F.col("pq_code")))
    dot = F.expr(
        "aggregate(zip_with(qv, embedding, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (a, x) -> a + x)"
    )
    nrm = lambda col: F.sqrt(
        F.expr(f"aggregate({col}, cast(0.0 as double), (a, x) -> a + cast(x as double) * cast(x as double))")
    )
    pdf = scored.withColumn("cos", F.try_divide(dot, nrm("qv") * nrm("embedding"))).toPandas()
    err = (pdf["adc"] - pdf["cos"]).abs()
    assert err.mean() < 0.15, err.mean()
    # rank agreement: spearman-ish via argsort correlation
    ra = pdf["adc"].rank()
    rc = pdf["cos"].rank()
    corr = np.corrcoef(ra, rc)[0, 1]
    assert corr > 0.7, corr


def test_ivf_pq_precomputed_index_matches_inline(spark, tmp_path):
    """Production decomposition: train once, encode once, persist the
    codes, query with (cents, books, corpus_codes) — results must be
    IDENTICAL to the self-contained inline form (same seeds ⇒ same
    quantizers ⇒ same candidates)."""
    from prclz_spark.operators.ann import (
        ivf_pq_encode_corpus, ivf_pq_topk, train_centroids, train_pq,
    )

    e = spark.read.parquet(SF + "/embeddings.parquet").select("vec_id", "embedding")
    dim = len(e.first().embedding)
    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "qid")

    inline = ivf_pq_topk(
        q, e, "qid", "vec_id", "embedding", dim=dim, k=5, n_lists=8, n_probe=3
    ).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)

    cents = train_centroids(e, "embedding", dim, n_lists=8)
    books = train_pq(e, "embedding", dim, m=8)
    codes_path = str(tmp_path / "pq_index.pq")
    ivf_pq_encode_corpus(e, "vec_id", "embedding", cents, books).write.parquet(
        codes_path
    )
    pre = ivf_pq_topk(
        q, e, "qid", "vec_id", "embedding", dim=dim, k=5, n_lists=8, n_probe=3,
        cents=cents, books=books,
        corpus_codes=spark.read.parquet(codes_path),
    ).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)

    assert inline.equals(pre)


def test_cli_ann_index_build_and_query(spark, tmp_path):
    from prclz_spark import cli

    idx = str(tmp_path / "idx")
    corpus = SF + "/embeddings.parquet"
    cli.main(["ann-index", "build", "--corpus", corpus, "--index", idx,
              "--dim", "64", "--n-lists", "8"])
    e = spark.read.parquet(corpus)
    e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    ).write.parquet(str(tmp_path / "q.pq"))
    cli.main(["ann-index", "query", "--corpus", corpus, "--index", idx,
              "--dim", "64", "--queries", str(tmp_path / "q.pq"),
              "--k", "3", "--n-probe", "4", "--out", str(tmp_path / "r.pq")])
    r = spark.read.parquet(str(tmp_path / "r.pq"))
    pdf = r.toPandas()
    assert set(pdf.qid) == set(range(5))
    assert pdf.groupby("qid")["rank"].max().eq(3).all()
    assert (pdf.cos_sim <= 1.000001).all()


def test_auto_lists_sizing():
    """√N auto-sizing (VERDICT r6 #3): pure function, simulated up to
    10¹² vectors — the per-query probe-candidate bound n_probe·N/n_lists
    stays ≈ n_probe·√N instead of the fixed-16 default's corpus/4."""
    from prclz_spark.operators.ann import _auto_lists

    assert _auto_lists(0) == 16
    assert _auto_lists(100) == 16          # floor: toy corpora
    assert _auto_lists(1_000_000) == 1_000
    assert _auto_lists(10**9) == 31_622
    assert _auto_lists(10**12) == 1_000_000
    assert _auto_lists(10**13) == 1 << 20  # centroid-broadcast cap
    # candidate bound at 10⁹ vectors, n_probe=4: ~126k rows per query —
    # a window task, not a corpus/4=250M-row funnel
    n = 10**9
    assert 4 * n / _auto_lists(n) < 5 * 4 * (n ** 0.5)


def test_auto_lists_balances_candidates(spark):
    """End-to-end auto-sizing: 4096 synthetic vectors → 64 lists; the
    probed candidate volume per query stays within a small constant of
    n_probe·√N (k-means imbalance bounded)."""
    import pandas as pd

    from prclz_spark.operators.ann import _auto_lists, _nearest_lists_udf, train_centroids

    n, dim = 4096, 16
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": list(rng.normal(size=(n, dim)))}
    )
    corpus = spark.createDataFrame(pdf)
    assert _auto_lists(n) == 64
    cents = train_centroids(corpus, "embedding", dim)  # n_lists=None → 64
    assert len(cents) == 64
    assign1 = _nearest_lists_udf(cents, 1)
    sizes = (
        corpus.withColumn("list_id", F.element_at(assign1(F.col("embedding")), 1))
        .groupBy("list_id")
        .count()
        .toPandas()
    )
    n_probe = 4
    # mean probed-candidate volume ≤ c·n_probe·√N with c=4 (imbalance)
    avg_list = sizes["count"].mean()
    assert n_probe * avg_list <= 4 * n_probe * (n ** 0.5)
    # and even the most imbalanced probe set is far from a corpus funnel
    assert n_probe * sizes["count"].max() < n / 4


def test_cli_ann_index_encode_batch_loop(spark, tmp_path, monkeypatch, capsys):
    """Daily similarity-index loop (r7): `build` freezes the quantizers on
    the day-0 corpus; `encode-batch` appends new vectors' codes
    exactly-once to an iceberg-lite codes table (seeded from the build
    snapshot); `query` reads the grown table and finds day-1 vectors (a
    planted scale-twin at rank 1); a replayed --batch-id is a no-op.
    Each encode-batch reads the codes table once (the re-crawl semi-join)
    and prints batch and table counts taken from the manifests."""
    import re

    from prclz_spark import cli
    from prclz_spark.sources import iceberg_lite as IL

    reads = []
    real_read = IL.read
    monkeypatch.setattr(IL, "read", lambda *a, **kw: reads.append(a) or real_read(*a, **kw))

    def encode_batch(batch_id):
        """One encode-batch → (its IL.read calls, its printed (new, total))."""
        reads.clear()
        capsys.readouterr()
        cli.main(["ann-index", "encode-batch", "--corpus", corpus_dir,
                  "--index", idx, "--dim", "64",
                  "--batch", day1_p, "--batch-id", batch_id])
        m = re.search(r"\((\d+) new, (\d+) total codes\)", capsys.readouterr().err)
        return len(reads), m and (int(m[1]), int(m[2]))

    idx = str(tmp_path / "idx")
    codes_tbl = idx + "/codes_tbl"
    corpus_dir = str(tmp_path / "corpus")
    e = spark.read.parquet(SF + "/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    e.filter(F.col("vec_id") < 400).write.parquet(corpus_dir)
    cli.main(["ann-index", "build", "--corpus", corpus_dir, "--index", idx,
              "--dim", "64", "--n-lists", "8"])
    n_day0 = spark.read.parquet(idx + "/codes.parquet").count()

    day1 = e.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    day1_p = str(tmp_path / "day1.pq")
    day1.write.parquet(day1_p)
    n_reads, printed = encode_batch("0")
    n_total = IL.read(spark, codes_tbl).count()
    assert n_total > n_day0  # day-1 codes landed (zero-norm rows may drop)
    assert n_reads == 1
    assert printed == (n_total - n_day0, n_total)

    # replay of a committed batch-id must not move the snapshot
    snap = IL.current_snapshot(codes_tbl)
    assert encode_batch("0") == (0, None)
    assert IL.current_snapshot(codes_tbl) == snap

    # a later batch RE-CRAWLING already-encoded ids must not duplicate
    # their codes (duplicate codes = duplicate query candidates)
    n_reads, printed = encode_batch("1")
    codes = IL.read(spark, codes_tbl)
    assert codes.count() == codes.dropDuplicates(["vec_id"]).count() == n_total
    assert n_reads == 1
    assert printed == (0, n_total)

    # the re-rank corpus must cover day 1 too
    day1.write.mode("append").parquet(corpus_dir)
    # planted twin: 1.01x of day-1 vector 400 (same IVF list, cos 1.0)
    spark.createDataFrame(
        e.filter(F.col("vec_id") == 400).select(
            F.lit(0).alias("qid"),
            F.transform("embedding", lambda x: x * F.lit(1.01)).alias(
                "embedding"
            ),
        ).collect()
    ).write.parquet(str(tmp_path / "q.pq"))
    cli.main(["ann-index", "query", "--corpus", corpus_dir, "--index", idx,
              "--dim", "64", "--queries", str(tmp_path / "q.pq"),
              "--k", "3", "--n-probe", "4", "--out", str(tmp_path / "r.pq")])
    pdf = spark.read.parquet(str(tmp_path / "r.pq")).toPandas()
    top = pdf[pdf["rank"] == 1].iloc[0]
    assert top.vec_id == 400 and top.cos_sim > 0.9999


def test_train_pq_restructured_kmeans_bit_identical():
    """Round-8: the vectorized k-means internals (chunked assignment,
    argsort-sliced stacked-group means, pre-drawn inits + threaded
    subspaces) must reproduce the original mask-loop implementation
    BIT-FOR-BIT — the codebooks feed pq encodings whose scores the driver
    fingerprints."""
    import numpy as np

    from prclz_spark.operators import ann as A

    rng = np.random.default_rng(123)
    X = rng.standard_normal((700, 64))

    def train_pq_reference(sample, dim, m=8, n_codes=256, iters=10, seed=11):
        sub = dim // m
        Xn = A._norm_rows(sample)
        Xn = Xn[np.abs(Xn).sum(axis=1) > 0]
        r = np.random.default_rng(seed)
        books = np.zeros((m, n_codes, sub))
        for s in range(m):
            Xs = Xn[:, s * sub:(s + 1) * sub]
            k = min(n_codes, len(Xs))
            cents = Xs[r.choice(len(Xs), size=k, replace=False)]
            for _ in range(iters):
                a = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
                for c in range(k):
                    mask = a == c
                    if mask.any():
                        cents[c] = Xs[mask].mean(axis=0)
            books[s, :k] = cents
            if k < n_codes:
                books[s, k:] = cents[0]
        return books

    want = train_pq_reference(X, 64)
    got = A.train_pq(None, "embedding", 64, sample=X)
    assert want.tobytes() == got.tobytes()


def test_cluster_means_stacked_groups_bit_identical():
    import numpy as np

    from prclz_spark.operators import ann as A

    rng = np.random.default_rng(77)
    for trial in range(30):
        n = int(rng.integers(1, 500))
        k = int(rng.integers(1, 64))
        sub = int(rng.integers(1, 20))
        X = rng.standard_normal((n, sub)) * (10.0 ** rng.integers(-6, 7))
        a = rng.integers(0, k, n)
        want = rng.standard_normal((k, sub))
        got = want.copy()
        for c in range(k):
            m = a == c
            if m.any():
                want[c] = X[m].mean(axis=0)
        A._cluster_means_inplace(got, X, a)
        assert want.tobytes() == got.tobytes(), trial


def test_assign_nearest_c_matches_numpy_cube():
    """Round-8: the C k-means assignment (planar_fast.assign_nearest) must
    reproduce the numpy cube argmin exactly — incl. exact-tie first-index
    selection and strided subspace views."""
    import numpy as np

    from prclz_spark.operators import ann as A

    rng = np.random.default_rng(1)
    for trial in range(60):
        n = int(rng.integers(1, 300))
        k = int(rng.integers(1, 64))
        d = int(rng.integers(1, 40))
        X = rng.standard_normal((n, d)) * (10.0 ** rng.integers(-4, 5))
        cents = X[rng.integers(0, n, k)].copy()
        if trial % 3 == 0 and k > 2:
            cents[1] = cents[0]  # exact tie -> first index wins
        ref = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
        assert np.array_equal(ref, A._assign_nearest(X, cents)), trial
    X = rng.standard_normal((400, 64))
    Xs = X[:, 8:16]  # strided view (the per-subspace call shape)
    cents = Xs[:32].copy()
    ref = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
    assert np.array_equal(ref, A._assign_nearest(Xs, cents))
