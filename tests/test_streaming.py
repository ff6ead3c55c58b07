"""Streaming/batch equivalence of the dedup, text-quality and curate stream paths."""

import pandas as pd
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _docs_two_files(spark, tmp_path):
    """Two parquet 'arrival' files: originals (early ts), then re-crawl
    clones of every 3rd doc (late ts)."""
    d = tmp_path / "docs_stream"
    d.mkdir()
    base = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
        .withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
    )
    clones = base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        "text",
        F.to_timestamp(F.lit("2026-01-01 01:00:00")).alias("ts"),
    )
    base.coalesce(1).write.parquet(str(d / "f0"))
    clones.coalesce(1).write.parquet(str(d / "f1"))
    return str(d), base, clones


def _drain_append(stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def test_dedup_exact_stream_matches_batch(spark, tmp_path):
    from prclz_spark.streaming.dedup import dedup_exact_stream

    d, base, clones = _docs_two_files(spark, tmp_path)
    full = base.unionByName(clones)
    batch = dedup_exact_stream(full, "text", "ts").toPandas()

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    got = _drain_append(dedup_exact_stream(stream, "text", "ts"), "dedup_exact").toPandas()
    # same survivor count and the same set of content hashes either way
    assert len(got) == len(batch) == 60
    assert set(got.content_hash) == set(batch.content_hash)
    # in the stream, the EARLY file won every contested hash
    assert (got.doc_id < 5000).all()


def test_dedup_minhash_stream_suppresses_recrawl(spark, tmp_path):
    from prclz_spark.streaming.dedup import dedup_minhash_stream, suppress_ids

    d, base, clones = _docs_two_files(spark, tmp_path)
    full = base.unionByName(clones)

    # ground truth from the batch signatures: docs sharing NO band with any
    # other doc ("isolated") must always survive; exact clones never do
    from prclz_spark.operators.dedup import minhash_signatures

    sigs = {
        int(r.doc_id): tuple(r.sig)
        for r in minhash_signatures(full, "doc_id", "text").collect()
    }
    from collections import Counter

    band_count = Counter(
        (b, s[b * 4 : b * 4 + 4]) for s in sigs.values() for b in range(16)
    )
    isolated = {
        i
        for i, s in sigs.items()
        if i < 5000 and all(band_count[(b, s[b * 4 : b * 4 + 4])] == 1 for b in range(16))
    }
    assert len(isolated) >= 20  # the fixture has enough distinct docs to test

    surv = dedup_minhash_stream(full, "doc_id", "text", "ts").toPandas()
    got_batch = set(surv.doc_id)
    assert (surv.bands_kept == 16).all()
    assert got_batch <= set(range(60))  # every clone suppressed
    assert isolated <= got_batch  # band-isolated docs always survive

    # streaming path: file order = arrival order; clones arrive second and
    # lose all their bands to the originals' state entries
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    fresh = dedup_minhash_stream(stream, "doc_id", "text", "ts")
    sink = _drain_append(fresh, "dedup_minhash")
    got = suppress_ids(sink, "doc_id").toPandas()
    got_stream = set(got.doc_id)
    assert got_stream <= set(range(60))
    assert isolated <= got_stream


def test_dedup_stream_against_corpus(spark, tmp_path):
    """Stream-STATIC incremental dedup (the streaming face of the r4 #1
    against-corpus family): a persisted corpus signature table suppresses
    re-crawls arriving on the stream per micro-batch, composing with the
    within-stream watermark dedup; batch mode runs the identical path
    (stream ⊆ batch survivors checked on the planted sets)."""
    from prclz_spark.operators.dedup import minhash_signatures
    from prclz_spark.streaming.dedup import dedup_stream_against_corpus, suppress_ids

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") < 100)
    corpus_sigs = minhash_signatures(corpus, "doc_id", "text")

    fresh = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 130))
    corpus_twins = corpus.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.expr("substring(text, 1, cast(length(text) * 0.95 as int))").alias("text"),
    )
    stream_twins = fresh.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    t0 = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    batch0 = fresh.unionByName(corpus_twins).withColumn("ts", t0)
    batch1 = stream_twins.withColumn(
        "ts", F.to_timestamp(F.lit("2026-01-01 01:00:00"))
    )
    d = tmp_path / "stream_in"
    d.mkdir()
    batch0.coalesce(1).write.parquet(str(d / "f0"))
    batch1.coalesce(1).write.parquet(str(d / "f1"))

    planted_corpus = {int(x) + 2_000_000 for x in range(0, 100, 5)}
    planted_stream = {int(x) + 3_000_000 for x in range(100, 130) if x % 3 == 0}

    # batch mode: identical path minus the watermark
    full = batch0.unionByName(batch1)
    surv_b = set(
        dedup_stream_against_corpus(
            full, corpus_sigs, "doc_id", "text", "ts"
        ).toPandas().doc_id
    )
    assert surv_b.isdisjoint(planted_corpus)   # corpus re-crawls die
    assert surv_b.isdisjoint(planted_stream)   # in-stream clones die
    assert surv_b <= set(range(100, 130))

    # streaming: two file-triggers; corpus check is the stream-static
    # anti-join, within-stream check is the watermark state
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    out = dedup_stream_against_corpus(stream, corpus_sigs, "doc_id", "text", "ts")
    q = (
        out.writeStream.format("memory").queryName("against_corpus")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    sink = spark.table("against_corpus")
    surv_s = set(suppress_ids(sink, "doc_id").toPandas().doc_id)
    assert surv_s.isdisjoint(planted_corpus)
    assert surv_s.isdisjoint(planted_stream)
    assert surv_s <= set(range(100, 130))
    # every doc the batch path keeps with all bands fresh also survives
    # the stream (same banding, same corpus table)
    assert surv_b == surv_s


def test_dedup_stream_against_corpus_refreshing(spark, tmp_path):
    """Mid-stream corpus refresh (r5 advice): signatures appended to the
    corpus table BETWEEN micro-batches become visible at the next refresh
    tick without a query restart — the plain variant only sees them at
    restart. Also pins the flipped-operator-order equivalence (in-stream
    dedup then per-batch corpus anti-join ≡ the plain variant's corpus
    join then in-stream dedup) and that the old corpus cache is dropped."""
    from prclz_spark.operators.dedup import minhash_signatures
    from prclz_spark.streaming.dedup import (
        dedup_stream_against_corpus,
        dedup_stream_against_corpus_refreshing,
    )

    # unique synthetic docs (4x sha2 hex each): the parquet fixture docs
    # are boilerplate enough to band-collide organically, which would
    # blur the planted-twin assertions below
    docs = spark.range(150).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.sha2(F.concat(F.lit(f"s{i}-"), F.col("id").cast("string")), 256)
              for i in range(4)],
        ).alias("text"),
    )
    corpus_dir = str(tmp_path / "corpus")
    minhash_signatures(
        docs.filter(F.col("doc_id") < 100), "doc_id", "text"
    ).write.parquet(corpus_dir)

    calls = {"n": 0}

    def loader():
        calls["n"] += 1
        return spark.read.parquet(corpus_dir)

    def twins(df, offset):
        return df.select(
            (F.col("doc_id") + offset).alias("doc_id"),
            F.expr(
                "substring(text, 1, cast(length(text) * 0.95 as int))"
            ).alias("text"),
        )

    # batch 0: fresh 100-119, twins of corpus docs (die), twins of
    # 130-139 (NOT yet in corpus -> must survive batch 0)
    fresh = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    late_src = docs.filter((F.col("doc_id") >= 130) & (F.col("doc_id") < 140))
    t0 = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    batch0 = (
        fresh.unionByName(twins(docs.filter(F.col("doc_id") % 10 == 0)
                                .filter(F.col("doc_id") < 100), 2_000_000))
        .unionByName(twins(late_src, 4_000_000))
        .withColumn("ts", t0)
    )
    # batch 1: twins of 130-139 again (corpus will know them by then) and
    # fresh 120-124
    batch1 = (
        docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 125))
        .unionByName(twins(late_src, 5_000_000))
        .withColumn("ts", F.to_timestamp(F.lit("2026-01-01 01:00:00")))
    )
    d = tmp_path / "stream_in"
    d.mkdir()
    batch0.coalesce(1).write.parquet(str(d / "f0"))

    got = {}

    def sink_fn(ids_df, batch_id):
        got[batch_id] = set(int(x) for x in ids_df.toPandas()[ids_df.columns[0]])

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    survivors, fn = dedup_stream_against_corpus_refreshing(
        stream, loader, "doc_id", "text", "ts", sink_fn, refresh_every=1
    )
    _cm = spark._jsparkSession.sharedState().cacheManager()
    n_cached_before = _cm.cachedData().size()
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            survivors.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # availableNow appends a trailing empty watermark-commit batch, so
    # survivors of a run are the UNION over its sink batches
    run1 = set().union(*got.values())
    got.clear()
    planted_corpus = {x + 2_000_000 for x in range(0, 100, 10)}
    planted_late0 = {x + 4_000_000 for x in range(130, 140)}
    assert run1.isdisjoint(planted_corpus)          # corpus re-crawls die
    assert planted_late0 <= run1                    # 130s not in corpus yet
    assert set(range(100, 120)) <= run1

    # the daily batch loop appends 130-139 signatures; stream keeps running
    minhash_signatures(late_src, "doc_id", "text").write.mode("append").parquet(
        corpus_dir
    )
    batch1.coalesce(1).write.parquet(str(d / "f1"))
    n_calls_run1 = calls["n"]
    assert n_calls_run1 >= 1                        # refreshed during run 1
    run()
    run2 = set().union(*got.values())
    planted_late1 = {x + 5_000_000 for x in range(130, 140)}
    assert run2.isdisjoint(planted_late1)           # refresh picked them up
    assert set(range(120, 125)) <= run2
    assert calls["n"] > n_calls_run1                # refreshed again in run 2
    # exactly ONE corpus cache alive (old one unpersisted on refresh)
    assert _cm.cachedData().size() == n_cached_before + 1

    # batch mode: flipped order selects the same survivors as the plain op
    full = batch0.unionByName(batch1)
    surv_b, fn_b = dedup_stream_against_corpus_refreshing(
        full, loader, "doc_id", "text", "ts",
        lambda ids_df, bid: got.__setitem__("batch", set(
            int(x) for x in ids_df.toPandas()[ids_df.columns[0]])),
        refresh_every=1,
    )
    fn_b(surv_b, 0)
    plain = set(
        dedup_stream_against_corpus(
            full, loader(), "doc_id", "text", "ts"
        ).toPandas().doc_id
    )
    assert got["batch"] == plain


# ---------------------------------------------------------------------------
# phash (image) streaming near-dup — verified stateful operator
# ---------------------------------------------------------------------------


def _phash_world(spark, tmp_path):
    """Deterministic 64-bit codes: 40 well-separated base images (early
    ts), then a late arrival file of near-twins (6 bit flips → in-radius)
    and far clones (20 flips → out of radius of their own base, but ground
    truth below brute-forces ALL pairs so accidental closeness is handled,
    not assumed away)."""
    import random

    rng = random.Random(42)

    def flip(c, k):
        for b in rng.sample(range(64), k):
            c ^= 1 << b
        return c

    def signed(c):
        return c - (1 << 64) if c >= 1 << 63 else c

    bases = {i: rng.getrandbits(64) for i in range(40)}
    twins = {i + 5000: flip(bases[i], 6) for i in range(0, 40, 3)}
    far = {i + 9000: flip(bases[i], 20) for i in range(1, 40, 3)}

    t0, t1 = "2026-01-01 00:00:00", "2026-01-01 01:00:00"
    early = [(i, signed(c), t0) for i, c in bases.items()]
    late = [(i, signed(c), t1) for i, c in {**twins, **far}.items()]
    mk = lambda rows: spark.createDataFrame(
        [(i, c, None) for i, c, _ in rows], "img_id long, phash long, ts timestamp"
    ).withColumn("ts", F.to_timestamp(F.lit(rows[0][2])))
    early_df, late_df = mk(early), mk(late)

    d = tmp_path / "phash_stream"
    d.mkdir()
    early_df.coalesce(1).write.parquet(str(d / "f0"))
    late_df.coalesce(1).write.parquet(str(d / "f1"))

    # brute-force ground truth: earliest (ts, id) match within Hamming<=6
    rows = sorted(
        [(0, i, c) for i, c in bases.items()]
        + [(1, i, c) for i, c in {**twins, **far}.items()]
    )
    truth = {}
    for n, (tsk, i, c) in enumerate(rows):
        best = None
        for tsk2, j, c2 in rows[:n]:
            if bin(c ^ c2).count("1") <= 6:
                best = (tsk2, j) if best is None else min(best, (tsk2, j))
        truth[i] = None if best is None else best[1]
    return str(d), early_df.unionByName(late_df), truth


def test_dedup_phash_stream_matches_batch_and_truth(spark, tmp_path):
    from prclz_spark.streaming.dedup import dedup_phash_stream, phash_suppress_verdicts

    d, full, truth = _phash_world(spark, tmp_path)
    assert sum(v is not None for v in truth.values()) >= 14  # all 14 twins hit

    # batch path == brute-force truth
    batch = dedup_phash_stream(full, "img_id", "ts", horizon="2 days").toPandas()
    got_b = {
        int(r.img_id): (None if pd.isna(r.dup_of) else int(r.dup_of))
        for r in batch.itertuples()
    }
    assert got_b == truth

    # streaming path (file-per-trigger arrival order) == batch path
    stream = (
        spark.readStream.schema("img_id long, phash long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    q = (
        dedup_phash_stream(stream, "img_id", "ts", horizon="2 days")
        .writeStream.format("memory")
        .queryName("phash_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink = spark.table("phash_stream")
    # every image emitted one verdict row per band (28 byte-pair bands)
    per_img = sink.groupBy("img_id").count().toPandas()
    assert (per_img["count"] == 28).all()
    got_s = {
        int(r.img_id): (None if pd.isna(r.dup_of) else int(r.dup_of))
        for r in phash_suppress_verdicts(sink, "img_id").toPandas().itertuples()
    }
    assert got_s == truth


def test_dedup_phash_stream_horizon_window(spark, tmp_path):
    """A twin arriving beyond the horizon is NOT flagged — the horizon
    gates the match itself (event-time window), not just state GC, in
    BOTH the batch and streaming paths."""
    from prclz_spark.streaming.dedup import dedup_phash_stream, phash_suppress_verdicts

    d, full, truth = _phash_world(spark, tmp_path)  # late file is +1 h
    batch = dedup_phash_stream(full, "img_id", "ts", horizon="30 minutes").toPandas()
    assert batch.dup_of.isna().all()

    stream = (
        spark.readStream.schema("img_id long, phash long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    q = (
        dedup_phash_stream(stream, "img_id", "ts", horizon="30 minutes")
        .writeStream.format("memory")
        .queryName("phash_stream_hz")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = phash_suppress_verdicts(spark.table("phash_stream_hz"), "img_id").toPandas()
    assert got.dup_of.isna().all()
    assert len(got) == len(truth)


def test_phash_state_func_gc_cap_and_timeout():
    """The phash state handler driven directly with a stub GroupState:
    (a) an out-of-horizon state entry neither matches a new arrival nor
    survives GC; (b) state_cap trims to the NEWEST entries; (c) the
    timeout branch removes state and emits nothing."""
    import numpy as np

    from prclz_spark.streaming.dedup import _phash_verdict_state_func

    class StubState:
        def __init__(self):
            self._v, self.hasTimedOut = None, False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutDuration(self, ms):
            pass

    H = 1_000_000  # 1 s horizon in µs

    def batch(rows):  # rows: (pid, code, ts_us)
        return iter([pd.DataFrame(rows, columns=["_pid", "_code", "ts_us"])])

    run = lambda st, rows, cap=0: list(
        _phash_verdict_state_func(None, batch(rows), st, 6, H, cap)
    )[0]

    # (a) same code arrives at t=0 and t=2s: out of horizon → no match,
    # and the t=0 entry is GC'd from state
    st = StubState()
    run(st, [(1, 42, 0)])
    out = run(st, [(2, 42, 2 * H)])
    assert out.dup_of.isna().all()
    ids = np.frombuffer(st._v[0], dtype=np.int64)
    assert list(ids) == [2]

    # in-horizon same code DOES match
    out = run(st, [(3, 42, 2 * H + 1000)])
    assert list(out.dup_of) == [2]

    # (b) cap=3 over 5 in-horizon arrivals keeps the 3 newest
    st = StubState()
    run(st, [(i, 1000 + i * 128, i) for i in range(5)], cap=3)
    ids = np.frombuffer(st._v[0], dtype=np.int64)
    assert list(ids) == [2, 3, 4]

    # (c) timeout branch: state removed, nothing emitted
    st.hasTimedOut = True
    assert list(_phash_verdict_state_func(None, iter([]), st, 6, H, 0)) == []
    assert not st.exists


def test_dedup_phash_stream_timeout_path_runs(spark, tmp_path):
    """The processing-time eviction variant drains cleanly and emits the
    same verdicts (timeouts cannot FIRE under availableNow's short run —
    this pins the setTimeoutDuration call path, like the k-complexity
    twin test)."""
    from prclz_spark.streaming.dedup import dedup_phash_stream, phash_suppress_verdicts

    d, full, truth = _phash_world(spark, tmp_path)
    stream = (
        spark.readStream.schema("img_id long, phash long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    q = (
        dedup_phash_stream(
            stream, "img_id", "ts", horizon="2 days", idle_timeout_ms=60_000
        )
        .writeStream.format("memory")
        .queryName("phash_stream_to")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {
        int(r.img_id): (None if pd.isna(r.dup_of) else int(r.dup_of))
        for r in phash_suppress_verdicts(
            spark.table("phash_stream_to"), "img_id"
        ).toPandas().itertuples()
    }
    assert got == truth


def test_phash_state_func_vectorized_equals_scalar_reference():
    """The distinct-code verdict kernel (factorize → U×U Hamming on
    distinct codes → two binary searches per row per allowed code) ≡ a
    per-arrival reference loop, on random multi-trigger workloads with
    clone bursts, late rows, and (ts, id) ties; plus a CPU bound on the
    viral key (5000 exact clones in one trigger): the kernel is
    near-linear there (measured 0.02 s; 1M clones ≈ 3.3 s) where any
    per-pair formulation is O(B²) — gate at 0.5 s."""
    import random
    import time

    import numpy as np

    from prclz_spark.streaming.dedup import _phash_verdict_state_func

    class StubState:
        def __init__(self):
            self._v, self.hasTimedOut = None, False

        exists = property(lambda s: s._v is not None)
        get = property(lambda s: s._v)

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutDuration(self, ms):
            pass

    def reference(triggers, max_h, horizon):
        """Per-arrival loop over the same (sorted) trigger stream."""
        ids, codes, tss = [], [], []
        out = []
        for rows in triggers:
            for pid, code, ts in sorted(rows, key=lambda r: (r[2], r[0])):
                best = None
                for i, c, t in zip(ids, codes, tss):
                    if t >= ts - horizon and bin(code ^ c).count("1") <= max_h:
                        k = (t, i)
                        best = k if best is None else min(best, k)
                out.append((pid, ts, None if best is None else best[1]))
                ids.append(pid), codes.append(code), tss.append(ts)
            mx = max(tss)
            keep = [k for k in range(len(tss)) if tss[k] >= mx - horizon]
            ids = [ids[k] for k in keep]
            codes = [codes[k] for k in keep]
            tss = [tss[k] for k in keep]
        return out

    rng = random.Random(5)
    H = 1000
    fam = [rng.getrandbits(63) for _ in range(6)]
    rows, nid = [], 0

    def mk_rows(n, t_lo, t_hi):
        nonlocal nid
        out = []
        for _ in range(n):
            base = rng.choice(fam)
            code = base
            for b in rng.sample(range(63), rng.randint(0, 8)):
                code ^= 1 << b
            out.append((nid, code, rng.randint(t_lo, t_hi)))
            nid += 1
        return out

    triggers = [mk_rows(60, 0, 500), mk_rows(80, 300, 1400), mk_rows(50, 900, 2600)]
    want = reference(triggers, 6, H)

    st = StubState()
    got = []
    for rows in triggers:
        pdf = pd.DataFrame(rows, columns=["_pid", "_code", "ts_us"])
        (o,) = list(_phash_verdict_state_func(None, iter([pdf]), st, 6, H, 0))
        got.extend(
            (int(pid), int(ts), None if pd.isna(d) else int(d))
            for pid, ts, d, _dt in o.itertuples(index=False, name=None)
        )
    assert got == want

    # viral key: 5000 exact clones in one trigger — every row after the
    # first must flag the first
    n = 5000
    clones = pd.DataFrame(
        {"_pid": np.arange(n), "_code": 12345, "ts_us": np.arange(n)}
    )
    st2 = StubState()
    t0 = time.process_time()
    (o,) = list(_phash_verdict_state_func(None, iter([clones]), st2, 6, 10**9, 0))
    cpu = time.process_time() - t0
    assert o.dup_of.iloc[0] is None or pd.isna(o.dup_of.iloc[0])
    assert (o.dup_of.iloc[1:] == 0).all()
    # interpreted loop ≈10 s, full-matrix kernel ≈5.7 s at 5000 rows;
    # the distinct-code kernel measures 0.02 s — gate with 25× headroom
    assert cpu < 0.5, f"viral-key kernel too slow: {cpu:.2f}s CPU"


def test_strip_boilerplate_stream_refreshing(spark, tmp_path):
    """Streaming boilerplate strip (r6 advice #8): per-micro-batch
    stream-static anti-join against the incremental line-df corpus, with
    the dedup-style mid-stream refresh — line counts appended by the
    daily update_boilerplate_corpus loop BETWEEN micro-batches become
    visible at the next refresh tick without a query restart. Pins
    stream ≡ batch verdicts on planted banners."""
    from prclz_spark.operators.textq import (
        read_boilerplate_corpus,
        strip_boilerplate_lines,
        update_boilerplate_corpus,
    )
    from prclz_spark.streaming.textq import strip_boilerplate_stream

    BANNER = "SUBSCRIBE to our newsletter"
    PROMO = "LIMITED offer ends soon"
    lines_t = str(tmp_path / "lines_tbl")

    def docs(ids, with_promo=False):
        mid = [BANNER, "body %d alpha", "body %d beta"]
        if with_promo:
            mid.append(PROMO)
        return spark.range(0, 1).selectExpr("1").crossJoin(
            spark.createDataFrame([(i,) for i in ids], "doc_id long")
        ).select(
            "doc_id",
            F.format_string(
                "\n".join(mid), F.col("doc_id"), F.col("doc_id")
            ).alias("text"),
        )

    # seed corpus: BANNER in 12 docs (>= min_df 10), PROMO in 4 (< 10)
    update_boilerplate_corpus(
        docs(range(8)).unionByName(docs(range(8, 12), with_promo=True)),
        lines_t, "doc_id", "text",
    )

    d = tmp_path / "stream_in"
    d.mkdir()
    docs([100, 101], with_promo=True).coalesce(1).write.parquet(str(d / "f0"))

    got = {}

    def sink_fn(stripped, bid):
        got.update({
            int(r["doc_id"]): (r["text_clean"], int(r["n_lines_removed"]))
            for r in stripped.collect()
        })

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    fn = strip_boilerplate_stream(
        stream, lambda: read_boilerplate_corpus(spark, lines_t, 10),
        "doc_id", "text", sink_fn, refresh_every=1,
    )
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # BANNER (df 12) stripped, PROMO (df 4) kept
    assert got[100][1] == 1 and BANNER not in got[100][0]
    assert PROMO in got[100][0] and "body 100 alpha" in got[100][0]

    # daily loop appends 8 more PROMO docs -> corpus df 12; stream keeps
    # its checkpoint, next file triggers a refresh that must see it
    update_boilerplate_corpus(
        docs(range(200, 208), with_promo=True), lines_t, "doc_id", "text"
    )
    docs([102, 103], with_promo=True).coalesce(1).write.parquet(str(d / "f1"))
    got.clear()
    run()
    assert got[102][1] == 2
    assert BANNER not in got[102][0] and PROMO not in got[102][0]
    assert "body 102 alpha" in got[102][0] and "body 102 beta" in got[102][0]

    # stream ≡ batch: the batch operator over the same corpus state and
    # the batch entry of the streaming wrapper both match the stream
    batch_in = docs([102, 103], with_promo=True)
    hot = read_boilerplate_corpus(spark, lines_t, 10)
    direct = {
        int(r["doc_id"]): (r["text_clean"], int(r["n_lines_removed"]))
        for r in strip_boilerplate_lines(
            batch_in, "doc_id", "text", boilerplate=hot
        ).collect()
    }
    assert direct == got
    got2 = {}
    strip_boilerplate_stream(
        batch_in, lambda: read_boilerplate_corpus(spark, lines_t, 10),
        "doc_id", "text",
        lambda s, b: got2.update({
            int(r["doc_id"]): (r["text_clean"], int(r["n_lines_removed"]))
            for r in s.collect()
        }),
    )
    assert got2 == got


def test_curate_text_stream_sink(spark, tmp_path):
    """Continuous-crawl curation (r7): the curate-text batch step as a
    foreachBatch sink — per micro-batch tiered dedup against the
    ACCUMULATED fingerprint corpora, incremental boilerplate strip,
    quality filter, exactly-once curated snapshots. Cross-micro-batch
    re-crawls die against the corpus; restarting from the checkpoint
    processes only new files (no duplicate commits)."""
    import hashlib

    from prclz_spark.curate import curate_text_stream_sink
    from prclz_spark.operators.textq import GOPHER_RULES
    from prclz_spark.sources import iceberg_lite as IL

    BAN = "CLICK HERE to subscribe"

    def word(i, j):
        h = hashlib.md5(f"{i}:{j}".encode()).digest()
        return "".join(chr(97 + b % 26) for b in h[: 5 + h[0] % 5])

    def docs(ids, junk=()):
        rows = []
        for i in ids:
            if i in junk:
                t = "\n".join([BAN, "spam ham " * 40])
            else:
                b = " ".join(word(i, j) for j in range(70))
                t = "\n".join([BAN, b[: len(b) // 2], b[len(b) // 2:]])
            rows.append((i, t))
        return spark.createDataFrame(rows, "doc_id long, text string")

    d = tmp_path / "arrivals"
    d.mkdir()
    t = str(tmp_path / "docs_tbl")
    # batch 0: 14 fresh docs (banner df 14 >= min_df 10) + 2 junk
    docs(list(range(14)) + [90, 91], junk={90, 91}).coalesce(1).write.parquet(
        str(d / "f0")
    )

    rules = dict(GOPHER_RULES)
    rules["min_words"] = 20
    got = {}
    fn = curate_text_stream_sink(
        t, tiers=("exact", "minhash"), min_df=10, quality_rules=rules,
        on_batch=lambda stats, bid: got.update({bid: stats}),
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    ckpt = str(tmp_path / "ckpt")
    _cm = spark._jsparkSession.sharedState().cacheManager()
    n_cached_before = _cm.cachedData().size()

    def run():
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    ids0 = {r["doc_id"] for r in IL.read(spark, t).select("doc_id").collect()}
    assert ids0 == set(range(14))          # junk failed quality
    texts = {r["doc_id"]: r["text"] for r in IL.read(spark, t).collect()}
    assert all(BAN not in v for v in texts.values())  # banner stripped

    # batch 1 (new file, resumed checkpoint): 4 fresh + 2 re-crawls of
    # batch-0 survivors — the re-crawls must die against the CORPUS
    docs([200, 201, 202, 203]).unionByName(
        docs([2, 3]).select((F.col("doc_id") + 500).alias("doc_id"), "text")
    ).coalesce(1).write.parquet(str(d / "f1"))
    run()
    ids1 = {r["doc_id"] for r in IL.read(spark, t).select("doc_id").collect()}
    assert ids1 == set(range(14)) | {200, 201, 202, 203}

    # third run with nothing new: no snapshot moves anywhere
    snaps = {
        pth: IL.current_snapshot(pth)
        for pth in (t, t + "_lines", t + "_fp/exact", t + "_fp/minhash")
    }
    run()
    for pth, s in snaps.items():
        assert IL.current_snapshot(pth) == s, pth
    tbl = IL.read(spark, t)
    assert tbl.count() == tbl.dropDuplicates(["doc_id"]).count() == 18
    # cache hygiene: per-micro-batch caches are unpersisted — a stream
    # running for months must not grow the cache manager per batch
    assert _cm.cachedData().size() == n_cached_before


def test_curate_images_stream_sink(spark, tmp_path):
    """Continuous image-crawl curation: curate_images_batch as a
    foreachBatch sink — cross-micro-batch phash re-crawls die against
    the corpus, exactly-once appends under checkpoint resume."""
    from prclz_spark.curate import curate_images_stream_sink
    from prclz_spark.images import images_table
    from prclz_spark.sources import iceberg_lite as IL

    pool = images_table(spark, 24, w=64, h=64).withColumn(
        "caption", F.sha2(F.concat(F.lit("c-"), "image_id"), 256)
    ).cache()
    d = tmp_path / "arrivals"
    d.mkdir()
    t = str(tmp_path / "tbl")
    pool.filter(F.col("image_id") < "img_00000016").coalesce(1).write.parquet(
        str(d / "f0")
    )

    fn = curate_images_stream_sink(t, max_hamming=0)
    schema = pool.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/*")
    )
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert IL.read(spark, t).count() == 16

    # batch 1: 8 fresh + re-crawls of 2 batch-0 images under new ids
    pool.filter(F.col("image_id") >= "img_00000016").unionByName(
        pool.filter(F.col("image_id") < "img_00000002").select(
            F.concat(F.lit("re_"), "image_id").alias("image_id"),
            "bytes", "w", "h", "fmt", "caption", "phash",
        )
    ).coalesce(1).write.parquet(str(d / "f1"))
    run()
    tbl = IL.read(spark, t)
    assert tbl.count() == 24
    assert tbl.filter(F.col("image_id").startswith("re_")).count() == 0
    run()  # nothing new: no snapshot moves
    assert tbl.count() == tbl.dropDuplicates(["image_id"]).count() == 24
