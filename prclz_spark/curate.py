"""Text- and image-corpus curation: one exactly-once batch step each, run
by the `curate-text` / `curate-images-batch` CLI commands (the daily driver).

Per batch: tiered dedup (each tier against its persisted fingerprint
corpus) → incremental boilerplate line strip → Gopher quality filter →
optional mixture quotas (document counts or token budgets) → curated
snapshot (+ optional parquet outputs / packed contexts).

Exactly-once protocol (same watermark machinery as streaming/ingest):
every table commit is stamped with {query_id, batch_id}; verdicts are
computed BEFORE any commit, reading only state a replay would read
identically — fingerprint corpora are read as of
``iceberg_lite.snapshot_before_batch`` (never the batch's own
possibly-crash-orphaned first-attempt commit), the line-df append is
skip-if-stamped, outputs are overwrite-idempotent, the curated snapshot
commits next, and the fingerprint snapshots commit LAST. A crash at any
point replays to byte-identical curated output and at-most-once commits.

Reference parity note: the reference (mansueto-institute/prclz) has no
corpus-curation surface; this composes the engine's dedup / textq / mix /
pack / iceberg-lite extensions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ws_tokens(text_col: str):
    return F.size(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    )


def curate_text_batch(
    batch: DataFrame,
    table: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tiers=("exact", "minhash"),
    fp_root: str | None = None,
    lines_table: str | None = None,
    min_df: int = 10,
    quality_rules: dict | None = None,
    mix: dict | None = None,
    mix_tokens: dict | None = None,
    mix_col: str = "lang",
    pack_budget: int | None = None,
    out_dir: str | None = None,
    seed: int = 1,
    query_id: str = "curate-text",
) -> dict | None:
    """Run one curation batch; returns a stats dict, or None when every
    table already carries this (query_id, batch_id) — the full-replay
    no-op. ``quality_rules``: None skips the quality filter; pass
    ``dict(GOPHER_RULES)`` (optionally overridden) to enable it.
    ``mix`` / ``mix_tokens`` are mutually exclusive per-stratum quota
    dicts over ``mix_col``. ``out_dir``, when given, also materializes
    ``curated_batch_<id>`` (and ``contexts_batch_<id>`` with
    ``pack_budget``) parquet outputs — written BEFORE the commits, so a
    fully-committed batch always has its outputs on disk."""
    from .sources import iceberg_lite as IL

    if mix and mix_tokens:
        raise ValueError("mix and mix_tokens are mutually exclusive")
    idc, txt = id_col, text_col
    fp_root = fp_root or (table.rstrip("/") + "_fp")
    lines_t = lines_table or (table.rstrip("/") + "_lines")
    tiers = [t for t in tiers if t]
    fp_paths = {t: os.path.join(fp_root, t) for t in tiers}
    stamp = {"query_id": query_id, "batch_id": int(batch_id)}

    def committed(path):
        if not os.path.exists(os.path.join(path, "metadata")):
            return False
        last = IL.last_committed_batch(path, query_id)
        return last is not None and batch_id <= last

    if (
        committed(table)
        and committed(lines_t)
        and all(committed(p) for p in fp_paths.values())
    ):
        return None  # full replay — every commit already landed

    # Per-batch caches are handed back and unpersisted before returning:
    # a long-lived session runs this once per batch, and un-released
    # caches would pile up in the cache manager.
    caches = []
    try:
        return _curate_text_batch_inner(
            batch, table, batch_id, idc, txt, tiers, fp_paths, lines_t,
            min_df, quality_rules, mix, mix_tokens, mix_col, pack_budget,
            out_dir, seed, query_id, committed, stamp, caches,
        )
    finally:
        for c in caches:
            c.unpersist()


def _curate_text_batch_inner(
    batch, table, batch_id, idc, txt, tiers, fp_paths, lines_t, min_df,
    quality_rules, mix, mix_tokens, mix_col, pack_budget, out_dir, seed,
    query_id, committed, stamp, caches,
):
    from .operators.dedup import dedup_batch_verdict
    from .operators.mix import mix_strata, mix_strata_tokens
    from .operators.pack import pack_sequences
    from .operators.textq import (
        quality_filter,
        read_boilerplate_corpus,
        strip_boilerplate_lines,
        update_boilerplate_corpus,
    )
    from .sources import iceberg_lite as IL

    spark = batch.sparkSession

    # 1) tier verdicts — read fingerprint corpora, commit nothing; each
    # corpus is read as of BEFORE this batch's own first-attempt commit
    # (a replay must never match the batch against itself)
    cur = batch
    pending_sigs, dedup_stats, n_in = [], {}, batch.count()
    for t in tiers:
        surv, _cross, _internal, cols = dedup_batch_verdict(
            cur, fp_paths[t], idc, tier=t, text_col=txt,
            corpus_snapshot=IL.snapshot_before_batch(
                fp_paths[t], query_id, batch_id
            ),
            caches=caches,
        )
        before = cur.count()
        cur = cur.join(
            F.broadcast(surv.select(idc)), idc, "left_semi"
        ).cache()
        caches.append(cur)
        dedup_stats[t] = before - cur.count()
        pending_sigs.append((t, surv, cols))

    # 2) line-df counts (stamped; skipped on replay so the strip reads
    #    the same summed history) + boilerplate strip
    if not committed(lines_t):
        update_boilerplate_corpus(
            cur, lines_t, idc, txt, commit_properties=stamp
        )
    # cache the hot-line table: the strip's size probe + anti-join scan
    # it more than once, and the sum-merge over the manifest chain must
    # not re-run per scan
    hot = read_boilerplate_corpus(spark, lines_t, min_df).cache()
    caches.append(hot)
    stripped = strip_boilerplate_lines(cur, idc, txt, boilerplate=hot)
    docs = cur.drop(txt).join(
        stripped.select(idc, F.col("text_clean").alias(txt)), idc
    )

    # 3) Gopher quality filter on the STRIPPED text
    if quality_rules is not None:
        verdicts = quality_filter(docs, idc, txt, rules=quality_rules)
        docs = docs.join(
            verdicts.filter(F.col("keep")).select(idc), idc, "left_semi"
        )

    # 4) mixture quotas (document counts or token budgets)
    if mix:
        docs = mix_strata(docs, mix_col, mix, idc, seed=seed)
    elif mix_tokens:
        docs = mix_strata_tokens(
            docs.withColumn("_ntok", _ws_tokens(txt)), mix_col,
            mix_tokens, idc, "_ntok", seed=seed,
        ).drop("_ntok")
    docs = docs.cache()
    caches.append(docs)
    n_final = docs.count()

    # 5) outputs first (overwrite-idempotent), THEN the commits
    cur_out = None
    if out_dir:
        cur_out = os.path.join(out_dir, f"curated_batch_{batch_id}")
        docs.write.mode("overwrite").parquet(cur_out)
        if pack_budget:
            pack_sequences(
                docs.select(idc, _ws_tokens(txt).alias("n_tokens")),
                idc, "n_tokens", pack_budget, seed=seed,
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"contexts_batch_{batch_id}")
            )

    # 6) curated-docs snapshot (stamped)
    if not committed(table):
        if not os.path.exists(os.path.join(table, "metadata")):
            IL.create_table(table, docs.schema.simpleString()[7:-1])
        IL.append(docs, table, properties=stamp)

    # 7) fingerprint snapshots LAST, one per tier (stamped) — the
    #    invariant the whole replay protocol rests on
    for t, surv, cols in pending_sigs:
        if not committed(fp_paths[t]):
            IL.append(surv.select(*cols), fp_paths[t], properties=stamp)
    return {
        "n_in": n_in,
        "dedup": dedup_stats,
        "n_curated": n_final,
        "curated_path": cur_out,
    }


def curate_images_batch(
    batch: DataFrame,
    table: str,
    batch_id: int,
    id_col: str = "image_id",
    caption_col: str | None = None,
    eval_df: DataFrame | None = None,
    max_hamming: int = 6,
    jaccard_threshold: float = 0.5,
    fp_root: str | None = None,
    out_dir: str | None = None,
    query_id: str = "curate-images",
) -> dict | None:
    """One exactly-once IMAGE-curation batch — the incremental form of the
    `curate-images` maintenance command. Re-clustering the whole table per
    run is a corpus×corpus self-join (wrong shape at 10¹² images); the
    daily-crawl form dedups only the BATCH against the accumulated phash
    fingerprint corpus (corpus scanned once, batch broadcast), optionally
    adds a caption MinHash tier (``caption_col``), drops eval-contaminated
    rows (``eval_df``: id + phash/bytes rows, broadcast), and appends the
    survivors' full rows to the images table — same commit protocol as
    :func:`curate_text_batch` (stamped commits, fingerprints LAST,
    verdict reads anchored at ``snapshot_before_batch``; returns None on
    a full replay).

    Tier fingerprints record everything that passed THAT tier, including
    rows a later stage kills — so a re-crawl of an eval-contaminated
    image dies at the cheap phash tier instead of re-running
    decontamination; the curated table itself never carries it."""
    from .operators.dedup import decontaminate_images, dedup_batch_verdict
    from .sources import iceberg_lite as IL

    idc = id_col
    fp_root = fp_root or (table.rstrip("/") + "_fp")
    tiers = [("phash", {"max_hamming": max_hamming})]
    if caption_col:
        tiers.append(
            ("minhash", {"jaccard_threshold": jaccard_threshold})
        )
    fp_paths = {t: os.path.join(fp_root, t) for t, _ in tiers}
    stamp = {"query_id": query_id, "batch_id": int(batch_id)}

    def committed(path):
        if not os.path.exists(os.path.join(path, "metadata")):
            return False
        last = IL.last_committed_batch(path, query_id)
        return last is not None and batch_id <= last

    if committed(table) and all(committed(p) for p in fp_paths.values()):
        return None

    caches = []
    try:
        cur = batch
        pending_sigs, dedup_stats, n_in = [], {}, batch.count()
        for t, params in tiers:
            surv, _cross, _internal, cols = dedup_batch_verdict(
                cur, fp_paths[t], idc, tier=t, text_col=caption_col,
                corpus_snapshot=IL.snapshot_before_batch(
                    fp_paths[t], query_id, batch_id
                ),
                caches=caches, **params,
            )
            before = cur.count()
            cur = cur.join(
                F.broadcast(surv.select(idc)), idc, "left_semi"
            ).cache()
            caches.append(cur)
            dedup_stats[t] = before - cur.count()
            pending_sigs.append((t, surv, cols))

        n_contam = 0
        if eval_df is not None:
            cur, contaminated = decontaminate_images(
                cur, eval_df, idc, max_hamming=max_hamming
            )
            cur = cur.cache()
            caches.append(cur)
            n_contam = contaminated.count()
        n_final = cur.count()

        cur_out = None
        if out_dir:
            cur_out = os.path.join(out_dir, f"curated_batch_{batch_id}")
            cur.write.mode("overwrite").parquet(cur_out)

        if not committed(table):
            if not os.path.exists(os.path.join(table, "metadata")):
                IL.create_table(table, cur.schema.simpleString()[7:-1])
            IL.append(cur, table, properties=stamp)
        for t, surv, cols in pending_sigs:
            if not committed(fp_paths[t]):
                IL.append(surv.select(*cols), fp_paths[t], properties=stamp)
        return {
            "n_in": n_in,
            "dedup": dedup_stats,
            "n_contaminated": n_contam,
            "n_curated": n_final,
            "curated_path": cur_out,
        }
    finally:
        for c in caches:
            c.unpersist()
