"""Dump the physical plans of the flagship operators to EXPLAIN.md.

The scale claims in README/SURVEY are plan properties (broadcast build
side, no probe shuffle, cogrouped kernels, pushdown). tests/test_plans.py
asserts them; this tool makes them reviewable:  python tools/show_plans.py

The output is stable: expression, plan and RDD ids are renumbered per
section in order of first appearance, and scratch paths and generated file names are
masked, so a regenerated EXPLAIN.md differs only where a plan changed.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from prclz_spark import cells as C  # noqa: E402
from prclz_spark import fixtures as FX  # noqa: E402
from prclz_spark.session import get_spark  # noqa: E402


_HEADER = """# Physical plans of the flagship operators

Generated by `python tools/show_plans.py` (4×4 fixture world; the
plan SHAPE is scale-independent — sizes only move AQE thresholds).
Expression ids (`#n`), `plan_id`s and RDD ids are numbered per section in
order of first appearance; `<tmp>`, `<uuid>` and `<id>` mask scratch paths and
generated file names. The round-8 before/after dumps of the spatial probe
paths live in `plans/r08/`.
"""

_MASKS = (
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"\b(add|delete|rewrite)-[0-9a-f]{12}\b"), r"\1-<id>"),
)
_IDS = tuple(re.compile(p) for p in (r"(#)(\d+)", r"(plan_id=)(\d+)", r"(RDD\[)(\d+)"))


def fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def stable(plan: str, tmp: str) -> str:
    """`plan` with scratch paths and generated names masked and ids
    renumbered in order of first appearance."""
    plan = plan.replace(tmp, "<tmp>")
    for pat, repl in _MASKS:
        plan = pat.sub(repl, plan)
    for pat in _IDS:
        seen: dict = {}
        plan = pat.sub(lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen) + 1)), plan)
    return plan


def main() -> None:
    spark = get_spark("local[8]", app="show-plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="show_plans_")
    lines, gadm, bldgs = FX.geo_world(spark, 4, 4)
    res = C.choose_resolution(*FX.grid_params(4, 4), n_features=64)

    from prclz_spark.operators.blocks import extract_blocks
    from prclz_spark.operators.complexity import building_centroids
    from prclz_spark.operators.dedup import minhash_lsh_pairs
    from prclz_spark.operators.fused import fused_blocks_k
    from prclz_spark.operators.knn import knn_join
    from prclz_spark.operators.parcels import tessellate
    from prclz_spark.operators.reblock_op import reblock
    from prclz_spark.operators.sjoin import pip_join

    sections = []

    pts = building_centroids(bldgs, res=res)
    sections.append(
        (
            "PIP join (flagship, J4)",
            "probe: scan → one fused Arrow phase → broadcast hash join → refine "
            "filter. NO probe-side shuffle — the only exchange is the broadcast.",
            fmt(pip_join(pts, gadm, "osm_id", "gadm", res=res, how="inner")),
        )
    )
    sections.append(
        (
            "Fused pipeline (blocks → PIP → k-index)",
            "the pipeline's region pass with stages blocks and complexity: two "
            "narrow probe branches union → ONE broadcast join, ∪ one row per "
            "region → ONE shuffle on gadm → one grouped kernel → ONE filter + "
            "select over the stage-tagged rows.",
            fmt(fused_blocks_k(lines, gadm, bldgs, res)),
        )
    )
    blocks = extract_blocks(lines, gadm, res)
    parcels = tessellate(blocks, bldgs, res).localCheckpoint()
    sections.append(
        (
            "Reblock (cogrouped, K19)",
            "parcels (blocks broadcast on) COGROUP building centroids on "
            "block_id — two linear shuffles, no P×B join.",
            fmt(reblock(blocks, parcels, bldgs, res)),
        )
    )
    probes = spark.createDataFrame(
        [(i, 10.0 + i * 1e-3, 10.0 + i * 7e-4) for i in range(100)], "pid long, x double, y double"
    )
    sections.append(
        (
            "kNN ring expansion (J8)",
            "one lazy plan: probe 3×3 disks ⋈ broadcast(build) → top-k window "
            "→ per-probe ring size → probe disk(r) ⋈ the SAME broadcast "
            "(reused) → top-k window. One shuffle on the probe id; no driver "
            "loop, no checkpoint.",
            fmt(knn_join(probes, probes.selectExpr("pid as bid", "x", "y"), "pid", "bid", k=3, res=14)),
        )
    )
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma " * 5) for i in range(50)], "doc_id long, text string"
    )
    sections.append(
        (
            "MinHash LSH near-dup (banded self-join)",
            "signatures → band explode → self equi-join on (band, hash) "
            "carrying ONLY (id, band, band_hash) — the 64-long signatures "
            "are re-joined onto surviving candidate pairs, never shipped "
            "through the banded exchange (VERDICT r3 #7). Candidates only, "
            "never O(n²).",
            fmt(minhash_lsh_pairs(docs, "doc_id", "text")),
        )
    )

    from prclz_spark.operators.dedup import winnow_near_pairs

    sections.append(
        (
            "Winnowing fingerprint near-dup (self-join on fp)",
            "fingerprints → df-cap filter (boilerplate skew defusal) → self "
            "equi-join on fp → pair count: only docs sharing a fingerprint "
            "are ever paired.",
            fmt(winnow_near_pairs(docs, "doc_id", "text")),
        )
    )

    from prclz_spark.sources import iceberg_lite as IL

    t = os.path.join(tmp, "iceberg")
    IL.create_table(t, "doc_id bigint, v bigint")
    IL.append(spark.range(100).selectExpr("id as doc_id", "id * 3 as v"), t,
              stats_cols=["v"])
    IL.append(spark.range(100, 200).selectExpr("id as doc_id", "id * 3 as v"), t,
              stats_cols=["v"])
    pruned = IL.read(spark, t, prune=("v", 0, 200)).filter(F.col("v") <= 200)
    sections.append(
        (
            "Iceberg-lite pruned scan",
            "manifest min/max stats dropped the second snapshot's files before "
            "Spark ever saw them; the row filter is pushed into the scan of "
            "the surviving files (PushedFilters).",
            fmt(pruned),
        )
    )

    from prclz_spark.operators.dedup import minhash_pairs_against, minhash_signatures

    sig_dir = os.path.join(tmp, "sigs.parquet")
    minhash_signatures(docs, "doc_id", "text").write.parquet(sig_dir)
    corpus_sigs = spark.read.parquet(sig_dir)
    batch = spark.createDataFrame(
        [(1000 + i, "delta epsilon " * 4) for i in range(5)], "doc_id long, text string"
    )
    sections.append(
        (
            "Incremental dedup against a persisted corpus (r4 #1)",
            "the corpus signature table is scanned ONCE; its band rows feed a "
            "map-side broadcast hash join against the (tiny) batch bands — no "
            "corpus-side shuffle, no corpus×corpus join; only surviving "
            "candidate pairs enter the dedupe/verify exchanges.",
            fmt(minhash_pairs_against(
                corpus_sigs, minhash_signatures(batch, "doc_id", "text"), "doc_id"
            )),
        )
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sections.append(
        (
            "Salted non-broadcast PIP join (r4 #6)",
            "build side too big to broadcast (emulated: auto-broadcast off): "
            "the histogram pre-pass salts hot cells, the join keys on "
            "(cell, _salt) so a megacity cell spreads over `salt` tasks; AQE "
            "skew split stacks on top.",
            fmt(pip_join(pts, gadm, "osm_id", "gadm", res=res, how="inner",
                         broadcast_build=False, salt=8, hot_threshold=100)),
        )
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    IL.delete_rows(spark.range(10, 20).selectExpr("id as doc_id"), t, "doc_id")
    sections.append(
        (
            "Iceberg-lite read with equality deletes (r4 #4)",
            "tombstones broadcast-anti-join the data scan (the data side is "
            "never shuffled); after rewrite_data_files the join disappears "
            "entirely (see next section).",
            fmt(IL.read(spark, t)),
        )
    )
    IL.rewrite_data_files(spark, t)
    sections.append(
        (
            "Same table after rewrite_data_files",
            "deletes materialized: back to a bare parquet scan, one manifest.",
            fmt(IL.read(spark, t)),
        )
    )

    from prclz_spark.operators.mix import mix_strata

    docs = spark.createDataFrame(
        [(i, "en" if i % 10 else "fr") for i in range(2000)], "doc_id long, lang string"
    )
    sections.append(
        (
            "mix_strata threshold selection (r6 — the r5 scale-killer fix)",
            "NO whole-stratum window: the plan is filter(scramble ≤ per-stratum "
            "threshold) — fully parallel — plus a rank window over ONLY the "
            "boundary scramble-bucket (~|stratum|/8192 rows). A dominant "
            "stratum no longer sorts in one task.",
            fmt(mix_strata(docs, "lang", {"en": 500, "fr": 100}, "doc_id")),
        )
    )

    from prclz_spark.operators.dedup import phash_pairs_against

    corpus_ph = spark.range(0, 10_000).selectExpr(
        "id AS doc_id", "xxhash64(cast(id AS string)) AS phash"
    )
    batch_ph = spark.range(0, 100).selectExpr(
        "id + 1000000 AS doc_id", "xxhash64(cast(id AS string)) AS phash"
    )
    sections.append(
        (
            "phash against-corpus image dedup (r6 tier)",
            "corpus scanned ONCE → generate (28 byte-pair bands) map-side → "
            "broadcast hash join against the batch bands — no corpus shuffle, "
            "Hamming verify inline. Same daily-crawl shape as the text tiers.",
            fmt(phash_pairs_against(corpus_ph, batch_ph, "doc_id")),
        )
    )

    from prclz_spark.operators.dedup import decontaminate_images

    eval_ph = spark.range(0, 50).selectExpr(
        "id + 5000000 AS img_id", "xxhash64(cast(id*7 AS string)) AS phash"
    )
    train_ph = spark.range(0, 20_000).selectExpr(
        "id AS img_id", "xxhash64(cast(id AS string)) AS phash"
    )
    _, contaminated = decontaminate_images(train_ph, eval_ph, "img_id")
    sections.append(
        (
            "image decontamination verdict (r6)",
            "train scanned ONCE, eval phash set broadcast through the "
            "against-corpus band join, no train-side band shuffle; the "
            "only exchanges are candidate-sized (dedup + per-train-id "
            "verdict agg). clean = train anti-join broadcast(verdict).",
            fmt(contaminated),
        )
    )

    ing = os.path.join(tmp, "ingest_tbl")
    from prclz_spark.streaming.ingest import iceberg_batch_sink
    sink = iceberg_batch_sink(ing, "q", stats_cols=["doc_id"])
    for b in range(3):
        sink(spark.range(b * 100, b * 100 + 100).selectExpr("id AS doc_id"), b)
    IL.compact_manifests(ing)
    IL.expire_snapshots(ing, retain_last=1, orphan_grace_seconds=0)
    sections.append(
        (
            "iceberg-lite read after ingest → compact → expire (r6)",
            "three exactly-once streamed micro-batch commits, compacted and "
            "expired: the read is ONE bare multi-file parquet scan — no "
            "manifest chain walk, no anti-joins, commit metadata "
            "(batch-id watermarks) carried outside the data path.",
            fmt(IL.read(spark, ing)),
        )
    )

    from prclz_spark.operators.textq import strip_boilerplate_lines

    bp_docs = spark.createDataFrame(
        [(i, ("BANNER\n" if i % 2 else "") + f"body {i}\nfooter {i % 3}")
         for i in range(400)],
        "doc_id long, text string",
    )
    sections.append(
        (
            "Boilerplate line removal (r6 session 2)",
            "heavy-hitter line set (bounded by total_lines/min_df) broadcasts "
            "into a LEFT ANTI join on the exploded lines — the viral keys "
            "(a banner in 10⁹ docs) never shuffle; the only exchange is the "
            "uniform per-document reassembly on the doc id.",
            fmt(strip_boilerplate_lines(bp_docs, "doc_id", "text", min_df=50)),
        )
    )

    from prclz_spark.operators.ann import ivf_pq_topk

    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 11) - 5.0 for j in range(16)]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    qv = vecs.filter(F.col("vec_id") < 8).withColumnRenamed("vec_id", "qid")
    sections.append(
        (
            "IVF-PQ top-k with exact re-rank (r6 session 2)",
            "corpus side of the probe join carries (id, list_id, m-byte "
            "pq_code) — never the raw vectors (32× payload difference); ADC "
            "scores the candidates, and only the refine_k shortlist re-joins "
            "the vector column (output-sized exchange) for exact cosine.",
            fmt(ivf_pq_topk(qv, vecs, "qid", "vec_id", "embedding", dim=16,
                            k=3, n_lists=4, n_probe=2, m=4)),
        )
    )

    from prclz_spark.operators.dedup import multimodal_near_pairs

    mm = spark.createDataFrame(
        [(i, f"caption text {i} " * 4, (i * 2654435761) % (1 << 62), 64, 64)
         for i in range(200)],
        "image_id long, caption string, phash long, w int, h int",
    )
    sections.append(
        (
            "Cross-modal image+caption near-dup pairs (r7)",
            "both legs are the banded self-joins (phash byte-pair bands, "
            "MinHash LSH bands) with the shared viral-bucket chain guard — "
            "only ids + 8-byte band keys ride the exchanges, payloads "
            "(captions / signatures) re-join onto surviving candidates; the "
            "modality merge is one exchange keyed on the VERIFIED pair set "
            "(output-sized), never the candidate set.",
            fmt(multimodal_near_pairs(mm, "image_id")),
        )
    )

    out = [_HEADER]
    for title, claim, plan in sections:
        out.append(f"\n## {title}\n\n{claim}\n\n```\n{stable(plan, tmp).strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote EXPLAIN.md")
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
