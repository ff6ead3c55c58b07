"""CLI — the reference's `prclz <cmd>` surface (`prclz/cli.py:20-123`) on
spark-submit.

    spark-submit --py-files prclz_spark.zip -m prclz_spark.cli blocks \
        --lines lines.geojson --gadm gadm.csv --out out/blocks

Every subcommand reads the reference's file formats (GeoJSON / CSV+WKT /
Parquet auto-detected by extension), runs the corresponding engine stage,
and writes Parquet (plus optional CSV/GeoJSON via --format). `pipeline`
runs all stages with ledger resume (the --overwrite flag of the reference
becomes: delete the ledger/output dir to recompute).
"""

from __future__ import annotations

import argparse
import os
import sys


def _read_geo(spark, path: str, properties=("osm_id",)):
    from .sources.geo_io import read_csv_wkt, read_geojson

    if path.endswith((".geojson", ".json")):
        return read_geojson(spark, path, list(properties))
    if path.endswith(".csv") or "/csv" in path:
        return read_csv_wkt(spark, path)
    return spark.read.parquet(path)


def _write(df, path: str, fmt: str):
    from .sources.geo_io import write_csv_wkt, write_geojson

    if fmt == "parquet":
        df.write.mode("overwrite").parquet(path)
    elif fmt == "csv":
        write_csv_wkt(df, path)
    elif fmt == "geojson":
        write_geojson(df, path)
    else:
        raise SystemExit(f"unknown format {fmt}")


def main(argv=None):
    p = argparse.ArgumentParser(prog="prclz-spark")
    p.add_argument("--master", default=None)
    p.add_argument("--res", type=int, default=None, help="cell resolution (default: data-driven)")
    p.add_argument("--format", default="parquet", choices=["parquet", "csv", "geojson"])
    sub = p.add_subparsers(dest="cmd", required=True)

    sp_blocks = sub.add_parser("blocks", help="street-block extraction (stage 1)")
    sp_blocks.add_argument("--lines", required=True)
    sp_blocks.add_argument("--gadm", required=True)
    sp_blocks.add_argument("--out", required=True)

    sp_parcels = sub.add_parser("parcels", help="parcel tessellation (stage 2)")
    sp_parcels.add_argument("--blocks", required=True)
    sp_parcels.add_argument("--buildings", required=True)
    sp_parcels.add_argument("--out", required=True)

    sp_cplx = sub.add_parser("complexity", help="k-index (stage 3)")
    sp_cplx.add_argument("--blocks", required=True)
    sp_cplx.add_argument("--buildings", required=True)
    sp_cplx.add_argument("--out", required=True)
    sp_cplx.add_argument("--unique-assign", action="store_true",
                         help="assign each building to its SMALLEST enclosing "
                              "block (for overlapping blocks layers; planar "
                              "partitions don't need it)")

    sp_rb = sub.add_parser("reblock", help="Steiner street reblocking (stage 4)")
    sp_rb.add_argument("--blocks", required=True)
    sp_rb.add_argument("--parcels", required=True)
    sp_rb.add_argument("--buildings", required=True)
    sp_rb.add_argument("--out", required=True)
    # the reference CLI's reblocking flavors (prclz/cli.py:104-110)
    sp_rb.add_argument("-w", "--use-width", action="store_true",
                       help="width-aware edge cost (K14)")
    sp_rb.add_argument("--drop-connected", action="store_true",
                       help="drop buildings whose parcel touches the block boundary")
    sp_rb.add_argument("--outside-node", action="store_true",
                       help="add a dummy terminal outside the block")
    sp_rb.add_argument("--thru", type=int, default=0, metavar="N",
                       help="add top-N through-streets (K17)")
    sp_rb.add_argument("--simplify", action="store_true",
                       help="corridor-constrained street simplification (K18)")

    sp_all = sub.add_parser("pipeline", help="all stages, ledger-resumable")
    sp_all.add_argument("--lines", required=True)
    sp_all.add_argument("--gadm", required=True)
    sp_all.add_argument("--buildings", required=True)
    sp_all.add_argument("--out", required=True)
    sp_all.add_argument("--no-reblock", action="store_true")

    sp_ing = sub.add_parser(
        "ingest-images",
        help="append an image+caption batch to an iceberg-lite table "
             "(creates the table on first use; snapshots/time-travel via "
             "sources/iceberg_lite)",
    )
    sp_ing.add_argument("--table", required=True, help="table root path")
    sp_ing.add_argument("--images", default=None,
                        help="parquet of (image_id,bytes,w,h,fmt,caption,phash); "
                             "omit to generate --n synthetic tiles")
    sp_ing.add_argument("--n", type=int, default=256,
                        help="synthetic tile count when --images is omitted")

    sp_ist = sub.add_parser(
        "ingest-stream",
        help="exactly-once streaming ingest of a parquet arrival directory "
             "into an iceberg-lite table (foreachBatch commits stamped with "
             "the micro-batch id; re-run with the same --checkpoint and "
             "--query-id to resume, crash-replayed batches are skipped)",
    )
    sp_ist.add_argument("--src", required=True,
                        help="parquet arrival directory (glob ok)")
    sp_ist.add_argument("--schema", required=True,
                        help="DDL of the arrival rows, e.g. 'doc_id long, text string'")
    sp_ist.add_argument("--table", required=True, help="table root path")
    sp_ist.add_argument("--checkpoint", required=True,
                        help="streaming checkpoint dir (pair 1:1 with --query-id)")
    sp_ist.add_argument("--query-id", default="ingest",
                        help="idempotence key recorded on each commit")
    sp_ist.add_argument("--stats-col", action="append", default=None,
                        help="repeatable: record per-file min/max for pruning")
    sp_ist.add_argument("--max-files-per-trigger", type=int, default=None)
    sp_ist.add_argument("--continuous", action="store_true",
                        help="keep running (default: drain available files, exit)")

    sp_cmp = sub.add_parser(
        "compact-table",
        help="merge an iceberg-lite table's manifest chain (read becomes "
             "O(files), not O(appends); time travel preserved)",
    )
    sp_cmp.add_argument("--table", required=True, help="table root path")

    sp_exp = sub.add_parser(
        "expire-table",
        help="expire old iceberg-lite snapshots and vacuum unreferenced "
             "data files (run after compact-table; retained reads and "
             "delete tombstones are preserved)",
    )
    sp_exp.add_argument("--table", required=True, help="table root path")
    sp_exp.add_argument("--retain-last", type=int, default=3,
                        help="snapshots to keep (plus their chains)")
    sp_exp.add_argument("--orphan-grace-seconds", type=float, default=3600.0,
                        help="min age before an unreferenced file is vacuumed")
    sp_exp.add_argument("--no-vacuum", action="store_true",
                        help="expire manifests only, keep all data files")

    sp_dd = sub.add_parser(
        "dedup-batch",
        help="incremental dedup of a document batch against a persisted "
             "fingerprint corpus (iceberg-lite): corpus scanned once, "
             "batch broadcast; survivors' fingerprints appended as a new "
             "snapshot (creates the table on first use)",
    )
    sp_dd.add_argument("--table", required=True, help="fingerprint table root path")
    sp_dd.add_argument("--batch", required=True, help="parquet of documents")
    sp_dd.add_argument("--tier", default="minhash",
                       choices=["exact", "minhash", "simhash", "winnow",
                                "embedding", "phash"])
    sp_dd.add_argument("--id-col", default="doc_id")
    sp_dd.add_argument("--text-col", default="text")
    sp_dd.add_argument("--vec-col", default="embedding",
                       help="embedding tier: vector column")
    sp_dd.add_argument("--dim", type=int, default=None,
                       help="embedding tier: vector length")
    sp_dd.add_argument("--threshold", type=float, default=None,
                       help="tier threshold: est-Jaccard (minhash), max "
                            "Hamming (simhash, phash), min shared fps "
                            "(winnow), cosine (embedding)")
    sp_dd.add_argument("--out", default=None,
                       help="optional parquet dir for the dup-pair verdicts")

    sp_dc = sub.add_parser(
        "decontam",
        help="benchmark decontamination: drop train rows overlapping an "
             "eval set (text tier: shared winnowed fingerprints; image "
             "tier: phash within a Hamming radius)",
    )
    sp_dc.add_argument("--train", required=True, help="parquet of train rows")
    sp_dc.add_argument("--eval", dest="eval_path", required=True,
                       help="parquet of eval rows")
    sp_dc.add_argument("--tier", default="text", choices=["text", "image"])
    sp_dc.add_argument("--id-col", default="doc_id")
    sp_dc.add_argument("--text-col", default="text")
    sp_dc.add_argument("--min-shared", type=int, default=2,
                       help="text tier: min shared fingerprints")
    sp_dc.add_argument("--max-hamming", type=int, default=6,
                       help="image tier: max phash Hamming distance")
    sp_dc.add_argument("--out", required=True,
                       help="parquet dir for the clean train set")
    sp_dc.add_argument("--audit", default=None,
                       help="optional parquet dir for contaminated ids")

    sp_mix = sub.add_parser(
        "mix",
        help="exact deterministic per-stratum sample (training-data mixing); "
             "quotas as stratum=count pairs",
    )
    sp_mix.add_argument("--docs", required=True, help="parquet of documents")
    sp_mix.add_argument("--strata-col", default="lang")
    sp_mix.add_argument("--id-col", default="doc_id")
    sp_mix.add_argument("--quota", action="append", required=True,
                        metavar="STRATUM=N", help="repeatable, e.g. --quota en=1000")
    sp_mix.add_argument("--seed", type=int, default=1)
    sp_mix.add_argument("--out", required=True)

    sp_ai = sub.add_parser(
        "ann-index",
        help="IVF-PQ similarity index: 'build' trains quantizers and "
             "encodes the corpus once; 'query' answers top-k batches "
             "against the persisted index (no retraining, no re-encoding)",
    )
    sp_ai.add_argument("mode", choices=["build", "encode-batch", "query"])
    sp_ai.add_argument("--corpus", required=True,
                       help="parquet of (id, vector) rows — also needed at "
                            "query time for the exact re-rank (pass the "
                            "accumulated corpus glob once encode-batch "
                            "loops have grown it past the build snapshot)")
    sp_ai.add_argument("--batch",
                       help="encode-batch: parquet of NEW (id, vector) "
                            "rows to encode with the frozen quantizers "
                            "and append to the index's codes table")
    sp_ai.add_argument("--batch-id", type=int,
                       help="encode-batch: monotone batch number — the "
                            "exactly-once watermark; re-running a "
                            "committed id is a no-op")
    sp_ai.add_argument("--index", required=True, help="index directory")
    sp_ai.add_argument("--id-col", default="vec_id")
    sp_ai.add_argument("--vec-col", default="embedding")
    sp_ai.add_argument("--dim", type=int, required=True)
    sp_ai.add_argument(
        "--n-lists", type=int, default=None,
        help="IVF coarse lists (default: auto ≈ sqrt(N) from a corpus count)",
    )
    sp_ai.add_argument("--m", type=int, default=8)
    sp_ai.add_argument("--queries", help="parquet of query (id, vector) rows")
    sp_ai.add_argument("--query-id-col", default="qid")
    sp_ai.add_argument("--k", type=int, default=10)
    sp_ai.add_argument("--n-probe", type=int, default=8)
    sp_ai.add_argument("--refine-k", type=int, default=100)
    sp_ai.add_argument("--out", help="result parquet (query mode)")

    sp_ci = sub.add_parser(
        "curate-images",
        help="image-corpus curation over an iceberg-lite table: phash "
             "near-dup clustering -> keep the best-scored copy -> delete "
             "losers -> optional eval decontamination -> aspect batches",
    )
    sp_ci.add_argument("--table", required=True, help="iceberg-lite image table")
    sp_ci.add_argument("--id-col", default="image_id")
    sp_ci.add_argument("--max-hamming", type=int, default=6)
    sp_ci.add_argument("--caption-dedup", action="store_true",
                       help="also treat caption MinHash near-dups as "
                            "duplicate edges (cross-modal clustering: a "
                            "re-hosted photo with a rewritten caption and "
                            "a re-captioned identical photo land in one "
                            "cluster)")
    sp_ci.add_argument("--caption-col", default="caption")
    sp_ci.add_argument("--jaccard-threshold", type=float, default=0.5)
    sp_ci.add_argument("--eval", default=None,
                       help="parquet of eval images (id + phash/bytes) — "
                            "train rows within --max-hamming of any eval "
                            "image are deleted too")
    sp_ci.add_argument("--batch-size", type=int, default=None,
                       help="also write aspect batches of this size")
    sp_ci.add_argument("--max-pixels", type=int, default=1024 * 1024)
    sp_ci.add_argument("--batches-out", default=None)

    sp_cib = sub.add_parser(
        "curate-images-batch",
        help="incremental image curation, exactly-once per --batch-id: "
             "phash (+ optional caption) dedup of the BATCH against the "
             "accumulated fingerprint corpora, eval decontamination, "
             "survivors appended to the images table — the daily-crawl "
             "form of curate-images (which re-clusters the whole table)",
    )
    sp_cib.add_argument("--table", required=True,
                        help="iceberg-lite images table (created on first "
                             "batch)")
    sp_cib.add_argument("--batch", required=True,
                        help="parquet of new image rows")
    sp_cib.add_argument("--batch-id", type=int, required=True)
    sp_cib.add_argument("--id-col", default="image_id")
    sp_cib.add_argument("--caption-dedup", action="store_true")
    sp_cib.add_argument("--caption-col", default="caption")
    sp_cib.add_argument("--jaccard-threshold", type=float, default=0.5)
    sp_cib.add_argument("--max-hamming", type=int, default=6)
    sp_cib.add_argument("--eval", default=None,
                        help="parquet of eval images (id + phash/bytes)")
    sp_cib.add_argument("--out", default=None,
                        help="optional output dir for curated_batch_<id> "
                             "parquet")

    sp_ct = sub.add_parser(
        "curate-text",
        help="one-command daily text-curation batch over iceberg-lite: "
             "tiered dedup -> boilerplate strip -> quality filter -> mix "
             "-> pack, exactly-once per --batch-id (crash-replay safe)",
    )
    sp_ct.add_argument("--table", required=True,
                       help="iceberg-lite curated-docs table (created on "
                            "first batch)")
    sp_ct.add_argument("--batch", required=True, help="parquet of new docs")
    sp_ct.add_argument("--batch-id", type=int, required=True,
                       help="monotone batch number — the exactly-once "
                            "watermark; re-running a committed id is a no-op")
    sp_ct.add_argument("--id-col", default="doc_id")
    sp_ct.add_argument("--text-col", default="text")
    sp_ct.add_argument("--tiers", default="exact,minhash",
                       help="comma list of dedup tiers, applied in order "
                            "(exact/minhash/simhash/winnow)")
    sp_ct.add_argument("--fp-root", default=None,
                       help="fingerprint tables root (default <table>_fp)")
    sp_ct.add_argument("--lines-table", default=None,
                       help="iceberg-lite boilerplate line-df table "
                            "(default <table>_lines)")
    sp_ct.add_argument("--min-df", type=int, default=10)
    sp_ct.add_argument("--no-quality", action="store_true",
                       help="skip the Gopher quality filter")
    sp_ct.add_argument("--min-words", type=int, default=None,
                       help="override the Gopher min_words rule")
    sp_ct.add_argument("--mix", default=None,
                       help="per-stratum DOCUMENT quotas 'en=100,fr=50' "
                            "applied to --mix-col (omit to keep every "
                            "survivor)")
    sp_ct.add_argument("--mix-tokens", default=None,
                       help="per-stratum TOKEN budgets 'en=1000000,fr=...' "
                            "(whitespace token count; minimal quota-reaching "
                            "prefix per stratum; mutually exclusive with "
                            "--mix)")
    sp_ct.add_argument("--mix-col", default="lang")
    sp_ct.add_argument("--pack-budget", type=int, default=None,
                       help="also pack the curated batch into token-budget "
                            "contexts (whitespace token count)")
    sp_ct.add_argument("--out", required=True,
                       help="output dir: curated/ and contexts/ per batch")
    sp_ct.add_argument("--seed", type=int, default=1)

    sp_ab = sub.add_parser(
        "aspect-batches",
        help="aspect-ratio bucketing + deterministic fixed-size training "
             "batches over an image table",
    )
    sp_ab.add_argument("--images", required=True,
                       help="parquet with (image_id, w, h, ...) columns")
    sp_ab.add_argument("--id-col", default="image_id")
    sp_ab.add_argument("--batch-size", type=int, required=True)
    sp_ab.add_argument("--max-pixels", type=int, default=1024 * 1024)
    sp_ab.add_argument("--min-dim", type=int, default=256)
    sp_ab.add_argument("--max-dim", type=int, default=2048)
    sp_ab.add_argument("--buckets", default=None,
                       help="explicit ladder 'WxH,WxH,...' (overrides the "
                            "generated NovelAI ladder)")
    sp_ab.add_argument("--seed", type=int, default=1)
    sp_ab.add_argument("--out", required=True)

    sp_tq = sub.add_parser(
        "textq",
        help="per-doc repetition metrics (Gopher filters) and/or corpus-level "
             "boilerplate line removal",
    )
    sp_tq.add_argument("--docs", required=True, help="parquet of documents")
    sp_tq.add_argument("--id-col", default="doc_id")
    sp_tq.add_argument("--text-col", default="text")
    sp_tq.add_argument("--metrics-out", help="write repetition metrics parquet here")
    sp_tq.add_argument("--strip-out", help="write boilerplate-stripped docs here")
    sp_tq.add_argument("--min-df", type=int, default=10,
                       help="line document-frequency threshold for stripping")
    sp_tq.add_argument("--boilerplate", default=None,
                       help="precomputed heavy-hitter line table (parquet) — "
                            "the against-corpus form; skips the counting pass")
    sp_tq.add_argument("--boilerplate-out", default=None,
                       help="persist the heavy-hitter line table here for "
                            "later --boilerplate runs")
    sp_tq.add_argument("--verdicts-out", default=None,
                       help="write Gopher quality_filter keep/drop verdicts "
                            "(id, n_words, reasons, keep) here")
    sp_tq.add_argument("--corpus-table", default=None,
                       help="iceberg-lite line-count table: append this "
                            "batch's per-line df counts as a snapshot and "
                            "strip against the SUMMED history (the daily "
                            "incremental loop; overrides --boilerplate)")

    sp_pack = sub.add_parser(
        "pack",
        help="pack documents into fixed token-budget contexts "
             "(FFD within deterministic scramble buckets)",
    )
    sp_pack.add_argument("--docs", required=True, help="parquet of (id, token-count) rows")
    sp_pack.add_argument("--id-col", default="doc_id")
    sp_pack.add_argument("--tokens-col", default="n_tokens")
    sp_pack.add_argument("--budget", type=int, required=True)
    sp_pack.add_argument("--buckets", type=int, default=None,
                         help="packing buckets (default: auto ~4096 docs each)")
    sp_pack.add_argument("--seed", type=int, default=1)
    sp_pack.add_argument("--out", required=True)

    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from . import cells as C
    from .functions.st import st_bounds
    from .session import get_spark

    owned = SparkSession.getActiveSession() is None
    spark = get_spark(args.master)
    try:
        import pyspark.sql.functions as F

        def auto_res(df):
            if args.res is not None:
                return args.res
            b = df.select(st_bounds(F.col("geometry")).alias("b")).agg(
                F.min("b.xmin"), F.min("b.ymin"), F.max("b.xmax"), F.max("b.ymax"), F.count("*")
            ).first()
            return C.choose_resolution(b[0], b[1], b[2], b[3], max(int(b[4]) * 4, 16))

        if args.cmd == "blocks":
            from .operators.blocks import extract_blocks

            lines = _read_geo(spark, args.lines)
            gadm = _read_geo(spark, args.gadm, ("gadm",))
            out = extract_blocks(lines, gadm, auto_res(gadm))
        elif args.cmd == "parcels":
            from .operators.parcels import tessellate

            blocks = _read_geo(spark, args.blocks)
            bldgs = _read_geo(spark, args.buildings)
            out = tessellate(blocks, bldgs, auto_res(blocks))
        elif args.cmd == "complexity":
            from .operators.complexity import k_complexity

            blocks = _read_geo(spark, args.blocks)
            bldgs = _read_geo(spark, args.buildings)
            out = k_complexity(
                blocks, bldgs, auto_res(blocks), unique_assign=args.unique_assign
            )
        elif args.cmd == "reblock":
            from .operators.reblock_op import reblock

            blocks = _read_geo(spark, args.blocks)
            parcels = _read_geo(spark, args.parcels)
            bldgs = _read_geo(spark, args.buildings)
            out = reblock(
                blocks, parcels, bldgs, auto_res(blocks),
                use_width=args.use_width, drop_connected=args.drop_connected,
                outside_node=args.outside_node, thru_streets_top_n=args.thru,
                simplify_roads=args.simplify,
            )
        elif args.cmd == "ingest-images":
            import os as _os

            from . import schemas as S
            from .sources import iceberg_lite as IL

            if not _os.path.exists(_os.path.join(args.table, "metadata")):
                ddl = S.IMAGES.simpleString().replace("struct<", "").rstrip(">")
                IL.create_table(args.table, ddl)
            if args.images:
                batch = spark.read.parquet(args.images)
            else:
                from . import images as IM

                batch = IM.images_table(spark, args.n)
            snap = IL.append(batch, args.table, stats_cols=["image_id"])
            n = IL.read(spark, args.table).count()
            print(f"committed snapshot {snap}: table now {n} rows", file=sys.stderr)
            return
        elif args.cmd == "ingest-stream":
            from .sources import iceberg_lite as IL
            from .streaming.ingest import write_stream_to_iceberg

            r = spark.readStream.schema(args.schema)
            if args.max_files_per_trigger:
                r = r.option("maxFilesPerTrigger", args.max_files_per_trigger)
            q = write_stream_to_iceberg(
                r.parquet(args.src), args.table, args.query_id,
                args.checkpoint, stats_cols=args.stats_col,
                available_now=not args.continuous,
            )
            q.awaitTermination()
            if not args.continuous:
                q.stop()
                wm = IL.last_committed_batch(args.table, args.query_id)
                n = IL.read(spark, args.table).count()
                print(
                    f"ingested through batch {wm}: table now {n} rows",
                    file=sys.stderr,
                )
            return
        elif args.cmd == "compact-table":
            from .sources import iceberg_lite as IL

            snap = IL.compact_manifests(args.table)
            n_manifests = len(IL._manifests(args.table, snap))
            print(
                f"compacted at snapshot {snap}: reads now touch "
                f"{n_manifests} manifest(s)",
                file=sys.stderr,
            )
            return
        elif args.cmd == "expire-table":
            from .sources import iceberg_lite as IL

            r = IL.expire_snapshots(
                args.table, retain_last=args.retain_last,
                vacuum=not args.no_vacuum,
                orphan_grace_seconds=args.orphan_grace_seconds,
            )
            print(
                f"expired {len(r['expired'])} snapshot(s) "
                f"{r['expired']}; vacuumed {r['data_files_removed']} "
                f"data file(s), {r['dirs_removed']} dir(s)",
                file=sys.stderr,
            )
            return
        elif args.cmd == "dedup-batch":
            from .operators.dedup import incremental_dedup
            from .sources import iceberg_lite as IL

            thr_param = {
                "minhash": "jaccard_threshold", "simhash": "max_hamming",
                "winnow": "min_shared", "embedding": "cos_threshold",
                "phash": "max_hamming",
            }.get(args.tier)
            params = {}
            if args.threshold is not None and thr_param:
                v = args.threshold
                params[thr_param] = int(v) if thr_param in (
                    "max_hamming", "min_shared") else v
            batch = spark.read.parquet(args.batch)
            surv, cross, internal, snap = incremental_dedup(
                batch, args.table, args.id_col, tier=args.tier,
                text_col=args.text_col, vec_col=args.vec_col, dim=args.dim,
                **params,
            )
            # survivors can be multi-row per doc (winnow fps): count docs
            n_surv = surv.select(args.id_col).distinct().count()
            n_cross, n_int = cross.count(), internal.count()
            if args.out:
                cross.select("batch_id", "corpus_id").withColumn(
                    "kind", F.lit("corpus")
                ).unionByName(
                    internal.selectExpr(
                        "id_b as batch_id", "id_a as corpus_id"
                    ).withColumn("kind", F.lit("batch"))
                ).write.mode("overwrite").parquet(args.out)
            print(
                f"[{args.tier}] snapshot {snap}: {n_surv} survivor docs "
                f"appended; {n_cross} corpus-dup pairs, {n_int} "
                f"batch-internal pairs; table now "
                f"{IL.read(spark, args.table).count()} fingerprint rows",
                file=sys.stderr,
            )
            return
        elif args.cmd == "decontam":
            from .operators.dedup import decontaminate, decontaminate_images

            train = spark.read.parquet(args.train)
            eval_df = spark.read.parquet(args.eval_path)
            if args.tier == "text":
                clean, contaminated = decontaminate(
                    train, eval_df, args.id_col, args.text_col,
                    min_shared=args.min_shared,
                )
            else:
                clean, contaminated = decontaminate_images(
                    train, eval_df, args.id_col, max_hamming=args.max_hamming,
                )
            if args.audit:
                contaminated.write.mode("overwrite").parquet(args.audit)
            clean.write.mode("overwrite").parquet(args.out)
            n_c = spark.read.parquet(args.out).count()
            print(f"clean train: {n_c} rows -> {args.out}", file=sys.stderr)
            return
        elif args.cmd == "mix":
            from .operators.mix import mix_strata

            quotas = {}
            for q in args.quota:
                k, _, v = q.partition("=")
                quotas[k] = int(v)
            out_df = mix_strata(
                spark.read.parquet(args.docs), args.strata_col, quotas,
                args.id_col, seed=args.seed,
            )
            out_df.write.mode("overwrite").parquet(args.out)
            got = {
                r[args.strata_col]: r["n"]
                for r in out_df.groupBy(args.strata_col).agg(
                    F.count("*").alias("n")
                ).collect()
            }
            print(f"mixed {sum(got.values())} docs: {got} → {args.out}", file=sys.stderr)
            return
        elif args.cmd == "ann-index":
            import numpy as np

            from .operators.ann import (
                ivf_pq_encode_corpus,
                ivf_pq_topk,
                train_centroids,
                train_pq,
            )

            corpus = spark.read.parquet(args.corpus)
            if args.mode == "build":
                os.makedirs(args.index, exist_ok=True)
                cents = train_centroids(
                    corpus, args.vec_col, args.dim, n_lists=args.n_lists
                )
                books = train_pq(corpus, args.vec_col, args.dim, m=args.m)
                np.save(os.path.join(args.index, "cents.npy"), cents)
                np.save(os.path.join(args.index, "books.npy"), books)
                codes = ivf_pq_encode_corpus(
                    corpus, args.id_col, args.vec_col, cents, books
                )
                codes.write.mode("overwrite").parquet(
                    os.path.join(args.index, "codes.parquet")
                )
                n = spark.read.parquet(
                    os.path.join(args.index, "codes.parquet")
                ).count()
                print(f"indexed {n} vectors ({len(cents)} lists, "
                      f"{args.m}-byte codes) → {args.index}", file=sys.stderr)
                return
            codes_tbl = os.path.join(args.index, "codes_tbl")
            if args.mode == "encode-batch":
                # The daily crawl loop for the similarity index: encode
                # new vectors with the FROZEN build-time quantizers (codes
                # from any batch collide correctly) and append them
                # exactly-once to an iceberg-lite codes table, seeded from
                # the build's static snapshot on first use. Same watermark
                # machinery as the ingest sink: a replayed --batch-id is
                # a no-op, so a crashed orchestrator just re-runs.
                from .sources import iceberg_lite as IL

                if not (args.batch and args.batch_id is not None):
                    p.error("ann-index encode-batch: need --batch and "
                            "--batch-id")
                cents = np.load(os.path.join(args.index, "cents.npy"))
                books = np.load(os.path.join(args.index, "books.npy"))
                if not os.path.exists(os.path.join(codes_tbl, "metadata")):
                    codes0 = spark.read.parquet(
                        os.path.join(args.index, "codes.parquet")
                    )
                    IL.create_table(
                        codes_tbl, codes0.schema.simpleString()[7:-1]
                    )
                    IL.append(codes0, codes_tbl)
                QID = "ann-index"
                last = IL.last_committed_batch(codes_tbl, QID)
                if last is not None and args.batch_id <= last:
                    print(f"batch {args.batch_id} already encoded — "
                          f"replay no-op", file=sys.stderr)
                    return
                batch_df = spark.read.parquet(args.batch)
                # drop re-crawled ids (already-encoded vectors would
                # appear twice in query candidates): batch ids broadcast,
                # codes table scanned once, zero corpus-side shuffle —
                # the same *_against shape as the dedup tiers
                seen = IL.read(spark, codes_tbl).select(args.id_col).join(
                    F.broadcast(batch_df.select(args.id_col)),
                    args.id_col, "left_semi",
                )
                batch_df = batch_df.join(
                    F.broadcast(seen), args.id_col, "left_anti"
                )
                new_codes = ivf_pq_encode_corpus(
                    batch_df, args.id_col, args.vec_col, cents, books,
                )
                snap = IL.append(
                    new_codes, codes_tbl,
                    properties={"query_id": QID,
                                "batch_id": int(args.batch_id)},
                )
                # counts from the committed manifests, not a table scan;
                # the codes table takes appends only, so no delete applies
                files = IL.files_at(codes_tbl, snap)
                n_new = sum(e["rows"] for e in files if e["added_at"] == snap)
                n = sum(e["rows"] for e in files)
                if len(IL._manifests(codes_tbl, snap)) > 16:
                    IL.compact_manifests(codes_tbl)
                print(f"batch {args.batch_id} encoded → {codes_tbl} "
                      f"({n_new} new, {n} total codes)", file=sys.stderr)
                return
            if not (args.queries and args.out):
                p.error("ann-index query: need --queries and --out")
            cents = np.load(os.path.join(args.index, "cents.npy"))
            books = np.load(os.path.join(args.index, "books.npy"))
            if os.path.exists(os.path.join(codes_tbl, "metadata")):
                from .sources import iceberg_lite as IL

                codes = IL.read(spark, codes_tbl)
            else:
                codes = spark.read.parquet(
                    os.path.join(args.index, "codes.parquet")
                )
            res = ivf_pq_topk(
                spark.read.parquet(args.queries), corpus,
                args.query_id_col, args.id_col, args.vec_col, args.dim,
                k=args.k, n_probe=args.n_probe, refine_k=args.refine_k,
                cents=cents, books=books, corpus_codes=codes,
            )
            res.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(f"{n} result rows → {args.out}", file=sys.stderr)
            return
        elif args.cmd == "curate-images":
            from .operators.components import dedup_cluster_verdict_by
            from .operators.dedup import (
                _sign_phash_frame,
                decontaminate_images,
                multimodal_near_pairs,
                phash_near_pairs_from_sigs,
            )
            from .sources import iceberg_lite as IL

            tbl = IL.read(spark, args.table)
            sigs = _sign_phash_frame(tbl, args.id_col)
            if args.caption_dedup:
                pairs = multimodal_near_pairs(
                    tbl.select(args.id_col, args.caption_col).join(
                        sigs, args.id_col
                    ),
                    args.id_col, caption_col=args.caption_col,
                    max_hamming=args.max_hamming,
                    jaccard_threshold=args.jaccard_threshold,
                )
            else:
                pairs = phash_near_pairs_from_sigs(
                    sigs, args.id_col, max_hamming=args.max_hamming
                )
            scores = tbl.select(
                args.id_col, (F.col("w") * F.col("h")).alias("_pixels")
            )
            verdict = dedup_cluster_verdict_by(
                pairs, scores, args.id_col, "_pixels"
            )
            losers = verdict.filter(~F.col("keep")).select(
                F.col("id").alias(args.id_col)
            )
            n_dup = losers.count()
            if n_dup:
                IL.delete_rows(losers, args.table, args.id_col)
            n_contam = 0
            if args.eval:
                eval_df = spark.read.parquet(args.eval)
                _, contaminated = decontaminate_images(
                    IL.read(spark, args.table), eval_df, args.id_col,
                    max_hamming=args.max_hamming,
                )
                bad = contaminated.select(args.id_col)
                n_contam = bad.count()
                if n_contam:
                    IL.delete_rows(bad, args.table, args.id_col)
            IL.rewrite_data_files(spark, args.table)
            survivors = IL.read(spark, args.table)
            n_live = survivors.count()
            print(f"curated {args.table}: {n_dup} near-dup losers + "
                  f"{n_contam} eval-contaminated deleted, {n_live} survive",
                  file=sys.stderr)
            if args.batch_size:
                from .operators.aspect import form_batches, make_aspect_buckets

                out = args.batches_out or (args.table + "_batches")
                ladder = make_aspect_buckets(args.max_pixels)
                form_batches(
                    survivors, ladder, args.batch_size, id_col=args.id_col
                ).write.mode("overwrite").parquet(out)
                print(f"aspect batches → {out}", file=sys.stderr)
            return
        elif args.cmd == "curate-images-batch":
            from .curate import curate_images_batch

            stats = curate_images_batch(
                spark.read.parquet(args.batch), args.table, args.batch_id,
                id_col=args.id_col,
                caption_col=args.caption_col if args.caption_dedup else None,
                eval_df=(
                    spark.read.parquet(args.eval) if args.eval else None
                ),
                max_hamming=args.max_hamming,
                jaccard_threshold=args.jaccard_threshold,
                out_dir=args.out, query_id="curate-images",
            )
            if stats is None:
                print(
                    f"batch {args.batch_id} fully committed — replay no-op",
                    file=sys.stderr,
                )
                return
            ded = ", ".join(f"{t} -{n}" for t, n in stats["dedup"].items())
            print(
                f"batch {args.batch_id}: {stats['n_in']} in, dedup [{ded}], "
                f"{stats['n_contaminated']} contaminated, "
                f"{stats['n_curated']} curated",
                file=sys.stderr,
            )
            return
        elif args.cmd == "curate-text":
            from .curate import curate_text_batch
            from .operators.textq import GOPHER_RULES

            if args.mix and args.mix_tokens:
                p.error("curate-text: --mix and --mix-tokens are mutually "
                        "exclusive")

            def parse_quotas(spec):
                return {
                    k: int(v)
                    for k, v in (kv.split("=") for kv in spec.split(","))
                } if spec else None

            rules = None
            if not args.no_quality:
                rules = dict(GOPHER_RULES)
                if args.min_words is not None:
                    rules["min_words"] = args.min_words
            stats = curate_text_batch(
                spark.read.parquet(args.batch), args.table, args.batch_id,
                id_col=args.id_col, text_col=args.text_col,
                tiers=[t.strip() for t in args.tiers.split(",")],
                fp_root=args.fp_root, lines_table=args.lines_table,
                min_df=args.min_df, quality_rules=rules,
                mix=parse_quotas(args.mix),
                mix_tokens=parse_quotas(args.mix_tokens),
                mix_col=args.mix_col, pack_budget=args.pack_budget,
                out_dir=args.out, seed=args.seed, query_id="curate-text",
            )
            if stats is None:
                print(
                    f"batch {args.batch_id} fully committed — replay no-op",
                    file=sys.stderr,
                )
                return
            ded = ", ".join(f"{t} -{n}" for t, n in stats["dedup"].items())
            print(
                f"batch {args.batch_id}: {stats['n_in']} in, dedup "
                f"[{ded}], {stats['n_curated']} curated -> "
                f"{stats['curated_path']}",
                file=sys.stderr,
            )
            return
        elif args.cmd == "aspect-batches":
            from .operators.aspect import form_batches, make_aspect_buckets

            if args.buckets:
                ladder = [
                    (int(w), int(h))
                    for w, h in (b.split("x") for b in args.buckets.split(","))
                ]
            else:
                ladder = make_aspect_buckets(
                    args.max_pixels, args.min_dim, args.max_dim
                )
            out_df = form_batches(
                spark.read.parquet(args.images), ladder, args.batch_size,
                id_col=args.id_col, seed=args.seed,
            )
            out_df.write.mode("overwrite").parquet(args.out)
            # histogram from the WRITTEN output — re-running out_df's
            # lineage would repeat the whole batch-formation job
            written = spark.read.parquet(args.out)
            hist = {
                f"{ladder[r['aspect_idx']][0]}x{ladder[r['aspect_idx']][1]}":
                    r["n_batches"]
                for r in written.groupBy("aspect_idx").agg(
                    F.countDistinct("batch_id").alias("n_batches")
                ).collect()
            }
            print(f"{len(ladder)}-bucket ladder, batches per bucket: {hist} "
                  f"→ {args.out}", file=sys.stderr)
            return
        elif args.cmd == "textq":
            from .operators.textq import (
                boilerplate_lines,
                repetition_metrics,
                strip_boilerplate_lines,
            )

            docs = spark.read.parquet(args.docs)
            if not (args.metrics_out or args.strip_out or args.boilerplate_out
                    or args.corpus_table or args.verdicts_out):
                p.error("textq: need --metrics-out, --strip-out, "
                        "--boilerplate-out, --verdicts-out or --corpus-table")
            if args.verdicts_out:
                from .operators.textq import quality_filter

                v = quality_filter(docs, args.id_col, args.text_col)
                v.write.mode("overwrite").parquet(args.verdicts_out)
                kept = spark.read.parquet(args.verdicts_out).filter(
                    "keep").count()
                print(f"quality verdicts → {args.verdicts_out} "
                      f"({kept} keep)", file=sys.stderr)
            if args.metrics_out:
                m = repetition_metrics(docs, args.id_col, args.text_col)
                m.write.mode("overwrite").parquet(args.metrics_out)
                n_m = spark.read.parquet(args.metrics_out).count()
                print(f"repetition metrics for {n_m} docs → "
                      f"{args.metrics_out}", file=sys.stderr)
            hh = None
            if args.corpus_table:
                from .operators.textq import (
                    read_boilerplate_corpus,
                    update_boilerplate_corpus,
                )

                snap = update_boilerplate_corpus(
                    docs, args.corpus_table, args.id_col, args.text_col
                )
                hh = read_boilerplate_corpus(
                    spark, args.corpus_table, args.min_df
                )
                print(f"line counts appended as snapshot {snap}; "
                      f"{hh.count()} heavy hitters at min_df={args.min_df}",
                      file=sys.stderr)
            elif args.boilerplate:
                hh = spark.read.parquet(args.boilerplate)
            elif args.strip_out or args.boilerplate_out:
                hh = boilerplate_lines(
                    docs, args.id_col, args.text_col, args.min_df
                )
            if args.boilerplate_out and hh is not None:
                # works in every branch: persists the current heavy-hitter
                # view (batch counts, a loaded table, or the corpus merge)
                hh.write.mode("overwrite").parquet(args.boilerplate_out)
                hh = spark.read.parquet(args.boilerplate_out)
                print(f"{hh.count()} heavy-hitter lines → "
                      f"{args.boilerplate_out}", file=sys.stderr)
            if args.strip_out:
                out_df = strip_boilerplate_lines(
                    docs, args.id_col, args.text_col, args.min_df,
                    boilerplate=hh,
                )
                out_df.write.mode("overwrite").parquet(args.strip_out)
                stats = spark.read.parquet(args.strip_out).agg(
                    F.count("*").alias("n"),
                    F.sum("n_lines_removed").alias("removed"),
                ).collect()[0]
                n, removed = stats["n"], stats["removed"]
                print(f"stripped {removed} boilerplate lines across {n} docs → "
                      f"{args.strip_out}", file=sys.stderr)
            return
        elif args.cmd == "pack":
            from .operators.pack import pack_sequences

            out_df = pack_sequences(
                spark.read.parquet(args.docs), args.id_col, args.tokens_col,
                args.budget, n_buckets=args.buckets, seed=args.seed,
            )
            out_df.write.mode("overwrite").parquet(args.out)
            stats = out_df.agg(
                F.count("*").alias("ctx"), F.sum("n_docs").alias("docs"),
                F.avg("total_tokens").alias("fill"),
            ).first()
            print(
                f"packed {stats['docs']} docs into {stats['ctx']} contexts "
                f"(mean fill {stats['fill']:.0f}/{args.budget}) → {args.out}",
                file=sys.stderr,
            )
            return
        elif args.cmd == "pipeline":
            from .pipeline import run_pipeline

            lines = _read_geo(spark, args.lines)
            gadm = _read_geo(spark, args.gadm, ("gadm",))
            bldgs = _read_geo(spark, args.buildings)
            outs = run_pipeline(
                spark, lines, gadm, bldgs, args.out, auto_res(gadm),
                with_reblock=not args.no_reblock,
            )
            for name, df in outs.items():
                print(f"{name}: {df.count()} rows → {args.out}/{name}", file=sys.stderr)
            return
        _write(out, args.out, args.format)
        print(f"wrote {args.out}", file=sys.stderr)
    finally:
        if owned:  # don't tear down a session we joined (tests, notebooks)
            spark.stop()


if __name__ == "__main__":
    main()
