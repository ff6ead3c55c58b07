"""Exactly-once streaming ingest into iceberg-lite (streaming/ingest.py)."""

import pandas as pd
from pyspark.sql import functions as F

from prclz_spark.sources import iceberg_lite as IL
from prclz_spark.streaming.ingest import iceberg_batch_sink, write_stream_to_iceberg


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), F.xxhash64(F.col("id")).alias("fp")
    )


def test_stream_ingest_end_to_end_and_restart(spark, tmp_path):
    """Two arrival files ingest as two snapshots; a restart with the same
    checkpoint + query_id picks up only the NEW file (offsets) and the
    batch-id watermark advances monotonically."""
    src = tmp_path / "arrivals"
    src.mkdir()
    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    _frame(spark, 0, 100).coalesce(1).write.parquet(str(src / "f0"))
    _frame(spark, 100, 250).coalesce(1).write.parquet(str(src / "f1"))

    def run():
        stream = (
            spark.readStream.schema("doc_id long, fp long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = write_stream_to_iceberg(
            stream, t, "ingest-test", ck, stats_cols=["doc_id"],
            available_now=True,
        )
        q.awaitTermination(120)
        q.stop()

    run()
    assert IL.read(spark, t).count() == 250
    assert IL.last_committed_batch(t, "ingest-test") == 1
    assert {r.doc_id for r in IL.read(spark, t).collect()} == set(range(250))

    # restart: one new file → exactly one new snapshot, no re-ingest
    _frame(spark, 250, 300).coalesce(1).write.parquet(str(src / "f2"))
    before = IL.current_snapshot(t)
    run()
    assert IL.read(spark, t).count() == 300
    assert IL.last_committed_batch(t, "ingest-test") == 2
    assert IL.current_snapshot(t) == before + 1
    # file pruning works on the ingested table (stats_cols recorded)
    assert IL.read(spark, t, prune=("doc_id", 260, 280)).count() == 50


def test_ingest_redelivery_idempotent_across_compaction(spark, tmp_path):
    """A re-delivered micro-batch (same batch_id) is a no-op — including
    AFTER a manifest compaction absorbed the original commit (the
    watermark must be carried, or every post-compaction restart would
    double-append)."""
    t = str(tmp_path / "tbl")
    sink = iceberg_batch_sink(t, "qA")
    sink(_frame(spark, 0, 50), 0)
    sink(_frame(spark, 50, 80), 1)
    assert IL.read(spark, t).count() == 80

    sink(_frame(spark, 50, 80), 1)  # crash-replay of batch 1
    sink(_frame(spark, 0, 50), 0)   # pathological older replay
    assert IL.read(spark, t).count() == 80
    assert IL.last_committed_batch(t, "qA") == 1

    comp = IL.compact_manifests(t)
    assert IL.last_committed_batch(t, "qA") == 1  # carried
    sink(_frame(spark, 50, 80), 1)  # replay after compaction
    assert IL.read(spark, t).count() == 80
    assert IL.current_snapshot(t) == comp  # nothing committed

    sink(_frame(spark, 80, 90), 2)  # fresh batch still lands
    assert IL.read(spark, t).count() == 90
    assert IL.last_committed_batch(t, "qA") == 2

    # a SECOND compaction must not lose the carried watermark either
    IL.compact_manifests(t)
    IL.compact_manifests(t)
    assert IL.last_committed_batch(t, "qA") == 2
    sink(_frame(spark, 80, 90), 2)
    assert IL.read(spark, t).count() == 90

    # a rewrite absorbs the chain too — watermark must ride along
    IL.rewrite_data_files(spark, t)
    assert IL.last_committed_batch(t, "qA") == 2
    sink(_frame(spark, 80, 90), 2)
    assert IL.read(spark, t).count() == 90


def test_ingest_distinct_query_ids_compose(spark, tmp_path):
    """Two queries with distinct query_ids keep independent watermarks:
    the same batch_id from each commits separately."""
    t = str(tmp_path / "tbl")
    a = iceberg_batch_sink(t, "qA")
    b = iceberg_batch_sink(t, "qB")
    a(_frame(spark, 0, 10), 0)
    b(_frame(spark, 10, 20), 0)
    a(_frame(spark, 0, 10), 0)  # replay of qA's batch 0 — skipped
    assert IL.read(spark, t).count() == 20
    assert IL.last_committed_batch(t, "qA") == 0
    assert IL.last_committed_batch(t, "qB") == 0
    assert IL.last_committed_batch(t, "qC") is None


def test_ingest_transform_applied_before_commit(spark, tmp_path):
    """The optional per-batch transform (e.g. signing, projection) runs
    before the append and before table auto-creation, so the table schema
    is the TRANSFORMED schema."""
    t = str(tmp_path / "tbl")
    sink = iceberg_batch_sink(
        t, "qT",
        transform=lambda df: df.select("doc_id", F.abs(F.col("fp")).alias("afp")),
    )
    sink(_frame(spark, 0, 30), 0)
    got = IL.read(spark, t)
    assert got.columns == ["doc_id", "afp"]
    assert got.count() == 30 and got.filter(F.col("afp") < 0).count() == 0
