"""Exactly-once streaming ingest into iceberg-lite tables.

Structured Streaming's ``foreachBatch`` delivers micro-batches
at-least-once: if the process dies between the sink succeeding and the
checkpoint recording the offsets, the SAME batch (same ``batchId``) is
re-delivered on restart. Apache Iceberg's Spark sink makes the commit
idempotent by stamping the batch id into the snapshot summary and skipping
any batch at or below the last committed one; this module applies the same
protocol to iceberg-lite (manifest ``properties`` + the
compaction-carried ``ingest_watermarks`` map — see
sources/iceberg_lite.py:last_committed_batch).

The idempotence key is a caller-chosen ``query_id`` string: Spark's
``batchId`` sequence is scoped to a CHECKPOINT, so the caller must keep
(query_id, checkpoint dir) paired 1:1 — reusing a query_id with a fresh
checkpoint restarts batch numbering at 0 and the watermark would silently
swallow the new batches. Within one query the foreachBatch calls are
serial, so the read-watermark-then-commit sequence needs no extra locking;
concurrent ingest from DIFFERENT query_ids composes through the ordinary
rebase-retry append.

Reference parity: prclz resumes downloads per-file via an on-disk ledger
(reference csv_downloaders re-run safely); here the resumable unit is the
micro-batch and the ledger is the table's own commit metadata — no side
files, so the watermark travels with the table through compaction and
time travel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..sources import iceberg_lite as IL


def iceberg_batch_sink(
    table_path: str,
    query_id: str,
    stats_cols: list[str] | None = None,
    transform=None,
):
    """A ``foreachBatch`` callable committing each micro-batch as one
    iceberg-lite snapshot, idempotent under batch re-delivery: a batch at
    or below the table's committed watermark for ``query_id`` is skipped
    (its snapshot already landed; the re-delivery means only the
    CHECKPOINT write was lost). ``transform``, when given, maps the batch
    DataFrame before the append (runs again on a replayed batch — keep it
    deterministic). Auto-creates the table from the first batch's schema.
    """

    def sink(df: DataFrame, batch_id: int) -> None:
        out = transform(df) if transform is not None else df
        if not os.path.exists(os.path.join(table_path, "metadata")):
            IL.create_table(
                table_path, out.schema.simpleString()[7:-1]
            )
        last = IL.last_committed_batch(table_path, query_id)
        if last is not None and batch_id <= last:
            return  # re-delivered after a crash — snapshot already committed
        IL.append(
            out,
            table_path,
            stats_cols=stats_cols,
            properties={"query_id": query_id, "batch_id": int(batch_id)},
        )

    return sink


def write_stream_to_iceberg(
    stream_df: DataFrame,
    table_path: str,
    query_id: str,
    checkpoint_dir: str,
    stats_cols: list[str] | None = None,
    transform=None,
    available_now: bool = False,
):
    """Start a streaming ingest query writing ``stream_df`` into the
    iceberg-lite table at ``table_path`` exactly once per micro-batch.
    Returns the started StreamingQuery; callers own awaitTermination.
    Keep (query_id, checkpoint_dir) paired — see the module docstring."""
    w = (
        stream_df.writeStream.foreachBatch(
            iceberg_batch_sink(table_path, query_id, stats_cols, transform)
        )
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
