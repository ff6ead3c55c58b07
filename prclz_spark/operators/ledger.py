"""Per-partition lineage ledger + checkpoint resume (SURVEY.md §4 item 4).

The reference resumes at file granularity: every stage checks output
existence (`prclz/_complexity.py:100`, `prclz/_parcels.py:188`,
`prclz/blocks/_extract_blocks.py:53`) and complexity keeps one
`.block.cache` file per block (`_complexity.py:79-97`). Distributed
equivalent: a Parquet ledger table

    (stage, partition_key, status, n_rows, wall_ms, attempt, ts)

appended after each stage's output is written; a restart reads it once and
recomputes only the work that is not yet recorded as ok (the caller decides
what a key belongs to; see `pipeline.py`). This is finer-grained than the
reference's per-country files and it is the mechanism that makes the
10^12-row job restartable per BASELINE.json north_rule.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCHEMA = (
    "stage string, partition_key string, status string, n_rows long, "
    "wall_ms double, attempt int, ts double"
)
_ROW_COLS = ["stage", "partition_key", "status", "n_rows", "wall_ms"]


class Ledger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.exists(self.path) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(self.path) for f in fs
        )

    def filter_pending(self, summarize) -> list:
        """The one ledger read of a resume: the ok rows, reduced in Spark by
        the caller's `summarize` (DataFrame -> DataFrame; the caller owns the
        key format), then collected. Empty when nothing is recorded yet."""
        if not self._exists():
            return []
        ok = self.spark.read.schema(SCHEMA).parquet(self.path).filter(F.col("status") == "ok")
        return summarize(ok).collect()

    def record(self, rows: DataFrame) -> None:
        """Append ledger rows (stage, partition_key, status, n_rows, wall_ms)."""
        rows.select(*_ROW_COLS).withColumn("attempt", F.lit(1)).withColumn(
            "ts", F.lit(time.time())
        ).write.mode("append").parquet(self.path)

    def record_errors(self, stage: str, keys: list) -> None:
        """Mark `keys` of `stage` as failed, so a resume retries them (for
        callers of the operators with ``keep_status=True``)."""
        if keys:
            self.record(self.spark.createDataFrame(
                [(stage, k, "error", 0, None) for k in keys],
                "stage string, partition_key string, status string, n_rows long, wall_ms double",
            ))
