"""Fused region pipeline: block extraction → PIP assignment → k-index in
ONE grouped pass per admin region.

The staged operators (blocks.py → complexity.py) materialize blocks between
stages. The headline end-to-end job (BASELINE.json metric: "blocks+parcels
processed/sec, end-to-end block extraction → k-index") consumes blocks
exactly once, immediately, so this operator runs the resumable pipeline's
region pass (`pipeline._region_pass`) with the stages blocks and complexity,
nothing done and one group per region, and projects its stage-tagged table:

    lines     (one row per cover cell)       ─┐
    buildings (centroid cell, no footprint)  ─┤ ⋈cell broadcast(region covers)
    ∪ one row per region
    → ONE shuffle on gadm → ONE applyInArrow kernel per region
      (pipeline._make_region_kernel): polygonize streets → bbox prefilter +
      bulk PIP of the centroids per block → complexity._k_row per block
    → ONE filter + select: the complexity rows, plus (keep_status=True) the
      ledger error rows of the blocks and complexity stages

Same outputs as the staged path (asserted in tests/test_fused.py). Region
granularity is the reference's own sharding unit (one GADM file per job),
so per-group memory is the same contract the original pipeline assumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline import _REGION_OF_BLOCK, _make_region_kernel, _region_pass

_STAGES = ("blocks", "complexity")


def fused_blocks_k(
    lines: DataFrame,
    gadm: DataFrame,
    buildings: DataFrame,
    res: int,
    keep_status: bool = False,
) -> DataFrame:
    """Fused blocks→PIP→k per region: (block_id, gadm, geometry,
    complexity, centroids_multipoint[, status]).

    A region whose blocks kernel fails, or a block whose k fails, yields a
    marker row: block_id f"{key}__ERROR", the key's region as gadm and the
    ledger status 'error:<ExcClass>'. By default those rows are filtered
    out; ``keep_status=True`` returns them so callers can feed
    ``Ledger.record_errors`` and retry on resume."""
    kernel = _make_region_kernel(frozenset(), _STAGES, 1)
    table = _region_pass(lines, gadm, buildings, res, kernel, 1, _STAGES)
    tag, stage, key = F.col("tag"), F.col("stage"), F.col("partition_key")
    error = (tag == "ledger") & (F.col("status") != "ok")
    cols = [
        F.coalesce(F.col("block_id"), F.concat(key, F.lit("__ERROR"))).alias("block_id"),
        F.when(stage == "blocks", key)
        .otherwise(F.regexp_extract(F.coalesce(F.col("block_id"), key), _REGION_OF_BLOCK, 1))
        .alias("gadm"),
        "geometry", "complexity", "centroids_multipoint",
    ]
    if keep_status:
        return table.filter((tag == "complexity") | error).select(
            *cols, F.coalesce(F.col("status"), F.lit("ok")).alias("status")
        )
    return table.filter(tag == "complexity").select(*cols)
