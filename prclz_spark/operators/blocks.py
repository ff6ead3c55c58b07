"""Stage 1 — street-block extraction (SURVEY.md §3.1, K1/K2).

Reference flow (`prclz/blocks/_extract_blocks.py:43-89`): gadm ⋈ lines
spatial join → per-region list of intersecting streets → per-region kernel
(region minus buffered streets → enumerate polygons → `block_id =
f"{gadm}_{i}"`) → one CSV per region.

Spark plan (same shape, distributed):

    lines ⋈cell gadm (broadcast spatial join)          ← J1
    groupBy(gadm) under applyInPandas                  ← A1 + kernel
    polygonize kernel per region                       ← K1/K2
    → blocks(block_id, gadm, geometry)

The kernel polygonizes the noded arrangement of region boundary + streets
(see `kernels.planar.polygonize_region` for why this matches the reference's
BufferedLineDifference semantics with ε→0). Per-region failures are isolated
into an `_error` column instead of failing the job, mirroring the
reference's per-region try/except (`_extract_blocks.py:79-85`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import geom as G
from ..kernels import planar as P

_OUT_SCHEMA = "block_id string, gadm string, geometry binary, status string"
_COLS = ["block_id", "gadm", "geometry", "status"]


def _blocks_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    gadm = pdf["gadm"].iloc[0]
    rows = []
    try:
        region = G.wkb_loads(bytes(pdf["region_geom"].iloc[0]))
        region_rings = [region.data[0]] if region.kind == G.POLYGON else [p[0] for p in region.data]
        line_arrays = []
        # a line reaches this kernel once per shared cover cell (the candidate
        # join is deliberately dedup-free); dedupe here, before O(m²) noding
        for g in G.wkb_loads_batch(pdf["line_geom"].drop_duplicates()):
            if g is None:
                continue
            line_arrays.extend([g.data] if g.kind == G.LINESTRING else list(g.data))
        i = 0
        for ring in region_rings:
            for blk in P.polygonize_region(ring, line_arrays):
                rows.append((f"{gadm}_{i}", gadm, G.wkb_dumps(G.Geom(G.POLYGON, [blk])), "ok"))
                i += 1
        if not rows:  # no streets → the whole region is one block
            for j, ring in enumerate(region_rings):
                rows.append((f"{gadm}_{j}", gadm, G.wkb_dumps(G.Geom(G.POLYGON, [ring])), "ok"))
    except Exception as ex:
        # error isolation (reference's per-region try/except): the failure is
        # NOT swallowed — it surfaces as a status='error' marker row that the
        # caller excludes from output and the pipeline feeds to the ledger,
        # so a corrupt region never becomes a phantom whole-region block
        return pd.DataFrame(
            [(f"{gadm}__ERROR", gadm, None, f"error:{type(ex).__name__}")], columns=_COLS
        )
    return pd.DataFrame(rows, columns=_COLS)


def extract_blocks(
    lines: DataFrame, gadm: DataFrame, res: int, keep_status: bool = False
) -> DataFrame:
    """lines(osm_id, geometry) × gadm(gadm, geometry) → blocks.

    Uses cell-candidate pairs WITHOUT an exact line-meets-region refine
    phase: a line that shares a cover cell with the region but misses it is
    harmless to the kernel (its segments node outside the region; faces are
    kept only if their centroid falls inside the region), so the refine
    UDF pass would buy nothing but another JVM→Python round trip.

    A region whose kernel raises yields a status='error' row; errored gadms
    are excluded from both the output and the zero-street backfill.
    ``keep_status=True`` returns the error rows too (status column included)
    so the pipeline can record them in the lineage ledger."""
    from ..functions.st import st_cells

    # duplicate (line, region) candidates are harmless too: identical
    # segments dedupe inside the kernel's graph construction, so the
    # dropDuplicates shuffle is skipped as well
    b0 = gadm.select("gadm", F.col("geometry").alias("region_geom")).withColumn(
        "cells", st_cells(res)(F.col("region_geom"))
    ).persist()
    # a region whose geometry doesn't even parse (st_cells → NULL) is an
    # error too — it must not survive via the zero-street backfill
    bad_regions = b0.filter(F.col("cells").isNull()).select(
        F.concat(F.col("gadm"), F.lit("__ERROR")).alias("block_id"),
        F.col("gadm"),
        F.lit(None).cast("binary").alias("geometry"),
        F.lit("error:wkb").alias("status"),
    )
    b = b0.filter(F.col("cells").isNotNull()).withColumn("cell", F.explode("cells")).drop("cells")
    p = lines.select(
        F.col("osm_id"), F.col("geometry").alias("line_geom")
    ).withColumn("cell", F.explode(st_cells(res)(F.col("line_geom"))))
    cand = p.join(F.broadcast(b), "cell", "inner").select("gadm", "region_geom", "line_geom")
    # eager localCheckpoint (not .persist()): the kernel runs exactly once,
    # HERE; the two downstream uses (union + zero-street anti-join) read the
    # stored partitions; lineage is truncated; and the blocks are released
    # when the returned DataFrame is GC'd — no cache accumulating across
    # repeated calls in a long-lived session (ADVICE r2).
    core = cand.groupBy("gadm").applyInPandas(_blocks_kernel, _OUT_SCHEMA).localCheckpoint(
        eager=True
    )
    b0.unpersist(blocking=False)  # only needed to build `core`; freed now
    # regions with zero streets become a single whole-region block
    # (`_extract_blocks.py` trivial case): anti-join against the OUTPUT
    # keys (tiny, persisted) so the candidate subtree runs exactly once.
    # Errored gadms ARE present in core (marker row) or bad_regions →
    # excluded here either way.
    zero_street = (
        gadm.join(core.select("gadm").unionByName(bad_regions.select("gadm")), "gadm", "left_anti")
        .withColumn("block_id", F.concat(F.col("gadm"), F.lit("_0")))
        .select("block_id", "gadm", "geometry")
        .withColumn("status", F.lit("ok"))
    )
    full = core.unionByName(zero_street).unionByName(bad_regions)
    if keep_status:
        return full
    return full.filter(F.col("status") == "ok").drop("status")
