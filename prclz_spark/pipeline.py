"""End-to-end pipeline: the prclz stages (blocks → parcels →
complexity → reblock) as ONE grouped pass per region, under the lineage
ledger (SURVEY.md §0 macro-pattern + §4 item 4).

The reference shards every stage by GADM region; so does this module, but
it runs all stages for a region in one kernel call instead of one Spark job
per stage. Plan shape:

    street lines  (one row per cover cell)      ─┐
    buildings     (centroid cell [+ footprint]) ─┤ ⋈cell broadcast(region covers)
    ∪ one row per region (its geometry, so a region no street or building
      reaches still forms a group)
    → ONE shuffle on gadm → applyInPandas per region, calling the staged
      operators' own per-group kernels in order:
        blocks._blocks_kernel → per-block bbox prefilter + points_in_polygon_bulk
        → parcels._parcels_kernel_impl → complexity._k_row →
        reblock_op._make_reblock_kernel
      (with fewer pending regions than 2 × cores, the group is (gadm, shard):
      each of a region's ceil(2 × cores / regions) shards re-derives its
      blocks and runs the later stages for every shards-th block)
    → one stage-tagged table, localCheckpoint(eager=True)-ed once
    → per stage: append its rows to <out>/<stage> (blocks partitioned by gadm),
      then its ledger rows (stage, key, status, n_rows, wall_ms)

Resume granularity is the region. The ledger is read once; a region is
recomputed when any of its (stage, key) pairs is not recorded as ok, and
only the missing rows (and their ledger rows) are written. Each stage's
ledger rows are appended right after that stage's output, so a run that
dies in a later stage leaves the finished stages recorded and a resume
does not write their rows twice. Keys with empty
output (a block without buildings has no complexity row) are recorded as
ok with n_rows=0, so they count as done. This is the distributed form of
the reference's skip-if-exists flags (`prclz/_complexity.py:100`,
`prclz/_parcels.py:188`) and `.block.cache` files (`:79-97`).

`operators/fused.fused_blocks_k` runs this pass with the stages blocks and
complexity alone.

Error contract: a region whose blocks kernel fails gets a ledger row with
status 'error:<ExcClass>' and no downstream rows; so does a block whose k
kernel raises (no complexity row) or whose reblock kernel emits
`road_type='error:*'` (no reblock rows). Error keys are retried on resume.
"""

from __future__ import annotations

import os
import time
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import geom as G
from .functions.st import st_cells, st_centroid_xy_cell
from .operators import blocks as BL
from .operators import complexity as CX
from .operators import parcels as PC
from .operators import reblock_op as RB
from .operators.ledger import Ledger

# The staged operators stay the per-stage public API (CLI subcommands; a
# traced benchmark run wraps these names); the region pass reuses their
# per-group kernels instead.
from .operators.blocks import extract_blocks  # noqa: F401
from .operators.complexity import k_complexity  # noqa: F401
from .operators.parcels import tessellate  # noqa: F401
from .operators.reblock_op import reblock  # noqa: F401

_STAGES = ("blocks", "parcels", "complexity", "reblock")
# blocks._blocks_kernel numbers a region's n blocks f"{gadm}_{i}", i < n;
# every stage after blocks is keyed by these ids
_REGION_OF_BLOCK = r"^(.*)_\d+$"
# output schema of each stage, in the column order a read-back returns
_STAGE_SCHEMAS = {
    "blocks": "block_id string, geometry binary, gadm string",
    "parcels": PC._OUT_SCHEMA,
    "complexity": CX._OUT_SCHEMA,
    "reblock": RB._OUT_SCHEMA,
}


def _fields(ddl: str) -> list:
    return [tuple(f.split()) for f in ddl.split(", ")]


_LEDGER_FIELDS = _fields(
    "stage string, partition_key string, status string, n_rows long, wall_ms double"
)
_LEDGER_COLS = [n for n, _ in _LEDGER_FIELDS]
_STAGE_COLS = {s: [n for n, _ in _fields(ddl)] for s, ddl in _STAGE_SCHEMAS.items()}
_FIELDS = [("tag", "string")] + _LEDGER_FIELDS
for _ddl in _STAGE_SCHEMAS.values():
    _FIELDS += [f for f in _fields(_ddl) if f not in _FIELDS]
_SCHEMA = ", ".join(f"{n} {t}" for n, t in _FIELDS)
_COLS = [n for n, _ in _FIELDS]


class _Emitter:
    """Collects one region's output rows, as tuples in each stage's schema
    order, and its ledger rows, skipping the (stage, key) pairs the ledger
    already holds as done."""

    def __init__(self, done: frozenset):
        self.done = done
        self.rows: dict = {s: [] for s in _STAGE_SCHEMAS}
        self.ledger: list = []

    def add(self, stage: str, key: str, t0: float, rows=(), status: str = "ok") -> None:
        """Record `stage`'s rows for `key`, or its failure as an
        'error:<ExcClass>' status. wall_ms is the time since t0, taken when
        the stage started."""
        if (stage, key) in self.done:
            return
        ms = (time.perf_counter() - t0) * 1e3
        self.rows[stage] += rows
        self.ledger.append((stage, key, status, len(rows), ms))

    def frame(self) -> pd.DataFrame:
        """All rows as one `_SCHEMA` frame, built column by column."""
        cols: dict = {c: [] for c in _COLS}
        groups = [(s, _STAGE_COLS[s], rows) for s, rows in self.rows.items()]
        for tag, names, rows in groups + [("ledger", _LEDGER_COLS, self.ledger)]:
            values = dict(zip(names, zip(*rows)))
            cols["tag"] += [tag] * len(rows)
            for c in _COLS[1:]:
                cols[c] += values.get(c, [None] * len(rows))
        return pd.DataFrame(cols)


def _tuples(df: pd.DataFrame, stage: str) -> list:
    return list(zip(*(df[c].tolist() for c in _STAGE_COLS[stage])))


def _zero_street_block(gadm: str, region_geom: bytes) -> pd.DataFrame:
    """extract_blocks' zero-street backfill: a region no street reaches is a
    single block, its own geometry. A region that is not a valid (multi)
    polygon yields the blocks kernel's error row instead."""
    try:
        kind = G.wkb_loads(region_geom).kind
        if kind not in (G.POLYGON, G.MULTIPOLYGON):
            raise ValueError(f"region geometry of kind {kind}")
    except Exception as ex:
        return pd.DataFrame(
            [(f"{gadm}__ERROR", gadm, None, f"error:{type(ex).__name__}")], columns=BL._COLS
        )
    return pd.DataFrame([(f"{gadm}_0", gadm, region_geom, "ok")], columns=BL._COLS)


def _make_region_kernel(done: frozenset, stages: tuple, shards: int):
    rb_kernel = (
        RB._make_reblock_kernel(False, False, False, 0, False) if "reblock" in stages else None
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        gadm = pdf["gadm"].iloc[0]
        shard = int(pdf["shard"].iloc[0]) if shards > 1 else 0
        out = _Emitter(done)
        kind = pdf["kind"].to_numpy()
        payload = pdf["payload"].to_numpy()
        region_geom = bytes(payload[kind == "R"][0])
        lines = payload[kind == "L"]

        t0 = time.perf_counter()
        if len(lines):
            blocks = BL._blocks_kernel(
                pd.DataFrame({"gadm": gadm, "region_geom": [region_geom] * len(lines),
                              "line_geom": lines})
            )
        else:
            blocks = _zero_street_block(gadm, region_geom)
        status = blocks["status"].to_numpy()
        if (status != "ok").any():
            if shard == 0:
                out.add("blocks", gadm, t0, status=status[0])
            return out.frame()
        if shard == 0:
            out.add("blocks", gadm, t0, _tuples(blocks, "blocks"))

        b = kind == "B"
        xs, ys = pdf["x"].to_numpy(dtype=float)[b], pdf["y"].to_numpy(dtype=float)[b]
        osm_id, footprint = pdf["osm_id"].to_numpy()[b], payload[b]
        by_x = np.argsort(xs, kind="stable")
        sorted_x = xs[by_x]

        def buildings_in(poly: G.Geom) -> np.ndarray:
            """Indices of the buildings whose centroid lies in `poly`, in
            arrival order. A bounding-box prefilter (binary search on x,
            then y) runs before the exact PIP, so the cost follows the
            block's candidates, not the region's building count."""
            x0, y0, x1, y1 = G.bounds(poly)
            lo, hi = np.searchsorted(sorted_x, x0, "left"), np.searchsorted(sorted_x, x1, "right")
            idx = np.sort(by_x[lo:hi])
            idx = idx[(ys[idx] >= y0) & (ys[idx] <= y1)]
            return idx[G.points_in_polygon_bulk(xs[idx], ys[idx], poly)]

        for i, (bid, bgeom) in enumerate(zip(blocks["block_id"], blocks["geometry"])):
            want = {s for s in stages[1:] if (s, bid) not in done}
            if not want or i % shards != shard:
                continue
            t0 = time.perf_counter()  # parcels' wall_ms includes the assignment
            block = G.wkb_loads(bgeom)
            inside = buildings_in(block)
            if want & {"parcels", "reblock"}:  # reblock runs on the parcels
                if len(inside):
                    ppdf = pd.DataFrame({"block_id": bid, "block_geom": [bgeom] * len(inside),
                                         "osm_id": osm_id[inside], "bldg_geom": footprint[inside]})
                else:
                    ppdf = pd.DataFrame({"block_id": [bid], "block_geom": [bgeom],
                                         "osm_id": [None], "bldg_geom": [None]})
                parcels = PC._parcels_kernel_impl(ppdf, 0.0)
                out.add("parcels", bid, t0, _tuples(parcels, "parcels"))
            if "complexity" in want:
                t0 = time.perf_counter()
                try:
                    row = CX._k_row(bid, block, xs[inside], ys[inside])
                except Exception as ex:
                    out.add("complexity", bid, t0, status=f"error:{type(ex).__name__}")
                else:
                    out.add("complexity", bid, t0, [row] if row else [])
            if "reblock" in want:
                t0 = time.perf_counter()
                rb = rb_kernel(
                    (bid,),
                    parcels.rename(columns={"geometry": "parcel_geom"}).assign(block_geom=bgeom),
                    pd.DataFrame({"block_id": bid, "osm_id": osm_id[inside],
                                  "x": xs[inside], "y": ys[inside]}),
                )
                road = rb["road_type"].astype(str)
                failed = road[road.str.startswith("error:")]
                if len(failed):
                    out.add("reblock", bid, t0, status=failed.iloc[0])
                else:
                    out.add("reblock", bid, t0, _tuples(rb, "reblock"))
        return out.frame()

    return kernel


def _region_pass(
    lines: DataFrame, gadm: DataFrame, buildings: DataFrame, res: int, kernel, shards: int,
    stages: tuple = _STAGES,
) -> DataFrame:
    """The union of street lines, buildings and region rows, through ONE
    broadcast join against the region covers, grouped by region, or by
    (region, shard) when `shards` > 1: then every row goes to each of its
    region's shards, every shard re-derives the region's blocks (cheap
    next to the per-block stages) and runs the per-block stages of every
    shards-th block, so a few large regions still fill the cores.

    A building row carries its footprint only when `stages` has parcels,
    and its osm_id only when it has parcels or reblock."""
    regions = gadm.select("gadm", F.col("geometry").alias("payload"))
    covers = regions.select("gadm", F.explode(st_cells(res)(F.col("payload"))).alias("cell"))
    no_str, no_xy = F.lit(None).cast("string"), F.lit(None).cast("double")
    lines_p = lines.select(
        F.explode(st_cells(res)(F.col("geometry"))).alias("cell"), F.lit("L").alias("kind"),
        F.col("geometry").alias("payload"), no_str.alias("osm_id"),
        no_xy.alias("x"), no_xy.alias("y"),
    )
    footprint = F.col("geometry") if "parcels" in stages else F.lit(None).cast("binary")
    osm_id = F.col("osm_id") if {"parcels", "reblock"} & set(stages) else no_str
    bldg_p = (
        buildings.withColumn("_c", st_centroid_xy_cell(res)(F.col("geometry")))
        .select(
            F.col("_c.cell").alias("cell"), F.lit("B").alias("kind"),
            footprint.alias("payload"), osm_id.alias("osm_id"),
            F.col("_c.x").alias("x"), F.col("_c.y").alias("y"),
        )
        .filter(F.col("cell").isNotNull())
    )
    probe = lines_p.unionByName(bldg_p).join(F.broadcast(covers), "cell", "inner").drop("cell")
    region_p = regions.select(
        "gadm", F.lit("R").alias("kind"), "payload", no_str.alias("osm_id"),
        no_xy.alias("x"), no_xy.alias("y"),
    )
    rows = probe.unionByName(region_p)
    if shards > 1:
        rows = rows.withColumn("shard", F.explode(F.sequence(F.lit(0), F.lit(shards - 1))))
        return rows.groupBy("gadm", "shard").applyInPandas(kernel, _SCHEMA)
    return rows.groupBy("gadm").applyInPandas(kernel, _SCHEMA)


def _pending(led: Ledger, gadm: DataFrame, stages: tuple):
    """What a run has left to do, from ONE ledger read: (the regions to
    recompute, or None when all are done; their number; the ok (stage, key)
    pairs under them; the stages that miss at least one key).

    A region is done when its blocks row is ok and every later stage holds
    ok rows for all n_rows of its blocks (the ids f"{gadm}_{i}", i < n_rows).
    The per-region summary is an aggregate in Spark; the done pairs of
    finished regions are not collected."""
    rest = stages[1:]
    stage, key = F.col("stage"), F.col("partition_key")

    def summarize(ok: DataFrame) -> DataFrame:
        region = F.when(stage == "blocks", key).otherwise(F.regexp_extract(key, _REGION_OF_BLOCK, 1))
        agg = ok.filter(stage.isin(*stages)).groupBy(region.alias("gadm")).agg(
            F.max(F.when(stage == "blocks", F.col("n_rows"))).alias("n"),
            *[F.size(F.collect_set(F.when(stage == s, key))).alias(s) for s in rest],
            F.collect_set(F.struct(stage, key)).alias("done"),
        )
        complete = reduce(
            lambda a, b: a & b, [F.col(s) == F.col("n") for s in rest], F.col("n").isNotNull()
        )
        return agg.select("gadm", "n", *rest, F.when(~complete, F.col("done")).alias("done"))

    progress = {r["gadm"]: r for r in led.filter_pending(summarize)}
    names = [r[0] for r in gadm.select("gadm").collect()]
    todo = [g for g in names if g not in progress or progress[g]["done"] is not None]
    if not todo:
        return None, 0, frozenset(), ()
    done = frozenset(
        (d["stage"], d["partition_key"]) for g in todo if g in progress for d in progress[g]["done"]
    )
    missing = {
        s for g in todo for s in stages
        if g not in progress or progress[g]["n"] is None
        or (s != "blocks" and progress[g][s] < progress[g]["n"])
    }
    units = gadm if len(todo) == len(names) else gadm.filter(F.col("gadm").isin(todo))
    return units, len(todo), done, tuple(s for s in stages if s in missing)


def run_pipeline(
    spark: SparkSession,
    lines: DataFrame,
    gadm: DataFrame,
    buildings: DataFrame,
    out_dir: str,
    res: int,
    with_reblock: bool = True,
) -> dict:
    """Run blocks → parcels → complexity (→ reblock), resumable.

    Returns {stage: output DataFrame}, lazily read from the Parquet outputs."""
    stages = _STAGES if with_reblock else _STAGES[:3]
    led = Ledger(spark, os.path.join(out_dir, "_ledger"))
    units, n_units, done, todo = _pending(led, gadm, stages)
    if units is not None:
        # two groups per core: the (gadm, shard) groups are hash-partitioned,
        # and at one group per core collisions leave cores idle
        shards = -(-2 * spark.sparkContext.defaultParallelism // n_units)
        kernel = _make_region_kernel(done, stages, shards)
        table = _region_pass(
            lines, units, buildings, res, kernel, shards, stages
        ).localCheckpoint(eager=True)
        tag = F.col("tag")
        for s in todo:
            rows = table.filter(tag == s).select(*_STAGE_COLS[s])
            w = rows.write.mode("append")
            (w.partitionBy("gadm") if s == "blocks" else w).parquet(os.path.join(out_dir, s))
            led.record(table.filter((tag == "ledger") & (F.col("stage") == s)))
    return {s: spark.read.schema(_STAGE_SCHEMAS[s]).parquet(os.path.join(out_dir, s)) for s in stages}
