"""Checkpoint-resume: a re-run after partial completion recomputes only the
pending regions, writes only the missing rows and converges to the same
outputs; the region pass equals the staged operators composed by hand."""

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from prclz_spark import cells as C
from prclz_spark import fixtures as FX
from prclz_spark import geom as G
from prclz_spark.kernels import planar as P
from prclz_spark.operators.blocks import extract_blocks
from prclz_spark.operators.complexity import k_complexity
from prclz_spark.operators.ledger import Ledger
from prclz_spark.operators.parcels import tessellate
from prclz_spark.operators.reblock_op import reblock
from prclz_spark.pipeline import _make_region_kernel, _pending, _region_pass, run_pipeline

STAGES = ("blocks", "parcels", "complexity", "reblock")
NX = 4
# Spark jobs of one fresh 4x4 run (statusTracker). The staged pipeline
# this pass replaced launched 69; the gate is deterministic, not a timing.
FRESH_JOBS = 12
STAGED_FRESH_JOBS = 69


@pytest.fixture(scope="module")
def world(spark):
    lines, gadm, bldgs = FX.geo_world(spark, NX, NX)
    res = C.choose_resolution(*FX.grid_params(NX, NX), n_features=NX * NX * 4)
    return lines, gadm, bldgs, res


@pytest.fixture(scope="module")
def fresh(spark, world, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fresh") / "pipe")
    lines, gadm, bldgs, res = world
    run_pipeline(spark, lines, gadm, bldgs, out, res)
    return out


def _rows(table) -> list:
    """Sorted rows of a stage; reblock's *_time columns (wall-clock timings)
    are left out."""
    cols = sorted(c for c in table.column_names if not c.endswith("_time"))
    return sorted(zip(*(table.column(c).to_pylist() for c in cols)), key=repr)


def _stage_rows(path: str) -> list:
    return _rows(ds.dataset(path, format="parquet", partitioning="hive").to_table())


def _ledger(out: str):
    return ds.dataset(os.path.join(out, "_ledger"), format="parquet").to_table().to_pandas()


def _rewrite_without(path: str, cols: tuple, drop) -> None:
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                t = pq.read_table(p)
                vals = zip(*(t.column(c).to_pylist() for c in cols))
                pq.write_table(t.filter(pa.array([not drop(*v) for v in vals], pa.bool_())), p)
                crc = os.path.join(d, f".{f}.crc")
                if os.path.exists(crc):
                    os.remove(crc)


def test_pipeline_runs_and_resumes(spark, world, tmp_path):
    lines, gadm, bldgs, res = world
    out_dir = str(tmp_path / "pipe")

    outs = run_pipeline(spark, lines, gadm, bldgs, out_dir, res, with_reblock=False)
    n_blocks = outs["blocks"].count()
    n_cplx = outs["complexity"].count()
    assert n_blocks > 0 and n_cplx == n_blocks

    # resume: everything done → nothing pending, outputs unchanged
    led = Ledger(spark, f"{out_dir}/_ledger")
    assert _pending(led, gadm, STAGES[:3])[0] is None
    outs2 = run_pipeline(spark, lines, gadm, bldgs, out_dir, res, with_reblock=False)
    assert outs2["blocks"].count() == n_blocks
    assert outs2["complexity"].count() == n_cplx

    # simulate a partial run: drop one gadm's ledger rows → only it pends
    ledger_df = spark.read.parquet(f"{out_dir}/_ledger")
    some_gadm = gadm.first().gadm
    trimmed = ledger_df.filter(
        ~((F.col("stage") == "blocks") & (F.col("partition_key") == some_gadm))
    )
    trimmed.write.mode("overwrite").parquet(f"{out_dir}/_ledger2")
    led2 = Ledger(spark, f"{out_dir}/_ledger2")
    units, _, _, stages = _pending(led2, gadm, STAGES[:3])
    assert [r.gadm for r in units.collect()] == [some_gadm]
    assert stages == STAGES[:3]


def test_crash_resume_matches_fresh(spark, world, fresh, tmp_path):
    """A run that died in its last stage (the reblock rows and ledger rows
    of two regions lost) resumes to the fresh run's outputs, recomputing
    only those regions and appending only the missing rows."""
    lines, gadm, bldgs, res = world
    lost = {"TST.1.2_1", "TST.2.1_1"}

    def lost_block(block_id: str) -> bool:
        return block_id.rsplit("_", 1)[0] in lost

    crashed = str(tmp_path / "crashed")
    shutil.copytree(fresh, crashed)
    _rewrite_without(os.path.join(crashed, "reblock"), ("block_id",), lost_block)
    _rewrite_without(
        os.path.join(crashed, "_ledger"), ("stage", "partition_key"),
        lambda stage, key: stage == "reblock" and lost_block(key),
    )
    before = _ledger(crashed)

    units, _, _, stages = _pending(Ledger(spark, os.path.join(crashed, "_ledger")), gadm, STAGES)
    assert sorted(r.gadm for r in units.collect()) == sorted(lost)
    assert stages == ("reblock",)

    run_pipeline(spark, lines, gadm, bldgs, crashed, res)
    for s in STAGES:
        assert _stage_rows(os.path.join(crashed, s)) == _stage_rows(os.path.join(fresh, s)), s
    led = _ledger(crashed)
    added = led[led.ts > before.ts.max()]
    assert set(added.stage) == {"reblock"}
    assert set(added.partition_key.map(lambda k: k.rsplit("_", 1)[0])) == lost
    assert len(led) == len(_ledger(fresh)) and (led.status == "ok").all()


def test_crash_in_reblock_write_resumes_without_duplicates(spark, world, fresh, tmp_path, monkeypatch):
    """A run that raises in its reblock write has already recorded the three
    stages before it, so the resume writes only the reblock rows: every
    stage equals the fresh run, with no duplicate rows."""
    from pyspark.sql.readwriter import DataFrameWriter

    lines, gadm, bldgs, res = world
    out = str(tmp_path / "pipe")
    write = DataFrameWriter.parquet

    def crashing(self, path, *a, **k):
        if os.path.basename(path) == "reblock":
            raise RuntimeError("simulated crash in the reblock write")
        return write(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(spark, lines, gadm, bldgs, out, res)
    monkeypatch.undo()
    assert set(_ledger(out).stage) == set(STAGES[:3])

    assert _pending(Ledger(spark, os.path.join(out, "_ledger")), gadm, STAGES)[3] == ("reblock",)
    run_pipeline(spark, lines, gadm, bldgs, out, res)
    for s in STAGES:
        assert _stage_rows(os.path.join(out, s)) == _stage_rows(os.path.join(fresh, s)), s
    led = _ledger(out)
    assert len(led) == len(_ledger(fresh))
    assert not led.duplicated(["stage", "partition_key"]).any()


def test_region_pass_equals_staged_operators(spark, world, fresh):
    """The four outputs are byte-identical to the staged operators composed
    by hand on the same inputs (the fresh run splits each of the 4 regions
    over 2 shards: 8 cores)."""
    lines, gadm, bldgs, res = world
    blocks = extract_blocks(lines, gadm, res).localCheckpoint()
    parcels = tessellate(blocks, bldgs, res).localCheckpoint()
    staged = {
        "blocks": blocks,
        "parcels": parcels,
        "complexity": k_complexity(blocks, bldgs, res),
        "reblock": reblock(blocks, parcels, bldgs, res),
    }
    for s, df in staged.items():
        want = _rows(pa.Table.from_pandas(df.toPandas(), preserve_index=False))
        assert _stage_rows(os.path.join(fresh, s)) == want, s


def test_region_shards_equal_one_group_per_region(spark, world):
    """Splitting each region's per-block stages over shards changes no row."""
    lines, gadm, bldgs, res = world

    def table(shards: int) -> list:
        kernel = _make_region_kernel(frozenset(), STAGES, shards)
        df = _region_pass(lines, gadm, bldgs, res, kernel, shards).drop("wall_ms")
        return _rows(pa.Table.from_pandas(df.toPandas(), preserve_index=False))

    assert table(3) == table(1)


def test_failed_regions_are_ledger_errors_and_retried(spark, world, tmp_path):
    """A region whose blocks kernel fails (a LINESTRING region the streets
    reach; unparseable WKB no street reaches) writes no rows, gets an error
    ledger row, and stays pending; the healthy regions are unaffected."""
    lines, gadm, bldgs, res = world
    x0, y0, x1, y1 = FX.grid_params(NX, NX)
    line = G.wkb_dumps(G.Geom(G.LINESTRING, np.array([[x0, y0], [x1, y1]])))
    poisoned = gadm.select("gadm", "geometry").unionByName(spark.createDataFrame(
        [("POISON_KERNEL", bytearray(line)), ("POISON_WKB", bytearray(b"\x00garbage"))],
        "gadm string, geometry binary",
    ))
    out = str(tmp_path / "pipe")
    outs = run_pipeline(spark, lines, poisoned, bldgs, out, res, with_reblock=False)

    assert outs["blocks"].filter(F.col("gadm").startswith("POISON")).count() == 0
    assert outs["blocks"].count() == 18
    led = _ledger(out)
    err = led[led.status != "ok"]
    assert set(zip(err.stage, err.partition_key)) == {
        ("blocks", "POISON_KERNEL"), ("blocks", "POISON_WKB")
    }
    assert err.status.str.startswith("error:").all(), err.status
    units, _, _, _ = _pending(Ledger(spark, os.path.join(out, "_ledger")), poisoned, STAGES[:3])
    assert sorted(r.gadm for r in units.collect()) == ["POISON_KERNEL", "POISON_WKB"]


def _poly(ring) -> bytes:
    return G.wkb_dumps(G.Geom(G.POLYGON, [np.array(ring, dtype=float)]))


def test_failed_k_is_a_ledger_error(monkeypatch):
    """A block whose k kernel raises gets an error ledger row carrying the
    exception class (so a resume retries it) and no complexity row; the
    region's other blocks and the other stages are unaffected."""
    lines = [G.wkb_dumps(G.Geom(G.LINESTRING, np.array(c, dtype=float)))
             for c in ([[2, -1], [2, 5]], [[-1, 2], [5, 2]])]
    pts = [(x + dx, y + dy) for x in (0.5, 2.5) for y in (0.5, 2.5)
           for dx, dy in ((0, 0), (0.8, 0.3), (0.3, 0.9))]
    rows = (
        [("R", _poly([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]), None, None, None)]
        + [("L", ln, None, None, None) for ln in lines]
        + [("B", _poly([[x - .1, y - .1], [x + .1, y - .1], [x + .1, y + .1], [x - .1, y + .1],
                        [x - .1, y - .1]]), f"b{i}", x, y) for i, (x, y) in enumerate(pts)]
    )
    table = pa.Table.from_pandas(
        pd.DataFrame(rows, columns=["kind", "payload", "osm_id", "x", "y"]).assign(gadm="R1"),
        preserve_index=False,
    )

    real = P.block_complexity

    def poisoned(ring, cents):
        if ring[:, 0].min() >= 2 and ring[:, 1].min() >= 2:
            raise ValueError("poisoned block")
        return real(ring, cents)

    monkeypatch.setattr(P, "block_complexity", poisoned)
    out = _make_region_kernel(frozenset(), STAGES[:3], 1)(table).to_pandas()

    blocks = out[out.tag == "blocks"]
    assert len(blocks) == 4
    bad = {bid for bid, g in zip(blocks.block_id, blocks.geometry)
           if G.bounds(G.wkb_loads(g))[:2] >= (2, 2)}
    assert len(bad) == 1
    led = out[out.tag == "ledger"].set_index(["stage", "partition_key"])
    for bid in blocks.block_id:
        assert led.loc[("parcels", bid), "status"] == "ok"
        k = led.loc[("complexity", bid)]
        if bid in bad:
            assert (k.status, k.n_rows) == ("error:ValueError", 0)
        else:
            assert (k.status, k.n_rows) == ("ok", 1)
    assert set(out[out.tag == "complexity"].block_id) == set(blocks.block_id) - bad


def test_fresh_run_job_count(spark, world, tmp_path):
    """Deterministic job-count gate: the Spark jobs of a fresh run, counted
    by the status tracker, are pinned and at most half the staged pipeline's."""
    lines, gadm, bldgs, res = world
    sc = spark.sparkContext
    sc.setJobGroup("pipeline-job-count", "fresh pipeline run")
    try:
        run_pipeline(spark, lines, gadm, bldgs, str(tmp_path / "pipe"), res)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("pipeline-job-count"))
    assert n_jobs <= STAGED_FRESH_JOBS // 2
    assert n_jobs == FRESH_JOBS


def test_empty_output_keys_count_as_done(spark, world, tmp_path):
    """A block with no buildings has no complexity row and one with a single
    building no reblock row; both are recorded as ok with n_rows=0, so a
    second run finds nothing pending."""
    lines, gadm, bldgs, res = world
    # cell 0 (buildings b0-b5) loses all its buildings, cell 1 (b6-b11) all
    # but one; in the full world every block has complexity and reblock rows
    gone = [f"b{i:09d}" for i in range(12) if i != 6]
    out = str(tmp_path / "pipe")
    outs = run_pipeline(spark, lines, gadm, bldgs.filter(~F.col("osm_id").isin(gone)), out, res)

    n_blocks = outs["blocks"].count()
    led = _ledger(out)
    assert (led.status == "ok").all()
    for s in STAGES[1:]:
        assert (led.stage == s).sum() == n_blocks, s
    assert ((led.stage == "complexity") & (led.n_rows == 0)).sum() == 1
    assert ((led.stage == "reblock") & (led.n_rows == 0)).sum() == 2
    assert _pending(Ledger(spark, os.path.join(out, "_ledger")), gadm, STAGES)[0] is None
    run_pipeline(spark, lines, gadm, bldgs.filter(~F.col("osm_id").isin(gone)), out, res)
    assert len(_ledger(out)) == len(led)


def test_ledger_wall_ms_filled(fresh):
    led = _ledger(fresh)
    assert set(led.stage) == set(STAGES)
    assert led.wall_ms.notna().all() and (led.wall_ms >= 0).all()
