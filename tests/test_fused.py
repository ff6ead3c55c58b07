"""Fused region pipeline ≡ staged pipeline (same rows, same k, same ids)."""

import numpy as np
import pytest

from prclz_spark import cells as C
from prclz_spark import fixtures as FX
from prclz_spark import geom as G
from prclz_spark.operators.blocks import extract_blocks
from prclz_spark.operators.complexity import k_complexity
from prclz_spark.operators.fused import fused_blocks_k


def test_fused_equals_staged(spark):
    nx = 6
    lines, gadm, bldgs = FX.geo_world(spark, nx, nx)
    res = C.choose_resolution(*FX.grid_params(nx, nx), n_features=nx * nx * 4)

    blocks = extract_blocks(lines, gadm, res).cache()
    staged_blocks = blocks.toPandas().set_index("block_id")
    staged = k_complexity(blocks, bldgs, res).toPandas().set_index("block_id")
    fused = fused_blocks_k(lines, gadm, bldgs, res).toPandas().set_index("block_id")

    assert set(staged.index) == set(fused.index)
    for bid in staged.index:
        assert staged.loc[bid, "complexity"] == fused.loc[bid, "complexity"], bid
        assert bytes(fused.loc[bid, "geometry"]) == bytes(staged_blocks.loc[bid, "geometry"]), bid
        assert fused.loc[bid, "gadm"] == staged_blocks.loc[bid, "gadm"], bid
        a = np.asarray(G.wkb_loads(bytes(staged.loc[bid, "centroids_multipoint"])).data)
        b = np.asarray(G.wkb_loads(bytes(fused.loc[bid, "centroids_multipoint"])).data)
        sa = {(round(x, 9), round(y, 9)) for x, y in a.reshape(-1, 2)}
        sb = {(round(x, 9), round(y, 9)) for x, y in b.reshape(-1, 2)}
        assert sa == sb, bid


def test_fused_poisoned_region_surfaces_error(spark):
    """VERDICT r2 #3: a region whose kernel raises must NOT silently vanish
    from the fused output — it must surface as a status='error' marker row
    (keep_status=True) and be excluded (not swallowed) by default."""
    import pyspark.sql.functions as F

    nx = 4
    lines, gadm, bldgs = FX.geo_world(spark, nx, nx)
    res = C.choose_resolution(*FX.grid_params(nx, nx), n_features=nx * nx * 4)

    # poison 1: valid WKB but a LINESTRING where the kernel expects a
    # (multi)polygon region → kernel raises mid-group (placed ON the
    # fixture box so probe lines join it by cell)
    x0, y0, x1, y1 = FX.grid_params(nx, nx)
    bad_geom = G.wkb_dumps(G.Geom(G.LINESTRING, np.array([[x0, y0], [x1, y1]])))
    # poison 2: garbage bytes → st_cells can't even parse it
    gadm = gadm.select("gadm", "geometry")
    poisoned = gadm.unionByName(
        spark.createDataFrame(
            [("POISON_KERNEL", bytearray(bad_geom)), ("POISON_WKB", bytearray(b"\x00garbage"))],
            "gadm string, geometry binary",
        )
    )

    out = fused_blocks_k(lines, poisoned, bldgs, res, keep_status=True).toPandas()
    err = out[out.status.str.startswith("error:")]
    assert set(err.gadm) == {"POISON_KERNEL", "POISON_WKB"}, err
    ok = out[out.status == "ok"]
    assert not ok.gadm.isin(["POISON_KERNEL", "POISON_WKB"]).any()

    # default path: errors excluded, healthy regions unaffected
    clean = fused_blocks_k(lines, gadm, bldgs, res).toPandas()
    dflt = fused_blocks_k(lines, poisoned, bldgs, res).toPandas()
    assert set(dflt.block_id) == set(clean.block_id)


# Spark jobs of one fused_blocks_k(...).collect() on the 4x4 world
# (statusTracker), for both keep_status values: the covers broadcast, the
# grouped pass and its result stage
FUSED_JOBS = 3


@pytest.mark.parametrize("keep_status", [False, True])
def test_fused_plan_and_job_count(spark, keep_status):
    """Deterministic plan/job gate: one grouped kernel and one broadcast in
    the executed plan and a pinned job count, so a wrapper that runs the
    kernel twice or adds an eager job fails here."""
    nx = 4
    lines, gadm, bldgs = FX.geo_world(spark, nx, nx)
    res = C.choose_resolution(*FX.grid_params(nx, nx), n_features=nx * nx * 4)
    df = fused_blocks_k(lines, gadm, bldgs, res, keep_status=keep_status)

    sc = spark.sparkContext
    group = f"fused-job-count-{keep_status}"
    sc.setJobGroup(group, "fused_blocks_k collect")
    try:
        assert len(df.collect()) == 18
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == FUSED_JOBS

    # the adaptive plan prints its final plan before the initial one
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
