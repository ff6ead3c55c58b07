"""The three benchmark workloads.

Each workload owns its inputs (made from the seed), one repeatable
operation, and the checks on that operation's outputs. An operation
returns a dict with at least `items`, `pass_s`, `cpu_s`, `latency_s`,
`attempted` and `failed`; the runner turns those into metrics.

* region_k_fused   — fused blocks→PIP→k over a large world: kernel-heavy.
* pipeline_resume  — the staged, ledger-resumable CLI pipeline with a
                     simulated crash: driver, ledger and Parquet I/O.
* point_join_mix   — a closed loop of spatial queries: driver plan
                     construction, Catalyst, shuffle and skew handling.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import time
import traceback

import numpy as np
import pandas as pd

import harness as H


def _sha(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(r) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _expected_blocks(nx: int, ny: int) -> int:
    """Closed form for the fixture street grid: one block per cell plus one
    more for every cell the generator cuts with a diagonal (index % 7 == 3)."""
    n = nx * ny
    return n + sum(1 for c in range(n) if c % 7 == 3)


def _complain(what: str) -> None:
    print(f"perfbench: CHECK FAILED: {what}", file=sys.stderr)


class _Base:
    name = ""

    def __init__(self, spark, seed: int, tracer: H.Tracer, work: str):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.work = work

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw)

    def instrument(self) -> list:
        """Install call wrappers for the traced run; returns undo callables."""
        return []

    def final_checks(self) -> tuple[int, int]:
        return 0, 0

    def kernel_replay_s(self) -> float:
        return 0.0

    def info(self, res: dict) -> dict:
        """Extra printed figures of an operation: {name: (value, unit)}."""
        return {}


# --------------------------------------------------------------------------
# Driver-side kernel replay (shared by the two world-building workloads)
# --------------------------------------------------------------------------


def _region_inputs(nx: int, per_cell: int, gx: int, keys: list[str]):
    """Per sampled region: its ring, the street lines whose bbox meets it,
    and its building centroids, built from the same fixture generators the
    Spark inputs come from."""
    from prclz_spark import fixtures as FX
    from prclz_spark import geom as G

    gadm = FX.make_gadm(nx, nx, gx, gx).set_index("gadm")
    lines = [G.wkb_loads(b) for b in FX.make_lines(nx, nx)["geometry"]]
    line_boxes = [(ln.data[:, 0].min(), ln.data[:, 1].min(), ln.data[:, 0].max(), ln.data[:, 1].max())
                  for ln in lines]
    gen = FX._buildings_for_cells(nx, nx, per_cell)
    out = {}
    for key in keys:
        region = G.wkb_loads(gadm.loc[key, "geometry"])
        ring = region.data[0]
        x0, y0 = ring[:, 0].min(), ring[:, 1].min()
        x1, y1 = ring[:, 0].max(), ring[:, 1].max()
        arrs = [ln.data for ln, (a, b, c, d) in zip(lines, line_boxes)
                if a <= x1 and c >= x0 and b <= y1 and d >= y0]
        cells = [
            ci * nx + cj
            for ci in range(nx) for cj in range(nx)
            if x0 <= FX.LON0 + (ci + 0.5) * FX.CELL <= x1
            and y0 <= FX.LAT0 + (cj + 0.5) * FX.CELL <= y1
        ]
        bl = pd.concat(list(gen(iter([pd.DataFrame({"id": cells})]))))
        pts = np.array([G.centroid(G.wkb_loads(b)) for b in bl["geometry"]])
        out[key] = (ring, arrs, pts)
    return out


def _replay(inputs: dict) -> tuple[dict, float]:
    """The fused kernel's per-region work, called directly on the driver:
    polygonize → bulk PIP → block complexity. Returns ({gadm: sorted
    [(block_id, k)]}, kernel seconds)."""
    from prclz_spark import geom as G
    from prclz_spark.kernels import planar as P

    out, busy = {}, 0.0
    for key, (ring, arrs, pts) in inputs.items():
        t = time.perf_counter()
        rows = []
        for i, blk in enumerate(P.polygonize_region(ring, arrs) or [ring]):
            mask = G.points_in_polygon_bulk(pts[:, 0], pts[:, 1], G.Geom(G.POLYGON, [blk]))
            if mask.any():
                rows.append((f"{key}_{i}", int(P.block_complexity(blk, pts[mask]))))
        busy += time.perf_counter() - t
        out[key] = sorted(rows)
    return out, busy


# --------------------------------------------------------------------------
# region_k_fused
# --------------------------------------------------------------------------


class RegionKFused(_Base):
    """operators/fused.fused_blocks_k over an 80×80-cell world with 24
    buildings per cell and 16×16 regions (153,600 buildings, 256 regions,
    7,314 blocks). Inputs are persisted during set-up; the seed fixes the
    row order inside each partition of the persisted inputs, which is the
    order rows reach the grouped kernel. One operation is one fused pass,
    collected; the first pass of a session includes the JIT and Python
    worker warm-up that every batch job submitted to a new session pays."""

    name = "region_k_fused"
    NX, PER_CELL, GX = 80, 24, 16
    REPLAY_REGIONS = 8
    # sha256 of the sorted (block_id, complexity) rows of this world; the
    # world does not depend on the seed, so neither does the digest
    DIGEST = "6842e7c3e593688183b877344c478474f8c9564e72eb31f80b13a82e58040c25"

    def __init__(self, *a):
        super().__init__(*a)
        from prclz_spark import cells as C
        from prclz_spark import fixtures as FX

        self.res = C.choose_resolution(*FX.grid_params(self.NX, self.NX), n_features=self.NX**2 * 4)
        self.inputs = None
        self.first_rows = None
        self.kernel_s = 0.0

    def setup_once(self) -> None:
        from pyspark.sql import functions as F

        from prclz_spark import fixtures as FX

        if self.inputs is not None:
            for df in self.inputs:
                df.unpersist(blocking=True)
        lines, gadm, bldgs = FX.geo_world(
            self.spark, self.NX, self.NX, per_cell=self.PER_CELL, gx=self.GX, gy=self.GX
        )
        lines = lines.sortWithinPartitions(F.rand(self.seed * 7)).persist()
        bldgs = bldgs.sortWithinPartitions(F.rand(self.seed * 7 + 1)).persist()
        gadm = gadm.persist()
        self.n_bldgs = bldgs.count()
        lines.count()
        gadm.count()
        self.inputs = (lines, gadm, bldgs)

    def _collect(self) -> list:
        from prclz_spark.operators.fused import fused_blocks_k

        with self.span("fused.build"):
            df = fused_blocks_k(*self.inputs, self.res, keep_status=True)
        with self.span("fused.execute"):
            return df.select("block_id", "complexity", "status").collect()

    def op(self) -> dict:
        c0, t0 = H.tree_cpu_s(), time.perf_counter()
        rows = self._collect()
        wall, cpu = time.perf_counter() - t0, H.tree_cpu_s() - c0
        with self.span("client.check"):
            failed = self._check(rows)
        return {
            "items": len(rows) + self.n_bldgs, "pass_s": wall, "cpu_s": cpu,
            "latency_s": wall, "attempted": 1, "failed": failed,
        }

    def _check(self, rows) -> int:
        errors = [r for r in rows if r["status"] != "ok"]
        ok = [(r["block_id"], r["complexity"]) for r in rows if r["status"] == "ok"]
        want = _expected_blocks(self.NX, self.NX)
        digest = _sha(ok)
        bad = []
        if errors:
            bad.append(f"{len(errors)} error-status regions")
        if len(ok) != want:
            bad.append(f"{len(ok)} blocks, expected {want}")
        if digest != self.DIGEST:
            bad.append(f"(block_id, complexity) digest {digest} differs from {self.DIGEST}")
        if self.first_rows is None:
            self.first_rows = ok
        for b in bad:
            _complain(f"{self.name}: {b}")
        return int(bool(bad))

    def _replay_keys(self) -> list[str]:
        keys = sorted({b.rsplit("_", 1)[0] for b, _ in self.first_rows or []})
        step = max(1, len(keys) // self.REPLAY_REGIONS)
        return keys[::step][: self.REPLAY_REGIONS]

    def final_checks(self) -> tuple[int, int]:
        """The fused output for a fixed sample of regions must equal a
        driver-side replay of the same kernels on the same regions."""
        if not self.first_rows:
            return 0, 0
        keys = self._replay_keys()
        got, self.kernel_s = _replay(_region_inputs(self.NX, self.PER_CELL, self.GX, keys))
        by_region: dict = {}
        for b, k in self.first_rows:
            by_region.setdefault(b.rsplit("_", 1)[0], []).append((b, k))
        bad = [k for k in keys if sorted(by_region.get(k, [])) != got[k]]
        if bad:
            _complain(f"{self.name}: fused output differs from kernel replay in {bad}")
        return 1, int(bool(bad))

    def kernel_replay_s(self) -> float:
        return self.kernel_s



# --------------------------------------------------------------------------
# pipeline_resume
# --------------------------------------------------------------------------

_STAGES = ("blocks", "parcels", "complexity", "reblock")


def _rewrite_without(path: str, cols, drop) -> None:
    """Rewrite every Parquet part file under `path` without the rows for
    which drop(*values of cols) holds; stale checksum files are removed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = (cols,) if isinstance(cols, str) else cols
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(d, f)
            t = pq.read_table(p)
            vals = zip(*(t.column(c).to_pylist() for c in cols))
            keep = pa.array([not drop(*v) for v in vals], pa.bool_())
            pq.write_table(t.filter(keep), p)
            crc = os.path.join(d, f".{f}.crc")
            if os.path.exists(crc):
                os.remove(crc)


def _stage_digest(path: str) -> tuple[str, int]:
    """Order-free digest of a stage's rows. Reblock's *_time columns are
    the kernel's own wall-clock timings and are left out."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = sorted(c for c in t.column_names if not c.endswith("_time"))
    rows = list(zip(*(t.column(c).to_pylist() for c in cols))) if cols else []
    return _sha(rows), len(rows)


class PipelineResume(_Base):
    """pipeline.run_pipeline (blocks → parcels → complexity → reblock under
    the Ledger) on an 8×8-cell world with 4×4 regions, read from Parquet
    as the CLI does. One operation is a cycle: a fresh run into a new
    directory; a simulated crash in the last stage that loses the reblock
    output of a seeded quarter of the regions (4 of 16); a resume; and a
    rerun with nothing pending. The run is dominated by per-job driver cost,
    so the world is small; a run has time for one cycle."""

    name = "pipeline_resume"
    NX, PER_CELL, GX = 8, 6, 4
    LOST_REGIONS = 4

    def __init__(self, *a):
        super().__init__(*a)
        from prclz_spark import cells as C
        from prclz_spark import fixtures as FX

        self.res = C.choose_resolution(*FX.grid_params(self.NX, self.NX), n_features=self.NX**2 * 4)
        self.n_setups = 0
        self.cycle = 0
        self.input_dir = None

    def _write_inputs(self, nx: int, gx: int, dest: str, salt: int):
        from pyspark.sql import functions as F

        from prclz_spark import fixtures as FX

        lines, gadm, bldgs = FX.geo_world(self.spark, nx, nx, per_cell=self.PER_CELL, gx=gx, gy=gx)
        lines.orderBy(F.rand(self.seed * 7 + salt)).write.parquet(f"{dest}/lines.pq")
        gadm.write.parquet(f"{dest}/gadm.pq")
        bldgs.orderBy(F.rand(self.seed * 7 + salt + 1)).write.parquet(f"{dest}/buildings.pq")
        r = self.spark.read
        return r.parquet(f"{dest}/lines.pq"), r.parquet(f"{dest}/gadm.pq"), r.parquet(f"{dest}/buildings.pq")

    def setup_once(self) -> None:
        if self.input_dir:
            H.rm_tree(self.input_dir)
        self.input_dir = os.path.join(self.work, f"inputs{self.n_setups}")
        self.n_setups += 1
        self.inputs = self._write_inputs(self.NX, self.GX, self.input_dir, 0)
        self.n_bldgs = self.inputs[2].count()
        self.regions = sorted(r["gadm"] for r in self.inputs[1].select("gadm").collect())
        self.input_bytes = H.dir_stats(self.input_dir)[1]

    def instrument(self) -> list:
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from prclz_spark import pipeline
        from prclz_spark.operators.ledger import Ledger

        w = self.tracer.wrap
        return [
            w(DataFrameReader, "parquet", "parquet.read"),
            w(DataFrameWriter, "parquet", "parquet.write"),
            w(pipeline, "extract_blocks", "blocks.extract_blocks"),
            w(pipeline, "tessellate", "parcels.tessellate"),
            w(pipeline, "k_complexity", "complexity.k_complexity"),
            w(pipeline, "reblock", "reblock_op.reblock"),
            w(Ledger, "filter_pending", "ledger.filter_pending"),
            w(Ledger, "record", "ledger.record"),
            w(Ledger, "record_errors", "ledger.record_errors"),
        ]

    def _crash(self, src: str, dst: str, lost: set) -> None:
        """Copy a finished run and make it look like a run that died in its
        last stage: the reblock output rows and ledger rows of the lost
        regions' blocks are taken out (block ids are f'{gadm}_{i}')."""

        def lost_block(block_id: str) -> bool:
            return block_id.rsplit("_", 1)[0] in lost

        shutil.copytree(src, dst)
        _rewrite_without(os.path.join(dst, "reblock"), "block_id", lost_block)
        _rewrite_without(
            os.path.join(dst, "_ledger"), ("stage", "partition_key"),
            lambda stage, key: stage == "reblock" and lost_block(key),
        )

    def op(self) -> dict:
        from prclz_spark.pipeline import run_pipeline

        i = self.cycle
        self.cycle += 1
        fresh = os.path.join(self.work, f"fresh{i}")
        resumed = os.path.join(self.work, f"resumed{i}")
        lost = set(random.Random(self.seed * 1000 + i).sample(self.regions, self.LOST_REGIONS))
        try:
            c0, t0 = H.tree_cpu_s(), time.perf_counter()
            with self.span("pipeline.fresh"):
                run_pipeline(self.spark, *self.inputs, fresh, self.res)
            fresh_s, cpu = time.perf_counter() - t0, H.tree_cpu_s() - c0
            with self.span("client.crash"):
                self._crash(fresh, resumed, lost)
            t0 = time.perf_counter()
            with self.span("pipeline.resume"):
                run_pipeline(self.spark, *self.inputs, resumed, self.res)
            resume_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            with self.span("pipeline.noop"):
                run_pipeline(self.spark, *self.inputs, resumed, self.res)
            noop_s = time.perf_counter() - t0
            with self.span("client.check"):
                failed, n_blocks = self._check(fresh, resumed)
                led_files, led_bytes = H.dir_stats(os.path.join(fresh, "_ledger"))
                all_files, all_bytes = H.dir_stats(fresh)
        finally:
            H.rm_tree(fresh)
            H.rm_tree(resumed)
        return {
            "items": n_blocks + self.n_bldgs, "pass_s": fresh_s, "cpu_s": cpu,
            "latency_s": resume_s, "resume_s": resume_s, "noop_s": noop_s,
            "write_amp": all_bytes / self.input_bytes,
            "ledger_files": led_files, "ledger_bytes": led_bytes,
            "output_files": all_files - led_files, "output_mb": (all_bytes - led_bytes) / 2**20,
            "attempted": 3, "failed": failed,
        }

    def _check(self, fresh: str, resumed: str) -> tuple[int, int]:
        """Fails (as one of the cycle's three operations each) the fresh
        run, the resume and the no-op rerun on a wrong block count, error
        rows in the ledger, or resumed outputs that differ from fresh ones."""
        import pyarrow.dataset as ds

        bad = []
        want = _expected_blocks(self.NX, self.NX)
        _, n_blocks = _stage_digest(os.path.join(fresh, "blocks"))
        if n_blocks != want:
            bad.append(f"{n_blocks} blocks, expected {want}")
        for d in (fresh, resumed):
            led = ds.dataset(os.path.join(d, "_ledger"), format="parquet").to_table()
            n_err = sum(1 for s in led.column("status").to_pylist() if s != "ok")
            if n_err:
                bad.append(f"{n_err} error rows in the ledger of {os.path.basename(d)}")
        diff = [s for s in _STAGES
                if _stage_digest(os.path.join(fresh, s)) != _stage_digest(os.path.join(resumed, s))]
        if diff:
            bad.append(f"resumed outputs differ from the fresh run in {diff}")
        for b in bad:
            _complain(f"{self.name}: {b}")
        return (3 if bad else 0), n_blocks

    def info(self, res: dict) -> dict:
        return {
            "resume_s": (res["resume_s"], "s"),
            "noop_resume_s": (res["noop_s"], "s"),
            "write_amp": (res["write_amp"], "ratio"),
        }

    def kernel_replay_s(self) -> float:
        keys = self.regions[:: max(1, len(self.regions) // 4)][:4]
        _, busy = _replay(_region_inputs(self.NX, self.PER_CELL, self.GX, keys))
        return busy


# --------------------------------------------------------------------------
# point_join_mix
# --------------------------------------------------------------------------


class PointJoinMix(_Base):
    """A closed loop: one client issues a seeded sequence of spatial queries
    against the 256 region polygons of the 80×80 world and waits for each
    answer before sending the next, starting right after the session is set
    up. One operation is a round of the four query kinds in a seeded order:

    * pip    — uniform probes, sjoin.pip_join on the broadcast path;
    * hot    — pip_join with broadcast_build=False and salting, 70% of the
               probes inside one cover cell (broadcast joins disabled for
               the query, as for a build side too large to broadcast);
    * knn    — knn.knn_join (k=4, ring expansion) against a point set;
    * radius — knn.within_distance_join against the same point set.
    """

    name = "point_join_mix"
    NX, GX = 80, 16
    N_BUILD = 20_000
    N_PIP, N_HOT, N_KNN, N_RADIUS = 10_000, 10_000, 2_000, 4_000
    HOT_FRAC, HOT_THRESHOLD, SALT = 0.7, 2_000, 8
    K, RADIUS = 4, 0.002
    N_SAMPLE = 64
    KINDS = ("pip", "hot", "knn", "radius")

    def __init__(self, *a):
        super().__init__(*a)
        from prclz_spark import cells as C
        from prclz_spark import fixtures as FX

        self.box = FX.grid_params(self.NX, self.NX)
        self.res = C.choose_resolution(*self.box, n_features=self.NX**2 * 4)
        self.round = 0
        self.regions = self.build = None

    def setup_once(self) -> None:
        from prclz_spark import fixtures as FX
        from prclz_spark import schemas as S

        for df in (self.regions, self.build):
            if df is not None:
                df.unpersist(blocking=True)
        rng = np.random.default_rng([self.seed, 0])
        x0, y0, x1, y1 = self.box
        self.bx = rng.uniform(x0, x1, self.N_BUILD)
        self.by = rng.uniform(y0, y1, self.N_BUILD)
        self.regions = FX.to_spark(self.spark, FX.make_gadm(self.NX, self.NX, self.GX, self.GX),
                                   S.GADM).persist()
        self.build = self.spark.createDataFrame(
            pd.DataFrame({"bid": np.arange(self.N_BUILD, dtype=np.int64), "x": self.bx, "y": self.by})
        ).persist()
        self.regions.count()
        self.build.count()

    # -- probes --------------------------------------------------------

    def _region_probes(self, rng, n: int, hot: bool):
        """Probes strictly inside region cells, with their region index, so
        per-region counts have a closed form (no point on a shared edge)."""
        x0, y0, x1, y1 = self.box
        wx, wy = (x1 - x0) / self.GX, (y1 - y0) / self.GX
        i = rng.integers(0, self.GX, n)
        j = rng.integers(0, self.GX, n)
        x = x0 + (i + rng.uniform(0.01, 0.99, n)) * wx
        y = y0 + (j + rng.uniform(0.01, 0.99, n)) * wy
        if hot:
            m = rng.random(n) < self.HOT_FRAC
            hi, hj = 5, 9  # hot spot: a tiny square at the middle of one region
            i[m], j[m] = hi, hj
            x[m] = x0 + (hi + 0.5) * wx + rng.uniform(0, 1e-5, m.sum())
            y[m] = y0 + (hj + 0.5) * wy + rng.uniform(0, 1e-5, m.sum())
        return pd.DataFrame({"pid": np.arange(n, dtype=np.int64), "x": x, "y": y}), i, j

    def _uniform_probes(self, rng, n: int):
        x0, y0, x1, y1 = self.box
        return pd.DataFrame({
            "pid": np.arange(n, dtype=np.int64),
            "x": rng.uniform(x0, x1, n), "y": rng.uniform(y0, y1, n),
        })

    # -- queries -------------------------------------------------------

    def _pip(self, pdf, hot: bool):
        from pyspark.sql import functions as F

        from prclz_spark.operators.sjoin import pip_join

        conf = self.spark.conf
        if hot:
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            with self.span("sjoin.build", kind="hot" if hot else "pip"):
                probes = self.spark.createDataFrame(pdf)
                df = pip_join(
                    probes, self.regions, "pid", "gadm", self.res,
                    broadcast_build=not hot, salt=self.SALT, hot_threshold=self.HOT_THRESHOLD,
                ).groupBy("gadm").agg(F.count("*").alias("n"))
            with self.span("query.execute"):
                return {r["gadm"]: r["n"] for r in df.collect()}
        finally:
            if hot:
                conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def _knn(self, pdf, radius: bool):
        from prclz_spark.operators.knn import knn_join, within_distance_join

        with self.span("knn.build", kind="radius" if radius else "knn"):
            probes = self.spark.createDataFrame(pdf)
            if radius:
                df = within_distance_join(probes, self.build, "pid", "bid", self.RADIUS, self.res)
            else:
                df = knn_join(probes, self.build, "pid", "bid", self.K, self.res)
        with self.span("query.execute"):
            return df.collect()

    # -- checks --------------------------------------------------------

    def _check_counts(self, got: dict, i, j) -> bool:
        want = np.bincount(i * self.GX + j, minlength=self.GX * self.GX)
        exp = {f"TST.{a + 1}.{b + 1}_1": int(want[a * self.GX + b])
               for a in range(self.GX) for b in range(self.GX) if want[a * self.GX + b]}
        return got == exp

    def _brute(self, pdf, sample):
        d = np.hypot(self.bx[None, :] - pdf["x"].to_numpy()[sample, None],
                     self.by[None, :] - pdf["y"].to_numpy()[sample, None])
        return d

    def _check_knn(self, rows, pdf, rng) -> bool:
        sample = rng.choice(len(pdf), self.N_SAMPLE, replace=False)
        got: dict = {}
        for r in rows:
            got.setdefault(r["pid"], []).append((r["rank"], r["bid"]))
        d = self._brute(pdf, sample)
        for row, pid in zip(d, sample):
            order = np.lexsort((np.arange(len(row)), row))[: self.K]
            if [b for _, b in sorted(got.get(int(pid), []))] != [int(b) for b in order]:
                return False
        return True

    def _check_radius(self, rows, pdf, rng) -> bool:
        sample = rng.choice(len(pdf), self.N_SAMPLE, replace=False)
        got: dict = {}
        for r in rows:
            got.setdefault(r["pid"], set()).add(r["bid"])
        d = self._brute(pdf, sample)
        for row, pid in zip(d, sample):
            if got.get(int(pid), set()) != {int(b) for b in np.nonzero(row <= self.RADIUS)[0]}:
                return False
        return True

    def _query(self, kind: str, rng) -> tuple[int, float, float, bool]:
        """(probes, query seconds, query CPU seconds of the process tree, ok);
        probe generation and the numpy checks fall outside both windows."""
        with self.span("client.generate"):
            if kind in ("pip", "hot"):
                pdf, i, j = self._region_probes(rng, self.N_PIP if kind == "pip" else self.N_HOT,
                                                kind == "hot")
            else:
                pdf = self._uniform_probes(rng, self.N_KNN if kind == "knn" else self.N_RADIUS)
        c0, t0 = H.tree_cpu_s(), time.perf_counter()
        with self.span(f"query.{kind}"):
            out = self._pip(pdf, kind == "hot") if kind in ("pip", "hot") else self._knn(
                pdf, kind == "radius")
        dt, cpu = time.perf_counter() - t0, H.tree_cpu_s() - c0
        with self.span("client.check"):
            if kind in ("pip", "hot"):
                ok = self._check_counts(out, i, j)
            elif kind == "knn":
                ok = self._check_knn(out, pdf, rng)
            else:
                ok = self._check_radius(out, pdf, rng)
        if not ok:
            _complain(f"{self.name}: {kind} query result differs from the numpy reference")
        return len(pdf), dt, cpu, ok

    def info(self, res: dict) -> dict:
        n = len(res["query_s"])
        return {
            "query_p50_ms": (1000 * H.median(res["query_s"]), f"ms (n={n})"),
            # the highest percentile with ten samples above it needs 11
            "query_tail_ms": (None, f"ms (n={n} queries, fewer than 11)"),
        }

    def instrument(self) -> list:
        from prclz_spark.operators import skew

        return [self.tracer.wrap(skew, "hot_cells", "skew.hot_cells")]

    def op(self) -> dict:
        rng = np.random.default_rng([self.seed, 2, self.round])
        self.round += 1
        kinds = [self.KINDS[k] for k in rng.permutation(len(self.KINDS))]
        items, lats, cpu, failed, per_kind = 0, [], 0.0, 0, {}
        for kind in kinds:
            try:
                n, dt, dc, ok = self._query(kind, rng)
            except Exception:  # noqa: BLE001 - a raising query counts as failed, the loop goes on
                traceback.print_exc()
                failed += 1
                continue
            items += n
            lats.append(dt)
            cpu += dc
            per_kind[kind] = dt
            failed += int(not ok)
        # a round's mean query latency: the round always holds one query
        # of each kind, so unlike a median over mixed kinds it does not jump
        # between kinds from run to run
        return {
            "items": items, "pass_s": sum(lats), "cpu_s": cpu,
            "latency_s": sum(lats) / len(lats) if lats else 0.0,
            "query_s": lats, "per_kind": per_kind,
            "attempted": len(kinds), "failed": failed,
        }


WORKLOADS = {w.name: w for w in (RegionKFused, PipelineResume, PointJoinMix)}
