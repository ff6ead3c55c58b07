"""prclz-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload region_k_fused --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. `--trace 0` measures the
end-to-end metrics with tracing off on exactly one operation, the first of
a fresh session, as a job submitted to a new session runs; every operation
lasts longer than the run length of 1 s in BENCHMARK.json, so `--seconds`
does not change what is measured. `--trace 1` is a separate run that
records spans and Spark's own accounting and reports the per-layer metrics
of its first operation, the span file and the tracing overhead. Metric
names and units come from BENCHMARK.json. Human-readable lines go first; the last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.

The session is local[<cores>] with as many shuffle partitions as cores,
driven by this single-threaded client. Everything the run writes stays
under .perfbench/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
import traceback

import harness as H
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3  # input generation is repeated; set-up reports the median
# the traced run: the first operation traced, for the per-layer figures of
# the operation an untraced run measures; then spans off, on, off, for the
# tracing overhead
TRACE_SEQUENCE = (True, False, True, False)
# a traced operation after the first starts only if, at the pace of the one
# before, it ends this many seconds into the run, so that a traced run on a
# slow host still ends within three minutes
TRACE_DEADLINE_S = 140

CONSTRUCTION = {
    "region_k_fused": {"fused.build"},
    "pipeline_resume": {
        "blocks.extract_blocks", "parcels.tessellate", "complexity.k_complexity",
        "reblock_op.reblock", "ledger.filter_pending", "ledger.record", "ledger.record_errors",
        "parquet.read", "parquet.write",
    },
    "point_join_mix": {"sjoin.build", "knn.build"},
}
CLIENT = {"client.check", "client.crash", "client.generate"}


def _fail_setup(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _load_spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError) as ex:
        _fail_setup(f"cannot read {path}: {ex}")


def _check_checkout() -> None:
    """Refuse to run anywhere but a source checkout with the engine in it."""
    if not os.path.isfile(os.path.join(ROOT, "prclz_spark", "__init__.py")):
        _fail_setup(f"no prclz_spark package under {ROOT}; run from a source checkout")
    try:
        import pyspark  # noqa: F401
    except ImportError as ex:
        _fail_setup(f"pyspark is not importable: {ex}")


def _stamp(args, spark, cores: int) -> dict:
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version, "python": platform.python_version(),
        "commit": H.git_commit(ROOT),
    }


def _layer_row(wl, tracer, acct_row: dict, t0: float, t1: float, res: dict) -> dict:
    """Per-layer figures of one traced operation, and the reconciliation of
    its wall time: wall = time with a Spark job running + driver.gap_s, and
    driver.gap_s = construction + Catalyst + client spans + unattributed."""
    wall = t1 - t0
    jobs = acct_row["job_intervals"]
    named = (
        jobs
        + tracer.intervals(CONSTRUCTION[wl.name] | CLIENT, t0, t1)
        + acct_row["catalyst_intervals"]
    )
    unattributed = wall - H.union_length(named)

    def durations(name):
        return [s["end"] - s["start"] for s in tracer.spans
                if s["name"] == name and s["end"] and t0 <= s["start"] <= t1]

    row = {
        "grouped.run_s": acct_row["grouped_run_s"],
        "grouped.boot_s": acct_row["grouped_boot_s"],
        "grouped.sent_mb": acct_row["grouped_sent_mb"],
        "grouped.returned_mb": acct_row["grouped_returned_mb"],
        "st.udf_run_s": acct_row["udf_run_s"],
        "st.udf_boot_s": acct_row["udf_boot_s"],
        "st.udf_sent_mb": acct_row["udf_sent_mb"],
        "fused.build_s": sum(durations("fused.build")),
        "sjoin.build_ms": 1000 * H.median(durations("sjoin.build")),
        "knn.build_s": H.median(durations("knn.build")),
        "catalyst.analysis_ms": acct_row["analysis_ms"],
        "catalyst.optimization_ms": acct_row["optimization_ms"],
        "catalyst.planning_ms": acct_row["planning_ms"],
        "spark.jobs": acct_row["jobs"],
        "spark.stages": acct_row["stages"],
        "spark.tasks": acct_row["tasks"],
        "driver.gap_s": wall - acct_row["job_busy_s"],
        "executor.cpu_s": acct_row["executor_cpu_s"],
        "executor.gc_s": acct_row["gc_s"],
        "shuffle.write_mb": acct_row["shuffle_write_mb"],
        "shuffle.read_mb": acct_row["shuffle_read_mb"],
        "shuffle.fetch_wait_s": acct_row["fetch_wait_s"],
        "broadcast.mb": acct_row["broadcast_mb"],
        "skew.prepass_s": H.median(durations("skew.hot_cells")),
        "ledger.files": res.get("ledger_files", 0),
        "ledger.bytes": res.get("ledger_bytes", 0),
        "ledger.filter_pending_s": sum(durations("ledger.filter_pending")),
        "parquet.read_s": sum(durations("parquet.read")),
        "parquet.write_s": sum(durations("parquet.write")),
        "pipeline.output_files": res.get("output_files", 0),
        "pipeline.output_mb": res.get("output_mb", 0.0),
        "trace.wall_s": wall,
        "trace.unattributed_s": unattributed,
        "trace.unattributed_frac": unattributed / wall if wall > 0 else 0.0,
    }
    kind_ms = {"pip": "sjoin.pip_ms", "hot": "skew.pip_hot_ms",
               "knn": "knn.knn_ms", "radius": "knn.radius_ms"}
    for kind, name in kind_ms.items():
        row[name] = 1000 * res.get("per_kind", {}).get(kind, 0.0)
    return row


def _hot_skew(acct, tracer, acct_row: dict, t0: float, t1: float) -> float:
    """max/median task time of the heaviest shuffle-reading stage that ran
    inside the hot-cell query of this operation (0 when there was none)."""
    hot = [(s["start"], s["end"]) for s in tracer.spans
           if s["name"] == "query.hot" and s["end"] and t0 <= s["start"] <= t1]
    if not hot:
        return 0.0
    lo, hi = hot[0]
    stages = [
        s for s in acct_row["stage_list"]
        if s.get("status") == "COMPLETE"
        and lo <= (H.rest_time(s.get("submissionTime")) or 0.0) <= hi
    ]
    return acct.max_task_over_median(stages) if stages else 0.0


def _one_op(wl) -> tuple[dict | None, int, int]:
    """An untraced run measures exactly one operation, the first of the
    session: (its result or None if it raised, attempted, failed)."""
    try:
        res = wl.op()
    except Exception:  # noqa: BLE001 - a raising operation counts as failed
        traceback.print_exc()
        return None, 1, 1
    return res, res["attempted"], res["failed"]


def _traced_ops(wl, spark, tracer, t_setup) -> tuple[dict | None, int, int, dict]:
    """Runs TRACE_SEQUENCE: (first result or None, attempted, failed, the
    first operation's per-layer row). Operations with spans off also run
    without the call wrappers and the Catalyst listener; the session's UI is
    on for all of them."""
    acct = H.SparkAccounting(spark)
    first, attempted, failed, row, walls = None, 0, 0, {}, []
    for i, on in enumerate(TRACE_SEQUENCE):
        if i and time.perf_counter() - t_setup + 1.5 * walls[-1] > TRACE_DEADLINE_S:
            break
        undo = wl.instrument() if on else []
        acct.listen(on)
        tracer.enabled = on
        mark = acct.mark() if i == 0 else None
        a = time.time()
        try:
            with tracer.span("op", index=i):
                res = wl.op()
        except Exception:  # noqa: BLE001 - a raising operation counts as failed
            traceback.print_exc()
            res = None
        finally:
            b = time.time()
            for u in undo:
                u()
            tracer.enabled = True
        if res is None:
            attempted, failed = attempted + 1, failed + 1
            break
        attempted += res["attempted"]
        failed += res["failed"]
        walls.append(b - a)
        if i == 0:
            first = res
            acct_row = acct.collect(mark, a, b)
            row = _layer_row(wl, tracer, acct_row, a, b, res)
            row["skew.max_task_over_median"] = _hot_skew(acct, tracer, acct_row, a, b)
    acct.listen(True)
    print("traced sequence wall s: " + " ".join(
        f"{'on' if on else 'off'} {w:.3f}" for on, w in zip(TRACE_SEQUENCE, walls)))
    if len(walls) == len(TRACE_SEQUENCE):
        # the traced operation sits between two untraced ones, so the JIT
        # warm-up trend of the session cancels out of the difference
        overhead = walls[2] - (walls[1] + walls[3]) / 2
        print(f"tracing overhead: {overhead:.3f} s per operation")
    else:
        print("tracing overhead: n/a (the run stopped before off, on, off were measured)")
    return first, attempted, failed, row


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = _load_spec()
    _check_checkout()
    sys.path.insert(0, ROOT)  # the engine under test, from this checkout
    if args.workload not in WORKLOADS:
        _fail_setup(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    H.rm_tree(work)
    os.makedirs(work)
    tracer = H.Tracer(traced)

    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = H.start_spark(ROOT, work, cores, traced)
    session_s = time.perf_counter() - t_setup
    try:
        result = _run(args, spec, spark, tracer, work, cores, t_setup, session_s)
    finally:
        H.stop_spark(spark)
        H.rm_tree(work)
    # printed after Spark has stopped, so that it is the last line of stdout
    print(json.dumps(result), flush=True)
    return 0


def _run(args, spec, spark, tracer, work, cores, t_setup, session_s) -> dict:
    traced = bool(args.trace)
    stamp = _stamp(args, spark, cores)
    print(json.dumps({"stamp": stamp}), flush=True)

    with tracer.span("warmup"):
        native_worker = H.warm_up(spark, cores)
    native_driver = H.native_flags_driver()
    native = min(native_worker, native_driver)
    if not native:
        print(
            "perfbench: NATIVE KERNELS NOT LOADED "
            f"(driver={native_driver}, worker={native_worker}); the pure-Python "
            "fallback is ~13x slower, so this run is marked failed",
            file=sys.stderr,
        )

    wl = WORKLOADS[args.workload](spark, args.seed, tracer, work)
    gen = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        with tracer.span("fixtures.generate"):
            wl.setup_once()
        gen.append(time.perf_counter() - t)
    fixed_s = (time.perf_counter() - t_setup) - sum(gen)  # session start + warm-up
    setup_s = fixed_s + H.median(gen)
    print(f"setup parts: session+warm-up {fixed_s:.2f} s, inputs "
          + " ".join(f"{g:.2f}" for g in gen) + " s")

    steal0 = H.host_cpu_ticks()
    if traced:
        res, attempted, failed, layer = _traced_ops(wl, spark, tracer, t_setup)
    else:
        res, attempted, failed = _one_op(wl)
    steal1 = H.host_cpu_ticks()
    peak_rss = H.tree_peak_rss_mb()
    ca, cf = wl.final_checks()
    attempted += ca
    failed += cf
    if not native:
        failed = attempted

    info = {"failed_frac": (failed / attempted, "ratio")}
    if res is None:
        print("perfbench: the operation did not complete", file=sys.stderr)
    else:
        info.update({
            # wall times: printed, not bounded, because on a shared host they
            # follow the CPU time other tenants take (see README, Noise)
            "items_per_s": (res["items"] / res["pass_s"], "1/s"),
            "latency_ms": (1000 * res["latency_s"], "ms"),
            **wl.info(res),
        })
    info["peak_rss_mb"] = (peak_rss, "MB")
    # a large share means other tenants of the host slowed this run
    info["steal_frac"] = ((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), "ratio")
    e2e = {"setup_s": setup_s, "cpu_s": res["cpu_s"] if res else 0.0}

    if traced:
        layer.update({
            "session.start_s": session_s,
            "fixtures.generate_s": H.median(gen),
            "kernels.native": native,
            "kernels.planar_s": wl.kernel_replay_s(),
            "trace.spans": len(tracer.spans),
        })
        span_file = os.path.join(
            ROOT, ".perfbench", "spans", f"{wl.name}-seed{args.seed}-{tracer.run_id}.jsonl"
        )
        tracer.write(span_file)
        print(f"spans: {os.path.relpath(span_file, ROOT)} ({len(tracer.spans)} spans)")
        wanted = spec["per_layer"]
        values = layer
    else:
        wanted = spec["end_to_end"]
        values = e2e
    for name, (v, unit) in info.items():
        shown = "n/a" if v is None else v if isinstance(v, str) else f"{v:.6g}"
        print(f"{name}: {shown} {unit}")
    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']}: {v:.6g} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
