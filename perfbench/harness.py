"""Measurement plumbing shared by the workloads.

Everything here observes the engine from outside: process-tree CPU and
memory from /proc, spans around calls into the engine's public functions,
and Spark's own accounting (query-execution phase trackers and the status
REST API of a UI-enabled session). Nothing in `prclz_spark/` is modified.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
import uuid
from datetime import datetime

# --------------------------------------------------------------------------
# process tree: CPU seconds and resident memory
# --------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(parts[1]), parts)
    return out


def tree_pids() -> list[int]:
    """This process and every live descendant (driver JVM, Python workers)."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    pids, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        pids.append(p)
        stack.extend(children.get(p, []))
    return pids


def tree_cpu_s() -> float:
    """utime+stime (plus reaped children) summed over the process tree."""
    clk = os.sysconf("SC_CLK_TCK")
    table = _proc_table()
    total = 0
    for pid in tree_pids():
        if pid in table:
            p = table[pid][1]
            total += int(p[11]) + int(p[12]) + int(p[13]) + int(p[14])
    return total / clk


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return ticks[7], sum(ticks[:8])


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak RSS (VmHWM)."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit.

    Disabled tracers cost one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str):
        """Replace owner.attr with a version that records a span per call;
        returns an undo callable. Used only in traced runs."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **k):
            with tracer.span(name):
                return orig(*a, **k)

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, orig)

    def intervals(self, names, lo: float, hi: float) -> list:
        return clip(
            [(s["start"], s["end"]) for s in self.spans if s["name"] in names and s["end"]],
            lo, hi,
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark session lifecycle
# --------------------------------------------------------------------------


def git_commit(root: str) -> str:
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def start_spark(root: str, work: str, cores: int, traced: bool):
    """A local[cores] session whose scratch files all stay under `work`.

    The traced run enables the UI so the status REST API is available."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    bench_dir = os.path.dirname(os.path.abspath(__file__))
    # Python workers inherit this environment: they import prclz_spark from
    # the checkout and write temporary files under the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, bench_dir] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM shared-memory perf counters: they would go to /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    from prclz_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.enabled": "true" if traced else "false",
        "spark.driver.memory": "3g",
    }
    if traced:
        conf["spark.ui.port"] = "0"  # any free port
    spark = get_spark(f"local[{cores}]", app="perfbench", shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and its Python workers, and wait
    until every descendant process has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while len(tree_pids()) > 1 and time.time() < deadline:
            time.sleep(0.2)


def native_flags_driver() -> int:
    from prclz_spark import geom as G
    from prclz_spark.kernels import planar as P

    return int(P._CF is not None and G._PF is not None)


def warm_up(spark, cores: int) -> int:
    """A pandas UDF that starts every Python worker and pre-imports the
    kernel stack in it; returns the workers' native-kernel flag (1 only if
    every worker loaded planar_fast)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def native_in_worker(s):
        import networkx  # noqa: F401

        import prclz_spark.kernels.reblock  # noqa: F401
        from prclz_spark import geom as G
        from prclz_spark.kernels import planar as P

        return pd.Series([int(P._CF is not None and G._PF is not None)] * len(s))

    row = (
        spark.range(0, 4 * cores, 1, cores)
        .select(native_in_worker("id").alias("n"))
        .agg(F.min("n").alias("n"))
        .collect()[0]
    )
    return int(row["n"])


def rm_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`, ignoring checksum and marker files."""
    n = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith(".") or f.startswith("_"):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


# --------------------------------------------------------------------------
# Spark's own accounting (traced run only)
# --------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_METRIC_RE = re.compile(r"([\d,]+(?:\.\d+)?)\s*(ms|min|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def sql_metric_value(text: str) -> float:
    """A SQL UI metric string ('2.1 s', '113.8 KiB', or the multi-task
    'total (min, med, max ...)\\n5.2 s (...)' form) in seconds or bytes."""
    line = text.strip().splitlines()[-1] if text.strip() else ""
    m = _METRIC_RE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class _PhaseListener:
    """py4j-implemented QueryExecutionListener: records the Catalyst phase
    intervals of every query execution that finishes."""

    def __init__(self):
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - JVM interface
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - JVM interface
        self._record(qe)

    def _record(self, qe):
        rec = {"t": time.time()}
        try:
            phases = qe.tracker().phases()
            for k in ("analysis", "optimization", "planning"):
                opt = phases.get(k)
                if opt.isDefined():
                    p = opt.get()
                    rec[k] = (p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0)
        except Exception as ex:  # noqa: BLE001 - a lost sample must not kill the job
            rec["error"] = repr(ex)
        self.events.append(rec)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkAccounting:
    """Per-operation Spark accounting from the status REST API of a
    UI-enabled session plus the Catalyst phase trackers."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.listener = _PhaseListener()
        self.manager = None
        self.listening = False
        try:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(sc._gateway)
            self.manager = spark._jsparkSession.listenerManager()
        except Exception as ex:  # noqa: BLE001
            print(f"perfbench: Catalyst phase listener unavailable: {ex!r}", file=sys.stderr)

    def listen(self, on: bool) -> None:
        """Register or unregister the Catalyst phase listener, so that an
        operation timed with tracing off does not pay its callbacks."""
        if self.manager is not None and on != self.listening:
            (self.manager.register if on else self.manager.unregister)(self.listener)
            self.listening = on

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every pending event."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001
            time.sleep(0.5)

    def mark(self) -> dict:
        self.drain()
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        sql = self._get("/sql?details=false&offset=0&length=100000")
        return {
            "job": max((j["jobId"] for j in jobs), default=-1),
            "stage": max((s["stageId"] for s in stages), default=-1),
            "sql": len(sql),
            "phase_events": len(self.listener.events),
        }

    def collect(self, mark: dict, t0: float, t1: float) -> dict:
        """Aggregate everything Spark recorded since `mark`."""
        self.drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > mark["job"]]
        stages = [s for s in self._get("/stages") if s["stageId"] > mark["stage"]]
        sql = self._get(f"/sql?details=true&planDescription=false&offset={mark['sql']}&length=100000")
        ivals = []
        for j in jobs:
            s, e = rest_time(j.get("submissionTime")), rest_time(j.get("completionTime"))
            if s is not None:
                ivals.append((s, e if e is not None else t1))
        busy = clip(ivals, t0, t1)
        out = {
            "jobs": len(jobs),
            "stages": len([s for s in stages if s.get("status") != "SKIPPED"]),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "job_busy_s": union_length(busy),
            "job_intervals": busy,
            "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20,
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / 2**20,
            "fetch_wait_s": sum(s.get("shuffleFetchWaitTime", 0) for s in stages) / 1e3,
            "stage_list": stages,
        }
        acc = {k: 0.0 for k in (
            "grouped_run_s", "grouped_boot_s", "grouped_sent_mb", "grouped_returned_mb",
            "udf_run_s", "udf_boot_s", "udf_sent_mb", "broadcast_mb",
        )}
        for q in sql:
            for node in q.get("nodes", []):
                name = node.get("nodeName", "")
                m = {x["name"]: sql_metric_value(x["value"]) for x in node.get("metrics", [])}
                boot = m.get("time to initialize Python workers", 0.0) + m.get(
                    "time to start Python workers", 0.0
                )
                if "GroupsInPandas" in name:
                    acc["grouped_run_s"] += m.get("time to run Python workers", 0.0)
                    acc["grouped_boot_s"] += boot
                    acc["grouped_sent_mb"] += m.get("data sent to Python workers", 0.0) / 2**20
                    acc["grouped_returned_mb"] += (
                        m.get("data returned from Python workers", 0.0) / 2**20
                    )
                elif name in ("ArrowEvalPython", "BatchEvalPython"):
                    acc["udf_run_s"] += m.get("time to run Python workers", 0.0)
                    acc["udf_boot_s"] += boot
                    acc["udf_sent_mb"] += m.get("data sent to Python workers", 0.0) / 2**20
                elif name == "BroadcastExchange":
                    acc["broadcast_mb"] += m.get("data size", 0.0) / 2**20
        out.update(acc)
        cat = {"analysis": [], "optimization": [], "planning": []}
        for ev in self.listener.events[mark["phase_events"]:]:
            for k in cat:
                if k in ev:
                    cat[k].append(ev[k])
        for k, iv in cat.items():
            out[f"{k}_ms"] = 1000.0 * sum(e - s for s, e in iv)
        out["catalyst_intervals"] = clip([x for iv in cat.values() for x in iv], t0, t1)
        return out

    def max_task_over_median(self, stages: list) -> float:
        """max/median task run time of the heaviest shuffle-reading stage."""
        reading = [s for s in stages if s.get("shuffleReadBytes", 0) > 0] or stages
        if not reading:
            return 0.0
        heavy = max(reading, key=lambda s: s.get("executorRunTime", 0))
        q = self._get(
            f"/stages/{heavy['stageId']}/{heavy['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return float(mx) / max(float(med), 1.0)
