"""Shared plumbing for the benchmark: the run context, the Spark session,
timing statistics, the process-tree memory sampler and process cleanup.

Everything the benchmark writes lives under ``<checkout>/perfbench/_work``
so a run touches nothing outside its checkout.
"""

from __future__ import annotations

import math
import os
import shutil
import signal
import sys
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, "perfbench", "_work")
CORES = 4  # local[4]: the benchmark is sized for a 4-core machine


@dataclass
class Ctx:
    """One benchmark run: its arguments, scratch dir and collected output."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    size: str = "default"          # "tiny" is for the self-test only
    corrupt: str | None = None     # self-test: damage one output before the check
    work: str = ""
    t_start: float = field(default_factory=time.perf_counter)
    t_spark: float = 0.0                         # when the session was up
    attempted: int = 0
    failed: int = 0
    info: dict = field(default_factory=dict)     # printed, not scored
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    # traced runs: the tracer, per-layer values, runs they are summed
    # over, and the status tracker's job ids per traced job group
    tracer: object = None
    layer_values: dict = field(default_factory=dict)
    layer_runs: int = 1
    tracker: dict = field(default_factory=dict)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def prepare_work(ctx: Ctx) -> None:
    """Private scratch dir for this run; Spark, the JVM and Python temp
    files are all pointed inside it before any of them start."""
    ctx.work = os.path.join(WORK_ROOT, f"{ctx.workload}-{os.getpid()}")
    shutil.rmtree(ctx.work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(ctx.path(d), exist_ok=True)
    os.environ["TMPDIR"] = ctx.path("tmp")
    # every JVM, the spark-submit launcher included, keeps its temp files
    # in the run's dir and writes no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData"
    # local mode runs every executor inside the driver JVM. Under the
    # program's default 8 GB heap max, G1 grows the heap by its own
    # heuristics and crawl_daily's peak_rss_mb spread 0.30 (IQR/median)
    # over ten seeds; capped at 3 GB it stays near 3 GB while JVM GC time
    # (~1 s a run, printed as info jvm) and throughput were the same
    os.environ["FS_DRIVER_MEM"] = "3g"
    os.environ["FS_LOCAL_DIR"] = ctx.path("spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_spark(ctx: Ctx):
    from fundamental_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": ctx.path("spark-warehouse"),
    }
    if ctx.trace:
        # every stage of the run must be accounted for: the event log has
        # no retention limit, and the status store keeps every job so the
        # two can be cross-checked (tracing.stage_metrics)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.path("events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.scheduler.listenerbus.eventqueue.capacity": "200000",
        })
    spark = get_spark(
        "perfbench-" + ctx.workload,
        master=f"local[{CORES}]",
        shuffle_partitions=2 * CORES,  # the test suite's local[4] setting
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_stats(spark) -> dict:
    """The driver JVM's maximum heap and the time its garbage collectors
    have spent since it started, from its management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"heap_max_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getMax() >> 20,
            "gc_s": gc_ms / 1000.0}


# ---- statistics -------------------------------------------------------------
def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = q * (len(v) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_quantile(n: int, wanted: float) -> float:
    """The highest quantile <= ``wanted`` with at least ten of ``n``
    samples beyond it. Below twenty samples no quantile above the median
    has ten beyond it; the tail is then the maximum (q=1)."""
    if n >= 20:
        return min(wanted, 1.0 - 10.0 / n)
    return 1.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# ---- process tree -------------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, so a sum over a
    process tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (PSS) of this process and every descendant
    (the JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        kb = _pss_kb(me) + sum(_pss_kb(p) for p in descendants(me))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended and only awaits its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2:].split()[0] != "Z"


def stop_spark_and_children(spark) -> None:
    """Stop the SparkContext, then the JVM gateway, and wait until every
    process this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    pids = descendants()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the gateway may already be gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in pids:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        # reap anything still parented to us
        for pid in descendants():
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass
