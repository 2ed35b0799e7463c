"""Out-of-program tracing for the ``--trace 1`` run.

The program itself carries no instrumentation. This module wraps the
public calls of each layer at runtime (monkeypatching the class or module
attribute the caller looks up), records a span per call and sets a Spark
job group in the calling thread, so the Spark event log can attribute
stage metrics to the layer that caused them.

Spans are kept in memory and written to ``spans.jsonl`` when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.groups: set[str] = set()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        # a span opened in a thread with no open span of its own (the
        # runner's write pool) is parented to the open runner step
        self.root: int | None = None

    # ---- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        if group is not None:
            self.sc.setJobGroup(group, name)
            self.groups.add(group)
        rec = {"id": sid, "parent": parent, "name": name, "run": self.run_id,
               "thread": threading.get_ident(), **attrs}
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, group=None, on_exit=None) -> None:
        """Replace ``owner.attr`` by a spanned version. ``group`` is a job
        group name or a callable of the call's arguments; ``on_exit(rec,
        result, *args)`` may add attributes to the span record."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            g = group(*args, **kwargs) if callable(group) else group
            with self.span(name, g) as rec:
                result = orig(*args, **kwargs)
                if on_exit is not None:
                    on_exit(rec, result, *args, **kwargs)
                return result

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until ``uninstall``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")

    # ---- derived numbers -------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def uncovered_s(self, span: dict) -> float:
        """Time inside ``span`` covered by none of its child spans."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans if c["parent"] == span["id"]
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (span["end"] - span["start"]) - covered


# ---- Spark event log -----------------------------------------------------------
_ACC = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes")


class MissingStages(RuntimeError):
    pass


def stage_metrics(event_dir: str, tracker_jobs: dict[str, set[int]]) -> dict[str, dict]:
    """Per job group sums of stage task metrics, read from the event log
    (call after the SparkContext stopped, so the log is complete).

    Raises MissingStages when the log lacks any stage or job of the run:
    a submitted stage without its completion, a started job without its
    end, a gap in job ids, or a job the status tracker saw for a traced
    group that the log does not attribute to it. (The tracker may still
    lag behind the log, so only tracker-but-not-log is an error.)"""
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(logs) != 1 or logs[0].endswith(".inprogress"):
        raise MissingStages(f"expected one finished event log, found {logs}")
    job_group: dict[int, str | None] = {}
    stage_jobs: dict[int, int] = {}
    submitted, completed, ended = set(), {}, set()
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get(JOB_GROUP)
                for sid in ev["Stage IDs"]:
                    stage_jobs.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                ended.add(ev["Job ID"])
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                submitted.add((info["Stage ID"], info["Stage Attempt ID"]))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                vals = dict.fromkeys(STAGE_FIELDS, 0.0)
                for acc in info.get("Accumulables", []):
                    hit = _ACC.get(acc.get("Name"))
                    if hit is not None:
                        vals[hit[0]] += float(acc["Value"]) * hit[1]
                completed[key] = vals
    problems = []
    if submitted - set(completed):
        problems.append(f"{len(submitted - set(completed))} stages never completed")
    if set(job_group) - ended:
        problems.append(f"{len(set(job_group) - ended)} jobs never ended")
    if job_group and sorted(job_group) != list(range(max(job_group) + 1)):
        problems.append("job ids have gaps")
    for group, jobs in tracker_jobs.items():
        logged = {j for j, g in job_group.items() if g == group}
        if jobs - logged:
            problems.append(
                f"group {group}: {len(jobs - logged)} jobs missing from the log"
            )
    if problems:
        raise MissingStages("; ".join(problems))
    out: dict[str, dict] = {}
    for (sid, _), vals in completed.items():
        group = job_group.get(stage_jobs.get(sid))
        if group is None:
            continue
        acc = out.setdefault(group, dict.fromkeys(STAGE_FIELDS, 0.0))
        for k, v in vals.items():
            acc[k] += v
    return out


def tracker_jobs(spark, groups) -> dict[str, set[int]]:
    st = spark.sparkContext.statusTracker()
    return {g: set(st.getJobIdsForGroup(g)) for g in groups}
