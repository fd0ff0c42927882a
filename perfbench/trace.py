"""Measurement from outside the program: spans, job groups, the Spark event
log, JVM GC time, streaming progress and process memory read from ``/proc``.

Nothing here changes the program. Spans are taken around the benchmark's
own calls into the package (a query's DataFrame construction, Catalyst
planning, the ``count()`` action, a pipeline run, a stream drain) and around
package functions that are wrapped for the length of a traced pass
(``sources.tpch.load``, the pipeline's bronze, silver and gold phases,
``warehouse.commit.publish``). Spark job groups set around the same calls
attribute jobs, stages and tasks in the event log to one op and one layer.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")

# Physical operators that run their work in Python worker processes.
PYTHON_SCOPES = (
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "WindowInPandas",
    "ArrowWindowPython",
    "PythonRDD",
    "ApplyInPandasWithState",
)


class Tracer:
    """Spans held in memory: name, start, end, parent span and op id.

    Each thread keeps its own stack of open spans. A span opened on a thread
    with no open span (a streaming sink's callback) gets ``default_parent``
    as its parent: the op span the main thread is waiting in."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.default_parent: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "parent": stack[-1] if stack else self.default_parent,
                "name": name,
                "op": op,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its children cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class JobGroups:
    """Sets the Spark job group that the event log files each job under."""

    def __init__(self, sc) -> None:
        self.sc = sc

    def set(self, group: str | None) -> None:
        if group is None:
            self.clear()
        else:
            self.sc.setJobGroup(group, group)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)


@contextmanager
def wrapped(targets, tracer: Tracer, groups: JobGroups, current: dict):
    """Wrap package functions for the length of a traced pass.

    ``targets`` holds ``(module, attribute, span name, job-group phase,
    after)`` tuples. While ``current["op"]`` names an op, each call becomes a
    span of that op and, on the main thread, its jobs land in the group
    ``<op>|<phase>``; the group in ``current["group"]`` is restored
    afterwards. ``after(result)``, when given, runs once the span has
    closed. Calls made while no op is current pass straight through."""
    main = threading.main_thread()
    originals = []

    def wrap(orig, name, phase, after):
        def call(*args, **kwargs):
            op = current["op"]
            if op is None:
                return orig(*args, **kwargs)
            on_main = threading.current_thread() is main
            outer = current["group"]
            if on_main:
                current["group"] = f"{op}|{phase}"
                groups.set(current["group"])
            try:
                with tracer.span(name, op):
                    out = orig(*args, **kwargs)
            finally:
                if on_main:
                    current["group"] = outer
                    groups.set(outer)
            if after is not None:
                after(out)
            return out

        return call

    for module, attr, name, phase, after in targets:
        orig = getattr(module, attr)
        originals.append((module, attr, orig))
        setattr(module, attr, wrap(orig, name, phase, after))
    try:
        yield
    finally:
        for module, attr, orig in originals:
            setattr(module, attr, orig)


def tree_size(path: str) -> tuple[int, int]:
    """Bytes and number of the regular files under ``path``."""
    sizes = [os.path.getsize(os.path.join(d, f)) for d, _, names in os.walk(path) for f in names]
    return sum(sizes), len(sizes)


def gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> tuple[str, int]:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            rss = int(fh.read().split()[1]) * PAGE
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip(), rss
    except OSError:
        return "", 0


class RssSampler:
    """Samples the summed resident memory of this process's ``java`` and
    ``python`` descendants (the driver JVM and its Python workers) until
    stopped; keeps the peak of the sum and, for the record, the peak per
    process name. Other descendants are left out: the JVM forks short-lived
    helpers (``chmod``, ``readlink``) whose resident pages, until they
    exec, are the JVM's own."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_name: dict[str, int] = {}
            for p in descendants(me):
                name, rss = _rss_bytes(p)
                if name.startswith(("java", "python")):
                    by_name[name] = by_name.get(name, 0) + rss
            self.peak = max(self.peak, sum(by_name.values()))
            for name, rss in by_name.items():
                self.peak_by_name[name] = max(self.peak_by_name.get(name, 0), rss)
            self._stop.wait(self.period_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def read_event_log(log_dir: str) -> dict:
    """Per job group: job ids, completed stages and task metrics."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name, {"jobs": [], "stages": {}, "tasks": [], "python_task_s": 0.0}
        )

    python_stages: set[int] = set()
    with open(files[0]) as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp:
                    g(grp)["jobs"].append(ev["Job ID"])
            elif line.startswith('{"Event":"SparkListenerStageSubmitted"'):
                ev = json.loads(line)
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                info = ev["Stage Info"]
                if grp:
                    stage_group[info["Stage ID"]] = grp
                scopes = " ".join(r.get("Scope", "") + r.get("Name", "") for r in info["RDD Info"])
                if any(s in scopes for s in PYTHON_SCOPES):
                    python_stages.add(info["Stage ID"])
            elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                ev = json.loads(line)
                info = ev["Stage Info"]
                grp = stage_group.get(info["Stage ID"])
                if grp:
                    g(grp)["stages"][info["Stage ID"]] = (
                        info.get("Completion Time", 0) - info.get("Submission Time", 0)
                    )
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                grp = stage_group.get(ev["Stage ID"])
                if not grp:
                    continue
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                task = {
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "dur_ms": ev["Task Info"]["Finish Time"] - ev["Task Info"]["Launch Time"],
                    "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "write": wr.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
                g(grp)["tasks"].append(task)
                if ev["Stage ID"] in python_stages:
                    g(grp)["python_task_s"] += task["run_ms"] / 1000.0
    return groups


def skew(tasks: list[dict], stages: dict[int, int]) -> float | None:
    """Max over median task time in the op's longest stage."""
    if not stages:
        return None
    longest = max(stages, key=stages.get)
    durs = [t["dur_ms"] for t in tasks if t["stage"] == longest]
    if not durs:
        return None
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else None


def task_metrics(events: dict, ops_or_groups: list[str], prefix: bool = True) -> dict:
    """Exchange, task and Python-worker metrics over the jobs of the given
    ops (every group ``<op>|...``) or of the given job groups."""
    by_op: dict[str, list[dict]] = {}
    for g, rec in events.items():
        key = g.split("|")[0] if prefix else g
        if key in ops_or_groups:
            by_op.setdefault(key, []).append(rec)
    skews, tasks_all, py_s = [], [], 0.0
    for recs in by_op.values():
        op_tasks, op_stages = [], {}
        for g in recs:
            op_tasks += g["tasks"]
            op_stages.update(g["stages"])
            py_s += g["python_task_s"]
        tasks_all += op_tasks
        k = skew(op_tasks, op_stages)
        if k is not None:
            skews.append(k)
    return {
        "exchange.shuffle_read_bytes": sum(t["read"] for t in tasks_all),
        "exchange.shuffle_write_bytes": sum(t["write"] for t in tasks_all),
        "exchange.spill_bytes": sum(t["spill"] for t in tasks_all),
        "task.skew": statistics.median(skews) if skews else 0.0,
        "task.sub10ms_share": (
            sum(t["run_ms"] < 10 for t in tasks_all) / len(tasks_all) if tasks_all else 0.0
        ),
        "pyworker.task_s": py_s,
    }
