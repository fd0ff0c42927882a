"""One benchmark run of one workload, in a fresh Spark session.

Run by ``perfbench/run.py`` in a child process whose environment, working
directory and Spark submit arguments it pins. Before the clock starts, the
run computes the DuckDB oracle of every ``analytics`` query. Then:

1. starts the session and stages the inputs;
2. gate pass (cold): every op runs and its output is checked; a mismatch
   fails the run;
3. warm passes;
4. timed passes, until ``--seconds`` have passed and at least the
   workload's ``MIN_TIMED_PASSES`` have run; one closed-loop client runs one
   op at a time;
5. with ``--trace 1``, one more pass with spans, job groups, the event log
   and JVM GC time, which gives the per-layer metrics.

Set-up time (``setup_s``) is steps 1-3, less the time spent deriving
expected outputs and checking outputs. The last stdout line is the result
JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

T_START = time.perf_counter()

from . import trace  # noqa: E402
from .oracle import expected_results, mismatch  # noqa: E402
from .writepath import WritePath  # noqa: E402

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# The ``analytics`` queries: a star-schema headliner whose latency is set by
# fixed cost per job (q05 fires 28 jobs for one result), the events
# sessionizer, and document headliners with an eager-checkpoint chain and a
# band self-join (simhash: 14 build jobs) and with member expansion and
# mapInPandas workers (phash). dedup_minhash_lsh (23 build jobs) would cost
# twice simhash's time per pass, which the run budget does not hold.
QUERIES = (
    "q05_magnitude",
    "events_sessionize",
    "dedup_simhash",
    "dedup_image_phash",
)
WORKLOADS = ("analytics", "write_path")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.jobs": "count",
    "build.s": "s",
    "build.jobs": "count",
    "plan.s": "s",
    "action.s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "task.skew": "ratio",
    "task.sub10ms_share": "share",
    "pyworker.task_s": "s",
    "jvm.gc_s": "s",
    "warehouse.bronze_s": "s",
    "warehouse.bronze_jobs": "count",
    "warehouse.silver_s": "s",
    "warehouse.silver_jobs": "count",
    "warehouse.gold_s": "s",
    "warehouse.gold_jobs": "count",
    "warehouse.audit_s": "s",
    "warehouse.audit_jobs": "count",
    "warehouse.commit_calls": "count",
    "warehouse.commit_s": "s",
    "warehouse.commit_jobs": "count",
    "warehouse.bytes_written": "bytes",
    "warehouse.files_written": "count",
    "stream.batches": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.get_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "stream.input_rows_per_batch": "count",
    "stream.jobs": "count",
    "rows_per_s": "1/s",
    "storage_bytes_per_input_byte": "ratio",
    "jobs.total": "count",
    "build_jobs.total": "count",
    "trace.overhead_s": "s",
    "trace.unattributed_share_max": "share",
    "trace.jobs_repeat_mismatch": "count",
}
for _q in QUERIES:
    LAYER_UNITS[f"jobs.{_q}"] = "count"
    LAYER_UNITS[f"build_jobs.{_q}"] = "count"
    LAYER_UNITS[f"wall.{_q}"] = "s"
LAYER_UNITS["jobs.pipeline"] = "count"
LAYER_UNITS["wall.pipeline"] = "s"

# the traced pass fails the run when a query's layer self times leave more
# than this share of its wall time unattributed
UNATTRIBUTED_MAX = 0.05


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile that leaves at least ten samples above it,
    and its value; the maximum when there are ten samples or fewer."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]


class Analytics:
    """Passes over ``queries`` (default ``QUERIES``), with the counts of
    attempted and failed ops and the row count each query must return."""

    # the JIT keeps speeding a query up until its fifth to seventh execution
    # (in one run a pass took 6.4, 5.2, 4.0, 3.6 s, then 3.3-3.7 s for 16
    # more passes at local[4]; in others the fifth and sixth passes were
    # still 5-15% slower than the seventh); with the gate and five warm
    # passes, timing starts after that. Timed on the slope, a run's figures
    # moved with how fast the JIT got its compiles done
    WARM_PASSES = 5
    MIN_TIMED_PASSES = 3

    def __init__(self, seed: int, queries: tuple[str, ...] = QUERIES) -> None:
        self.queries = queries
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0
        self.mismatches: dict[str, str] = {}
        self.expected_count: dict[str, int] = {}
        self.query_s: dict[str, list[float]] = {q: [] for q in queries}

    def prepare(self) -> None:
        """The oracle's answers, computed before the clock starts."""
        from sql_data_warehouse_and_analytics_project_spark.registry import all_queries
        from sql_data_warehouse_and_analytics_project_spark.sources import tpch

        self.registry = registry = all_queries()
        self.expected = expected_results(
            DATA_DIR, tpch.TABLES, {q: registry[q].oracle for q in self.queries}
        )

    def stage(self) -> None:
        """The inputs are the repository's sf0.01 tables, read in place."""

    def order(self) -> list[str]:
        names = list(self.queries)
        self.rng.shuffle(names)
        return names

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.mismatches.setdefault(name, why[:300])

    def gate(self, spark) -> None:
        for name in self.order():
            self.attempted += 1
            spark.catalog.clearCache()
            try:
                df = self.registry[name].fn(spark, DATA_DIR)
                rows = df.collect()
            except Exception as exc:  # noqa: BLE001 — a failed op is a result
                self.fail(name, f"raised {type(exc).__name__}: {exc}")
                continue
            t0 = time.perf_counter()
            why = mismatch(self.expected[name], df, rows)
            self.check_s += time.perf_counter() - t0
            if why:
                self.fail(name, why)
            else:
                self.expected_count[name] = len(rows)

    def count_op(self, spark, name: str) -> float | None:
        """One untraced op: build the DataFrame and count it. Returns its
        latency, or None when it failed or counted the wrong rows."""
        self.attempted += 1
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            n = self.registry[name].fn(spark, DATA_DIR).count()
        except Exception as exc:  # noqa: BLE001
            self.fail(name, f"raised {type(exc).__name__}: {exc}")
            return None
        dt = time.perf_counter() - t0
        if n != self.expected_count.get(name):
            self.fail(name, f"count {n} vs {self.expected_count.get(name)} collected")
            return None
        self.query_s[name].append(round(dt, 3))
        return dt

    def timed_pass(self, spark, groups=None) -> tuple[float, list[float]]:
        """One pass in a seeded order. With ``groups``, each query's jobs
        are filed under the job group ``w:<query>``."""
        lat = []
        t0 = time.perf_counter()
        for name in self.order():
            if groups is not None:
                groups.set(f"w:{name}")
            dt = self.count_op(spark, name)
            if dt is not None:
                lat.append(dt)
        if groups is not None:
            groups.clear()
        return time.perf_counter() - t0, lat

    def traced_pass(self, spark, groups) -> tuple[float, trace.Tracer, dict]:
        from sql_data_warehouse_and_analytics_project_spark.sources import tpch

        tracer = trace.Tracer()
        current = {"op": None, "group": None}
        ops: dict[str, int] = {}
        targets = [(tpch, "load", "sources.load", "sources", None)]
        t0 = time.perf_counter()
        with trace.wrapped(targets, tracer, groups, current):
            for name in self.order():
                op = f"t:{name}"
                self.attempted += 1
                spark.catalog.clearCache()
                with tracer.span("op", op) as root:
                    ops[name] = root["id"]
                    current.update(op=op, group=f"{op}|build")
                    groups.set(current["group"])
                    with tracer.span("build", op):
                        df = self.registry[name].fn(spark, DATA_DIR)
                    current["op"] = None
                    counted = df.groupBy().count()
                    groups.set(f"{op}|plan")
                    with tracer.span("plan", op):
                        counted._jdf.queryExecution().executedPlan()
                    groups.set(f"{op}|action")
                    with tracer.span("action", op):
                        n = counted.collect()[0][0]
                groups.clear()
                if n != self.expected_count.get(name):
                    self.fail(name, f"traced count {n} vs {self.expected_count.get(name)}")
        return time.perf_counter() - t0, tracer, ops

    def layer_metrics(self, tracer: trace.Tracer, ops: dict[str, int], events: dict) -> dict:
        """Per-layer metrics of the traced pass."""
        selfs = tracer.self_times()
        m: dict[str, float] = {}
        add = lambda k, v: m.__setitem__(k, m.get(k, 0.0) + v)  # noqa: E731
        spans_by_op: dict[str, list[dict]] = {}
        for s in tracer.spans:
            spans_by_op.setdefault(s["op"], []).append(s)
        unattributed = []
        for name, root_id in ops.items():
            op = f"t:{name}"
            root = tracer.spans[root_id]
            wall = root["end"] - root["start"]
            m[f"wall.{name}"] = wall
            unattributed.append(selfs[root_id] / wall)
            add("sources.load_calls", 0)
            for s in spans_by_op[op]:
                if s["name"] == "sources.load":
                    add("sources.load_calls", 1)
                    add("sources.load_s", selfs[s["id"]])
                elif s["name"] in ("build", "plan", "action"):
                    add(f"{s['name']}.s", selfs[s["id"]])
            grp = {ph: events.get(f"{op}|{ph}", {}) for ph in ("sources", "build", "plan", "action")}
            njobs = {ph: len(g.get("jobs", [])) for ph, g in grp.items()}
            add("sources.jobs", njobs["sources"])
            add("build.jobs", njobs["build"])
            add("action.jobs", njobs["action"] + njobs["plan"])
            m[f"build_jobs.{name}"] = njobs["sources"] + njobs["build"]
            m[f"jobs.{name}"] = sum(njobs.values())
            add("action.stages", len(grp["action"].get("stages", {})))
            add("action.tasks", len(grp["action"].get("tasks", [])))
            warm_jobs = len(events.get(f"w:{name}", {}).get("jobs", []))
            add("trace.jobs_repeat_mismatch", int(warm_jobs != m[f"jobs.{name}"]))
        m["jobs.total"] = sum(m[f"jobs.{q}"] for q in self.queries)
        m["build_jobs.total"] = sum(m[f"build_jobs.{q}"] for q in self.queries)
        m["trace.unattributed_share_max"] = max(unattributed)
        m.update(trace.task_metrics(events, [f"t:{q}" for q in self.queries]))
        return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True, help="scratch directory, removed after the run")
    ap.add_argument("--out", required=True, help="directory that keeps the span files")
    args = ap.parse_args(argv)

    from sql_data_warehouse_and_analytics_project_spark.session import get_spark

    rss = trace.RssSampler()
    rss.start()
    if args.workload == "analytics":
        w = Analytics(args.seed)
    else:
        w = WritePath(args.workdir, args.seed, os.path.join(DATA_DIR, "events.parquet"))
    w.prepare()
    t_prepared = time.perf_counter()

    detail: dict = {"workload": args.workload, "seed": args.seed}
    passes: list = []
    walls: list[float] = []
    lat: list[float] = []
    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t_setup
    groups = trace.JobGroups(spark.sparkContext) if args.trace else None
    try:
        w.stage()
        t0 = time.perf_counter()
        w.gate(spark)
        passes.append(("gate", time.perf_counter() - t0))
        if not w.mismatches:
            for i in range(w.WARM_PASSES):
                # with --trace 1 the last warm pass files each query's jobs
                # under its own group, for the traced pass to compare with
                last = groups if i == w.WARM_PASSES - 1 else None
                wall, _ = w.timed_pass(spark, last)
                passes.append(("warm", wall))
            setup_s = time.perf_counter() - t_setup - w.check_s

            t_window = time.perf_counter()
            while not w.mismatches:
                # without warm passes, the first timed pass files the jobs
                # for the traced pass to compare with
                first = groups if w.WARM_PASSES == 0 and not walls else None
                wall, per_op = w.timed_pass(spark, first)
                walls.append(wall)
                lat += per_op
                passes.append(("timed", wall))
                if len(walls) >= w.MIN_TIMED_PASSES and time.perf_counter() - t_window >= args.seconds:
                    break

            if args.trace and not w.mismatches:
                gc0 = trace.gc_seconds(spark)
                traced = w.traced_pass(spark, groups)
                gc_s = trace.gc_seconds(spark) - gc0
                passes.append(("traced", traced[0]))
    except Exception as exc:  # noqa: BLE001 — a failed run is a result
        w.fail("run", f"raised {type(exc).__name__}: {exc}")
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        # end the JVM (it exits when its stdin closes) and wait for it
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        rss.stop()

    detail["prepare_s"] = round(t_prepared - T_START, 3)
    detail["passes_s"] = [(k, round(v, 4)) for k, v in passes]
    detail["mismatches"] = w.mismatches
    detail["session_start_s"] = round(session_start_s, 3)
    detail["peak_rss_mb_by_process"] = {k: round(v / 2**20, 1) for k, v in rss.peak_by_name.items()}
    detail["ops_s"] = [round(v, 3) for v in lat]
    if isinstance(w, Analytics):
        detail["query_s"] = w.query_s
    if lat:
        pct, tail_v = tail(lat)
        detail["op_tail"] = {"percentile": round(pct, 2), "samples": len(lat), "value_s": tail_v}
    ok = not w.mismatches and w.failed == 0 and bool(lat)

    metrics: dict = {}
    units = END_TO_END
    if ok and args.trace:
        events = trace.read_event_log(os.path.join(args.workdir, "eventlog"))
        metrics = {k: 0.0 for k in LAYER_UNITS}
        metrics.update(w.layer_metrics(*traced[1:], events))
        metrics["session.start_s"] = session_start_s
        metrics["jvm.gc_s"] = gc_s
        metrics["trace.overhead_s"] = traced[0] - statistics.median(walls)
        traced[1].dump(os.path.join(args.out, f"spans-{args.workload}-seed{args.seed}.json"))
        units = LAYER_UNITS
        # the traced pass's own checks
        if metrics["trace.jobs_repeat_mismatch"] > 0:
            w.fail("trace", "job counts differ between the warm and the traced pass")
        if metrics["trace.unattributed_share_max"] > UNATTRIBUTED_MAX:
            w.fail("trace", f"layer self times miss more than {UNATTRIBUTED_MAX:.0%} of an op")
        ok = not w.mismatches
    elif ok:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(lat),
            "peak_rss_mb": rss.peak / 2**20,
        }

    print("PERFBENCH_DETAIL " + json.dumps(detail), flush=True)
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": w.attempted,
                "failed": w.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
