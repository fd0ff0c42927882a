"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Runs one workload of ``perfbench/harness.py`` in a child process with a
pinned environment, relays its output and exits with its code. The pinned
environment:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may run on (local[nproc]);
- ``SPARK_GRAFT_DRIVER_MEM`` = 2g, which fits a 15 GiB machine shared with
  others (the package default is 48g), the same initial heap (-Xms), and
  the heap touched at start-up (-XX:+AlwaysPreTouch);
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir`` inside
  a per-run scratch directory under ``.perfbench_work/``, which is also the
  working directory, so ``spark-warehouse/`` never lands in the tree;
- the repository root on ``PYTHONPATH``, so Spark's Python workers import
  the package;
- ``PYTHONHASHSEED`` = 0, so the driver and the workers lay out their
  dicts and sets the same way in every run;
- with ``--trace 1``, the Spark event log, enabled through the submit
  arguments.

The scratch directory is removed afterwards; span files of traced runs stay
in ``.perfbench_work/``. The last stdout line is the result JSON.
``perfbench/jobcount.py`` runs in the same environment.
"""

from __future__ import annotations

import argparse
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sql_data_warehouse_and_analytics_project_spark"
# heap size; -Xms is pinned to it too, so G1's heap-sizing decisions do not
# vary from run to run (with the default 1/64-of-RAM start heap, pass times
# and resident memory swung by 10-30% between otherwise equal runs), and the
# whole heap is touched at start-up, so the JVM's resident memory does not
# depend on how much of the heap a run happened to cycle through (without
# it, peak resident memory read either about 2.2 or 2.7 GB)
DRIVER_MEM = "2g"
# a run must end within 180 s; stop the child before that, so its process
# tree is reaped and the exit is clean
CHILD_TIMEOUT_S = 170


def _wait_group_gone(pgid: int, timeout_s: float = 10.0) -> None:
    """Wait until no process of the child's process group is left."""
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        alive = False
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    alive = os.getpgid(int(entry)) == pgid
                except ProcessLookupError:
                    continue
                if alive:
                    break
        if not alive:
            return
        time.sleep(0.1)


def run_pinned(tag: str, trace: bool, timeout_s: float, module: str, args=()) -> int:
    """Run ``python -m <module> <args> --workdir <dir>`` in the pinned
    environment, relay its stdout and return its exit code (3 when it ran
    out of time). ``<dir>`` is a fresh scratch directory under
    ``.perfbench_work/``, removed afterwards."""
    out_dir = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(out_dir, f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    eventlog = os.path.join(work, "eventlog")
    for d in (tmp, eventlog, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))

    submit = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "--conf",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf",
            "spark.eventLog.enabled=true",
            "--conf",
            f"spark.eventLog.dir=file://{eventlog}",
            "--conf",
            "spark.eventLog.compress=false",
            "--conf",
            "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    cmd = [sys.executable, "-m", module, *args, "--workdir", work]
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"error: run exceeded {timeout_s} s", file=sys.stderr)
        out = None
    finally:
        # the session leader is the child; its group holds the JVM and the
        # Python workers
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait(timeout=10)
        _wait_group_gone(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        return 3
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    harness_args = [
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--out", os.path.join(ROOT, ".perfbench_work"),
    ]
    return run_pinned(
        f"{args.workload}-{args.seed}", bool(args.trace), CHILD_TIMEOUT_S, "perfbench.harness", harness_args
    )


if __name__ == "__main__":
    sys.exit(main())
