"""Benchmark launcher: pins the Spark deployment, runs one benchmark run in
a child process group, and stops every process that run started.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run it from the repository root. ``--trace 1`` turns Spark's event log on
from outside the program (``PYSPARK_SUBMIT_ARGS``) and reports per-layer
metrics instead of end-to-end ones. All scratch files live under
``.perfbench_work/`` in the repository and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
RUN_TIMEOUT_S = 170  # a hung run is stopped well inside three minutes
HEAP_CAP_MB = 2048


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def child_env(work: Path, trace: bool) -> dict:
    env = dict(os.environ)
    # one task slot per two CPUs: a task of a Python UDF stage keeps two
    # processes busy (the JVM task thread and its Python worker), and the
    # JIT compiler and GC threads need room too. On a 4-CPU host, 4 slots
    # were no faster than 2 and spread twice as much between runs.
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    # the heap stays well below what the host has free: the Python workers
    # and the JVM's off-heap memory come on top of it
    heap = min(HEAP_CAP_MB, mem_available_mb() * 2 // 5)
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "warehouse"):
        d.mkdir(parents=True)
    submit = [
        "--driver-java-options",
        # the heap is sized once, up front, so runs do not differ in when
        # the JVM chose to grow it
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}m",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log = work / "eventlog"
        log.mkdir()
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log}",
            "--conf", "spark.eventLog.compress=false",
        ]
        env["PERFBENCH_EVENT_LOG"] = str(log)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{heap}m",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        # Python workers import the package from the repository root
        PYTHONPATH=os.pathsep.join(filter(None, [str(REPO), env.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
        PERFBENCH_WORK=str(work),
    )
    return env


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(leader: subprocess.Popen) -> None:
    """SIGTERM, then SIGKILL, every process of the leader's group; wait
    until none is left (reaping the leader, which would linger as a zombie)."""
    pgid = leader.pid
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        leader.poll()
        if not group_alive(pgid):
            return
        os.killpg(pgid, sig)
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            leader.poll()
            if not group_alive(pgid):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)  # runs the clean-up in main's finally blocks


def main() -> int:
    signal.signal(signal.SIGTERM, _exit_on_signal)
    ap = argparse.ArgumentParser(add_help=False)
    ap.add_argument("--trace", type=int, default=0)
    trace = ap.parse_known_args()[0].trace == 1
    if not (REPO / "rdf_to_text_spark").is_dir():
        print(f"[perfbench] no rdf_to_text_spark package in {REPO}", file=sys.stderr)
        return 2
    work = REPO / ".perfbench_work" / f"run-{os.getpid()}"
    code = None
    try:
        child = subprocess.Popen(
            [sys.executable, "-m", "perfbench.bench", *sys.argv[1:]],
            cwd=REPO, env=child_env(work, trace), start_new_session=True,
        )
        try:
            code = child.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s; stopping it", file=sys.stderr)
        finally:
            stop_group(child)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            work.parent.rmdir()
    return 1 if code is None else code


if __name__ == "__main__":
    sys.exit(main())
