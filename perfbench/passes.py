"""Session start, set-up and timed passes, shared by the untraced and the
traced run."""

from __future__ import annotations

import gc
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

from . import procstat
from .workloads import Workload

GEN_REPEATS = 3  # input generation is repeated; set-up reports the median


def start_session():
    from rdf_to_text_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def deployment(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
    }


def set_up(
    spark, wl: Workload, work: Path, gen_repeats: int = GEN_REPEATS,
    warmup_passes: int | None = None,
) -> tuple[Path, float, list[float]]:
    """Generate the inputs ``gen_repeats`` times (keeping one copy), build
    the oracle, then warm up (``wl.warmup_passes`` unless given). Returns
    (input dir, median generation s, warm-up pass walls)."""
    gens = []
    for k in range(gen_repeats):
        dest = work / f"{wl.name}-input-{k}"
        t0 = time.perf_counter()
        wl.generate(dest)
        gens.append(time.perf_counter() - t0)
        if k:
            shutil.rmtree(dest)
    src = work / f"{wl.name}-input-0"
    wl.prepare_oracle()
    warm = []
    for k in range(wl.warmup_passes if warmup_passes is None else warmup_passes):
        out = work / f"{wl.name}-warm-{k}"
        t0 = time.perf_counter()
        wl.run(spark, src, out)
        warm.append(time.perf_counter() - t0)
        shutil.rmtree(out)
    return src, statistics.median(gens), warm


def settle(pid: int, timeout_s: float = 3.0) -> None:
    """Wait until the process tree stops changing (the previous pass's
    Python workers have exited or gone idle), so passes start alike."""
    deadline = time.monotonic() + timeout_s
    seen, stable = None, 0
    while stable < 3 and time.monotonic() < deadline:
        now = set(procstat.tree_pids(pid))
        stable = stable + 1 if now == seen else 0
        seen = now
        time.sleep(0.1)


def timed_pass(spark, wl: Workload, src: Path, out: Path, sampler) -> dict:
    """One pass, then its output check (outside the timed region)."""
    pid = os.getpid()
    # every pass starts from a collected heap on both sides of py4j, so no
    # pass pays for the previous one's garbage
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    settle(pid)
    cpu0 = procstat.tree_cpu_s(pid)
    ticks0, steal0 = procstat.host_cpu_ticks()
    sampler.reset()
    t0 = time.perf_counter()
    try:
        info = wl.run(spark, src, out)
        error = None
    except Exception:  # a failed pass is counted, not fatal
        info, error = {}, traceback.format_exc()
    wall = time.perf_counter() - t0
    cpu1 = procstat.tree_cpu_s(pid)
    ticks1, steal1 = procstat.host_cpu_ticks()
    rss = sampler.samples()
    rec = {
        "wall_s": wall,
        "cpu_s": sum(cpu1.values()) - sum(cpu0.values()),
        "cpu_split_s": {k: cpu1[k] - cpu0[k] for k in cpu1},
        "peak_rss_mb": max(rss),
        # the peak swings by ~2 GB with how many short-lived Python workers
        # happen to be alive at once; the 90th percentile of the 100 ms
        # samples is the steady figure
        "rss_p90_mb": statistics.quantiles(rss, n=10)[-1] if len(rss) > 1 else rss[0],
        "steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "info": info,
    }
    rec["problems"] = [error] if error else wl.check(out, info)
    for p in rec["problems"]:
        print(f"[perfbench] {wl.name} pass failed: {p}", file=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    return rec
