"""One benchmark run in a pinned Spark deployment (started by ``run.py``).

Untraced (``--trace 0``): start the session, generate the seed's inputs,
warm up, then run timed passes for ``--seconds`` and report the medians of
the end-to-end metrics. Traced (``--trace 1``): the staged layer sweep of
``sweep.py`` with Spark's event log on, reporting the per-layer metrics.

The last stdout line is the result object; the line before it is a report
with the deployment, the traffic, every pass and (traced) every span.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

from . import procstat
from .passes import deployment, set_up, start_session, timed_pass
from .workloads import WORKLOADS

END_TO_END = {
    "pages_per_s": "pages/s",
    "wall_s": "s",
    "cpu_s": "s",
    "setup_s": "s",
    "rss_p90_mb": "MB",
}


def median_of(passes: list[dict], key: str) -> float:
    return statistics.median(p[key] for p in passes)


def untraced(args, spark, session_s: float, work: Path, sampler) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload](args.seed, args.scale)
    src, gen_s, warm = set_up(spark, wl, work)
    passes, measured = [], 0.0
    while measured < args.seconds or len(passes) < wl.min_passes:
        rec = timed_pass(spark, wl, src, work / f"{wl.name}-pass-{len(passes)}", sampler)
        passes.append(rec)
        measured += rec["wall_s"]
    good = [p for p in passes if not p["problems"]] or passes
    wall = median_of(good, "wall_s")
    values = {
        "pages_per_s": wl.pages / wall,
        "wall_s": wall,
        "cpu_s": median_of(good, "cpu_s"),
        "setup_s": session_s + gen_s + sum(warm),
        "rss_p90_mb": median_of(good, "rss_p90_mb"),
    }
    failed = sum(1 for p in passes if p["problems"])
    report = {
        "workload": wl.name,
        "why": wl.why,
        "traffic": wl.traffic(),
        "setup": {"session_s": session_s, "generate_s": gen_s, "warmup_s": warm},
        "passes": passes,
        # reported here, not as result metrics: fail_frac is 0 on a healthy
        # run, the peak swings with Python worker churn, and only kg_stream
        # has micro-batches
        "fail_frac": {"value": failed / len(passes), "unit": "ratio"},
        "peak_rss_mb": {"value": median_of(good, "peak_rss_mb"), "unit": "MB"},
    }
    batches = [p["info"]["durations_ms"] for p in good if p["info"].get("durations_ms")]
    if batches:
        report["batch_p50_s"] = {
            "value": statistics.median(
                statistics.median(d["triggerExecution"] for d in b) / 1000 for b in batches
            ),
            "unit": "s",
        }
    result = {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()},
    }
    return report, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor")
    args = ap.parse_args(argv)
    work = Path(os.environ["PERFBENCH_WORK"])

    with procstat.RssSampler(os.getpid()) as sampler:
        started = time.time()
        spark, session_s = start_session()
        try:
            if args.trace:
                from .sweep import TracedRun

                run = TracedRun(args, work, started, session_s)
                report = run.execute(spark, sampler)
            else:
                report, result = untraced(args, spark, session_s, work, sampler)
            report["deployment"] = deployment(spark)
        finally:
            spark.stop()
    if args.trace:
        # the event log is complete only once the session has stopped
        report["spans"], result = run.finish(Path(os.environ["PERFBENCH_EVENT_LOG"]))
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
