"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the seeded inputs (cached under
.perfbench/), starts one Spark session at local[nproc], sets up, then:

  --trace 0  runs the workload's closed loop for --seconds and reports the
             end-to-end metrics (medians over every timed op);
  --trace 1  runs one op sequence with spans around every public layer call,
             then the same sequence untraced, and reports the per-layer
             metrics, Spark counters from the session's event log, and the
             tracing overhead (traced minus untraced wall).

Outputs are checked on every op; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

WORKLOADS = {
    "web-crawl": "web_crawl",
    "probe-serve": "probe_serve",
    "curation-queries": "curation_queries",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    env = harness.configure_env()
    import importlib

    import catalog
    import spans

    wl = importlib.import_module(WORKLOADS[args.workload])
    context = {
        **env, **harness.versions(), "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "canary_start_s": harness.cpu_canary(),
    }
    inp = wl.prepare(args.seed)  # untimed: cached by (size, seed)
    checks = harness.Checks()
    event_dir = harness.WORK / "eventlog" if args.trace else None
    steal0, wall0 = harness.steal_s(), time.perf_counter()
    with harness.PeakRss() as rss:
        with harness.OpClock() as session:
            spark = harness.start_spark(f"perfbench-{args.workload}", event_dir)
        try:
            app_id = spark.sparkContext.applicationId
            state, setup_detail = wl.setup(spark, inp, checks)
            setup_s = session.cpu + setup_detail["setup_cpu_s"]
            if args.trace:
                metrics, detail = wl.traced(spark, state, checks)
            else:
                metrics, detail = wl.measure(spark, state, args.seconds, checks)
            rss.sample()
        finally:
            harness.stop_spark(spark)
    context["peak_rss_mb"] = rss.mb
    context["steal_frac"] = (harness.steal_s() - steal0) / (
        (time.perf_counter() - wall0) * harness.host_cpus())
    context["canary_end_s"] = harness.cpu_canary()
    context["setup"] = {"session": {"wall_s": session.wall, "cpu_s": session.cpu},
                        **setup_detail}
    context["detail"] = detail
    context["failures"] = checks.failures

    if args.trace:
        groups = spans.fold_event_log(event_dir, app_id)
        if hasattr(wl, "job_metrics"):
            metrics.update(wl.job_metrics(groups, detail))
        metrics.update(spans.layer_counters(groups))
        context["job_groups"] = groups
        # a layer this workload never reaches reports 0
        values = {k: harness.metric(metrics.get(k, 0.0), u)
                  for k, u in catalog.PER_LAYER.items()}
    else:
        metrics.update(setup_s=setup_s, ok_ops_frac=checks.ok_frac)
        values = {k: harness.metric(metrics[k], u) for k, u in catalog.END_TO_END.items()}
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": values,
    }
    harness.emit(result, context, f"{args.workload}-seed{args.seed}-trace{args.trace}-pid{os.getpid()}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
