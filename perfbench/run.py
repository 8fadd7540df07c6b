"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed inside perfbench/.work,
starts Spark through the package's own session factory, runs the
workload (set-up, warm-up, then timed iterations for S seconds with a
minimum iteration count), checks its outputs (every drain and read of
the sync workload; each analytics entry once, after the timed sweeps),
and prints as its last stdout line one JSON object: correct, attempted,
failed and metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (and the spans go to perfbench/.traces/). The line
before it is a report with the workload's own named figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

END_TO_END = {"setup_s": "s", "job_cpu_s": "s", "peak_rss_mb": "MB"}


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(harness.WORK, ignore_errors=True)
    harness.prepare_env()
    # the JVM and the Python workers inherit fd 2; keep their noise in
    # a log inside the checkout and show its tail only on failure
    log_path = os.path.join(harness.WORK, "stderr.log")
    real_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log_fd, 2)

    drift_before = harness.drift_probe()
    spark = sampler = None
    try:
        from perfbench import workloads
        fn = workloads.WORKLOADS[args.workload]
        spark, start_s, start_cpu_s, start_jit_s = harness.start_spark()
        sampler = harness.RssSampler(harness.jvm_pid()).start()
        tracer = harness.Tracer(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, args.seed, args.seconds,
                            bool(args.trace), tracer)
        e2e = fn(run)
        e2e["setup_s"] += start_cpu_s
        run.report["setup_wall_s"] = e2e.pop("setup_wall_s") + start_s
        run.report["setup_jit_cpu_s"] = (e2e.pop("setup_jit_cpu_s")
                                          + start_jit_s)
        run.report["session_start_s"] = start_s
        e2e["peak_rss_mb"] = sampler.stop()
        run.report["peak_rss_parts_mb"] = sampler.peak_parts
        sampler = None
        if args.trace:
            run.layers["session.start_s"] = start_s
            tracer.write(os.path.join(
                harness.TRACES, f"{args.workload}-seed{args.seed}.jsonl"))
    except BaseException:
        os.dup2(real_err, 2)
        traceback.print_exc()
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            harness.stop_spark(spark)
        os.dup2(real_err, 2)
        shutil.rmtree(harness.WORK, ignore_errors=True)
    drift_after = harness.drift_probe()

    if args.trace:
        units = _per_layer_units()
        metrics = {n: {"value": float(run.layers.get(n, 0.0)), "unit": u}
                   for n, u in units.items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u in END_TO_END.items()}
    report = {"workload": args.workload, "seed": args.seed,
              "error_frac": run.failed / run.attempted,
              "failures": run.failures,
              "drift_probe_s": [drift_before, drift_after], **run.report}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
