"""One benchmark run inside a fresh process; started by ``run.py``,
which pins the environment first.  Prints the result object as the
last line of standard output."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--workdir", required=True)
    p.add_argument("--spans", required=True)
    args = p.parse_args(argv)

    t0 = time.perf_counter()
    from muller_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.workdir}",
        "spark.sql.warehouse.dir": os.path.join(args.workdir, "warehouse"),
    }
    if args.trace:
        # keep every job and stage in the status store until the readout
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    from perfbench import trace, workloads

    try:
        run = workloads.measure(spark, args.workload, args.seed, args.workdir, args.seconds,
                                session_s, args.spans if args.trace else None)
    except workloads.OpFailed:
        print("perfbench: set-up failed", file=sys.stderr)
        return 1
    h, rounds_s = run["harness"], run["rounds_s"]
    if not rounds_s:
        print("perfbench: no round completed", file=sys.stderr)
        return 1

    print(f"perfbench: {args.workload} seed={args.seed} rounds={len(rounds_s)} "
          f"ops={h.attempted} failed={h.failed} samples per kind: "
          + ", ".join(f"{k}={len(v)}" for k, v in sorted(h.times.items())), file=sys.stderr)
    print("  seconds per kind: " + ", ".join(
        f"{k}={sum(v):.3f}" for k, v in sorted(h.times.items())), file=sys.stderr)
    for name, value in run["e2e"].items():
        print(f"  {name:22s} {value:.6g}", file=sys.stderr)
    if run["layer"]:
        for line in trace.summary_lines(run["layer"]):
            print(line, file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics, listed = ((run["layer"], spec["per_layer"]) if args.trace
                       else (run["e2e"], spec["end_to_end"]))
    result = {
        "correct": run["complete"] and h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in listed},
    }
    spark.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
