"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_workflow --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each run starts one fresh child
process (``perfbench/child.py``) with the environment pinned: Spark gets
one local core per CPU this process may use, executors find the repo on
their ``PYTHONPATH``, and Spark's scratch space, Java's temp dir and
every dataset root live in a temp dir under ``.perfbench/`` that is
removed when the run ends.  The child's whole process group (its JVM
and Python workers included) is stopped before this process exits.
The result is the last line of standard output; ``--trace 1`` also
writes the run's spans to ``.perfbench/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("lake_workflow", "curation_ingest")
TIMEOUT_S = 160  # leaves time to stop the child group inside the 180 s limit


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the child's process group, and wait until
    no member is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "muller_spark", "__init__.py")):
        print(f"perfbench: no muller_spark package under {ROOT}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=out_dir)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": workdir,
        "PYTHONPATH": os.pathsep.join([ROOT] + [x for x in [env.get("PYTHONPATH")] if x]),
        "PYTHONHASHSEED": "0",
    })
    cmd = [sys.executable, "-m", "perfbench.child",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--workdir", workdir,
           "--spans", os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")]
    # a terminated run still stops its child group and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        out, code = "", 1
    else:
        code = proc.returncode
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(workdir, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return code or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
