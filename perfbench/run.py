"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The line before it is a
JSON record of the run: environment, per-operation breakdown and any
oracle mismatches. With `--trace 1` the metrics are the per-layer ones.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402


def _stop(spark) -> None:
    """Stop Spark, then the JVM and every process it started, and wait
    for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    descendants = harness.descendants(os.getpid())
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    for pid in descendants:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")

    if not harness.library_present():
        print(f"perfbench: the library is not in {harness.REPO}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(harness.REPO, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.remove(work)
    harness.prepare_env(work)

    import pyspark  # noqa: F401  (interpreter start + imports count as set-up)

    import map_reduce_indexing_spark.api  # noqa: F401
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work,
                        pre_gen_s=time.perf_counter() - T_START)
    try:
        e2e = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            metrics, units = workloads.per_layer(run), workloads.PER_LAYER
        else:
            metrics, units = e2e, workloads.END_TO_END
        run.record["env"] = harness.environment(run.spark, args.seed)
    finally:
        _stop(run.spark)
        harness.remove(work)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    run.record.update(workload=args.workload, failures=run.failures)
    print(json.dumps({"record": run.record}, default=float))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
