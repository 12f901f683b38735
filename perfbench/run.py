"""Benchmark entry point: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 \\
        --trace 0

Run from the root of a checkout.  With ``--trace 0`` the result carries
the end-to-end metrics; with ``--trace 1`` the per-layer metrics, and
the raw spans go to standard error.  The last line of standard output is
the result; the line before it records the host the run saw.  Exits
non-zero without a result if the engine is missing.
"""

import time

T_PROCESS = time.monotonic()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("interactive", "pipeline", "local")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "cascalog_spark",
                                       "__init__.py")):
        print(f"perfbench: no cascalog_spark package under {root}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import harness

    run = harness.Run(args.workload, args.seed, args.seconds,
                      bool(args.trace), T_PROCESS, root)
    try:
        workload = _workload(args.workload, run)
        try:
            raw = harness.measure(run, workload)
            metrics = (harness.per_layer(run, raw, workload) if args.trace
                       else harness.end_to_end(run, raw))
        finally:
            workload.close()
            harness.stop_spark(run)
    finally:
        harness.cleanup(run)
    from perfbench import proc

    if args.trace:
        print(json.dumps({"spans": run.tracer.dump()}), file=sys.stderr)
    print(json.dumps({"host": {
        "nproc": proc.nproc(), "slots": harness.SLOTS,
        "steal_frac": round(raw["steal"], 4), "load1": proc.load1(),
        "ops": raw["ops"], "window_s": round(raw["window_s"], 3)}}))
    print(result_line(run, raw["ops"], metrics))
    return 0


def result_line(run, ops: int, metrics: dict) -> str:
    """The result as strict JSON.  A median over mostly failed ops is
    unbounded; it prints as null, and ``correct`` is false then."""
    return json.dumps({
        "correct": not run.errors,
        "attempted": ops,
        "failed": sum(1 for _, good in run.lat if not good),
        "metrics": {k: {"value": v if math.isfinite(v) else None,
                        "unit": u} for k, (v, u) in metrics.items()}},
        allow_nan=False)


def _workload(name: str, run):
    if name in ("interactive", "local"):
        from perfbench.interactive import Interactive, Local

        return (Interactive if name == "interactive" else Local)(run)
    from perfbench.pipeline import Pipeline

    return Pipeline(run)


if __name__ == "__main__":
    sys.exit(main())
