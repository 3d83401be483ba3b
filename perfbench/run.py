"""Benchmark of the versioned-table engine, one workload per process.

    python3 perfbench/run.py --workload versioned --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A fuller record of the run goes to
``perfbench/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback


def process_start() -> float:
    """``perf_counter`` reading of the moment this process was started."""
    now_pc = time.perf_counter()
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
        return now_pc - (time.clock_gettime(time.CLOCK_BOOTTIME) - started)
    except (OSError, ValueError, IndexError):
        return now_pc


PROCESS_START = process_start()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["versioned", "log_depth", "analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    import harness

    work = (harness.BENCH_DIR / ".work"
            / f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        harness.prepare_process(work)
        import workloads

        run = workloads.Run(args.seed, args.seconds, bool(args.trace), work)
        if args.workload in workloads.NEEDS_SPARK:
            spark = harness.start_spark()
            run.mark("spark")
        workloads.WORKLOADS[args.workload](run, spark)
        e2e = run.end_to_end(PROCESS_START)
        run.detail["phases"] = {k: v - PROCESS_START for k, v
                                in run.detail.get("phases", {}).items()}
        layers = run.per_layer(spark) if args.trace else {}
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove_tree(work)

    metrics = layers if args.trace else e2e
    result = {
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    out = harness.BENCH_DIR / "results"
    out.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = dict(result, workload=args.workload, seed=args.seed,
                  seconds=args.seconds, errors=run.errors, detail=run.detail,
                  end_to_end={k: v for k, (v, _u) in e2e.items()})
    (out / f"{stem}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        (out / f"trace-{stem}.json").write_text(json.dumps(run.trace_dump()))
    harness.emit(result)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001 - any failure: no result line
        traceback.print_exc()
        sys.exit(1)
