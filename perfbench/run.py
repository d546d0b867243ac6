"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive|upsert --seed N \
        --seconds S --trace 0|1

Run from the repository root. Generates the workload's corpus and query
stream from ``--seed`` (cached under ``.perfbench_work/corpus``), runs
the engine on a ``local[4]`` Spark session, checks the results, prints a
human-readable ``report:`` line and, last, one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (Spark event log + py4j counter on). Every file the run
writes stays under ``.perfbench_work`` in the repository root; the
per-run directory (index, Spark scratch, event log) is deleted at exit.
Exit code 0 when every check passed, 1 when a check failed, 2 when the
engine sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "search_engine_spark", "query.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=work_dir)
    # everything Spark, py4j and the engine write goes under run_dir
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = workloads.DRIVER_MEM
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    ctx = workloads.Context(
        args.seed, args.seconds, bool(args.trace), work_dir, run_dir
    )
    os.chdir(run_dir)
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
    finally:
        ctx.stop()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = out["layers"] if args.trace else out["e2e"]
    report = dict(ctx.report)
    report.update({k: v for k, (v, _u) in out["e2e"].items()})
    report["failed_ops_ratio"] = ctx.failed / max(1, ctx.attempted)
    report["span_s"] = {
        name: round(sum(ctx.rec.seconds(name)), 3)
        for name in dict.fromkeys(n for n, *_ in ctx.rec.spans)
    }
    print("report: " + json.dumps({"workload": args.workload,
                                   "seed": args.seed, **report}))
    correct = ctx.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
