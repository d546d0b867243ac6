"""Tracing overhead: run one workload untraced and traced on the same
seed and print traced minus untraced for every end-to-end metric.

    python3 perfbench/overhead.py --workload interactive --seed 1 \
        --seconds 5

Both runs print their end-to-end values on the ``report:`` line, so the
traced run's figures include the event log and the py4j counter. The
traced run's per-layer metrics are printed last, as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

E2E = ("setup_s", "op_p50_ms", "items_per_s", "index_bytes_ratio")


def run(workload: str, seed: int, seconds: int, trace: int):
    """One run's (report line, metrics of its last line)."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    lines = out.splitlines()
    line = next(x for x in lines if x.startswith("report: "))
    return json.loads(line[len("report: "):]), json.loads(lines[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=5)
    args = p.parse_args()
    plain, _ = run(args.workload, args.seed, args.seconds, 0)
    traced, layers = run(args.workload, args.seed, args.seconds, 1)
    for k in E2E:
        d = traced[k] - plain[k]
        print(f"{k:18s} untraced={plain[k]:12.4f} traced={traced[k]:12.4f} "
              f"overhead={d:+.4f} ({d / plain[k]:+.1%})")
    print(json.dumps({k: v["value"] for k, v in layers.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
