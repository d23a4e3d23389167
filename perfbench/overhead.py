"""Tracing overhead: traced minus untraced, per end-to-end metric.

Runs the benchmark untraced and traced on the same seeds, one run at a
time, and prints the median of each end-to-end metric in both modes and
their difference. From the root of a checkout:

    python3 perfbench/overhead.py --workload stream_tail --seeds 1 2 3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} trace {trace} failed: {proc.stderr[-1000:]}")
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    if trace:
        return report["traced_end_to_end"]
    return {k: v["value"] for k, v in result["metrics"].items()}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=24)
    args = ap.parse_args(argv)
    runs = {0: [], 1: []}
    for seed in args.seeds:
        for trace in (0, 1):
            runs[trace].append(_run(args.workload, seed, args.seconds, trace))
    out = {}
    for name in runs[0][0]:
        off = statistics.median(r[name] for r in runs[0])
        on = statistics.median(r[name] for r in runs[1])
        out[name] = {"untraced": off, "traced": on, "overhead": on - off, "overhead_share": (on - off) / off}
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "metrics": out}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
