"""The benchmark's own test: one seed gives one input and one set of work
counts; another seed gives other inputs.

Runs the benchmark command itself (three runs of ``bulk_8k``, two of them
traced, about six minutes on 4 cores). From the repository root:

    python3 -m pytest perfbench/test_determinism.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTS = (
    "lakehouse.commits",
    "lakehouse.compactions",
    "plans.quarantined_rows",
    "operators.latest_wins_rows_out",
    "operators.ingest_dedup.pairs",
)


def _run(seed: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_8k", "--seed", str(seed), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_one_seed_repeats_its_counts_and_another_seed_changes_the_inputs():
    report_a, a = _run(5, trace=1)
    report_b, b = _run(5, trace=1)
    assert a["correct"] and b["correct"]
    for name in COUNTS:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name
    assert report_a["sections"]["input"] == report_b["sections"]["input"]

    report_c, c = _run(6, trace=0)
    assert c["correct"]
    assert report_c["sections"]["input"]["html_bytes"] != report_a["sections"]["input"]["html_bytes"]
