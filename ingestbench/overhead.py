"""Tracing-overhead report: run one workload untraced and traced on the
same seed, alternating, and compare the traced runs' ``trace.pass_s``
with the untraced runs' ``pass_s``. Each run measures for
``BENCHMARK.json``'s ``run_seconds``.

    python3 ingestbench/overhead.py --workload events_stream
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SEED = 1
#: Untraced/traced pairs; the order inside a pair alternates.
PAIRS = 2


def _run(workload: str, seconds: int, trace: int) -> float:
    here = os.path.dirname(os.path.abspath(__file__))
    p = subprocess.run(
        [sys.executable, os.path.join(here, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    metrics = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
    return metrics["trace.pass_s" if trace else "pass_s"]["value"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    plain, traced = [], []
    for i in range(PAIRS):
        for trace in (i % 2, 1 - i % 2):
            (traced if trace else plain).append(_run(args.workload, seconds, trace))
    print(json.dumps({
        "workload": args.workload,
        "pass_s_untraced": plain,
        "pass_s_traced": traced,
        "overhead": statistics.median(traced) / statistics.median(plain) - 1,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
