"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 perfbench/overhead.py --workload head_follow --seed 1 [--pairs 3]

Runs ``run.py`` untraced and traced on the same seed, alternating which
goes first, and prints one JSON object: for each end-to-end metric the
median untraced and traced values over the pairs and their difference.
The traced figures come from the line before the result, which a traced
run fills with the end-to-end metrics it measured under tracing.
End-to-end numbers are only ever kept from untraced runs.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def _end_to_end(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True, timeout=600,
    )
    return json.loads(out.stdout.splitlines()[-2])["end_to_end"]


def main() -> int:
    bench = json.loads((RUN.parent.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args()
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i in range(args.pairs):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(_end_to_end(args.workload, args.seed, args.seconds, trace))
    report = {}
    for m in bench["end_to_end"]:
        name = m["name"]
        untraced = statistics.median(r[name] for r in runs[0])
        traced = statistics.median(r[name] for r in runs[1])
        report[name] = {"unit": m["unit"], "untraced": untraced, "traced": traced,
                        "traced_minus_untraced": traced - untraced}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pairs": args.pairs,
                      "overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
