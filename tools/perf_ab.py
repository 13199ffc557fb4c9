"""Same-host A/B of one benchmark workload: a base git revision against
the working tree, in alternating order.

    python3 tools/perf_ab.py --base HEAD --workload head_follow --pairs 10 --seed0 11
    make perf-ab W=head_follow BASE=HEAD PAIRS=10 [TRACE=1]

The base revision's committed files are extracted (``git archive``) into
a fresh temporary directory, which is deleted afterwards.  Pair ``i``
runs ``perfbench/run.py`` once on each side with seed ``seed0 + i`` and
the run length of ``BENCHMARK.json``; even pairs run the base first, odd
pairs the change.  Prints every run's metrics, then per metric each
side's median, the base's interquartile spread and how many pairs the
change won (ties count for neither side), and the relative change of
the median.  An end-to-end metric whose change median is worse than the
base median by more than its ``bound`` in ``BENCHMARK.json`` is marked
``BEYOND BOUND``.  The metrics are the
end-to-end ones of ``BENCHMARK.json``, or with ``--trace 1`` its
per-layer ones (traced runs; metrics that read 0 in every run are left
out), which shows in which layer a change saves or costs.  Exits 1 when
any run failed or reported incorrect output.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _extract(rev: str, dest: Path) -> None:
    archive = subprocess.Popen(["git", "-C", str(ROOT), "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def _run(checkout: Path, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One run; its last stdout line, or a failed record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-4000:])
        return {"correct": False, "failed": None, "metrics": {}}
    return out


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def _summary_line(
    name: str, width: int, b: list[float], c: list[float], better: str, bound: float | None
) -> str:
    """One metric's summary: both medians, the base IQR, the pairs the
    change won, the relative change of the median, and ``BEYOND BOUND``
    when the change median is worse than the base median by more than
    ``bound`` (a fraction; None: no bound)."""
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (cv - bv) > 0 for bv, cv in zip(b, c))
    q1, q3 = _quartiles(b)
    mb, mc = statistics.median(b), statistics.median(c)
    rel = (mc - mb) / mb if mb else 0.0
    beyond = bound is not None and -sign * rel > bound
    return (f"{name:{width}s} {mb:12.4g} {mc:14.4g} {q3 - q1:10.4g} "
            f"{wins:>8d}/{len(b)} {rel:+8.1%}" + ("  BEYOND BOUND" if beyond else ""))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: traced runs, per-layer metrics")
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    better = {m["name"]: m["better"] for m in metrics}
    bound = {m["name"]: m["bound"] for m in metrics if "bound" in m}
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    base_dir = Path(tempfile.mkdtemp(prefix="perf-ab-"))
    try:
        _extract(args.base, base_dir)
        checkouts = {"base": base_dir, "change": ROOT}
        for i in range(args.pairs):
            seed = args.seed0 + i
            for side in ("base", "change") if i % 2 == 0 else ("change", "base"):
                out = _run(checkouts[side], args.workload, seed, seconds, args.trace)
                runs[side].append(out)
                shown = " ".join(
                    f"{k}={v['value']:.4g}" for k, v in sorted(out["metrics"].items()) if v["value"]
                )
                print(f"pair {i} {side:6s} seed={seed} correct={out['correct']} "
                      f"failed={out['failed']} {shown}", flush=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)

    ok = all(r["correct"] and r["metrics"] for side in runs.values() for r in side)
    if not ok:
        print("some runs failed or reported incorrect output; no summary")
        return 1
    print(f"\n{args.workload}: {args.pairs} pairs, base {args.base} vs working tree")
    width = max(len(n) for n in better)
    print(f"{'metric':{width}s} {'base median':>12s} {'change median':>14s} "
          f"{'base IQR':>10s} {'change wins':>12s} {'change':>8s}")
    for name in sorted(better):
        b = [r["metrics"][name]["value"] for r in runs["base"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        if any(b) or any(c):
            print(_summary_line(name, width, b, c, better[name], bound.get(name)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
