"""Crossover of the two ways ``ParquetEntry.df`` reads an entry, timed on
the head path's view refresh (``current_view`` -> per-block count ->
``collect``, as ``perfbench/head_follow.py`` runs it every tick).

For each changelog size a changelog is written the way the head path
writes one (one ``store_logs`` per block of 5 logs, so its buckets hold
the tier-merged files a head changelog holds).  Its refresh is then
timed through both reads, in alternating order:

  rows   the rows read on the driver and handed to Spark as one Arrow
         table (``spark.sql.files.openCostInBytes`` set so that the
         entry's uncompressed size is just within the rows bound)
  scan   Spark's parquet scan as one partition (the open cost set to the
         entry's on-disk size, which puts its rows above the bound)

Two regimes:

  warm   (default) one Spark session for the whole table; each path is
         timed ``--reps`` times after 3 untimed refreshes of each, the
         steady state of a long-running head follower
  fresh  (``--fresh K``) each path runs 3 untimed and ``--reps`` timed
         refreshes in a new Python process and Spark session, K
         alternating process pairs per size: the regime of a short run
         such as the benchmark's (3 set-ups, then a refresh per tick)

The default open cost's choice is printed next to them, so the table
shows which path the bound sends an entry down.  Each cell is the median
refresh and, in brackets, its interquartile range.

    python tools/refresh_crossover.py [--rows 5000 10000 20000 40000] [--reps 15]
    python tools/refresh_crossover.py --fresh 3 --reps 7
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

LOGS_PER_BLOCK = 5
WARMUP = 3
OPEN_COST = "spark.sql.files.openCostInBytes"


def _changelog(root: Path, rows: int):
    from eth_event_tracker_spark.sources.mock_chain import MockProvider
    from eth_event_tracker_spark.store import ParquetStore

    provider = MockProvider()
    provider.advance(rows // LOGS_PER_BLOCK, LOGS_PER_BLOCK)
    clog = ParquetStore(root).changelog_entry("crossover")
    for b in provider.canonical:
        if b.logs():
            clog.store_logs([{**lg, "change_type": "add"} for lg in b.logs()])
    return clog


def _refresh_ms(spark, clog, open_cost: int) -> float:
    from eth_event_tracker_spark.streaming.pipeline import current_view

    prev = spark.conf.get(OPEN_COST)
    spark.conf.set(OPEN_COST, str(open_cost))
    try:
        t = time.perf_counter()
        current_view(clog.df(spark)).groupBy("block_num", "block_hash").count().collect()
        return (time.perf_counter() - t) * 1000
    finally:
        spark.conf.set(OPEN_COST, prev)


def _quartiles(ms: list[float]) -> str:
    q1, q2, q3 = statistics.quantiles(ms, n=4)
    return f"{q2:.0f} [{q1:.0f}–{q3:.0f}]"


def _open_costs(clog) -> dict[str, int]:
    """The open cost that sends ``clog`` down each path."""
    from eth_event_tracker_spark.store.parquet_store import _ROWS_READ_DIVISOR, _uncompressed_bytes

    files = [f for k in clog._buckets() for f in clog._bucket_files(k)]
    disk = sum(f.stat().st_size for f in files)
    raw = sum(_uncompressed_bytes(f) for f in files)
    assert raw * _ROWS_READ_DIVISOR > disk, "the scan path needs uncompressed > on-disk / divisor"
    return {"rows": raw * _ROWS_READ_DIVISOR, "scan": disk, "files": len(files), "raw": raw}


def _child(root: Path, open_cost: int, reps: int) -> int:
    """``--child``: ``reps`` refreshes of the changelog under ``root`` in
    this fresh process, after ``WARMUP`` untimed ones; prints the default
    open cost and the times."""
    from eth_event_tracker_spark.session import get_spark
    from eth_event_tracker_spark.store import ParquetStore

    spark = get_spark("refresh-crossover")
    default = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    clog = ParquetStore(root).changelog_entry("crossover")
    ms = [_refresh_ms(spark, clog, open_cost) for _ in range(WARMUP + reps)][WARMUP:]
    print(json.dumps({"default": default, "ms": ms}))
    spark.stop()
    return 0


def _fresh(clog_root: Path, cost: dict, pairs: int, reps: int) -> tuple[dict, int]:
    ms: dict[str, list[float]] = {"rows": [], "scan": []}
    default = 0
    for i in range(pairs):
        for path in ("rows", "scan") if i % 2 == 0 else ("scan", "rows"):
            out = subprocess.run(
                [sys.executable, __file__, "--child", str(clog_root),
                 "--open-cost", str(cost[path]), "--reps", str(reps)],
                capture_output=True, text=True, check=True,
            )
            rec = json.loads(out.stdout.strip().splitlines()[-1])
            ms[path] += rec["ms"]
            default = rec["default"]
    return ms, default


def _warm(spark, clog, cost: dict, reps: int) -> dict:
    ms: dict[str, list[float]] = {"rows": [], "scan": []}
    for i in range(WARMUP + reps):
        for path in ("rows", "scan") if i % 2 == 0 else ("scan", "rows"):
            t = _refresh_ms(spark, clog, cost[path])
            if i >= WARMUP:
                ms[path].append(t)
    return ms


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, nargs="+", default=[5000, 10000, 20000, 40000])
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--fresh", type=int, default=0, metavar="K")
    ap.add_argument("--child", type=Path, help=argparse.SUPPRESS)
    ap.add_argument("--open-cost", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        return _child(args.child, args.open_cost, args.reps)

    spark = None
    if not args.fresh:
        from eth_event_tracker_spark.session import get_spark

        spark = get_spark("refresh-crossover")
    regime = f"fresh, {args.fresh} process pairs" if args.fresh else "warm"
    print(f"regime: {regime}, {args.reps} refreshes per path and process")
    print("| rows | files | on disk MB | uncompressed MB | rows path ms | scan path ms | default |")
    print("|---|---|---|---|---|---|---|")
    for n in args.rows:
        with tempfile.TemporaryDirectory() as d:
            clog = _changelog(Path(d), n)
            cost = _open_costs(clog)
            if args.fresh:
                ms, default = _fresh(Path(d), cost, args.fresh, args.reps)
            else:
                ms = _warm(spark, clog, cost, args.reps)
                default = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
            chosen = "rows" if cost["rows"] <= default else "scan"
            print(
                f"| {n} | {cost['files']} | {cost['scan'] / 1e6:.2f} | {cost['raw'] / 1e6:.2f} "
                f"| {_quartiles(ms['rows'])} | {_quartiles(ms['scan'])} | {chosen} |",
                flush=True,
            )
    if spark is not None:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
