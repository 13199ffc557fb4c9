"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload head_follow --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Workloads: ``head_follow``,
``stream_backfill``, ``registry_sf01`` (see BENCHMARK.json for why each
exists).  With ``--trace 0`` the last stdout line carries the end-to-end
metrics of BENCHMARK.json; with ``--trace 1`` it carries the per-layer
metrics and the spans are written to ``.perfbench/out/``.  The line before
it holds the host shape, the seed and the workload's own named figures.

Set-up time (``setup_s``) is the time from process start to a ready Spark
session plus the median of the workload's data set-ups, each repeated
``harness.SETUP_REPEATS`` times in fresh directories.

Every file the run writes stays under ``.perfbench/`` in the checkout, and
the Spark JVM and its workers are stopped and waited for before exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("head_follow", "stream_backfill", "registry_sf01")

def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _metrics(spec: list[dict], values: dict[str, float], default=None) -> dict:
    out = {}
    for m in spec:
        v = values.get(m["name"], default)
        if v is None:
            raise KeyError(f"workload did not report metric {m['name']}")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "eth_event_tracker_spark" / "__init__.py").is_file():
        print(f"no eth_event_tracker_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))

    base = ROOT / ".perfbench"
    work = base / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    _prepare_env(work)
    host = {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        # unset means get_spark's shipped default
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg_start": _loadavg(),
        "python": platform.python_version(),
        "git_commit": _git_commit(),
    }

    from harness import Ctx, Result
    from tracing import SparkJobs, Tracer

    workload = importlib.import_module(args.workload)
    from eth_event_tracker_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    session_ready_s = time.perf_counter() - PROCESS_START
    host["spark"] = spark.version
    host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    tracer = Tracer(bool(args.trace))
    ctx = Ctx(
        spark=spark,
        tracer=tracer,
        jobs=SparkJobs(spark) if args.trace else None,
        seed=args.seed,
        seconds=args.seconds,
        work=work,
        out=base / "out",
    )
    try:
        res: Result = workload.run(ctx)
    finally:
        tracer.restore()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_end"] = _loadavg()

    setup_s = session_ready_s + statistics.median(res.setup_s)
    if args.trace:
        tracer.write(ctx.out / f"spans-{args.workload}-seed{args.seed}.jsonl")
        layers = {f"{k}.self_s": v for k, v in tracer.self_seconds_by_layer().items()}
        layers.update(res.layers)
        layers["session.start_s"] = session_start_s
        metrics = _metrics(spec["per_layer"], layers, default=0)
    else:
        metrics = _metrics(spec["end_to_end"], {**res.end_to_end, "setup_s": setup_s})
    correct = res.correct and not res.failed
    ratio = res.failed / res.attempted if res.attempted else None
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "setup_repeats_s": res.setup_s,
        "failed_ops_ratio": {"value": ratio, "failed": res.failed, "attempted": res.attempted},
        "end_to_end": {"setup_s": setup_s, **res.end_to_end},
        "named": res.named,
    }
    print(json.dumps(details))
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
