"""registry_sf01: read-only registry entries over seeded tables.

Set-up writes the ten registry tables with ``tpch_gen`` (the sf0.1
fixture's schema and value domains, scaled to ``SF``) and materializes the
``derived_logs`` and ``_doc_shingles`` caches, as ``bench.py`` does.  The
timed phase is one pass that runs ``.count()`` once on every entry of
``ENTRIES``, with ``SPARK_GRAFT_GRAPH_COLD=1``.  It is each entry's first
run in the process, and it takes longer than ``--seconds`` on 4 cores; a
second, warm pass would measure something else, so there is none.
Each entry's row count is checked against its DuckDB oracle, run on the
same tables before the pass.

``ENTRIES`` holds the five iterative and time-travel entries the job-floor
work targets plus one entry of each query module they leave out, so every
module of ``queries`` is timed while one cold pass stays near 30 s on
4 cores.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import tpch_gen

from eth_event_tracker_spark.queries import REGISTRY, all_oracles, all_queries
from eth_event_tracker_spark.queries.llmdata import _doc_shingles
from eth_event_tracker_spark.tables import derived_logs
from harness import SETUP_REPEATS, Ctx, Result, job_group

SF = 0.005
NAMED = (
    "changelog_time_travel",
    "quality_classifier_scores",
    "dedup_simhash_clusters",
    "pagerank_cosupply",
    "community_labels_cosupply",
)
ENTRIES = NAMED + ("events_session_window", "q9_product_profit")
MODULES = ("chain", "relational", "llmdata", "streams", "tpch")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
STAT_KEYS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _oracle_rows(sf_dir, names) -> dict[str, int]:
    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {n: len(con.execute(oracles[n]).fetchall()) for n in names}
    finally:
        con.close()


def run(ctx: Ctx) -> Result:
    os.environ["SPARK_GRAFT_GRAPH_COLD"] = "1"
    spark = ctx.spark
    setups, warmups = [], []
    for k in range(SETUP_REPEATS):
        if k:  # release the previous set-up's cached frames
            derived_logs(spark, sf_dir).unpersist()
            _doc_shingles(spark, sf_dir).unpersist()
        t = time.perf_counter()
        sf_dir = str(ctx.work / f"sf{k}")
        tpch_gen.generate(sf_dir, ctx.seed, SF)
        w = time.perf_counter()
        derived_logs(spark, sf_dir).count()
        _doc_shingles(spark, sf_dir).count()
        warmups.append(time.perf_counter() - w)
        setups.append(time.perf_counter() - t)
    expected = _oracle_rows(sf_dir, ENTRIES)
    return measure(ctx, sf_dir, all_queries(), expected, setups, warmups)


def measure(ctx: Ctx, sf_dir: str, queries, expected: dict[str, int],
            setups: list[float], warmups: list[float]) -> Result:
    """The timed pass over ``ENTRIES`` and its checks.  An entry that
    raises, or whose row count differs from ``expected``, is a failed op
    and fails the run; the pass goes on past it."""
    module_of = {n: REGISTRY[n].fn.__module__.rsplit(".", 1)[-1] for n in ENTRIES}
    per_entry: dict[str, float] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in ENTRIES:
        t = time.perf_counter()
        try:
            with ctx.tracer.span(f"queries.{module_of[name]}", op=name), job_group(ctx, f"q-{name}"):
                rows[name] = queries[name](ctx.spark, sf_dir).count()
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {e}"[:300]
        per_entry[name] = time.perf_counter() - t

    failed = sorted(n for n in ENTRIES if rows.get(n) != expected[n])
    total = sum(per_entry.values())
    p50 = statistics.median(per_entry.values())
    p80 = statistics.quantiles(per_entry.values(), n=100, method="inclusive")[79]

    layers = {}
    if ctx.jobs is not None:
        by_module = {m: dict.fromkeys(("s",) + STAT_KEYS, 0) for m in MODULES}
        for name in ENTRIES:
            stats = ctx.jobs.stats(f"q-{name}")
            agg = by_module[module_of[name]]
            agg["s"] += per_entry[name]
            for key in STAT_KEYS:
                agg[key] += stats[key]
            if name in NAMED:
                layers[f"query.{name}.s"] = per_entry[name]
                layers[f"query.{name}.jobs"] = stats["jobs"]
        for m, agg in by_module.items():
            layers.update({f"queries.{m}.{k}": v for k, v in agg.items()})
        layers["spark.storage_bytes_end"] = ctx.jobs.storage_bytes()
        layers["tables.warmup_s"] = statistics.median(warmups)

    return Result(
        setup_s=setups,
        attempted=len(ENTRIES),
        failed=len(failed),
        correct=not failed,
        end_to_end={
            "latency_ms": p50 * 1000,
            "latency_tail_ms": p80 * 1000,
            "throughput_per_s": len(ENTRIES) / total,
        },
        named={
            "registry_total_s": total,
            "query_p50_s": p50,
            "query_p80_s": p80,
            "per_entry_s": per_entry,
            "warmup_s": warmups,
            "failed_entries": failed,
            "errors": errors,
        },
        layers=layers,
    )
