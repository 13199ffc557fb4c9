"""stream_backfill: the finalized Structured Streaming ingest, drained.

Set-up writes a seeded file chain with ``dump_chain``: ``N_BLOCKS`` blocks
of 3..7 logs each, with a few historical reorgs so the by-hash table holds
orphans.  The timed phase drains the last set-up's chain into a fresh
store with ``start_finalized_ingest`` (``web3logs`` ->
``dedup_against_tail`` -> ``append_df``) until the stream has nothing
left, timed from query start to the end of ``processAllAvailable``.  One
drain takes longer than ``--seconds`` on 4 cores, so there is exactly one.
The first micro-batch starts the Python workers of the source and the
batch writes, so it is several times slower than the rest.  Five warm
batches are too few for a steady median, so the typical batch latency is
the mean over all non-empty batches; the ingest rate and the completion
latency also cover the whole drain, cold start included.
"""

from __future__ import annotations

import random
import statistics
import sys
import time
from pathlib import Path

from pyspark.errors import StreamingQueryException

from eth_event_tracker_spark.config import FilterConfig
from eth_event_tracker_spark.sources.file_chain import FileChainReader, dump_chain
from eth_event_tracker_spark.sources.mock_chain import MockProvider
from eth_event_tracker_spark.store import ParquetStore
from eth_event_tracker_spark.streaming import pipeline
from harness import SETUP_REPEATS, Ctx, Result, job_group

N_BLOCKS = 609  # blocks 0..599 are final: six 100-block micro-batches
MIN_LOGS, MAX_LOGS = 3, 7
HISTORY_REORGS = 5


def build_chain(seed: int) -> MockProvider:
    rng = random.Random(seed)
    provider = MockProvider()
    reorg_at = set(rng.sample(range(50, N_BLOCKS), HISTORY_REORGS))
    for n in range(1, N_BLOCKS + 1):
        provider.advance(1, rng.randint(MIN_LOGS, MAX_LOGS))
        if n in reorg_at:
            provider.fork(rng.randint(1, 5), rng.randint(MIN_LOGS, MAX_LOGS))
    return provider


def check(store: ParquetStore, chain_dir: Path, cfg: FilterConfig) -> bool:
    """The entry equals the canonical logs up to head - finality depth,
    indx runs 0..n-1 and no natural key repeats."""
    reader = FileChainReader(str(chain_dir))
    final = reader.head().number - cfg.max_block_backlog
    want = [
        (lg["block_num"], lg["block_hash"], lg["tx_index"], lg["log_index"], bytes.fromhex(lg["data"]))
        for lg in reader.get_logs(0, final)
    ]
    rows = store.entry(cfg.filter_hash).all_logs()
    got = [(r["block_num"], r["block_hash"], r["tx_index"], r["log_index"], r["data"]) for r in rows]
    keys = {tuple(r[c] for c in pipeline.NATURAL_KEY) for r in rows}
    return got == want and [r["indx"] for r in rows] == list(range(len(rows))) and len(keys) == len(rows)


def run(ctx: Ctx) -> Result:
    tr = ctx.tracer
    cfg = FilterConfig()
    setups = []
    for k in range(SETUP_REPEATS):
        t = time.perf_counter()
        chain = ctx.work / f"chain{k}"
        dump_chain(build_chain(ctx.seed), chain)
        setups.append(time.perf_counter() - t)

    dedup_groups = []

    def dedup_group():
        dedup_groups.append(f"dedup-{len(dedup_groups)}")
        return job_group(ctx, dedup_groups[-1])

    tr.patch(pipeline, "dedup_against_tail", "streaming.dedup_against_tail", around=dedup_group)

    store = ParquetStore(ctx.work / "store")
    entry_methods = {"append_df": "store.append_df"}
    store_p = tr.proxy(
        store, {}, extra={"entry": lambda *a, **kw: tr.proxy(store.entry(*a, **kw), entry_methods)}
    )
    t = time.perf_counter()
    q = pipeline.start_finalized_ingest(ctx.spark, str(chain), store_p, cfg, str(ctx.work / "ckpt"))
    failed = 0
    try:
        q.processAllAvailable()
    except StreamingQueryException as e:
        print(f"drain failed: {e}", file=sys.stderr)
        failed = 1
    drain_s = time.perf_counter() - t
    progress = list(q.recentProgress)
    q.stop()

    batch_ms = [p["durationMs"]["triggerExecution"] for p in progress if p["numInputRows"] > 0]
    logs = store.entry(cfg.filter_hash).last_index()
    rate = logs / drain_s

    layers = {}
    if tr.enabled:
        layers = {
            "sources.latest_offset_ms": sum(p["durationMs"].get("latestOffset", 0) for p in progress),
            "sources.rows_read": sum(p["numInputRows"] for p in progress),
            "store.append_df_calls": tr.calls("store.append_df"),
            "store.append_df_s": tr.seconds("store.append_df"),
            "streaming.add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in progress),
            "streaming.wal_commit_ms": sum(p["durationMs"].get("walCommit", 0) for p in progress),
            "streaming.dedup_against_tail_s": tr.seconds("streaming.dedup_against_tail"),
            "streaming.dedup_jobs": sum(ctx.jobs.stats(g)["jobs"] for g in dedup_groups),
        }

    p50 = statistics.median(batch_ms[1:])
    mean_ms = statistics.fmean(batch_ms)
    return Result(
        setup_s=setups,
        attempted=len(batch_ms) + failed,
        failed=failed,
        correct=not failed and check(store, chain, cfg),
        end_to_end={"latency_ms": mean_ms, "latency_tail_ms": drain_s * 1000, "throughput_per_s": rate},
        named={
            "backfill_logs_per_s": rate,
            "backfill_batch_p50_ms": p50,
            "backfill_batch_mean_ms": mean_ms,
            "backfill_drain_ms": drain_s * 1000,
            "batch_ms": batch_ms,
            "logs": logs,
        },
        layers=layers,
    )
