"""head_follow: the reorg-aware head path under an open-loop block generator.

Set-up syncs an initial chain with ``Tracker.sync``, writes its events to
the changelog and refreshes the view once.  Then a seeded generator
appends ``RATE`` blocks per second to a ``MockProvider``; after a
``REORG_SHARE`` of them, picked by the seed, comes a reorg, with depths
1..``MAX_DEPTH`` (below the tracker's 10-block backlog) in equal numbers
and seeded order, so every seed generates the same number of blocks.

Generator and ingest share one thread.  Ticks of ``Tracker.poll`` ->
``append_changelog`` -> a ``current_view`` refresh fire every
``TRIGGER_S``, as a Structured Streaming processing-time trigger does: a
tick that overruns its interval is followed at once by the next, and a
trigger with no pending block is skipped.  Between ticks the thread
applies each generator event when it falls due.  A fixed trigger keeps
the number of ticks, and so the number of small files the view refresh
reads, the same in every run.  A block is visible once the refreshed view
holds exactly its logs at its height, so a reorg's new branch counts only
when the retracted logs are gone.  Latency runs from the block's due time,
so it includes the wait for the next trigger and for a slow tick.  A
block replaced by a reorg before it was ever visible is not an attempt.
"""

from __future__ import annotations

import random
import statistics
import time

from eth_event_tracker_spark.config import FilterConfig
from eth_event_tracker_spark.sources.mock_chain import MockProvider
from eth_event_tracker_spark.store import ParquetStore
from eth_event_tracker_spark.streaming import tracker as tracker_mod
from eth_event_tracker_spark.streaming.pipeline import NATURAL_KEY, append_changelog, current_view
from harness import SETUP_REPEATS, Ctx, Result, job_group

RATE = 16.0  # blocks per second
LOGS_PER_BLOCK = 5
REORG_SHARE = 0.05
MAX_DEPTH = 5
INITIAL_BLOCKS = 200
TRIGGER_S = 2.5  # tick interval
DRAIN_S = 15.0  # after the last due block, ticks continue at most this long

PROVIDER_METHODS = ("latest", "get_block_by_number", "get_block_by_hash", "get_logs_by_hash")


def schedule(seed: int, seconds: float) -> list[tuple[float, int]]:
    """Generator events ``(due_s, depth)``: depth 0 appends one block,
    depth d > 0 replaces the newest d blocks with a new branch."""
    rng = random.Random(seed)
    n = int(RATE * seconds)
    n_reorgs = round(REORG_SHARE * n)
    depths = [1 + j % MAX_DEPTH for j in range(n_reorgs)]
    rng.shuffle(depths)
    # no reorg after the first MAX_DEPTH blocks: a reorg only replaces
    # blocks the run itself generated
    after = dict(zip(sorted(rng.sample(range(MAX_DEPTH, n), n_reorgs)), depths))
    events = []
    for i in range(n):
        events.append((i / RATE, 0))
        if i in after:
            events.append(((i + 0.5) / RATE, after[i]))
    return events


def _refresh(spark, clog):
    view = current_view(clog.df(spark)).groupBy("block_num", "block_hash").count().collect()
    by_height: dict[int, list[tuple[str, int]]] = {}
    for r in view:
        by_height.setdefault(r["block_num"], []).append((r["block_hash"], r["count"]))
    return by_height


def _build(ctx: Ctx, k: int):
    """One set-up: provider, store and tracker, synced, with the changelog
    written and the view refreshed once."""
    tr = ctx.tracer
    provider = MockProvider()
    provider.advance(INITIAL_BLOCKS, LOGS_PER_BLOCK)
    store = ParquetStore(ctx.work / f"store{k}")
    entry_methods = {
        "store_logs": "store.store_logs",
        "scan_tail": "store.scan_tail",
        "remove_logs": "store.remove_logs",
    }
    store_p = tr.proxy(
        store,
        {"set": "store.checkpoint"},
        extra={"entry": lambda *a, **kw: tr.proxy(store.entry(*a, **kw), entry_methods)},
    )
    provider_p = tr.proxy(provider, {m: f"sources.{m}" for m in PROVIDER_METHODS})
    cfg = FilterConfig()
    tracker = tracker_mod.Tracker(provider_p, store_p, cfg)
    clog = tr.proxy(store.changelog_entry(cfg.filter_hash), entry_methods)
    for ev in tracker.sync():
        append_changelog(clog, ev)
    _refresh(ctx.spark, clog)
    return provider, tracker, clog


def check(provider, stored: list[dict], view_keys: list[tuple]) -> tuple[bool, bool]:
    """(entry ok, view ok): the entry rows equal the provider's canonical
    logs in order with ``indx`` 0..n-1, and the changelog's current view
    holds exactly the entry's natural keys."""
    cols = ("block_num", "block_hash", "tx_index", "log_index", "tx_hash", "address", "topics", "data")
    canonical = provider.get_logs(0, provider.latest().number)
    entry_ok = [tuple(r[c] for c in cols) for r in stored] == [
        tuple(lg[c] for c in cols) for lg in canonical
    ] and [r["indx"] for r in stored] == list(range(len(stored)))
    view_ok = sorted(view_keys) == sorted(tuple(r[c] for c in NATURAL_KEY) for r in stored)
    return entry_ok, view_ok


def _files_per_bucket_max(entry) -> int:
    return max((len(list(b.glob("*.parquet"))) for b in entry.path.glob("bucket=*")), default=0)


def _file_count(entry) -> int:
    return len(list(entry.path.glob("bucket=*/*.parquet")))


def run(ctx: Ctx) -> Result:
    tr = ctx.tracer
    reorg_depths: list[int] = []

    def observe(diff) -> None:
        if diff.removed:
            reorg_depths.append(len(diff.removed))

    tr.patch(tracker_mod, "reconcile", "reorg.reconcile", observe=observe)

    setups = []
    for k in range(SETUP_REPEATS):
        t = time.perf_counter()
        built = _build(ctx, k)
        setups.append(time.perf_counter() - t)
    provider, tracker, clog = built
    tr.spans.clear()
    reorg_depths.clear()
    files_before = _file_count(tracker.entry) + _file_count(clog)

    events = schedule(ctx.seed, ctx.seconds)
    recs: dict[str, dict] = {}  # block hash -> {num, due, visible, superseded}
    gen_lag = []
    tick_s = []  # poll + append_changelog + view refresh, per tick
    retracted = 0
    tick = 0
    i = 0
    next_tick = 0.0
    t0 = time.perf_counter()
    while True:
        now = time.perf_counter() - t0
        while i < len(events) and events[i][0] <= now:
            due, depth = events[i]
            i += 1
            gen_lag.append(now - due)
            if depth:
                for b in provider.canonical[-depth:]:
                    r = recs.get(b.hash)
                    if r is not None and r["visible"] is None:
                        r["superseded"] = True
                provider.fork(depth, LOGS_PER_BLOCK)
                new = provider.canonical[-depth:]
            else:
                provider.advance(1, LOGS_PER_BLOCK)
                new = provider.canonical[-1:]
            for b in new:
                recs[b.hash] = {"num": b.block_number, "due": due, "visible": None,
                                "superseded": False}
        pending = [(h, r) for h, r in recs.items() if r["visible"] is None and not r["superseded"]]
        if i >= len(events) and (not pending or now > events[-1][0] + DRAIN_S):
            break
        if now < next_tick:
            wake = min(next_tick, events[i][0]) if i < len(events) else next_tick
            time.sleep(max(0.0, wake - (time.perf_counter() - t0)))
            continue
        next_tick = (now // TRIGGER_S + 1) * TRIGGER_S
        if not pending:
            continue
        tick_start = time.perf_counter()
        with tr.span("streaming.poll", op=tick):
            evs = tracker.poll()
        with tr.span("streaming.append_changelog", op=tick):
            for ev in evs:
                append_changelog(clog, ev)
                retracted += len(ev.removed)
        with tr.span("streaming.view_refresh", op=tick), job_group(ctx, f"view-{tick}"):
            view = _refresh(ctx.spark, clog)
        seen = time.perf_counter()
        tick_s.append(seen - tick_start)
        for h, r in pending:
            if view.get(r["num"]) == [(h, LOGS_PER_BLOCK)]:
                r["visible"] = seen - t0
        tick += 1

    attempted = [r for r in recs.values() if not r["superseded"]]
    lat_ms = [(r["visible"] - r["due"]) * 1000 for r in attempted if r["visible"] is not None]
    failed = len(attempted) - len(lat_ms)

    view_keys = current_view(clog.df(ctx.spark)).select(*NATURAL_KEY).collect()
    entry_ok, view_ok = check(provider, tracker.entry.all_logs(), [tuple(r) for r in view_keys])

    layers = {}
    if tr.enabled:
        for m in PROVIDER_METHODS:
            layers[f"sources.{m}_calls"] = tr.calls(f"sources.{m}")
            layers[f"sources.{m}_s"] = tr.seconds(f"sources.{m}")
        layers.update({
            "reorg.reconcile_calls": tr.calls("reorg.reconcile"),
            "reorg.reconcile_s": tr.seconds("reorg.reconcile"),
            "reorg.reorgs": len(reorg_depths),
            "reorg.depth_max": max(reorg_depths, default=0),
            "reorg.retracted_logs": retracted,
            "store.store_logs_calls": tr.calls("store.store_logs"),
            "store.store_logs_s": tr.seconds("store.store_logs"),
            "store.files_written": _file_count(tracker.entry) + _file_count(clog) - files_before,
            "store.scan_tail_s": tr.seconds("store.scan_tail"),
            "store.remove_logs_s": tr.seconds("store.remove_logs"),
            "store.checkpoint_writes": tr.calls("store.checkpoint"),
            "store.checkpoint_s": tr.seconds("store.checkpoint"),
            "store.entry_files_per_bucket_max": _files_per_bucket_max(tracker.entry),
            "store.changelog_files_per_bucket_max": _files_per_bucket_max(clog),
            "streaming.poll_calls": tr.calls("streaming.poll"),
            "streaming.poll_s": tr.seconds("streaming.poll"),
            "streaming.append_changelog_s": tr.seconds("streaming.append_changelog"),
            "streaming.view_refreshes": tr.calls("streaming.view_refresh"),
            "streaming.view_refresh_s": tr.seconds("streaming.view_refresh"),
            "streaming.view_refresh_jobs": sum(
                ctx.jobs.stats(f"view-{t}")["jobs"] for t in range(tick)
            ),
        })

    p50 = statistics.median(lat_ms)
    p95 = statistics.quantiles(lat_ms, n=100, method="inclusive")[94]
    # The generator outpaces the ticks, so logs made visible per second
    # only echo RATE; how many ticks the program completes per second of
    # tick time is its own rate.
    cycles_per_s = len(tick_s) / sum(tick_s)
    return Result(
        setup_s=setups,
        attempted=len(attempted),
        failed=failed,
        correct=entry_ok and view_ok and not failed,
        end_to_end={
            "latency_ms": p50,
            "latency_tail_ms": p95,
            "throughput_per_s": cycles_per_s,
        },
        named={
            "head_visible_p50_ms": p50,
            "head_visible_p95_ms": p95,
            "head_cycles_per_s": cycles_per_s,
            "samples": len(lat_ms),
            "samples_beyond_p95": sum(1 for x in lat_ms if x > p95),
            "superseded_blocks": len(recs) - len(attempted),
            "ticks": tick,
            "tick_s": tick_s,
            "gen_lag_ms_max": max(gen_lag) * 1000,
            "rate_blocks_per_s": RATE,
            "entry_check": entry_ok,
            "view_check": view_ok,
        },
        layers=layers,
    )
