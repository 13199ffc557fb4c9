"""Tracker sync behavior — semantic ports of the reference's mock-scenario
and randomized tests (tracker_test.go:43-97 polling, :221-275 restarts,
:369-482 randomized invariants, :760-818 AIMD limit recovery,
:182-219 fingerprint preflight)."""

from __future__ import annotations

import random

import pytest

from eth_event_tracker_spark.config import FilterConfig
from eth_event_tracker_spark.sources.mock_chain import MockProvider
from eth_event_tracker_spark.store import ParquetStore
from eth_event_tracker_spark.streaming import FingerprintMismatchError, Tracker


def chain_logs(prov):
    return [lg for b in prov.canonical for lg in b.logs()]


def test_polling_sync(tmp_path):
    """TestPolling (tracker_test.go:43-97): each new block's logs arrive."""
    prov = MockProvider()
    prov.advance(20, logs_per_block=2)
    t = Tracker(prov, ParquetStore(tmp_path), FilterConfig())
    t.sync()
    assert [r["tx_hash"] for r in t.entry.all_logs()] == [lg["tx_hash"] for lg in chain_logs(prov)]
    # continuous phase: new blocks picked up by poll()
    prov.advance(3, logs_per_block=1)
    events = t.poll()
    assert sum(len(e.added) for e in events) == 3
    assert [r["tx_hash"] for r in t.entry.all_logs()] == [lg["tx_hash"] for lg in chain_logs(prov)]


def test_bulk_sync_long_chain(tmp_path):
    """Bulk + head split (syncImpl, tracker.go:582-715): chain much longer
    than the backlog goes through AIMD range scans."""
    prov = MockProvider()
    prov.advance(150, logs_per_block=1)
    t = Tracker(prov, ParquetStore(tmp_path), FilterConfig(batch_size=16))
    t.sync()
    rows = t.entry.all_logs()
    assert len(rows) == 150
    assert [r["indx"] for r in rows] == list(range(150))
    assert [r["tx_hash"] for r in rows] == [lg["tx_hash"] for lg in chain_logs(prov)]


def test_restart_resume(tmp_path):
    """TestTrackerSyncerRestarts (tracker_test.go:221-275): stop/start
    resumes from the checkpoint, no duplicates, both small and large
    advances."""
    prov = MockProvider()
    prov.advance(30, logs_per_block=1)
    Tracker(prov, ParquetStore(tmp_path), FilterConfig()).sync()
    # advance less than backlog, restart
    prov.advance(5, logs_per_block=1)
    t2 = Tracker(prov, ParquetStore(tmp_path), FilterConfig())
    t2.sync()
    assert [r["tx_hash"] for r in t2.entry.all_logs()] == [lg["tx_hash"] for lg in chain_logs(prov)]
    # advance more than backlog, restart
    prov.advance(40, logs_per_block=1)
    t3 = Tracker(prov, ParquetStore(tmp_path), FilterConfig())
    t3.sync()
    assert [r["tx_hash"] for r in t3.entry.all_logs()] == [lg["tx_hash"] for lg in chain_logs(prov)]


def test_restart_fork_repair(tmp_path):
    """testSyncerReconcile (tracker_test.go:277-358): the chain forks while
    the tracker is down; restart rolls back forked-out logs and resyncs."""
    prov = MockProvider()
    prov.advance(30, logs_per_block=1)
    t1 = Tracker(prov, ParquetStore(tmp_path), FilterConfig())
    t1.sync()
    prov.fork(4, logs_per_block=1)  # reorg last 4 blocks while down
    t2 = Tracker(prov, ParquetStore(tmp_path), FilterConfig())
    events = t2.sync()
    assert [r["tx_hash"] for r in t2.entry.all_logs()] == [lg["tx_hash"] for lg in chain_logs(prov)]
    removed = [r["tx_hash"] for e in events for r in e.removed]
    assert len(removed) == 4  # the forked-out logs were retracted


def test_live_reorg(tmp_path):
    """Reorg observed while polling: removed logs emitted, store repaired."""
    prov = MockProvider()
    prov.advance(20, logs_per_block=1)
    t = Tracker(prov, ParquetStore(tmp_path), FilterConfig())
    t.sync()
    prov.fork(3, logs_per_block=2)
    events = t.poll()
    removed = [r for e in events for r in e.removed]
    added = [r for e in events for r in e.added]
    assert len(removed) == 3
    assert len(added) == 6
    assert [r["tx_hash"] for r in t.entry.all_logs()] == [lg["tx_hash"] for lg in chain_logs(prov)]


def test_aimd_limit_recovery(tmp_path):
    """TestTooMuchDataRequested (tracker_test.go:760-818): the server cap
    halves the batch, yet every log is recovered exactly once."""
    prov = MockProvider(logs_per_query_limit=10)
    prov.advance(100, logs_per_block=2)
    t = Tracker(prov, ParquetStore(tmp_path), FilterConfig(batch_size=50))
    t.sync()
    rows = t.entry.all_logs()
    assert len(rows) == 200
    assert [r["tx_hash"] for r in rows] == [lg["tx_hash"] for lg in chain_logs(prov)]
    assert t._batch_size < 50  # AIMD actually decreased at some point


class CrashingProvider:
    """Delegating wrapper that raises on the Nth call of a chosen method —
    simulates a process crash at a precise point inside bulk sync."""

    def __init__(self, inner, fail_on_get_logs: int = 0, fail_on_get_block: int = 0):
        self._inner = inner
        self._fail_logs = fail_on_get_logs
        self._fail_block = fail_on_get_block
        self._n_logs = 0
        self._n_block = 0

    def get_logs(self, *a, **kw):
        self._n_logs += 1
        if self._fail_logs and self._n_logs == self._fail_logs:
            raise RuntimeError("injected crash in get_logs")
        return self._inner.get_logs(*a, **kw)

    def get_block_by_number(self, *a, **kw):
        self._n_block += 1
        if self._fail_block and self._n_block == self._fail_block:
            raise RuntimeError("injected crash in get_block_by_number")
        return self._inner.get_block_by_number(*a, **kw)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def test_crash_mid_bulk_restart_no_duplicates(tmp_path):
    """ADVICE r1 (high): a crash during bulk sync leaves the persisted head
    window empty while lastBlock advanced per batch; restart must resume
    from the checkpoint, not re-sync from 0 and duplicate rows."""
    prov = MockProvider()
    prov.advance(100, logs_per_block=2)
    crash = CrashingProvider(prov, fail_on_get_logs=4)
    t = Tracker(crash, ParquetStore(tmp_path), FilterConfig(batch_size=10))
    with pytest.raises(RuntimeError):
        t.sync()
    partial = len(t.entry.all_logs())
    assert 0 < partial < 200  # three 10-block batches landed before the crash

    t2 = Tracker(prov, ParquetStore(tmp_path), FilterConfig(batch_size=10))
    t2.sync()
    rows = t2.entry.all_logs()
    assert [r["tx_hash"] for r in rows] == [lg["tx_hash"] for lg in chain_logs(prov)]
    assert [r["indx"] for r in rows] == list(range(200))  # dense, no dupes


def test_crash_between_store_and_checkpoint(tmp_path):
    """The append protocol writes logs BEFORE the checkpoint commit; a
    crash in between leaves one batch of rows above lastBlock.  Restart
    must truncate that un-checkpointed suffix before re-fetching."""
    prov = MockProvider()
    prov.advance(100, logs_per_block=2)
    # batch i: get_logs(...) then get_block_by_number(end) for the commit —
    # failing the 2nd block fetch crashes after batch 2's store_logs
    crash = CrashingProvider(prov, fail_on_get_block=2)
    t = Tracker(crash, ParquetStore(tmp_path), FilterConfig(batch_size=10))
    with pytest.raises(RuntimeError):
        t.sync()
    stored = t.entry.all_logs()
    assert t2_last_block(tmp_path) == 9  # only batch 1 checkpointed…
    assert max(r["block_num"] for r in stored) > 9  # …but batch 2 rows landed

    t2 = Tracker(prov, ParquetStore(tmp_path), FilterConfig(batch_size=10))
    t2.sync()
    rows = t2.entry.all_logs()
    assert [r["tx_hash"] for r in rows] == [lg["tx_hash"] for lg in chain_logs(prov)]
    assert [r["indx"] for r in rows] == list(range(200))


def t2_last_block(tmp_path) -> int:
    """Read the persisted lastBlock checkpoint number for the default filter."""
    import json

    from eth_event_tracker_spark.config import key_last_block

    store = ParquetStore(tmp_path)
    raw = store.get(key_last_block(FilterConfig().filter_hash))
    return json.loads(raw)["number"]


def test_distributed_bulk_backfill_matches_driver_path(tmp_path, spark):
    """VERDICT r1 #4: a large bulk gap runs as a Spark job (web3logs batch
    read → append_df) and produces a row-identical entry to the driver-side
    AIMD path; the provider's range API is never called for the bulk span."""
    from eth_event_tracker_spark.sources.file_chain import dump_chain
    from eth_event_tracker_spark.sources.mock_chain import CountingProvider

    prov = MockProvider()
    prov.advance(300, logs_per_block=2)
    dump_chain(prov, tmp_path / "chain")

    t1 = Tracker(prov, ParquetStore(tmp_path / "driver"), FilterConfig(batch_size=50))
    t1.sync()

    counting = CountingProvider(prov)
    t2 = Tracker(
        counting,
        ParquetStore(tmp_path / "spark"),
        FilterConfig(batch_size=50),
        spark=spark,
        chain_dir=str(tmp_path / "chain"),
        distributed_bulk_threshold=100,
    )
    t2.sync()

    assert t2.entry.all_logs() == t1.entry.all_logs()  # row-identical, indx included
    # the bulk span went through Spark: zero driver-side range scans
    assert counting.get_logs_calls == []
    # and the entry contains Spark-written files (the job actually ran)
    spark_files = list((tmp_path / "spark").rglob("*snappy*.parquet"))
    assert spark_files, "expected distributed parquet writes in the entry"
    # incremental semantics survive: head advances keep working
    prov.advance(3, logs_per_block=1)
    dump_chain(prov, tmp_path / "chain")
    events = t2.poll()
    assert sum(len(e.added) for e in events) == 3
    assert [r["tx_hash"] for r in t2.entry.all_logs()] == [
        lg["tx_hash"] for lg in chain_logs(prov)
    ]
    # a reorg rolls back a bucket that mixes the Spark-written bulk files
    # with the head path's pyarrow files
    prov.fork(3, logs_per_block=1)
    events = t2.poll()
    assert sum(len(e.removed) for e in events) == 3
    rows = t2.entry.all_logs()
    assert [r["tx_hash"] for r in rows] == [lg["tx_hash"] for lg in chain_logs(prov)]
    assert [r["indx"] for r in rows] == list(range(len(rows)))


def test_sync_progress_monotonic(tmp_path):
    """C-5 (SyncCh/WaitDuration analogue, tracker.go:264-289): progress is
    observable during sync — monotonic heights, bulk→head→synced phases."""
    prov = MockProvider()
    prov.advance(200, logs_per_block=1)
    seen: list[dict] = []
    t = Tracker(
        prov,
        ParquetStore(tmp_path),
        FilterConfig(batch_size=20),
        on_progress=seen.append,
    )
    t.sync()
    assert len(seen) > 3
    heights = [p["height"] for p in seen]
    assert heights == sorted(heights)  # monotonic
    phases = [p["phase"] for p in seen]
    assert "bulk" in phases and "head" in phases and phases[-1] == "synced"
    assert not any(p["synced"] for p in seen[:-1]) and seen[-1]["synced"]
    assert t.progress["synced"] and t.progress["height"] == prov.latest().number
    # poll keeps reporting
    prov.advance(2, logs_per_block=1)
    t.poll()
    assert t.progress["phase"] == "poll" and t.progress["height"] == prov.latest().number


def test_fingerprint_preflight(tmp_path):
    """TestPreflight (tracker_test.go:182-219): resuming a store against a
    different chain fails."""
    prov1 = MockProvider(chain_id=1)
    prov1.advance(5)
    store = ParquetStore(tmp_path)
    Tracker(prov1, store, FilterConfig()).sync()
    prov2 = MockProvider(chain_id=2)  # same genesis hash, different chainID
    prov2.advance(5)
    with pytest.raises(FingerprintMismatchError):
        Tracker(prov2, store, FilterConfig()).sync()


def test_filter_pushdown(tmp_path):
    """Filter semantics end-to-end (TestFilterIntegration,
    tracker_test.go:99-140): address filter selects a strict subset."""
    prov = MockProvider()
    prov.advance(10, logs_per_block=2)
    # all mock logs share one address; filtering on another yields nothing
    t = Tracker(prov, ParquetStore(tmp_path / "a"), FilterConfig(addresses=("0x" + "bb" * 20,)))
    t.sync()
    assert t.entry.all_logs() == []
    t2 = Tracker(prov, ParquetStore(tmp_path / "b"), FilterConfig(addresses=("0x" + "aa" * 20,)))
    t2.sync()
    assert len(t2.entry.all_logs()) == 20


def test_randomized_invariants(tmp_path):
    """TestTrackerSyncerRandom (tracker_test.go:369-482): random sequences
    of advances and bounded-depth forks; invariants: store == chain logs,
    window == chain tail, added/removed accounting balances."""
    rng = random.Random(42)
    for run in range(8):
        prov = MockProvider()
        prov.advance(15, logs_per_block=1)
        backlog = rng.randint(4, 10)
        t = Tracker(prov, ParquetStore(tmp_path / f"r{run}"), FilterConfig(max_block_backlog=backlog))
        t.sync()
        total_added = len(t.entry.all_logs())
        total_removed = 0
        for _ in range(30):
            if rng.random() < 0.25 and len(prov.canonical) > 5:
                depth = rng.randint(1, max(1, backlog - 1))
                prov.fork(depth, logs_per_block=1)
            else:
                prov.advance(rng.randint(1, 4), logs_per_block=1)
            for e in t.poll():
                total_added += len(e.added)
                total_removed += len(e.removed)
        chain = chain_logs(prov)
        store_rows = t.entry.all_logs()
        assert [r["tx_hash"] for r in store_rows] == [lg["tx_hash"] for lg in chain]
        assert [r["indx"] for r in store_rows] == list(range(len(store_rows)))
        assert total_added - total_removed == len(store_rows)
        tail = prov.canonical[-backlog:]
        assert [b.hash for b in t.window.blocks] == [b.hash for b in tail]


def test_fast_track_skips_dead_history(tmp_path):
    """fastTrack (tracker.go:446-519): with an activity index, the first
    sync never scans blocks before the filter's first activity."""
    from eth_event_tracker_spark.sources.mock_chain import (
        CountingProvider,
        MockActivityIndex,
    )

    prov = MockProvider()
    prov.advance(60)  # blocks 1..60 without logs
    # logs appear only from block 61 on
    prov.advance(20, logs_per_block=1)
    idx = MockActivityIndex(prov)
    counting = CountingProvider(prov)
    addr = "0x" + "aa" * 20
    t = Tracker(
        counting,
        ParquetStore(tmp_path),
        FilterConfig(addresses=(addr,), batch_size=10),
        activity_index=idx,
    )
    t.sync()
    assert len(t.entry.all_logs()) == 20
    assert idx.calls == 1
    # no range scan touched the dead prefix
    assert min(frm for frm, _ in counting.get_logs_calls) >= 61


def test_topic_filter_end_to_end(tmp_path):
    """TestFilterIntegrationEventHash (tracker_test.go:142-180): filtering
    by event-signature topic0 selects that event's logs; a perturbed
    signature matches nothing; a topic1 filter with wildcard topic0 selects
    exactly one log."""
    from eth_event_tracker_spark.sources.mock_chain import EVENT_SIGS, _pad_hash

    prov = MockProvider()
    prov.advance(20, logs_per_block=1)
    all_logs = chain_logs(prov)
    want_sig0 = [lg for lg in all_logs if lg["topics"][0] == EVENT_SIGS[0]]
    assert 0 < len(want_sig0) < len(all_logs)

    t = Tracker(prov, ParquetStore(tmp_path / "a"), FilterConfig(topics=(EVENT_SIGS[0],)))
    t.sync()
    assert [r["tx_hash"] for r in t.entry.all_logs()] == [lg["tx_hash"] for lg in want_sig0]

    # perturbed signature → nothing (tracker_test.go:172-178)
    t2 = Tracker(prov, ParquetStore(tmp_path / "b"), FilterConfig(topics=(_pad_hash("dead"),)))
    t2.sync()
    assert t2.entry.all_logs() == []

    # wildcard topic0 + exact topic1 → exactly that log (tracker_test.go:136)
    target = all_logs[7]
    t3 = Tracker(
        prov, ParquetStore(tmp_path / "c"), FilterConfig(topics=(None, target["topics"][1]))
    )
    t3.sync()
    assert [r["tx_hash"] for r in t3.entry.all_logs()] == [target["tx_hash"]]


def test_multi_filter_resume(tmp_path):
    """The store is self-describing: every registered filter resumes from
    KV alone (filter enumeration via prefix scan, tracker.go:194-209)."""
    from eth_event_tracker_spark.sources.mock_chain import EVENT_SIGS
    from eth_event_tracker_spark.streaming import resume_all

    prov = MockProvider()
    prov.advance(20, logs_per_block=1)
    store = ParquetStore(tmp_path)
    cfg_a = FilterConfig(topics=(EVENT_SIGS[0],))
    cfg_b = FilterConfig(topics=(EVENT_SIGS[1],))
    Tracker(prov, store, cfg_a).sync()
    Tracker(prov, store, cfg_b).sync()

    prov.advance(10, logs_per_block=1)
    trackers = resume_all(prov, ParquetStore(tmp_path))
    assert {t.config.filter_hash for t in trackers} == {cfg_a.filter_hash, cfg_b.filter_hash}
    for t in trackers:
        t.sync()
    n_a = len(store.entry(cfg_a.filter_hash).all_logs())
    n_b = len(store.entry(cfg_b.filter_hash).all_logs())
    assert n_a + n_b == 30  # every log matched exactly one signature
    want_a = sum(1 for lg in chain_logs(prov) if lg["topics"][0] == EVENT_SIGS[0])
    assert n_a == want_a


class _Crash(Exception):
    pass


class _CrashOnCheckpoint(ParquetStore):
    """A store that crashes right after the first write whose value names
    the block hash ``needle`` — the first write of that block's
    checkpoint, whichever key the tracker writes first."""

    def __init__(self, root, needle: str) -> None:
        super().__init__(root)
        self.needle = needle

    def set(self, key: str, val: str) -> None:
        super().set(key, val)
        if self.needle in val:
            raise _Crash


def _assert_canonical(t, prov) -> None:
    rows = t.entry.all_logs()
    assert [r["tx_hash"] for r in rows] == [lg["tx_hash"] for lg in chain_logs(prov)]
    assert [r["indx"] for r in rows] == list(range(len(rows)))


def test_crash_between_checkpoint_writes_stores_no_block_twice(tmp_path):
    """A crash between the two writes of a checkpoint must not leave the
    head window behind lastBlock: a restart would then resume from
    lastBlock while the next poll walks from the window tail and stores
    that block's logs a second time."""
    prov = MockProvider()
    prov.advance(30, logs_per_block=3)
    t = Tracker(prov, _CrashOnCheckpoint(tmp_path, prov.latest().hash), FilterConfig())
    with pytest.raises(_Crash):
        t.sync()
    t2 = Tracker(prov, ParquetStore(tmp_path), FilterConfig())
    t2.sync()
    prov.advance(2, logs_per_block=3)
    t2.poll()
    _assert_canonical(t2, prov)


def test_crash_between_poll_store_and_checkpoint(tmp_path, monkeypatch):
    """A poll stores all its blocks' logs, then commits one checkpoint; a
    crash in between leaves the whole poll above the checkpoint.  The
    chain then forks below the checkpoint while the tracker is down: the
    restart drops the uncommitted rows, retracts the committed rows of
    the forked-out blocks, and ends on the canonical chain."""
    prov = MockProvider()
    prov.advance(20, logs_per_block=2)
    t = Tracker(prov, ParquetStore(tmp_path), FilterConfig())
    t.sync()
    prov.advance(5, logs_per_block=2)

    def crash(head):
        raise _Crash

    monkeypatch.setattr(t, "_commit_checkpoint", crash)
    with pytest.raises(_Crash):
        t.poll()
    assert max(r["block_num"] for r in t.entry.all_logs()) == 25
    assert t2_last_block(tmp_path) == 20
    forked = [lg["tx_hash"] for b in prov.canonical[19:21] for lg in b.logs()]
    prov.fork(7, logs_per_block=2)  # replaces blocks 19..25

    t2 = Tracker(prov, ParquetStore(tmp_path), FilterConfig())
    events = t2.sync()
    assert [r["tx_hash"] for r in events[0].removed] == forked
    _assert_canonical(t2, prov)


class _ForkingProvider:
    """Delegates to a MockProvider and forks it just before the
    ``fork_at``-th ``get_block_by_number`` call; records every header
    that call returns."""

    def __init__(self, inner, fork_at: int, depth: int) -> None:
        self._inner = inner
        self._fork_at = fork_at
        self._depth = depth
        self.headers = []

    def get_block_by_number(self, n):
        if len(self.headers) + 1 == self._fork_at:
            self._inner.fork(self._depth, logs_per_block=2)
        h = self._inner.get_block_by_number(n)
        self.headers.append(h)
        return h

    def __getattr__(self, name):
        return getattr(self._inner, name)


def test_fork_inside_one_poll_matches_per_header_handling(tmp_path):
    """The chain forks while a poll walks its new heights: the poll has
    stored blocks that the fork retracts.  Its events (rows, indx, order)
    and its entry equal those of a twin tracker handed the same headers
    one at a time."""
    prov = MockProvider()
    prov.advance(20, logs_per_block=2)
    forking = _ForkingProvider(prov, fork_at=4, depth=4)
    t = Tracker(forking, ParquetStore(tmp_path / "a"), FilterConfig())
    twin = Tracker(prov, ParquetStore(tmp_path / "b"), FilterConfig())
    t.sync()
    twin.sync()
    prov.advance(6, logs_per_block=2)
    forking.headers.clear()
    events = t.poll()
    assert any(e.removed for e in events)  # the fork retracted stored blocks
    twin_events = [twin.handle_head(h) for h in forking.headers]
    assert [(e.added, e.removed) for e in events] == [
        (e.added, e.removed) for e in twin_events if e is not None
    ]
    assert t.entry.all_logs() == twin.entry.all_logs()
    _assert_canonical(t, prov)


def test_poll_writes_entry_and_checkpoint_once(tmp_path, monkeypatch):
    """A poll over many new blocks makes one entry write and commits one
    checkpoint (its window, then lastBlock)."""
    prov = MockProvider()
    prov.advance(20, logs_per_block=2)
    store = ParquetStore(tmp_path)
    t = Tracker(prov, store, FilterConfig())
    t.sync()
    prov.advance(8, logs_per_block=2)
    writes, keys = [], []
    store_logs = t.entry.store_logs
    set_ = store.set
    monkeypatch.setattr(t.entry, "store_logs", lambda logs: writes.append(len(logs)) or store_logs(logs))
    monkeypatch.setattr(store, "set", lambda k, v: keys.append(k) or set_(k, v))
    events = t.poll()
    assert len(events) == 8 and writes == [16]
    assert [k.split("_")[0] for k in keys] == ["headWindow", "lastBlock"]
    _assert_canonical(t, prov)
