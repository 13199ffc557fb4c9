"""The tracker — incremental, reorg-aware log sync (the reference's soul,
tracker.go:561-829) re-expressed as a micro-batch pipeline.

Execution model mapping (SURVEY §3):
  - ``sync()``       = Sync/BatchSync/syncImpl: fingerprint check, bulk
                       backfill with AIMD pacing up to head−backlog, then
                       head catch-up through the reconcile window.
  - ``poll()``       = the continuous phase: one head observation →
                       reconcile → apply diff (handleBlockEvnt/doFilter).
  - checkpoint       = KV ``lastBlock_<filter_hash>`` + persisted head
                       window (the reference stores only the last block,
                       tracker.go:237-247; persisting the whole ≤10-block
                       window makes restart-time reorg repair exact).
  - events           = returned ChangelogEvent(added, removed) lists; the
                       durable store is written *before* the checkpoint
                       advances, exactly like tracker.go:369-382.

Every mutable piece here is O(backlog) driver state; all data-scale work
(append/truncate/scan) happens in the parquet entry store, readable as a
Spark DataFrame with partition pruning.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from ..config import KEY_CHAIN_ID, KEY_GENESIS, FilterConfig, key_filter, key_last_block
from ..reorg import BlockDiff, HeadWindow, ReorgTooDeepError, reconcile
from ..sources.mock_chain import Header, TooMuchDataError
from ..sources.rpc_provider import RpcError
from ..store import ParquetStore


class FingerprintMismatchError(Exception):
    """Resuming against a different chain ('bad genesis', tracker.go:410-444)."""


@dataclass
class ChangelogEvent:
    """Event{Added, Removed []*Log} (tracker.go:841-846). Removed logs are
    oldest-first (revertLogs, tracker.go:756-761)."""

    added: list[dict] = field(default_factory=list)
    removed: list[dict] = field(default_factory=list)


def _header_to_json(h: Header) -> str:
    return json.dumps(
        {"number": h.number, "hash": h.hash, "parent_hash": h.parent_hash}, sort_keys=True
    )


def _header_from_json(s: str) -> Header:
    d = json.loads(s)
    return Header(d["number"], d["hash"], d["parent_hash"])


class Tracker:
    def __init__(
        self,
        provider,
        store: ParquetStore,
        config: FilterConfig | None = None,
        head_retry: int = 5,  # tracker.go:806-811: 5 × 500 ms
        head_retry_delay: float = 0.0,  # 0 in tests; 0.5 in production
        activity_index=None,  # S-3: external first-activity index (Etherscan analogue)
        spark=None,  # enables the distributed bulk backfill path
        chain_dir: str | None = None,  # executor-readable chain (web3logs source)
        distributed_bulk_threshold: int = 1_000,  # bulk gap that justifies a Spark job
        on_progress=None,  # C-5: callback(dict) per sync step (SyncCh analogue)
    ) -> None:
        self.provider = provider
        self.store = store
        self.activity_index = activity_index
        self.config = config or FilterConfig()
        self.entry = store.entry(self.config.filter_hash)
        self.window = HeadWindow(max_backlog=self.config.max_block_backlog)
        self.head_retry = head_retry
        self.head_retry_delay = head_retry_delay
        self.spark = spark
        self.chain_dir = chain_dir
        self.distributed_bulk_threshold = distributed_bulk_threshold
        self.on_progress = on_progress
        # C-5 — queryable sync progress (the reference exposes SyncCh /
        # ReadyCh / WaitDuration, tracker.go:143-147,264-289; here one
        # status dict updated per step + an optional push callback)
        self.progress: dict = {"phase": "idle", "height": -1, "target": -1, "synced": False}
        self._batch_size = float(self.config.batch_size)  # AIMD state (C-1)
        self._setup()

    # -- E1: prepare (setupFilter, tracker.go:177-211) ----------------------
    def _setup(self) -> None:
        fkey = key_filter(self.config.filter_hash)
        if self.store.get(fkey) is None:
            self.store.set(fkey, self.config.to_json())
        wkey = f"headWindow_{self.config.filter_hash}"
        saved = self.store.get(wkey)
        if saved:
            self.window.blocks = [_header_from_json(s) for s in json.loads(saved)]

    # -- S-12: fingerprint validation (preSyncCheckImpl, tracker.go:410-444)
    def pre_sync_check(self) -> None:
        genesis = self.provider.genesis_hash()
        chain_id = str(self.provider.chain_id)
        stored_g, stored_c = self.store.get(KEY_GENESIS), self.store.get(KEY_CHAIN_ID)
        if stored_g is None:
            self.store.set(KEY_GENESIS, genesis)
            self.store.set(KEY_CHAIN_ID, chain_id)
        elif stored_g != genesis or stored_c != chain_id:
            raise FingerprintMismatchError("bad genesis/chainID: checkpoint from another chain")

    # -- S-11: checkpoint (storeLastBlock/GetLastBlock, tracker.go:218-247) -
    def _commit_checkpoint(self, head: Header) -> None:
        self.store.set(key_last_block(self.config.filter_hash), _header_to_json(head))
        self.store.set(
            f"headWindow_{self.config.filter_hash}",
            json.dumps([_header_to_json(b) for b in self.window.blocks]),
        )

    def get_last_block(self) -> Header | None:
        s = self.store.get(key_last_block(self.config.filter_hash))
        return _header_from_json(s) if s else None

    # -- C-5: progress reporting --------------------------------------------
    def _report(self, phase: str, height: int, target: int, synced: bool = False) -> None:
        self.progress.update(phase=phase, height=height, target=target, synced=synced)
        if self.on_progress is not None:
            self.on_progress(dict(self.progress))

    # -- S-1 + C-1: bulk range scan with AIMD batching (syncBatch,
    #    tracker.go:338-400) ------------------------------------------------
    def _sync_batch(self, from_block: int, to_block: int) -> list[ChangelogEvent]:
        events: list[ChangelogEvent] = []
        nominal = float(self.config.batch_size)
        cur = from_block
        while cur <= to_block:
            size = max(1, int(self._batch_size))
            end = min(cur + size - 1, to_block)
            try:
                logs = self.provider.get_logs(
                    cur, end, self.config.addresses, self.config.topics
                )
            except TooMuchDataError:
                if size > 1:
                    # multiplicative decrease (tracker.go:354-358)
                    self._batch_size = max(1.0, self._batch_size / 2)
                    continue
                # a single block exceeds the server cap — the range API can
                # never satisfy it (the reference would loop forever here);
                # fall back to the per-block by-hash path (S-2), which has
                # no range cap
                hdr = self.provider.get_block_by_number(cur)
                logs = self._logs_by_hash(hdr.hash) if hdr is not None else []
            stored = self.entry.store_logs(logs)
            if stored:
                events.append(ChangelogEvent(added=stored))
            hdr = self.provider.get_block_by_number(end)
            if hdr is not None:
                self._commit_checkpoint(hdr)  # per-batch commit, tracker.go:376-382
            # additive increase: +10% of nominal, capped (tracker.go:342,391-394)
            self._batch_size = min(nominal, self._batch_size + nominal / 10)
            self._report("bulk", end, to_block)
            cur = end + 1
        return events

    # -- S-1 at scale: distributed bulk backfill (the 100 TB path) ----------
    def _bulk_backfill_spark(self, from_block: int, to_block: int) -> int:
        """Backfill [from_block, to_block] as a Spark job: `web3logs` batch
        read (filter pushed into every partition fetch, range split across
        executors) → ``entry.append_df`` (two-phase indx, distributed
        parquet write).  Row-identical to the driver-side ``_sync_batch``
        path — the restart/crash contract is unchanged because the data
        write still lands before the checkpoint commit.

        No per-row ChangelogEvent is emitted for bulk rows: a 100 TB
        backfill cannot pass through a driver-side list; consumers read
        the entry (or the changelog table) directly.  The reference's bulk
        phase equally bypasses per-log events until the head phase
        (tracker.go:582-715)."""
        from ..sources.web3_source import Web3LogDataSource

        try:
            self.spark.dataSource.register(Web3LogDataSource)
        except Exception:
            pass  # already registered on this session
        df = (
            self.spark.read.format("web3logs")
            .option("chain_dir", self.chain_dir)
            .option("start_block", str(from_block))
            .option("end_block", str(to_block))
            .option("addresses", json.dumps(list(self.config.addresses)))
            .option("topics", json.dumps(list(self.config.topics)))
            .load()
        )
        n = self.entry.append_df(df)
        hdr = self.provider.get_block_by_number(to_block)
        if hdr is not None:
            self._commit_checkpoint(hdr)
        self._report("bulk", to_block, to_block)
        return n

    # -- S-2 + O-7: fork-exact per-block fetch with retry (tracker.go:797-815)
    def _logs_by_hash(self, block_hash: str) -> list[dict]:
        """Retries PROVIDER ERRORS 5×500 ms (tracker.go:806-812: a lagging
        node may not serve a fresh head hash yet); an empty list is a valid
        answer (block with no matching logs) and returns immediately —
        retrying on empty would cost head_retry RPCs per quiet block.
        Only RPC errors and transport errors (urllib's URLError and socket
        timeouts are OSErrors) are retried; anything else is a bug and
        propagates on the first call."""
        for attempt in range(self.head_retry):
            try:
                return self.provider.get_logs_by_hash(
                    block_hash, self.config.addresses, self.config.topics
                )
            except (RpcError, OSError):
                if attempt == self.head_retry - 1:
                    raise
                if self.head_retry_delay:
                    time.sleep(self.head_retry_delay)
        return []

    # -- A-2/A-3: rollback removed blocks' logs ------------------------------
    def _rollback(self, removed: list[Header]) -> list[dict]:
        # reverse tail walk, O(reorg depth) not O(entry) — the removed
        # blocks are by construction the newest, so their logs form a
        # contiguous tail (removeLogs's cursor walk, tracker.go:717-754)
        victims = self.entry.scan_tail({h.hash for h in removed})
        if not victims:
            return []
        boundary = min(r["indx"] for r in victims)
        self.entry.remove_logs(boundary)
        return victims  # oldest-first (A-3, revertLogs tracker.go:756-761)

    # -- A-4: apply one block diff (doFilter, tracker.go:786-829) -----------
    def _apply_diff(self, diff: BlockDiff) -> ChangelogEvent:
        evnt = ChangelogEvent()
        if diff.removed:
            evnt.removed = self._rollback(diff.removed)
        for hdr in diff.added:
            logs = self._logs_by_hash(hdr.hash)
            evnt.added.extend(self.entry.store_logs(logs))
        if diff.added:
            self._commit_checkpoint(diff.added[-1])
        return evnt

    # -- head event handling (handleBlockEvnt, tracker.go:763-784) ----------
    def handle_head(self, incoming: Header) -> ChangelogEvent | None:
        diff = reconcile(self.window, incoming, self.provider.get_block_by_hash)
        if diff.empty:
            return None
        return self._apply_diff(diff)

    # -- restart-time reorg repair (tracker.go:627-666) ---------------------
    def _repair_on_restart(self) -> ChangelogEvent | None:
        """The stored head window may have forked while we were down: find
        the highest persisted header still on-chain, roll back everything
        above it (the golden 'fork inside vs beyond backlog' restart cases,
        tracker_test.go:277-367)."""
        if not self.window.blocks:
            return None
        keep = -1
        for i, b in enumerate(self.window.blocks):
            cur = self.provider.get_block_by_number(b.number)
            if cur is not None and cur.hash == b.hash:
                keep = i
        if keep == len(self.window.blocks) - 1:
            return None  # checkpoint still canonical
        if keep < 0:
            raise ReorgTooDeepError("entire persisted head window forked out")
        removed_headers = self.window.blocks[keep + 1 :]
        self.window.blocks = self.window.blocks[: keep + 1]
        removed = self._rollback(removed_headers)
        self._commit_checkpoint(self.window.blocks[-1])
        return ChangelogEvent(removed=removed) if removed else None

    # -- S-3/O-2: fast-track probe (fastTrack, tracker.go:446-519) ----------
    def _fast_track(self) -> int:
        """Skip dead history on first sync: ask the external activity index
        for each address's first active block, start at the minimum
        (min across addresses, tracker.go:500-509).

        A user-provided start block wins outright and skips the probe
        entirely (tracker.go:447-454); an address with no indexed activity
        maps to 0, so the min conservatively falls back to genesis — both
        exactly the reference's override interplay."""
        if self.config.start_block != 0:
            return self.config.start_block
        if self.activity_index is None or not self.config.addresses:
            return 0
        return min(
            self.activity_index.first_activity_block(a) or 0 for a in self.config.addresses
        )

    # -- E2: full sync (syncImpl, tracker.go:582-715) -----------------------
    def sync(self) -> list[ChangelogEvent]:
        self.pre_sync_check()
        events: list[ChangelogEvent] = []
        if self.get_last_block() is not None:
            repair = self._repair_on_restart()
            if repair:
                events.append(repair)
            # Resume from the MAX of the head-window tail and the lastBlock
            # checkpoint (re-read after repair — repair rewrites both).  A
            # crash mid-bulk leaves the persisted window empty/stale while
            # _sync_batch advanced lastBlock per batch; resuming from the
            # window alone would re-sync from 0 and append duplicates.  The
            # reference resumes from last.Number+1 (tracker.go:646).
            last = self.get_last_block()
            window_tail = self.window.blocks[-1].number if self.window.blocks else -1
            origin = max(window_tail, last.number if last else -1) + 1
            # The append protocol stores logs BEFORE committing the
            # checkpoint, so a crash in between leaves ≤ one batch of rows
            # above `origin-1` in the entry; drop them so the re-fetch
            # can't duplicate (they were never exposed past a committed
            # checkpoint, so no retraction event is owed)
            self.entry.truncate_above_block(origin - 1)
        else:
            origin = self._fast_track()  # O-2 skip-scan / S-3 probe
        target = self.provider.latest()
        backlog = self.config.max_block_backlog
        # BULK phase: everything up to head−backlog (C-2).  Big gaps run as
        # a distributed Spark job (web3logs → append_df); small gaps and
        # reference-parity tests use the driver-side AIMD range scan.
        while target.number - origin > backlog:
            bulk_end = target.number - backlog
            if (
                self.spark is not None
                and self.chain_dir is not None
                and bulk_end - origin + 1 >= self.distributed_bulk_threshold
            ):
                self._bulk_backfill_spark(origin, bulk_end)
            else:
                events.extend(self._sync_batch(origin, bulk_end))
            # seed the window at the bulk boundary so head reconcile connects
            hdr = self.provider.get_block_by_number(bulk_end)
            self.window.blocks = [hdr]
            self._commit_checkpoint(hdr)
            origin = bulk_end + 1
            target = self.provider.latest()  # head may have moved (tracker.go:683-697)
        # HEAD phase: remaining ≤ backlog blocks through the reconcile window
        for n in range(origin, target.number + 1):
            hdr = self.provider.get_block_by_number(n)
            if hdr is None:
                break
            ev = self.handle_head(hdr)
            if ev is not None:
                events.append(ev)
            self._report("head", n, target.number)
        self._report("synced", target.number, target.number, synced=True)
        return events

    # -- continuous phase: one poll of the head -----------------------------
    def poll(self) -> list[ChangelogEvent]:
        target = self.provider.latest()
        events: list[ChangelogEvent] = []
        known = self.window.hashes()
        if target.hash in known:
            return events
        start = (self.window.blocks[-1].number + 1) if self.window.blocks else 0
        start = min(start, target.number)
        for n in range(start, target.number + 1):
            hdr = self.provider.get_block_by_number(n)
            if hdr is None or hdr.hash in known:
                continue
            ev = self.handle_head(hdr)
            if ev is not None:
                events.append(ev)
            self._report("poll", n, target.number, synced=True)
        return events


def resume_all(provider, store: ParquetStore, **tracker_kwargs) -> list[Tracker]:
    """Rebuild a tracker for every filter ever registered in the store —
    the reference enumerates persisted FilterConfigs via the KV prefix
    scan (filter_<hash> keys written at setup, tracker.go:194-209;
    ListPrefix, store/store.go:10-11). Restart-time recovery needs no
    caller-side filter list: the store is self-describing."""
    trackers = []
    for key, val in store.list_prefix("filter_"):
        cfg = FilterConfig.from_json(val)
        trackers.append(Tracker(provider, store, cfg, **tracker_kwargs))
    return trackers
