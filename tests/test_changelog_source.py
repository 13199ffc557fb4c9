"""`web3changelog` — the readStream-native reorg-aware source (round-7
verdict item 6): golden reorg scenario under spark.readStream with
checkpoint-dir resume, pinned EQUAL to the batch Tracker's changelog on
the same chain history (tracker_test.go:484-758 semantics)."""

from __future__ import annotations

import json

import pytest

from eth_event_tracker_spark.reorg import ReorgTooDeepError
from eth_event_tracker_spark.sources.changelog_source import Web3ChangelogStreamReader
from eth_event_tracker_spark.sources.file_chain import dump_chain
from eth_event_tracker_spark.sources.mock_chain import MockProvider

from .test_web3_source import _drain


@pytest.fixture(scope="module")
def registered(spark):
    from eth_event_tracker_spark.sources.changelog_source import register

    register(spark)
    return spark


def _run(spark, cdir, out, ckpt, **opts):
    reader = spark.readStream.format("web3changelog").option("chain_dir", cdir)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    _drain(q)
    return q


def test_stream_reorg_changelog_matches_batch_tracker(registered, tmp_path):
    """Sync 30 blocks, stop, reorg the last 5, resume from checkpoint:
    the appended changelog must carry the 10 retractions + 10 fork
    additions, and fold to the canonical chain — row-for-row equal to
    the batch Tracker's changelog on an identical twin chain."""
    prov = MockProvider()
    prov.advance(30, logs_per_block=2)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    _run(registered, cdir, out, ckpt, max_blocks_per_batch=10, n_slices=2)
    got1 = registered.read.parquet(out)
    assert got1.count() == 60
    assert got1.where("action = 'removed'").count() == 0

    # twin chain for the batch-Tracker oracle, driven through the SAME
    # history (advance 30 / sync, fork 5 / poll)
    import tempfile

    from eth_event_tracker_spark.config import FilterConfig
    from eth_event_tracker_spark.store import ParquetStore
    from eth_event_tracker_spark.streaming import Tracker

    twin = MockProvider()
    twin.advance(30, logs_per_block=2)
    with tempfile.TemporaryDirectory() as tmp:
        tr = Tracker(twin, ParquetStore(tmp), FilterConfig(batch_size=10))
        events = tr.sync()
        prov.fork(5, logs_per_block=2)
        twin.fork(5, logs_per_block=2)
        dump_chain(prov, cdir)
        _run(registered, cdir, out, ckpt, max_blocks_per_batch=10, n_slices=2)
        events += tr.poll()

    got2 = registered.read.parquet(out)
    assert got2.where("action = 'removed'").count() == 10
    assert got2.count() == 80  # 60 + 10 removed + 10 fork adds

    # changelog equality vs the batch tracker (multiset of action/tx/block)
    stream_cl = sorted(
        (r.action, r.tx_hash, r.block_num, r.block_hash)
        for r in got2.select("action", "tx_hash", "block_num", "block_hash").collect()
    )
    batch_cl = sorted(
        [("added", lg["tx_hash"], lg["block_num"], lg["block_hash"]) for e in events for lg in e.added]
        + [("removed", lg["tx_hash"], lg["block_num"], lg["block_hash"]) for e in events for lg in e.removed]
    )
    assert stream_cl == batch_cl

    # folding the changelog yields exactly the canonical chain's logs
    added = {
        (r.tx_hash, r.block_hash)
        for r in got2.where("action = 'added'").collect()
    }
    removed = {
        (r.tx_hash, r.block_hash)
        for r in got2.where("action = 'removed'").collect()
    }
    canonical = {(lg["tx_hash"], lg["block_hash"]) for lg in prov.get_logs(0, 30)}
    assert added - removed == canonical

    # exactly-once across the restart: no duplicate (action, tx, block) rows
    assert (
        got2.select("action", "tx_hash", "block_hash").distinct().count() == got2.count()
    )


def test_reader_offsets_replayable_and_bounded(tmp_path):
    """Unit pins on the reader itself: offsets fully describe each batch
    (replay = same blocks), retractions are oldest-first, and a reorg
    deeper than the backlog raises (A-1 bound)."""
    prov = MockProvider()
    prov.advance(30, logs_per_block=1)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)

    opts = {"chain_dir": cdir, "max_block_backlog": "10"}
    r = Web3ChangelogStreamReader(opts)
    off1 = r.latestOffset()
    assert off1["next"] == 31 and len(off1["tail"]) == 10
    assert [n for n, _ in off1["added"]] == list(range(0, 31))

    prov.fork(4, logs_per_block=1)
    dump_chain(prov, cdir)
    off2 = r.latestOffset()
    rm = off2["removed"]
    assert [n for n, _ in rm] == [27, 28, 29, 30]  # oldest-first (A-3)
    assert off2["from"] == 27 and off2["next"] == 31
    # replay: partitions derive from the END offset alone — a fresh reader
    # (new process after restart) plans the identical block lists
    r2 = Web3ChangelogStreamReader(opts)
    p1 = r.partitions(off1, off2)
    p2 = r2.partitions(off1, off2)
    assert [(p.action, p.blocks) for p in p1] == [(p.action, p.blocks) for p in p2]
    # and the removed blocks' logs are still fetchable (orphan retention)
    rows = list(r2.read(p2[0]))
    assert len(rows) == 4 and all(t[0] == "removed" for t in rows)

    # reorg deeper than the backlog window → hard error, never silent
    prov.fork(12, logs_per_block=1)
    dump_chain(prov, cdir)
    r3 = Web3ChangelogStreamReader(opts)
    r3._last = off2
    with pytest.raises(ReorgTooDeepError):
        r3.latestOffset()


def test_changelog_stream_pushdown(registered, tmp_path):
    """Address filter is applied at the source (P-1): a non-matching
    address yields zero rows end-to-end."""
    prov = MockProvider()
    prov.advance(10, logs_per_block=1)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    _run(
        registered,
        cdir,
        out,
        ckpt,
        addresses=json.dumps(["0x" + "bb" * 20]),
    )
    import glob

    files = glob.glob(f"{out}/*.parquet")
    if files:
        assert registered.read.parquet(out).count() == 0


def test_two_streams_same_chain_distinct_filters(registered, tmp_path):
    """Concurrency hardening (round-8 verdict item 5): TWO streaming
    queries over the SAME chain_dir with distinct topic filters — the
    reference tracks multiple filters per store via ListPrefix
    (store/store.go:10-11, tracker.go:26-31); here each filter gets its
    own sidecar (filter-id hash in the name) and its own checkpoint.
    Both queries sync, survive the same reorg, and each must be
    row-equal to a batch Tracker running the corresponding filter."""
    import tempfile

    from eth_event_tracker_spark.config import FilterConfig
    from eth_event_tracker_spark.sources.mock_chain import EVENT_SIGS
    from eth_event_tracker_spark.store import ParquetStore
    from eth_event_tracker_spark.streaming import Tracker

    prov = MockProvider()
    prov.advance(30, logs_per_block=2)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)

    paths = {
        sig: (str(tmp_path / f"out{i}"), str(tmp_path / f"ckpt{i}"))
        for i, sig in enumerate(EVENT_SIGS)
    }
    for sig, (out, ckpt) in paths.items():
        _run(registered, cdir, out, ckpt, max_blocks_per_batch=10,
             topics=json.dumps([sig]))
    # distinct sidecars must exist (one per filter id)
    import glob

    assert len(glob.glob(f"{cdir}/_source_offset_*.json")) == 2

    # one reorg, then both queries resume from their own checkpoints
    prov.fork(5, logs_per_block=2)
    dump_chain(prov, cdir)
    for sig, (out, ckpt) in paths.items():
        _run(registered, cdir, out, ckpt, max_blocks_per_batch=10,
             topics=json.dumps([sig]))

    # batch-Tracker twin per filter on an identical chain history
    for sig, (out, _ckpt) in paths.items():
        twin = MockProvider()
        twin.advance(30, logs_per_block=2)
        with tempfile.TemporaryDirectory() as tmp:
            tr = Tracker(
                twin, ParquetStore(tmp),
                FilterConfig(batch_size=10, topics=(sig,)),
            )
            events = tr.sync()
            twin.fork(5, logs_per_block=2)
            events += tr.poll()
        got = registered.read.parquet(out)
        stream_cl = sorted(
            (r.action, r.tx_hash, r.block_num, r.block_hash)
            for r in got.select("action", "tx_hash", "block_num", "block_hash").collect()
        )
        batch_cl = sorted(
            [("added", lg["tx_hash"], lg["block_num"], lg["block_hash"])
             for e in events for lg in e.added]
            + [("removed", lg["tx_hash"], lg["block_num"], lg["block_hash"])
               for e in events for lg in e.removed]
        )
        assert stream_cl == batch_cl and len(stream_cl) > 0, sig
        # and the filter actually selected a strict subset
        assert {r.topics[0] for r in got.collect()} == {sig}


def test_fresh_checkpoint_keeps_batch_caps(registered, tmp_path):
    """The offset sidecar belongs to one query: a fresh query (new
    checkpoint, new output) on a chain another query already drained
    starts at block 0, keeps the per-batch block cap and emits the same
    changelog."""
    prov = MockProvider()
    prov.advance(45, logs_per_block=1)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)

    def run(tag):
        out, ckpt = str(tmp_path / f"out{tag}"), str(tmp_path / f"ckpt{tag}")
        q = _run(registered, cdir, out, ckpt, max_blocks_per_batch=15,
                 checkpoint_location=ckpt)
        rows = sorted(
            (r.action, r.tx_hash, r.block_num, r.block_hash)
            for r in registered.read.parquet(out).collect()
        )
        return rows, [p["numInputRows"] for p in q.recentProgress]

    first, _ = run(1)
    second, batch_rows = run(2)
    assert len(first) == 45 and second == first
    assert batch_rows and all(n <= 15 for n in batch_rows)


def test_restart_with_sidecar_ahead_of_wal(tmp_path):
    """Restart-mid-batch where the sidecar raced AHEAD of Spark's WAL
    (commit() ran for batch N+1 but the replay starts at batch N):
    partitions(start, end) derives rows from the END offset alone and
    resyncs _last to it, so the ahead sidecar is discarded, the replayed
    batch is bit-identical, and the next latestOffset continues with no
    gap and no duplicates."""
    prov = MockProvider()
    prov.advance(20, logs_per_block=1)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)

    opts = {"chain_dir": cdir, "max_blocks_per_batch": "15"}
    r1 = Web3ChangelogStreamReader(opts)
    off0 = r1.initialOffset()
    offA = r1.latestOffset()
    r1.commit(offA)
    prov.advance(5, logs_per_block=1)
    dump_chain(prov, cdir)
    offB = r1.latestOffset()
    r1.commit(offB)  # sidecar now holds offB; simulate WAL replay of (offA, offB)
    plan_live = [(p.action, p.blocks) for p in r1.partitions(offA, offB)]
    rows_live = [t for p in r1.partitions(offA, offB) for t in r1.read(p)]

    # crash + restart: fresh reader seeds _last = offB from the sidecar
    r2 = Web3ChangelogStreamReader(opts)
    assert r2._last == offB  # ahead of the WAL's replay start (offA)
    plan_replay = [(p.action, p.blocks) for p in r2.partitions(offA, offB)]
    rows_replay = [t for p in r2.partitions(offA, offB) for t in r2.read(p)]
    assert plan_replay == plan_live and rows_replay == rows_live

    # continuation after the replay: next batch starts exactly at
    # offB.next — no gap, no duplicate block
    prov.advance(3, logs_per_block=1)
    dump_chain(prov, cdir)
    offC = r2.latestOffset()
    assert [n for n, _ in offC["added"]][0] == offB["next"]
    all_nums = [n for n, _ in offA["added"]] + [n for n, _ in offB["added"]] + [
        n for n, _ in offC["added"]
    ]
    assert all_nums == sorted(set(all_nums))  # contiguous, no dup, no gap
    assert all_nums == list(range(0, offC["next"]))


def test_file_chain_parse_memo_shares_and_invalidates(tmp_path):
    """Round-12 operator optimization (guide §4.5): FileChainReader memoizes
    the parsed chain per (path, mtime_ns, size) at process level, because
    the streaming source runner re-reads the chain every 1 s trigger and
    every read() task re-parsed by_hash.jsonl.  Pin: two readers share ONE
    parsed object (memo hit), and a dump_chain rewrite — the only way the
    chain ever changes — is seen immediately (memo miss on new signature)."""
    from eth_event_tracker_spark.sources.file_chain import FileChainReader

    prov = MockProvider()
    prov.advance(10, logs_per_block=2)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)

    r1, r2 = FileChainReader(cdir), FileChainReader(cdir)
    assert r1.blocks is r2.blocks, "memo hit must share the parsed list"
    assert r1.by_hash is r2.by_hash
    assert len(r1.blocks) == 11  # genesis + 10

    before = r1.blocks
    prov.fork(3, logs_per_block=1)  # reorg rewrites blocks.jsonl
    dump_chain(prov, cdir)
    r3 = FileChainReader(cdir)
    assert r3.blocks is not before, "rewrite must invalidate the memo"
    assert [b["hash"] for b in r3.blocks] == [b.hash for b in prov.canonical]
    # orphans of the pre-fork branch stay fetchable by hash (S-2)
    assert all(b["hash"] in r3.by_hash for b in before)
