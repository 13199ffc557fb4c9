"""Snapshot maintenance wiring (round-10 verdict item 4).

``maintain_changelog(snapshot_dir=...)`` refreshes the finality-horizon
snapshot in the same pass as compaction, and
``views_as_of_maintained`` serves time travel from snapshot + tail by
default — bit-identical to full replay, with the compact-vs-swap crash
window closed by the staleness guard (a snapshot below the compaction
horizon is refused, not silently served).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from eth_event_tracker_spark.config import FilterConfig
from eth_event_tracker_spark.sources.mock_chain import MockProvider
from eth_event_tracker_spark.store import ParquetStore
from eth_event_tracker_spark.streaming import Tracker
from eth_event_tracker_spark.streaming.pipeline import (
    _SNAP_META,
    append_changelog,
    maintain_changelog,
    read_snapshot,
    views_as_of,
    views_as_of_maintained,
)

from .test_pipeline import _churned_changelog


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _instants(spark, pairs):
    return spark.createDataFrame(pairs, "view_label string, _as_of long")


def test_maintenance_refreshes_snapshot_and_reads_identical(spark, tmp_path):
    store, t, clog, head = _churned_changelog(spark, tmp_path)
    t.provider.advance(15, logs_per_block=1)
    for e in t.poll():
        append_changelog(clog, e)
    sdir = str(tmp_path / "snap")
    stats = maintain_changelog(spark, clog, t, snapshot_dir=sdir)
    assert stats["rows_after"] < stats["rows_before"]
    assert "snapshot_pos" in stats

    snap = read_snapshot(spark, sdir)
    assert snap is not None
    snapshot, pos = snap
    assert pos == stats["snapshot_pos"]
    # the snapshot position is the max FINALIZED indx
    horizon = t.get_last_block().number - t.config.max_block_backlog
    want_pos = (
        clog.df(spark).where(F.col("block_num") < horizon).agg(F.max("indx")).first()[0]
    )
    assert pos == want_pos

    top = clog.last_index()
    instants = _instants(
        spark, [("at_snap", pos), ("mid", (pos + top) // 2), ("now", top)]
    )
    served = views_as_of_maintained(spark, clog, instants, sdir)
    # the fast path actually reads the maintained snapshot parquet
    assert any("data-" in f for f in served.inputFiles())
    # collected once: a DataFrame snapshots the entry's file list, and the
    # maintenance below replaces the files it would re-read
    full = _rows(
        views_as_of(clog.df(spark), instants, exact_from=clog.time_travel_horizon() or None)
    )
    assert _rows(served) == full

    # idempotent re-maintenance (same horizon) rebuilds the same position
    stats2 = maintain_changelog(spark, clog, t, snapshot_dir=sdir)
    assert stats2["snapshot_pos"] == pos
    assert _rows(views_as_of_maintained(spark, clog, instants, sdir)) == full


def test_stale_snapshot_refused_after_unswapped_compaction(spark, tmp_path):
    """The crash window: compaction advanced but the snapshot swap never
    ran (simulated by calling compact_changelog directly).  The old
    snapshot is UNSAFE with the compacted tail — the read path must
    detect pos < time_travel_horizon and fall back to full replay."""
    store, t, clog, head = _churned_changelog(spark, tmp_path)
    t.provider.advance(15, logs_per_block=1)
    for e in t.poll():
        append_changelog(clog, e)
    sdir = str(tmp_path / "snap")
    stats = maintain_changelog(spark, clog, t, snapshot_dir=sdir)
    pos0 = stats["snapshot_pos"]

    # more churn ABOVE pos0, then compaction alone (the simulated crash
    # between the compaction commit and the snapshot refresh)
    for _ in range(2):
        t.provider.fork(3, logs_per_block=1)
        for e in t.poll():
            append_changelog(clog, e)
        t.provider.advance(2, logs_per_block=1)
        for e in t.poll():
            append_changelog(clog, e)
    t.provider.advance(15, logs_per_block=1)
    for e in t.poll():
        append_changelog(clog, e)
    horizon = t.get_last_block().number - t.config.max_block_backlog
    clog.compact_changelog(spark, finalized_below=horizon)
    assert clog.time_travel_horizon() > pos0, "churn above pos0 must have pruned"

    top = clog.last_index()
    instants = _instants(spark, [("now", top)])
    served = views_as_of_maintained(spark, clog, instants, sdir)
    # fallback: the stale snapshot parquet is NOT in the plan
    assert not any("data-" in f for f in served.inputFiles())
    # collected once, before the maintenance replaces the files it reads
    full = _rows(
        views_as_of(clog.df(spark), instants, exact_from=clog.time_travel_horizon() or None)
    )
    assert _rows(served) == full

    # re-running maintenance heals: fresh snapshot, fast path again
    stats2 = maintain_changelog(spark, clog, t, snapshot_dir=sdir)
    assert stats2["snapshot_pos"] > pos0
    served2 = views_as_of_maintained(spark, clog, instants, sdir)
    assert any("data-" in f for f in served2.inputFiles())
    assert _rows(served2) == full


def test_torn_or_old_instant_paths_fall_back(spark, tmp_path):
    store, t, clog, head = _churned_changelog(spark, tmp_path)
    t.provider.advance(15, logs_per_block=1)
    for e in t.poll():
        append_changelog(clog, e)
    sdir = str(tmp_path / "snap")
    stats = maintain_changelog(spark, clog, t, snapshot_dir=sdir)
    pos = stats["snapshot_pos"]
    top = clog.last_index()

    # an instant BELOW the snapshot position (but at/above the exact_from
    # horizon) cannot be served from the snapshot — full replay, same rows
    exact_from = clog.time_travel_horizon()
    lo = max(exact_from, pos - 1)
    instants = _instants(spark, [("old", lo), ("now", top)])
    served = views_as_of_maintained(spark, clog, instants, sdir)
    if lo < pos:
        assert not any("data-" in f for f in served.inputFiles())
    full = views_as_of(clog.df(spark), instants, exact_from=exact_from or None)
    assert _rows(served) == _rows(full)

    # torn snapshot: meta points at a swept data dir -> read as absent
    meta = json.loads(open(os.path.join(sdir, _SNAP_META)).read())
    meta["data"] = "data-999999"
    with open(os.path.join(sdir, _SNAP_META), "w") as f:
        json.dump(meta, f)
    assert read_snapshot(spark, sdir) is None
    instants2 = _instants(spark, [("now", top)])
    served2 = views_as_of_maintained(spark, clog, instants2, sdir)
    assert _rows(served2) == _rows(
        views_as_of(clog.df(spark), instants2, exact_from=exact_from or None)
    )
