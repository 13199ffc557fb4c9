"""Model-based changelog fuzzing — randomized add/reorg churn with
compaction at arbitrary (valid) finality horizons, across backends.

The model is the FULL append-only changelog (never compacted), held as
plain Python rows; the store under test compacts.  After every step the
store's reconstructed live view must equal the model's, and everything
at/above the highest horizon ever compacted must survive byte-identical
(replay history is only collapsible below finality).  This is the
randomized counterpart of the golden compaction cases in
tests/test_pipeline.py / test_store_conformance.py — interleavings a
fixed suite never enumerates.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from eth_event_tracker_spark.sources.mock_chain import mock
from eth_event_tracker_spark.store import ParquetEntry, ParquetStore
from eth_event_tracker_spark.store.inmem_store import InMemStore
from eth_event_tracker_spark.store.parquet_store import _MERGE_FANIN, _TIER_FILE

# an op is one of:
#   ("add", n_logs)         one new head block with n logs
#   ("reorg", depth)        retract up to `depth` head blocks, re-add twins
#   ("dup",)                replay the head block's adds (at-least-once
#                           delivery: duplicate adds of LIVE natural keys
#                           — the case where the time-travel bound must
#                           be the surviving winner, not the max pruned)
#   ("compact", frac)       compact at horizon = frac-point of the head
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("add"), st.integers(1, 3)),
        st.tuples(st.just("reorg"), st.integers(1, 3)),
        st.tuples(st.just("dup")),
        st.tuples(st.just("compact"), st.floats(0.0, 1.0)),
    ),
    min_size=1,
    max_size=10,
)


def _pview(rows) -> dict:
    """Pure-python current_view: winning row per natural key when its
    latest change is an 'add' — key → (indx, tx_hash) of the winner."""
    latest: dict[tuple, dict] = {}
    for r in rows:
        k = (r["block_hash"], r["tx_index"], r["log_index"])
        if k not in latest or r["indx"] > latest[k]["indx"]:
            latest[k] = r
    return {
        k: (v["indx"], v["tx_hash"])
        for k, v in latest.items()
        if v["change_type"] == "add"
    }


def _tail(rows, horizon) -> list[tuple]:
    return sorted(
        (r["indx"], r["block_hash"], r["change_type"])
        for r in rows
        if r["block_num"] >= horizon
    )


class _Chain:
    """Driver-side chain simulator emitting changelog rows."""

    def __init__(self) -> None:
        self.blocks: list[tuple[int, list[dict]]] = []  # (block_num, live rows)
        self.full: list[dict] = []  # the model: every row ever appended
        self.tag = 0

    def _block(self, num: int, n: int) -> list[dict]:
        self.tag += 1
        b = mock(self.tag % 0xFF or 1).num(num)
        for i in range(n):
            b.log(f"{(self.tag % 0xFF or 1):x}{i:02x}")
        return b.logs()

    def add(self, entry, n: int) -> None:
        num = (self.blocks[-1][0] + 1) if self.blocks else 1
        logs = self._block(num, n)
        rows = [{**lg, "change_type": "add"} for lg in logs]
        stored = entry.store_logs([dict(r) for r in rows])
        self.full.extend(stored)
        self.blocks.append((num, logs))

    def reorg(self, entry, depth: int, floor: int) -> None:
        """Retract up to `depth` head blocks (never below `floor` — the
        highest compacted horizon: finalized blocks cannot reorg) and
        re-add replacement blocks at the same heights."""
        depth = min(depth, len(self.blocks))
        while depth and self.blocks[-depth][0] < floor:
            depth -= 1
        if depth <= 0:
            return
        victims = self.blocks[-depth:]
        del self.blocks[-depth:]
        removes = [
            {**lg, "change_type": "remove"}
            for _, logs in reversed(victims)
            for lg in reversed(logs)
        ]
        stored = entry.store_logs([dict(r) for r in removes])
        self.full.extend(stored)
        for num, _ in victims:
            self.add_at(entry, num)

    def add_at(self, entry, num: int) -> None:
        logs = self._block(num, 2)
        rows = [{**lg, "change_type": "add"} for lg in logs]
        stored = entry.store_logs([dict(r) for r in rows])
        self.full.extend(stored)
        self.blocks.append((num, logs))

    def dup(self, entry) -> None:
        """At-least-once replay: re-append the head block's logs as new
        'add' rows with the SAME natural keys (fresh indx values)."""
        if not self.blocks:
            return
        _, logs = self.blocks[-1]
        rows = [{**lg, "change_type": "add"} for lg in logs]
        stored = entry.store_logs([dict(r) for r in rows])
        self.full.extend(stored)

    def head(self) -> int:
        return self.blocks[-1][0] if self.blocks else 0


def _run(ops, entry_factory, spark, reopen=None):
    entry = entry_factory()
    chain = _Chain()
    hmax = 0  # highest horizon ever compacted: finality floor
    for step, op in enumerate(ops):
        if op[0] == "add":
            chain.add(entry, op[1])
        elif op[0] == "dup":
            chain.dup(entry)
        elif op[0] == "reorg":
            if chain.blocks:
                chain.reorg(entry, op[1], hmax)
        else:  # compact
            horizon = int(op[1] * (chain.head() + 1))
            prev_tt = entry.time_travel_horizon()
            entry.compact_changelog(spark, finalized_below=horizon)
            hmax = max(hmax, horizon)
            if reopen is not None:
                entry = reopen()
            # time-travel horizon contract (round 7): monotone, bounded
            # by the log, and reconstruction at ANY instant at-or-above
            # it is exact vs the never-compacted model
            tt = entry.time_travel_horizon()
            assert prev_tt <= tt <= len(chain.full), f"horizon bounds at step {step}"
            stored_now = entry.all_logs()
            n_total = len(chain.full)
            for t in {tt, (tt + n_total) // 2, n_total}:
                if t < tt:
                    continue
                got = _pview([r for r in stored_now if r["indx"] <= t])
                want = _pview([r for r in chain.full if r["indx"] <= t])
                assert got == want, (
                    f"view_as_of({t}) must be exact at/above horizon {tt} "
                    f"after step {step}"
                )
        stored = entry.all_logs()
        assert _pview(stored) == _pview(chain.full), f"live view after step {step}"
        assert _tail(stored, hmax) == _tail(chain.full, hmax), (
            f"replay history at/above horizon {hmax} after step {step}"
        )
        assert entry.last_index() == len(chain.full), f"counter after step {step}"


@settings(max_examples=15, deadline=None)
@given(ops=_OPS)
def test_inmem_changelog_compaction_fuzz(ops):
    _run(ops, lambda: InMemStore().changelog_entry("cl"), spark=None)


@settings(max_examples=8, deadline=None)
@given(ops=_OPS)
def test_jdbc_changelog_compaction_fuzz(ops, spark):
    """JDBC arm over embedded Derby: compaction is one server-side DELETE
    with Derby's CLOB CAST and derived-table workarounds, checked here
    against the never-compacted model (each example boots a database;
    fewer examples)."""
    from .test_store_conformance import _derby_store

    with tempfile.TemporaryDirectory() as tmp:
        store = _derby_store(spark, Path(tmp))
        try:
            _run(ops, lambda: store.changelog_entry("cl"), spark)
        finally:
            store.close()


@settings(max_examples=8, deadline=None)
@given(ops=_OPS)
def test_parquet_changelog_compaction_fuzz(ops, spark):
    """Parquet arm reopens the entry after every compaction — the swap
    protocol and recovery path run under every randomized interleaving
    (each compaction is a Spark job; fewer examples).  Each example
    starts with ``2 * _MERGE_FANIN`` one-log blocks, so two buckets are
    tier-merged before the random ops, whose compactions then rewrite
    tier-merged buckets and later appends land next to Spark-written
    files."""
    merges = []
    real_merge = ParquetEntry._merge_files

    def counting(self, k, names, target, *args):
        merges.append(target)
        return real_merge(self, k, names, target, *args)

    bucket = _MERGE_FANIN
    with tempfile.TemporaryDirectory() as tmp, pytest.MonkeyPatch.context() as mp:
        mp.setattr(ParquetEntry, "_merge_files", counting)
        store = ParquetStore(Path(tmp))
        _run(
            [("add", 1)] * (2 * _MERGE_FANIN) + ops,
            lambda: store.changelog_entry("cl", bucket_size=bucket),
            spark,
            reopen=lambda: ParquetStore(Path(tmp)).changelog_entry("cl", bucket_size=bucket),
        )
    assert sum(bool(_TIER_FILE.fullmatch(t)) for t in merges) >= 2


# ---------------------------------------------------------------------------
# Temporal-operator fuzz: view_as_of / validity_intervals / incremental_agg
# against the python model over randomized (uncompacted) churn histories.
# ---------------------------------------------------------------------------
_CHURN = st.lists(
    st.one_of(
        st.tuples(st.just("add"), st.integers(1, 3)),
        st.tuples(st.just("reorg"), st.integers(1, 3)),
    ),
    min_size=2,
    max_size=8,
)


def _pview_at(rows, t) -> dict:
    return _pview([r for r in rows if r["indx"] <= t])


@settings(max_examples=6, deadline=None)
@given(ops=_CHURN, fracs=st.lists(st.floats(0.0, 1.0), min_size=1, max_size=3))
def test_temporal_operators_fuzz(ops, fracs, spark):
    from pyspark.sql import functions as F

    from eth_event_tracker_spark.streaming.pipeline import (
        incremental_agg,
        validity_intervals,
        view_as_of,
    )

    entry = InMemStore().changelog_entry("cl")
    chain = _Chain()
    for op in ops:
        if op[0] == "add":
            chain.add(entry, op[1])
        elif chain.blocks:
            chain.reorg(entry, op[1], 0)
    rows = chain.full
    if not rows:
        return
    cdf = spark.createDataFrame(rows)

    # time-travel at arbitrary instants (boundaries included)
    n = len(rows)
    instants = sorted({0, n - 1, *(int(f * (n - 1)) for f in fracs)})
    for t in instants:
        got = {
            (r.block_hash, r.tx_index, r.log_index): r.indx
            for r in view_as_of(cdf, t).collect()
        }
        want = {k: v[0] for k, v in _pview_at(rows, t).items()}
        assert got == want, f"view_as_of({t})"

    # SCD2 intervals: per-key min add / min remove, live set == final view
    iv = {
        (r.block_hash, r.tx_index, r.log_index): (r.valid_from, r.valid_to)
        for r in validity_intervals(cdf).collect()
    }
    model_iv: dict = {}
    for r in rows:
        k = (r["block_hash"], r["tx_index"], r["log_index"])
        frm, to = model_iv.get(k, (None, None))
        if r["change_type"] == "add":
            frm = r["indx"] if frm is None else min(frm, r["indx"])
        else:
            to = r["indx"] if to is None else min(to, r["indx"])
        model_iv[k] = (frm, to)
    assert iv == model_iv
    assert {k for k, (_, to) in iv.items() if to is None} == set(_pview(rows))

    # IVM identity per block
    got_agg = {
        r.block_num: r.n_live for r in incremental_agg(cdf, keys=("block_num",)).collect()
    }
    want_agg: dict = {}
    for k, (indx, _tx) in _pview(rows).items():
        bn = next(r["block_num"] for r in rows if r["indx"] == indx)
        want_agg[bn] = want_agg.get(bn, 0) + 1
    assert got_agg == want_agg
