"""Model-based store fuzzing — the conformance analogue of the
reference's randomized tracker test (TestTrackerSyncerRandom,
/root/reference/tracker_test.go:369-482): random op sequences, with the
in-memory backend as the executable model and the durable backends
(parquet file layout, JDBC over embedded Derby) required to agree after
every step.

The golden conformance cases (test_store_conformance.py) pin known
shapes; this finds the unknown ones — interleavings of append /
tail-truncate / reopen that a fixed suite never enumerates (the round-3
empty-topics disagreement was exactly this class of bug).
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

_BUCKET = _MERGE_FANIN  # the smallest bucket that can fill a tier

# an op is one of:
#   ("append", n_logs, topics_mode)   topics_mode: 0 normal, 1 empty, 2 none
#   ("truncate", frac)                remove_logs at frac * last_index
#   ("reopen",)                       durable stores must survive this
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(1, 6), st.integers(0, 2)),
        st.tuples(st.just("truncate"), st.floats(0.0, 1.0)),
        st.tuples(st.just("reopen")),
    ),
    min_size=1,
    max_size=12,
)


def _mk_logs(tag: int, n: int, num: int, topics_mode: int) -> list[dict]:
    b = mock(tag % 0xFF or 1).num(num)
    for i in range(n):
        b.log(f"{(tag % 0xFF or 1):x}{i:02x}")
    logs = b.logs()
    if topics_mode == 1:
        logs = [{**lg, "topics": []} for lg in logs]
    elif topics_mode == 2:
        logs = [{**lg, "topics": None} for lg in logs]
    return logs


def _run_ops(ops, make_store, reopen, prefix=0):
    """Apply ``prefix`` one-row appends, then ``ops``; the store must
    agree with the model after every op."""
    store = make_store()
    entry = store.entry("f1", bucket_size=_BUCKET)  # small buckets: force spans
    model = InMemStore()
    m_entry = model.entry("f1")
    blk = 0
    for i in range(prefix):
        blk += 1
        logs = _mk_logs(0x80 + i, 1, blk, 0)
        entry.store_logs([dict(lg) for lg in logs])
        m_entry.store_logs([dict(lg) for lg in logs])
    for step, op in enumerate(ops):
        if op[0] == "append":
            _, n, tmode = op
            blk += 1
            logs = _mk_logs(step + 1, n, blk, tmode)
            entry.store_logs([dict(lg) for lg in logs])
            m_entry.store_logs([dict(lg) for lg in logs])
        elif op[0] == "truncate":
            frac = op[1]
            at = int(m_entry.last_index() * frac)
            entry.remove_logs(at)
            m_entry.remove_logs(at)
        else:  # reopen
            store, entry = reopen(store)
        assert entry.last_index() == m_entry.last_index(), f"last_index after step {step}"
        got, want = entry.all_logs(), m_entry.all_logs()
        assert len(got) == len(want), f"row count after step {step}"
        for g, w in zip(got, want):
            for col in ("indx", "tx_hash", "block_num", "block_hash", "topics", "data"):
                assert g[col] == w[col], f"{col} after step {step}: {g[col]!r} != {w[col]!r}"
        # point lookups agree at the edges
        for probe in {0, m_entry.last_index() - 1}:
            if probe >= 0:
                g1, w1 = entry.get_log(probe), m_entry.get_log(probe)
                assert (g1 is None) == (w1 is None)
                if g1 is not None:
                    assert g1["tx_hash"] == w1["tx_hash"]


@settings(max_examples=20, deadline=None)
@given(ops=_OPS, prefix=st.integers(2 * _MERGE_FANIN, 5 * _MERGE_FANIN))
def test_parquet_store_matches_inmem_model(ops, prefix):
    """Each example starts with ``prefix`` one-row appends, which fill at
    least two buckets with ``_MERGE_FANIN`` tier-0 files each, so the
    random ops run over tier-merged buckets (and may merge again)."""
    merges = []
    real_merge = ParquetEntry._merge_files

    def counting(self, k, names, target, *args):
        merges.append(target)
        return real_merge(self, k, names, target, *args)

    with tempfile.TemporaryDirectory() as tmp, pytest.MonkeyPatch.context() as mp:
        mp.setattr(ParquetEntry, "_merge_files", counting)

        def reopen(old):
            s = ParquetStore(Path(tmp))
            return s, s.entry("f1", bucket_size=_BUCKET)

        _run_ops(ops, lambda: ParquetStore(Path(tmp)), reopen, prefix)
    assert sum(bool(_TIER_FILE.fullmatch(t)) for t in merges) >= 2


@settings(max_examples=10, deadline=None)
@given(ops=_OPS)
def test_jdbc_store_matches_inmem_model(ops, spark):
    """Same model-based fuzz over the JDBC backend (driver-side ops —
    the distributed append path has its own parity test).  ``reopen``
    deboots the embedded Derby database and boots it again, so the
    entry must come back from the table alone.  Fewer examples: each
    one boots and deboots an embedded Derby database."""
    from .test_store_conformance import _derby_store

    with tempfile.TemporaryDirectory() as tmp:
        stores = [_derby_store(spark, Path(tmp))]
        try:

            def reopen(old):
                old.close()
                stores.append(_derby_store(spark, Path(tmp)))
                return stores[-1], stores[-1].entry("f1")

            _run_ops(ops, lambda: stores[0], reopen)
        finally:
            stores[-1].close()
