"""Store conformance — semantic port of the reference's backend-agnostic
suite (/root/reference/store/testing.go:22-242, run against inmem/bolt/pg):
KV get/set/update, prefix listing, multi-entry isolation, append/index
monotonicity, truncate-then-reappend."""

from __future__ import annotations

import contextlib
import re
import uuid
from pathlib import Path
from urllib.parse import unquote, urlparse

import pytest

from eth_event_tracker_spark.sources.mock_chain import mock
from eth_event_tracker_spark.store import (
    InMemEntry,
    InMemStore,
    JdbcEntry,
    JdbcStore,
    ParquetEntry,
    ParquetStore,
)

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_store(spark, tmp_path) -> JdbcStore:
    try:
        spark._jvm.java.lang.Class.forName(DERBY_DRIVER)
    except Exception:
        pytest.skip("no embedded Derby jar on the Spark classpath")
    return JdbcStore(spark, f"jdbc:derby:{tmp_path}/derby;create=true", driver=DERBY_DRIVER)


@pytest.fixture(params=["parquet", "inmem", "jdbc"])
def make_store(request, tmp_path, spark):
    """Backend-agnostic store factory — the reference runs one suite
    against every backend (store/testing.go, against inmem/bolt/pg); so
    do we, against parquet/inmem/jdbc-derby.  Parquet returns a fresh
    handle on the same directory per call (a reopen); inmem and jdbc
    return the same store."""
    if request.param == "parquet":
        return lambda: ParquetStore(tmp_path)
    if request.param == "jdbc":
        s = _derby_store(spark, tmp_path)
        request.addfinalizer(s.close)
        return lambda: s
    return lambda s=InMemStore(): s  # same instance per test


def _logs(tag, n, num):
    b = mock(tag).num(num)
    for i in range(n):
        b.log(f"{tag:x}{i:02x}")
    return b.logs()


# Every entry method the library calls on a backend-neutral entry
# (Tracker, the finalized stream, changelog maintenance, SQL views).
ENTRY_CONTRACT = (
    "last_index",
    "store_logs",
    "remove_logs",
    "get_log",
    "all_logs",
    "scan_tail",
    "truncate_above_block",
    "df",
    "compact_changelog",
    "time_travel_horizon",
)


@pytest.mark.parametrize("entry_cls", [InMemEntry, ParquetEntry, JdbcEntry])
def test_entry_defines_full_contract(entry_cls):
    """Static guard, no Spark: each backend's entry class defines every
    method the library calls, so a backend cannot miss one that only a
    rarely run path (such as restart recovery) reaches."""
    missing = [m for m in ENTRY_CONTRACT if not callable(getattr(entry_cls, m, None))]
    assert missing == []


def test_kv_set_get_update(make_store):
    s = make_store()
    assert s.get("k1") is None
    s.set("k1", "v1")
    assert s.get("k1") == "v1"
    s.set("k1", "v2")  # upsert (postgresql_store.go:71-76 ON CONFLICT)
    assert s.get("k1") == "v2"


def test_kv_prefix_listing(make_store):
    s = make_store()
    for k, v in [("filter_a", "1"), ("filter_b", "2"), ("lastBlock_a", "3"), ("genesis", "4")]:
        s.set(k, v)
    got = s.list_prefix("filter_")
    assert got == [("filter_a", "1"), ("filter_b", "2")]
    assert s.list_prefix("nope") == []


def test_kv_persistence(tmp_path):
    ParquetStore(tmp_path).set("k", "v")
    assert ParquetStore(tmp_path).get("k") == "v"


def test_entry_append_monotonic(make_store):
    e = make_store().entry("f1")
    assert e.last_index() == 0
    e.store_logs(_logs(0x1, 3, 1))
    assert e.last_index() == 3
    e.store_logs(_logs(0x2, 2, 2))
    assert e.last_index() == 5
    assert [r["indx"] for r in e.all_logs()] == [0, 1, 2, 3, 4]


def test_entry_isolation(make_store):
    s = make_store()
    e1, e2 = s.entry("f1"), s.entry("f2")
    e1.store_logs(_logs(0x1, 3, 1))
    e2.store_logs(_logs(0x2, 1, 1))
    assert e1.last_index() == 3
    assert e2.last_index() == 1
    assert len(e1.all_logs()) == 3
    assert len(e2.all_logs()) == 1


def test_entry_truncate_then_reappend(make_store):
    e = make_store().entry("f1", bucket_size=4)  # parquet: force bucket spans
    e.store_logs(_logs(0x1, 10, 1))
    e.remove_logs(6)
    assert e.last_index() == 6
    assert [r["indx"] for r in e.all_logs()] == list(range(6))
    e.store_logs(_logs(0x3, 3, 2))
    assert e.last_index() == 9
    assert [r["indx"] for r in e.all_logs()] == list(range(9))
    # truncate to zero
    e.remove_logs(0)
    assert e.last_index() == 0
    assert e.all_logs() == []


def test_entry_zero_topics_roundtrip(make_store):
    """Anonymous events (legal: zero indexed params) carry topics=[] —
    all backends must round-trip the empty list identically, not collapse
    it to None.  The reference's pg codec is ambiguous here
    (postgresql_store.go:179-190 splits '' into ['']); our conformance
    bar is backend agreement on the native representation."""
    e = make_store().entry("f1")
    [anon] = _logs(0x5, 1, 1)
    anon = {**anon, "topics": []}
    [named] = _logs(0x6, 1, 2)
    e.store_logs([anon, named])
    got_anon, got_named = e.get_log(0), e.get_log(1)
    assert got_anon["topics"] == []
    assert got_named["topics"] == named["topics"]
    assert [r["topics"] for r in e.all_logs()] == [[], named["topics"]]


def test_entry_point_lookup(make_store):
    e = make_store().entry("f1", bucket_size=4)
    e.store_logs(_logs(0x1, 9, 1))
    r = e.get_log(7)
    assert r is not None and r["indx"] == 7
    assert e.get_log(99) is None


def test_entry_reopen_recovers_index(tmp_path):
    s = ParquetStore(tmp_path)
    s.entry("f1").store_logs(_logs(0x1, 5, 1))
    # meta intact
    assert ParquetStore(tmp_path).entry("f1").last_index() == 5
    # meta lost → rescan from parquet
    (tmp_path / "entries" / "f1" / "meta.json").unlink()
    assert ParquetStore(tmp_path).entry("f1").last_index() == 5


def test_entry_spark_readable(tmp_path, spark):
    e = ParquetStore(tmp_path).entry("f1", bucket_size=4)
    e.store_logs(_logs(0x1, 9, 1))
    df = e.df(spark)
    assert df.count() == 9
    assert [r.indx for r in df.select("indx").orderBy("indx").collect()] == list(range(9))


def _spark_jobs(spark, action):
    """Run ``action`` under a fresh job group; return its result and the
    ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    prev = {p: sc.getLocalProperty(p) for p in props}
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        for p, v in prev.items():
            sc.setLocalProperty(p, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def hundred_file_changelog(tmp_path):
    """A one-bucket changelog of 100 one-row files, plus the hidden
    ``_compact.tmp`` a crash before a compaction's commit leaves.  The
    files are written straight into the entry layout (``store_logs``
    tier-merges its appends, so it never leaves 100 files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = ParquetStore(tmp_path).changelog_entry("plan").schema
    bucket = tmp_path / "entries" / "changelog_plan" / "bucket=0"
    bucket.mkdir()
    for i in range(100):
        [row] = _logs(0x100 + i, 1, i)
        row = {**row, "indx": i, "change_type": "add"}
        pq.write_table(pa.Table.from_pylist([row], schema=schema), bucket / f"part-{i:05d}.parquet")
    (bucket / "_compact.tmp").write_bytes(b"debris")
    clog = ParquetStore(tmp_path).changelog_entry("plan")
    assert clog._buckets() == [0] and len(clog._bucket_files(0)) == 100
    assert clog.last_index() == 100
    return clog


def test_entry_df_plans_without_spark_jobs(hundred_file_changelog, spark):
    """Building the DataFrame neither lists files with a Spark job (one
    task per path above 32 paths) nor infers the schema from footers:
    the bucket directory and the declared schema are passed."""
    df, jobs = _spark_jobs(spark, lambda: hundred_file_changelog.df(spark))
    assert jobs == []
    assert df.columns == hundred_file_changelog.columns


@contextlib.contextmanager
def _open_cost(spark, value: str):
    """``spark.sql.files.openCostInBytes`` set to ``value`` for the block:
    1k sends the test entries, whose rows are a few kB, down the scan
    path of ``ParquetEntry.df``."""
    key = "spark.sql.files.openCostInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_entry_df_reads_exactly_the_bucket_files(hundred_file_changelog, spark):
    """The scan path reads exactly the entry's files: Spark skips the
    ``_compact.tmp`` debris as ``_bucket_files`` does."""
    clog = hundred_file_changelog
    with _open_cost(spark, "1k"):
        read = {Path(unquote(urlparse(u).path)).resolve() for u in clog.df(spark).inputFiles()}
    assert read == {f.resolve() for f in clog._bucket_files(0)}


def test_entry_df_rows_path_holds_exactly_the_bucket_files_rows(hundred_file_changelog, spark):
    """Under the open cost the entry reaches Spark as rows, not files: the
    plan scans no file and the rows are those of ``_bucket_files``, with
    the ``_compact.tmp`` debris left out."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    clog = hundred_file_changelog
    df = clog.df(spark)
    assert df.inputFiles() == []
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    files = pa.concat_tables([pq.ParquetFile(f).read() for f in clog._bucket_files(0)])
    got = [r.asDict() for r in df.orderBy("indx").collect()]
    assert [{**r, "data": bytes(r["data"])} for r in got] == files.sort_by("indx").to_pylist()


def _view_refresh(spark, clog):
    from eth_event_tracker_spark.streaming.pipeline import current_view

    return current_view(clog.df(spark)).groupBy("block_num", "block_hash").count()


def test_view_refresh_job_count(hundred_file_changelog, spark):
    """The head path's view refresh over a 100-file changelog smaller
    than one file's open cost: its rows reach Spark in one partition and
    no task opens a file, so the window and the count run as one job —
    no listing or footer job, no shuffle, no file scan."""
    clog = hundred_file_changelog
    df = _view_refresh(spark, clog)
    rows, jobs = _spark_jobs(spark, df.collect)
    assert len(rows) == 100
    assert len(jobs) <= 1, jobs
    plan = _formatted_plan(df)
    assert "LocalTableScan" in plan and "Scan parquet" not in plan, plan
    assert not re.search(r"\(\d+\) Exchange", plan), plan


def test_view_refresh_one_exchange_above_bound(hundred_file_changelog, spark):
    """Above ``spark.sql.files.openCostInBytes`` the entry is read split,
    and the view refresh shuffles exactly once: the window's
    ``block_hash`` exchange also serves the per-block count."""
    clog = hundred_file_changelog
    with _open_cost(spark, "1k"):
        df = _view_refresh(spark, clog)
        assert clog.df(spark).rdd.getNumPartitions() > 1
        plan = _formatted_plan(df)
        assert len(df.collect()) == 100
    exchanges = [ln for ln in plan.splitlines() if re.match(r"\(\d+\) Exchange", ln)]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(block_hash" in plan


def test_current_view_plans_in_few_py4j_round_trips(hundred_file_changelog, spark, monkeypatch):
    """``current_view`` builds its window as one SQL expression: a dozen
    py4j round trips, not the ~140 of the column-object form, a fixed
    cost the head path pays on every refresh."""
    from eth_event_tracker_spark.streaming.pipeline import current_view

    df = hundred_file_changelog.df(spark)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(None)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    current_view(df)
    monkeypatch.undo()
    assert len(calls) <= 20, len(calls)


def test_entry_crash_recovery_meta_behind(tmp_path):
    """Crash between data write and meta commit: the reopened entry must
    trust the data files (no overlapping indx on the next append)."""
    import json

    e = ParquetStore(tmp_path).entry("f1")
    e.store_logs(_logs(0x1, 5, 1))
    meta = tmp_path / "entries" / "f1" / "meta.json"
    meta.write_text(json.dumps({"last_index": 2}))  # simulate stale meta
    e2 = ParquetStore(tmp_path).entry("f1")
    assert e2.last_index() == 5
    e2.store_logs(_logs(0x2, 2, 2))
    idxs = [r["indx"] for r in e2.all_logs()]
    assert idxs == list(range(7))


def test_entry_compaction(tmp_path):
    """A bucket's tier files merge into one; contents and order are
    unchanged."""
    e = ParquetStore(tmp_path).entry("f1", bucket_size=100)
    for i in range(12):  # 12 appends: 8 merged into one tier-1 file, 4 tier-0
        e.store_logs(_logs(0x1 + i, 3, i + 1))
    before = e.all_logs()
    files = sorted(f.name for f in (tmp_path / "entries" / "f1" / "bucket=0").glob("*.parquet"))
    assert [n[:7] for n in files] == ["part-t0"] * 4 + ["part-t1"]
    merged = e.compact()
    assert merged == 5
    assert len(list((tmp_path / "entries" / "f1" / "bucket=0").glob("*.parquet"))) == 1
    assert e.all_logs() == before
    # appends continue normally after compaction
    e.store_logs(_logs(0x99, 2, 99))
    assert e.last_index() == 38


class _Crash(Exception):
    pass


def test_entry_compaction_crash_at_every_step(tmp_path):
    """A crash at any rename or delete of ``compact()`` — here a
    re-compaction whose inputs include the previous merged file — leaves
    every row stored exactly once after reopen."""
    import os
    import pathlib

    real = {"replace": os.replace, "unlink": pathlib.Path.unlink}
    step = 0
    while True:
        root = tmp_path / f"crash{step}"
        e = ParquetStore(root).entry("f1", bucket_size=100)
        for i in range(6):
            if i == 3:
                e.compact()
            e.store_logs(_logs(0x1 + i, 3, i + 1))
        before = e.all_logs()
        calls = 0

        def crash_on(op):
            def wrapped(*args, **kwargs):
                nonlocal calls
                calls += 1
                if calls > step:
                    raise _Crash
                return op(*args, **kwargs)

            return wrapped

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(os, "replace", crash_on(real["replace"]))
            mp.setattr(pathlib.Path, "unlink", crash_on(real["unlink"]))
            try:
                e.compact()
                finished = True
            except _Crash:
                finished = False
        reopened = ParquetStore(root).entry("f1", bucket_size=100)
        assert reopened.all_logs() == before, f"crash after {step} file operations"
        assert [r["indx"] for r in reopened.all_logs()] == list(range(18))
        assert reopened.last_index() == 18
        if finished:
            break
        step += 1
    assert step >= 4  # intent commit, rename, and each input delete


def _tier_counts(bucket: Path) -> dict[int, int]:
    """Files per tier in a bucket directory; every file must be a tier
    file (``store_logs`` and its merges write nothing else)."""
    from eth_event_tracker_spark.store.parquet_store import _TIER_FILE

    counts: dict[int, int] = {}
    for f in bucket.glob("*.parquet"):
        m = _TIER_FILE.fullmatch(f.name)
        assert m, f.name
        counts[int(m[1])] = counts.get(int(m[1]), 0) + 1
    return counts


@pytest.mark.parametrize("bucket_size", [64, 10_000])
def test_tier_merge_bounds_files_and_keeps_rows(tmp_path, bucket_size):
    """600 appends of 1-3 rows: after each, every bucket holds fewer than
    ``_MERGE_FANIN`` files of each tier and no tier above log_8 of its
    rows (a tier-t file holds at least 8**t rows), and the stored rows
    are the appended ones with indx 0..n-1."""
    import random

    from eth_event_tracker_spark.store.parquet_store import _MERGE_FANIN

    rng = random.Random(bucket_size)
    e = ParquetStore(tmp_path).entry("f1", bucket_size=bucket_size)
    want: list[str] = []
    for n in range(1, 601):
        logs = _logs(n, rng.randint(1, 3), n)
        first = e.last_index() // bucket_size
        e.store_logs(logs)
        want.extend(lg["tx_hash"] for lg in logs)
        for k in range(first, (e.last_index() - 1) // bucket_size + 1):  # buckets written
            rows = min(bucket_size, e.last_index() - k * bucket_size)
            counts = _tier_counts(e.path / f"bucket={k}")
            assert max(counts.values()) < _MERGE_FANIN, (n, k, counts)
            assert _MERGE_FANIN ** max(counts) <= rows, (n, k, counts)
        if n % 50 == 0 or n < 20:
            got = e.all_logs()
            assert [r["tx_hash"] for r in got] == want, n
            assert [r["indx"] for r in got] == list(range(len(want))), n
    assert e.last_index() == len(want)
    if bucket_size == 10_000:  # one bucket: the cascade reached tier 3
        assert max(_tier_counts(e.path / "bucket=0")) == 3


def test_tier_merge_crash_at_every_step(tmp_path):
    """A crash at any rename or delete of a cascading tier merge — the
    64th one-row append merges eight tier-0 files into the eighth tier-1
    file, then those eight into a tier-2 file — leaves every row stored
    exactly once after reopen, and the next append restores the bound."""
    import os
    import pathlib
    import shutil

    from eth_event_tracker_spark.store.parquet_store import _MERGE_FANIN

    seed = tmp_path / "seed"
    e = ParquetStore(seed).entry("f1")
    for i in range(63):
        e.store_logs(_logs(0x100 + i, 1, i))
    assert _tier_counts(e.path / "bucket=0") == {0: 7, 1: 7}
    last = _logs(0x200, 1, 63)
    want = [r["tx_hash"] for r in e.all_logs()] + [last[0]["tx_hash"]]
    real = {"replace": os.replace, "unlink": pathlib.Path.unlink}
    step = 0
    while True:
        root = tmp_path / f"crash{step}"
        shutil.copytree(seed, root)
        e = ParquetStore(root).entry("f1")
        calls = 0

        def crash_on(op):
            def wrapped(*args, **kwargs):
                nonlocal calls
                calls += 1
                if calls > step:
                    raise _Crash
                return op(*args, **kwargs)

            return wrapped

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(os, "replace", crash_on(real["replace"]))
            mp.setattr(pathlib.Path, "unlink", crash_on(real["unlink"]))
            try:
                e.store_logs(last)
                finished = True
            except _Crash:
                finished = False
        reopened = ParquetStore(root).entry("f1")
        rows = reopened.all_logs()
        assert [r["tx_hash"] for r in rows] == want, f"crash after {step} file operations"
        assert [r["indx"] for r in rows] == list(range(64))
        assert reopened.last_index() == 64
        reopened.store_logs(_logs(0x201, 1, 64))
        assert [r["indx"] for r in reopened.all_logs()] == list(range(65))
        assert max(_tier_counts(reopened.path / "bucket=0").values()) < _MERGE_FANIN
        if finished:
            break
        step += 1
    # per merge: intent, rename, the input deletes and the intent clear
    # (an append itself writes no meta.json)
    assert step == 2 * (3 + _MERGE_FANIN)


def test_tier_merge_after_truncation(tmp_path):
    """Truncations that end inside a two-row tier-0 file, each followed by
    appends that merge the bucket's tiers again: the straddling file is
    rewritten under its name, merges with the later appends, and no
    truncated row comes back."""
    from eth_event_tracker_spark.store.parquet_store import _MERGE_FANIN

    e = ParquetStore(tmp_path).entry("f1", bucket_size=1000)
    want: list[str] = []
    tag = 0
    for _ in range(4):
        for _ in range(_MERGE_FANIN + 3):
            tag += 1
            logs = _logs(tag, 2, tag)
            e.store_logs(logs)
            want.extend(lg["tx_hash"] for lg in logs)
        e.remove_logs(len(want) - 3)
        del want[-3:]
        rows = e.all_logs()
        assert [r["tx_hash"] for r in rows] == want
        assert [r["indx"] for r in rows] == list(range(len(want)))
    assert max(_tier_counts(e.path / "bucket=0").values()) < _MERGE_FANIN


def test_mixed_writer_bucket_truncates_and_compacts(tmp_path, spark):
    """A bucket holding a Spark-written file (``append_df``: ``indx`` is
    NOT NULL there, list items are named ``element``) next to pyarrow
    tier files: truncation, ``compact()`` and the reads cast every file
    to the entry schema instead of failing to concatenate them."""
    from eth_event_tracker_spark.schemas import RAW_LOG_SCHEMA

    e = ParquetStore(tmp_path).entry("f1")
    bulk = [lg for b in range(1, 9) for lg in _logs(b, 3, b)]  # indx 0-23
    cols = [f.name for f in RAW_LOG_SCHEMA.fields]
    e.append_df(spark.createDataFrame([tuple(lg[c] for c in cols) for lg in bulk], RAW_LOG_SCHEMA))
    for b in range(9, 13):
        e.store_logs(_logs(b, 1, b))  # indx 24-27
    names = [f.name for f in e._bucket_files(0)]
    assert sum(n.startswith("part-t0-") for n in names) == 4 and len(names) > 4
    want = e.all_logs()
    assert [r["tx_hash"] for r in want] == [lg["tx_hash"] for lg in bulk] + [
        _logs(b, 1, b)[0]["tx_hash"] for b in range(9, 13)
    ]
    e.remove_logs(26)
    assert e.all_logs() == want[:26]
    e.remove_logs(20)  # inside the Spark-written rows
    assert e.all_logs() == want[:20]
    e.store_logs(_logs(13, 2, 13))
    before = e.all_logs()
    assert [r["indx"] for r in before] == list(range(22))
    files = len(e._bucket_files(0))
    assert e.compact() == files
    assert e.all_logs() == before and len(e._bucket_files(0)) == 1


def test_tracker_runs_on_backend(make_store):
    """The tracker is store-agnostic (WithStore(...) in the reference's
    tests): full sync + live reorg, then a restart after a crash between
    ``store_logs`` and the checkpoint write — the fresh tracker drops the
    uncommitted rows above the checkpoint and re-fetches them once."""
    from eth_event_tracker_spark.config import FilterConfig
    from eth_event_tracker_spark.sources.mock_chain import MockProvider
    from eth_event_tracker_spark.streaming import Tracker

    prov = MockProvider()
    prov.advance(25, logs_per_block=1)
    cfg = FilterConfig()
    t = Tracker(prov, make_store(), cfg)
    t.sync()
    assert t.entry.last_index() == 25
    prov.fork(3, logs_per_block=2)
    events = t.poll()
    assert sum(len(e.removed) for e in events) == 3
    assert sum(len(e.added) for e in events) == 6
    chain = [lg["tx_hash"] for b in prov.canonical for lg in b.logs()]
    assert [r["tx_hash"] for r in t.entry.all_logs()] == chain

    # crash: one batch stored above the checkpoint, checkpoint never written
    prov.advance(4, logs_per_block=1)
    t.entry.store_logs([lg for b in prov.canonical[-4:] for lg in b.logs()])
    restarted = Tracker(prov, make_store(), cfg)
    restarted.sync()
    rows = restarted.entry.all_logs()
    chain = [lg["tx_hash"] for b in prov.canonical for lg in b.logs()]
    assert [r["tx_hash"] for r in rows] == chain
    assert [r["indx"] for r in rows] == list(range(len(chain)))


def test_entry_truncate_crash_recovery(tmp_path):
    """Crash mid-truncation: the truncate intent (meta committed before
    deletion) must win on reopen — the doomed tail never resurrects."""
    import json

    e = ParquetStore(tmp_path).entry("f1", bucket_size=4)
    e.store_logs(_logs(0x1, 10, 1))
    # simulate: intent written, deletion never ran
    meta = tmp_path / "entries" / "f1" / "meta.json"
    meta.write_text(json.dumps({"last_index": 6, "truncating": True}))
    e2 = ParquetStore(tmp_path).entry("f1", bucket_size=4)
    assert e2.last_index() == 6
    assert [r["indx"] for r in e2.all_logs()] == list(range(6))
    e2.store_logs(_logs(0x2, 2, 2))
    assert [r["indx"] for r in e2.all_logs()] == list(range(8))


def test_single_block_exceeding_cap_does_not_hang(tmp_path):
    """A single block with more logs than the server cap must fall back to
    the per-block by-hash fetch instead of looping forever."""
    from eth_event_tracker_spark.config import FilterConfig
    from eth_event_tracker_spark.sources.mock_chain import MockProvider
    from eth_event_tracker_spark.streaming import Tracker

    prov = MockProvider(logs_per_query_limit=5)
    prov.advance(30, logs_per_block=1)
    # one fat block in bulk range: 8 logs > cap 5
    for j in range(1, 8):
        prov.canonical[10].log(f"fa{j:04x}")
    t = Tracker(prov, ParquetStore(tmp_path), FilterConfig(batch_size=10))
    t.sync()
    chain = [lg["tx_hash"] for b in prov.canonical for lg in b.logs()]
    assert [r["tx_hash"] for r in t.entry.all_logs()] == chain


def test_scan_tail_stops_at_boundary(tmp_path):
    """Reverse tail walk returns exactly the contiguous matching tail and
    reads across bucket boundaries."""
    e = ParquetStore(tmp_path).entry("f1", bucket_size=4)
    e.store_logs(_logs(0x1, 3, 1))  # indx 0-2, hash of block 0x1
    e.store_logs(_logs(0x2, 3, 2))  # indx 3-5
    e.store_logs(_logs(0x3, 4, 3))  # indx 6-9, spans buckets 1-2
    tail_hash = mock(0x3).num(3).hash
    mid_hash = mock(0x2).num(2).hash
    got = e.scan_tail({tail_hash, mid_hash})
    assert [r["indx"] for r in got] == [3, 4, 5, 6, 7, 8, 9]
    # a hash set matching only non-tail rows yields nothing (walk stops)
    assert e.scan_tail({mock(0x1).num(1).hash}) == []


def test_tail_walk_reads_only_tail_files(tmp_path, monkeypatch):
    """The tail walks order files by the max indx in their footers, not
    by name (the tier-1 file sorts after the tier-0 files but holds older
    rows), and open only the files holding the tail."""
    e = ParquetStore(tmp_path).entry("f1", bucket_size=100)
    for num in range(1, 6):
        e.store_logs(_logs(num, 3, num))  # indx 0-14
    e.compact()
    for num in range(6, 16):
        # indx 15-44: blocks 6-13 merge into one tier-1 file, 14 and 15
        # stay tier-0 files
        e.store_logs(_logs(num, 3, num))
    read: list[str] = []
    real_read_file = ParquetEntry._read_file

    def spy(self, f, *args, **kwargs):
        read.append(Path(f).name)
        return real_read_file(self, f, *args, **kwargs)

    monkeypatch.setattr(ParquetEntry, "_read_file", spy)

    def hashes(nums):
        return {mock(n).num(n).hash for n in nums}

    assert [r["indx"] for r in e.scan_tail(hashes([15]))] == [42, 43, 44]
    # pass 1: block 15's file, then block 14's (its rows end the tail);
    # pass 2: block 15's file only
    assert len(read) == 3 and len(set(read)) == 2, read
    assert [r["indx"] for r in e.scan_tail(hashes(range(4, 16)))] == list(range(9, 45))
    assert [r["indx"] for r in e.scan_tail(hashes(range(1, 16)))] == list(range(45))
    assert e.truncate_above_block(3) == 36
    assert [r["block_num"] for r in e.all_logs()] == [n for n in range(1, 4) for _ in range(3)]


# ---------------------------------------------------------------------------
# SQL backend specifics (postgresql_store.go parity), on embedded Derby;
# the JDBC backend is the distributed SQL path
# (postgresql_store.go:110-150 server-side semantics)
# ---------------------------------------------------------------------------
def test_sql_kv_persistence(tmp_path, spark):
    """Durability across store reopen — the property the reference's pg
    users rely on.  ``close`` deboots the embedded database."""
    s = _derby_store(spark, tmp_path)
    s.set("k", "v")
    s.close()
    s = _derby_store(spark, tmp_path)
    try:
        assert s.get("k") == "v"
    finally:
        s.close()


def test_sql_entry_reopen_recovers_index(tmp_path, spark):
    s = _derby_store(spark, tmp_path)
    s.entry("f1").store_logs(_logs(0x1, 5, 1))
    s.close()
    s = _derby_store(spark, tmp_path)
    try:
        e = s.entry("f1")
        assert e.last_index() == 5
        e.store_logs(_logs(0x2, 2, 2))
        assert [r["indx"] for r in e.all_logs()] == list(range(7))
    finally:
        s.close()


def test_sql_row_roundtrip_native_types(tmp_path, spark):
    """topics/data use the reference's stringly encoding in the table
    (comma-joined, 0x-hex — postgresql_store.go:124-141) but must come
    back as native list/bytes, identical to the other backends."""
    s = _derby_store(spark, tmp_path)
    try:
        e = s.entry("f1")
        [orig] = _logs(0x7, 1, 1)
        e.store_logs([dict(orig)])
        got = e.get_log(0)
        assert got["topics"] == orig["topics"]
        assert got["data"] == orig["data"]
        assert isinstance(got["data"], bytes)
        # raw stored form is the reference's encoding
        st = s._conn.createStatement()
        try:
            rs = st.executeQuery(f'SELECT "topics", "data" FROM {e.table}')
            assert rs.next()
            raw = (rs.getString(1), rs.getString(2))
        finally:
            st.close()
        assert raw[0] == ",".join(orig["topics"])
        assert raw[1] == "0x" + orig["data"].hex()
    finally:
        s.close()


def test_sql_filter_hash_must_be_identifier(tmp_path, spark):
    s = _derby_store(spark, tmp_path)
    try:
        with pytest.raises(ValueError):
            s.entry("bad-hash; DROP TABLE kv")
    finally:
        s.close()


def test_jdbc_append_df_matches_store_logs_no_driver_rows(tmp_path, spark, monkeypatch):
    """The distributed bulk path lands the same rows as the driver-side
    path — and no row data crosses the driver while it runs (the property
    the round-3 verdict asked the plan check for: toLocalIterator/collect
    poisoned for the duration of append_df)."""
    from pyspark.sql import DataFrame

    from eth_event_tracker_spark.schemas import RAW_LOG_SCHEMA

    logs = [lg for b in range(1, 9) for lg in _logs(b, 3, b)]
    # one log per shape edge: empty topics, null data
    logs[0] = {**logs[0], "topics": [], "data": None}
    s1 = _derby_store(spark, tmp_path / "a")
    s2 = _derby_store(spark, tmp_path / "b")
    try:
        e1 = s1.entry("f1")
        e1.store_logs(logs)
        e2 = s2.entry("f1")
        cols = [f.name for f in RAW_LOG_SCHEMA.fields]
        df = spark.createDataFrame([tuple(lg[c] for c in cols) for lg in logs], RAW_LOG_SCHEMA)

        def _forbidden(self, *a, **kw):
            raise AssertionError("append_df must not materialize rows on the driver")

        monkeypatch.setattr(DataFrame, "toLocalIterator", _forbidden)
        monkeypatch.setattr(DataFrame, "collect", _forbidden)
        n = e2.append_df(df)
        monkeypatch.undo()
        assert n == len(logs)
        assert e2.last_index() == e1.last_index()
        assert e2.all_logs() == e1.all_logs()
        # distributed read path agrees with the driver-side decode
        got = [r.asDict() for r in e2.df(spark).collect()]
        want = e1.all_logs()
        assert [(r["indx"], r["topics"], r["data"]) for r in got] == [
            (r["indx"], r["topics"], r["data"]) for r in want
        ]
    finally:
        s1.close()
        s2.close()


def test_changelog_roundtrip_and_compaction(make_store, spark):
    """Round 5: the changelog model is backend-agnostic.  change_type
    rows round-trip on every backend (previously the SQL codecs silently
    dropped the tag), current_view reconstructs the live set from the
    backend's df(), and compact_changelog collapses finalized churn
    server-side while the live view stays bit-identical — the
    prune_changelog semantics, enforced on every backend."""
    from eth_event_tracker_spark.streaming.pipeline import current_view

    clog = make_store().changelog_entry("cl")
    adds1 = _logs(0x1, 2, 1)  # block 1: survives
    adds2 = _logs(0x2, 2, 2)  # block 2: reorged out below the horizon
    clog.store_logs([{**r, "change_type": "add"} for r in adds1 + adds2])
    clog.store_logs([{**r, "change_type": "remove"} for r in reversed(adds2)])
    adds2b = _logs(0x3, 2, 2)  # block 2': the replacement branch
    clog.store_logs([{**r, "change_type": "add"} for r in adds2b])

    # round-trip: the tag survives storage on this backend
    assert [r.get("change_type") for r in clog.all_logs()] == (
        ["add"] * 4 + ["remove"] * 2 + ["add"] * 2
    )

    live = current_view(clog.df(spark))
    want = {(r["block_hash"], r["tx_index"], r["log_index"]) for r in adds1 + adds2b}
    got = {(r.block_hash, r.tx_index, r.log_index) for r in live.collect()}
    assert got == want

    before = sorted(map(tuple, live.collect()))
    last = clog.last_index()
    pre_indx = {r["indx"] for r in clog.all_logs()}
    assert clog.time_travel_horizon() == 0  # never pruned: exact everywhere
    stats = clog.compact_changelog(spark, finalized_below=100)
    assert stats["rows_after"] < stats["rows_before"]
    assert [r for r in clog.all_logs() if r.get("change_type") == "remove"] == []
    # exactly one winning 'add' row per live key; live view identical
    assert len(clog.all_logs()) == len(want)
    assert sorted(map(tuple, current_view(clog.df(spark)).collect())) == before
    assert clog.last_index() == last  # append counter never regresses

    # time-travel horizon parity (round-7): every backend reports the max
    # PRUNED indx, and view_as_of refuses instants below it
    import pytest as _pytest

    from eth_event_tracker_spark.streaming.pipeline import (
        TimeTravelBelowHorizonError,
        view_as_of,
    )

    dropped = pre_indx - {r["indx"] for r in clog.all_logs()}
    h = clog.time_travel_horizon()
    assert h == max(dropped), "horizon must equal the max pruned indx"
    with _pytest.raises(TimeTravelBelowHorizonError):
        view_as_of(clog.df(spark), h - 1, exact_from=h)
    got_at_h = {
        (r.block_hash, r.tx_index, r.log_index)
        for r in view_as_of(clog.df(spark), last - 1, exact_from=h).collect()
    }
    assert got_at_h == want


def test_compaction_pruning_top_row_keeps_index_across_reopen(tmp_path, spark):
    """``compact_changelog`` can prune the row with the largest indx, and
    appends do not rewrite ``meta.json``: the compaction commits
    ``last_index`` itself, so a reopened entry's next append reuses no
    indx."""
    clog = ParquetStore(tmp_path).changelog_entry("cl")
    adds = _logs(0x1, 2, 1)
    clog.store_logs([{**r, "change_type": "add"} for r in adds])
    clog.store_logs([{**r, "change_type": "add"} for r in _logs(0x2, 1, 2)])
    clog.store_logs([{**r, "change_type": "remove"} for r in reversed(adds)])
    assert clog.last_index() == 5
    clog.compact_changelog(spark, finalized_below=100)  # prunes indx 0, 1, 3, 4
    assert [r["indx"] for r in clog.all_logs()] == [2]
    reopened = ParquetStore(tmp_path).changelog_entry("cl")
    assert reopened.last_index() == 5
    [row] = reopened.store_logs([{**_logs(0x3, 1, 3)[0], "change_type": "add"}])
    assert row["indx"] == 5
    assert [r["indx"] for r in reopened.all_logs()] == [2, 5]


def test_empty_changelog_current_view(make_store, spark):
    """A changelog with no rows, never written or emptied by compaction,
    reads with its declared columns on every backend: current_view has
    0 rows instead of failing on a missing change_type."""
    from eth_event_tracker_spark.streaming.pipeline import current_view

    clog = make_store().changelog_entry("empty")
    empty = clog.df(spark)
    assert "change_type" in empty.columns
    # no RDD of Python rows: collecting one starts a Python worker
    assert "LogicalRDD" not in empty._jdf.queryExecution().optimizedPlan().toString()
    assert current_view(empty).count() == 0
    adds = _logs(0x1, 2, 1)
    clog.store_logs([{**r, "change_type": "add"} for r in adds])
    assert clog.df(spark).dtypes == empty.dtypes
    clog.store_logs([{**r, "change_type": "remove"} for r in reversed(adds)])
    clog.compact_changelog(spark, finalized_below=100)  # every key retracted
    # parquet and inmem drop every row; jdbc keeps its max-indx row so
    # that last_index (MAX + 1 there) never regresses
    assert len(clog.all_logs()) <= 1
    assert clog.df(spark).dtypes == empty.dtypes
    assert current_view(clog.df(spark)).count() == 0


def test_horizon_bound_with_duplicate_adds(make_store, spark):
    """Round-7 review: when a superseded duplicate 'add' is pruned (at-
    least-once delivery), the time-travel bound must be the key's
    SURVIVING winner indx, not the max pruned indx — at the pruned add's
    indx the full log showed the key live, the compacted log cannot."""
    from eth_event_tracker_spark.streaming.pipeline import (
        TimeTravelBelowHorizonError,
        current_view,
        view_as_of,
    )

    clog = make_store().changelog_entry("dup")
    a = _logs(0x1, 1, 1)  # key A, block 1
    b = _logs(0x2, 1, 2)  # key B, block 2 (stays live, above horizon)
    clog.store_logs([{**a[0], "change_type": "add"}])   # indx 0
    clog.store_logs([{**a[0], "change_type": "add"}])   # indx 1: duplicate
    clog.store_logs([{**b[0], "change_type": "add"}])   # indx 2
    import pytest as _pytest

    clog.compact_changelog(spark, finalized_below=2)  # prunes only indx 0
    kept = {r["indx"] for r in clog.all_logs()}
    assert kept == {1, 2}, kept
    # old bound (max pruned) would be 0; the winner bound is 1
    assert clog.time_travel_horizon() == 1
    with _pytest.raises(TimeTravelBelowHorizonError):
        view_as_of(clog.df(spark), 0, exact_from=clog.time_travel_horizon())
    # at the bound: exact (key A live via the surviving winner)
    live_at_1 = {
        (r.block_hash, r.tx_index, r.log_index)
        for r in view_as_of(clog.df(spark), 1, exact_from=1).collect()
    }
    assert live_at_1 == {(a[0]["block_hash"], a[0]["tx_index"], a[0]["log_index"])}
    assert current_view(clog.df(spark)).count() == 2


def _view_hash(spark, clog) -> tuple:
    """Row count and order-insensitive value hash of ``current_view``."""
    from pyspark.sql import functions as F

    from eth_event_tracker_spark.streaming.pipeline import current_view

    view = current_view(clog.df(spark))
    row_hash = F.xxhash64(*sorted(view.columns)).cast("decimal(38,0)")
    return tuple(view.agg(F.count("*"), F.sum(row_hash)).first())


def test_current_view_same_through_every_read(tmp_path, spark):
    """One changelog with a reorg and a redelivered add gives the same
    ``current_view`` through the parquet rows path, the forced parquet
    scan path, and the inmem and jdbc entries."""
    adds1, adds2, adds2b = _logs(0x1, 3, 1), _logs(0x2, 3, 2), _logs(0x3, 2, 2)
    batches = [
        [{**r, "change_type": "add"} for r in adds1 + adds2],
        [{**r, "change_type": "remove"} for r in reversed(adds2)],
        [{**r, "change_type": "add"} for r in adds2b],
        [{**adds1[0], "change_type": "add"}],  # redelivered
    ]
    jdbc = _derby_store(spark, tmp_path)
    stores = {"parquet": ParquetStore(tmp_path / "pq"), "inmem": InMemStore(), "jdbc": jdbc}
    hashes = {}
    try:
        for name, store in stores.items():
            clog = store.changelog_entry("diff")
            for batch in batches:
                clog.store_logs(batch)
            hashes[name] = _view_hash(spark, clog)
            if name == "parquet":
                assert clog.df(spark).inputFiles() == []
                with _open_cost(spark, "1k"):
                    assert clog.df(spark).inputFiles()
                    hashes["parquet scan"] = _view_hash(spark, clog)
    finally:
        jdbc.close()
    assert hashes["parquet"][0] == len(adds1) + len(adds2b)
    assert len(set(hashes.values())) == 1, hashes
