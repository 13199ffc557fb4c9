"""The `web3logs` Python data source: batch reads, streaming micro-batches
with checkpoint resume, filter pushdown, finality holdback, AIMD pacing."""

from __future__ import annotations

import ast
import json
import time

import pytest

from eth_event_tracker_spark.sources.file_chain import FileChainReader, dump_chain
from eth_event_tracker_spark.sources.mock_chain import MockProvider


@pytest.fixture()
def chain(tmp_path):
    prov = MockProvider()
    prov.advance(60, logs_per_block=2)
    dump_chain(prov, tmp_path / "chain")
    return prov, str(tmp_path / "chain")


@pytest.fixture(scope="module")
def registered(spark):
    from eth_event_tracker_spark.sources.web3_source import register

    register(spark)
    return spark


def test_batch_read(registered, chain):
    prov, cdir = chain
    df = registered.read.format("web3logs").option("chain_dir", cdir).load()
    assert df.count() == 120
    assert df.schema.fieldNames() == [
        "log_index", "tx_index", "tx_hash", "block_num", "block_hash", "address", "topics", "data",
    ]
    # range partitioning actually splits the scan
    assert df.rdd.getNumPartitions() >= 2


def test_batch_read_of_empty_range(registered, tmp_path):
    """A batch read whose block range is empty (start above head, or
    end_block below start_block) returns no rows instead of failing."""
    prov = MockProvider()
    prov.advance(20, logs_per_block=2)
    cdir = str(tmp_path / "chain")
    dump_chain(prov, cdir)
    for opts in ({"start_block": "30"}, {"start_block": "10", "end_block": "5"}):
        df = registered.read.format("web3logs").option("chain_dir", cdir).options(**opts).load()
        assert df.collect() == []


def test_batch_filter_pushdown(registered, chain):
    prov, cdir = chain
    df = (
        registered.read.format("web3logs")
        .option("chain_dir", cdir)
        .option("addresses", json.dumps(["0x" + "bb" * 20]))
        .load()
    )
    assert df.count() == 0  # pushdown filtered at the source, not in Spark


def _drain(q, timeout=120):
    """Run a continuously-triggered stream until a trigger finds no new
    data and every batch before it is committed, then stop it."""
    _drain_all([q], timeout)


def _drain_all(queries, timeout=120):
    """:func:`_drain` for several live queries at once.  Each query waits
    in ``processAllAvailable`` (the engine's own "caught up" signal: a
    trigger that planned no batch, so no fixed idle window is paid) on
    its own thread and is stopped as soon as it returns, so the waits
    overlap instead of adding up.  Queries still busy after ``timeout``
    seconds are stopped; a failed query's error is raised."""
    import threading

    def drain(q):
        try:
            q.processAllAvailable()
        except Exception:
            pass  # a failed query: awaitTermination below raises its error
        finally:
            q.stop()

    threads = [threading.Thread(target=drain, args=(q,), daemon=True) for q in queries]
    for t in threads:
        t.start()
    deadline = time.time() + timeout
    for t in threads:
        t.join(max(0.0, deadline - time.time()))
    for q in queries:
        q.stop()
        q.awaitTermination(30)


def _start_stream(spark, cdir, out, ckpt, **opts):
    reader = spark.readStream.format("web3logs").option("chain_dir", cdir)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _batches(q) -> list[dict]:
    """Progress of the micro-batches the query ran (idle progress reports
    carry no ``addBatch`` duration)."""
    return [p for p in q.recentProgress if "addBatch" in p["durationMs"]]


def _offset(progress: dict, which: str) -> dict:
    """A batch's ``startOffset``/``endOffset`` as a dict (PySpark's progress
    holds the parsed offset JSON as the ``str`` of a dict)."""
    return ast.literal_eval(progress["sources"][0][which])


def test_stream_microbatches_and_resume(registered, chain, tmp_path):
    """Once caught up, triggers that find no new final block log no
    offsets and run no empty micro-batches.  A restart resumes at the
    committed end block: it reads only the new finalized blocks, and the
    source writes no offset file of its own (the query's checkpoint is
    the only offset record)."""
    prov, cdir = chain
    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"

    def start_stream():
        return _start_stream(
            registered, cdir, out, str(ckpt), max_blocks_per_batch=20, finality_depth=10
        )

    def n_offsets():
        return len(list((ckpt / "offsets").glob("[0-9]*")))

    q = start_stream()
    try:
        q.processAllAvailable()
        n = n_offsets()
        time.sleep(1.5)  # the default trigger polls the source back to back
        q.processAllAvailable()
        assert n_offsets() == n
    finally:
        q.stop()
    first = _batches(q)
    assert len(first) == n == 3  # blocks 0..50 in 20-block batches
    assert all(p["numInputRows"] > 0 for p in first)
    got = registered.read.parquet(out)
    # finality holdback: blocks 0..50 only (head=60, depth=10)
    assert got.agg({"block_num": "max"}).first()[0] == 50
    n1 = got.count()
    assert n1 == 2 * got.select("block_num").distinct().count()
    committed = _offset(first[-1], "endOffset")["block"]
    assert committed == 51

    # chain advances; restart from checkpoint → only new finalized blocks
    prov.advance(20, logs_per_block=2)
    dump_chain(prov, cdir)
    q = start_stream()
    _drain(q)
    second = _batches(q)
    assert _offset(second[0], "startOffset")["block"] == committed
    assert sum(p["numInputRows"] for p in second) == 2 * 20  # blocks 51..70
    got2 = registered.read.parquet(out)
    assert got2.agg({"block_num": "max"}).first()[0] == 70
    assert got2.count() == n1 + 2 * 20
    # no duplicates across restarts
    assert got2.count() == got2.select("block_num", "tx_hash").distinct().count()
    assert not list(tmp_path.rglob("_source_offset_*.json"))


def test_stream_aimd_pacing(registered, tmp_path):
    prov = MockProvider()
    prov.advance(30, logs_per_block=5)
    cdir = str(tmp_path / "chain2")
    dump_chain(prov, cdir)
    out, ckpt = str(tmp_path / "o2"), str(tmp_path / "c2")
    q = _start_stream(
        registered,
        cdir,
        out,
        ckpt,
        max_blocks_per_batch=20,
        max_rows_per_batch=40,  # forces halving: 20 blocks × 5 logs >> 40
        finality_depth=0,
    )
    _drain(q, timeout=180)
    got = registered.read.parquet(out)
    assert got.count() == 150  # every log recovered despite the cap
    assert got.select("tx_hash").distinct().count() == 150
    # every batch within max(max_rows_per_batch, one block's logs)
    batches = _batches(q)
    assert sum(p["numInputRows"] for p in batches) == 150
    assert all(p["numInputRows"] <= max(40, 5) for p in batches)


def test_file_chain_reader_matches_provider(chain):
    prov, cdir = chain
    r = FileChainReader(cdir)
    assert r.head().number == prov.latest().number
    assert len(r.get_logs(0, 60)) == len(prov.get_logs(0, 60))
    assert r.meta()["genesis"] == prov.genesis_hash()
