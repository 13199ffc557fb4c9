"""The `web3logs` Python data source: batch reads, streaming micro-batches
with checkpoint resume, filter pushdown, finality holdback, AIMD pacing."""

from __future__ import annotations

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


def test_stream_microbatches_and_resume(registered, chain, tmp_path):
    prov, cdir = chain
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = (
            registered.readStream.format("web3logs")
            .option("chain_dir", cdir)
            .option("max_blocks_per_batch", 20)
            .option("finality_depth", 10)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        _drain(q)

    run_stream()
    got = registered.read.parquet(out)
    # finality holdback: blocks 0..49 only (head=60, depth=10)
    assert got.agg({"block_num": "max"}).first()[0] == 50
    n1 = got.count()
    assert n1 == 2 * got.select("block_num").distinct().count()

    # chain advances; restart from checkpoint → only new finalized blocks
    prov.advance(20, logs_per_block=2)
    dump_chain(prov, cdir)
    run_stream()
    got2 = registered.read.parquet(out)
    assert got2.agg({"block_num": "max"}).first()[0] == 70
    assert got2.count() > n1
    # no duplicates across restarts
    assert got2.count() == got2.select("block_num", "tx_hash").distinct().count()


def test_stream_aimd_pacing(registered, tmp_path):
    prov = MockProvider()
    prov.advance(30, logs_per_block=5)
    cdir = str(tmp_path / "chain2")
    dump_chain(prov, cdir)
    out, ckpt = str(tmp_path / "o2"), str(tmp_path / "c2")
    q = (
        registered.readStream.format("web3logs")
        .option("chain_dir", cdir)
        .option("max_blocks_per_batch", 20)
        .option("max_rows_per_batch", 40)  # forces halving: 20 blocks × 5 logs >> 40
        .option("finality_depth", 0)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    _drain(q, timeout=180)
    got = registered.read.parquet(out)
    assert got.count() == 150  # every log recovered despite the cap
    assert got.select("tx_hash").distinct().count() == 150


def test_file_chain_reader_matches_provider(chain):
    prov, cdir = chain
    r = FileChainReader(cdir)
    assert r.head().number == prov.latest().number
    assert len(r.get_logs(0, 60)) == len(prov.get_logs(0, 60))
    assert r.meta()["genesis"] == prov.genesis_hash()
