"""JsonRpcProvider against a local stub JSON-RPC HTTP server (no live
network): provider surface parity with MockProvider, AIMD halving on the
10k-result error (TestTooMuchDataRequested, tracker_test.go:760-818), and
the 5×500 ms head retry on a lagging node (tracker.go:806-811)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from eth_event_tracker_spark.config import FilterConfig
from eth_event_tracker_spark.sources.mock_chain import MockProvider, TooMuchDataError
from eth_event_tracker_spark.sources.rpc_provider import (
    TOO_MUCH_DATA_MESSAGE,
    JsonRpcProvider,
    RpcError,
)
from eth_event_tracker_spark.store import ParquetStore
from eth_event_tracker_spark.streaming import Tracker


def _hdr_json(h):
    return {"number": hex(h.number), "hash": h.hash, "parentHash": h.parent_hash}


def _log_json(lg):
    return {
        "logIndex": hex(lg["log_index"]),
        "transactionIndex": hex(lg["tx_index"]),
        "transactionHash": lg["tx_hash"],
        "blockNumber": hex(lg["block_num"]),
        "blockHash": lg["block_hash"],
        "address": lg["address"],
        "topics": list(lg["topics"]),
        "data": "0x" + lg["data"].hex(),
    }


class _Handler(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802
        req = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        result, error = self.server.dispatch(req["method"], req.get("params", []))
        resp = {"jsonrpc": "2.0", "id": req["id"]}
        if error is not None:
            resp["error"] = error
        else:
            resp["result"] = result
        body = json.dumps(resp).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # quiet
        pass


class StubRpcServer(ThreadingHTTPServer):
    """JSON-RPC facade over a MockProvider, with fault injection:
    ``lag_by_hash`` makes the first N by-hash eth_getLogs calls fail (a
    node that has announced a head it cannot serve yet)."""

    def __init__(self, provider: MockProvider, lag_by_hash: int = 0) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self.provider = provider
        self.lag_by_hash = lag_by_hash
        self.n_logs_by_hash = 0
        self.n_logs_range = 0

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}"

    def dispatch(self, method: str, params: list):
        p = self.provider
        if method == "eth_chainId":
            return hex(p.chain_id), None
        if method == "eth_getBlockByNumber":
            hdr = p.latest() if params[0] == "latest" else p.get_block_by_number(int(params[0], 16))
            return (_hdr_json(hdr) if hdr else None), None
        if method == "eth_getBlockByHash":
            hdr = p.get_block_by_hash(params[0])
            return (_hdr_json(hdr) if hdr else None), None
        if method == "eth_getLogs":
            q = params[0]
            addrs = q.get("address") or ()
            addrs = (addrs,) if isinstance(addrs, str) else tuple(addrs)
            topics = tuple(q.get("topics") or ())
            if "blockHash" in q:
                self.n_logs_by_hash += 1
                if self.lag_by_hash > 0:
                    self.lag_by_hash -= 1
                    return None, {"code": -32000, "message": "block not found"}
                logs = p.get_logs_by_hash(q["blockHash"], addrs, topics)
                return [_log_json(lg) for lg in logs], None
            self.n_logs_range += 1
            try:
                logs = p.get_logs(int(q["fromBlock"], 16), int(q["toBlock"], 16), addrs, topics)
            except TooMuchDataError:
                return None, {"code": -32005, "message": TOO_MUCH_DATA_MESSAGE}
            return [_log_json(lg) for lg in logs], None
        return None, {"code": -32601, "message": f"method not found: {method}"}


@pytest.fixture
def serve():
    servers = []

    def start(provider, **kw) -> StubRpcServer:
        srv = StubRpcServer(provider, **kw)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        return srv

    yield start
    for s in servers:
        s.shutdown()
        s.server_close()


def test_provider_surface_parity(serve):
    """Every Provider method returns byte-identical values to the in-memory
    provider it fronts (headers, filtered logs, data bytes)."""
    mock = MockProvider(chain_id=5)
    mock.advance(30, logs_per_block=2)
    rpc = JsonRpcProvider(serve(mock).url)

    assert rpc.chain_id == 5
    assert rpc.genesis_hash() == mock.genesis_hash()
    assert rpc.latest() == mock.latest()
    assert rpc.get_block_by_number(7) == mock.get_block_by_number(7)
    assert rpc.get_block_by_number(10_000) is None
    h = mock.get_block_by_number(7).hash
    assert rpc.get_block_by_hash(h) == mock.get_block_by_hash(h)

    assert rpc.get_logs(3, 9) == mock.get_logs(3, 9)
    addr = "0x" + "aa" * 20
    assert rpc.get_logs(0, 29, addresses=(addr,)) == mock.get_logs(0, 29, addresses=(addr,))
    assert rpc.get_logs_by_hash(h) == mock.get_logs_by_hash(h)
    sig0 = mock.get_logs_by_hash(h)[0]["topics"][0]
    assert rpc.get_logs(0, 29, topics=(sig0,)) == mock.get_logs(0, 29, topics=(sig0,))

    with pytest.raises(RpcError):
        rpc._call("eth_bogusMethod", [])


def test_tracker_sync_over_rpc_with_aimd_halving(serve, tmp_path):
    """TestTooMuchDataRequested over real HTTP: the server cap error string
    triggers multiplicative decrease; every log lands exactly once."""
    mock = MockProvider(logs_per_query_limit=10)
    mock.advance(100, logs_per_block=2)
    rpc = JsonRpcProvider(serve(mock).url)

    t = Tracker(rpc, ParquetStore(tmp_path), FilterConfig(batch_size=50))
    t.sync()
    rows = t.entry.all_logs()
    assert len(rows) == 200
    want = [lg["tx_hash"] for b in mock.canonical for lg in b.logs()]
    assert [r["tx_hash"] for r in rows] == want
    assert t._batch_size < 50  # AIMD actually halved at some point


def test_head_retry_on_lagging_node(serve, tmp_path):
    """A lagging node errors on fresh-head by-hash queries; the tracker
    retries 5×500 ms and succeeds (tracker.go:806-811)."""
    mock = MockProvider()
    mock.advance(15, logs_per_block=1)
    srv = serve(mock, lag_by_hash=2)
    rpc = JsonRpcProvider(srv.url)

    t = Tracker(rpc, ParquetStore(tmp_path), FilterConfig())
    t.sync()
    rows = t.entry.all_logs()
    assert [r["tx_hash"] for r in rows] == [
        lg["tx_hash"] for b in mock.canonical for lg in b.logs()
    ]
    # the two injected failures cost exactly two extra by-hash calls
    blocks_with_by_hash = srv.n_logs_by_hash
    assert blocks_with_by_hash >= 2


def test_by_hash_programming_error_is_not_retried(tmp_path, monkeypatch):
    """Only RPC and transport errors are retried: a bug in the provider
    (here a TypeError) surfaces on the first by-hash call, with no
    retries and no sleeps."""
    from eth_event_tracker_spark.streaming import tracker as tracker_mod

    class BrokenByHash(MockProvider):
        calls = 0

        def get_logs_by_hash(self, block_hash, addresses=(), topics=()):
            BrokenByHash.calls += 1
            raise TypeError("bad argument")

    import time

    sleeps: list[float] = []

    class Clock:  # the tracker module's clock, sleeps recorded not slept
        def __getattr__(self, name):
            return getattr(time, name)

        def sleep(self, s):
            sleeps.append(s)

    monkeypatch.setattr(tracker_mod, "time", Clock())
    prov = BrokenByHash()
    prov.advance(15, logs_per_block=1)
    t = Tracker(prov, ParquetStore(tmp_path), FilterConfig(), head_retry_delay=0.5)
    with pytest.raises(TypeError, match="bad argument"):
        t.sync()
    assert BrokenByHash.calls == 1 and sleeps == []


def test_empty_blocks_do_not_retry(serve, tmp_path):
    """ADVICE r1: an empty by-hash result is a valid answer — one RPC per
    quiet block, not head_retry of them."""
    mock = MockProvider()
    mock.advance(12, logs_per_block=0)  # all blocks empty
    srv = serve(mock)
    rpc = JsonRpcProvider(srv.url)

    t = Tracker(rpc, ParquetStore(tmp_path), FilterConfig())
    t.sync()
    assert t.entry.all_logs() == []
    # head phase touched each block exactly once by hash — no retry storm
    assert srv.n_logs_by_hash <= 13
