"""Self-tests of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

The two ``run.py`` tests start Spark and take about a minute together.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import head_follow  # noqa: E402
import registry_sf01  # noqa: E402
import run  # noqa: E402
import stream_backfill  # noqa: E402
import tpch_gen  # noqa: E402
from tracing import Tracer  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_metrics_map_covers_every_metric():
    mapping = json.loads((HERE / "metrics_map.json").read_text())
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    assert all(set(per) == e2e for per in mapping["end_to_end"].values())
    mapped = {n for layer in mapping["layers"] for n in layer["per_layer"]}
    assert mapped == {m["name"] for m in BENCH["per_layer"]}
    assert all(set(layer["moves"]) <= e2e for layer in mapping["layers"])


def test_head_schedule_is_seeded():
    a = head_follow.schedule(7, 15)
    assert a == head_follow.schedule(7, 15)
    assert a != head_follow.schedule(8, 15)
    depths = [d for _, d in a if d]
    assert depths and all(1 <= d <= head_follow.MAX_DEPTH for d in depths)
    assert [t for t, _ in a] == sorted(t for t, _ in a)


def test_backfill_chain_is_seeded():
    hashes = [b.hash for b in stream_backfill.build_chain(3).canonical]
    assert hashes == [b.hash for b in stream_backfill.build_chain(3).canonical]
    logs = [len(b.log_tags) for b in stream_backfill.build_chain(3).canonical]
    assert logs != [len(b.log_tags) for b in stream_backfill.build_chain(4).canonical]


def test_registry_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    for d, seed in (("a", 1), ("b", 1), ("c", 2)):
        tpch_gen.generate(tmp_path / d, seed, 0.001)
    for t in ("lineitem", "events", "documents", "embeddings"):
        a, b, c = (pq.read_table(tmp_path / d / f"{t}.parquet") for d in "abc")
        assert a.equals(b)
        assert not a.equals(c)


def test_head_check_trips_on_dropped_row(tmp_path):
    from eth_event_tracker_spark.sources.mock_chain import MockProvider
    from eth_event_tracker_spark.store import ParquetStore

    provider = MockProvider()
    provider.advance(20, 3)
    entry = ParquetStore(tmp_path).entry("f")
    entry.store_logs(provider.get_logs(0, 20))
    stored = entry.all_logs()
    keys = [(r["block_hash"], r["tx_index"], r["log_index"]) for r in stored]
    assert head_follow.check(provider, stored, keys) == (True, True)
    assert head_follow.check(provider, stored[:7] + stored[8:], keys) == (False, False)


def test_backfill_check_trips_on_dropped_row(tmp_path):
    from eth_event_tracker_spark.config import FilterConfig
    from eth_event_tracker_spark.sources.file_chain import FileChainReader, dump_chain
    from eth_event_tracker_spark.store import ParquetStore

    cfg = FilterConfig()
    dump_chain(stream_backfill.build_chain(5), tmp_path / "chain")
    reader = FileChainReader(str(tmp_path / "chain"))
    final = [
        {**lg, "data": bytes.fromhex(lg["data"])}
        for lg in reader.get_logs(0, reader.head().number - cfg.max_block_backlog)
    ]
    good, bad = ParquetStore(tmp_path / "good"), ParquetStore(tmp_path / "bad")
    good.entry(cfg.filter_hash).store_logs(final)
    bad.entry(cfg.filter_hash).store_logs(final[:100] + final[101:])
    assert stream_backfill.check(good, tmp_path / "chain", cfg)
    assert not stream_backfill.check(bad, tmp_path / "chain", cfg)


class _Rows:
    def __init__(self, n: int) -> None:
        self.n = n

    def count(self) -> int:
        return self.n


def _raises(spark, sf_dir):
    raise RuntimeError("entry broke")


@pytest.mark.parametrize("broken,why", [
    ("pagerank_cosupply", "raises"),
    ("q9_product_profit", "one row short"),
])
def test_registry_failed_entry_fails_the_run(tmp_path, broken, why):
    registry_sf01.all_queries()  # fills the registry the entries' modules come from
    queries = {n: (lambda spark, sf_dir: _Rows(3)) for n in registry_sf01.ENTRIES}
    queries[broken] = _raises if why == "raises" else (lambda spark, sf_dir: _Rows(2))
    ctx = harness.Ctx(spark=None, tracer=Tracer(False), jobs=None, seed=1, seconds=1,
                      work=tmp_path, out=tmp_path)
    expected = dict.fromkeys(registry_sf01.ENTRIES, 3)
    res = registry_sf01.measure(ctx, str(tmp_path), queries, expected, [0.1], [0.1])
    assert (res.failed, res.correct) == (1, False)
    assert res.named["failed_entries"] == [broken]
    queries[broken] = lambda spark, sf_dir: _Rows(3)
    res = registry_sf01.measure(ctx, str(tmp_path), queries, expected, [0.1], [0.1])
    assert (res.failed, res.correct) == (0, True)


def _run(cwd: Path, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "head_follow", "--seed", "1",
         "--seconds", "2", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace,spec", [(0, "end_to_end"), (1, "per_layer")])
def test_run_prints_every_metric_with_its_unit(trace, spec):
    out = _run(ROOT, trace)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    details, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH[spec]
    }
    assert details["seed"] == 1 and details["host"]["nproc"] >= 1
    assert details["failed_ops_ratio"]["attempted"] == result["attempted"]


def test_run_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, 0)
    assert out.returncode != 0
    assert out.stdout == ""
