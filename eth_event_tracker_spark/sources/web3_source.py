"""`web3logs` — a PySpark Python data source (DataSource API, PySpark ≥4)
exposing chain logs as batch and micro-batch streaming reads.

This is the Spark-native home of the reference's source-side machinery
(SURVEY §4): the filter is encoded into every fetch (O-1 pushdown,
tracker.go:62-71), the start offset honours the skip-scan override (O-2),
offsets advance at most ``max_blocks_per_batch`` per micro-batch with
AIMD-style halving persisted in the offset (O-4, tracker.go:327-394), and
the stream never reads past ``head − finality_depth`` — the depth-based
finality boundary (O-5, tracker.go:33-35), so every row this source emits
is immutable.  The reorg-mutable head window is deliberately NOT this
source's job: the Tracker handles it with retractions (two-channel design,
SURVEY §1.3).

Range partitioning: each micro-batch's block range splits into
``n_slices`` InputPartitions → parallel fetches across executors, the
Spark analogue of the reference's sequential batched scan.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..schemas import RAW_LOG_SCHEMA
from .file_chain import FileChainReader


class RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


def _parse_topics(opt: str | None) -> tuple[str | None, ...]:
    if not opt:
        return ()
    return tuple(None if t in ("", "null", "*") else t for t in json.loads(opt))


def _row_iter(chain_dir: str, start: int, end: int, addresses, topics) -> Iterator[tuple]:
    reader = FileChainReader(chain_dir)
    for lg in reader.get_logs(start, end, addresses, topics):
        yield (
            lg["log_index"],
            lg["tx_index"],
            lg["tx_hash"],
            lg["block_num"],
            lg["block_hash"],
            lg["address"],
            lg["topics"],
            bytes.fromhex(lg["data"]) if isinstance(lg["data"], str) else lg["data"],
        )


class Web3LogDataSource(DataSource):
    """Options:
      chain_dir             path of the dumped chain (RPC stand-in)
      addresses             JSON list of addresses (P-1 pushdown)
      topics                JSON list, null = wildcard (P-2 pushdown)
      start_block           first block to read (O-2)
      max_blocks_per_batch  micro-batch admission cap (O-4), default 100
      finality_depth        blocks held back from head (O-5), default 10
      n_slices              partitions per micro-batch, default 4
      max_rows_per_batch    AIMD row cap per micro-batch (O-4), default 10k
      checkpoint_location   the query's checkpoint dir: holds the offset
                            sidecar (default: chain_dir, shared by every
                            query with the same filter)
    """

    @classmethod
    def name(cls) -> str:
        return "web3logs"

    def schema(self) -> StructType:
        return RAW_LOG_SCHEMA

    def reader(self, schema: StructType) -> "Web3LogBatchReader":
        return Web3LogBatchReader(self.options)

    def streamReader(self, schema: StructType) -> "Web3LogStreamReader":
        return Web3LogStreamReader(self.options)


class Web3LogBatchReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.options = options

    def partitions(self) -> Sequence[RangePartition]:
        reader = FileChainReader(self.options["chain_dir"])
        head = reader.head().number
        start = int(self.options.get("start_block", 0))
        # bounded backfill reads stop at end_block (e.g. head − backlog: the
        # Tracker's bulk phase must not touch the reorg-mutable tail)
        end = min(head, int(self.options.get("end_block", head)))
        n = max(1, int(self.options.get("n_slices", 4)))
        step = max(1, (end - start + 1 + n - 1) // n)
        return [
            RangePartition(s, min(s + step - 1, end)) for s in range(start, end + 1, step)
        ]

    def read(self, partition: RangePartition) -> Iterator[tuple]:
        o = self.options
        yield from _row_iter(
            o["chain_dir"],
            partition.start,
            partition.end,
            json.loads(o.get("addresses", "[]")),
            _parse_topics(o.get("topics")),
        )


class Web3LogStreamReader(DataSourceStreamReader):
    """Micro-batch offsets are {"block": last_emitted+1, "pace": batch}.

    ``pace`` carries the AIMD state across restarts inside the offset
    JSON itself (SURVEY §7 'persist nominal batch size in offset JSON')."""

    def __init__(self, options) -> None:
        self.options = options
        self.chain_dir = options["chain_dir"]
        self.addresses = json.loads(options.get("addresses", "[]"))
        self.topics = _parse_topics(options.get("topics"))
        self.start = int(options.get("start_block", 0))
        self.nominal = int(options.get("max_blocks_per_batch", 100))
        self.finality_depth = int(options.get("finality_depth", 10))
        self.n_slices = max(1, int(options.get("n_slices", 4)))
        self.max_rows = int(options.get("max_rows_per_batch", 10_000))  # the 10k server cap
        self._pace = float(self.nominal)
        # restart recovery: commit() mirrors the engine checkpoint into a
        # sidecar so a recreated reader resumes latestOffset from the last
        # committed block instead of start_block (Spark restores the range
        # start from its own checkpoint; this keeps our end-computation and
        # AIMD pace consistent with it).  The sidecar belongs to ONE query:
        # it lives in that query's checkpoint_location when given — keyed
        # by the filter alone, a fresh query would resume another query's
        # offset and emit its whole backlog as one uncapped first batch
        import hashlib

        fid = hashlib.sha256(
            json.dumps([self.addresses, list(self.topics), self.start], sort_keys=True).encode()
        ).hexdigest()[:12]
        base = options.get("checkpoint_location") or self.chain_dir
        self._sidecar = f"{base}/_source_offset_{fid}.json"
        try:
            with open(self._sidecar) as f:
                self._last = json.load(f)
                self._pace = float(self._last.get("pace", self.nominal))
        except (OSError, ValueError):
            pass  # absent or torn sidecar → fall back to start_block

    def initialOffset(self) -> dict:
        return {"block": self.start, "pace": self.nominal}

    def latestOffset(self) -> dict:
        # fresh view of the chain each trigger (head may have advanced)
        reader = FileChainReader(self.chain_dir)
        final_head = reader.head().number - self.finality_depth
        cur = getattr(self, "_last", None)
        start = cur["block"] if cur else self.start
        if final_head < start:
            return {"block": start, "pace": int(self._pace)}
        # AIMD admission: halve if last batch would exceed the row cap,
        # else grow 10% of nominal (tracker.go:341-394).  COUNT-ONLY: the
        # driver fetches per-block counts once for the widest candidate
        # range; every halving step is then prefix-sum arithmetic — no row
        # data ever materializes on the driver, and no re-fetch per probe.
        size = max(1, int(self._pace))
        end = min(start + size - 1, final_head)
        counts = reader.count_logs_per_block(start, end, self.addresses, self.topics)
        rows = sum(counts)
        while rows > self.max_rows and end > start:
            self._pace = max(1.0, self._pace / 2)
            end = min(start + max(1, int(self._pace)) - 1, final_head)
            rows = sum(counts[: end - start + 1])
        self._pace = min(float(self.nominal), self._pace + self.nominal / 10)
        off = {"block": end + 1, "pace": int(self._pace)}
        self._last = off
        return off

    def partitions(self, start: dict, end: dict) -> Sequence[RangePartition]:
        self._last = dict(end)
        self._pace = float(end.get("pace", self.nominal))
        lo, hi = start["block"], end["block"] - 1
        if hi < lo:
            return [RangePartition(lo, lo - 1)]  # empty batch
        step = max(1, (hi - lo + 1 + self.n_slices - 1) // self.n_slices)
        return [RangePartition(s, min(s + step - 1, hi)) for s in range(lo, hi + 1, step)]

    def read(self, partition: RangePartition) -> Iterator[tuple]:
        if partition.end < partition.start:
            return iter(())
        return _row_iter(
            self.chain_dir, partition.start, partition.end, self.addresses, self.topics
        )

    def commit(self, end: dict) -> None:
        # Spark's checkpoint log is the authoritative commit record (O-3);
        # the sidecar only seeds latestOffset on reader re-creation.
        # Atomic tmp+rename: a torn write must not poison restarts.
        import os

        tmp = f"{self._sidecar}.tmp"
        with open(tmp, "w") as f:
            json.dump(end, f)
        os.replace(tmp, self._sidecar)


def register(spark) -> None:
    spark.dataSource.register(Web3LogDataSource)
