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

Batch reads split their block range into ``n_slices`` InputPartitions →
parallel fetches across executors (the distributed bulk backfill).  The
stream reads each micro-batch on the driver, in the source runner, with
one range fetch — the reference's one ``getLogs`` call per synced batch
(tracker.go:327-394): a batch holds at most
``max(max_rows_per_batch, one block's logs)`` rows, and Spark hands the
fetched rows to the query as cached Arrow blocks, so no executor Python
worker runs per trigger.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
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
      end_block             last block of a batch read, default head
      max_blocks_per_batch  micro-batch admission cap (O-4), default 100
      finality_depth        blocks held back from head (O-5), default 10
      max_rows_per_batch    AIMD row cap per micro-batch (O-4), default 10k
      n_slices              partitions of a batch read, default 4
    """

    @classmethod
    def name(cls) -> str:
        return "web3logs"

    def schema(self) -> StructType:
        return RAW_LOG_SCHEMA

    def reader(self, schema: StructType) -> "Web3LogBatchReader":
        return Web3LogBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> "Web3LogStreamReader":
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
        if end < start:
            # an empty range still needs one partition: Spark runs a
            # single task with no partition otherwise
            return [RangePartition(start, end)]
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


class Web3LogStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch offsets are {"block": next block to read, "pace": batch}.

    ``pace`` carries the AIMD state across restarts inside the offset
    JSON itself (SURVEY §7 'persist nominal batch size in offset JSON'),
    and Spark passes every read its start offset from the query's
    checkpoint, so the reader keeps no state of its own."""

    def __init__(self, options) -> None:
        self.chain_dir = options["chain_dir"]
        self.addresses = json.loads(options.get("addresses", "[]"))
        self.topics = _parse_topics(options.get("topics"))
        self.start = int(options.get("start_block", 0))
        self.nominal = int(options.get("max_blocks_per_batch", 100))
        self.finality_depth = int(options.get("finality_depth", 10))
        self.max_rows = int(options.get("max_rows_per_batch", 10_000))  # the 10k server cap

    def initialOffset(self) -> dict:
        return {"block": self.start, "pace": self.nominal}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        # fresh view of the chain each trigger (head may have advanced)
        reader = FileChainReader(self.chain_dir)
        final_head = reader.head().number - self.finality_depth
        lo = start["block"]
        if final_head < lo:
            return iter(()), start  # the same offset: Spark plans no batch
        # AIMD admission: halve if the batch would exceed the row cap, else
        # grow 10% of nominal (tracker.go:341-394).  The probe fetches
        # per-block counts once for the widest candidate range; every
        # halving step is then prefix-sum arithmetic, and only the admitted
        # range's rows are read.
        pace = float(start.get("pace", self.nominal))
        end = min(lo + max(1, int(pace)) - 1, final_head)
        counts = reader.count_logs_per_block(lo, end, self.addresses, self.topics)
        rows = sum(counts)
        while rows > self.max_rows and end > lo:
            pace = max(1.0, pace / 2)
            end = min(lo + max(1, int(pace)) - 1, final_head)
            rows = sum(counts[: end - lo + 1])
        pace = min(float(self.nominal), pace + self.nominal / 10)
        off = {"block": end + 1, "pace": int(pace)}
        return self.readBetweenOffsets(start, off), off

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Rows of blocks ``[start.block, end.block)``: a replayed batch
        re-reads exactly its own range."""
        rows = list(
            _row_iter(self.chain_dir, start["block"], end["block"] - 1, self.addresses, self.topics)
        )
        return iter(rows)  # a list iterator: Spark copies the iterators it caches


def register(spark) -> None:
    spark.dataSource.register(Web3LogDataSource)
