"""`web3changelog` — the reorg-aware streaming source (round-7 verdict
item 6, SURVEY §7 Phase 3): the reference's Added/Removed changelog
stream (tracker.go:763-829) surfaced NATIVELY through
``spark.readStream``, instead of the Tracker's driver-side foreachBatch
loop.

Where `web3logs` (web3_source.py) deliberately stops at the finality
boundary and never emits a mutable row, this source owns the mutable
head window: each micro-batch emits ``action='added'`` rows for new
canonical blocks and ``action='removed'`` retractions for blocks a
reorg orphaned — the two-channel semantics of the reference's
``Event{Added, Removed}`` (SURVEY §1.3), with the rollback bounded by
``max_block_backlog`` exactly like ``findAncestor``
(tracker.go:291-314; deeper → ``ReorgTooDeepError``).

Offset design (the part that makes this exactly-once under Spark's
checkpoint WAL): an offset is

    {"next": n, "from": f, "tail": [[num, hash], ...],
     "removed": [[num, hash], ...], "added": [[num, hash], ...]}

``tail`` is the emitted chain's last ``max_block_backlog`` (num, hash)
pairs — the HeadWindow persisted inside the offset.  ``removed`` and
``added`` pin the exact block HASHES of the transition that produced
this offset, so ``partitions(start, end)`` derives the batch's rows
from the END OFFSET ALONE and ``read()`` fetches logs fork-exactly by
hash (S-2) from the chain's by-hash table — which retains orphans —
making a restarted/replayed micro-batch bit-identical even if the
canonical chain moved again in between.  Fork detection compares the
previous offset's tail against the current canonical chain: the deepest
matching (num, hash) is the common ancestor; everything above it is
retracted oldest-first (A-3, tracker.go:756-761) and re-scanned from
ancestor+1.

At 100 TB-scale deployment the shape holds: offsets are O(backlog),
the per-batch admission is count-based AIMD like `web3logs`, added
ranges slice into ``n_slices`` executor partitions, and the sink is an
append-only changelog table consumers fold with
``current_view``/``changelog_*`` (streaming/pipeline.py).
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..reorg import ReorgTooDeepError
from ..schemas import CHANGELOG_STREAM_SCHEMA
from .file_chain import FileChainReader
from .web3_source import _parse_topics, load_offset_sidecar, save_offset_sidecar


class BlockListPartition(InputPartition):
    """One action's pinned (num, hash) block list."""

    def __init__(self, action: str, blocks: list[list]) -> None:
        self.action = action
        self.blocks = blocks


class Web3ChangelogDataSource(DataSource):
    """Options:
      chain_dir             dumped chain path (canonical + by-hash tables)
      addresses             JSON list (P-1 pushdown)
      topics                JSON list, null = wildcard (P-2 pushdown)
      start_block           first block to scan (O-2)
      max_blocks_per_batch  admission cap per micro-batch (O-4), default 100
      max_rows_per_batch    AIMD row cap (server-limit analogue), default 10000
      max_block_backlog     rollback bound = offset tail size (A-1), default 10
      n_slices              added-range partitions per batch, default 4
      checkpoint_location   the query's checkpoint dir: holds the offset
                            sidecar (default: chain_dir, shared by every
                            query with the same filter)
    """

    @classmethod
    def name(cls) -> str:
        return "web3changelog"

    def schema(self) -> StructType:
        return CHANGELOG_STREAM_SCHEMA

    def streamReader(self, schema: StructType) -> "Web3ChangelogStreamReader":
        return Web3ChangelogStreamReader(self.options)


class Web3ChangelogStreamReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self.options = options
        self.chain_dir = options["chain_dir"]
        self.addresses = json.loads(options.get("addresses", "[]"))
        self.topics = _parse_topics(options.get("topics"))
        self.start = int(options.get("start_block", 0))
        self.nominal = int(options.get("max_blocks_per_batch", 100))
        self.max_rows = int(options.get("max_rows_per_batch", 10_000))
        self.backlog = int(options.get("max_block_backlog", 10))
        self.n_slices = max(1, int(options.get("n_slices", 4)))
        self._sidecar, self._last = load_offset_sidecar(
            options, ["changelog", self.addresses, list(self.topics), self.start]
        )
        self._pace = float((self._last or {}).get("pace", self.nominal))

    # -- offsets ------------------------------------------------------------
    def initialOffset(self) -> dict:
        return {
            "next": self.start,
            "from": self.start,
            "tail": [],
            "removed": [],
            "added": [],
            "pace": self.nominal,
        }

    def latestOffset(self) -> dict:
        reader = FileChainReader(self.chain_dir)
        chain = reader.blocks
        head = chain[-1]["number"]
        prev = self._last or self.initialOffset()
        tail: list[list] = [list(e) for e in prev["tail"]]
        canon = {b["number"]: b["hash"] for b in chain}

        # A-1: deepest tail entry still canonical = common ancestor
        removed: list[list] = []
        rescan_from = int(prev["next"])
        if tail:
            match_num = None
            for num, h in tail:  # ascending
                if canon.get(num) == h:
                    match_num = num
            if match_num is None:
                raise ReorgTooDeepError(
                    f"reorg deeper than max_block_backlog={self.backlog}: no tail "
                    "entry is canonical (tracker.go:313 'cannot find common ancestor')"
                )
            removed = [[num, h] for num, h in tail if num > match_num]  # oldest-first
            if removed:
                rescan_from = match_num + 1

        # O-4: count-based AIMD admission over the candidate range
        size = max(1, int(self._pace))
        target = min(rescan_from + size - 1, head)
        if target < rescan_from and not removed:
            off = dict(prev)
            off["removed"], off["added"] = [], []
            off["from"] = int(prev["next"])
            return off  # unchanged → no batch
        counts = reader.count_logs_per_block(
            rescan_from, target, self.addresses, self.topics
        )
        rows = sum(counts)
        while rows > self.max_rows and target > rescan_from:
            self._pace = max(1.0, self._pace / 2)
            target = min(rescan_from + max(1, int(self._pace)) - 1, head)
            rows = sum(counts[: target - rescan_from + 1])
        self._pace = min(float(self.nominal), self._pace + self.nominal / 10)

        added = [[num, canon[num]] for num in range(rescan_from, target + 1)]
        surviving = [e for e in tail if e[0] < rescan_from]
        new_tail = (surviving + added)[-self.backlog :]
        off = {
            "next": target + 1,
            "from": rescan_from,
            "tail": new_tail,
            "removed": removed,
            "added": added,
            "pace": int(self._pace),
        }
        self._last = off
        return off

    # -- batch planning: END offset alone defines the rows ------------------
    def partitions(self, start: dict, end: dict) -> Sequence[BlockListPartition]:
        self._last = dict(end)
        self._pace = float(end.get("pace", self.nominal))
        parts: list[BlockListPartition] = []
        if end.get("removed"):
            # retractions stay one partition: the consumer contract is
            # oldest-first within the batch, and reorg depth ≤ backlog
            # makes this list tiny by construction
            parts.append(BlockListPartition("removed", list(end["removed"])))
        added = list(end.get("added") or [])
        if added:
            step = max(1, (len(added) + self.n_slices - 1) // self.n_slices)
            parts.extend(
                BlockListPartition("added", added[i : i + step])
                for i in range(0, len(added), step)
            )
        return parts or [BlockListPartition("added", [])]

    def read(self, partition: BlockListPartition) -> Iterator[tuple]:
        reader = FileChainReader(self.chain_dir)
        for _num, h in partition.blocks:
            for lg in reader.get_logs_by_hash(h, self.addresses, self.topics):
                yield (
                    partition.action,
                    lg["log_index"],
                    lg["tx_index"],
                    lg["tx_hash"],
                    lg["block_num"],
                    lg["block_hash"],
                    lg["address"],
                    lg["topics"],
                    bytes.fromhex(lg["data"]) if isinstance(lg["data"], str) else lg["data"],
                )

    def commit(self, end: dict) -> None:
        # Spark's WAL is authoritative (O-3); the sidecar re-seeds _last
        # when the reader object is recreated on restart
        save_offset_sidecar(self._sidecar, end)


def register(spark) -> None:
    spark.dataSource.register(Web3ChangelogDataSource)
