"""Ordering / indexing operators — the reference's S-5..S-8 store semantics.

The reference assigns a monotonic per-filter `indx` at store time by
serializing through LastIndex() (postgresql_store.go:111-130,
boltdb/bolt_store.go:159-166).  A global counter fights parallelism; the
Spark-native equivalent is the deterministic ordering key
(block_num, tx_index, log_index) + row_number, plus a carried base offset
across micro-batches (micro-batches are sequential, so this is exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Canonical intra-filter ordering (the order StoreLogs appends in,
# tracker.go:338-400: ranges scan forward; within a block, tx then log pos).
ORDER_COLS = ("block_num", "tx_index", "log_index")


def assign_indx_scalable(df: DataFrame, base: int = 0) -> DataFrame:
    """Two-phase global sequence without a single-reducer sort: per-block
    cumulative offsets + row_number within block.

    Phase 1 aggregates log counts per block (map-side combine; output is
    ~#blocks rows, orders of magnitude smaller than the log table) and
    turns them into cumulative start offsets.  Phase 2 joins the offsets
    back and numbers rows within each block — a window partitioned by
    block_num, so every partition sorts only one block's logs.  The fact
    table moves through exactly one hash shuffle on block_num, which the
    join and the window share.

    Unlike a spark_partition_id() formulation (range-partition + offset
    by physical partition), the offsets here key on DATA VALUES, so the
    result is deterministic across re-evaluations — repartitionByRange's
    sampled boundaries and AQE's runtime coalescing can differ between
    the two branches of a self-join and silently corrupt or drop rows
    (observed at sf0.1: 12k of 100k rows survived the _pid join).

    The cumulative window over the per-block counts is a single partition
    of tiny rows; if #blocks itself ever became huge, the same two-phase
    trick applies recursively on block ranges."""
    blk, *within = ORDER_COLS
    per_block = df.groupBy(blk).agg(F.count("*").alias("_cnt"))
    w_off = Window.orderBy(blk).rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_block.select(
        blk, F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off")
    )
    w_in = Window.partitionBy(blk).orderBy(*[F.col(c) for c in within])
    return (
        df.join(offsets, blk)
        .withColumn("indx", (F.row_number().over(w_in) - 1 + F.col("_off") + F.lit(base)).cast("long"))
        .drop("_off")
    )


def point_lookup_seq(df: DataFrame, indx: int, base: int = 0) -> DataFrame:
    """S-7 GetLog(indx) over the *derived* sequence (no physical indx
    column) without numbering the whole table.

    assign_indx_scalable + filter is semantically right but touches every
    row with a join + full window shuffle to keep one.  Since indx is
    cumulative in block order, the block containing ``indx`` is decidable
    from the per-block offsets alone (tiny table): find the last block
    whose start offset <= indx, broadcast that single row back, and
    number only that block's logs.  The fact table is touched by one
    map-side-combine count agg and one broadcast-pruned pass — at 100 TB
    the window sorts one block, not the corpus."""
    blk, *within = ORDER_COLS
    per_block = df.groupBy(blk).agg(F.count("*").alias("_cnt"))
    w_off = Window.orderBy(blk).rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_block.select(
        blk, F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off")
    )
    target = offsets.where(F.col("_off") <= F.lit(indx - base)).orderBy(F.col(blk).desc()).limit(1)
    w_in = Window.partitionBy(blk).orderBy(*[F.col(c) for c in within])
    return (
        df.join(F.broadcast(target), blk)
        .withColumn("indx", (F.row_number().over(w_in) - 1 + F.col("_off") + F.lit(base)).cast("long"))
        .where(F.col("indx") == F.lit(indx))
        .drop("_off")
    )
