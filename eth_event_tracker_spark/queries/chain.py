"""Chain-semantics queries (SURVEY §2 Part A) over the derived logs /
blocks / kv tables — each one a driver-verified twin of a reference
operator, cited per-function."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import filters as OPF
from ..operators import indexing as OPI
from ..operators.scalars import with_scalars
from ..tables import (
    FORK_DEPTH,
    KV_CTE_DUCKDB,
    LOGS_CTE_DUCKDB,
    address_pool,
    blocks_cte_duckdb,
    derived_blocks,
    derived_kv,
    derived_logs,
    sig_pool,
    topic1_pool,
)
from . import register

_ADDRS = address_pool()
_SIGS = sig_pool()
_T1S = topic1_pool()

_DEC = "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"


def _sum_dec(col: str = "value"):
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


# ---------------------------------------------------------------------------
# P-1 — address filter (tracker.go:62-71; server-side pushdown in the ref,
# parquet predicate pushdown here)
# ---------------------------------------------------------------------------
@register(
    "logs_address_filter",
    f"""
WITH logs AS ({LOGS_CTE_DUCKDB})
SELECT address, COUNT(*) AS n_logs, {_DEC} AS sum_value
FROM logs
WHERE address IN ('{_ADDRS[0]}', '{_ADDRS[1]}')
GROUP BY address
""",
    doc="P-1 address-set filter + per-address rollup (tracker.go:62-71)",
)
def logs_address_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = derived_logs(spark, sf_dir)
    return (
        OPF.address_filter(logs, _ADDRS[:2])
        .groupBy("address")
        .agg(F.count("*").alias("n_logs"), _sum_dec().alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# P-2 — positional topic filter: exact topic0 AND nil-wildcard variants in
# one query (tracker.go:52-58; tracker_test.go:136: Topics [nil, T]
# matches any topic0).  Both filter shapes are unioned with a `kind` tag
# so the single driver slot verifies both semantics.
# ---------------------------------------------------------------------------
@register(
    "logs_topic_filter",
    f"""
WITH logs AS ({LOGS_CTE_DUCKDB})
SELECT 'topic0_exact' AS kind, topic1 AS key, COUNT(*) AS n_logs
FROM logs
WHERE topic0 = '{_SIGS[1]}'
GROUP BY topic1
UNION ALL
SELECT 'topic0_wild' AS kind, address AS key, COUNT(*) AS n_logs
FROM logs
WHERE topic1 = '{_T1S[3]}'
GROUP BY address
""",
    doc="P-2 positional topic filter: exact topic0 + nil-wildcard, tagged union",
)
def logs_topic_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = derived_logs(spark, sf_dir)
    exact = (
        OPF.topic_filter(logs, [_SIGS[1]])
        .groupBy(F.col("topic1").alias("key"))
        .agg(F.count("*").alias("n_logs"))
        .select(F.lit("topic0_exact").alias("kind"), "key", "n_logs")
    )
    wild = (
        OPF.topic_filter(logs, [None, _T1S[3]])
        .groupBy(F.col("address").alias("key"))
        .agg(F.count("*").alias("n_logs"))
        .select(F.lit("topic0_wild").alias("kind"), "key", "n_logs")
    )
    return exact.unionByName(wild)


# ---------------------------------------------------------------------------
# S-5 — monotonic indx assignment (postgresql_store.go:111-130)
# ---------------------------------------------------------------------------
@register(
    "logs_indx_assignment",
    f"""
WITH logs AS ({LOGS_CTE_DUCKDB})
SELECT CAST(ROW_NUMBER() OVER (ORDER BY block_num, tx_index, log_index) - 1 AS BIGINT) AS indx,
       block_num, tx_index, log_index, tx_hash
FROM logs
""",
    doc="S-5 ordered indx via the two-phase range-partitioned sequence (scale plan)",
)
def logs_indx_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = derived_logs(spark, sf_dir)
    return OPI.assign_indx_scalable(logs).select(
        "indx", "block_num", "tx_index", "log_index", "tx_hash"
    )


# ---------------------------------------------------------------------------
# S-7 — point lookup by indx (store/store.go:34-35) + S-8 LastIndex in one
# driver slot: both single-row results, crossJoined (Catalyst broadcasts)
# ---------------------------------------------------------------------------
@register(
    "logs_point_lookup",
    f"""
WITH logs AS ({LOGS_CTE_DUCKDB}),
numbered AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY block_num, tx_index, log_index) - 1 AS BIGINT) AS indx, *
  FROM logs
),
li AS (SELECT COUNT(*) AS last_index FROM logs)
SELECT indx, block_num, tx_index, log_index, tx_hash, address, last_index
FROM numbered CROSS JOIN li WHERE indx = 123
""",
    doc="S-7 GetLog(123) + S-8 LastIndex (single-row crossJoin)",
)
def logs_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = derived_logs(spark, sf_dir)
    # offset-pruned lookup: numbers only the block containing indx 123
    # instead of the whole table (point_lookup_seq docstring has the plan)
    point = OPI.point_lookup_seq(logs, 123).select(
        "indx", "block_num", "tx_index", "log_index", "tx_hash", "address"
    )
    # S-8 LastIndex = 1 + max(indx) ≡ COUNT(*) on the gapless derived
    # sequence — a map-side-combine agg, no numbering pass needed
    return point.crossJoin(logs.agg(F.count("*").alias("last_index")))


# ---------------------------------------------------------------------------
# A-2/A-3 — reorg rollback set: block_num > n OR (== n AND hash mismatch),
# emitted oldest-first (tracker.go:717-761).  The O-3 checkpoint-resume
# scalars (COUNT/MIN/MAX strictly above lastBlock, tracker.go:611-666) are
# folded into this driver slot as a broadcast single-row cross join — same
# pattern as `logs_point_lookup` folding S-8.
# ---------------------------------------------------------------------------
@register(
    "logs_tail_truncate",
    f"""
WITH logs AS ({LOGS_CTE_DUCKDB}),
m AS (SELECT MAX(block_num) - 2 AS n FROM logs),
r AS (SELECT MAX(block_num) - 5 AS last_block FROM logs),
resume AS (
  SELECT COUNT(*) AS resume_n_logs,
         MIN(block_num) AS resume_first_block,
         MAX(block_num) AS resume_last_block
  FROM logs, r
  WHERE block_num > r.last_block
)
SELECT block_num, tx_index, log_index, tx_hash, block_hash,
       resume_n_logs, resume_first_block, resume_last_block
FROM logs, m, resume
WHERE block_num > m.n
   OR (block_num = m.n AND block_hash <> '0x' || sha256('blkfork' || CAST(m.n AS STRING)))
""",
    doc="A-2 removeLogs predicate incl. same-height hash mismatch (tracker.go:734-740); "
    "O-3 resume-from-checkpoint scalars folded in (tracker.go:611-666)",
)
def logs_tail_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = derived_logs(spark, sf_dir)
    tail = with_scalars(logs, _n=F.max("block_num") - 2)
    fork_hash_at_n = F.concat(F.lit("0x"), F.sha2(F.concat(F.lit("blkfork"), F.col("_n").cast("string")), 256))
    pred = (F.col("block_num") > F.col("_n")) | (
        (F.col("block_num") == F.col("_n")) & (F.col("block_hash") != fork_hash_at_n)
    )
    trunc = tail.where(pred).select("block_num", "tx_index", "log_index", "tx_hash", "block_hash")
    resume = (
        with_scalars(logs, _last=F.max("block_num") - 5)
        .where(F.col("block_num") > F.col("_last"))
        .agg(
            F.count("*").alias("resume_n_logs"),
            F.min("block_num").alias("resume_first_block"),
            F.max("block_num").alias("resume_last_block"),
        )
    )
    return trunc.crossJoin(F.broadcast(resume))


# ---------------------------------------------------------------------------
# S-10 — KV prefix scan (store/store.go:10-11, pg LIKE 'p%')
# ---------------------------------------------------------------------------
@register(
    "kv_prefix_scan",
    f"""
WITH kv AS ({KV_CTE_DUCKDB})
SELECT key, val FROM kv WHERE key LIKE 'filter\\_%' ESCAPE '\\'
""",
    doc="S-10 ListPrefix('filter_')",
)
def kv_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    kv = derived_kv(spark, sf_dir)
    return OPF.kv_prefix_scan(kv, "filter_").select("key", "val")


# ---------------------------------------------------------------------------
# Reorg block diff via EXCEPT: which blocks does the fork retract / add?
# (the add/remove diff the blocktracker computes; SURVEY §2 Part B set ops)
# ---------------------------------------------------------------------------
@register(
    "reorg_diff_except",
    f"""
WITH canon AS ({blocks_cte_duckdb(fork=False)}),
     fork AS ({blocks_cte_duckdb(fork=True)}),
removed AS (
  SELECT 'remove' AS change_type, block_num, block_hash FROM
    (SELECT block_num, block_hash FROM canon EXCEPT SELECT block_num, block_hash FROM fork)
),
added AS (
  SELECT 'add' AS change_type, block_num, block_hash FROM
    (SELECT block_num, block_hash FROM fork EXCEPT SELECT block_num, block_hash FROM canon)
)
SELECT * FROM removed UNION ALL SELECT * FROM added
""",
    doc="reorg diff = exceptAll on (block_num, block_hash) both directions",
)
def reorg_diff_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = derived_blocks(spark, sf_dir, fork=False).select("block_num", "block_hash")
    fork = derived_blocks(spark, sf_dir, fork=True).select("block_num", "block_hash")
    removed = canon.exceptAll(fork).withColumn("change_type", F.lit("remove"))
    added = fork.exceptAll(canon).withColumn("change_type", F.lit("add"))
    return removed.unionByName(added).select("change_type", "block_num", "block_hash")


# ---------------------------------------------------------------------------
# A-1 — common-ancestor: highest height where canonical and fork agree
# (findAncestor, tracker.go:291-314; relational form of the parent walk).
# One driver slot also carries the chain-integrity audit (both single-row
# results, crossJoined — Catalyst broadcasts).
# ---------------------------------------------------------------------------
@register(
    "ancestor_walk",
    f"""
WITH canon AS ({blocks_cte_duckdb(fork=False)}),
     fork AS ({blocks_cte_duckdb(fork=True)}),
anc AS (
  SELECT MAX(c.block_num) AS ancestor
  FROM canon c JOIN fork f
    ON c.block_num = f.block_num AND c.block_hash = f.block_hash
),
chk AS (
  SELECT COUNT(*) AS n_blocks,
         CAST(SUM(CASE WHEN p.block_hash IS NOT NULL AND c.parent_hash <> p.block_hash THEN 1 ELSE 0 END) AS BIGINT) AS bad_links,
         CAST(SUM(CASE WHEN p.block_hash IS NULL AND c.block_num > 0 THEN 1 ELSE 0 END) AS BIGINT) AS gaps
  FROM canon c LEFT JOIN canon p ON c.block_num = p.block_num + 1
)
SELECT ancestor, n_blocks, bad_links, gaps FROM anc CROSS JOIN chk
""",
    doc="A-1 findAncestor as equi-join + max (tracker.go:291-314) + parent-hash "
    "linkage/continuity audit (single-row crossJoin)",
)
def ancestor_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = derived_blocks(spark, sf_dir, fork=False)
    fork = derived_blocks(spark, sf_dir, fork=True).select(
        F.col("block_num").alias("f_num"), F.col("block_hash").alias("f_hash")
    )
    j = canon.join(fork, (canon.block_num == fork.f_num) & (canon.block_hash == fork.f_hash))
    return j.agg(F.max("block_num").alias("ancestor")).crossJoin(
        blocks_chain_validation(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# A-4 — changelog assembly in batch form: removed tail logs + added blocks,
# one row per (change_type, block), with per-block log counts
# (doFilter, tracker.go:786-829)
# ---------------------------------------------------------------------------
@register(
    "changelog_assembly",
    f"""
WITH canon AS ({blocks_cte_duckdb(fork=False)}),
     fork AS ({blocks_cte_duckdb(fork=True)}),
     logs AS ({LOGS_CTE_DUCKDB}),
diff AS (
  SELECT 'remove' AS change_type, block_num, block_hash FROM
    (SELECT block_num, block_hash FROM canon EXCEPT SELECT block_num, block_hash FROM fork)
  UNION ALL
  SELECT 'add' AS change_type, block_num, block_hash FROM
    (SELECT block_num, block_hash FROM fork EXCEPT SELECT block_num, block_hash FROM canon)
)
SELECT d.change_type, d.block_num, d.block_hash, COUNT(l.tx_hash) AS n_logs
FROM diff d LEFT JOIN logs l ON l.block_num = d.block_num
GROUP BY d.change_type, d.block_num, d.block_hash
""",
    doc="A-4 Event{Added,Removed} assembly as a batch diff+join (tracker.go:786-829)",
)
def changelog_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    diff = reorg_diff_except(spark, sf_dir)
    logs = derived_logs(spark, sf_dir).select(F.col("block_num").alias("l_num"), "tx_hash")
    return (
        diff.join(logs, diff.block_num == logs.l_num, "left")
        .groupBy("change_type", "block_num", "block_hash")
        .agg(F.count("tx_hash").alias("n_logs"))
    )


# ---------------------------------------------------------------------------
# Changelog time-travel: the store's state at ANY historical changelog
# position, reconstructed from the append-only add/remove stream — the
# query a consumer of the durable EventCh twin (tracker.go:841-846) runs
# to audit "what did the filter's table look like before/during/after the
# reorg".  The changelog is synthesized from the fixture chain model:
# adds for the canonical chain (indx = store order, postgresql_store.go:
# 111-130), then oldest-first retractions of the forked heights (A-3
# delivery order, tracker.go:786-800), then re-adds under the fork hashes.
# Three instants are probed — pre-reorg, mid-retraction (the reorg half
# applied), post-reorg — via the broadcast-scalar shape, and each view is
# the ONE-window `current_view` reconstruction (streaming/pipeline.py).
# ---------------------------------------------------------------------------
def _fork_hash_sql() -> str:
    return "'0x' || sha256('blkfork' || CAST(block_num AS STRING))"


_P = 10_000_000_000  # phase stride of the synthetic changelog's logical clock

# DuckDB twin of _synthetic_changelog below — keep in sync.
_CLOG_CTES_DUCKDB = f"""
logs AS (
  SELECT l.*, block_num * 100 + tx_index * 10 + log_index AS enc
  FROM ({LOGS_CTE_DUCKDB}) l),
s AS (SELECT MAX(block_num) AS m, MAX(enc) AS maxenc FROM logs),
forked AS (SELECT l.* FROM logs l, s WHERE l.block_num > s.m - {FORK_DEPTH}),
s2 AS (SELECT COUNT(*) AS nrem FROM forked),
midenc AS (
  SELECT MAX(enc) AS menc FROM (
    SELECT enc, ROW_NUMBER() OVER (ORDER BY enc) AS rn FROM forked)
  WHERE rn <= (SELECT nrem // 2 FROM s2)),
changelog AS (
  SELECT 'add' AS change_type, block_num, tx_index, log_index, block_hash, address, value,
         enc AS indx
  FROM logs
  UNION ALL
  SELECT 'remove', block_num, tx_index, log_index, block_hash, address, value,
         {_P} + enc
  FROM forked
  UNION ALL
  SELECT 'add', block_num, tx_index, log_index,
         {_fork_hash_sql()}, address, value,
         {2 * _P} + enc
  FROM forked)
"""


def _synthetic_changelog(spark: SparkSession, sf_dir: str):
    """The fixture chain's reorg history as an append-only changelog.

    The store's indx only needs to be a monotone logical clock; the
    synthetic changelog uses the shuffle-FREE encoding
    phase·10^10 + block·100 + tx·10 + log (order-identical to the
    append sequence: tx_index<10, log_index<10 by construction) — the
    100k-row fact table never pays a global row_number, and the only
    ranking (the mid-retraction cut point) runs on the ~FORK_DEPTH
    blocks of retracted rows.

    Returns (changelog, s, midenc): the tagged rows, the 1-row scalars
    (_m max block, _maxenc max clock), and the 1-row mid-retraction cut
    (_menc)."""
    enc = (F.col("block_num") * 100 + F.col("tx_index") * 10 + F.col("log_index")).cast("long")
    logs = derived_logs(spark, sf_dir).select(
        "block_num", "tx_index", "log_index", "block_hash", "address", "value", enc.alias("enc")
    )
    s = logs.agg(F.max("block_num").alias("_m"), F.max("enc").alias("_maxenc"))
    forked = (
        logs.crossJoin(F.broadcast(s))
        .where(F.col("block_num") > F.col("_m") - F.lit(FORK_DEPTH))
        .drop("_m", "_maxenc")
    )
    s2 = forked.agg(F.count("*").alias("_nrem"))
    # cut point: the enc of the ⌊nrem/2⌋-th oldest retraction (tiny table)
    midenc = (
        OPI.assign_indx_scalable(forked.withColumnRenamed("enc", "renc"))
        .crossJoin(F.broadcast(s2))
        .agg(F.max(F.when(F.col("indx") < F.expr("_nrem DIV 2"), F.col("renc"))).alias("_menc"))
    )

    adds0 = logs.select(
        F.lit("add").alias("change_type"), "block_num", "tx_index", "log_index",
        "block_hash", "address", "value", F.col("enc").alias("indx"),
    )
    rem = forked.select(
        F.lit("remove").alias("change_type"), "block_num", "tx_index", "log_index",
        "block_hash", "address", "value", (F.col("enc") + F.lit(_P)).alias("indx"),
    )
    fork_hash = F.concat(
        F.lit("0x"), F.sha2(F.concat(F.lit("blkfork"), F.col("block_num").cast("string")), 256)
    )
    readd = forked.select(
        F.lit("add").alias("change_type"), "block_num", "tx_index", "log_index",
        fork_hash.alias("block_hash"), "address", "value", (F.col("enc") + F.lit(2 * _P)).alias("indx"),
    )
    return adds0.unionByName(rem).unionByName(readd), s, midenc


@register(
    "changelog_time_travel",
    f"""
WITH {_CLOG_CTES_DUCKDB},
instants AS (
  SELECT 'pre_reorg' AS view_label, (SELECT maxenc FROM s) AS t
  UNION ALL
  SELECT 'mid_retraction', {_P} + (SELECT menc FROM midenc)
  UNION ALL
  SELECT 'post_reorg', {2 * _P} + (SELECT maxenc FROM s)),
ranked AS (
  SELECT i.view_label, c.block_num, c.block_hash, c.value, c.change_type,
         ROW_NUMBER() OVER (
           PARTITION BY i.view_label, c.block_hash, c.tx_index, c.log_index
           ORDER BY c.indx DESC) AS rn
  FROM instants i JOIN changelog c ON c.indx <= i.t)
SELECT view_label, block_num, COUNT(*) AS n_logs,
       CAST(SUM(CASE WHEN block_hash <> '0x' || sha256('blk' || CAST(block_num AS STRING))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fork,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM ranked WHERE rn = 1 AND change_type = 'add'
GROUP BY view_label, block_num
""",
    doc="changelog time-travel: view_as_of at pre/mid/post-reorg instants (tracker.go:841-846)",
)
def changelog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot + tail-delta read path (round-9 verdict item 4): the bulk
    'add' history (every indx below the static segment boundary _P) is
    collapsed ONCE into a snapshot; pre_reorg IS that snapshot (no
    changes occur between its instant and the boundary), and the
    mid/post-reorg instants reconstruct from snapshot + the retraction
    tail only — row-identical to the full views_as_of replay (pinned in
    tests/test_pipeline.py) while the dominant changelog segment stops
    fanning out once per instant.  At deployment scale the snapshot is a
    PERSISTED table maintained at the finality horizon
    (pipeline.snapshot_at / maintain_changelog)."""
    from ..streaming.pipeline import NATURAL_KEY, snapshot_at, views_as_of_snapshot

    changelog, s, midenc = _synthetic_changelog(spark, sf_dir)
    changelog = changelog.localCheckpoint(eager=False)  # snapshot + tail share it

    snap_pos = _P - 1  # static: the add segment is enc < _P by construction
    snapshot = snapshot_at(changelog, snap_pos).localCheckpoint(eager=False)
    tail = changelog.where(F.col("indx") >= _P)
    tail_instants = midenc.select(
        F.lit("mid_retraction").alias("view_label"),
        (F.col("_menc") + F.lit(_P)).alias("_as_of"),
    ).unionByName(
        s.select(
            F.lit("post_reorg").alias("view_label"),
            (F.col("_maxenc") + F.lit(2 * _P)).alias("_as_of"),
        )
    )
    payload = [c for c in changelog.columns if c not in ("indx", "change_type") and c not in NATURAL_KEY]
    snap_cols = ["view_label", *NATURAL_KEY, *payload, "indx"]
    pre = snapshot.withColumn("view_label", F.lit("pre_reorg")).select(*snap_cols)
    views = pre.unionByName(
        views_as_of_snapshot(snapshot, snap_pos, tail, tail_instants)
    )
    canon_hash = F.concat(
        F.lit("0x"), F.sha2(F.concat(F.lit("blk"), F.col("block_num").cast("string")), 256)
    )
    return (
        views.groupBy("view_label", "block_num")
        .agg(
            F.count("*").alias("n_logs"),
            F.sum((F.col("block_hash") != canon_hash).cast("long")).alias("n_fork"),
            _sum_dec().alias("sum_value"),
        )
        .select("view_label", "block_num", "n_logs", "n_fork", "sum_value")
    )


# ---------------------------------------------------------------------------
# SCD2 / temporal-table view of the changelog: one [valid_from, valid_to)
# interval per natural key in logical-clock space — live rows have a null
# valid_to.  The interval table is what AS-OF interval joins consume
# (operators/rangejoin.py); its live set is pinned == current_view in
# tests.  One hash aggregate on the natural key.
# ---------------------------------------------------------------------------
@register(
    "changelog_validity_intervals",
    f"""
WITH {_CLOG_CTES_DUCKDB},
intervals AS (
  SELECT block_num, block_hash, tx_index, log_index,
         MIN(CASE WHEN change_type = 'add' THEN indx END) AS valid_from,
         MIN(CASE WHEN change_type = 'remove' THEN indx END) AS valid_to
  FROM changelog
  GROUP BY block_num, block_hash, tx_index, log_index)
SELECT block_num, COUNT(*) AS n_keys,
       CAST(SUM(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
       CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       MAX(valid_to - valid_from) AS max_closed_span
FROM intervals GROUP BY block_num
""",
    doc="SCD2 validity intervals from the changelog (live = null valid_to; tracker.go:291-314 finality)",
)
def changelog_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import validity_intervals

    changelog, _s, _m = _synthetic_changelog(spark, sf_dir)
    iv = validity_intervals(changelog)
    return iv.groupBy("block_num").agg(
        F.count("*").alias("n_keys"),
        F.sum(F.col("valid_to").isNotNull().cast("long")).alias("n_closed"),
        F.sum(F.col("valid_to").isNull().cast("long")).alias("n_live"),
        F.max(F.col("valid_to") - F.col("valid_from")).alias("max_closed_span"),
    )


# ---------------------------------------------------------------------------
# U-1 / F-group — hex & binary scalar functions: little-endian uint decode
# of the ABI payload (README.md:101-102 consumer pattern), sha-256
# fingerprinting (buildHash recipe, tracker.go:47-60)
# ---------------------------------------------------------------------------
def _le48_duck(col: str) -> str:
    """DuckDB: little-endian uint48 from first 12 hex chars of col —
    reverse the 6 bytes then hex→bigint by digit arithmetic."""
    rev = " || ".join(f"substr({col}, {2 * i + 1}, 2)" for i in reversed(range(6)))
    h = f"({rev})"
    terms = " + ".join(
        f"CAST(strpos('0123456789abcdef', substr({h}, {p + 1}, 1)) - 1 AS BIGINT) * {16 ** (11 - p)}"
        for p in range(12)
    )
    return f"({terms})"


@register(
    "hex_scalar_funcs",
    f"""
WITH logs AS ({LOGS_CTE_DUCKDB})
SELECT tx_hash,
       {_le48_duck('data_hex')} AS data_le48,
       sha256(tx_hash || CAST(block_num AS STRING)) AS row_fingerprint,
       upper(substr(data_hex, 1, 8)) AS data_head_hex
FROM logs
WHERE block_num < 20
""",
    doc="U-1 hex/LE-uint decode + sha-256 fingerprint (README.md:101-102, tracker.go:47-60)",
)
def hex_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = derived_logs(spark, sf_dir).where(F.col("block_num") < 20)
    rev = F.concat(*[F.substring("data_hex", 2 * i + 1, 2) for i in reversed(range(6))])
    return logs.select(
        "tx_hash",
        F.conv(rev, 16, 10).cast("long").alias("data_le48"),
        F.sha2(F.concat(F.col("tx_hash"), F.col("block_num").cast("string")), 256).alias("row_fingerprint"),
        F.upper(F.substring("data_hex", 1, 8)).alias("data_head_hex"),
    )


# ---------------------------------------------------------------------------
# P-3 / F-group — ABI-style event decode: map topic0 to an event name,
# extract the counterparty address from topic1 (last 20 bytes of the
# 32-byte topic), little-endian-decode the amount from the data payload —
# the consumer pattern of README.md:94-104 as column expressions.
# ---------------------------------------------------------------------------
@register(
    "abi_decode_event",
    f"""
WITH logs AS ({LOGS_CTE_DUCKDB}),
decoded AS (
  SELECT CASE topic0
           WHEN '{_SIGS[0]}' THEN 'Transfer'
           WHEN '{_SIGS[1]}' THEN 'Approval'
           ELSE 'Deposit' END AS event_name,
         '0x' || substr(topic1, length(topic1) - 39, 40) AS counterparty,
         {{le48}} AS amount
  FROM logs
)
SELECT event_name, COUNT(*) AS n_events,
       COUNT(DISTINCT counterparty) AS n_counterparties,
       CAST(SUM(amount) AS BIGINT) AS total_amount
FROM decoded GROUP BY event_name
""".format(le48=_le48_duck("data_hex")),
    doc="P-3 ABI decode: event-name map, address extraction, LE amount (README.md:94-104)",
)
def abi_decode_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import le_uint_from_hex

    logs = derived_logs(spark, sf_dir)
    decoded = logs.select(
        F.when(F.col("topic0") == _SIGS[0], "Transfer")
        .when(F.col("topic0") == _SIGS[1], "Approval")
        .otherwise("Deposit")
        .alias("event_name"),
        F.concat(F.lit("0x"), F.substring("topic1", -40, 40)).alias("counterparty"),
        le_uint_from_hex(F.col("data_hex"), 6).alias("amount"),
    )
    return decoded.groupBy("event_name").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("counterparty").alias("n_counterparties"),
        F.sum("amount").alias("total_amount"),
    )


# ---------------------------------------------------------------------------
# Array ops — explode the positional topics array (lateral-view pattern):
# per (position, topic) frequency, the shape of topic-cardinality stats
# ---------------------------------------------------------------------------
@register(
    "logs_topics_exploded",
    f"""
WITH logs AS ({LOGS_CTE_DUCKDB}),
topics AS (
  SELECT block_num, tx_index, unnest(generate_series(1, 2)) AS pos,
         topic0, topic1
  FROM logs
),
flat AS (
  SELECT CAST(pos AS BIGINT) AS pos, CASE pos WHEN 1 THEN topic0 ELSE topic1 END AS topic
  FROM topics
)
SELECT pos, topic, COUNT(*) AS n
FROM flat GROUP BY pos, topic
""",
    doc="posexplode of the topics array + per-position frequency (array ops)",
)
def logs_topics_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = derived_logs(spark, sf_dir)
    return (
        logs.select(F.posexplode("topics").alias("pos0", "topic"))
        .select((F.col("pos0") + 1).cast("long").alias("pos"), "topic")
        .groupBy("pos", "topic")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Chain validation — parent-linkage integrity (the invariant findAncestor
# walks rely on, tracker.go:291-314): every block's parent_hash must equal
# the previous block's hash; report violations + chain stats.  Folded into
# the `ancestor_walk` driver slot (single-row crossJoin).
# ---------------------------------------------------------------------------
def blocks_chain_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = derived_blocks(spark, sf_dir, fork=False)
    p = canon.select(
        (F.col("block_num") + 1).alias("next_num"), F.col("block_hash").alias("p_hash")
    )
    j = canon.join(p, canon.block_num == p.next_num, "left")
    return j.agg(
        F.count("*").alias("n_blocks"),
        F.sum(
            F.when(F.col("p_hash").isNotNull() & (F.col("parent_hash") != F.col("p_hash")), 1).otherwise(0)
        ).cast("long").alias("bad_links"),
        F.sum(
            F.when(F.col("p_hash").isNull() & (F.col("block_num") > 0), 1).otherwise(0)
        ).cast("long").alias("gaps"),
    )


# ---------------------------------------------------------------------------
# Log-block enrichment — join the fact stream to the header dimension and
# verify hash agreement (S-4 lookup join; the batch form of fork-exact
# reads, tracker.go:799-800)
# ---------------------------------------------------------------------------
@register(
    "logs_block_enrich",
    f"""
WITH logs AS ({LOGS_CTE_DUCKDB}),
canon AS ({blocks_cte_duckdb(fork=False)})
SELECT CAST(l.block_num // 10 AS BIGINT) AS block_decade,
       COUNT(*) AS n_logs,
       CAST(SUM(CASE WHEN l.block_hash = b.block_hash THEN 1 ELSE 0 END) AS BIGINT) AS hash_agree,
       COUNT(DISTINCT b.parent_hash) AS n_parents
FROM logs l JOIN canon b ON l.block_num = b.block_num
GROUP BY 1
""",
    doc="S-4 lookup join: enrich logs with headers, verify fork-exact hash agreement",
)
def logs_block_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = derived_logs(spark, sf_dir)
    blocks = derived_blocks(spark, sf_dir, fork=False).select(
        F.col("block_num").alias("b_num"), F.col("block_hash").alias("b_hash"), "parent_hash"
    )
    return (
        logs.join(F.broadcast(blocks), logs.block_num == blocks.b_num)
        .groupBy(F.expr("block_num DIV 10").alias("block_decade"))
        .agg(
            F.count("*").alias("n_logs"),
            F.sum(F.when(F.col("block_hash") == F.col("b_hash"), 1).otherwise(0)).cast("long").alias("hash_agree"),
            F.countDistinct("parent_hash").alias("n_parents"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance (CDC signed aggregation): a per-address
# rollup maintained DIRECTLY from the changelog — adds weigh +1, removes
# −1 — with no view reconstruction.  The oracle computes the same rollup
# the expensive way (reconstruct the live view, then aggregate); the hash
# match IS the IVM identity, proven cross-engine.  100 TB: maintaining
# the materialized aggregate costs one map-side-combined pass over each
# changelog DELTA, never a re-scan of the corpus.
# ---------------------------------------------------------------------------
@register(
    "changelog_incremental_agg",
    f"""
WITH {_CLOG_CTES_DUCKDB},
ranked AS (
  SELECT address, value, change_type,
         ROW_NUMBER() OVER (PARTITION BY block_hash, tx_index, log_index
                            ORDER BY indx DESC) AS rn
  FROM changelog),
live AS (SELECT address, value FROM ranked WHERE rn = 1 AND change_type = 'add'),
agg AS (
  SELECT address, COUNT(*) AS n_live,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
         CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_sq
  FROM live GROUP BY address)
SELECT address, n_live, sum_value,
       sum_value / n_live AS avg_value,
       sum_sq / n_live - (sum_value / n_live) * (sum_value / n_live) AS var_value
FROM agg
""",
    doc="CDC incremental aggregate: signed ±1 maintenance == reconstruct-then-aggregate",
)
def changelog_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import incremental_agg

    changelog, _s, _m = _synthetic_changelog(spark, sf_dir)
    return incremental_agg(changelog, keys=("address",), value_col="value")


# ---------------------------------------------------------------------------
# Explicit salted join under a planted hot key (operators/skew.salted_join)
# — the mega-contract / zero-address shape: 100 TB of chain logs is NOT
# uniform, one contract can own most of a day's events, and a plain
# shuffle join puts that whole key in ONE task.  The salt spreads the hot
# key across salt_n tasks; comparative timing evidence (salted vs naive
# under skew, AQE on, broadcast off) lives in skew_evidence.json
# (tools/skew_bench.py).  Inner-join equivalence to the plain join is the
# oracle contract here.
# ---------------------------------------------------------------------------
@register(
    "skew_salted_hotkey_join",
    f"""
WITH logs AS ({LOGS_CTE_DUCKDB}),
big AS (
  SELECT CASE WHEN (block_num * 5 + tx_index) % 10 < 9
              THEN '{address_pool()[0]}' ELSE address END AS skew_addr,
         value
  FROM logs),
dim AS (SELECT DISTINCT address AS skew_addr, substr(address, 3, 8) AS tag FROM logs)
SELECT b.skew_addr, d.tag,
       COUNT(*) AS n_logs,
       {_DEC.replace("value", "b.value")} AS sum_value
FROM big b JOIN dim d USING (skew_addr)
GROUP BY b.skew_addr, d.tag
""",
    doc="salted hot-key join: 90% of rows remapped onto one mega-contract "
    "address, dim joined via (key, salt) so the hot key fans across "
    "salt_n tasks; result == plain inner join (oracle); naive-vs-salted "
    "timing pinned in skew_evidence.json",
)
def skew_salted_hotkey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    logs = derived_logs(spark, sf_dir)
    hot = F.when(
        (F.col("block_num") * 5 + F.col("tx_index")) % 10 < 9, F.lit(_ADDRS[0])
    ).otherwise(F.col("address"))
    big = logs.select(hot.alias("skew_addr"), "value")
    dim = (
        logs.select(F.col("address").alias("skew_addr"))
        .distinct()
        .withColumn("tag", F.substring("skew_addr", 3, 8))
    )
    return (
        salted_join(big, dim, on="skew_addr", salt_n=8)
        .groupBy("skew_addr", "tag")
        .agg(F.count("*").alias("n_logs"), _sum_dec("value").alias("sum_value"))
    )
