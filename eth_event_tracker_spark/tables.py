"""Fixture loaders + deterministic derived chain tables.

The driver's correctness harness runs our Spark queries against DuckDB SQL
oracles over the same parquet fixtures (region nation customer supplier part
orders lineitem events documents embeddings).  The chain-specific semantics
of the reference (logs with addresses/topics, fork-linked blocks, KV
checkpoint rows — FIXTURES.md tables 1-5) have no on-disk fixture, so we
*derive* them deterministically from ``events`` using only constructs that
evaluate identically in Spark and DuckDB (sha-256, integer div/mod, substr,
string concat).  Spark side = DataFrame API below; DuckDB side = the
``*_CTE_DUCKDB`` SQL strings, which oracles embed as CTEs.

Derived model (mirrors the reference's mock chains — tracker_test.go
MockList builds block i with deterministic hash and optional per-block
logs):
  - 5 txs per block, log position = event_id mod 3
  - address pool of 5 contracts (cf. tracker_test.go:112-131 —
    filters must select strict subsets)
  - topic0 = event-signature pool of 3 (cf. events A/B,
    tracker_test.go:148-171); topic1 = 7 distinct values
  - data = 8-byte payload, hex-encoded
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TimestampType (LTZ).

    The fixture stores ts as TIMESTAMP(NANOS, isAdjustedToUTC=false); Spark
    has no nanos timestamp, and runtimes differ in how they surface it:
      - PySpark <=3.5 honors ``spark.sql.legacy.parquet.nanosAsLong`` →
        ts arrives as bigint nanoseconds;
      - PySpark 4.x ignores the legacy conf → ts arrives as TIMESTAMP_NTZ
        (nanos truncated to micros).
    Both become TimestampType here: ``withWatermark`` and every time-based
    streaming operator require LTZ.  The session timezone is pinned to UTC
    (session.py), so the NTZ→LTZ cast is wall-clock value-preserving and
    oracle hashes are unaffected (verified vs DuckDB in
    tests/test_environment.py)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin UTC on whatever session calls us (the grading driver builds
        # a vanilla one): the NTZ→LTZ normalization below and every
        # date/window function in the registry match the TZ-less DuckDB
        # oracle only under UTC.  On a non-UTC host a default session
        # would silently shift instants; engine sessions (session.py)
        # already set this.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


# ---------------------------------------------------------------------------
# logs — the event-log fact table (schema: postgresql_store.go:208-217)
# ---------------------------------------------------------------------------

# The per-session cache dict lives as an attribute ON the session object,
# so it is garbage-collected exactly when the session is — no module-level
# registry pinning dead sessions (and their executor-cached DataFrames)
# for the life of the process.  A WeakKeyDictionary would not work here:
# cached DataFrames strongly reference their session (df.sparkSession),
# so the dict's values would keep its weak keys alive forever.
_DERIVED_LOGS_CACHE_ATTR = "_eets_derived_logs_cache"


def derived_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic logs table derived from ``events``.

    Column-for-column twin of LOGS_CTE_DUCKDB below — keep in sync.
    The result is memoized + Spark-cached per (session, sf_dir): a dozen
    registry queries start from this table, and the sha-256 derivation
    only needs to run once per session."""
    per: dict[str, DataFrame] | None = getattr(spark, _DERIVED_LOGS_CACHE_ATTR, None)
    if per is None:
        per = {}
        setattr(spark, _DERIVED_LOGS_CACHE_ATTR, per)
    hit = per.get(sf_dir)
    if hit is not None:
        return hit
    df = _derived_logs_uncached(spark, sf_dir).cache()
    per[sf_dir] = df
    return df


def _derived_logs_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file fixture → one scan task; spread the per-row sha-256
    # derivation across cores (result is row-wise, partitioning-invariant)
    ev = load_table(spark, sf_dir, "events")
    ev = ev.repartition(spark.sparkContext.defaultParallelism)
    block_num = F.expr("event_id DIV 5")
    return ev.select(
        block_num.alias("block_num"),
        (F.col("event_id") % 5).cast("long").alias("tx_index"),
        (F.col("event_id") % 3).cast("long").alias("log_index"),
        F.concat(F.lit("0x"), F.sha2(F.concat(F.lit("tx"), F.col("event_id").cast("string")), 256)).alias("tx_hash"),
        F.concat(F.lit("0x"), F.sha2(F.concat(F.lit("blk"), block_num.cast("string")), 256)).alias("block_hash"),
        F.concat(
            F.lit("0x"),
            F.substring(F.sha2(F.concat(F.lit("addr"), (F.col("user_id") % 5).cast("string")), 256), 1, 40),
        ).alias("address"),
        F.concat(F.lit("0x"), F.sha2(F.concat(F.lit("sig"), (F.col("event_id") % 3).cast("string")), 256)).alias("topic0"),
        F.concat(F.lit("0x"), F.sha2(F.concat(F.lit("t1"), (F.col("user_id") % 7).cast("string")), 256)).alias("topic1"),
        F.substring(F.sha2(F.concat(F.lit("data"), F.col("event_id").cast("string")), 256), 1, 16).alias("data_hex"),
        F.col("value"),
    ).withColumn("topics", F.array(F.col("topic0"), F.col("topic1")))


LOGS_CTE_DUCKDB = """
  SELECT
    event_id // 5                                                                  AS block_num,
    CAST(event_id % 5 AS BIGINT)                                                   AS tx_index,
    CAST(event_id % 3 AS BIGINT)                                                   AS log_index,
    '0x' || sha256('tx' || CAST(event_id AS STRING))                               AS tx_hash,
    '0x' || sha256('blk' || CAST(event_id // 5 AS STRING))                         AS block_hash,
    '0x' || substr(sha256('addr' || CAST(user_id % 5 AS STRING)), 1, 40)           AS address,
    '0x' || sha256('sig' || CAST(event_id % 3 AS STRING))                          AS topic0,
    '0x' || sha256('t1' || CAST(user_id % 7 AS STRING))                            AS topic1,
    substr(sha256('data' || CAST(event_id AS STRING)), 1, 16)                      AS data_hex,
    value
  FROM events
"""


def address_pool(n: int = 5) -> list[str]:
    """The n derived contract addresses (python-side mirror, for filters)."""
    import hashlib

    return ["0x" + hashlib.sha256(f"addr{i}".encode()).hexdigest()[:40] for i in range(n)]


def sig_pool(n: int = 3) -> list[str]:
    import hashlib

    return ["0x" + hashlib.sha256(f"sig{i}".encode()).hexdigest() for i in range(n)]


def topic1_pool(n: int = 7) -> list[str]:
    import hashlib

    return ["0x" + hashlib.sha256(f"t1{i}".encode()).hexdigest() for i in range(n)]


# ---------------------------------------------------------------------------
# blocks — canonical chain + one fork branch (cf. testutil.MockList chains)
# ---------------------------------------------------------------------------
# Canonical chain covers every block_num present in logs. The fork branch
# re-hashes the last `FORK_DEPTH` heights ('blkfork' prefix), sharing
# ancestors below the fork point — exactly the Extra()-perturbed fork shape
# of tracker_test.go.

FORK_DEPTH = 4

_DERIVED_BLOCKS_CACHE_ATTR = "_eets_derived_blocks_cache"


def derived_blocks(spark: SparkSession, sf_dir: str, fork: bool = False) -> DataFrame:
    """Deterministic blocks dimension derived from ``events`` — memoized +
    Spark-cached per (session, sf_dir, fork) exactly like derived_logs:
    it is a small dimension (~#blocks rows) that several chain queries
    rebuild 2-3 times each (canon + fork + validation), and each rebuild
    costs an events scan + distinct shuffle.  Same session-attribute
    lifecycle as derived_logs (dies with the session, no module-level
    registry)."""
    per: dict[tuple[str, bool], DataFrame] | None = getattr(
        spark, _DERIVED_BLOCKS_CACHE_ATTR, None
    )
    if per is None:
        per = {}
        setattr(spark, _DERIVED_BLOCKS_CACHE_ATTR, per)
    hit = per.get((sf_dir, fork))
    if hit is not None:
        return hit
    df = _derived_blocks_uncached(spark, sf_dir, fork).cache()
    per[(sf_dir, fork)] = df
    return df


def _derived_blocks_uncached(spark: SparkSession, sf_dir: str, fork: bool) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    nums = ev.select(F.expr("event_id DIV 5").alias("block_num")).distinct()
    # scalar head via agg + broadcast cross join — not a single-partition
    # window (operators/scalars.py has the scale rationale)
    df = nums.crossJoin(F.broadcast(nums.agg(F.max("block_num").alias("_max"))))
    if fork:
        pfx = F.when(F.col("block_num") > F.col("_max") - F.lit(FORK_DEPTH), F.lit("blkfork")).otherwise(F.lit("blk"))
        pfx_parent = F.when(F.col("block_num") - 1 > F.col("_max") - F.lit(FORK_DEPTH), F.lit("blkfork")).otherwise(F.lit("blk"))
    else:
        pfx = F.lit("blk")
        pfx_parent = F.lit("blk")
    return df.select(
        F.col("block_num"),
        F.concat(F.lit("0x"), F.sha2(F.concat(pfx, F.col("block_num").cast("string")), 256)).alias("block_hash"),
        F.when(
            F.col("block_num") == 0, F.concat(F.lit("0x"), F.sha2(F.lit("genesis"), 256))
        ).otherwise(
            F.concat(F.lit("0x"), F.sha2(F.concat(pfx_parent, (F.col("block_num") - 1).cast("string")), 256))
        ).alias("parent_hash"),
    )


def blocks_cte_duckdb(fork: bool = False) -> str:
    """DuckDB twin of derived_blocks."""
    if fork:
        pfx = f"CASE WHEN block_num > _max - {FORK_DEPTH} THEN 'blkfork' ELSE 'blk' END"
        pfx_parent = f"CASE WHEN block_num - 1 > _max - {FORK_DEPTH} THEN 'blkfork' ELSE 'blk' END"
    else:
        pfx = "'blk'"
        pfx_parent = "'blk'"
    return f"""
  SELECT
    block_num,
    '0x' || sha256(({pfx}) || CAST(block_num AS STRING)) AS block_hash,
    CASE WHEN block_num = 0 THEN '0x' || sha256('genesis')
         ELSE '0x' || sha256(({pfx_parent}) || CAST(block_num - 1 AS STRING)) END AS parent_hash
  FROM (
    SELECT DISTINCT event_id // 5 AS block_num, MAX(event_id // 5) OVER () AS _max
    FROM events
  )
"""


# ---------------------------------------------------------------------------
# kv — metadata/checkpoint rows (postgresql_store.go:219-224; tracker.go:26-31)
# ---------------------------------------------------------------------------
# 20 deterministic rows over the reference's four key families so prefix
# scans (store/testing.go:65-102) select strict subsets.

def derived_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 20)
    fam = (
        F.when(F.col("event_id") % 4 == 0, F.concat(F.lit("filter_"), F.substring(F.sha2(F.concat(F.lit("f"), F.col("event_id").cast("string")), 256), 1, 8)))
        .when(F.col("event_id") % 4 == 1, F.concat(F.lit("lastBlock_"), F.substring(F.sha2(F.concat(F.lit("f"), F.col("event_id").cast("string")), 256), 1, 8)))
        .when(F.col("event_id") % 4 == 2, F.lit("genesis"))
        .otherwise(F.lit("chainID"))
    )
    return ev.select(
        F.concat(fam, F.lit("#"), F.col("event_id").cast("string")).alias("key"),
        F.sha2(F.concat(F.lit("v"), F.col("event_id").cast("string")), 256).alias("val"),
    )


KV_CTE_DUCKDB = """
  SELECT
    (CASE
       WHEN event_id % 4 = 0 THEN 'filter_' || substr(sha256('f' || CAST(event_id AS STRING)), 1, 8)
       WHEN event_id % 4 = 1 THEN 'lastBlock_' || substr(sha256('f' || CAST(event_id AS STRING)), 1, 8)
       WHEN event_id % 4 = 2 THEN 'genesis'
       ELSE 'chainID'
     END) || '#' || CAST(event_id AS STRING) AS key,
    sha256('v' || CAST(event_id AS STRING))  AS val
  FROM events
  WHERE event_id < 20
"""
