"""Incremental corpus curation: the batch curation stages running as a
Structured Streaming ingest — the shape a crawl pipeline has in
production, where documents arrive continuously and the curated corpus
is an append-only table.

Per micro-batch (``foreachBatch``):

  1. quality gate + PII redaction       (stateless projections)
  2. within-batch exact dedup           (keep min doc_id per content hash)
  3. cross-batch exact dedup            (anti-join against the corpus)
  4. append survivors                   (partitioned by hash prefix)

The cross-batch state is the corpus ITSELF — no sidecar index to keep
transactionally in sync. The corpus is laid out
``hash_prefix=XX/part-*.parquet`` (prefix = first 2 hex chars of the
content hash, 256 uniform partitions), so the guard read is doubly
bounded:

  - **partition pruning**: a micro-batch touches ≤256 prefixes, and the
    read lists only those directories (usually far fewer for small
    batches);
  - **column pruning**: only ``content_hash`` is decoded — the guard
    reads the 32-byte hash column of the pruned partitions, never
    document text.

At 100 TB of text that makes the per-batch guard O(hash column of the
touched prefixes), the same bounded-replay-guard discipline as the log
entry's ``dedup_against_tail`` (streaming/pipeline.py), which walks back
only over the entry's tail.

Exactly-once: the anti-join makes appends idempotent — a replayed batch
finds its own hashes already in the corpus and appends nothing. (The
reference's tracker gets the same property from its checkpoint commit
order, tracker.go:369-382; content-addressed data lets us get it from
the data itself.)

Near-dup admission (optional, ``near_dup_threshold``): incoming docs are
also filtered against the accumulated corpus by ESTIMATED MinHash
Jaccard — matching minhash seeds / k ≥ threshold — using a persisted
signature sidecar ``<corpus>/_minhash_sigs`` (k rows of
(doc_id, seed, minhash) per admitted doc; the underscore prefix hides it
from ``corpus_view`` reads).  Signature-only estimation is the
production crawl pattern: the corpus text is never re-read, the match is
one equality join on (seed, minhash) against an incrementally-appended
table (at 100 TB: bucketed on those keys), and precision/recall is
governed by k.  Within-batch near-dups are deliberately admitted —
global near-dup CLUSTERING (keeper election across chains) stays the
periodic batch sweep (curation.curate); this stage only stops the
unbounded re-accumulation of near-copies of already-admitted content.

Crash window: the corpus append commits before the sig append, so a
crash in between leaves admitted docs without signatures — exact dedup
and replay idempotency are unaffected (soft near-dup misses only), and
``repair_sigs`` backfills the gap.  The opposite order would be worse:
signatures for documents that do not exist would silently drop future
incoming docs against ghosts.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as OPD
from ..operators import text as OPT
from ..store.filecompact import COMMIT as _C_COMMIT
from ..store.filecompact import OLD as _C_OLD
from ..store.filecompact import STAGE as _C_STAGE
from ..store.filecompact import compact_dirs as _compact_dirs
from ..store.filecompact import compact_recover as _compact_recover
from ..store.filecompact import dir_lock as _corpus_lock

_SIG_SCHEMA = "doc_id long, seed int, minhash long"


def _sigs_dir(corpus_dir: str) -> str:
    return corpus_dir.rstrip("/") + "/_minhash_sigs"


def curate_batch(batch_df: DataFrame) -> DataFrame:
    """Stateless front half: gate → redact → within-batch exact dedup.
    Returns surviving rows with (content_hash, hash_prefix) attached."""
    verdicts = OPT.quality_verdicts(batch_df)
    kept = batch_df.join(
        verdicts.where(F.col("verdict") == "keep").select("doc_id"), "doc_id", "left_semi"
    )
    red = (
        OPT.redact_pii(kept)
        .drop("text", "n_email", "n_phone", "n_ipv4")
        .withColumnRenamed("redacted", "text")
    )
    # the "p" guard keeps the partition VALUE non-numeric: hive-style
    # partition directories round-trip through type inference, and a
    # run of all-digit prefixes would come back as ints — silently
    # type-mismatching (and so defeating) the cross-batch anti-join
    hashed = red.withColumn(
        "content_hash", F.sha2(OPT.normalize(F.col("text")), 256)
    ).withColumn("hash_prefix", F.concat(F.lit("p"), F.substring("content_hash", 1, 2)))
    # within-batch dedup: deterministic winner (min doc_id) per hash
    w_min = F.min("doc_id").over(Window.partitionBy("content_hash"))
    return (
        hashed.withColumn("_min_id", w_min)
        .where(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id")
    )


def _corpus_exists(spark: SparkSession, corpus_dir: str) -> bool:
    """Hadoop-FS existence probe for the corpus root — works for any
    filesystem Spark can address (local, HDFS, object store), unlike an
    os.path check."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(corpus_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(path))


_BLOOM_M = 1 << 20
_BLOOM_K = 5


def _corpus_has_data(corpus_dir: str) -> bool:
    """True iff at least one hash-prefix partition exists — distinct from
    ``_corpus_exists`` because the corpus LOCK creates the bare directory
    before the first batch writes (local-fs check, like the lock)."""
    if not os.path.isdir(corpus_dir):
        return False
    return any(n.startswith("hash_prefix=") for n in os.listdir(corpus_dir))


# --- corpus maintenance: lock + small-file compaction ----------------------
# Streaming appends land one file set per micro-batch per touched prefix —
# the classic streaming-sink small-files problem.  compact_corpus rewrites
# oversized prefix partitions through the SHARED staged, commit-marked
# swap (store/filecompact.py — the inverted text index compacts through
# the same code); the advisory flock serializes it against the ingest
# writes, and _compact_recover runs on EVERY locked entry so an append
# can never recreate a prefix whose pre-compaction rows are still staged
# (which a later recovery would then discard — data loss).
def compact_corpus(
    spark: SparkSession,
    corpus_dir: str,
    max_files: int = 4,
    files_after: int = 1,
) -> int:
    """Rewrite every prefix partition holding more than ``max_files``
    parquet files into ``files_after`` files (at 100 TB: set
    ``files_after ≈ partition bytes / target file size``; the fixture
    default is 1).  Returns the number of partitions compacted.  Rows
    are preserved exactly (pinned), the swap is atomic per prefix, and
    the ingest lock makes it safe to run between micro-batches of a
    live stream (pinned with a live stream in tests)."""
    if not os.path.isdir(corpus_dir):
        return 0
    with _corpus_lock(corpus_dir):
        _compact_recover(corpus_dir)
        # the minhash signature sidecar accumulates per-batch files the
        # same way the prefix partitions do — same staged swap covers it
        # (the recovery loops are name-generic)
        targets = [
            n for n in sorted(os.listdir(corpus_dir)) if n.startswith("hash_prefix=")
        ]
        if os.path.isdir(os.path.join(corpus_dir, "_minhash_sigs")):
            targets.append("_minhash_sigs")
        return _compact_dirs(
            spark, corpus_dir, targets, max_files=max_files, files_after=files_after
        )


def _bloom_guard(
    spark: SparkSession,
    corpus_dir: str,
    bloom_log_dir: str,
    cur: DataFrame,
    batch_id: int,
    m_bits: int,
    k: int,
) -> DataFrame:
    """Constant-size cross-batch guard: probe the batch's content hashes
    against the durable corpus Bloom (streaming/sketch.py bloom_codec) —
    definite-negatives skip the corpus read entirely; positives verify
    with the exact anti-join pruned to THEIR prefixes only.  At 100 TB
    this turns the per-batch guard from "hash column of every touched
    prefix" (hundreds of GB for any decent batch) into "≤ m/64 sketch
    rows + the true-duplicate prefixes".

    Exactness: positives are always verified, and false negatives are
    impossible while the log holds a superset of the corpus's hashes —
    which the WRITE ORDER guarantees: survivors' hashes append to the
    log BEFORE the corpus write, so a crash between the two leaves
    hashes whose docs are absent; on replay those rows probe positive,
    verify against the corpus, find nothing, and are admitted.  (The
    opposite order would let a crash admit duplicates.)  A replayed
    batch's log append is skipped by the watermark, and the OR-fold is
    idempotent even without it."""
    from ..operators.bloom import bloom_rows_member
    from .sketch import append_partial, bloom_codec, read_sketch

    codec = bloom_codec("content_hash", m_bits=m_bits, k=k)
    sketch = read_sketch(spark, bloom_log_dir, codec=codec)
    # "corpus exists" here must mean HAS DATA — the corpus lock creates
    # the bare directory before the first batch ever writes, so a plain
    # existence probe would read a fresh stream as "seed required".
    # Order matters: the fs probe is free, isEmpty is a Spark job.
    if _corpus_has_data(corpus_dir) and sketch.isEmpty():
        raise RuntimeError(
            f"bloom guard enabled on an existing corpus but the log at "
            f"{bloom_log_dir} is empty — run seed_bloom_log first (an "
            "empty log would read every already-curated doc as new)"
        )
    member = bloom_rows_member(
        sketch, cur.select("content_hash"), "content_hash", m_bits=m_bits, k=k
    )
    # consumed by the semi AND anti splits: cut lineage so the probe job
    # runs once, not once per side
    pos_hashes = (
        member.where(F.col("maybe_member"))
        .select("content_hash")
        .localCheckpoint(eager=False)
    )
    positives = cur.join(pos_hashes, "content_hash", "left_semi")
    negatives = cur.join(pos_hashes, "content_hash", "left_anti")
    prefixes = [
        r.hash_prefix for r in positives.select("hash_prefix").distinct().collect()
    ]
    if prefixes and _corpus_exists(spark, corpus_dir):
        existing = (
            spark.read.schema("content_hash string, hash_prefix string")
            .parquet(corpus_dir)
            .where(F.col("hash_prefix").isin(prefixes))
            .select("hash_prefix", "content_hash")
        )
        positives = positives.join(existing, ["hash_prefix", "content_hash"], "left_anti")
    survivors = negatives.unionByName(positives).localCheckpoint(eager=False)
    # log append FIRST (crash-window rationale above); the append is the
    # action that materializes `survivors` for the corpus write after it
    append_partial(
        survivors.select("content_hash"), batch_id, bloom_log_dir, codec=codec
    )
    return survivors


def seed_bloom_log(
    spark: SparkSession,
    corpus_dir: str,
    bloom_log_dir: str,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
) -> None:
    """Bootstrap the membership log from an already-curated corpus (one
    hash-column scan), so the bloom guard can be enabled on a corpus
    that predates it.  Refuses a non-empty log (seed_sketch)."""
    from .sketch import bloom_codec, seed_sketch

    corpus = (
        spark.read.schema("content_hash string, hash_prefix string")
        .parquet(corpus_dir)
        .select("content_hash")
    )
    seed_sketch(spark, corpus, bloom_log_dir, bloom_codec("content_hash", m_bits=m_bits, k=k))


def append_curated(
    spark: SparkSession,
    corpus_dir: str,
    batch_df: DataFrame,
    near_dup_threshold: float | None = None,
    minhash_k: int = 16,
    bloom_log_dir: str | None = None,
    batch_id: int | None = None,
    bloom_m_bits: int = _BLOOM_M,
    bloom_k: int = _BLOOM_K,
) -> None:
    """Cross-batch guard + append: drop rows whose content hash already
    lives in the corpus (prefix-pruned, hash-column-only read), then —
    when ``near_dup_threshold`` is set — rows whose estimated MinHash
    Jaccard vs any admitted doc clears the threshold (see module
    docstring), then append the survivors partitioned by hash prefix.

    The guard FAILS LOUD: only a genuinely absent corpus directory (the
    first batch) skips the anti-join.  Any read failure on an existing
    corpus — corrupt footer, permission error, transient FS fault —
    propagates, failing the micro-batch so the stream retries, instead of
    silently degrading to no-dedup and appending duplicates (which would
    break the exactly-once guarantee with no error surfaced)."""
    # The guard read and every write run under the corpus lock so a
    # concurrent compact_corpus cannot swap files out from under them;
    # recovery first, so an interrupted compaction can never be half-
    # resurrected by this append (comment block above _corpus_lock).
    # NOTE: the lock also makes the existence check below see the dir
    # the lock itself created — the explicit-schema read handles the
    # empty-dir case by design.
    with _corpus_lock(corpus_dir):
        _compact_recover(corpus_dir)
        cur = curate_batch(batch_df)
        if bloom_log_dir is not None:
            if batch_id is None:
                raise ValueError("bloom_log_dir requires batch_id (the log's replay watermark)")
            # cur feeds the probe, the anti-join split, and the writes: one eval
            cur = _bloom_guard(
                spark, corpus_dir, bloom_log_dir, cur.localCheckpoint(eager=False),
                batch_id, bloom_m_bits, bloom_k,
            )
        else:
            prefixes = [r.hash_prefix for r in cur.select("hash_prefix").distinct().collect()]
            if not prefixes:
                return
            if _corpus_exists(spark, corpus_dir):
                # explicit schema: no footer-based inference, so an existing-
                # but-empty corpus reads as zero rows rather than erroring,
                # while a corrupt data file still fails at scan time (loud)
                existing = (
                    spark.read.schema("content_hash string, hash_prefix string")
                    .parquet(corpus_dir)
                    .where(F.col("hash_prefix").isin(prefixes))
                    .select("hash_prefix", "content_hash")
                )
                cur = cur.join(existing, ["hash_prefix", "content_hash"], "left_anti")
        if near_dup_threshold is None:
            cur.write.mode("append").partitionBy("hash_prefix").parquet(corpus_dir)
            return

        # near-dup admission: estimated Jaccard = matching seeds / k, one
        # equality join on (seed, minhash) vs the persisted signature table
        sd = _sigs_dir(corpus_dir)
        # the batch is read several times below (sig compute, filter, two
        # writes) — cut lineage so gate/redact/joins run once
        cur = cur.localCheckpoint(eager=False)
        inc_sigs = OPD.minhash_signatures(cur, k=minhash_k)
        if _corpus_exists(spark, sd):
            ref = spark.read.schema(_SIG_SCHEMA).parquet(sd)
            m_needed = math.ceil(minhash_k * near_dup_threshold)
            doomed = (
                inc_sigs.select(F.col("doc_id").alias("doc_new"), "seed", "minhash")
                .join(
                    ref.select(F.col("doc_id").alias("doc_ref"), "seed", "minhash"),
                    ["seed", "minhash"],
                )
                .groupBy("doc_new", "doc_ref")
                .agg(F.count("*").alias("m"))
                .where(F.col("m") >= m_needed)
                .select(F.col("doc_new").alias("doc_id"))
                .distinct()
            )
            cur = cur.join(doomed, "doc_id", "left_anti").localCheckpoint(eager=False)
        # corpus append FIRST, signatures second (crash-window rationale in
        # the module docstring; repair_sigs closes the gap)
        cur.write.mode("append").partitionBy("hash_prefix").parquet(corpus_dir)
        (
            inc_sigs.join(cur.select("doc_id"), "doc_id", "left_semi")
            .write.mode("append")
            .parquet(sd)
        )


def repair_sigs(spark: SparkSession, corpus_dir: str, minhash_k: int = 16) -> int:
    """Backfill the signature sidecar for corpus docs missing one (a
    crash between the corpus append and the sig append — module
    docstring).  Returns how many docs were backfilled.  Safe to run any
    time; a consistent sidecar backfills nothing."""
    if not _corpus_exists(spark, corpus_dir):
        return 0
    corpus = spark.read.parquet(corpus_dir)
    sd = _sigs_dir(corpus_dir)
    if _corpus_exists(spark, sd):
        have = spark.read.schema(_SIG_SCHEMA).parquet(sd).select("doc_id").distinct()
        missing = corpus.join(have, "doc_id", "left_anti")
    else:
        missing = corpus
    missing = missing.localCheckpoint(eager=False)  # counted AND written
    n = missing.count()
    if n:
        OPD.minhash_signatures(missing, k=minhash_k).write.mode("append").parquet(sd)
    return n


def start_corpus_ingest(
    spark: SparkSession,
    input_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, lang string, source string",
    available_now: bool = False,
    near_dup_threshold: float | None = None,
    minhash_k: int = 16,
    bloom_log_dir: str | None = None,
):
    """Streaming query: parquet file drops in ``input_dir`` → curated
    append-only corpus in ``corpus_dir``.  ``near_dup_threshold`` turns
    on incremental near-dup admission; ``bloom_log_dir`` switches the
    cross-batch exact guard to the constant-size Bloom-prefiltered form
    (``_bloom_guard`` — same admitted set, corpus read only for the
    bloom-positive prefixes)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        append_curated(
            spark,
            corpus_dir,
            batch_df,
            near_dup_threshold=near_dup_threshold,
            minhash_k=minhash_k,
            bloom_log_dir=bloom_log_dir,
            batch_id=batch_id,
        )

    writer = stream.writeStream.foreachBatch(ingest).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def corpus_view(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """The curated corpus as a DataFrame."""
    return spark.read.parquet(corpus_dir)
