"""Parquet-backed Store/Entry — the engine's durable ordered log store.

Re-expresses the reference's pluggable store (interfaces at
store/store.go:6-36; backends inmem/boltdb/postgresql) as a
Spark-readable parquet layout:

    root/
      kv.json                       # KV metadata (Get/Set/ListPrefix)
      entries/<filter_hash>/
        meta.json                   # {"last_index": N} + an intent
        bucket=<k>/part-*.parquet   # k = indx // bucket_size

Why this layout scales:
  - ``bucket`` is a hive partition on the *sequence* key, so tail
    truncation (RemoveLogs(i), the reorg rollback S-6) only rewrites the
    bucket(s) at/above the boundary — under O-5 depth-bounded reorgs
    (tracker.go:33-35) that is always the newest bucket, never the 100 TB
    of finalized history.
  - Appends write new files and never modify a file in place; small
    files are merged by size tier, the logarithmic method of an LSM tree.
    Each ``store_logs`` file is tier 0 (``part-t0-<first indx>``); once a
    bucket holds ``_MERGE_FANIN`` files of one tier they are merged into
    one file of the next tier.  A bucket of n rows written by one-row
    appends therefore holds at most ``_MERGE_FANIN - 1`` files per tier,
    O(log n) files, and each row is rewritten once per tier.  Files the
    tier merge did not write (``append_df``'s Spark output, ``compact()``'s
    merged file) are never tier-merged.
  - An entry whose rows total at most a quarter of
    ``spark.sql.files.openCostInBytes`` uncompressed reaches Spark as one
    Arrow table read on the driver, so reading it opens no file from a
    task.  A larger one is scanned by Spark as its non-empty
    ``bucket=<k>`` directories with the entry's declared schema, so
    planning the read runs no Spark job (no per-file listing, no footer
    schema inference); range filters on ``indx`` and ``block_num`` prune
    by row-group statistics.  Neither DataFrame has a ``bucket`` column.

Micro-batch appends go through pyarrow (``store_logs``, driver-side):
the head path's batches are ≤ backlog blocks and the finalized stream's
are bounded by the source's row cap.  Only the Tracker's bulk backfill of
an unbounded range uses ``append_df`` (distributed Spark write).  Both
produce the same layout.

Durability contract matches the reference: StoreLogs persists before the
checkpoint advances (tracker.go:369-382), so a crash between the two
replays a suffix — dedupable by deterministic (block_hash, log_index).

On an append the data files are the source of truth: a reopen takes the
max of ``meta.json``'s ``last_index`` and the footer scan, so appends
never rewrite ``meta.json``.  It is written when the entry is created
and otherwise holds only what the data cannot say: the truncate intent
(``remove_logs``, committed before its deletes) and the merge intent
(``_merge_files``), and the floors below which ``last_index`` must not
fall although the rows that set it are gone — the one ``remove_logs``
leaves and the one ``compact_changelog`` commits, since it can prune the
row with the largest ``indx``.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ARROW_LOG_SCHEMA = pa.schema(
    [
        ("indx", pa.int64()),
        ("log_index", pa.int64()),
        ("tx_index", pa.int64()),
        ("tx_hash", pa.string()),
        ("block_num", pa.int64()),
        ("block_hash", pa.string()),
        ("address", pa.string()),
        ("topics", pa.list_(pa.string())),
        ("data", pa.binary()),
    ]
)

_LOG_COLS = [f.name for f in ARROW_LOG_SCHEMA]


_COMPACT_TMP = "_compact.tmp"  # hidden: neither _bucket_files nor Spark reads it

_MERGE_FANIN = 8  # files of one tier that merge into one of the next
_TIER_FILE = re.compile(r"part-t(\d+)-(\d+)\.parquet")  # (tier, first indx)

# ``ParquetEntry.df`` hands Spark an entry as rows when they total at most
# ``spark.sql.files.openCostInBytes // _ROWS_READ_DIVISOR`` uncompressed.
# Rows cost the driver per row (the Arrow copy into the JVM, the
# optimizer's projection of the ``LocalRelation``), a scan costs per
# file: on a 4-core host the head refresh is about even at 1-2 MB, and
# the scan wins from 2.3 MB in a warm session and from 3.7 MB in a fresh
# one (``tools/refresh_crossover.py``).
_ROWS_READ_DIVISOR = 4


def _tier_file(tier: int, first_indx: int) -> str:
    """Name of a tier file: its tier and its smallest indx, unique among
    a bucket's live files because their rows are disjoint."""
    return f"part-t{tier}-{first_indx:012d}.parquet"


def _max_indx(f: Path) -> int:
    """Largest indx in a data file, from its footer statistics (both
    pyarrow and Spark write them); -1 for a file with no rows."""
    md = pq.read_metadata(f)
    j = md.schema.names.index("indx")
    return max(
        (
            md.row_group(i).column(j).statistics.max
            for i in range(md.num_row_groups)
            if md.row_group(i).num_rows
        ),
        default=-1,
    )


def _uncompressed_bytes(f: Path) -> int:
    """Uncompressed size of a data file's rows, from its footer."""
    md = pq.read_metadata(f)
    return sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))


def arrow_rows_df(spark, table: pa.Table, schema):
    """Rows held on the driver as a one-partition DataFrame of Spark
    ``schema``: the Arrow table becomes a ``LocalRelation``, so reading it
    opens no file and starts no Python worker (a DataFrame made from
    Python rows is an RDD that Python workers serialize).  One partition:
    the rows are already in one process, and a grouping or window over
    them then needs no exchange."""
    return spark.createDataFrame(table, schema).coalesce(1)


def _atomic_write_json(path: Path, obj) -> None:
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, sort_keys=True))
    os.replace(tmp, path)


class ParquetStore:
    """Store (store/store.go:6-21): KV metadata + named entries."""

    def __init__(self, root: str | os.PathLike) -> None:
        self.root = Path(root)
        (self.root / "entries").mkdir(parents=True, exist_ok=True)
        self._kv_path = self.root / "kv.json"
        self._kv: dict[str, str] = (
            json.loads(self._kv_path.read_text()) if self._kv_path.exists() else {}
        )

    # -- KV (Get/Set/ListPrefix, store/store.go:7-14) -----------------------
    def get(self, key: str) -> str | None:
        return self._kv.get(key)

    def set(self, key: str, val: str) -> None:
        self._kv[key] = val
        _atomic_write_json(self._kv_path, self._kv)

    def list_prefix(self, prefix: str) -> list[tuple[str, str]]:
        return sorted((k, v) for k, v in self._kv.items() if k.startswith(prefix))

    # -- entries (GetEntry, store/store.go:16-20) ---------------------------
    def entry(
        self,
        filter_hash: str,
        bucket_size: int = 10_000,
        schema: pa.Schema | None = None,
        changelog: bool = False,
    ) -> "ParquetEntry":
        if changelog and schema is None:
            schema = ARROW_LOG_SCHEMA.append(pa.field("change_type", pa.string()))
        return ParquetEntry(self.root / "entries" / filter_hash, bucket_size, schema)

    def changelog_entry(self, filter_hash: str, bucket_size: int = 10_000) -> "ParquetEntry":
        """Entry extended with a change_type column — the durable changelog
        stream (Event{Added,Removed} rows, tracker.go:841-846)."""
        return self.entry("changelog_" + filter_hash, bucket_size, changelog=True)


class ParquetEntry:
    """Entry (store/store.go:24-36): ordered, append-only, tail-truncatable."""

    def __init__(
        self, path: Path, bucket_size: int = 10_000, schema: pa.Schema | None = None
    ) -> None:
        self.path = Path(path)
        self.bucket_size = bucket_size
        self.schema = schema if schema is not None else ARROW_LOG_SCHEMA
        self.columns = [f.name for f in self.schema]
        self.path.mkdir(parents=True, exist_ok=True)
        self._meta_path = self.path / "meta.json"
        # the tier files of the bucket store_logs last wrote: name -> the
        # table this process wrote to it (None: read it to merge it);
        # None whenever anything else may have changed the files
        self._head: tuple[int, dict[str, pa.Table | None]] | None = None
        staging = self.path / self._CC_STAGING
        if staging.exists():
            if (staging / "_COMMIT").exists():
                # crash mid-swap of a committed changelog compaction:
                # finish it (idempotent — see compact_changelog)
                self._cc_finish_swap(staging)
            else:
                # crash mid-staging: originals untouched, discard the stage
                shutil.rmtree(staging)
        if self._meta_path.exists():
            meta_obj = json.loads(self._meta_path.read_text())
            meta = meta_obj["last_index"]
            if meta_obj.get("compacting"):
                # crash mid-compaction after its intent commit: finish it
                self._finish_compact(meta_obj["compacting"])
                _atomic_write_json(self._meta_path, {"last_index": meta})
            if meta_obj.get("truncating"):
                # crash mid-truncation: the truncate intent was committed
                # before file deletion — finish the job (rows >= meta are
                # doomed, whatever subset survived the crash)
                self._last_index = self._scan_last_index()
                self.remove_logs(meta)
                self._last_index = meta
                self._commit_meta()
            else:
                # append-crash direction: data files commit before meta
                # (same order as the reference, tracker.go:369-382), so the
                # scan may be ahead of meta — trust the data
                self._last_index = max(meta, self._scan_last_index())
        else:
            self._last_index = self._scan_last_index()
            self._commit_meta()

    # -- LastIndex (store/store.go:25-26) -----------------------------------
    def last_index(self) -> int:
        """Next index to assign == 1 + max stored (0 when empty)."""
        return self._last_index

    def _scan_last_index(self) -> int:
        # walk buckets top-down: the highest bucket directory can be empty
        # after a crashed truncation — fall through to the next one
        for k in reversed(self._buckets()):
            mx = max((_max_indx(f) for f in self._bucket_files(k)), default=-1)
            if mx >= 0:
                return mx + 1
        return 0

    def _buckets(self) -> list[int]:
        return sorted(
            int(p.name.split("=", 1)[1])
            for p in self.path.iterdir()
            if p.is_dir() and p.name.startswith("bucket=")
        )

    def _bucket_files(self, k: int) -> list[Path]:
        d = self.path / f"bucket={k}"
        return sorted(d.glob("*.parquet")) if d.exists() else []

    def _commit_meta(self) -> None:
        _atomic_write_json(self._meta_path, {"last_index": self._last_index})

    def _head_tiers(self, k: int) -> dict[str, pa.Table | None]:
        """The tier files of bucket ``k`` (see ``_head``), listed only when
        ``k`` is not the bucket store_logs last wrote."""
        if self._head is None or self._head[0] != k:
            names = [f.name for f in self._bucket_files(k)]
            self._head = (k, {n: None for n in names if _TIER_FILE.fullmatch(n)})
        return self._head[1]

    def _read_file(self, f: Path, columns: list[str] | None = None) -> pa.Table:
        """One data file as a table of the entry schema (or of its
        ``columns``).  Spark-written files declare ``indx``/``block_num``/
        ``block_hash`` NOT NULL and name list items ``element``; the cast
        makes tables from either writer concatenate."""
        schema = self.schema if columns is None else pa.schema(
            [self.schema.field(c) for c in columns]
        )
        with pq.ParquetFile(f) as pf:
            t = pf.read(columns=schema.names)
        return t if t.schema.equals(schema) else t.select(schema.names).cast(schema)

    def _read_files(self, files: list[Path]) -> pa.Table:
        """The rows of ``files`` as one table of the entry schema."""
        tables = [self._read_file(f) for f in files]
        return pa.concat_tables(tables) if tables else self.schema.empty_table()

    # -- StoreLogs (store/store.go:28-29; append batch, assign indx) --------
    def store_logs(self, logs: list[dict]) -> list[dict]:
        """Append raw logs (no indx), assigning consecutive indx starting
        at last_index — the serialization point the reference implements
        with LastIndex()+i (postgresql_store.go:111-130). Returns the
        indexed rows.

        Each bucket the batch touches gets one tier-0 file; then the
        bucket's full tiers are merged (:meth:`_merge_tiers`).  The files
        are the commit: ``meta.json`` is not rewritten."""
        if not logs:
            return []
        rows = []
        for i, lg in enumerate(logs):
            r = dict(lg)
            r["indx"] = self._last_index + i
            rows.append(r)
        by_bucket: dict[int, list[dict]] = {}
        for r in rows:
            by_bucket.setdefault(r["indx"] // self.bucket_size, []).append(r)
        for k, rs in sorted(by_bucket.items()):
            d = self.path / f"bucket={k}"
            d.mkdir(exist_ok=True)
            t = pa.Table.from_pylist(
                [{c: r.get(c) for c in self.columns} for r in rs], schema=self.schema
            )
            name = _tier_file(0, rs[0]["indx"])
            pq.write_table(t, d / name)
            self._head_tiers(k)[name] = t
        self._last_index += len(rows)
        for k in sorted(by_bucket):
            self._merge_tiers(k)
        return rows

    def _merge_tiers(self, k: int) -> None:
        """Merge every tier of bucket ``k`` that holds ``_MERGE_FANIN``
        files into one file of the next tier, cascading upwards."""
        tiers = self._head_tiers(k)
        while True:
            by_tier: dict[int, list[tuple[int, str]]] = {}
            for name in tiers:
                m = _TIER_FILE.fullmatch(name)
                by_tier.setdefault(int(m[1]), []).append((int(m[2]), name))
            full = [t for t, fs in sorted(by_tier.items()) if len(fs) >= _MERGE_FANIN]
            if not full:
                return
            firsts, names = zip(*by_tier[full[0]])
            target = _tier_file(full[0] + 1, min(firsts))
            self._head = None  # listed again if the merge fails part-way
            self._merge_files(k, list(names), target, [tiers.pop(n) for n in names])
            tiers[target] = None
            self._head = (k, tiers)

    # -- RemoveLogs (store/store.go:31-32; tail truncation from indx) -------
    def remove_logs(self, indx: int) -> None:
        """Delete every log with indx >= ``indx`` (reorg rollback, S-6).
        Whole buckets above the boundary are dropped; in the boundary
        bucket only the files whose footer max indx is at or above
        ``indx`` are touched: a file wholly at or above it is deleted, a
        file straddling it is rewritten filtered under its own name (so
        it keeps its tier) — the only data rewrite a depth-bounded reorg
        ever does."""
        if indx >= self._last_index:
            return
        self._head = None
        # commit the truncate INTENT before touching files: a crash during
        # deletion must not let recovery resurrect the doomed tail (the
        # append direction commits data-then-meta; truncation is the
        # opposite — meta-then-data)
        _atomic_write_json(self._meta_path, {"last_index": indx, "truncating": True})
        boundary = indx // self.bucket_size
        for k in self._buckets():
            d = self.path / f"bucket={k}"
            if k > boundary:
                shutil.rmtree(d)
            elif k == boundary:
                for f in self._bucket_files(k):
                    if _max_indx(f) < indx:
                        continue
                    t = self._read_file(f)
                    kept = t.filter(pc.less(t.column("indx"), indx))
                    if kept.num_rows:
                        # hidden write + rename: a crash leaves f whole,
                        # and the reopened truncation rewrites it again
                        pq.write_table(kept, d / _COMPACT_TMP)
                        os.replace(d / _COMPACT_TMP, f)
                    else:
                        f.unlink()
                if not self._bucket_files(k):
                    shutil.rmtree(d)
        self._last_index = indx
        self._commit_meta()

    # -- GetLog (store/store.go:34-35; point lookup) ------------------------
    def get_log(self, indx: int) -> dict | None:
        for f in self._bucket_files(indx // self.bucket_size):
            t = pq.read_table(f, filters=[("indx", "=", indx)])
            if t.num_rows:
                return t.to_pylist()[0]
        return None

    # -- distributed access --------------------------------------------------
    def df(self, spark):
        """The entry as a Spark DataFrame with the entry's declared
        schema; building it runs no Spark job.  There is no ``bucket``
        column.  Unordered — an orderBy here would force a global sort
        exchange on every read; callers that need the sequence order by
        ``indx``.

        An entry whose rows total at most a quarter of
        ``spark.sql.files.openCostInBytes`` uncompressed (summed from the
        parquet footers; ``_ROWS_READ_DIVISOR``) is read on the driver
        with pyarrow and handed to Spark as one Arrow table
        (:func:`arrow_rows_df`): Spark prices opening a file at the open
        cost, so its task would spend more opening the entry's small
        files than reading them, and one partition needs no exchange for
        any grouping or window over it (the head path's view refresh runs
        as one job that opens no file).  The bound is on uncompressed
        bytes, which the driver holds and ships in the task; on-disk size
        understates them about four times.  Such a DataFrame is a snapshot
        of the rows: re-running it after an append, truncation or
        compaction gives the same rows and cannot fail with
        ``FILE_NOT_EXIST`` on a file that was since replaced.

        A larger entry is scanned by Spark, and range filters on
        ``indx``/``block_num`` prune by parquet row-group statistics; one
        whose files total at most the open cost on disk is read as one
        partition.  That DataFrame holds the file list of the moment it
        was built: after a later append, truncation or compaction, build a
        new one (re-running it may read files that were since replaced)."""
        buckets = self._buckets()
        files = [f for k in buckets for f in self._bucket_files(k)]
        open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
        if sum(_uncompressed_bytes(f) for f in files) <= open_cost // _ROWS_READ_DIVISOR:
            return arrow_rows_df(spark, self._read_files(files), self._spark_schema)
        df = self._read(spark, buckets)
        size = sum(f.stat().st_size for f in files)
        return df.coalesce(1) if size <= open_cost else df

    @functools.cached_property
    def _spark_schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(self.schema)

    def _read(self, spark, buckets: list[int]):
        """Spark's scan of the rows of ``buckets``, at least one of which
        holds a file.  Spark gets the bucket directories, not their files,
        and the declared schema: above 32 paths Spark lists files with a
        job of one task per path, and without a schema it runs a footer
        job to infer one.  Spark skips the ``_``/``.``-prefixed debris as
        ``_bucket_files`` does, so the files read are exactly those."""
        dirs = [str(self.path / f"bucket={k}") for k in buckets if self._bucket_files(k)]
        return spark.read.schema(self._spark_schema).parquet(*dirs)

    def append_df(self, df) -> int:
        """Bulk path: append a Spark DataFrame of raw logs (no indx).
        Distributed write — assigns indx via the scalable two-phase
        sequence and partitions by bucket; like ``store_logs`` it leaves
        ``meta.json`` alone.  Returns rows appended."""
        from pyspark.sql import functions as F  # noqa: N812

        from ..operators.indexing import assign_indx_scalable

        self._head = None
        base = self._last_index
        indexed = (
            assign_indx_scalable(df, base=base)
            .withColumn("bucket", (F.col("indx") / self.bucket_size).cast("long"))
            .select(*self.columns, "bucket")
            .persist()  # pin: count and write must see the same rows
        )
        n = indexed.count()
        indexed.write.mode("append").partitionBy("bucket").parquet(str(self.path))
        indexed.unpersist()
        self._last_index = base + n
        return n

    def _tail_start(self, column: str, in_tail) -> tuple[int | None, list[Path]]:
        """Reverse tail walk (removeLogs's cursor walk, tracker.go:717-754):
        the smallest indx of the longest suffix whose rows all satisfy
        ``in_tail(row[column])`` (None when the last row does not), and
        the files that hold that suffix.

        Reads only ``(indx, column)`` and only the files it needs: buckets
        top-down, within a bucket files by the max indx in their footer,
        newest first.  Once a row outside the tail is seen, a file whose
        max indx is below it cannot hold a tail row, so the walk stops —
        rows of O(reorg depth) files, plus the footers of the buckets it
        visits, never O(entry).  File names do not give the
        order: a higher tier holds older rows than a lower one (except
        after a truncation), ``part-compacted-*`` holds older rows than
        the appends after it, and Spark names the files it writes by
        task, not by indx."""
        stop = -1  # largest indx seen outside the tail
        tail: list[int] = []
        read: list[tuple[int, Path]] = []
        for k in reversed(self._buckets()):
            by_max = sorted(((_max_indx(f), f) for f in self._bucket_files(k)), reverse=True)
            for mx, f in by_max:
                if mx <= stop:
                    break
                read.append((mx, f))
                for r in self._read_file(f, ["indx", column]).to_pylist():
                    if in_tail(r[column]):
                        tail.append(r["indx"])
                    else:
                        stop = max(stop, r["indx"])
            if stop >= 0:
                break
        tail = [i for i in tail if i > stop]
        return (min(tail) if tail else None), [f for mx, f in read if mx > stop]

    def scan_tail(self, block_hashes: set[str]) -> list[dict]:
        """Collect rows from the end while their block_hash is in the
        removed set; stop at the first non-matching row.  Reads only the
        files actually touched by the reorg — O(reorg depth)."""
        # pass 1 reads ONLY (indx, block_hash) — a shallow reorg never
        # deserializes the wide columns of a 10k-row bucket just to peel
        # off a few victims; pass 2 fetches exactly the reorg tail
        boundary, files = self._tail_start("block_hash", lambda h: h in block_hashes)
        if boundary is None:
            return []
        victims: list[dict] = []
        for f in files:
            t = self._read_file(f)
            victims.extend(t.filter(pc.greater_equal(t.column("indx"), boundary)).to_pylist())
        victims.sort(key=lambda r: r["indx"])
        return victims

    def truncate_above_block(self, block_num: int) -> int:
        """Drop the tail of rows with block_num > ``block_num`` and return
        how many were removed.

        Crash-recovery helper: the append protocol writes logs *before*
        advancing the lastBlock checkpoint (tracker.go:369-382 ordering),
        so a crash in between leaves at most one batch of rows above the
        checkpoint.  Appends are block-ordered, so that suffix is
        contiguous — the same O(tail) reverse walk as :meth:`scan_tail`,
        with a block-number predicate instead of a hash set."""
        boundary, _ = self._tail_start("block_num", lambda n: n > block_num)
        if boundary is None:
            return 0
        removed = self._last_index - boundary
        self.remove_logs(boundary)
        return removed

    def compact(self, bucket: int | None = None) -> int:
        """Merge a bucket's files into one, sorted by indx.  Returns files
        merged.  The tier merge of ``store_logs`` already bounds a head
        bucket to O(log n) files; this is the one-shot routine for buckets
        crossing the finality boundary — immutable afterwards, so a single
        file whose row groups have disjoint indx ranges serves every later
        scan and point lookup.  Its output is never tier-merged.

        Crash-safe, the same swap as a tier merge (:meth:`_merge_files`)."""
        self._head = None
        targets = [bucket] if bucket is not None else self._buckets()
        merged_count = 0
        for k in targets:
            files = self._bucket_files(k)
            if len(files) <= 1:
                continue
            self._merge_files(k, [f.name for f in files], f"part-compacted-{k:06d}.parquet")
            merged_count += len(files)
        return merged_count

    def _merge_files(
        self, k: int, names: list[str], target: str, tables: list | None = None
    ) -> None:
        """Replace the files ``names`` of bucket ``k`` by one file
        ``target`` holding their rows sorted by indx; ``tables`` holds
        contents already in memory (None: read that file).

        The merged file is written hidden, then the intent (bucket,
        inputs, target) is committed in meta.json, then the merged file
        is renamed into place, the inputs are deleted and the intent is
        cleared.  A crash before the intent leaves the inputs as they
        were; reopening after it finishes the swap
        (:meth:`_finish_compact`).  Either way every row is stored
        exactly once."""
        d = self.path / f"bucket={k}"
        tables = tables or [None] * len(names)
        t = pa.concat_tables(
            [self._read_file(d / n) if tb is None else tb for n, tb in zip(names, tables)]
        )
        pq.write_table(t.sort_by("indx"), d / _COMPACT_TMP)
        intent = {"bucket": k, "inputs": names, "target": target}
        _atomic_write_json(
            self._meta_path, {"last_index": self._last_index, "compacting": intent}
        )
        self._finish_compact(intent)
        self._commit_meta()

    def _finish_compact(self, intent: dict) -> None:
        """Complete a committed merge swap: rename the merged file into
        place and delete the inputs it replaces.  Idempotent — the hidden
        merged file exists exactly until its rename, so after a crash its
        absence means the inputs left are the superseded ones."""
        d = self.path / f"bucket={intent['bucket']}"
        target = d / intent["target"]
        if (d / _COMPACT_TMP).exists():
            os.replace(d / _COMPACT_TMP, target)
        for name in intent["inputs"]:
            if name != target.name:  # a re-compaction overwrites its predecessor
                (d / name).unlink(missing_ok=True)

    # -- changelog retention compaction --------------------------------------
    _CC_STAGING = "_cc_staging"
    _TT_HORIZON = "_TT_HORIZON"

    def compact_changelog(self, spark, finalized_below: int) -> dict:
        """Store-level changelog retention: rewrite the bucket(s) holding
        finalized history so the on-disk changelog shrinks to
        O(live + recent), applying exactly the ``prune_changelog``
        semantics (streaming/pipeline.py): below the depth-finality
        horizon (the reference's immutability boundary at
        head − MaxBlockBacklog, tracker.go:33-35,313) fully-retracted
        keys vanish and surviving keys keep only their winning 'add' row;
        rows at/above the horizon are kept verbatim.

        Distributed: affected buckets are read as one DataFrame, pruned,
        repartitioned by bucket and staged by Spark; the driver then swaps
        bucket directories.  Only buckets that actually contain
        below-horizon rows are touched — at 100 TB each periodic run
        rewrites the few buckets newly crossing the horizon, never the
        finalized ocean behind them.

        Crash-safe (stage → commit-marker → swap): a crash before the
        ``_COMMIT`` marker discards the partial staging on next open; a
        crash after it finishes the per-bucket swap, which is idempotent
        because a staged bucket directory disappears exactly when its
        swap completes.  ``current_view`` over the entry is bit-identical
        before and after (pinned in tests/test_pipeline.py).

        Returns stats: buckets_rewritten/dropped, files and rows
        before/after over the affected buckets."""
        from pyspark.sql import functions as F  # noqa: N812

        from ..streaming.pipeline import prune_changelog

        affected: list[int] = []
        files_before = rows_before = 0
        for k in self._buckets():
            fs = self._bucket_files(k)
            mn = None
            for f in fs:
                t = pq.read_table(f, columns=["block_num"])
                if t.num_rows:
                    fmn = pc.min(t.column("block_num")).as_py()
                    mn = fmn if mn is None else min(mn, fmn)
            if mn is not None and mn < finalized_below:
                affected.append(k)
                files_before += len(fs)
                rows_before += sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
        if not affected:
            return {
                "buckets_rewritten": 0,
                "buckets_dropped": 0,
                "files_before": 0,
                "files_after": 0,
                "rows_before": 0,
                "rows_after": 0,
            }

        self._head = None
        staging = self.path / self._CC_STAGING
        if staging.exists():
            shutil.rmtree(staging)  # stale pre-commit leftovers
        before_df = self._read(spark, affected)
        pruned = prune_changelog(before_df, finalized_below)
        (
            pruned.select(*self.columns)
            .withColumn("bucket", (F.col("indx") / self.bucket_size).cast("long"))
            .repartition("bucket")  # one file per rewritten bucket
            .write.partitionBy("bucket")
            .parquet(str(staging))
        )
        # Time-travel horizon (round-6 advice #6): reconstruction below
        # the bound would silently omit collapsed history, so persist it
        # — staged before the commit marker, installed by the same
        # idempotent swap — and let view_as_of(exact_from=...) raise
        # below it.  The bound is, for every key that LOSES rows, that
        # key's pre-compaction max indx (the surviving winner, or the
        # final remove of a vanished key): a plain "max pruned indx"
        # is one short when a superseded duplicate 'add' is pruned —
        # the full log shows the key live between the two adds, the
        # compacted log cannot (round-7 review).  Joins touch only the
        # affected buckets (indx unique) — a bounded extra job.
        from ..streaming.pipeline import NATURAL_KEY

        key_max = before_df.groupBy(*NATURAL_KEY).agg(F.max("indx").alias("_kmax"))
        dropped_keys = (
            before_df.join(pruned.select("indx"), "indx", "left_anti")
            .select(*NATURAL_KEY)
        )
        dropped_bound = (
            dropped_keys.join(key_max, list(NATURAL_KEY)).agg(F.max("_kmax")).first()[0]
        )
        if dropped_bound is not None:
            new_horizon = max(self.time_travel_horizon(), int(dropped_bound))
            (staging / self._TT_HORIZON).write_text(
                json.dumps({"exact_from_indx": new_horizon})
            )
        staged = {
            int(p.name.split("=", 1)[1])
            for p in staging.iterdir()
            if p.is_dir() and p.name.startswith("bucket=")
        }
        # the pruned rows may include the one with the largest indx: the
        # footer scan of a reopen would then fall short of last_index
        self._commit_meta()
        (staging / "_COMMIT").touch()
        # buckets whose every row was pruned are deleted only AFTER the
        # commit marker: deleting them earlier opened a crash window
        # where history was gone but recovery discarded the staged
        # _TT_HORIZON with the uncommitted staging — horizon 0, silent
        # wrong time-travel (round-7 review).  A crash between the
        # marker and these deletes leaves the dead buckets in place —
        # harmless (fully-retracted keys are invisible to current_view,
        # extra history only widens time-travel) and swept by the next
        # compaction, whose listing re-flags them as affected.
        for k in affected:
            if k not in staged and (self.path / f"bucket={k}").exists():
                shutil.rmtree(self.path / f"bucket={k}")
        self._cc_finish_swap(staging)
        files_after = rows_after = 0
        for k in staged:
            fs = self._bucket_files(k)
            files_after += len(fs)
            rows_after += sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
        return {
            "buckets_rewritten": len(staged),
            "buckets_dropped": len(affected) - len(staged),
            "files_before": files_before,
            "files_after": files_after,
            "rows_before": rows_before,
            "rows_after": rows_after,
        }

    def _cc_finish_swap(self, staging: Path) -> None:
        """Swap staged bucket dirs (and the staged time-travel horizon)
        into place, then clear staging.  Idempotent resume point for
        post-_COMMIT crash recovery."""
        for p in sorted(staging.iterdir()):
            if p.is_dir() and p.name.startswith("bucket="):
                target = self.path / p.name
                if target.exists():
                    shutil.rmtree(target)
                os.rename(p, target)
        staged_horizon = staging / self._TT_HORIZON
        if staged_horizon.exists():
            os.replace(staged_horizon, self.path / self._TT_HORIZON)
        shutil.rmtree(staging)

    def time_travel_horizon(self) -> int:
        """Smallest changelog indx at which ``view_as_of`` reconstruction
        is exact (0 = never compacted, full history intact).  Advanced by
        ``compact_changelog`` to the max indx it pruned away."""
        p = self.path / self._TT_HORIZON
        if p.exists():
            return int(json.loads(p.read_text())["exact_from_indx"])
        return 0

    def all_logs(self) -> list[dict]:
        """Driver-side full read, ordered by indx (test/verification helper)."""
        files = [f for k in self._buckets() for f in self._bucket_files(k)]
        return self._read_files(files).sort_by("indx").to_pylist()
