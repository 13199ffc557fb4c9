"""Storage-layout clustering for data skipping: z-order (Morton) writes.

At 100 TB the cheapest query is the one whose files are never opened.
Parquet readers skip whole files/row-groups via min/max statistics, but
the statistics only help if the writer CLUSTERED the data: a file whose
``user_id`` min/max spans the whole domain matches every predicate.
Sorting by one column fixes that column and ruins the others; z-ordering
interleaves the bits of several columns so files become tight
multi-dimensional bounding boxes — the same layout lever Delta's
``OPTIMIZE ZORDER BY`` and Iceberg's sort orders pull, expressed here in
plain DataFrame ops:

    quantile cuts per column (approxQuantile — driver holds 2^bits-1
      doubles per column, the IVF-centroid pattern; at deployment scale
      these come from a per-snapshot quantile table and are reused)
    → bucket each column row-locally against its cuts  (no shuffle)
    → morton = interleave the bucket bits              (no shuffle)
    → exact key histogram → count-balanced key ranges  (tiny aggregate)
    → repartition(n_files, range id)                   (the ONE data shuffle)
    → sortWithinPartitions(morton) → one file per partition

Quantile buckets rather than raw values: bit interleaving assumes
uniformly-spread non-negative integers, and real columns are skewed /
negative / huge.  Quantization also makes the bucketing skew-proof — a
hot value floods one bucket, not the key space.  NO global window
anywhere: an unpartitioned ``percent_rank`` would serialize the corpus
through a single partition (the exact anti-pattern operators/scalars.py
exists to avoid).

The morton expression is a static unrolled OR of shifted bit tests —
pure JVM column arithmetic, whole-stage codegen, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_TOTAL_BITS = 63  # stay inside a signed long
_HIST_BITS = 16  # key-prefix histogram resolution: collects ≤ 65536 rows


def morton_interleave(cols: list, bits: int) -> "F.Column":
    """Interleave ``bits`` low bits of each (already-quantized,
    non-negative) integer column into one long: column i's bit j lands
    at output position ``j * n_cols + i``.  Static expression — no UDF,
    no shuffle."""
    n = len(cols)
    if n < 1:
        raise ValueError("morton_interleave needs at least one column")
    if n * bits > _MAX_TOTAL_BITS:
        raise ValueError(f"{n} cols x {bits} bits exceeds {_MAX_TOTAL_BITS}")
    out = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        for j in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(c.cast("long"), j).bitwiseAND(F.lit(1)), j * n + i)
            )
    return out


def quantile_cuts(
    df: DataFrame, cols: list[str], bits: int = 8, relative_error: float = 0.001
) -> dict[str, list[float]]:
    """Per-column quantile cut points for ``2^bits`` buckets (numeric or
    timestamp columns; timestamps are bucketed on their epoch seconds).
    One distributed pass; the driver holds 2^bits - 1 doubles per column.
    At deployment scale, compute once per corpus snapshot and reuse."""
    nb = 1 << bits
    probs = [i / nb for i in range(1, nb)]
    num = df.select(
        *[
            F.col(c).cast("double").alias(c)
            if dict(df.dtypes)[c] not in ("timestamp", "timestamp_ntz")
            else F.unix_timestamp(F.col(c)).cast("double").alias(c)
            for c in cols
        ]
    )
    cuts = num.stat.approxQuantile(cols, probs, relative_error)
    return dict(zip(cols, cuts))


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    cuts: dict[str, list[float]] | None = None,
    key_col: str = "_zkey",
) -> DataFrame:
    """Append the z-order key for ``cols``: each column is quantized
    against its quantile cuts (bucket = count of cuts <= value — a
    row-local fold over a literal array, no shuffle), then
    bit-interleaved.  Nulls sort into bucket 0."""
    if key_col in df.columns:
        raise ValueError(f"zorder_key: {key_col!r} already present")
    if cuts is None:
        cuts = quantile_cuts(df, cols, bits)
    types = dict(df.dtypes)
    bucket_cols = []
    cur = df
    for c in cols:
        q = f"{key_col}_q_{c}"
        v = (
            F.unix_timestamp(F.col(c)).cast("double")
            if types[c] in ("timestamp", "timestamp_ntz")
            else F.col(c).cast("double")
        )
        arr = F.array(*[F.lit(float(x)) for x in cuts[c]])
        bucket = F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, cut: acc + (cut <= v).cast("long")
        )
        cur = cur.withColumn(q, F.coalesce(bucket, F.lit(0)))
        bucket_cols.append(q)
    out = cur.withColumn(key_col, morton_interleave(bucket_cols, bits))
    return out.drop(*bucket_cols)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 8,
    cuts: dict[str, list[float]] | None = None,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    z-order of ``cols``: range-partition on the morton key (files get
    contiguous, disjoint key ranges) and sort within each partition (so
    row groups inside a file are tight too), then drop the key — the
    layout is the product, not a column.

    The file ranges come from the data alone: an exact histogram of the
    key's top ``_HIST_BITS`` bits (integer counts, order-independent)
    puts each key prefix in file ``floor(n_files · rows before it /
    rows)``.  ``repartitionByRange`` would sample its bounds with a seed
    taken from the input RDD's id, so the same data written twice in one
    session could land in different files."""
    keyed = zorder_key(df, cols, bits, cuts)
    prefix = F.shiftright(F.col("_zkey"), max(0, bits * len(cols) - _HIST_BITS))
    hist = keyed.groupBy(prefix.alias("p")).count().orderBy("p").collect()
    total = sum(r["count"] for r in hist)
    starts, before = {}, 0  # file id → first key prefix in it
    for r in hist:
        starts.setdefault(min(n_files - 1, before * n_files // total), r["p"])
        before += r["count"]
    file_id = F.lit(0)
    for p in sorted(starts.values())[1:]:
        file_id = file_id + (prefix >= F.lit(p)).cast("int")
    slots = _hash_slot_keys(df.sparkSession, max(1, len(starts)))
    slot_of = F.array(*[F.lit(v).cast("long") for v in slots])
    (
        keyed.repartition(len(slots), F.element_at(slot_of, file_id + 1))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _hash_slot_keys(spark, n: int) -> list[int]:
    """For each partition id i < n, a long that ``repartition(n, col)``
    sends to partition i (HashPartitioning's id is
    ``pmod(hash(col), n)``), so a column of these keys places rows
    exactly, one partition per key."""
    rows = (
        spark.range(64 * n)
        .groupBy(F.expr(f"pmod(hash(id), {n})").alias("p"))
        .agg(F.min("id").alias("v"))
        .collect()
    )
    keys = {r["p"]: r["v"] for r in rows}
    if len(keys) < n:
        raise RuntimeError(f"no hash key found for {n - len(keys)} of {n} partitions")
    return [keys[i] for i in range(n)]


def file_skip_fraction(spark, path: str, col: str, lo, hi) -> float:
    """Diagnostic: the fraction of files of ``path`` a ``col BETWEEN lo
    AND hi`` predicate can SKIP on min/max statistics alone (computed
    from per-file min/max — exactly the pruning decision a parquet
    reader makes).  1.0 = every file skipped, 0.0 = layout useless."""
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
    )
    agg = stats.agg(
        F.count("*").alias("n"),
        F.sum(((F.col("mx") < F.lit(lo)) | (F.col("mn") > F.lit(hi))).cast("int")).alias(
            "skipped"
        ),
    ).first()
    return (agg["skipped"] or 0) / agg["n"]
