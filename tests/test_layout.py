"""Z-order layout (operators/layout.py): morton math vs a python model,
and the actual product — a measured file-skipping advantage over both
unclustered and single-column-sorted layouts on 2-D box predicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_event_tracker_spark.operators.layout import (
    file_skip_fraction,
    morton_interleave,
    quantile_cuts,
    write_zordered,
    zorder_key,
)


def _py_morton(vals: list[int], bits: int) -> int:
    out = 0
    n = len(vals)
    for i, v in enumerate(vals):
        for j in range(bits):
            out |= ((v >> j) & 1) << (j * n + i)
    return out


def test_morton_matches_python_model(spark):
    rows = [(a, b) for a in range(0, 16, 3) for b in range(0, 16, 5)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select("a", "b", morton_interleave(["a", "b"], 4).alias("m")).collect()
    for r in got:
        assert r.m == _py_morton([r.a, r.b], 4), (r.a, r.b)


def test_morton_validation():
    with pytest.raises(ValueError, match="at least one"):
        morton_interleave([], 4)
    with pytest.raises(ValueError, match="exceeds"):
        morton_interleave(["a", "b"], 32)


def test_zorder_key_locality(spark):
    """Points close in both dimensions get close keys; quantization is
    skew-proof (a hot value floods one bucket, not the key space)."""
    import random

    random.seed(11)
    rows = [(i, random.uniform(0, 1000), random.uniform(0, 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    keyed = zorder_key(df, ["x", "y"], bits=6)
    assert "_zkey" in keyed.columns and "_zkey_q_x" not in keyed.columns
    got = {r.id: r._zkey for r in keyed.collect()}
    by_id = {i: (x, y) for i, x, y in rows}
    # sort ids by key; adjacent-in-key pairs must be much closer in
    # (x, y) than random pairs on average
    order = sorted(got, key=lambda i: got[i])
    import math

    def dist(i, j):
        (x1, y1), (x2, y2) = by_id[i], by_id[j]
        return math.hypot(x1 - x2, y1 - y2)

    adjacent = sum(dist(order[k], order[k + 1]) for k in range(len(order) - 1)) / (
        len(order) - 1
    )
    rnd = list(got)
    random.shuffle(rnd)
    baseline = sum(dist(rnd[k], rnd[k + 1]) for k in range(len(rnd) - 1)) / (len(rnd) - 1)
    assert adjacent < baseline / 3, (adjacent, baseline)


def test_zorder_key_null_and_precomputed_cuts(spark):
    df = spark.createDataFrame(
        [(1, None, 5.0), (2, 3.0, None), (3, 900.0, 900.0)], "id long, x double, y double"
    )
    cuts = {"x": [10.0, 20.0, 30.0], "y": [10.0, 20.0, 30.0]}  # bits=2
    got = {r.id: r._zkey for r in zorder_key(df, ["x", "y"], bits=2, cuts=cuts).collect()}
    # nulls → bucket 0; (3.0, null) → (0, 0); (900, 900) → (3, 3)
    assert got[2] == 0
    assert got[3] == _py_morton([3, 3], 2)
    assert got[1] == _py_morton([0, 0], 2)
    with pytest.raises(ValueError, match="already present"):
        zorder_key(df.withColumn("_zkey", F.lit(1)), ["x"], 2, cuts={"x": [1.0]})


def test_zordered_write_skips_files(spark, tmp_path):
    """The product claim: on a 2-D box predicate, the z-ordered layout
    lets min/max pruning skip most files, while the same data written
    unclustered skips none and a single-column sort helps only its own
    column."""
    import random

    random.seed(7)
    rows = [(i, random.uniform(0, 1000), random.uniform(0, 1000)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, x double, y double").repartition(8)

    write_zordered(df, str(tmp_path / "z"), ["x", "y"], n_files=16, bits=6)
    df.write.mode("overwrite").parquet(str(tmp_path / "plain"))
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(str(tmp_path / "xsort"))
    )

    # nothing lost or duplicated by the rewrite
    assert spark.read.parquet(str(tmp_path / "z")).count() == len(rows)
    back = spark.read.parquet(str(tmp_path / "z")).agg(F.sum("id")).first()[0]
    assert back == sum(r[0] for r in rows)

    # box predicate on x: z-order skips most files; plain skips none
    zx = file_skip_fraction(spark, str(tmp_path / "z"), "x", 100.0, 200.0)
    px = file_skip_fraction(spark, str(tmp_path / "plain"), "x", 100.0, 200.0)
    assert zx >= 0.5 and px == 0.0, (zx, px)
    # ...and the SAME layout also skips on y, which the x-sort cannot
    zy = file_skip_fraction(spark, str(tmp_path / "z"), "y", 100.0, 200.0)
    sy = file_skip_fraction(spark, str(tmp_path / "xsort"), "y", 100.0, 200.0)
    assert zy >= 0.5 and sy == 0.0, (zy, sy)
    # the x-sort beats z-order on x alone — the trade z-order makes
    sx = file_skip_fraction(spark, str(tmp_path / "xsort"), "x", 100.0, 200.0)
    assert sx >= zx


def test_zordered_write_is_deterministic(spark, tmp_path):
    """The file boundaries depend on the data alone: the same frame
    written twice in one session, with unrelated jobs in between, gives
    identical per-file min/max."""
    import random

    random.seed(7)
    rows = [(i, random.uniform(0, 1000), random.uniform(0, 1000)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, x double, y double").repartition(8)
    cuts = quantile_cuts(df, ["x", "y"], bits=6)

    def layout(tag):
        path = str(tmp_path / tag)
        write_zordered(df, path, ["x", "y"], n_files=16, bits=6, cuts=cuts)
        return sorted(
            tuple(r)[1:]
            for r in spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg(F.count("*"), F.min("x"), F.max("x"), F.min("y"), F.max("y"))
            .collect()
        )

    first = layout("a")
    for _ in range(3):  # session history moves on between the writes
        spark.range(1000).repartitionByRange(4, "id").count()
    second = layout("b")
    assert len(first) == 16 and second == first


def test_quantile_cuts_timestamp_support(spark, sf_dir):
    from eth_event_tracker_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    cuts = quantile_cuts(ev, ["ts", "value"], bits=3)
    assert len(cuts["ts"]) == 7 and len(cuts["value"]) == 7
    assert cuts["ts"] == sorted(cuts["ts"])
    keyed = zorder_key(ev, ["ts", "value"], bits=3, cuts=cuts)
    assert keyed.where("_zkey < 0").count() == 0


def test_hive_partition_pruning(spark, sf_dir, tmp_path):
    """Directory-level partition pruning (complementing the z-order
    min/max FILE skipping above): a hive-partitioned write + an equality
    filter must prune at the file INDEX — the plan carries the predicate
    in PartitionFilters and the scan lists only the matching partition's
    files, so unmatched partitions cost zero I/O and zero tasks."""
    from eth_event_tracker_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "ev_by_type")
    ev.write.partitionBy("event_type").parquet(out)

    q = spark.read.parquet(out).where("event_type = 'view'")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1][:200]

    # the scan's selected partition count is 1 of n_types
    n_types = ev.select("event_type").distinct().count()
    import re

    m = re.search(r"partition count: (\d+)", plan) or re.search(
        r"SelectedPartitions: (\d+)", plan
    )
    if m:  # plan-string format varies by version; the filter assert above is the contract
        assert int(m.group(1)) == 1
    # correctness: pruned read == filtered full read
    assert q.count() == ev.where("event_type = 'view'").count() > 0
