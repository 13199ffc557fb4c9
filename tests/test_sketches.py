"""Count-min sketch: one-sided error, exactness when collision-free,
and the merge ≡ single-pass identity (the partial-aggregate property
that makes the sketch usable as bounded cross-batch state)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eth_event_tracker_spark.operators.sketches import cms_build, cms_estimate, cms_merge


def _truth(rows):
    t = {}
    for k in rows:
        t[k] = t.get(k, 0) + 1
    return t


def test_cms_overestimates_only_and_bounded(spark):
    # zipf-ish: key j appears ~1000//(j+1) times
    rows = [f"k{j}" for j in range(50) for _ in range(1000 // (j + 1))]
    truth = _truth(rows)
    df = spark.createDataFrame([(k,) for k in rows], "key string")
    d, w = 4, 256
    sk = cms_build(df, "key", d=d, w=w).cache()
    cands = spark.createDataFrame([(k,) for k in truth] + [("never_seen",)], "key string")
    est = {r.key: r.est for r in cms_estimate(sk, cands, "key", d=d, w=w).collect()}
    n = len(rows)
    eps = 2.718281828 / w
    for k, true in truth.items():
        assert est[k] >= true, f"{k}: CMS must never underestimate"
        assert est[k] <= true + 3 * eps * n, f"{k}: estimate {est[k]} way over {true}"
    assert est["never_seen"] <= 3 * eps * n
    sk.unpersist()


def test_cms_exact_when_collision_free(spark):
    rows = [f"key_{j}" for j in range(20) for _ in range(j + 1)]
    truth = _truth(rows)
    df = spark.createDataFrame([(k,) for k in rows], "key string")
    # w >> n_keys^2: collisions in ALL d rows are overwhelmingly unlikely
    sk = cms_build(df, "key", d=4, w=65536)
    cands = spark.createDataFrame([(k,) for k in truth], "key string")
    est = {r.key: r.est for r in cms_estimate(sk, cands, "key", d=4, w=65536).collect()}
    assert est == truth


def test_cms_merge_equals_single_pass(spark):
    rows = [f"k{j % 17}" for j in range(500)]
    df = spark.createDataFrame([(i, k) for i, k in enumerate(rows)], "i long, key string")
    whole = cms_build(df, "key", d=3, w=64)
    parts = [df.where(f"i % 3 = {r}") for r in range(3)]
    merged = cms_merge(*[cms_build(p, "key", d=3, w=64) for p in parts])
    a = {(r.row, r.col): r.cnt for r in whole.collect()}
    b = {(r.row, r.col): r.cnt for r in merged.collect()}
    assert a == b, "merge of partial sketches must equal the single-pass sketch"


def test_cms_join_size_exact_in_collision_free_regime(spark):
    from eth_event_tracker_spark.operators.sketches import cms_join_size

    a_rows = [f"key_{j}" for j in range(10) for _ in range(j + 1)]
    b_rows = [f"key_{j}" for j in range(5, 15) for _ in range(2 * j)]
    a = spark.createDataFrame([(k,) for k in a_rows], "key string")
    b = spark.createDataFrame([(k,) for k in b_rows], "key string")
    exact = a.join(b, "key").count()
    sk_a = cms_build(a, "key", d=4, w=65536)
    sk_b = cms_build(b, "key", d=4, w=65536)
    assert cms_join_size(sk_a, sk_b).collect()[0].est_pairs == exact
    # self-join size = sum of squared key counts
    self_exact = a.withColumnRenamed("key", "k2").join(
        a, F.col("key") == F.col("k2")
    ).count()
    assert cms_join_size(sk_a, sk_a).collect()[0].est_pairs == self_exact


def test_cms_join_size_overestimates_only_under_collisions(spark):
    from eth_event_tracker_spark.operators.sketches import cms_join_size

    # w=8 over 40 keys: every row has colliding pairs — the estimate
    # must still never fall below the true join size (one-sided error)
    a_rows = [f"k{j}" for j in range(40) for _ in range(3)]
    b_rows = [f"k{j}" for j in range(20, 60) for _ in range(2)]
    a = spark.createDataFrame([(k,) for k in a_rows], "key string")
    b = spark.createDataFrame([(k,) for k in b_rows], "key string")
    exact = a.join(b, "key").count()
    est = cms_join_size(
        cms_build(a, "key", d=3, w=8), cms_build(b, "key", d=3, w=8)
    ).collect()[0].est_pairs
    assert est >= exact


def test_cms_join_size_merge_coherent_and_empty(spark):
    from eth_event_tracker_spark.operators.sketches import cms_join_size

    rows = [(i, f"k{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "i long, key string")
    whole = cms_build(df, "key", d=4, w=4096)
    merged = cms_merge(
        *[cms_build(df.where(f"i % 2 = {r}"), "key", d=4, w=4096) for r in range(2)]
    )
    probe = cms_build(df.where("i < 50"), "key", d=4, w=4096)
    est_whole = cms_join_size(whole, probe).collect()[0].est_pairs
    est_merged = cms_join_size(merged, probe).collect()[0].est_pairs
    assert est_whole == est_merged, "merged partials must estimate like one pass"

    empty = cms_build(df.where("i < 0"), "key", d=4, w=4096)
    assert cms_join_size(empty, whole).collect()[0].est_pairs == 0
    assert cms_join_size(empty, empty).collect()[0].est_pairs == 0


def _event_file(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "key": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, str(path))


def test_streaming_sketch_equals_batch_and_survives_replay(spark, tmp_path):
    """Per-batch partial sketches merged at read time == the single-pass
    batch sketch over the union; checkpoint replay does not double-count;
    compaction preserves the merged sketch exactly."""
    from eth_event_tracker_spark.operators.sketches import cms_build
    from eth_event_tracker_spark.streaming.sketch import (
        compact_sketch,
        read_sketch,
        start_sketch_ingest,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    all_rows = []
    batches = [
        [(i, f"k{i % 7}") for i in range(0, 40)],
        [(i, f"k{i % 5}") for i in range(40, 90)],
        [(i, f"k{i % 11}") for i in range(90, 150)],
    ]

    def run():
        q = start_sketch_ingest(
            spark, str(inp), "key", str(tmp_path / "sk"), str(tmp_path / "ckpt"),
            schema="event_id long, key string", d=3, w=64, available_now=True,
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()

    for bi, rows in enumerate(batches):
        _event_file(inp / f"b{bi}.parquet", rows)
        all_rows += rows
        run()

    whole = spark.createDataFrame(all_rows, "event_id long, key string")
    want = {(r.row, r.col): r.cnt for r in cms_build(whole, "key", d=3, w=64).collect()}
    got = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(tmp_path / "sk")).collect()}
    assert got == want

    # replay from scratch (fresh checkpoint, parts already on disk):
    # existing batch dirs must be skipped, not double-counted... but a
    # fresh checkpoint renumbers batches; instead replay the SAME
    # checkpoint with no new data — a no-op by construction
    run()
    got2 = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(tmp_path / "sk")).collect()}
    assert got2 == want

    compact_sketch(spark, str(tmp_path / "sk"))
    got3 = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(tmp_path / "sk")).collect()}
    assert got3 == want
    import os
    part_dirs = [d for d in os.listdir(tmp_path / "sk" / "parts") if d.startswith("batch=")]
    assert part_dirs == ["batch=-1"]


def test_sketch_partial_write_is_not_durable(spark, tmp_path):
    """A crash mid-write leaves a batch dir WITHOUT _SUCCESS; the replay
    must rewrite it (round-5 advice: a bare existence check would skip it
    and silently undercount), and read_sketch must never count it."""
    import shutil

    from eth_event_tracker_spark.operators.sketches import cms_build
    from eth_event_tracker_spark.streaming.sketch import append_partial, read_sketch

    path = tmp_path / "sk"
    df = spark.createDataFrame([(i, f"k{i % 5}") for i in range(50)], "event_id long, key string")
    append_partial(df, 0, str(path), "key", d=3, w=64)

    # simulate a crash mid-write of batch 1: full content, marker removed
    df2 = spark.createDataFrame([(i, f"k{i % 3}") for i in range(30)], "event_id long, key string")
    append_partial(df2, 1, str(path), "key", d=3, w=64)
    (path / "parts" / "batch=1" / "_SUCCESS").unlink()

    # query time: the partial batch is invisible, not half-counted
    want0 = {(r.row, r.col): r.cnt for r in cms_build(df, "key", d=3, w=64).collect()}
    got = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
    assert got == want0

    # replay of batch 1 rewrites (does not skip) the marker-less leftover
    append_partial(df2, 1, str(path), "key", d=3, w=64)
    whole = df.unionByName(df2)
    want = {(r.row, r.col): r.cnt for r in cms_build(whole, "key", d=3, w=64).collect()}
    got2 = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
    assert got2 == want

    # and a durable replay is still a skip: delete nothing, append again
    append_partial(df2, 1, str(path), "key", d=3, w=64)
    got3 = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
    assert got3 == want
    shutil.rmtree(path)


def test_sketch_replay_after_compaction_uses_watermark(spark, tmp_path):
    """compact_sketch deletes the batch dirs it folds; a batch replayed
    AFTER compaction must be skipped via the persisted high-watermark,
    not re-appended (round-5 advice: double count)."""
    from eth_event_tracker_spark.operators.sketches import cms_build
    from eth_event_tracker_spark.streaming.sketch import (
        append_partial,
        compact_sketch,
        read_sketch,
    )

    path = tmp_path / "sk"
    dfs = [
        spark.createDataFrame([(i, f"k{i % m}") for i in range(40)], "event_id long, key string")
        for m in (3, 5, 7)
    ]
    for bi, df in enumerate(dfs):
        append_partial(df, bi, str(path), "key", d=3, w=64)
    compact_sketch(spark, str(path))

    whole = dfs[0].unionByName(dfs[1]).unionByName(dfs[2])
    want = {(r.row, r.col): r.cnt for r in cms_build(whole, "key", d=3, w=64).collect()}

    # replay every folded batch: all below the watermark → no-ops
    for bi, df in enumerate(dfs):
        append_partial(df, bi, str(path), "key", d=3, w=64)
    got = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
    assert got == want, "post-compaction replay must not double-count"

    # a genuinely NEW batch above the watermark still appends, and a
    # second compaction folds it and advances the watermark
    df3 = spark.createDataFrame([(i, f"k{i % 2}") for i in range(20)], "event_id long, key string")
    append_partial(df3, 3, str(path), "key", d=3, w=64)
    compact_sketch(spark, str(path))
    append_partial(df3, 3, str(path), "key", d=3, w=64)  # replay again
    whole2 = whole.unionByName(df3)
    want2 = {(r.row, r.col): r.cnt for r in cms_build(whole2, "key", d=3, w=64).collect()}
    got2 = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
    assert got2 == want2


def test_sketch_compaction_swap_crash_recovery(spark, tmp_path):
    """The swap's crash windows (round-5 advice): a committed stage with
    no parts dir is rolled FORWARD; an orphaned _old_parts is rolled
    BACK; stale pre-commit debris next to a live parts dir is discarded."""
    import os
    import shutil

    from eth_event_tracker_spark.streaming.sketch import (
        append_partial,
        compact_sketch,
        read_sketch,
    )

    path = tmp_path / "sk"
    df = spark.createDataFrame([(i, f"k{i % 4}") for i in range(40)], "event_id long, key string")
    append_partial(df, 0, str(path), "key", d=3, w=64)
    want = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}

    # crash between the two renames: parts moved aside, committed stage
    # present.  Build the committed stage by running a real compaction,
    # then rewinding to the mid-swap state.
    compact_sketch(spark, str(path))
    os.rename(path / "parts", path / "_stage_parts")  # stage = compacted
    append_partial(df, 0, str(path), "key", d=3, w=64)  # recovery ran first
    got = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
    assert got == want, "committed stage must roll forward"
    assert not os.path.exists(path / "_stage_parts")

    # orphaned _old_parts (crash before stage committed, after parts
    # moved aside — rollback path)
    os.rename(path / "parts", path / "_old_parts")
    got2 = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
    assert got2 == want, "orphaned _old_parts must roll back"
    assert not os.path.exists(path / "_old_parts")

    # stale uncommitted stage next to live parts → discarded
    (path / "_stage_parts").mkdir()
    (path / "_stage_parts" / "junk").write_text("x")
    got3 = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
    assert got3 == want
    assert not os.path.exists(path / "_stage_parts")
    shutil.rmtree(path)


def test_sketch_rescues_batch_swept_by_unlocked_compaction(spark, tmp_path):
    """Round-6 advice (medium): a durable batch appended between a
    compaction's listing and its swap used to be swept into _old_parts
    and rmtree'd — its checkpoint offset already committed → silent
    permanent undercount.  The locked paths can no longer interleave,
    but _rescue_old must still save a stranded durable above-watermark
    batch (legacy writer, or crash between swap and cleanup)."""
    import os
    import shutil

    from eth_event_tracker_spark.operators.sketches import cms_build
    from eth_event_tracker_spark.streaming.sketch import append_partial, read_sketch

    path = tmp_path / "sk"
    dfs = [
        spark.createDataFrame(
            [(i, f"k{i % m}") for i in range(30)], "event_id long, key string"
        )
        for m in (3, 5, 7, 2)
    ]
    append_partial(dfs[0], 0, str(path), "key", d=3, w=64)
    append_partial(dfs[1], 1, str(path), "key", d=3, w=64)
    from eth_event_tracker_spark.streaming.sketch import compact_sketch

    compact_sketch(spark, str(path))  # folds 0,1 → watermark 1

    # Rebuild the exact mid-crash state of an UNLOCKED compaction that
    # listed only batch=-1, while batches 2 and 3 landed concurrently:
    # stage = copy of the compacted parts (wm still 1), then 2,3 appended,
    # then swap, crash before rmtree(_old_parts).
    shutil.copytree(path / "parts", path / "_stage_copy")
    append_partial(dfs[2], 2, str(path), "key", d=3, w=64)
    append_partial(dfs[3], 3, str(path), "key", d=3, w=64)
    os.rename(path / "parts", path / "_old_parts")
    os.rename(path / "_stage_copy", path / "parts")

    # recovery (run by read_sketch) must rescue batches 2 and 3 out of
    # _old_parts — they are durable and above the watermark
    got = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
    whole = dfs[0].unionByName(dfs[1]).unionByName(dfs[2]).unionByName(dfs[3])
    want = {(r.row, r.col): r.cnt for r in cms_build(whole, "key", d=3, w=64).collect()}
    assert got == want, "stranded durable batches must be rescued, not lost"
    assert not os.path.exists(path / "_old_parts")
    assert sorted(
        d for d in os.listdir(path / "parts") if d.startswith("batch=")
    ) == ["batch=-1", "batch=2", "batch=3"]
    shutil.rmtree(path)


def test_sketch_ingest_lock_is_exclusive(tmp_path):
    """The append/compact serialization primitive itself: while one
    holder owns <path>/_LOCK, a second flock attempt blocks (checked
    non-blockingly), and succeeds after release."""
    import fcntl
    import os
    import threading

    from eth_event_tracker_spark.streaming.sketch import _ingest_lock

    path = str(tmp_path / "sk")
    held = threading.Event()
    release = threading.Event()

    def holder():
        with _ingest_lock(path):
            held.set()
            release.wait(timeout=30)

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(timeout=30)
    fd = os.open(os.path.join(path, "_LOCK"), os.O_RDWR)
    try:
        import pytest

        with pytest.raises(BlockingIOError):
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        release.set()
        t.join(timeout=30)
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)  # now free
        fcntl.flock(fd, fcntl.LOCK_UN)
    finally:
        os.close(fd)


def test_sketch_concurrent_append_and_compact_lose_nothing(spark, tmp_path):
    """End-to-end on the fixed paths: an append racing a compaction (two
    threads, shared session) serializes on the ingest lock; whichever
    order the kernel picks, the merged sketch counts every batch."""
    import shutil
    import threading

    from eth_event_tracker_spark.operators.sketches import cms_build
    from eth_event_tracker_spark.streaming.sketch import (
        append_partial,
        compact_sketch,
        read_sketch,
    )

    path = tmp_path / "sk"
    dfs = [
        spark.createDataFrame(
            [(i, f"k{i % m}") for i in range(30)], "event_id long, key string"
        )
        for m in (3, 5, 7)
    ]
    append_partial(dfs[0], 0, str(path), "key", d=3, w=64)
    append_partial(dfs[1], 1, str(path), "key", d=3, w=64)

    errs: list[BaseException] = []

    def compact():
        try:
            compact_sketch(spark, str(path))
        except BaseException as e:  # surfaced below
            errs.append(e)

    t = threading.Thread(target=compact)
    t.start()
    append_partial(dfs[2], 2, str(path), "key", d=3, w=64)
    t.join(timeout=120)
    assert not t.is_alive() and not errs, errs

    whole = dfs[0].unionByName(dfs[1]).unionByName(dfs[2])
    want = {(r.row, r.col): r.cnt for r in cms_build(whole, "key", d=3, w=64).collect()}
    got = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
    assert got == want
    shutil.rmtree(path)


def test_percentile_approx_tracks_exact_quantiles(spark, sf_dir):
    """The mergeable quantile sketch (percentile_approx — the 100 TB
    form) stays within its accuracy budget of the exact interpolated
    percentile that stats_quantiles hash-checks against DuckDB."""
    from eth_event_tracker_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    both = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("exact"),
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias("approx"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )
    for r in both.collect():
        spread = r.hi - r.lo
        assert abs(r.approx - r.exact) <= 0.02 * spread, (
            f"{r.o_orderpriority}: approx {r.approx} vs exact {r.exact}"
        )


def test_heavy_hitters_exact_even_with_tiny_sketch(spark):
    """Correctness must not depend on sketch width: with w small enough
    to force heavy collisions, the candidate set inflates but the
    verified output is still exactly GROUP BY ... HAVING."""
    from eth_event_tracker_spark.operators.sketches import heavy_hitters

    rows = [(i, f"k{i % 37}") for i in range(2000)]
    df = spark.createDataFrame(rows, "i long, key string")
    got = {
        (r.key, r.cnt) for r in heavy_hitters(df, "key", min_count=54, d=2, w=8).collect()
    }
    truth = {}
    for _, k in rows:
        truth[k] = truth.get(k, 0) + 1
    want = {(k, c) for k, c in truth.items() if c >= 54}
    assert got == want and want, "exactness must survive a collision-heavy sketch"


def test_new_operators_handle_empty_inputs(spark):
    """Empty-input robustness across the round-5 operators: empty in →
    empty (or identity) out, correct schema, no exceptions."""
    from eth_event_tracker_spark.operators.rangejoin import interval_overlap_join
    from eth_event_tracker_spark.operators.sketches import cms_build, heavy_hitters
    from eth_event_tracker_spark.operators.text import (
        bpe_pair_counts,
        bpe_train,
        fuzzy_pairs,
    )
    from eth_event_tracker_spark.streaming.pipeline import (
        incremental_agg,
        validity_intervals,
        view_as_of,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert fuzzy_pairs(empty_docs, "text").count() == 0
    assert bpe_pair_counts(empty_docs).count() == 0
    assert bpe_train(empty_docs, n_merges=3) == []

    empty_keys = spark.createDataFrame([], "key string")
    assert cms_build(empty_keys, "key", d=2, w=8).count() == 0
    assert heavy_hitters(empty_keys, "key", min_count=1).count() == 0

    iv = spark.createDataFrame([], "l_id long, ls timestamp, le timestamp")
    rv = spark.createDataFrame(
        [(1,)], "r_id long"
    ).selectExpr("r_id", "timestamp'2024-01-01' AS rs", "timestamp'2024-01-02' AS re")
    assert interval_overlap_join(iv, rv, "ls", "le", "rs", "re", 60).count() == 0

    clog = spark.createDataFrame(
        [], "block_hash string, tx_index long, log_index long, block_num long, "
        "change_type string, indx long"
    )
    assert view_as_of(clog, 10).count() == 0
    assert validity_intervals(clog).count() == 0
    assert incremental_agg(clog, keys=("block_num",)).count() == 0

    # graph.py was the one round-5 module left out of this sweep
    # (round-5 advice: pagerank raised ZeroDivisionError on 1.0 / n)
    from eth_event_tracker_spark.operators.graph import pagerank

    empty_edges = spark.createDataFrame([], "src long, dst long")
    pr = pagerank(empty_edges, n_iters=3)
    assert pr.count() == 0
    assert [f.name for f in pr.schema.fields] == ["node", "rank"]


def test_degenerate_corpora_for_trainers(spark):
    """PQ and IVF training on corpora smaller than k (round-5 advice:
    PQ training crashed on a numpy shape mismatch) and on empty corpora
    (clear error, not np.stack internals)."""
    import numpy as np
    import pytest

    from eth_event_tracker_spark.operators import semantic_portable as OPP

    # 3 rows, k=16 centroids: PQ seeds pad by cycling the sample
    rows = [(i, [float(i), float(i + 1), 0.5, -1.0] * 8) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = OPP.pq_train_portable(df, m=8, k=16, n_train=64)
    assert np.array(books).shape == (8, 16, 4)
    # the trained codebooks still encode: 3 rows → 3 code vectors in range
    codes = OPP.pq_encode_portable(df, books).select("pq_codes").collect()
    assert len(codes) == 3 and all(0 <= c < 16 for r in codes for c in r[0])

    # IVF stops at one centroid per sample row and still probes
    qdf = df.select("vec_id", OPP.quantized(F.col("embedding")).alias("vq"))
    cents = OPP.build_portable_centroids(qdf, 16, n_iters=1)
    assert len(cents) == 3 and all(len(c) == 32 for c in cents)
    got = OPP.ivf_topk_portable(df, df, k=2, n_centroids=16, n_probe=16).collect()
    assert {r.q_id for r in got} == {0, 1, 2}

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        OPP.pq_train_portable(empty)
    with pytest.raises(ValueError, match="empty"):
        OPP.ivf_topk_portable(empty, empty)


def test_pq_tiers_exclude_self_consistently(spark):
    """Self-exclusion is one convention across ALL ANN tiers (round-5
    advice: the PQ tier returned corpus-drawn queries at rank 1 while
    others filtered unconditionally).  Default True drops q_id == c_id;
    exclude_self=False admits coinciding ids from distinct tables."""
    import numpy as np

    from eth_event_tracker_spark.operators import semantic_portable as OPP
    from eth_event_tracker_spark.operators import similarity as OPS

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=32)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 4)  # queries DRAWN FROM the corpus

    books = OPP.pq_train_portable(df, m=8, k=16, n_train=40)
    codes = OPP.pq_encode_portable(df, books)

    got = OPP.pq_adc_topk_portable(q, codes, books, k=3).collect()
    assert all(r.q_id != r.vec_id for r in got), "self-match must be excluded by default"
    assert {r.q_id for r in got} == {0, 1, 2, 3}

    kept = OPP.pq_adc_topk_portable(q, codes, books, k=3, exclude_self=False).collect()
    selfs = [r for r in kept if r.q_id == r.vec_id]
    assert len(selfs) == 4 and all(r.rank == 1 and r.dist == 0.0 for r in selfs), (
        "exclude_self=False must admit the exact self-match at rank 1"
    )

    got3 = OPS.ann_lsh_topk(q, df, k=3, n_planes=4).collect()
    assert all(r.q_id != r.c_id for r in got3)
    kept3 = OPS.ann_lsh_topk(q, df, k=3, n_planes=4, exclude_self=False).collect()
    assert any(r.q_id == r.c_id and r.rank == 1 for r in kept3)

    got4 = OPP.ivf_topk_portable(q, df, k=3, n_centroids=4, n_probe=4).collect()
    assert all(r.q_id != r.c_id for r in got4)
    kept4 = OPP.ivf_topk_portable(
        q, df, k=3, n_centroids=4, n_probe=4, exclude_self=False
    ).collect()
    assert any(r.q_id == r.c_id and r.rank == 1 for r in kept4)


def test_sketch_log_model_fuzz(spark, tmp_path):
    """Model-based fuzz of the streaming sketch log (the round-5 advice
    module): random interleavings of append / replay / compact /
    crash-at-every-window, checked after each step against an exact
    python counter model.  Crashes simulated: partial write (marker
    removed), mid-swap (parts renamed aside with committed stage),
    stale stage debris."""
    import os
    import random
    import shutil
    from collections import Counter

    from eth_event_tracker_spark.operators.sketches import cms_build
    from eth_event_tracker_spark.streaming.sketch import (
        append_partial,
        compact_sketch,
        read_sketch,
    )

    rng = random.Random(37)
    path = tmp_path / "sk"
    D, W = 3, 32

    model: Counter = Counter()  # durable batches' key counts
    batches: dict[int, list[str]] = {}
    next_batch = 0

    def batch_df(keys):
        return spark.createDataFrame([(k,) for k in keys], "key string")

    def check():
        got = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(path)).collect()}
        if not model:
            assert got == {}
            return
        whole = batch_df(list(model.elements()))
        want = {(r.row, r.col): r.cnt for r in cms_build(whole, "key", d=D, w=W).collect()}
        assert got == want, "merged sketch diverged from the exact model"

    for step in range(40):
        op = rng.choice(["append", "replay", "partial", "compact", "swap_crash", "stale"])
        if op == "append":
            keys = [f"k{rng.randrange(12)}" for _ in range(rng.randrange(1, 15))]
            bid = next_batch
            next_batch += 1
            append_partial(batch_df(keys), bid, str(path), "key", d=D, w=W)
            batches[bid] = keys
            model.update(keys)
        elif op == "replay" and batches:
            bid = rng.choice(list(batches))
            append_partial(batch_df(batches[bid]), bid, str(path), "key", d=D, w=W)
            # model unchanged: replay must be a no-op
        elif op == "partial" and batches:
            # crash mid-write of the NEXT batch: full dir, marker gone
            keys = [f"k{rng.randrange(12)}" for _ in range(rng.randrange(1, 10))]
            bid = next_batch
            next_batch += 1
            append_partial(batch_df(keys), bid, str(path), "key", d=D, w=W)
            marker = path / "parts" / f"batch={bid}" / "_SUCCESS"
            marker.unlink()
            # the stream replays it (foreachBatch re-runs after a crash)
            append_partial(batch_df(keys), bid, str(path), "key", d=D, w=W)
            batches[bid] = keys
            model.update(keys)
        elif op == "compact" and model:
            compact_sketch(spark, str(path))
        elif op == "swap_crash" and model:
            compact_sketch(spark, str(path))
            # rewind to the mid-swap state: parts aside as committed stage
            os.rename(path / "parts", path / "_stage_parts")
        elif op == "stale" and (path / "parts").exists():
            (path / "_stage_parts").mkdir(exist_ok=True)
            (path / "_stage_parts" / "junk").write_text("x")
        check()
    assert model, "fuzz must have exercised at least one append"
    shutil.rmtree(path)


def test_sketch_compaction_during_live_ingest(spark, tmp_path):
    """The round-6 advice scenario end-to-end: compact_sketch fires
    repeatedly WHILE a real ingest stream is appending micro-batches.
    The ingest lock serializes them, so however the rounds interleave,
    the final merged sketch counts every input row exactly once."""
    import time

    from eth_event_tracker_spark.operators.sketches import cms_build
    from eth_event_tracker_spark.streaming.sketch import (
        compact_sketch,
        read_sketch,
        start_sketch_ingest,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    all_rows = []
    for bi in range(6):
        rows = [(i, f"k{i % (3 + bi)}") for i in range(bi * 40, bi * 40 + 40)]
        _event_file(inp / f"b{bi}.parquet", rows)
        all_rows += rows

    q = start_sketch_ingest(
        spark, str(inp), "key", str(tmp_path / "sk"), str(tmp_path / "ckpt"),
        schema="event_id long, key string", d=3, w=64, available_now=True,
    )
    # hammer compaction from the main thread while the stream runs
    n_compactions = 0
    while q.isActive:
        compact_sketch(spark, str(tmp_path / "sk"))
        n_compactions += 1
        time.sleep(0.05)
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    assert n_compactions > 0, "compaction never overlapped the stream"
    compact_sketch(spark, str(tmp_path / "sk"))

    whole = spark.createDataFrame(all_rows, "event_id long, key string")
    want = {(r.row, r.col): r.cnt for r in cms_build(whole, "key", d=3, w=64).collect()}
    got = {(r.row, r.col): r.cnt for r in read_sketch(spark, str(tmp_path / "sk")).collect()}
    assert got == want, "concurrent compaction must lose/double nothing"


# ---------------------------------------------------------------------------
# KMV bottom-k sketches
# ---------------------------------------------------------------------------
def test_kmv_estimate_accuracy_and_exact_below_k(spark):
    from eth_event_tracker_spark.operators.sketches import kmv_estimate, kmv_profile

    rows = [(i % 3, f"u{i}") for i in range(30000)]  # g0/g1/g2 ~10k distinct each
    df = spark.createDataFrame(rows, "g int, item string")
    est = {
        r.g: r.n_distinct_est
        for r in kmv_estimate(kmv_profile(df, ["g"], "item", k=256), ["g"], k=256).collect()
    }
    for g, true_n in ((0, 10000), (1, 10000), (2, 10000)):
        assert abs(est[g] - true_n) <= 0.2 * true_n, (g, est[g])
    # below k: exact
    small = spark.createDataFrame([(0, f"u{i}") for i in range(40)], "g int, item string")
    out = kmv_estimate(kmv_profile(small, ["g"], "item", k=256), ["g"], k=256).collect()
    assert out[0].n_distinct_est == 40.0


def test_kmv_merge_equals_profile_of_union_exactly(spark):
    """bottom-k(bottom-k(A) ∪ bottom-k(B)) == bottom-k(A ∪ B) — the KMV
    merge is lossless and, being hash-deterministic, pins EXACTLY."""
    from eth_event_tracker_spark.operators.sketches import kmv_merge, kmv_profile

    mk = lambda lo, hi: spark.createDataFrame(
        [(0, f"u{i}") for i in range(lo, hi)], "g int, item string"
    )
    pa = kmv_profile(mk(0, 3000), ["g"], "item", k=128)
    pb = kmv_profile(mk(1500, 4500), ["g"], "item", k=128)  # 50% overlap
    merged = {r.h for r in kmv_merge(pa, pb, keys=["g"], k=128).collect()}
    whole = {r.h for r in kmv_profile(mk(0, 4500), ["g"], "item", k=128).collect()}
    assert merged == whole and len(merged) == 128


def test_kmv_jaccard_planted_overlap(spark):
    from eth_event_tracker_spark.operators.sketches import kmv_jaccard, kmv_profile

    # A = 0..2000, B = 1000..3000 → J = 1000/3000 = 1/3; C disjoint
    rows = (
        [("A", f"u{i}") for i in range(0, 2000)]
        + [("B", f"u{i}") for i in range(1000, 3000)]
        + [("C", f"x{i}") for i in range(500)]
    )
    df = spark.createDataFrame(rows, "g string, item string")
    sk = kmv_profile(df, ["g"], "item", k=256)
    j = {(r.group_a, r.group_b): r.jaccard_est for r in kmv_jaccard(sk, "g", k=256).collect()}
    assert abs(j[("A", "B")] - 1 / 3) <= 0.12, j
    assert j[("A", "C")] == 0.0 and j[("B", "C")] == 0.0


def test_kmv_jaccard_exact_when_groups_fit_in_k(spark):
    from eth_event_tracker_spark.operators.sketches import kmv_jaccard, kmv_profile

    rows = [("A", f"u{i}") for i in range(30)] + [("B", f"u{i}") for i in range(15, 45)]
    df = spark.createDataFrame(rows, "g string, item string")
    sk = kmv_profile(df, ["g"], "item", k=256)
    out = kmv_jaccard(sk, "g", k=256).collect()
    # |A∪B| = 45, |A∩B| = 15 → exactly 1/3
    assert len(out) == 1 and out[0].jaccard_est == 15 / 45


def test_kmv_set_sizes_exact_when_groups_fit_in_k(spark):
    from eth_event_tracker_spark.operators.sketches import kmv_profile, kmv_set_sizes

    rows = (
        [("A", f"u{i}") for i in range(30)]
        + [("B", f"u{i}") for i in range(15, 45)]
        + [("C", f"z{i}") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "g string, item string")
    sk = kmv_profile(df, ["g"], "item", k=256)
    got = {
        (r.group_a, r.group_b): r for r in kmv_set_sizes(sk, "g", k=256).collect()
    }
    # union < k → the exact regime: union/intersection recovered exactly
    ab = got[("A", "B")]
    assert ab.union_est == 45.0 and ab.inter_est == 15.0
    ac = got[("A", "C")]
    assert ac.union_est == 40.0 and ac.inter_est == 0.0 and ac.jaccard_est == 0.0


def test_kmv_set_sizes_estimation_regime(spark):
    from eth_event_tracker_spark.operators.sketches import kmv_profile, kmv_set_sizes

    # A = 0..2000, B = 1000..3000: |A∪B| = 3000, |A∩B| = 1000
    rows = [("A", f"u{i}") for i in range(0, 2000)] + [
        ("B", f"u{i}") for i in range(1000, 3000)
    ]
    df = spark.createDataFrame(rows, "g string, item string")
    sk = kmv_profile(df, ["g"], "item", k=256)
    (r,) = kmv_set_sizes(sk, "g", k=256).collect()
    assert abs(r.union_est - 3000) / 3000 <= 0.15, r
    assert abs(r.inter_est - 1000) / 1000 <= 0.30, r
    # internal consistency: inter = J * union by construction
    assert r.inter_est == pytest.approx(r.jaccard_est * r.union_est, abs=1e-9)


def test_kmv_set_sizes_coheres_with_jaccard(spark):
    from eth_event_tracker_spark.operators.sketches import (
        kmv_jaccard,
        kmv_profile,
        kmv_set_sizes,
    )

    rows = [("A", f"u{i}") for i in range(0, 800)] + [
        ("B", f"u{i}") for i in range(400, 1200)
    ] + [("C", f"u{i}") for i in range(600, 900)]
    df = spark.createDataFrame(rows, "g string, item string")
    sk = kmv_profile(df, ["g"], "item", k=64)
    jac = {
        (r.group_a, r.group_b): r.jaccard_est
        for r in kmv_jaccard(sk, "g", k=64).collect()
    }
    sizes = {
        (r.group_a, r.group_b): r.jaccard_est
        for r in kmv_set_sizes(sk, "g", k=64).collect()
    }
    # the refactored shared pair machinery must leave kmv_jaccard's
    # numbers bit-identical
    assert jac == sizes


class TestRollingDistinct:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "g string, ts timestamp, u long")

    def test_matches_exact_trailing_window(self, spark):
        from datetime import datetime

        from eth_event_tracker_spark.operators.sketches import rolling_distinct

        rows = []
        for h in range(8):
            for i in range(40):
                # per-hour users overlap across hours: u in [h*20, h*20+40)
                rows.append(("a", datetime(2024, 1, 1, h, i % 60), h * 20 + i))
        df = self._mk(spark, rows)
        got = {
            r["hour"].hour: (r["n_hour_exact"], r["n_rolling_est"])
            for r in rolling_distinct(df, ["g"], "ts", "u", window_hours=3).collect()
        }
        assert len(got) == 8
        tol = 3 * 1.04 / (2**12) ** 0.5  # 3σ HLL error at lgk=12
        for h in range(8):
            exact_hour = 40
            lo = max(0, (h - 2) * 20)
            exact_roll = (h * 20 + 40) - lo
            n_exact, n_est = got[h]
            assert n_exact == exact_hour
            assert abs(n_est - exact_roll) <= max(tol * exact_roll, 2.0), (h, got[h])

    def test_gap_hours_age_out(self, spark):
        from datetime import datetime

        from eth_event_tracker_spark.operators.sketches import rolling_distinct

        # users {0..9} at hour 0, users {100..109} at hour 5: with a
        # 3-hour window the hour-5 rolling set must NOT include hour 0
        # (a ROWS frame would — only two rows exist per group)
        rows = [("a", datetime(2024, 1, 1, 0, 0), i) for i in range(10)]
        rows += [("a", datetime(2024, 1, 1, 5, 0), 100 + i) for i in range(10)]
        got = {
            r["hour"].hour: r["n_rolling_est"]
            for r in rolling_distinct(self._mk(spark, rows), ["g"], "ts", "u", window_hours=3).collect()
        }
        assert abs(got[0] - 10) <= 1 and abs(got[5] - 10) <= 1, got

    def test_groups_isolated(self, spark):
        from datetime import datetime

        from eth_event_tracker_spark.operators.sketches import rolling_distinct

        rows = [("a", datetime(2024, 1, 1, 0, 0), i) for i in range(5)]
        rows += [("b", datetime(2024, 1, 1, 0, 0), i) for i in range(500, 520)]
        got = {
            (r["g"], r["hour"].hour): r["n_rolling_est"]
            for r in rolling_distinct(self._mk(spark, rows), ["g"], "ts", "u").collect()
        }
        assert abs(got[("a", 0)] - 5) <= 1 and abs(got[("b", 0)] - 20) <= 1
