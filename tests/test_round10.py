"""Round-10 pins.

1. kcore oracle unroll-depth guard (round-9 advice): the DuckDB twin of
   ``kcore_cosupply`` unrolls the peel loop as 8 chained CTEs
   (queries/relational.py) — if a future fixture's peel chain exceeded 8
   rounds the twin would under-peel and the entry would HASH-FAIL.  This
   test measures the actual peel-round count of the co-supply fixture at
   every locally-available SF and asserts it stays within the unroll
   with margin.
2. zero-vector guard (round-9 advice): ``_expand_exact_groups`` must not
   emit NaN-cosine pairs for groups of bit-identical all-zero vectors.
3. lsh_bucket running-accumulator fold (round-9 advice) stays
   bit-identical to the reference cumulative-sum formulation.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

KCORE_ORACLE_UNROLL = 8  # peel rounds unrolled in the kcore_cosupply twin


def _peel_rounds(edges, k: int = 2, cap: int = 50) -> int:
    """Number of peel rounds until the k-core fixpoint (the count of
    degree->filter->edge-reduction steps that CHANGE the edge set)."""
    from eth_event_tracker_spark.operators.graph import _canon_edges, _degrees

    e = _canon_edges(edges, "src", "dst")
    n = e.count()
    rounds = 0
    for _ in range(cap):
        if n == 0:
            return rounds
        deg = _degrees(e)
        keep = deg.where(F.col("d") >= k).select("v")
        e2 = (
            e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        n2 = e2.count()
        if n2 == n:
            return rounds
        rounds += 1
        e, n = e2, n2
    raise AssertionError(f"no k-core fixpoint within {cap} rounds")


@pytest.mark.parametrize(
    "sf_path",
    [
        p
        for p in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
        if os.path.isdir(p)
    ],
)
def test_kcore_peel_depth_within_oracle_unroll(spark, sf_path):
    from eth_event_tracker_spark.queries.relational import _cosupply_edges

    rounds = _peel_rounds(_cosupply_edges(spark, sf_path), k=2)
    # the twin's 8-step unroll must cover the fixture's chain with margin
    assert rounds <= KCORE_ORACLE_UNROLL - 2, (
        f"{sf_path}: peel chain is {rounds} rounds — within 2 of the "
        f"{KCORE_ORACLE_UNROLL}-round DuckDB unroll; widen the twin "
        "(queries/relational.py kcore_cosupply) before it hash-fails"
    )


def test_expand_exact_groups_zero_vectors_emit_no_nan(spark):
    from eth_event_tracker_spark.operators.similarity import _expand_exact_groups

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )

    def rep_pairs(reps):
        # no cross-group candidates: isolate the intra-group path
        return spark.createDataFrame([], "id_a long, id_b long, cosine double")

    out = _expand_exact_groups(df, rep_pairs, 0.5, "vec_id", "embedding").collect()
    got = {(r.id_a, r.id_b) for r in out}
    # the identical nonzero pair survives; the zero group emits nothing
    assert got == {(2, 3)}
    assert all(not math.isnan(r.cosine) for r in out)


def test_simhash_collapse_bit_equal_and_clusters_consistent(spark, sf_dir):
    """The identical-signature collapse in simhash_near_dups must emit the
    EXACT pair set of the uncollapsed join (integer Hamming — bit-equality
    is set equality), and simhash_clusters must agree with connected
    components over that pair set."""
    from eth_event_tracker_spark.operators.dedup import (
        dup_clusters,
        simhash_clusters,
        simhash_near_dups,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    collapsed = simhash_near_dups(docs, max_hamming=6)
    plain = simhash_near_dups(docs, max_hamming=6, collapse_identical=False)
    got = {(r.doc_a, r.doc_b, r.hamming) for r in collapsed.collect()}
    ref = {(r.doc_a, r.doc_b, r.hamming) for r in plain.collect()}
    assert got == ref and len(ref) > 0
    comp_ref = {
        (r.doc_id, r.cluster_id)
        for r in dup_clusters(plain, "doc_a", "doc_b").collect()
    }
    comp_got = {
        (r.doc_id, r.cluster_id)
        for r in simhash_clusters(docs, max_hamming=6).collect()
    }
    assert comp_got == comp_ref


def test_portable_centroids_reject_zero_vector_in_sample(spark):
    """An all-zero sampled vector would produce NaN seed similarities,
    and NaN ordering is the one arithmetic where the engines genuinely
    diverge (numpy argmin propagates NaN, DuckDB sorts it greatest) —
    the builder must fail loud instead of silently drifting from the
    twin."""
    from eth_event_tracker_spark.operators.semantic_portable import (
        build_portable_centroids,
        quantized,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.5]), (2, [0.3, 0.9])],
        "vec_id long, embedding array<double>",
    ).select("vec_id", quantized(F.col("embedding")).alias("vq"))
    with pytest.raises(ValueError, match="all-zero"):
        build_portable_centroids(df, n_clusters=2)


def test_portable_semantic_collapse_bit_equal(spark, sf_dir):
    """The portable SemDeDup's exact-duplicate collapse must emit the
    BIT-identical pair set of the uncollapsed within-cluster join on a
    duplicate-heavy corpus (the planted-duplicates fixture of the
    registered entry) — the round-9 pin, re-established for the
    portable tier whose centroids/assignment differ from the numpy
    path's."""
    from eth_event_tracker_spark.operators.semantic_portable import (
        semantic_dup_pairs_portable,
    )
    from eth_event_tracker_spark.queries.llmdata import _semantic_corpus

    corpus = _semantic_corpus(spark, sf_dir).localCheckpoint(eager=False)
    a = semantic_dup_pairs_portable(corpus, threshold=0.9, collapse_exact=True)
    b = semantic_dup_pairs_portable(corpus, threshold=0.9, collapse_exact=False)
    got = {(r.id_a, r.id_b, r.cosine) for r in a.collect()}
    ref = {(r.id_a, r.id_b, r.cosine) for r in b.collect()}
    assert got == ref and len(ref) > 0


def test_views_as_of_snapshot_equals_full_replay(spark, tmp_path):
    """Snapshot + tail-delta reconstruction (round-10, verdict item 4)
    must be row-identical to the full-changelog views_as_of for every
    instant at/above the snapshot position, and must FAIL (not silently
    under-reconstruct) for an instant below it."""
    from pyspark.sql import functions as F

    from eth_event_tracker_spark.streaming.pipeline import (
        snapshot_at,
        views_as_of,
        views_as_of_snapshot,
    )

    from .test_pipeline import _churned_changelog

    store, t, clog, _head = _churned_changelog(spark, tmp_path)
    cdf = clog.df(spark).cache()
    try:
        max_indx = cdf.agg(F.max("indx")).first()[0]
        h = max_indx // 2
        probes = [h, h + (max_indx - h) // 2, max_indx]
        instants = spark.createDataFrame(
            [(f"t{t_}", t_) for t_ in probes], "view_label string, _as_of long"
        )
        snap = snapshot_at(cdf, h).localCheckpoint(eager=False)
        tail = cdf.where(F.col("indx") > h)
        fast = views_as_of_snapshot(snap, h, tail, instants)
        full = views_as_of(cdf, instants)
        cols = sorted(full.columns)
        got = sorted(map(tuple, fast.select(*cols).collect()))
        want = sorted(map(tuple, full.select(*cols).collect()))
        assert got == want and len(want) > 0

        below = spark.createDataFrame(
            [("too_early", h - 1)], "view_label string, _as_of long"
        )
        with pytest.raises(Exception, match="assert_true|ASSERT|below"):
            views_as_of_snapshot(snap, h, tail, below).collect()
    finally:
        cdf.unpersist()


def test_lsh_bucket_running_fold_matches_cumsum_reference():
    """The running-accumulator per-plane dot (round-10 memory fix) must be
    bit-identical to the cumulative-sum last column it replaced — both
    are the same left-to-right IEEE add sequence."""
    rng = np.random.default_rng(7)
    m = rng.normal(size=(64, 32))
    plane = rng.normal(size=32)
    ref = np.add.accumulate(m * plane[None, :], axis=1)[:, -1]
    acc = np.zeros(len(m))
    for d in range(m.shape[1]):
        acc += m[:, d] * plane[d]
    assert np.array_equal(acc, ref)
