"""ann_recall: the promoted-to-operator form of the test-side recall
pins — exactness on identical inputs, per-query hit accounting, missing
queries scoring zero, and the registry entry's sane range."""

from __future__ import annotations

from pyspark.sql import functions as F

from eth_event_tracker_spark.operators.similarity import ann_recall


def _res(spark, rows):
    return spark.createDataFrame(rows, "q_id long, c_id long")


def test_recall_one_when_identical(spark):
    exact = _res(spark, [(1, 10), (1, 11), (2, 20)])
    out = {r.q_id: r for r in ann_recall(exact, exact).collect()}
    assert all(r.recall == 1.0 for r in out.values())
    assert out[1].n_truth == 2 and out[1].n_hit == 2


def test_recall_counts_partial_and_missing_queries(spark):
    exact = _res(spark, [(1, 10), (1, 11), (1, 12), (1, 13), (2, 20), (3, 30)])
    approx = _res(spark, [(1, 11), (1, 13), (1, 99), (2, 21)])  # q3 absent
    out = {r.q_id: r for r in ann_recall(exact, approx).collect()}
    assert out[1].n_truth == 4 and out[1].n_hit == 2 and out[1].recall == 0.5
    assert out[2].n_hit == 0 and out[2].recall == 0.0
    assert out[3].n_hit == 0 and out[3].recall == 0.0  # left join keeps it


def test_extra_approx_rows_never_inflate_recall(spark):
    exact = _res(spark, [(1, 10)])
    approx = _res(spark, [(1, 10), (1, 10), (1, 42), (9, 10)])
    out = ann_recall(exact, approx).collect()
    assert len(out) == 1
    assert out[0].n_truth == 1 and out[0].n_hit == 1 and out[0].recall == 1.0


def test_registry_entry_in_pinned_range(spark, sf_dir):
    from eth_event_tracker_spark.queries.llmdata import ann_recall_ivf

    rows = ann_recall_ivf(spark, sf_dir).collect()
    assert len(rows) == 5
    # the IVF arm's standing recall pin, now visible as a queryable number
    mean = sum(r.recall for r in rows) / len(rows)
    assert mean >= 0.8, [(r.q_id, r.recall) for r in rows]
    assert all(r.n_truth == 5 for r in rows)


# ---------------------------------------------------------------------------
# ivf_tune_nprobe_portable: the monitor closed into a loop (round-7 verdict item 5).
# Fixture geometry: three tight 2-D direction clusters at 0/20/40 degrees;
# boundary queries at 10/30 degrees have true neighbours in TWO adjacent
# clusters, so probing one bucket cannot reach the target and probing two
# must.  Deterministic (explicit angles, no randomness).
# ---------------------------------------------------------------------------
def _angle_vec(deg: float) -> list[float]:
    import math

    return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]


def _tune_fixture(spark):
    corpus_rows = []
    vid = 0
    for base in (0.0, 20.0, 40.0):
        for j in range(10):
            corpus_rows.append((vid, _angle_vec(base + (j - 4.5) * 0.4)))
            vid += 1
    queries_rows = [(100, _angle_vec(10.0)), (101, _angle_vec(30.0))]
    schema = "vec_id long, embedding array<double>"
    return (
        spark.createDataFrame(queries_rows, schema),
        spark.createDataFrame(corpus_rows, schema),
    )


def test_ivf_tune_nprobe_minimal_probe_meets_target(spark):
    from eth_event_tracker_spark.operators.semantic_portable import (
        ivf_tune_nprobe_portable,
    )

    queries, corpus = _tune_fixture(spark)
    n_probe, curve = ivf_tune_nprobe_portable(
        queries,
        corpus,
        k=6,
        n_centroids=3,
        target_recall=0.9,
        exclude_self=False,
    )
    # probe=1 must fail (each query's 6 nearest straddle two clusters:
    # one bucket holds at most 10 of 30 candidates and the true top-6
    # splits across the boundary), a wider probe must pass
    assert curve[0]["n_probe"] == 1 and curve[0]["mean_recall"] < 0.9
    assert 1 < n_probe <= 3
    # the full curve evaluates in one job; chosen = FIRST level meeting
    # target, every earlier level is below it
    by_level = {pt["n_probe"]: pt["mean_recall"] for pt in curve}
    assert len(curve) == 3  # max_probe defaults to n_centroids
    assert by_level[n_probe] >= 0.9
    assert all(by_level[p] < 0.9 for p in range(1, n_probe))
    # curve is monotone non-decreasing (candidates only grow with probe)
    rs = [pt["mean_recall"] for pt in curve]
    assert rs == sorted(rs)


def test_ivf_tune_nprobe_trivial_target_picks_one(spark):
    from eth_event_tracker_spark.operators.semantic_portable import (
        ivf_tune_nprobe_portable,
    )

    queries, corpus = _tune_fixture(spark)
    n_probe, curve = ivf_tune_nprobe_portable(
        queries, corpus, k=2, n_centroids=3, target_recall=0.0, exclude_self=False
    )
    assert n_probe == 1 and curve[0]["n_probe"] == 1


def test_mmr_rerank_string_ids(spark):
    """mmr_rerank must work for any orderable id type (round-8 advice:
    the tuple tie-break used -id, which raises on strings)."""
    from eth_event_tracker_spark.operators.similarity import mmr_rerank

    q = spark.createDataFrame([("q0", [1.0, 0.0])], "vec_id string, embedding array<float>")
    c = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0]), ("c", [0.6, 0.8])],
        "vec_id string, embedding array<float>",
    )
    rows = mmr_rerank(q, c, k=3, fetch_k=10, lam=0.3).collect()
    assert [r.rank for r in rows] == [1, 2, 3]
    # candidates a and b are identical → the score tie breaks id-asc
    assert rows[0].c_id == "a"
    assert rows[0].q_id == "q0" and isinstance(rows[0].c_id, str)


def test_mmr_matches_python_model_on_planted_ties(spark):
    """Property pin for the oracle-promoted MMR: on a corpus with
    duplicate vectors (score ties) and a tiny candidate pool, the
    operator must equal a direct python replay of the greedy contract
    (same ordered-fold arithmetic, ties (score desc, id asc))."""
    import math

    from eth_event_tracker_spark.operators.similarity import mmr_rerank

    lam, k = 0.3, 4
    q_vec = [1.0, 0.0, 0.0]
    corpus = {
        10: [1.0, 0.0, 0.0],   # identical to query
        11: [1.0, 0.0, 0.0],   # duplicate of 10 -> tie, id-asc must win
        12: [0.0, 1.0, 0.0],   # orthogonal (diverse)
        13: [0.6, 0.8, 0.0],
        14: [0.6, 0.8, 0.0],   # duplicate of 13
    }
    q = spark.createDataFrame([(0, q_vec)], "vec_id long, embedding array<float>")
    c = spark.createDataFrame(
        [(i, v) for i, v in corpus.items()], "vec_id long, embedding array<float>"
    )
    got = [
        (r.rank, r.c_id, r.relevance, r.mmr_score)
        for r in mmr_rerank(q, c, k=k, fetch_k=10, lam=lam).collect()
    ]

    import numpy as np

    # the column is array<float>: round-trip through float32 like storage
    corpus = {i: [float(np.float32(x)) for x in v] for i, v in corpus.items()}
    q_vec = [float(np.float32(x)) for x in q_vec]

    def fold(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + float(x) * float(y)
        return s

    # python replay of the contract
    def cos(a, b):
        return fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))

    rel = {i: round(cos(q_vec, v), 9) for i, v in corpus.items()}
    order = sorted(corpus, key=lambda i: (-rel[i], i))
    norms = {i: math.sqrt(fold(v, v)) or 1.0 for i, v in corpus.items()}
    sim = {
        (i, j): fold(corpus[i], corpus[j]) / (norms[i] * norms[j])
        for i in corpus
        for j in corpus
    }
    chosen, expect = [], []
    remaining = list(order)
    while remaining and len(chosen) < k:
        scores = {
            i: lam * rel[i]
            - (1.0 - lam) * (max(sim[(i, c)] for c in chosen) if chosen else 0.0)
            for i in remaining
        }
        pick = min(remaining, key=lambda i: (-scores[i], i))
        expect.append(
            (len(chosen) + 1, pick, float(round(rel[pick], 9)), float(round(scores[pick], 9)))
        )
        chosen.append(pick)
        remaining.remove(pick)
    assert got == expect
    # at diversity-heavy lambda the duplicate of the first pick defers
    assert got[0][1] == 10 and got[1][1] == 12
