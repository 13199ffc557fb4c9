"""Verification for the LLM-data operators whose correctness the SQL
oracle can't express: probabilistic dedup (SimHash), approximate ANN, and
the fast cosine tier — each checked against its exact counterpart."""

from __future__ import annotations

from pyspark.sql import functions as F

from eth_event_tracker_spark.operators import dedup as OPD
from eth_event_tracker_spark.operators import multimodal as OPM
from eth_event_tracker_spark.operators import semantic_portable as OPP
from eth_event_tracker_spark.operators import similarity as OPS
from eth_event_tracker_spark.tables import load_table


def test_select_keepers_quality_aware(spark):
    """Keeper = highest-quality member per cluster, ties to lowest id;
    every cluster yields exactly one keeper."""
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "doc_id long, cluster_id long"
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.1)], "doc_id long, quality double"
    )
    got = {
        r.cluster_id: (r.keeper_id, r.keeper_score)
        for r in OPD.select_keepers(clusters, scores).collect()
    }
    assert got == {1: (2, 0.9), 10: (10, 0.5)}  # tie 2-vs-3 → lowest id


def test_prefix_filter_equals_any_share_with_fewer_candidates(spark, sf_dir):
    """PPJoin prefix filtering is EXACT: same pairs, same jaccard values
    as the any-shared-shingle path — while generating strictly fewer
    candidate pairs on a real corpus (the whole point of the rule)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in OPD.jaccard_pairs(docs, threshold=0.8).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in OPD.jaccard_pairs_prefix(docs, threshold=0.8).collect()
    }
    assert got == want and want, "prefix filtering must lose no pair"

    # candidate-set comparison: replicate both generators' pair counts
    sh = OPD.word_shingles(docs).localCheckpoint(eager=False)
    any_share = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_t"))
    w = Window.partitionBy("doc_id").orderBy("df_t", "shingle")
    prefix = (
        sh.join(freq, "shingle")
        .withColumn("rnk", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(F.col("rnk") <= F.col("n_sh") - F.ceil(0.8 * F.col("n_sh") - 1e-9) + 1)
    )
    prefixed = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert prefixed < any_share, (prefixed, any_share)


def test_prefix_filter_brute_force_small_corpus(spark):
    """Exhaustive check on a constructed corpus with chained near-dups,
    exact dups, and short docs."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " extra"),          # high-jaccard neighbor
        (3, base),                     # exact dup of 1
        (4, "one two three"),          # single-shingle doc
        (5, "one two three"),          # its exact dup
        (6, "totally different words here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.8, 1.0):
        want = sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in OPD.jaccard_pairs(docs, threshold=t).collect()
        )
        got = sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in OPD.jaccard_pairs_prefix(docs, threshold=t).collect()
        )
        assert got == want, (t, got, want)
    assert (1, 3, 1.0) in {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in OPD.jaccard_pairs_prefix(docs, threshold=1.0).collect()
    }


def test_simhash_recall_vs_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r.doc_a, r.doc_b)
        for r in OPD.jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert truth, "fixture should contain planted near-dups"
    sim = {(r.doc_a, r.doc_b) for r in OPD.simhash_near_dups(docs, max_hamming=6).collect()}
    recall = len(truth & sim) / len(truth)
    assert recall >= 0.85, f"simhash recall {recall:.2f} over {len(truth)} true pairs"


def test_minhash_lsh_finds_planted_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard for r in OPD.jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in OPD.minhash_lsh_dedup(docs, threshold=0.8).collect()}
    # LSH output is a subset (candidates then exact verify) with high recall
    assert lsh <= set(exact)
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"minhash-lsh recall {recall:.2f}"


def test_minhash_filter_against_corpus(spark, sf_dir):
    """Asymmetric near-dup: incoming docs near-identical to a corpus doc
    are dropped, genuinely new docs survive, and the decision agrees with
    brute-force cross-side Jaccard (no false drops; recall ≥ 0.9 on
    planted copies).  Id spaces deliberately overlap."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    # incoming: near-copies of corpus docs (one word appended — Jaccard
    # stays ≥0.9 for fixture-length docs) + disjoint-vocabulary fresh docs,
    # with ids RE-USED from the corpus range to prove spaces are separate
    copies = corpus.where(F.col("doc_id") < 40).select(
        "doc_id", F.concat(F.col("text"), F.lit(" tail")).alias("text")
    )
    fresh = docs.where(F.col("doc_id") % 2 == 1).limit(20).select(
        "doc_id", F.regexp_replace("text", r"(\S+)", "$1_new").alias("text")
    )
    incoming = copies.unionByName(fresh)

    kept = OPD.minhash_filter_against(corpus, incoming, threshold=0.8)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    fresh_ids = {r.doc_id for r in fresh.select("doc_id").collect()}
    copy_ids = {r.doc_id for r in copies.select("doc_id").collect()}

    # fresh docs share no shingles with the corpus: all must survive
    assert fresh_ids <= kept_ids
    # planted near-copies are dropped with LSH-recall-bounded misses
    dropped = copy_ids - kept_ids
    assert len(dropped) / len(copy_ids) >= 0.9, f"only dropped {dropped}"
    # agreement with brute force: nothing kept has a true ≥0.8 match
    sh_c = OPD.word_shingles(corpus).select(F.col("doc_id").alias("doc_ref"), "shingle")
    sh_i = OPD.word_shingles(kept).select(F.col("doc_id").alias("doc_new"), "shingle")
    n_ref = sh_c.groupBy("doc_ref").count().withColumnRenamed("count", "n_ref")
    n_new = sh_i.groupBy("doc_new").count().withColumnRenamed("count", "n_new")
    true_pairs = (
        sh_i.join(sh_c, "shingle")
        .groupBy("doc_new", "doc_ref")
        .agg(F.count("*").alias("n_inter"))
        .join(n_ref, "doc_ref")
        .join(n_new, "doc_new")
        .where(
            F.col("n_inter") / (F.col("n_new") + F.col("n_ref") - F.col("n_inter")) >= 0.8
        )
    )
    assert true_pairs.count() == 0, "kept an incoming doc with a true >=0.8 match"

    # empty corpus: everything survives
    empty = corpus.where(F.lit(False))
    assert OPD.minhash_filter_against(empty, incoming).count() == incoming.count()


def test_minhash_lsh_leaves_cache_manager_flat(spark):
    """minhash_lsh_dedup's internal intermediates must not accumulate
    CacheManager entries across invocations (they are localCheckpointed,
    not cache()d — repeated curate() calls in one session would otherwise
    leak executor storage for the session's lifetime)."""
    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i % 4}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    for _ in range(3):
        OPD.minhash_lsh_dedup(docs, threshold=0.8).collect()
        assert cm.isEmpty(), "minhash_lsh_dedup left CacheManager entries behind"


def test_cosine_fast_matches_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    c = emb.where(F.col("vec_id") >= 5)
    exact = {(r.q_id, r.rank): r.c_id for r in OPS.cosine_topk_exact(q, c, k=5).collect()}
    fast = {(r.q_id, r.rank): r.c_id for r in OPS.cosine_topk_pandas(q, c, k=5).collect()}
    assert exact == fast


def test_ann_lsh_recall(spark):
    """LSH recall is meaningful on clustered data (the fixture embeddings
    are near-uniform on the sphere — top-1 cosine ≈ 0.35 — where sublinear
    ANN cannot beat chance by construction). Synthesize 10 tight clusters
    and require high recall of true neighbours."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 32))
    rows = []
    vid = 0
    for ci in range(10):
        for _ in range(20):
            v = centers[ci] + 0.15 * rng.normal(size=32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") % 20 == 0)  # one query per cluster
    c = df.where(F.col("vec_id") % 20 != 0)
    exact = {(r.q_id, r.c_id) for r in OPS.cosine_topk_exact(q, c, k=5).collect()}
    approx = {
        (r.q_id, r.c_id)
        for r in OPS.ann_lsh_topk(q, c, k=5, n_planes=8, multiprobe=1).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"ann recall {recall:.2f} on clustered data"


def test_multimodal_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assets = OPM.synth_assets(docs)
    feats = OPM.extract_features(assets).collect()
    assert len(feats) == docs.count()
    by_id = {r.asset_id: r for r in feats}
    raw = {r.asset_id: r for r in assets.collect()}
    for aid, r in list(by_id.items())[:20]:
        assert r.header_magic == "feed"
        assert r.byte_len == len(raw[aid].payload)
        assert r.modality in ("image", "audio", "video")
        assert r.fake_width % 16 == 0 and 16 <= r.fake_width <= 1024
    # frame sampling explodes only video assets
    frames = OPM.frame_sample_stub(assets, every_n=10)
    vids = assets.where(F.col("modality") == "video").count()
    assert frames.select("asset_id").distinct().count() == vids

    # resize seam: images only, fixed-size binary out, deterministic
    thumbs = OPM.resize_stub(assets, width=8, height=4).collect()
    n_img = assets.where(F.col("modality") == "image").count()
    assert len(thumbs) == n_img and n_img > 0
    assert all(len(r.thumb) == 8 * 4 and r.width == 8 and r.height == 4 for r in thumbs)
    again = {r.asset_id: bytes(r.thumb) for r in OPM.resize_stub(assets, 8, 4).collect()}
    assert {r.asset_id: bytes(r.thumb) for r in thumbs} == again


def test_decoder_seam_matches_native_features(spark, sf_dir):
    """The mapInPandas decoder seam must emit exactly what the native
    column path emits — swapping in a real decoder changes only the seam
    body, and this pin is what licenses the native path to be the
    registered/hot one."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    assets = OPM.synth_assets(docs)
    native = {tuple(r) for r in OPM.extract_features(assets).collect()}
    seam = {tuple(r) for r in OPM.decode_features(assets).collect()}
    assert native == seam




def test_media_dedup_collapses_rewrapped_copies(spark):
    """Same codec body behind DIFFERENT container headers → one group
    (the EXIF-stripped-dedup semantic); different bodies stay apart;
    keeper is the min asset id."""
    rows = [
        (1, b"\xfe\xed\x00\x01" + b"same-bytes"),
        (2, b"\xfe\xed\x00\x99" + b"same-bytes"),   # re-wrapped copy
        (3, b"\xfe\xed\x00\x01" + b"other-bytes"),
    ]
    assets = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {r.content_hash: r for r in OPM.media_dedup_exact(assets).collect()}
    assert len(out) == 2
    groups = sorted((r.n_copies, r.keeper_id) for r in out.values())
    assert groups == [(1, 3), (2, 1)]


def test_multimodal_null_payload_is_per_row_not_per_batch(spark):
    """A NULL payload must null out that row's features/thumb, not fail
    the whole Arrow batch/task (round-6 advice, low) — and the decoder
    seam must keep matching the null-propagating native path."""
    rows = [
        (1, "image", bytes([0xFE, 0xED, 7, 11]) + b"x" * 60),
        (2, "image", None),
        (3, "audio", None),
        (4, "video", bytes([0xFE, 0xED, 2, 3]) + b"y" * 250),
        # short/truncated payloads: missing header bytes are NULL features
        # (matching JVM substring), never an IndexError killing the batch
        (5, "image", bytes([0xFE, 0xED])),
        (6, "audio", b""),
        (7, "video", bytes([0xFE, 0xED, 7])),
    ]
    assets = spark.createDataFrame(rows, "asset_id long, modality string, payload binary")

    native = {tuple(r) for r in OPM.extract_features(assets).collect()}
    seam = {tuple(r) for r in OPM.decode_features(assets).collect()}
    assert native == seam
    by_id = {r.asset_id: r for r in OPM.decode_features(assets).collect()}
    assert by_id[2].byte_len is None and by_id[2].checksum is None
    assert by_id[1].header_magic == "feed"
    assert by_id[5].fake_width is None and by_id[5].fake_height is None
    assert by_id[6].header_magic == "" and by_id[6].byte_len == 0
    assert by_id[7].fake_width is not None and by_id[7].fake_height is None

    thumbs = {r.asset_id: r.thumb for r in OPM.resize_stub(assets, 8, 4).collect()}
    assert set(thumbs) == {1, 2, 5}  # images only, null + short rows included
    assert thumbs[2] is None
    assert len(thumbs[1]) == 32 and len(thumbs[5]) == 32


def test_decode_stub_gated():
    import pytest

    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow unexpectedly present")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        OPM.decode_image(b"\x89PNG\r\n")


def test_ivf_recall(spark):
    """IVF probes the right centroid buckets on clustered data."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 32))
    rows, vid = [], 0
    for ci in range(8):
        for _ in range(25):
            v = centers[ci] + 0.12 * rng.normal(size=32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") % 25 == 0)
    c = df.where(F.col("vec_id") % 25 != 0)
    exact = {(r.q_id, r.c_id) for r in OPS.cosine_topk_exact(q, c, k=5).collect()}
    approx = {
        (r.q_id, r.c_id)
        for r in OPP.ivf_topk_portable(q, c, k=5, n_centroids=8, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"ivf recall {recall:.2f}"


def test_cosine_filter_against_corpus(spark, sf_dir):
    """Asymmetric embedding filter: exact copies of corpus vectors are
    dropped deterministically (identical bucket => candidate always
    forms), every drop is justified by a true >=threshold match (no
    false drops), and an empty corpus passes everything."""
    from pyspark.sql import functions as F

    from eth_event_tracker_spark.operators import similarity as OPS

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.where(F.col("vec_id") % 2 == 0)
    # incoming: positively-scaled copies (cosine 1, same bucket) with
    # RE-USED ids + the odd half as candidate novel vectors
    copies = corpus.where(F.col("vec_id") < 60).select(
        "vec_id", F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding")
    )
    novel = emb.where(F.col("vec_id") % 2 == 1).limit(60)
    incoming = copies.unionByName(novel)

    thr = 0.5
    kept = OPS.cosine_filter_against(corpus, incoming, threshold=thr, n_planes=6)
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    copy_ids = {r.vec_id for r in copies.select("vec_id").collect()}
    assert not (copy_ids & kept_ids), "exact copies must always be dropped"

    # no false drops: every dropped novel vector has a true match
    dropped_novel = novel.join(kept, "vec_id", "left_anti")
    a = dropped_novel.select(F.col("vec_id").alias("id_new"), F.col("embedding").alias("va"))
    b = corpus.select(F.col("vec_id").alias("id_ref"), F.col("embedding").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda s, x: s + x))
    best = (
        a.crossJoin(F.broadcast(b))
        .select("id_new", (dot / (na * nb)).alias("cos"))
        .groupBy("id_new")
        .agg(F.max("cos").alias("best"))
    )
    assert best.where(F.col("best") < thr).count() == 0, "false drop detected"

    # empty corpus: identity
    empty = corpus.where(F.lit(False))
    assert OPS.cosine_filter_against(empty, incoming, threshold=thr).count() == incoming.count()


def test_near_dup_lsh_subset_of_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    exact = {(r.id_a, r.id_b) for r in OPS.cosine_near_dup_pairs(emb, threshold=0.3).collect()}
    lsh = {
        (r.id_a, r.id_b)
        for r in OPS.cosine_near_dup_pairs_lsh(emb, threshold=0.3, n_planes=6).collect()
    }
    assert lsh <= exact or not exact  # LSH verifies exactly, so no false positives


def test_ngram_decontaminate(spark):
    """A train doc identical to an eval doc is fully contaminated; a
    disjoint-vocabulary doc is 0; the eval docs themselves never appear."""
    from eth_event_tracker_spark.operators import text as OPT

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # == eval 100
            (2, "one two three four five six seven eight nine"),  # disjoint
        ],
        "doc_id long, text string",
    )
    holdout = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in OPT.ngram_decontaminate(train, holdout, n=5).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].contamination == 1.0 and rows[1].n_hit == rows[1].n_grams
    assert rows[2].contamination == 0.0 and rows[2].n_hit == 0


def test_redact_pii(spark):
    from eth_event_tracker_spark.operators import text as OPT

    df = spark.createDataFrame(
        [(1, "mail a@b.io and c.d@e.org call 555-123-4567 from 10.0.0.1 ok")],
        "doc_id long, text string",
    )
    r = OPT.redact_pii(df).collect()[0]
    assert (r.n_email, r.n_phone, r.n_ipv4) == (2, 1, 1)
    assert r.redacted == "mail <EMAIL> and <EMAIL> call <PHONE> from <IPV4> ok"


def test_repetition_scores(spark):
    from eth_event_tracker_spark.operators import text as OPT

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),  # fully repetitive
            (2, "one two three four"),  # fully unique
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in OPT.repetition_scores(df).collect()}
    assert rows[1].dup_word_frac == 0.75 and rows[1].top_word_frac == 1.0
    assert rows[1].dup_2gram_frac == 1.0 - 1 / 3
    assert rows[2].dup_word_frac == 0.0 and rows[2].top_word_frac == 0.25
    assert rows[2].dup_2gram_frac == 0.0


def test_redact_pii_idempotent_and_bounded(spark):
    """Redaction is idempotent (tags contain no redactable text) and
    contamination/repetition scores stay in [0, 1] on adversarial input."""
    from eth_event_tracker_spark.operators import text as OPT

    rows = [
        (1, "a@b.io 10.1.2.3 555-111-2222 a@b.io"),
        (2, "@ . - 1.2 555- x@y 999-999-99999 1.2.3.4.5"),
        (3, "plain words only here"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = OPT.redact_pii(df).select("doc_id", F.col("redacted").alias("text"))
    twice = OPT.redact_pii(once)
    for r in twice.collect():
        assert (r.n_email, r.n_phone, r.n_ipv4) == (0, 0, 0), r
    rep = OPT.repetition_scores(df.where(F.col("doc_id") < 4))
    for r in rep.collect():
        assert 0.0 <= r.dup_word_frac <= 1.0 and 0.0 <= r.top_word_frac <= 1.0
        assert r.dup_2gram_frac is None or 0.0 <= r.dup_2gram_frac <= 1.0


def test_dup_clusters_connected_components(spark):
    """Transitive chains collapse to one component labeled by its min id;
    disjoint pairs stay separate; a path whose diameter far exceeds
    max_iter still converges (pointer jumping gives O(log diameter)
    rounds — plain min-label propagation would need diameter rounds and
    silently return split components at the round cap)."""
    pairs = spark.createDataFrame(
        # component {1,2,3,4} as a chain, component {10,11} as one pair,
        # component {20..100} as a long path (diameter 80 > max_iter)
        [(1, 2), (2, 3), (3, 4), (10, 11)] + [(i, i + 1) for i in range(20, 100)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in OPD.dup_clusters(pairs).collect()}
    assert {k: v for k, v in got.items() if k < 10} == {1: 1, 2: 1, 3: 1, 4: 1}
    assert {k: v for k, v in got.items() if 10 <= k < 20} == {10: 10, 11: 10}
    assert {k: v for k, v in got.items() if k >= 20} == {i: 20 for i in range(20, 101)}


def test_stratified_sample_deterministic_and_rate_bounded(spark, sf_dir):
    """Hash sampling is (a) identical across evaluations and under
    repartitioning, (b) monotone in the rate (rate r1 < r2 → sample(r1) ⊆
    sample(r2)), (c) within binomial bounds of the target rate."""
    from eth_event_tracker_spark.operators.sampling import hash_sample, stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    s1 = sorted(r.doc_id for r in hash_sample(docs, 0.3).select("doc_id").collect())
    s2 = sorted(
        r.doc_id for r in hash_sample(docs.repartition(13), 0.3).select("doc_id").collect()
    )
    assert s1 == s2 and s1, "hash sample must not depend on partition layout"
    s_small = {r.doc_id for r in hash_sample(docs, 0.1).select("doc_id").collect()}
    assert s_small <= set(s1), "lower rate must be a subset (nested samples)"
    n = docs.count()
    assert 0.2 * n <= len(s1) <= 0.4 * n, f"rate 0.3 sample of {n} gave {len(s1)}"
    mixed = stratified_sample(docs, {"en": 1.0}, default_rate=0.0)
    langs = {r.lang for r in mixed.select("lang").distinct().collect()}
    assert langs == {"en"}, "default_rate=0 must drop every other stratum"


def test_pack_sequences_first_fit(spark):
    """Within one shard, seq_id advances exactly when the running word
    count crosses the budget; chunk order is (doc, chunk)."""
    from eth_event_tracker_spark.operators.text import pack_sequences

    chunks = spark.createDataFrame(
        [(1, 0, "a", 30), (1, 1, "b", 30), (2, 0, "c", 30), (3, 0, "d", 10)],
        "doc_id long, chunk_id long, chunk string, n_words long",
    )
    packed = pack_sequences(chunks, budget_words=64, n_shards=1).collect()
    seq = {(r.doc_id, r.chunk_id): r.seq_id for r in packed}
    # cumulative-before: 0, 30, 60, 90 → floor(/64): 0, 0, 0, 1
    assert seq == {(1, 0): 0, (1, 1): 0, (2, 0): 0, (3, 0): 1}
    assert all(r.shard == 0 for r in packed)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=15, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=60,
    )
)
def test_dup_clusters_matches_union_find(spark, edges):
    """Min-label propagation must agree with a driver-side union-find on
    arbitrary random graphs (cycles, chains, stars, self-dups filtered)."""
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in OPD.dup_clusters(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    assert got == want


# ---------------------------------------------------------------------------
# Corpus partitioning (operators/splits.py)
# ---------------------------------------------------------------------------
def test_per_stratum_cap_exact_and_branches(spark, sf_dir):
    """Kept count per stratum is exactly min(n, cap) with a cap that
    exercises BOTH branches (under-cap strata bypass, over-cap strata
    window); the kept set is the cap smallest hash60 values, so a rerun
    under different partitioning is identical."""
    from eth_event_tracker_spark.operators.splits import per_stratum_cap

    docs = load_table(spark, sf_dir, "documents")
    n_by_lang = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    cap = 100
    assert min(n_by_lang.values()) <= cap < max(n_by_lang.values()), "cap must split branches"

    kept = per_stratum_cap(docs, cap, stratum_col="lang")
    got = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {lang: min(n, cap) for lang, n in n_by_lang.items()}

    # determinism: repartitioned input keeps the identical id set
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    ids2 = {
        r.doc_id
        for r in per_stratum_cap(docs.repartition(13), cap, stratum_col="lang")
        .select("doc_id")
        .collect()
    }
    assert ids == ids2


def test_per_stratum_cap_skew_prefilter_matches_exact(spark, sf_dir):
    """The mega-stratum hash pre-filter (margin 4) must keep the cap
    exact on the fixture — same ids as the unfiltered path."""
    from eth_event_tracker_spark.operators.splits import per_stratum_cap

    docs = load_table(spark, sf_dir, "documents")
    for cap in (25, 100):
        exact = {
            r.doc_id
            for r in per_stratum_cap(docs, cap, stratum_col="lang").select("doc_id").collect()
        }
        fast = {
            r.doc_id
            for r in per_stratum_cap(docs, cap, stratum_col="lang", skew_margin=4.0)
            .select("doc_id")
            .collect()
        }
        assert fast == exact


def test_per_stratum_cap_counts_join_is_broadcast(spark, sf_dir):
    from eth_event_tracker_spark.operators.splits import per_stratum_cap
    from .test_plans import plan_of

    plan = plan_of(per_stratum_cap(load_table(spark, sf_dir, "documents"), 100, "lang"))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_leakage_safe_split_coherence_and_weights(spark):
    """Exact-dup coherence: equal texts always share a split; near-dup
    cluster coherence: joining dup_clusters reps keeps every cluster on
    one side of the train/eval boundary; band weights are honored on a
    large uniform corpus."""
    from eth_event_tracker_spark.operators.splits import leakage_safe_split

    n = 4000
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text"), (F.col("id") % 500).cast("string")).alias("text"),
    )
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_split(base, w, coherence_col="text")
    # 8 copies of each distinct text -> each text in exactly one split
    per_text = out.groupBy("text").agg(F.countDistinct("split").alias("k")).collect()
    assert all(r.k == 1 for r in per_text)
    # weights honored over the 500 distinct coherence keys (binomial 3σ)
    frac = {r.split: r.n / 500 for r in
            out.select("text", "split").distinct().groupBy("split").agg(F.count("*").alias("n")).collect()}
    for name, wgt in w.items():
        sigma = (wgt * (1 - wgt) / 500) ** 0.5
        assert abs(frac.get(name, 0.0) - wgt) < 4 * sigma + 0.01, (name, frac)

    # near-dup cluster coherence: pairs (2i, 2i+1) are clusters; hash the rep
    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    pairs = spark.range(100).select(
        (F.col("id") * 2).alias("doc_a"), (F.col("id") * 2 + 1).alias("doc_b")
    )
    clusters = OPD.dup_clusters(pairs)  # doc_id -> cluster_id (min member)
    with_rep = docs.join(clusters, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("rep")
    )
    split = leakage_safe_split(with_rep, w, coherence_col="rep")
    spans = (
        split.join(clusters, "doc_id")
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("k"))
        .where("k > 1")
        .count()
    )
    assert spans == 0, "a near-dup cluster crossed the split boundary"


def test_shuffle_shards_is_permutation(spark, sf_dir):
    """(shard, seq) must be a reproducible bijection: every input row
    appears once, seq is dense 1..n_s within each shard, shards are
    hash-balanced, and a repartitioned rerun is identical."""
    from eth_event_tracker_spark.operators.splits import shuffle_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    out = shuffle_shards(docs, 8)
    rows = out.collect()
    assert len(rows) == n
    assert len({(r.shard, r.seq) for r in rows}) == n
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.seq)
    for shard, seqs in by_shard.items():
        assert sorted(seqs) == list(range(1, len(seqs) + 1)), f"shard {shard} seq not dense"
    assert max(len(s) for s in by_shard.values()) < 2.5 * n / 8, "shards badly unbalanced"
    again = {(r.doc_id, r.shard, r.seq) for r in shuffle_shards(docs.repartition(7), 8).collect()}
    assert again == {(r.doc_id, r.shard, r.seq) for r in rows}


def test_write_training_shards_layout(spark, sf_dir, tmp_path):
    """On-disk contract: one file per shard directory, and the file's row
    order IS the seq order (parquet preserves write order; the dataloader
    streams it without sorting)."""
    import glob

    import pyarrow.parquet as pq

    from eth_event_tracker_spark.operators.splits import shuffle_shards, write_training_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, n_shards=8)

    expected = {}
    for r in shuffle_shards(docs, 8).collect():
        expected.setdefault(r.shard, []).append((r.seq, r.doc_id))
    for shard, pairs in expected.items():
        files = glob.glob(f"{path}/shard={shard}/*.parquet")
        assert len(files) == 1, f"shard {shard}: expected one file, got {files}"
        on_disk = pq.read_table(files[0]).to_pydict()
        want_ids = [d for _, d in sorted(pairs)]
        assert on_disk["doc_id"] == want_ids, f"shard {shard} not in training order"
        assert on_disk["seq"] == sorted(s for s, _ in pairs)


# ---------------------------------------------------------------------------
# Splits ops vs a pure-Python sha-256 model: hash60 is sha-based, so the
# whole decision function is replicable driver-side — randomized tables
# must agree exactly (the same cross-engine guarantee the DuckDB oracle
# checks, exercised over adversarial shapes the fixture lacks: empty
# strata, all-over-cap, single-row, colliding weights).
# ---------------------------------------------------------------------------
import hashlib as _hashlib

from hypothesis import strategies as _st


def _py_hash60(s: str, seed: int) -> int:
    return int(_hashlib.sha256(f"{seed}:{s}".encode()).hexdigest()[:15], 16)


_TABLES = _st.lists(
    _st.tuples(_st.integers(0, 400), _st.sampled_from("abcd")),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],
)


@settings(max_examples=12, deadline=None)
@given(rows=_TABLES, cap=_st.integers(1, 6))
def test_per_stratum_cap_matches_python_model(spark, rows, cap):
    from eth_event_tracker_spark.operators.splits import per_stratum_cap

    df = spark.createDataFrame(rows, "doc_id long, src string")
    want = set()
    by_s: dict[str, list[tuple[int, int]]] = {}
    for k, s in rows:
        by_s.setdefault(s, []).append((_py_hash60(str(k), 0), k))
    for s, items in by_s.items():
        want |= {k for _, k in sorted(items)[:cap]}
    for margin in (None, 4.0):
        got = {
            r.doc_id
            for r in per_stratum_cap(
                df, cap, stratum_col="src", skew_margin=margin
            ).collect()
        }
        assert got == want, f"margin={margin}"


@settings(max_examples=12, deadline=None)
@given(rows=_TABLES, n_shards=_st.integers(1, 5))
def test_shuffle_shards_matches_python_model(spark, rows, n_shards):
    from eth_event_tracker_spark.operators.splits import shuffle_shards

    df = spark.createDataFrame(rows, "doc_id long, src string")
    got = {(r.doc_id, r.shard, r.seq) for r in shuffle_shards(df, n_shards).collect()}
    by_shard: dict[int, list[tuple[int, int, int]]] = {}
    for k, _ in rows:
        by_shard.setdefault(_py_hash60(str(k), 0) % n_shards, []).append(
            (_py_hash60(str(k), 1), k)
        )
    want = set()
    for shard, items in by_shard.items():
        for seq, (_, k) in enumerate(sorted(items), start=1):
            want.add((k, shard, seq))
    assert got == want


def test_table_profile_general_types(spark):
    """Profile handles nulls, timestamps, booleans, and complex types in
    one pass: complex columns get counts only; approx distinct stays
    within HLL bounds of exact."""
    from datetime import datetime

    from eth_event_tracker_spark.operators.profile import table_profile

    rows = [
        (1, 2.5, "a", datetime(2020, 1, 1), True, [1, 2]),
        (2, None, "b", datetime(2021, 6, 1), False, [3]),
        (3, 7.5, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "k long, x double, s string, ts timestamp, b boolean, arr array<int>"
    )
    prof = {r.column: r for r in table_profile(df, approx=False).collect()}
    assert set(prof) == {"k", "x", "s", "ts", "b", "arr"}
    assert (prof["k"].n_nonnull, prof["k"].n_distinct) == (3, 3)
    assert (prof["k"].min_num, prof["k"].max_num) == (1.0, 3.0)
    assert (prof["x"].n_nonnull, prof["x"].min_num, prof["x"].max_num) == (2, 2.5, 7.5)
    assert prof["x"].min_str is None
    assert (prof["s"].n_nonnull, prof["s"].min_str, prof["s"].max_str) == (2, "a", "b")
    assert prof["ts"].min_str.startswith("2020-01-01")
    assert prof["b"].min_str == "false" and prof["b"].max_str == "true"
    # complex type: counts only
    assert prof["arr"].n_nonnull == 2
    assert prof["arr"].min_num is None and prof["arr"].min_str is None
    # approx tier: distinct within HLL rsd of exact
    aprof = {r.column: r for r in table_profile(df).collect()}
    for c in prof:
        assert abs(aprof[c].n_distinct - prof[c].n_distinct) <= max(
            1, int(0.15 * prof[c].n_distinct)
        )


def test_table_profile_empty_table(spark):
    from eth_event_tracker_spark.operators.profile import table_profile

    df = spark.createDataFrame([], "k long, s string")
    prof = {r.column: r for r in table_profile(df, approx=False).collect()}
    assert (prof["k"].n_nonnull, prof["k"].n_distinct) == (0, 0)
    assert prof["k"].min_num is None and prof["s"].min_str is None


@settings(max_examples=12, deadline=None)
@given(
    rows=_TABLES,
    w=_st.tuples(_st.floats(0.05, 1), _st.floats(0.05, 1), _st.floats(0.05, 1)),
)
def test_leakage_safe_split_matches_python_model(spark, rows, w):
    from eth_event_tracker_spark.operators.splits import leakage_safe_split

    df = spark.createDataFrame(rows, "doc_id long, src string")
    weights = {"train": w[0], "val": w[1], "test": w[2]}
    got = {r.doc_id: r.split for r in leakage_safe_split(df, weights).collect()}
    total = sum(w)
    t1, t2 = int(w[0] / total * (1 << 60)), int((w[0] + w[1]) / total * (1 << 60))
    want = {}
    for k, _ in rows:
        h = _py_hash60(str(k), 0)
        want[k] = "train" if h < t1 else ("val" if h < t2 else "test")
    assert got == want


# ---------------------------------------------------------------------------
# TF-IDF (operators/text.tf_idf)
# ---------------------------------------------------------------------------
def test_tf_idf_matches_python_model(spark):
    import math

    from eth_event_tracker_spark.operators.text import tf_idf

    corpus = [
        (1, "spark engine shuffle shuffle shuffle join"),
        (2, "spark engine join catalyst"),
        (3, "tomato soup recipe tomato basil"),
        (4, "spark spark spark spark"),
        (5, "the"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r.doc_id, r.term): (r.tf, r.score)
        for r in tf_idf(df, k=2).collect()
    }
    # python model
    docs = {i: t.split() for i, t in corpus}
    n = len(docs)
    dfreq: dict[str, int] = {}
    for toks in docs.values():
        for t in set(toks):
            dfreq[t] = dfreq.get(t, 0) + 1
    want = {}
    for i, toks in docs.items():
        tfs: dict[str, int] = {}
        for t in toks:
            tfs[t] = tfs.get(t, 0) + 1
        scored = sorted(
            (
                (t, c, round(c * (math.log((n + 1.0) / (dfreq[t] + 1.0)) + 1.0), 6))
                for t, c in tfs.items()
            ),
            key=lambda x: (-x[2], x[0]),
        )[:2]
        for t, c, s in scored:
            want[(i, t)] = (c, s)
    assert got == want
    # the repeated distinctive term dominates its doc
    top1 = {r.doc_id: r.term for r in tf_idf(df, k=1).collect()}
    assert top1[1] == "shuffle" and top1[3] == "tomato" and top1[4] == "spark"


def test_tf_idf_rare_term_outranks_common_at_equal_tf(spark):
    from eth_event_tracker_spark.operators.text import tf_idf

    # 'common' appears in all 4 docs, 'rare' only in doc 0 — equal tf in
    # doc 0, so idf alone must decide the ranking
    rows = [(0, "common rare")] + [(i, "common filler%d" % i) for i in range(1, 4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = [x.term for x in tf_idf(df, k=2).where("doc_id = 0").collect()]
    assert r[0] == "rare" and r[1] == "common"


# ---------------------------------------------------------------------------
# Semantic dedup (operators/semantic_portable.semantic_dedup_portable — SemDeDup shape)
# ---------------------------------------------------------------------------
def _semdedup_fixture(spark):
    """24 base vectors in 3 well-separated directions + planted near-copies."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    # three orthogonal-ish anchor directions, 8 docs each with small spread
    anchors = np.eye(3)
    vid = 0
    for a in range(3):
        base = np.zeros(8)
        base[a] = 1.0
        for _ in range(8):
            v = base + rng.normal(0, 0.35, 8)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    # planted near-copies of vectors 0, 9, 17 (same direction, tiny noise)
    for src in (0, 9, 17):
        v = np.array(rows[src][1]) + rng.normal(0, 0.005, 8)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), [24, 25, 26]


def test_semantic_dedup_drops_planted_copies_keeps_rest(spark):
    df, copies = _semdedup_fixture(spark)
    kept = OPP.semantic_dedup_portable(df, threshold=0.995, n_clusters=4)
    kept_ids = {r.vec_id for r in kept.collect()}
    # every planted copy's GROUP lost exactly its non-minimal members:
    # copy ids (24,25,26) duplicate originals (0,9,17) — min id wins
    assert all(c not in kept_ids for c in copies)
    assert {0, 9, 17} <= kept_ids
    # nothing else dropped at this near-exact threshold
    assert kept_ids == set(range(24))
    # full row survives untouched
    assert set(kept.columns) == {"vec_id", "embedding"}


def test_semantic_dup_pairs_subset_of_exact(spark):
    df, _ = _semdedup_fixture(spark)
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in OPS.cosine_near_dup_pairs(df, threshold=0.9).collect()
    }
    sem = {
        (r.id_a, r.id_b): r.cosine
        for r in OPP.semantic_dup_pairs_portable(df, threshold=0.9, n_clusters=4).collect()
    }
    assert set(sem) <= set(exact)
    assert all(sem[k] == exact[k] for k in sem)  # identical rounded cosines
    # the planted near-copies are same-cluster by construction → found
    assert {(0, 24), (9, 25), (17, 26)} <= set(sem)


def test_semantic_dedup_chain_collapses_to_one_keeper(spark):
    import numpy as np

    # A~B and B~C near-dup chains where A~C alone may be sub-threshold:
    # components must still keep only A
    base = np.ones(8)
    step = np.zeros(8)
    step[0] = 0.26
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base + step]),
        (2, [float(x) for x in base + 2 * step]),
        (10, [float(1 - 2 * (i % 2)) * float(i + 1) for i in range(8)]),  # unrelated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {r.vec_id for r in OPP.semantic_dedup_portable(df, threshold=0.995, n_clusters=2).collect()}
    assert kept == {0, 10}


def test_semantic_dup_pairs_auto_k_scales_with_corpus(spark, sf_dir):
    """n_clusters=None derives k = max(16, min(4096, N // 256)): tiny
    corpora keep the legacy 16; a corpus of ~26k rows must get a bigger
    k (we assert on the documented formula via a direct call)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # behavior contract at small N: auto == legacy 16 → same pairs
    auto = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in OPP.semantic_dup_pairs_portable(emb, threshold=0.85, n_clusters=None).collect()
    )
    legacy = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in OPP.semantic_dup_pairs_portable(emb, threshold=0.85, n_clusters=16).collect()
    )
    n = emb.count()
    if max(16, min(4096, n // 256)) == 16:
        assert auto == legacy
    else:
        assert len(auto) > 0


def test_unigram_logprob_matches_python_model(spark):
    import math

    from eth_event_tracker_spark.operators.text import unigram_logprob

    corpus = [
        (1, "the the the cat"),
        (2, "the dog"),
        (3, "zyzzyva"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.logprob) for r in unigram_logprob(df).collect()}
    toks = {i: t.split() for i, t in corpus}
    cnt: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            cnt[t] = cnt.get(t, 0) + 1
    total = sum(cnt.values())
    want = {}
    for i, ts in toks.items():
        s = sum(round(math.log(cnt[t] / total) * 1e9) for t in ts)
        want[i] = (len(ts), s / len(ts) / 1e9)
    assert got == want
    # fluent (common-token) text outranks the rare-token doc
    assert got[1][1] > got[3][1] and got[2][1] > got[3][1]


# ---------------------------------------------------------------------------
# Property fuzz: tf_idf / unigram_logprob vs exact python models on
# random corpora (empty docs included — they still count toward N)
# ---------------------------------------------------------------------------
_DOC_TEXTS = _st.lists(
    _st.tuples(
        _st.integers(0, 500),
        _st.lists(_st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), max_size=12).map(" ".join),
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@settings(max_examples=12, deadline=None)
@given(rows=_DOC_TEXTS)
def test_tf_idf_matches_model_on_random_corpora(spark, rows):
    import math

    from eth_event_tracker_spark.operators.text import tf_idf

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.term): (r.tf, r.score) for r in tf_idf(df, k=2).collect()}
    n = len(rows)
    dfreq: dict[str, int] = {}
    toks = {i: [w for w in t.split() if w] for i, t in rows}
    for ws in toks.values():
        for t in set(ws):
            dfreq[t] = dfreq.get(t, 0) + 1
    want = {}
    for i, ws in toks.items():
        tfs: dict[str, int] = {}
        for t in ws:
            tfs[t] = tfs.get(t, 0) + 1
        top = sorted(
            ((t, c, round(c * (math.log((n + 1.0) / (dfreq[t] + 1.0)) + 1.0), 6)) for t, c in tfs.items()),
            key=lambda x: (-x[2], x[0]),
        )[:2]
        for t, c, s in top:
            want[(i, t)] = (c, s)
    assert got == want


@settings(max_examples=12, deadline=None)
@given(rows=_DOC_TEXTS)
def test_unigram_logprob_matches_model_on_random_corpora(spark, rows):
    import math

    from eth_event_tracker_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.logprob) for r in unigram_logprob(df).collect()}
    toks = {i: [w for w in t.split() if w] for i, t in rows}
    cnt: dict[str, int] = {}
    for ws in toks.values():
        for t in ws:
            cnt[t] = cnt.get(t, 0) + 1
    total = sum(cnt.values())
    want = {}
    for i, ws in toks.items():
        if not ws:
            continue  # token-less docs emit no score row
        s = sum(round(math.log(cnt[t] / total) * 1e9) for t in ws)
        want[i] = (len(ws), s / len(ws) / 1e9)
    assert got == want


def test_pq_adc_recall_with_rerank(spark):
    """PQ ADC + exact rerank on clustered data: ≥0.8 recall of the true
    euclidean top-5, and the reranked distances are the TRUE distances
    (bit-exact vs a numpy fold model)."""
    import numpy as np

    rng = np.random.default_rng(13)
    centers = rng.normal(size=(10, 32))
    rows = []
    vid = 0
    for ci in range(10):
        for _ in range(20):
            v = centers[ci] + 0.15 * rng.normal(size=32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") % 20 == 0)
    c = df.where(F.col("vec_id") % 20 != 0)

    books = OPP.pq_train_portable(c, m=8, k=16, n_train=190)
    codes = OPP.pq_encode_portable(c, books)
    got = OPP.pq_adc_topk_portable(q, codes, books, k=5).collect()

    # numpy exact euclidean top-5 model
    vecs = {r[0]: np.asarray(r[1], dtype=np.float32).astype(np.float64) for r in rows}
    c_ids = [r[0] for r in rows if r[0] % 20 != 0]
    exact = set()
    for qid in (r[0] for r in rows if r[0] % 20 == 0):
        d = sorted(
            ((float(((vecs[qid] - vecs[cid]) ** 2).sum()), cid) for cid in c_ids)
        )[:5]
        exact |= {(qid, cid) for _, cid in d}
    approx = {(r.q_id, r.vec_id) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"pq recall {recall:.2f}"
    # reranked dist is the true squared distance (ordered-fold exact)
    for r in got:
        acc = 0.0
        qv, cv = vecs[r.q_id], vecs[r.vec_id]
        for a, b in zip(qv, cv):
            acc += (a - b) * (a - b)
        assert r.dist == acc, f"rerank dist not exact for {(r.q_id, r.vec_id)}"
    assert all(1 <= r.rank <= 5 for r in got)


def test_pq_registry_entry_shape(spark, sf_dir):
    from eth_event_tracker_spark.queries.llmdata import embedding_pq_topk

    out = embedding_pq_topk(spark, sf_dir).collect()
    assert len(out) == 25  # 5 queries × top-5
    assert all(1 <= r.rank <= 5 for r in out)
    per_q = {}
    for r in out:
        per_q.setdefault(r.q_id, []).append(r.dist)
    assert all(sorted(v) == v for v in (sorted(per_q[k]) for k in per_q))


def _bpe_python(word_counts: dict[str, int], n_merges: int):
    """Reference BPE: classic dict implementation, ties broken by
    lexicographically smallest (a, b), greedy left-first merge."""
    vocab = {tuple(w): n for w, n in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        new_vocab = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges, vocab


def test_bpe_train_matches_python_model(spark):
    from eth_event_tracker_spark.operators.text import bpe_segment, bpe_train

    texts = [
        "low lower lowest low low",
        "newer newest new new newer",
        "wider wide widest wider",
        "low new wide lowest",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    wc: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1

    n_merges = 10
    want_merges, want_vocab = _bpe_python(wc, n_merges)
    got_merges = bpe_train(df, n_merges=n_merges)
    assert got_merges == want_merges

    # applying the learned merges reproduces the model's segmentation
    words_df = spark.createDataFrame([(w,) for w in wc], "text string")
    seg = {r.text: tuple(r.bpe_syms) for r in bpe_segment(words_df, got_merges).collect()}
    model_seg = {"".join(k): k for k in want_vocab}
    assert seg == model_seg


def test_bpe_merge_overlap_left_first(spark):
    """[a,a,a] with pair (a,a) must become [aa, a] — greedy left-first."""
    from eth_event_tracker_spark.operators.text import bpe_segment

    df = spark.createDataFrame([("aaa",), ("aaaa",), ("baaab",)], "text string")
    seg = {r.text: list(r.bpe_syms) for r in bpe_segment(df, [("a", "a")]).collect()}
    assert seg == {"aaa": ["aa", "a"], "aaaa": ["aa", "aa"], "baaab": ["b", "aa", "a", "b"]}


def test_fuzzy_pairs_matches_brute_force(spark):
    from eth_event_tracker_spark.operators.text import fuzzy_pairs

    names = [
        "widget", "widgets", "wìdget", "gadget", "gadgets", "bracket",
        "brackets", "rocket", "socket", "sprocket", "sprockets", "gizmo",
        "gizmos", "small ring", "small rings", "smal ring", "red widget",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    for d in (1, 2):
        want = {
            (a, b, lev(a, b))
            for i, a in enumerate(names)
            for b in names[i + 1 :]
            if lev(a, b) <= d and len(a) >= 2 * d + 2 and len(b) >= 2 * d + 2
        }
        want = {(min(a, b), max(a, b), x) for a, b, x in want}
        got = {(r.s_a, r.s_b, r.dist) for r in fuzzy_pairs(df, "name", max_dist=d).collect()}
        assert got == want, f"d={d}: {got ^ want}"


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(
    names=st.lists(st.text(alphabet="abc", min_size=6, max_size=10), min_size=2, max_size=15),
    d=st.integers(1, 2),
)
def test_fuzzy_pairs_fuzz_vs_model(names, d, spark):
    """Random small-alphabet strings (forcing dense near-matches) vs the
    DP levenshtein model — the q-gram candidate stage must lose nothing."""
    from eth_event_tracker_spark.operators.text import fuzzy_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    uniq = sorted(set(names))
    min_len = 2 * d + 2
    want = {
        (a, b, lev(a, b))
        for i, a in enumerate(uniq)
        for b in uniq[i + 1 :]
        if len(a) >= min_len and len(b) >= min_len and lev(a, b) <= d
    }
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {(r.s_a, r.s_b, r.dist) for r in fuzzy_pairs(df, "name", max_dist=d).collect()}
    assert got == want


def test_weighted_sample_follows_weights_and_is_stable(spark):
    """A-ES without replacement: rows with 9× the weight dominate the
    sample ∝ weight; the winner set is identical under repartitioning
    (hash lottery, not RNG); the global path returns exactly n rows."""
    from eth_event_tracker_spark.operators.sampling import weighted_sample

    rows = [(i, 9.0 if i % 2 == 0 else 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = weighted_sample(df, 200, "w")
    ids = {r.doc_id for r in got.collect()}
    assert len(ids) == 200
    heavy = sum(1 for i in ids if i % 2 == 0)
    # expected heavy share = 9/10 before depletion; loose bound
    assert heavy > 150, heavy
    ids2 = {r.doc_id for r in weighted_sample(df.repartition(32), 200, "w").collect()}
    assert ids2 == ids


def test_weighted_sample_per_stratum_quota(spark):
    from eth_event_tracker_spark.operators.sampling import weighted_sample

    rows = [(i, "a" if i < 300 else "b", 1.0 + (i % 7)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w double")
    out = weighted_sample(df, 50, "w", stratum_col="g").groupBy("g").count().collect()
    cnt = {r.g: r["count"] for r in out}
    assert cnt == {"a": 50, "b": 50}
