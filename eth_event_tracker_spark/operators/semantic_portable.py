"""Engine-portable SemDeDup: k-means whose every float decision is
bit-replayable by a DuckDB twin (round-9 verdict item 1).

The rows-only blocker on ``semantic_dedup_emb`` was k-means float order:
seeding used normalize-then-BLAS-matmul similarities and the Lloyd update
was a float mean — both orders an oracle cannot replay.  This module
re-expresses the SAME algorithm (hash-ordered sample → greedy
farthest-point seeding → Lloyd rounds → within-cluster exact-cosine
pairs → min-id components) with the round-9 integer-unit recipe that
promoted pagerank (queries/relational.py pagerank_cosupply docstring):

* vectors quantize ONCE to BIGINT 1e-6 units (``F.round(x*1e6)``) — the
  only lossy step, applied identically by both engines;
* every cross-row aggregate is an exact INTEGER sum (sample dot
  products, Lloyd centroid updates), order-independent by construction —
  centroids are carried as raw integer component SUMS, never divided:
  cosine is scale-invariant so the mean's 1/n cancels;
* every remaining float expression is a fixed-length sequence of
  correctly-rounded IEEE ops on exactly-representable integer inputs
  (int→double casts of values < 2^53, one multiply per element folded
  LEFT-TO-RIGHT from a 0.0 accumulator, one sqrt, one divide) — the
  lsh_bucket/MMR fold discipline, so Spark, numpy, pure python and
  DuckDB all produce bit-identical scores;
* argmax tie-breaks on lowest centroid id (numpy first-max ==
  ``row_number() OVER (ORDER BY score DESC, cid)``).

Reference semantics: SemDeDup (Abbas et al. 2023); reference repo
analogue: none (the Go tracker has no embedding ops) — this extends the
LLM-data surface.

100 TB shape: the driver holds only the k×d integer centroid matrix and
the ≤max(k, 256)-row sample; assignment is an Arrow-batched pandas UDF
(one pass per Lloyd round); updates are map-side-combined integer sums;
the pair join is an equality join on centroid_id; components run on
pairs only.  ``collapse_exact`` pre-groups bit-identical vectors before
the pair join exactly like the LSH/SemDeDup tiers (identical raw vectors
quantize identically, hence share a cluster)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import hash60

_UNIT = 1_000_000.0  # quantization: BIGINT units of 1e-6


def _fold64(a, b) -> float:
    """Strict left-to-right double fold of element products from a 0.0
    accumulator — the exact sequence of `_duck_fold_dot` and the pandas
    UDF's per-dimension loop."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _nonzero_norms(cents: list[list[int]]) -> list[float]:
    """sqrt(self-dot) per centroid, refusing zero: a Lloyd update whose
    members cancel to the all-zero sum would score NaN for every row,
    and NaN ORDERING is where the engines diverge (np.argmax/lexsort vs
    DuckDB's NaN-greatest) — fail loud like build_portable_centroids'
    seeding guard instead of silently drifting from the twin
    (round-11 advice)."""
    norms = [math.sqrt(_fold64(c, c)) for c in cents]
    if any(n == 0.0 for n in norms):
        raise ValueError(
            "portable k-means: a centroid summed to the zero vector — "
            "its cosine scores would be NaN and the DuckDB twin orders "
            "NaN differently; filter zero-norm rows out upstream"
        )
    return norms


def quantized(vec_col) -> F.Column:
    """The vector in integer units: round(x * 1e6) per component —
    F.round is the same round-half-away-from-zero both engines apply."""
    return F.transform(
        vec_col, lambda x: F.round(x.cast("double") * F.lit(_UNIT)).cast("long")
    )


def build_portable_centroids(
    qdf: DataFrame,
    n_clusters: int,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vq_col: str = "vq",
    lloyd_df: DataFrame | None = None,
    weight_col: str | None = None,
) -> list[list[int]]:
    """Greedy farthest-point seeding + ``n_iters`` Lloyd rounds, every
    step integer-exact or fixed-order IEEE:

    * sample = first ``max(k, min(256, 32k))`` rows by
      (hash60(id, "ivf"), id) — a deterministic, unbiased subset
      whatever the id layout correlates with (an id-ordered prefix would
      seed every centroid from one cluster when ids follow topic or
      ingest time);
    * seed sims: exact integer dots, one cast, one divide by the two
      sqrt'd self-dot casts; argmin ties -> lowest sample index
      (list.index / DuckDB list_position semantics);
    * Lloyd update: centroid := exact integer component SUM of its
      members (no division — cosine ignores scale); empty clusters keep
      their previous coordinates.

    ``lloyd_df``/``weight_col`` (round-11): run the Lloyd rounds over a
    PRE-COLLAPSED table of distinct quantized vectors with their
    multiplicities instead of the full corpus — identical vectors
    assign identically and the update is a plain integer sum, so
    Σ_corpus vq == Σ_groups cnt·vq EXACTLY and the centroids are
    bit-identical to the full-corpus run (pinned in tests) while the
    per-round assignment scores |distinct| rows instead of |corpus|
    (250× less at 300× duplication).  Seeding always samples from
    ``qdf`` (the full corpus) — the sample is id-hash-ordered and
    duplicate-aware by contract.

    Returns centroids as python-int lists (exact, overflow-free)."""
    n_sample = max(n_clusters, min(256, 32 * n_clusters))
    sample = (
        qdf.select(id_col, vq_col)
        .orderBy(hash60(F.col(id_col).cast("string"), F.lit("ivf")), id_col)
        .limit(n_sample)
        .collect()
    )
    if not sample:
        raise ValueError("build_portable_centroids: empty corpus")
    s = [[int(x) for x in r[1]] for r in sample]
    ns = len(s)
    # pairwise sims in one exact int64 matmul: INTEGER dot products are
    # order-independent (unlike float folds), so any summation order
    # matches the twin's list_reduce bit-for-bit; the float expression
    # that follows — cast / (sqrt(cast) * sqrt(cast)) — is the pinned
    # elementwise IEEE sequence both engines replay.  Magnitude bound:
    # |vq| ≤ ~1e8 ⇒ per-pair dot ≤ 64·1e16 < 2^63.
    s_np = np.array(s, dtype=np.int64)
    gram = s_np @ s_np.T
    self_dots = np.diag(gram)
    if (self_dots == 0).any():
        # an all-zero sampled vector would make its seed similarities
        # 0/0 = NaN, and NaN ORDERING is the one place the engines
        # genuinely diverge (np.argmin propagates NaN, DuckDB sorts it
        # greatest) — fail loud here rather than silently drift from
        # the twin; zero vectors carry no direction to cluster anyway
        raise ValueError(
            "build_portable_centroids: all-zero vector in the seeding "
            "sample — filter zero-norm rows out upstream"
        )
    rt = np.sqrt(self_dots.astype(np.float64))
    sims = gram.astype(np.float64) / (rt[:, None] * rt[None, :])

    chosen = [0]
    minsim = sims[0].copy()
    while len(chosen) < min(n_clusters, ns):
        nxt = int(np.argmin(minsim))  # leftmost min — both engines
        chosen.append(nxt)
        minsim = np.maximum(minsim, sims[nxt])
    # degenerate corpus (fewer sample rows than k): stop at min(k, ns)
    # centroids — the DuckDB twin's seedlist carries LEAST(k, n_sample)
    # entries, and a cycle-padded duplicate here would drift from it
    # after the first Lloyd round (the low-cid copy updates, the stale
    # pad keeps seed coords) and let rows argmax onto a centroid id the
    # twin does not have (round-11 advice)
    cents = [list(s[i]) for i in chosen]

    lf = lloyd_df if lloyd_df is not None else qdf
    w = F.col(weight_col) if weight_col is not None else F.lit(1).cast("long")
    for _ in range(n_iters):
        assigned = assign_portable(lf, cents, id_col, vq_col)
        sums = (
            assigned.select("centroid_id", w.alias("_w"), F.posexplode(vq_col).alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.sum(F.col("_w") * F.col("x")).alias("s"))  # exact BIGINT — order-independent
            .collect()
        )
        by_c: dict[int, dict[int, int]] = {}
        for r in sums:
            by_c.setdefault(r.centroid_id, {})[r.pos] = int(r.s)
        cents = [
            [by_c[ci][p] for p in sorted(by_c[ci])] if ci in by_c else cents[ci]
            for ci in range(len(cents))
        ]
    return cents


def assign_portable(
    df: DataFrame, cents: list[list[int]], id_col: str = "vec_id", vq_col: str = "vq"
) -> DataFrame:
    """Tag each quantized vector with its portable nearest centroid:
    score = fold64(vq, c) / sqrt(fold64(c, c)) (the row's own norm is
    constant across centroids, so it cancels out of the argmax), ties ->
    lowest centroid id.  Arrow-batched; the per-dimension accumulator
    loop IS the left-to-right fold the DuckDB twin replays."""
    from pyspark.sql.functions import pandas_udf

    k = len(cents)
    cents_np = np.array(cents, dtype=np.float64)  # exact: |sums| < 2^53
    cnorm = _nonzero_norms(cents)
    dim = len(cents[0])

    cnorm_np = np.asarray(cnorm, dtype=np.float64)

    @pandas_udf("int")
    def nearest(vqs: pd.Series) -> pd.Series:
        m = np.stack(vqs.to_numpy()).astype(np.float64)
        # accumulate over d for ALL centroids at once (round 11): each
        # scores[i, c] still receives m[i, d]·c[d] additions in the same
        # left-to-right d order as the per-centroid loop, so every score
        # is IEEE-bit-identical to the fold the DuckDB twin replays —
        # the python-level loop shrinks from k·dim to dim iterations.
        scores = np.zeros((len(m), k))
        for d in range(dim):
            scores += m[:, d, None] * cents_np[None, :, d]
        scores /= cnorm_np[None, :]
        # first-max == ORDER BY score DESC, cid ASC
        return pd.Series(np.argmax(scores, axis=1).astype(np.int32))

    return df.withColumn("centroid_id", nearest(F.col(vq_col)))


def semantic_dup_pairs_portable(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[int]] | None = None,
    collapse_exact: bool = True,
    n_rows: int | None = None,
) -> DataFrame:
    """Within-cluster pairs (id_a, id_b, cosine), id_a < id_b, cosine =
    round(ordered-fold dot / (norm_a * norm_b), 9) on the RAW doubles
    (the cosine_near_dup_pairs rounding) over candidates that meet
    through an equality join on the portable k-means centroid_id.
    Pairs split across clusters are invisible by design — the SemDeDup
    recall trade for a bounded candidate set.  auto-k =
    max(16, min(4096, N // 256)) — the linear-total-work contract: a
    fixed k grows within-cluster candidates as (N/k)², k ∝ N keeps the
    expected cluster size constant.  ``collapse_exact`` groups
    bit-identical vectors before the join and expands afterwards
    (identical vectors quantize identically, hence share a cluster, so
    the pair set is unchanged)."""
    from .similarity import _dbl_dot, _expand_exact_groups

    if n_clusters is None:
        if n_rows is None:
            n_rows = df.count()
        n_clusters = max(16, min(4096, n_rows // 256))
    if centroids is None:
        qdf = df.select(id_col, quantized(F.col(vec_col)).alias("vq")).localCheckpoint(
            eager=False
        )
        centroids = build_portable_centroids(qdf, n_clusters, 2, id_col, "vq")
    if collapse_exact:
        return _expand_exact_groups(
            df,
            lambda reps: semantic_dup_pairs_portable(
                reps, threshold, n_clusters, id_col, vec_col,
                centroids=centroids, collapse_exact=False,
            ),
            threshold,
            id_col,
            vec_col,
            round_digits=9,
        )
    v = F.col(vec_col)
    tagged = (
        assign_portable(
            df.select(id_col, vec_col, quantized(v).alias("vq")), centroids, id_col, "vq"
        )
        .withColumn("nrm", F.sqrt(_dbl_dot(v, v)))
        .select(id_col, vec_col, "centroid_id", "nrm")
        .localCheckpoint(eager=False)
    )
    a = tagged.select(
        "centroid_id", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("nrm").alias("na")
    )
    b = tagged.select(
        "centroid_id", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.join(b, "centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(_dbl_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 9),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hashed_tfidf_units(
    df: DataFrame, dim: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, vq array<long>): signed feature hashing of smooth TF-IDF
    into exact INTEGER cells — the engine's one TF-IDF embedding.  The
    hash and the weights are integer so the SQL oracle can replay them
    exactly (xxhash64 and summed float weights could not be).

    * index = hash60(term, "tfidx") mod dim; sign from one more
      hash60 bit — both pure-SQL in either engine;
    * per-term weight = tf · round((ln((n+1)/(df+1)) + 1) · 1e3) —
      the quantize-the-ln convention of quality_unigram_logprob (ln
      inputs are exact integer ratios, ≤1-ulp across engines, and the
      e3 rounding absorbs it); cells are exact BIGINT sums, order-
      independent by construction;
    * NO L2 normalization: the portable k-means scores by
      dot(v, c)/|c|, which is invariant to the scale of v, so the
      cluster geometry does not need unit vectors (Lloyd means weight
      longer docs more — documented, deliberate).

    Magnitude bound (int64 + seed-dot safety): |cell| ≤ tokens/doc ·
    ~1.2e4 ≲ 1e7, so a 64-dim integer self-dot stays < 2^53."""
    from .text import words

    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(id_col).distinct().agg(F.count("*").alias("_n"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    sign = F.when(F.pmod(hash60(F.col("term"), F.lit("tfsgn")), F.lit(2)) == 0, F.lit(1)).otherwise(
        F.lit(-1)
    )
    w_e3 = F.round(
        (F.log((F.col("_n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)) * F.lit(1e3)
    ).cast("long")
    cells = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.pmod(hash60(F.col("term"), F.lit("tfidx")), F.lit(dim)).cast("int").alias("idx"),
            (sign * F.col("tf") * w_e3).alias("v"),
        )
        .groupBy(id_col, "idx")
        .agg(F.sum("v").alias("v"))
    )
    return (
        cells.groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("idx", "v"))).alias("m"))
        .select(
            id_col,
            F.expr(f"transform(sequence(0, {dim - 1}), i -> coalesce(m[i], 0L))").alias("vq"),
        )
    )


def topic_balanced_portable(
    df: DataFrame,
    n_topics: int = 8,
    per_topic_cap: int = 1000,
    dim: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Topic-balanced sample: integer hashed-TFIDF cells → the
    portable k-means → per-topic deterministic hash cap
    (splits.per_stratum_cap, already oracle-proven), so a dominant topic
    is capped while minority topics survive whole.  Every decision —
    feature hash, seeding, Lloyd rounds, assignment argmax, cap ranking
    — replays bit-for-bit in the DuckDB twin.  Docs whose text yields
    no tokens have no feature cells and are excluded."""
    from .splits import per_stratum_cap

    vecs = hashed_tfidf_units(df, dim, text_col, id_col).localCheckpoint(eager=False)
    cents = build_portable_centroids(vecs, n_topics, 2, id_col, "vq")
    assigned = assign_portable(vecs, cents, id_col, "vq").select(id_col, "centroid_id")
    kept = per_stratum_cap(
        df.join(assigned, id_col), per_topic_cap, stratum_col="centroid_id", key_col=id_col
    )
    return kept.drop("centroid_id")


def probe_portable(
    df: DataFrame,
    cents: list[list[int]],
    n_probe: int,
    vq_col: str = "vq",
    out_col: str = "probes",
) -> DataFrame:
    """Append ``out_col``: the top-``n_probe`` centroid ids by the SAME
    portable score assign_portable uses (fold64(vq, c) / |c|), ordered
    (score desc, cid asc) — lexsort, so a boundary tie keeps the lowest
    cid exactly like the twin's ROW_NUMBER."""
    from pyspark.sql.functions import pandas_udf

    k = len(cents)
    cents_np = np.array(cents, dtype=np.float64)
    cnorm = _nonzero_norms(cents)
    dim = len(cents[0])
    n_out = min(n_probe, k)

    cnorm_np = np.asarray(cnorm, dtype=np.float64)

    @pandas_udf("array<int>")
    def probes_of(vqs: pd.Series) -> pd.Series:
        m = np.stack(vqs.to_numpy()).astype(np.float64)
        # same d-ordered accumulation as assign_portable.nearest (round
        # 11): bit-identical scores, k·dim → dim python iterations
        scores = np.zeros((len(m), k))
        for d in range(dim):
            scores += m[:, d, None] * cents_np[None, :, d]
        scores /= cnorm_np[None, :]
        cids = np.arange(k)
        out = [
            np.lexsort((cids, -scores[i]))[:n_out].astype(np.int32)
            for i in range(len(m))
        ]
        return pd.Series(out)

    return df.withColumn(out_col, probes_of(F.col(vq_col)))


def ivf_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """IVF ANN with the portable k-means: corpus assigns once to
    integer-sum centroids (the index build), each query probes its
    ``n_probe`` nearest centroids by the portable score, candidates meet
    via the centroid_id equality join, and the probed buckets rerank on
    the exact ordered-fold cosine of the RAW doubles.  Output
    (q_id, c_id, rank ≤ k, cosine), ties by c_id; ``exclude_self``
    (default True) drops q_id == c_id pairs.  Every decision is
    replayable by the SQL twin."""
    from .similarity import _dbl_dot

    cq = corpus.select(id_col, vec_col, quantized(F.col(vec_col)).alias("vq")).localCheckpoint(
        eager=False
    )
    cents = (
        centroids
        if centroids is not None
        else build_portable_centroids(cq, n_centroids, 2, id_col, "vq")
    )
    tagged = assign_portable(cq, cents, id_col, "vq").select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv"), "centroid_id"
    )
    qq = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        quantized(F.col(vec_col)).alias("vq"),
    )
    qb = probe_portable(qq, cents, n_probe).select(
        "q_id", "qv", F.explode("probes").alias("centroid_id")
    )
    cand = qb.join(tagged, "centroid_id")
    if exclude_self:
        cand = cand.where(F.col("q_id") != F.col("c_id"))
    nq = F.sqrt(_dbl_dot(F.col("qv"), F.col("qv")))
    nc = F.sqrt(_dbl_dot(F.col("cv"), F.col("cv")))
    scored = cand.withColumn("cosine", _dbl_dot(F.col("qv"), F.col("cv")) / (nq * nc))
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", "cosine")
    )


def ivf_tune_nprobe_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    target_recall: float = 0.9,
    max_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> tuple[int, list[dict]]:
    """Pick the SMALLEST ``n_probe`` whose mean recall@k on the query
    sample meets ``target_recall`` — the closed loop the recall monitor
    (similarity.ann_recall) only reports on.

    Returns ``(n_probe, curve)`` where curve is
    ``[{"n_probe": p, "mean_recall": r}, ...]`` for every level 1 ..
    ``max_probe`` (default ``n_centroids``; probing every centroid is
    the exact scan, so any target ≤ 1.0 is met).  The whole curve is
    one job: candidates carry the probe position of their bucket,
    explode to every level they are visible at, and one window
    partitioned by (q_id, level) ranks all levels at once.

    Both float-order seams are replayable: probe order comes from
    probe_portable's lexsort over the portable scores (np.argsort's
    unstable quicksort could order tied centroids differently from the
    twin's ROW_NUMBER), and the per-level mean recall is an
    exact-integer mean — per-query recall (an exact ints ratio)
    quantizes to 1e-9 units (exact: recalls are multiples of 1/k) and
    the level mean is SUM(units)/n/1e9, order-independent (F.avg over
    doubles is not)."""
    from .similarity import _dbl_dot, cosine_topk_exact
    from pyspark.sql import Window

    max_probe = min(max_probe or n_centroids, n_centroids)
    cq = corpus.select(id_col, vec_col, quantized(F.col(vec_col)).alias("vq")).localCheckpoint(
        eager=False
    )
    cents = build_portable_centroids(cq, n_centroids, 2, id_col, "vq")
    tagged = assign_portable(cq, cents, id_col, "vq").select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv"), "centroid_id"
    )
    qq = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        quantized(F.col(vec_col)).alias("vq"),
    )
    qb = probe_portable(qq, cents, max_probe).select(
        "q_id", "qv", F.posexplode("probes").alias("probe_pos", "centroid_id")
    )
    cand = qb.join(tagged, "centroid_id")
    if exclude_self:
        cand = cand.where(F.col("q_id") != F.col("c_id"))
    nq = F.sqrt(_dbl_dot(F.col("qv"), F.col("qv")))
    nc = F.sqrt(_dbl_dot(F.col("cv"), F.col("cv")))
    scored = cand.select(
        "q_id", "c_id", "probe_pos",
        (_dbl_dot(F.col("qv"), F.col("cv")) / (nq * nc)).alias("cosine"),
    )
    truth = cosine_topk_exact(queries, corpus, k, id_col, vec_col)
    if exclude_self:
        truth = truth.where(F.col("q_id") != F.col("c_id"))
    truth = truth.select("q_id", "c_id")
    n_truth = truth.groupBy("q_id").agg(F.count("*").alias("n_truth"))
    lev = scored.select(
        "q_id", "c_id", "cosine",
        F.explode(F.sequence(F.col("probe_pos") + 1, F.lit(max_probe))).alias("level"),
    )
    w = Window.partitionBy("q_id", "level").orderBy(F.desc("cosine"), F.asc("c_id"))
    topk = (
        lev.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "level")
    )
    hits = topk.join(truth, ["q_id", "c_id"], "left_semi")
    levels = n_truth.sparkSession.range(1, max_probe + 1).select(
        F.col("id").cast("int").alias("level")
    )
    per_q = (
        n_truth.crossJoin(F.broadcast(levels))
        .join(
            hits.groupBy("q_id", "level").agg(F.count("*").alias("n_hit")),
            ["q_id", "level"],
            "left",
        )
        .select(
            "level",
            F.round(
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_truth").cast("double")
                * F.lit(1e9)
            ).cast("long").alias("r_e9"),
        )
    )
    rows = (
        per_q.groupBy("level")
        .agg(
            (F.sum("r_e9").cast("double") / F.count("*") / F.lit(1e9)).alias("mean_recall")
        )
        .orderBy("level")
        .collect()
    )
    curve = [
        {"n_probe": int(r.level), "mean_recall": float(r.mean_recall or 0.0)}
        for r in rows
    ]
    chosen = next(
        (pt["n_probe"] for pt in curve if pt["mean_recall"] >= target_recall),
        max_probe,
    )
    return chosen, curve


def _round_half_away(x: np.ndarray) -> np.ndarray:
    """round-half-away-from-zero, elementwise — Spark F.round / DuckDB
    round(DOUBLE) semantics (numpy's own half-even rounding would
    diverge); the single source for the documented rounding rule."""
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))


def pq_train_portable(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iters: int = 4,
    n_train: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """Engine-portable PQ codebooks: per-subspace Lloyd k-means over a
    hash60-ordered sample of e6-QUANTIZED vectors, every step exact or
    fixed-order —

    * seeds = the first k sample rows' subspace slices, cycled when
      the sample is shorter than k (surplus centroids start on
      duplicated seeds; encode's first-minimum argmin still works);
    * assignment: integer squared distances (order-independent exact
      sums — euclidean needs no fold discipline at all), first-minimum
      ties;
    * update: the new centroid component is round(sum/count) — one
      double division + one half-away round on exact integers, the
      pagerank-units recipe — so the EUCLIDEAN mean (where the cosine
      trick of carrying raw sums does not apply: scale changes
      distances) stays replayable.

    Returns (m, k, d/m) python ints.  Training runs on quantized units;
    the ~1e-6 relative quantization noise is far below the k=16-codes
    resolution (recall pinned in tests)."""
    qdf = corpus.select(id_col, quantized(F.col(vec_col)).alias("vq"))
    sample = (
        qdf.orderBy(hash60(F.col(id_col).cast("string"), F.lit("pq")), id_col)
        .limit(n_train)
        .collect()
    )
    if not sample:
        raise ValueError("pq_train_portable: corpus is empty")
    x = np.array([[int(v) for v in r[1]] for r in sample], dtype=np.int64)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    n = len(x)
    books: list[list[list[int]]] = []
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        # integer arithmetic throughout: distances and member sums are
        # EXACT int64 (order-independent — no fold discipline needed),
        # so vectorized numpy equals the twin's SQL bit-for-bit; only
        # the mean's round(sum/count) touches floats, and that is one
        # exact-int division + one half-away round per component
        cents = xs[np.arange(k) % n].copy()  # cycle-padded seeds
        for _ in range(n_iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # first-min ties, like the twin
            for j in range(k):
                mask = assign == j
                if mask.any():
                    sums = xs[mask].sum(axis=0)  # exact int64
                    mu = sums.astype(np.float64) / int(mask.sum())
                    cents[j] = _round_half_away(mu).astype(np.int64)
        books.append([[int(v) for v in row] for row in cents])
    return books


def pq_encode_portable(
    df: DataFrame,
    books: list[list[list[int]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """array<int> of m nearest-codebook codes over the QUANTIZED vector.
    All integer arithmetic — exact in ANY evaluation order — so an
    Arrow-batched int64 numpy argmin equals the twin's ROW_NUMBER
    (d2, j) bit-for-bit (np.argmin keeps the first minimum).  An earlier
    pure-Catalyst form nested the m·k·d/m codebook as 1024 literals
    inside two lambda levels and spent multiple seconds per action in
    analysis/codegen before touching a row; integers need no fold
    discipline, so the vectorized UDF is both the fast AND the portable
    shape."""
    from pyspark.sql.functions import pandas_udf

    m = len(books)
    dsub = len(books[0][0])
    books_np = np.array(books, dtype=np.int64)  # m × k × dsub

    @pandas_udf("array<int>")
    def enc(vqs: pd.Series) -> pd.Series:
        x = np.stack(vqs.to_numpy()).astype(np.int64)
        out = np.empty((len(x), m), dtype=np.int32)
        for s in range(m):
            xs = x[:, s * dsub : (s + 1) * dsub]
            d2 = ((xs[:, None, :] - books_np[s][None, :, :]) ** 2).sum(axis=2)
            out[:, s] = np.argmin(d2, axis=1)  # first-min ties
        return pd.Series(list(out))

    return (
        df.withColumn("_vq", quantized(F.col(vec_col)))
        .withColumn(out_col, enc(F.col("_vq")))
        .drop("_vq")
    )


def pq_adc_topk_portable(
    queries: DataFrame,
    corpus_codes: DataFrame,
    books: list[list[list[int]]],
    k: int = 5,
    shortlist: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
    exclude_self: bool = True,
) -> DataFrame:
    """ADC scan over integer LUTs (Σ_s lut[s][code_s] — exact BIGINT,
    order-free) + exact ordered-fold rerank on the raw doubles of the
    shortlist·k survivors.  Output (q_id, vec_id, dist, rank ≤ k), ties
    by id; ``exclude_self`` (default True) drops q_id == c_id pairs —
    pass False for cross-table id spaces."""

    m = len(books)
    n_cent = len(books[0])
    dsub = len(books[0][0])
    spark = queries.sparkSession
    qrows = queries.select(
        id_col, vec_col, quantized(F.col(vec_col)).alias("vq")
    ).collect()
    lut_rows = []
    for r in qrows:
        vq = [int(v) for v in r[2]]
        flat = []
        for s in range(m):
            sub = vq[s * dsub : (s + 1) * dsub]
            for j in range(n_cent):
                flat.append(sum((a - b) * (a - b) for a, b in zip(sub, books[s][j])))
        lut_rows.append((int(r[0]), [float(v) for v in r[1]], flat))
    luts = spark.createDataFrame(
        lut_rows, "q_id long, qv array<double>, lut array<long>"
    )
    c = F.col(codes_col)
    adc = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(F.col("lut"), s * n_cent + c[s] + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        corpus_codes.select(F.col(id_col).alias("c_id"), codes_col)
        .crossJoin(F.broadcast(luts.select("q_id", "lut")))
        .select("q_id", "c_id", adc.alias("adc_dist"))
    )
    if exclude_self:
        scored = scored.where(F.col("q_id") != F.col("c_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy("adc_dist", "c_id")
    short = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= shortlist * k)
        .join(
            corpus_codes.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")),
            "c_id",
        )
        .join(F.broadcast(luts.select("q_id", "qv")), "q_id")
    )
    exact = short.withColumn(
        "dist",
        F.aggregate(
            F.zip_with("qv", "cv", lambda a, b: (a - b.cast("double")) * (a - b.cast("double"))),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    w2 = Window.partitionBy("q_id").orderBy("dist", "c_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("q_id", F.col("c_id").alias(id_col), "dist", "rank")
    )


def semantic_dedup_portable(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse_exact: bool = True,
) -> DataFrame:
    """Portable SemDeDup end-to-end: portable within-cluster pairs →
    min-id connected components → drop non-minimum members; returns the
    surviving rows of ``df`` unchanged.  Chains (A~B, B~C) collapse to
    ONE keeper even when A~C itself was never a candidate — components,
    not per-pair rules, make the decision.

    DECISION FORM over exact-duplicate groups (round-11; the sf≈30
    smoke caught the quadratic: 3× the sf10 data took 8.4× the time —
    1742 s — because the pair EXPANSION emits C(d,2) rows per
    d-replica group, ~450M edges at 300× duplication, and the
    component propagation then shuffles all of them).  The dedup
    DECISION never needs the expanded clique: a group's star (rep →
    member) has exactly the clique's connectivity, so components run
    over rep-level near-dup pairs plus ONE edge per duplicate member —
    linear in the corpus.  Output-identical to the expanded form
    (pinned in tests; the DuckDB twin — which computes components over
    the full pair set — is unchanged and still hash-matches).  The
    quadratic pair tier (``semantic_dup_pairs_portable``) remains for
    pair-level audits, the `dedup_simhash` / `dedup_simhash_clusters`
    split applied here."""
    from .dedup import dup_clusters

    if not collapse_exact:
        pairs = semantic_dup_pairs_portable(
            df, threshold, n_clusters, id_col, vec_col, collapse_exact=False
        )
        comps = dup_clusters(pairs, "id_a", "id_b")
        drops = comps.where(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias(id_col)
        )
        return df.join(drops, id_col, "left_anti")

    if n_clusters is None:
        # auto-k from the FULL corpus size, exactly like the pair tier —
        # k must not depend on which form computes the components
        n_rows = df.count()
        n_clusters = max(16, min(4096, n_rows // 256))
    groups = (
        df.select(id_col, vec_col)
        .groupBy(vec_col)
        .agg(F.sort_array(F.collect_list(id_col)).alias("members"))
        .localCheckpoint(eager=False)
    )
    reps = groups.select(F.col("members").getItem(0).alias(id_col), F.col(vec_col))
    # centroids from the FULL corpus (sample order and Lloyd sums are
    # corpus-level contracts — the twin replays them over q) — but the
    # Lloyd rounds score the distinct-vq table with multiplicities,
    # which is sum-exact (see build_portable_centroids)
    qdf = df.select(id_col, quantized(F.col(vec_col)).alias("vq")).localCheckpoint(
        eager=False
    )
    grp_vq = (
        qdf.groupBy("vq")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("_cnt"))
        .localCheckpoint(eager=False)
    )
    cents = build_portable_centroids(
        qdf, n_clusters, 2, id_col, "vq", lloyd_df=grp_vq, weight_col="_cnt"
    )
    rep_pairs = semantic_dup_pairs_portable(
        reps, threshold, n_clusters, id_col, vec_col,
        centroids=cents, collapse_exact=False,
    ).select("id_a", "id_b")
    # group stars, under the SAME intra-pair admission rule as
    # _expand_exact_groups (sd > 0 keeps zero-vector groups edgeless;
    # the rounded self-cosine vs threshold mirrors the clique filter)
    v = F.col(vec_col)
    sd = F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    self_cos = F.round(F.col("sd") / (F.sqrt("sd") * F.sqrt("sd")), 9)
    stars = (
        groups.where(F.size("members") > 1)
        .withColumn("sd", sd)
        .where(F.col("sd") > 0)
        .where(self_cos >= F.lit(threshold))
        .select(
            F.col("members").getItem(0).alias("id_a"),
            F.explode(F.expr("slice(members, 2, size(members))")).alias("id_b"),
        )
    )
    comps = dup_clusters(rep_pairs.unionByName(stars), "id_a", "id_b")
    drops = comps.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drops, id_col, "left_anti")
