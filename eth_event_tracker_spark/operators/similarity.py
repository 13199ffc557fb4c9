"""Similarity search over embedding columns (array<float>).

Three tiers:
  - ``cosine_topk_exact``   — brute-force exact top-k, expressed with
    posexplode + decimal-sum dot products.  Deterministic to the bit (the
    decimal accumulation is order-independent), hence DuckDB-oracle-able.
    This is the correctness baseline.
  - ``cosine_topk_pandas``  — the throughput path: Arrow-batched pandas
    UDF doing the same dot products in numpy (BLAS), still exact math but
    float-order-dependent → verified by tests against the exact tier, not
    by the SQL oracle.
  - ``ann_lsh``             — the 100 TB path: random-hyperplane LSH
    bucketing (sign bits of portable-hashed hyperplanes), candidates meet
    through equality joins on bucket keys; recall measured vs brute force.

Scale notes: brute force is O(Q×N×d) — fine for reranking within buckets,
wrong as a global scan; LSH reduces candidates per query to a bucket.
The k-means tiers (IVF, its n_probe tuner, SemDeDup) and product
quantization live in ``semantic_portable``; they reuse ``_dbl_dot``,
``cosine_topk_exact`` and ``_expand_exact_groups`` from here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _dbl_dot(va, vb):
    """Row-local dot product as a strict left-to-right double fold.

    IEEE-754 double multiply/add are exactly specified, so two engines
    evaluating the SAME operation sequence produce bit-identical sums —
    the oracle (DuckDB ``list_reduce`` over a 0.0-prepended product
    list, queries/llmdata.py) folds in this exact order; verified with
    zero ULP mismatches over 44,850 real embedding pairs.  This replaced
    a decimal(38,18) accumulator (order-independent but ~3× slower —
    decimal adds don't vectorize): fixing the fold order makes plain
    doubles just as deterministic and keeps the whole expression in
    whole-stage codegen.  No explode, no join skew, no shuffle."""
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norms(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-vector L2 norm via the same ordered-fold sum of squares."""
    v = F.col(vec_col)
    return df.select(id_col, F.sqrt(_dbl_dot(v, v)).alias("norm"))


def cosine_topk_exact(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours per query, bit-deterministic.

    The small query side broadcasts against the corpus; each pair row
    computes its ordered-fold dot product locally (`_dbl_dot`), so the
    corpus never shuffles and the value matches the SQL oracle exactly."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv"))
    dots = (
        c.crossJoin(F.broadcast(q))
        .select("q_id", "c_id", _dbl_dot(F.col("qv"), F.col("cv")).alias("dot"))
    )
    qn = _norms(queries, id_col, vec_col).select(F.col(id_col).alias("q_id"), F.col("norm").alias("qn"))
    cn = _norms(corpus, id_col, vec_col).select(F.col(id_col).alias("c_id"), F.col("norm").alias("cn"))
    scored = (
        dots.join(F.broadcast(qn), "q_id")
        .join(F.broadcast(cn), "c_id")
        .withColumn("cosine", F.col("dot") / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        # 9-dp rounding absorbs the ≤1-ulp engine divergence in the final
        # double division/sqrt chain (sums themselves are decimal-exact)
        .select("q_id", "c_id", "rank", F.round("cosine", 9).alias("cosine"))
    )


def cosine_topk_pandas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Throughput tier: broadcast the query matrix, mapInPandas over the
    corpus computing per-partition partial top-k, then a tiny global
    top-k reduce — the shape that saturates executors at scale (corpus
    never shuffles; only Q×k candidate rows move per batch).

    ORACLE-GRADE since round 10: the per-pair arithmetic is the exact
    tier's (cosine_topk_exact) bit-for-bit — dot and self-dots as strict
    left-to-right folds (a per-dimension running accumulator, NOT a BLAS
    matmul whose pairwise summation reorders adds), then
    dot / (sqrt(ssq) * sqrt(ssc)) — so the result hash-matches the same
    DuckDB twin.  The per-batch shortlist keeps the top-k by the FULL
    (cosine desc, id asc) order (lexsort, not argpartition: an arbitrary
    tie at the k-boundary could otherwise drop the id the global window
    would have kept); the final 9-dp rounding happens once, JVM-side,
    exactly like the exact tier."""
    spark = queries.sparkSession
    qrows = queries.select(id_col, vec_col).collect()  # Q is small by contract
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    # per-query self-dot by the same fold (python floats == IEEE doubles)
    q_ss = np.array(
        [_py_fold_dot(r[1], r[1]) for r in qrows], dtype=np.float64
    )
    if (q_ss == 0.0).any():
        # a zero-norm vector yields cosine NaN, and NaN ORDERING is the
        # one place the tiers diverge: the batch shortlist's lexsort
        # puts NaN last while the global window (and the DuckDB oracle)
        # rank it FIRST in DESC order — fail loud rather than break the
        # bit-equality contract with the exact tier (round-11 advice)
        raise ValueError(
            "cosine_topk_pandas: zero-norm query vector — cosine would "
            "be NaN; filter zero-norm rows out upstream"
        )
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_ss))
    dim = q_mat.shape[1] if len(qrows) else 0

    def part(batches):
        ids, mat, ssq = bq.value
        for pdf in batches:
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            b = len(c_mat)
            dots = np.zeros((len(mat), b))
            ssc = np.zeros(b)
            for d in range(dim):  # left-to-right fold, vectorized per dim
                col = c_mat[:, d]
                dots += mat[:, d : d + 1] * col[None, :]
                ssc += col * col
            if (ssc == 0.0).any():
                # same NaN-ordering hazard as the query-side guard: the
                # shortlist would silently DROP the NaN row the exact
                # tier and the oracle rank first
                raise ValueError(
                    "cosine_topk_pandas: zero-norm corpus vector — "
                    "cosine would be NaN; filter zero-norm rows out "
                    "upstream"
                )
            sims = dots / (np.sqrt(ssq)[:, None] * np.sqrt(ssc)[None, :])
            top = min(k, b)
            for qi in range(len(ids)):
                # full (cosine desc, c_id asc) order — ties at the cut
                # keep the lowest id, matching the global window
                order = np.lexsort((c_ids, -sims[qi]))[:top]
                yield pd.DataFrame(
                    {
                        "q_id": np.full(top, ids[qi]),
                        "c_id": c_ids[order],
                        "cosine": sims[qi][order],
                    }
                )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        part, schema="q_id long, c_id long, cosine double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", F.round("cosine", 9).alias("cosine"))
    )


def _py_fold_dot(a, b) -> float:
    """Strict left-to-right double fold from a 0.0 accumulator — the
    driver-side twin of `_dbl_dot` (python floats are IEEE doubles)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def lsh_bucket(
    df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH signature: bit p = sign(v · h_p) where
    h_p[d] = sha-derived pseudo-random in [-1, 1) — deterministic across
    runs and machines.  Computed in an Arrow-batched pandas UDF; the
    per-plane dot folds LEFT-TO-RIGHT (np.add.accumulate — sequential by
    definition), NOT via BLAS matmul: pairwise summation can flip the
    sign of a near-zero dot by a ulp, and the fold order makes every
    bucket bit-reproducible by any engine replaying the same fold (the
    DuckDB oracle for embedding_near_dup_lsh embeds the plane constants
    as literals and replays exactly this).  Still one vectorized pass
    per plane across the Arrow batch — the 100 TB shape."""
    from pyspark.sql.functions import pandas_udf

    if dim is None:
        head = df.select(vec_col).head(1)
        if not head:  # empty input → empty output with the bucket column
            return df.withColumn("bucket", F.lit(0).cast("long"))
        dim = len(head[0][0])
    planes = np.array(
        [[_plane_component(p, d) for d in range(dim)] for p in range(n_planes)]
    )  # n_planes × dim

    @pandas_udf("long")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # B × dim
        out = np.zeros(len(m), dtype=np.int64)
        for p in range(n_planes):
            # strict left-to-right fold over the element products: a
            # running (B,) accumulator added column-by-column performs
            # the IDENTICAL IEEE add sequence as a cumulative sum's last
            # column, without materializing a B×dim temporary per plane
            # (round-9 advice)
            dots = np.zeros(len(m))
            for d in range(dim):
                dots += m[:, d] * planes[p, d]
            out |= (dots >= 0).astype(np.int64) << p
        return pd.Series(out)

    return df.withColumn("bucket", bucket_of(F.col(vec_col)))


def _plane_component(p: int, d: int) -> float:
    import hashlib

    h = int(hashlib.sha256(f"{p}:{d}".encode()).hexdigest()[:15], 16)
    return (h / float(1 << 60)) * 2.0 - 1.0


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: exact cosine rerank restricted to same-bucket
    candidates (equality join on the LSH bucket — never a cross join).

    ``exclude_self`` (the one convention, applied to EVERY tier — round-5
    advice): True drops q_id == c_id pairs (queries drawn from the
    corpus must not return themselves); pass False when queries and
    corpus come from different tables whose id spaces may coincide.

    ``multiprobe=1`` additionally probes every bucket at Hamming distance
    1 from the query's bucket (flip each plane bit) — the standard
    recall/cost knob: candidates grow ~(n_planes+1)×, still equality
    joins, no extra shuffle of the corpus."""
    head = corpus.select(vec_col).head(1)
    if not head:
        return corpus.sparkSession.createDataFrame(
            [], "q_id long, c_id long, rank long, cosine double"
        )
    dim = len(head[0][0])
    qb = lsh_bucket(queries, n_planes, id_col, vec_col, dim=dim).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"), "bucket"
    )
    if multiprobe >= 1:
        probes = F.array(
            F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        )
        qb = qb.withColumn("bucket", F.explode(probes))
    cb = lsh_bucket(corpus, n_planes, id_col, vec_col, dim=dim).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv"), "bucket"
    )
    cand = qb.join(cb, "bucket")
    if exclude_self:
        cand = cand.where(F.col("q_id") != F.col("c_id"))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nq = F.sqrt(F.aggregate(F.transform("qv", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda a, x: a + x))
    nc = F.sqrt(F.aggregate(F.transform("cv", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda a, x: a + x))
    scored = cand.withColumn("cosine", dot / (nq * nc))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", "cosine")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All unordered pairs with cosine ≥ threshold — embedding-based
    near-duplicate detection, exact (ordered-fold dots, oracle-matched).
    Quadratic by construction: restrict the input (or use
    ``cosine_near_dup_pairs_lsh``) at scale."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    dots = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _dbl_dot(F.col("va"), F.col("vb")).alias("dot"))
    )
    norms = _norms(df, id_col, vec_col)
    na = norms.select(F.col(id_col).alias("id_a"), F.col("norm").alias("na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("norm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .withColumn("cosine", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 9))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_filter_against(
    corpus: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric embedding near-dup filter: drop every ``incoming``
    vector whose cosine vs ANY ``corpus`` vector is >= threshold; return
    the surviving incoming rows.  The embedding-modality twin of
    dedup.minhash_filter_against - the corpus-extension shape.

    Scale shape: candidates meet through a bucket EQUALITY join between
    the incoming side's LSH buckets and the corpus's - at 100 TB
    ``corpus_buckets`` is a persisted table maintained incrementally, so
    the corpus side costs one equality join and zero recompute; the
    corpus never self-joins.  Multiprobe expands the INCOMING side only
    (the persisted corpus table is never exploded).  Exact copies are
    dropped deterministically: an identical (or positively scaled)
    vector lands in the identical bucket, so its candidate pair always
    forms and exact verification sees cosine 1."""
    if corpus_buckets is None:
        corpus_buckets = lsh_bucket(corpus, n_planes, id_col, vec_col)
    inc = lsh_bucket(incoming, n_planes, id_col, vec_col).localCheckpoint(eager=False)
    a = inc.select(F.col(id_col).alias("id_new"), F.col(vec_col).alias("va"), "bucket")
    if multiprobe >= 1:
        probes = F.array(
            F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        )
        a = a.withColumn("bucket", F.explode(probes))
    b = corpus_buckets.select(F.col(id_col).alias("id_ref"), F.col(vec_col).alias("vb"), "bucket")
    cand = a.join(b, "bucket").dropDuplicates(["id_new", "id_ref"])
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda s, x: s + x))
    doomed = (
        cand.withColumn("cosine", dot / (na * nb))
        .where(F.col("cosine") >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return incoming.join(doomed, id_col, "left_anti")


def _expand_exact_groups(
    df: DataFrame,
    rep_pair_fn,
    threshold: float,
    id_col: str,
    vec_col: str,
    round_digits: int | None = None,
) -> DataFrame:
    """Exact-duplicate pre-collapse shared by every pair tier: group
    BIT-identical vectors, run the (potentially quadratic) candidate
    join on one representative per group via ``rep_pair_fn(reps)``, then
    expand back to member pairs output-linearly.

    Why: a crawl-scale corpus is duplicate-heavy, and duplicated vectors
    multiply every candidate bucket/cluster — pairs grow with the SQUARE
    of the duplication factor (the sf≈1.0 smoke caught this twice: first
    in the LSH tier, 203 s → 2 s, then the same pattern in SemDeDup).
    With the collapse the join sees unique vectors only.

    Bit-equality with the uncollapsed join holds because identical
    vectors share identical fold arithmetic: every intra-group pair's
    cosine is ``sd / (sqrt(sd)·sqrt(sd))`` with ``sd`` the self dot, and
    every cross-group member pair reuses its representatives' cosine
    verbatim.  ``round_digits`` mirrors the tier's own rounding (the
    SemDeDup tier rounds to 9, the LSH tier doesn't round).

    Degenerate all-zero vectors: a group of bit-identical zero vectors
    has self-cosine 0/0 = NaN, which Spark's and DuckDB's comparison
    order both treat as greater than any threshold — the intra filter
    therefore guards ``sd > 0`` so zero groups emit NO pairs (a zero
    vector is not a duplicate of anything; round-9 advice).  The
    uncollapsed joins never pair a row with itself, so the guard only
    diverges from them on corpora containing ≥2 bit-identical all-zero
    vectors — excluded upstream in every registered pipeline."""
    groups = (
        df.select(id_col, vec_col)
        .groupBy(vec_col)
        .agg(F.sort_array(F.collect_list(id_col)).alias("members"))
        .localCheckpoint(eager=False)
    )
    reps = groups.select(F.col("members").getItem(0).alias(id_col), vec_col)
    rep_pairs = rep_pair_fn(reps)
    v = F.col(vec_col)
    self_dot = F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    # materialize the fold ONCE (round-8 advice: the inline form folded
    # each vector three times); the pair formula is dot/(sqrt·sqrt) so we
    # keep that exact arithmetic on the materialized value
    with_sd = (
        groups.where(F.size("members") > 1)
        .withColumn("sd", self_dot)
        # sd > 0 keeps 0/0 = NaN out of the intra pairs (NaN compares
        # greater than the threshold in BOTH engines — consistent but
        # surprising output for degenerate all-zero duplicate groups)
        .where(F.col("sd") > 0)
    )
    self_cos = F.col("sd") / (F.sqrt("sd") * F.sqrt("sd"))
    if round_digits is not None:
        self_cos = F.round(self_cos, round_digits)
    intra = (
        with_sd.select("members", self_cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .select(F.posexplode("members").alias("i", "id_a"), "members", "cosine")
        .select(
            "id_a",
            F.explode(F.expr("slice(members, i + 2, size(members))")).alias("id_b"),
            "cosine",
        )
    )
    ga = groups.select(
        F.col("members").getItem(0).alias("id_a"), F.col("members").alias("ms_a")
    )
    gb = groups.select(
        F.col("members").getItem(0).alias("id_b"), F.col("members").alias("ms_b")
    )
    cross = (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(F.explode("ms_a").alias("ma"), "ms_b", "cosine")
        .select("ma", F.explode("ms_b").alias("mb"), "cosine")
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "cosine",
        )
    )
    return cross.unionByName(intra.select("id_a", "id_b", "cosine"))


# Measured switch for the ids-only candidate shape below (guide §8:
# decide with small rows, move payloads once).  Below this row count the
# extra re-attach joins cost more fixed overhead than the vector bytes
# they save (round-11 interleaved A/B at sf0.1's 2k vectors: parity warm,
# 5.36 vs 5.12 s cold — a measured LOSS, so the bench scale keeps the
# in-place shape); above it the multiprobe explode and the candidate
# distinct stop carrying 2×dim doubles per row.
LSH_IDS_ONLY_MIN_ROWS = 10_000


def cosine_near_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse_exact: bool = True,
    ids_only: bool | None = None,
) -> DataFrame:
    """Scale path: LSH-bucketed candidate pairs, exact cosine verify —
    same no-cross-join shape as MinHash dedup.

    ``collapse_exact`` (default on) groups EXACT-identical vectors
    before the pair join and expands afterwards: a crawl-scale corpus is
    duplicate-heavy, and duplicated vectors multiply every LSH bucket —
    candidate pairs grow with the SQUARE of the duplication factor (the
    sf≈1.0 smoke caught exactly this: 10× replicated embeddings took the
    bucketed join from ~2 s to over the 150 s budget).  With the
    collapse, the join runs on unique vectors only and the duplicate
    pairs are generated output-linearly from the group member lists —
    bit-identical output (identical vectors share the identical fold
    arithmetic, so intra-group and expanded cross-group cosines equal
    the uncollapsed join's values).

    ``ids_only`` (round-12, guide §8): the in-place shape explodes every
    vector ``1 + n_planes`` ways through the multiprobe array, shuffles
    2×dim doubles per candidate through the bucket join AND the
    (id_a, id_b) distinct, and only then folds the cosine.  The ids-only
    shape runs the probe explode, bucket join and distinct on (id,
    bucket) METADATA, then re-attaches each side's vector ONCE by id for
    the verify — candidate decisions move ~16 bytes/row instead of ~1 KB.
    ``None`` decides from the MEASURED corpus size (the bucketed table is
    localCheckpointed anyway, so counting it is one cheap job):
    ids-only iff rows ≥ LSH_IDS_ONLY_MIN_ROWS, the same
    measured-statistic adaptivity as the dedup family's pre-collapse —
    the candidate set, fold arithmetic and output are bit-identical
    either way (pinned in tests)."""
    if collapse_exact:
        return _expand_exact_groups(
            df,
            lambda reps: cosine_near_dup_pairs_lsh(
                reps, threshold, n_planes, multiprobe, id_col, vec_col,
                collapse_exact=False, ids_only=ids_only,
            ),
            threshold,
            id_col,
            vec_col,
        )
    # both join sides read the bucketed table — cut lineage so the
    # pandas-UDF bucketing runs once, not twice
    tagged = lsh_bucket(df, n_planes, id_col, vec_col).localCheckpoint(eager=False)
    if ids_only is None:
        ids_only = tagged.count() >= LSH_IDS_ONLY_MIN_ROWS
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda s, x: s + x))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda s, x: s + x))
    if ids_only:
        a = tagged.select(F.col(id_col).alias("id_a"), "bucket")
        if multiprobe >= 1:
            a = a.withColumn("bucket", F.explode(probes))
        b = tagged.select(F.col(id_col).alias("id_b"), "bucket")
        cand = (
            a.join(b, "bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        va_t = tagged.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        vb_t = tagged.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        cand = cand.join(va_t, "id_a").join(vb_t, "id_b")
    else:
        a = tagged.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket")
        if multiprobe >= 1:
            a = a.withColumn("bucket", F.explode(probes))
        b = tagged.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket")
        cand = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b")).dropDuplicates(["id_a", "id_b"])
    return (
        cand.withColumn("cosine", dot / (na * nb))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ann_recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of an ANN tier against exact ground truth — the
    operational health check a production retrieval pipeline runs on a
    sampled query set after every index rebuild/append (the pytest
    recall pins, promoted to a queryable operator).

    Inputs are two result sets shaped (q_id, c_id, …) — typically
    :func:`cosine_topk_exact` on a query SAMPLE vs any ANN tier at the
    same k.  Output: (q_id, n_truth, n_hit, recall) per query; aggregate
    with one more tiny mean/min for the dashboard number and alert when
    a shifted corpus drags recall under target (re-train centroids /
    re-derive planes).

    100 TB shape: both inputs are |sample|·k rows by construction —
    one broadcast-size semi join + two bounded aggregates; the expensive
    side (the exact pass) is priced by the SAMPLE, never the corpus."""
    truth = exact.select("q_id", "c_id")
    hits = truth.join(
        approx.select("q_id", "c_id"), ["q_id", "c_id"], "left_semi"
    )
    n_t = truth.groupBy("q_id").agg(F.count("*").alias("n_truth"))
    n_h = hits.groupBy("q_id").agg(F.count("*").alias("n_hit"))
    return n_t.join(n_h, "q_id", "left").select(
        "q_id",
        "n_truth",
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        (
            F.coalesce("n_hit", F.lit(0)).cast("double")
            / F.col("n_truth").cast("double")
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): the third compression tier beside PQ.
# PQ quantizes SUBVECTORS against trained centroids (high ratio, needs
# training); SQ8 quantizes each DIMENSION to one byte against per-dim
# [min, max] bounds — 4× smaller than float32 with near-exact recall,
# no codebook training, and re-encodable on append without drift (the
# bounds are the only state: 2·d floats on the driver).  The FAISS
# SQ8/ScalarQuantizer design, re-expressed as Catalyst expressions.
# ---------------------------------------------------------------------------
def sq_train(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> "np.ndarray":
    """Per-dimension [min, max] bounds over the corpus → (2, d) float64.

    One pass: posexplode → groupBy(dim) min/max with map-side combine —
    the shuffle carries d rows per partition, never the vectors."""
    rows = (
        corpus.select(F.posexplode(vec_col).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min(F.col("x").cast("double")).alias("lo"),
             F.max(F.col("x").cast("double")).alias("hi"))
        .orderBy("dim")
        .collect()
    )
    if not rows:
        raise ValueError("sq_train: corpus is empty — nothing to bound")
    bounds = np.array([[r["lo"] for r in rows], [r["hi"] for r in rows]])
    return bounds


def _sq_lits(bounds: "np.ndarray"):
    lo, hi = bounds
    step = (hi - lo) / 255.0
    inv = np.where(step > 0, 1.0 / np.where(step > 0, step, 1.0), 0.0)
    los = F.array(*[F.lit(float(v)) for v in lo])
    steps = F.array(*[F.lit(float(v)) for v in step])
    invs = F.array(*[F.lit(float(v)) for v in inv])
    return los, steps, invs


def sq_encode(
    df: DataFrame,
    bounds: "np.ndarray",
    vec_col: str = "embedding",
    out_col: str = "sq_codes",
) -> DataFrame:
    """Append ``out_col``: array<int> of per-dim byte codes
    ``clamp(floor((x - lo) / step + 0.5), 0, 255)``.  floor(+0.5) — not
    round() — on BOTH the Spark side and the numpy twin, so the two can
    never disagree on a .5 tie (round() is half-up here, half-even in
    numpy).  A degenerate dimension (hi == lo) encodes 0 and decodes to
    exactly ``lo``.  Out-of-range values (an append beyond the trained
    bounds) clamp — the standard SQ saturation semantics.  Pure JVM."""
    los, steps, invs = _sq_lits(bounds)
    d = bounds.shape[1]
    v = F.col(vec_col)
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda i: F.greatest(
            F.lit(0),
            F.least(
                F.lit(255),
                F.floor(
                    (v[i].cast("double") - F.element_at(los, i + 1))
                    * F.element_at(invs, i + 1)
                    + F.lit(0.5)
                ).cast("int"),
            ),
        ),
    )
    return df.withColumn(out_col, codes)


def sq_adc_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    bounds: "np.ndarray",
    k: int = 5,
    shortlist: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "sq_codes",
    exclude_self: bool = True,
) -> DataFrame:
    """Compressed-domain search + exact rerank, the PQ-ADC discipline:
    the scan touches ONLY (id, codes) — squared distance to the DECODED
    corpus vector ``Σ (q_i − (lo_i + c_i·step_i))²`` as one
    indexed-transform fold against broadcast per-query arrays; the raw
    vectors are joined back for just the ``shortlist·k`` survivors per
    query, exactly reranked on true squared distance.  Output
    (q_id, vec_id, dist, rank ≤ k), ties by id, ``exclude_self`` uniform
    with every other tier."""
    los, steps, _ = _sq_lits(bounds)
    d = bounds.shape[1]
    qrows = queries.select(id_col, vec_col).collect()  # small by contract
    spark = queries.sparkSession
    luts = spark.createDataFrame(
        [(int(r[0]), [float(v) for v in r[1]]) for r in qrows],
        "q_id long, qv array<double>",
    )
    c = F.col(codes_col)
    approx = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda i: (
                F.element_at(F.col("qv"), i + 1)
                - F.element_at(los, i + 1)
                - c[i].cast("double") * F.element_at(steps, i + 1)
            )
            * (
                F.element_at(F.col("qv"), i + 1)
                - F.element_at(los, i + 1)
                - c[i].cast("double") * F.element_at(steps, i + 1)
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        corpus_codes.select(F.col(id_col).alias("c_id"), codes_col)
        .crossJoin(F.broadcast(luts))
        .select("q_id", "c_id", approx.alias("adc_dist"))
    )
    if exclude_self:
        scored = scored.where(F.col("q_id") != F.col("c_id"))
    w = Window.partitionBy("q_id").orderBy("adc_dist", "c_id")
    short = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= shortlist * k)
        .join(
            corpus_codes.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")),
            "c_id",
        )
        .join(F.broadcast(luts), "q_id")
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


def label_centroid_cosines(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space class geometry: per-label centroids and every
    pairwise centroid cosine — (label_a, label_b, n_a, n_b, norm_a,
    norm_b, cosine).  The collapse/drift monitor for an embedding
    pipeline: two labels whose centroids run cosine→1 are a merged
    class; a centroid whose norm decays toward 0 is a label whose
    members cancel (no common direction).

    Scale shape (100 TB): posexplode fans the corpus ×dims but the very
    next aggregate map-side-combines it down to |labels|·dims rows;
    the centroid pair join is on `dim` over that tiny table.  Nothing
    Python-side, no corpus pair join — O(corpus) scan, O(labels²·dims)
    tail.

    Determinism (the bm25/pmi e9-quantization convention): vector
    components quantize to 1e-9 BIGINT units before the per-(label,dim)
    sum, so centroid sums are exact integers in any order; centroid
    values are one double division of identical integers; the dot /
    norm reductions re-quantize each product to 1e-9 units and sum
    exact BIGINTs; the final cosine is the same IEEE double expression
    from identical integers on both engines, rounded to 1e-9."""
    lab = F.col(label_col)
    ex = df.select(lab.alias("lbl"), F.posexplode(vec_col).alias("dim", "v"))
    sums = ex.groupBy("lbl", "dim").agg(
        F.sum(F.round(F.col("v").cast("double") * 1e9).cast("long")).alias("s_e9"),
        F.count("*").alias("c"),
    )
    cent = sums.select(
        "lbl",
        "dim",
        "c",
        ((F.col("s_e9").cast("double") / F.col("c")) / F.lit(1e9)).alias("cv"),
    ).localCheckpoint(eager=False)
    norms = cent.groupBy("lbl").agg(
        F.max("c").alias("n_vecs"),
        F.sum(F.round(F.col("cv") * F.col("cv") * 1e9).cast("long")).alias("nn_e9"),
    )
    a = cent.select(F.col("lbl").alias("label_a"), "dim", F.col("cv").alias("cva"))
    b = cent.select(F.col("lbl").alias("label_b"), "dim", F.col("cv").alias("cvb"))
    dots = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.round(F.col("cva") * F.col("cvb") * 1e9).cast("long")).alias("dot_e9"))
    )
    na = norms.select(
        F.col("lbl").alias("label_a"), F.col("n_vecs").alias("n_a"), F.col("nn_e9").alias("na_e9")
    )
    nb = norms.select(
        F.col("lbl").alias("label_b"), F.col("n_vecs").alias("n_b"), F.col("nn_e9").alias("nb_e9")
    )
    # portable NULL on a zero-norm centroid (the corr_matrix zero-variance
    # convention) — also keeps ANSI mode from raising DIVIDE_BY_ZERO
    cos = F.when(
        (F.col("na_e9") > 0) & (F.col("nb_e9") > 0),
        (F.col("dot_e9").cast("double") / 1e9)
        / (
            F.sqrt(F.col("na_e9").cast("double") / 1e9)
            * F.sqrt(F.col("nb_e9").cast("double") / 1e9)
        ),
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.round(F.sqrt(F.col("na_e9").cast("double") / 1e9), 9).alias("norm_a"),
            F.round(F.sqrt(F.col("nb_e9").cast("double") / 1e9), 9).alias("norm_b"),
            F.round(cos, 9).alias("cosine"),
        )
    )


def dim_variance_profile(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension moment profile of an embedding column — (dim, n,
    mean, var): the dimension-collapse audit.  A dim whose variance is
    ~0 carries no information (dead unit); a mean far from 0 on a
    supposedly-centered embedding is a preprocessing bug.  This is the
    array-column sibling of profile.corr_matrix's moment recipe.

    Scale shape (100 TB): posexplode fans ×dims but map-side combine
    collapses to exactly `dims` rows at the first aggregate — no second
    shuffle, no Python.  Determinism: components quantize to 1e-9
    BIGINT units (exact sum in any order); squares sum in DECIMAL(38,0)
    (a BIGINT ss overflows at ~150 corpus-rows × unit-scale values);
    mean/var are the same IEEE double expression from identical exact
    integers on both engines, rounded to 1e-9."""
    ex = df.select(F.posexplode(vec_col).alias("dim", "v")).select(
        "dim", F.round(F.col("v").cast("double") * 1e9).cast("long").alias("v_e9")
    )
    agg = ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("v_e9").alias("s"),
        F.sum((F.col("v_e9") * F.col("v_e9")).cast("decimal(38,0)")).alias("ss"),
    )
    mean = (F.col("s").cast("double") / F.col("n")) / 1e9
    var = (
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
    ) / 1e18
    return agg.select(
        "dim",
        "n",
        F.round(mean, 9).alias("mean"),
        F.round(var, 9).alias("var"),
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    fetch_k: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)
    over the exact-cosine top-``fetch_k`` candidates — the diversity
    tail every retrieval stack bolts onto its ANN tier so the top-k
    isn't five copies of the same document.

    Scale shape (100 TB): the candidate set is the bounded top-fetch_k
    PER QUERY from the distributed exact/ANN tier; the greedy loop is
    inherently sequential in k, so it runs driver-side on that
    k-bounded set (fetch_k × dims floats per query — the same
    contract-bounded collect() the IVF centroid path uses).  Ties
    break by (score desc, candidate id asc).

    Every float is bit-portable: relevance comes from
    cosine_topk_exact's ordered-fold cosines, and the candidate-
    candidate similarities use the SAME strict left-to-right double
    fold (`_dbl_dot` order) followed by one exact IEEE division — so a
    SQL engine replaying the k-bounded greedy chain (an unrolled
    argmax-per-step query) reproduces the selection exactly; the
    registry entry is ORACLE-GRADED against a DuckDB twin
    (queries/llmdata.py mmr_rerank_topk)."""
    import math

    top = cosine_topk_exact(queries, corpus, k=fetch_k, id_col=id_col, vec_col=vec_col)
    cand = top.join(
        corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")), "c_id"
    ).select("q_id", "c_id", "cosine", "cv")
    rows = cand.collect()  # k-bounded by contract: |queries| × fetch_k rows
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    out = []
    def _fold(a, b) -> float:
        # the _dbl_dot / DuckDB list_reduce order: strict left-to-right
        s = 0.0
        for x, y in zip(a, b):
            s = s + float(x) * float(y)
        return s

    for q_id, rs in sorted(by_q.items()):
        rs.sort(key=lambda r: (-r.cosine, r.c_id))
        ids = [r.c_id for r in rs]
        rel = [float(r.cosine) for r in rs]
        vecs = [list(r.cv) for r in rs]
        norms = [math.sqrt(_fold(v, v)) for v in vecs]
        norms = [n if n != 0.0 else 1.0 for n in norms]
        n = len(ids)
        sim = [
            [_fold(vecs[i], vecs[j]) / (norms[i] * norms[j]) for j in range(n)]
            for i in range(n)
        ]
        chosen: list[int] = []
        remaining = list(range(n))
        while remaining and len(chosen) < k:
            if chosen:
                red = [max(sim[i][c] for c in chosen) for i in remaining]
            else:
                red = [0.0] * len(remaining)
            scores = [
                lam * rel[i] - (1.0 - lam) * r for i, r in zip(remaining, red)
            ]
            # ties break by (score desc, id asc); min over (−score, id)
            # tuples works for ANY orderable id type (string ids included)
            best = min(
                range(len(remaining)),
                key=lambda i: (-scores[i], ids[remaining[i]]),
            )
            pick = remaining[best]
            out.append(
                (
                    q_id,
                    ids[pick],
                    len(chosen) + 1,
                    float(round(rel[pick], 9)),
                    float(round(scores[best], 9)),
                )
            )
            chosen.append(pick)
            remaining.pop(best)
    spark = queries.sparkSession
    q_t = queries.schema[id_col].dataType.simpleString()
    c_t = corpus.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        out, f"q_id {q_t}, c_id {c_t}, rank long, relevance double, mmr_score double"
    )
