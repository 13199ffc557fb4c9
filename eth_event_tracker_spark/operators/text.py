"""Text-analysis operators for large-scale training-data pipelines:
normalization, shingling, token counting, quality scoring, language ID,
and document fingerprinting.

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen) — no Python UDFs.  Shingling explodes to
O(words_per_doc) rows; at 100 TB that is an embarrassingly parallel map +
the downstream groupBys shuffle on (doc_id) / (shingle), both well-keyed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60

# Small per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately tiny and hard-coded: the operator contract is
# "deterministic heuristic", not linguistic accuracy.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "for", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "un", "est", "pas", "pour", "que", "dans"),
}

PUNCT_RE = r"[^\w\s]"
BPE_ISH_TOKEN_RE = r"\w+|[^\w\s]"  # word pieces + standalone punctuation


def normalize(col: Column) -> Column:
    """lowercase + collapse whitespace — the canonical form every dedup /
    fingerprint operator keys on."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def words(col: Column) -> Column:
    return F.split(normalize(col), " ")


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document: (id_col, shingle).

    Dedup happens per document, so it is `array_distinct` on the row's
    own shingle array BEFORE the explode — a row-local expression, not a
    (id, shingle)-keyed shuffle of the exploded table.  The input is
    repartitioned on id_col first: fixture-sized corpora arrive as one
    parquet file (= one task), which would serialize all shingle/hash
    compute onto a single core; hash-partitioning by doc also lets every
    downstream per-doc groupBy reuse the partitioning.

    The word array is materialized as a column BEFORE the shingle
    transform: a higher-order-function lambda body is re-evaluated per
    element, so slicing the tokenizer EXPRESSION re-ran the regex once
    per position — O(tokens²) per doc (profiled 10.3 s vs 1.1 s on
    sf0.1; the round-9 sweep fixed this across every n-gram op)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    tok = df.repartition(par, F.col(id_col)).select(
        F.col(id_col), words(F.col(text_col)).alias("_ws")
    )
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_ws") - n, F.lit(0))),
        lambda i: F.array_join(F.slice(F.col("_ws"), i + 1, n), " "),
    )
    return (
        tok.select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
        .where(F.col("shingle") != "")
    )


def quality_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic quality features: length, word stats, punctuation density,
    stopword ratio (en list) — the standard pre-training quality filters."""
    t = F.col(text_col)
    ws = F.col("_ws")  # tokenizer materialized once (5 textual uses below)
    en = list(LANG_STOPWORDS["en"])
    n_stop = F.size(F.filter(ws, lambda w: w.isin(en)))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(PUNCT_RE), 0))
    return df.withColumn("_ws", words(t)).select(
        id_col,
        F.length(t).alias("n_chars"),
        F.size(ws).alias("n_words"),
        (F.length(F.array_join(ws, "")) / F.size(ws)).alias("avg_word_len"),
        (n_stop / F.size(ws)).alias("stopword_ratio"),
        (n_punct / F.length(t)).alias("punct_ratio"),
    )


def quality_verdicts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc keep/drop decision of the rule-based quality gate:
    (doc_id, verdict) where verdict ∈ keep | too_short | too_long |
    degenerate_words. A single projection — no shuffle."""
    ws = F.col("_ws")  # tokenizer materialized once
    n_words = F.size(ws)
    avg_word_len = F.length(F.array_join(ws, "")) / n_words
    verdict = (
        F.when(n_words < 20, "too_short")
        .when(n_words > 400, "too_long")
        .when(avg_word_len < 2.0, "degenerate_words")
        .otherwise("keep")
    )
    return df.withColumn("_ws", words(F.col(text_col))).select(
        "doc_id", verdict.alias("verdict")
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID: score each language by stopword matches,
    predict the argmax (ties broken by language code order)."""
    ws = F.col("_ws")  # tokenizer materialized once (|languages| uses)
    scores = [
        F.struct(
            F.size(F.filter(ws, lambda w: w.isin(list(sw)))).alias("score"),
            F.lit(code).alias("lang"),
        )
        for code, sw in sorted(LANG_STOPWORDS.items())
    ]
    # argmax: sort (score asc, lang desc-by-construction) and take last max
    best = F.array_max(F.array(*scores))
    return df.withColumn("_ws", words(F.col(text_col))).select(
        "doc_id",
        best["lang"].alias("pred_lang"),
        best["score"].cast("long").alias("pred_score"),
    )


def lang_mix(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Mixed-language detection: per doc the top-2 stopword-hit language
    scores and their ratio — (id, lang1, lang2, score1, score2,
    mix_ratio, is_mixed).  A doc whose runner-up language scores ≥ half
    the winner with ≥2 hits is flagged mixed — the docs a single-label
    language filter silently mislabels (code-switched text, quoted
    translations, boilerplate in a second language).

    Scale shape: like :func:`lang_id`, one row-local array sort over the
    |languages| score structs — no shuffle, no explode; the ratio is one
    exact int/int double division."""
    ws = F.col("_ws")  # tokenizer materialized once (|languages| uses)
    scores = [
        F.struct(
            F.size(F.filter(ws, lambda w: w.isin(list(sw)))).alias("score"),
            F.lit(code).alias("lang"),
        )
        for code, sw in sorted(LANG_STOPWORDS.items())
    ]
    arr = F.array_sort(F.array(*scores))  # asc; ties by lang asc
    top1, top2 = F.element_at(arr, -1), F.element_at(arr, -2)
    ratio = F.when(
        top1["score"] > 0, top2["score"].cast("double") / top1["score"].cast("double")
    ).otherwise(F.lit(0.0))
    return df.withColumn("_ws", words(F.col(text_col))).select(
        id_col,
        top1["lang"].alias("lang1"),
        top2["lang"].alias("lang2"),
        top1["score"].cast("long").alias("score1"),
        top2["score"].cast("long").alias("score2"),
        ratio.alias("mix_ratio"),
        ((ratio >= 0.5) & (top2["score"] >= 2)).alias("is_mixed"),
    )


def quality_calibrated(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-group rank calibration of a raw quality signal: (id, group,
    q_raw, q_calibrated) where q_calibrated = percent_rank of the
    stopword ratio WITHIN the doc's source.  Raw quality signals are not
    comparable across sources (code scores near 0 stopwords, prose near
    0.4) — a single global threshold either guts one source or passes
    another's spam; rank-within-group makes one threshold mean the same
    percentile everywhere (the per-domain calibration step of a corpus
    mixing pipeline).

    Scale shape: one window partitioned by the GROUP key (parallel per
    source, no global sort); percent_rank is (rank−1)/(n−1) on exact
    integers, bit-identical across engines."""
    qs = quality_scores(df, text_col=text_col, id_col=id_col).select(
        id_col, F.col("stopword_ratio").alias("q_raw")
    )
    j = df.select(id_col, group_col).join(qs, id_col)
    w = Window.partitionBy(group_col).orderBy("q_raw")
    return j.select(
        id_col,
        group_col,
        "q_raw",
        F.percent_rank().over(w).alias("q_calibrated"),
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", k: int = 4, shingles: DataFrame | None = None
) -> DataFrame:
    """Document fingerprint: sha-256 of the normalized text (exact
    identity) + the k smallest shingle hashes joined (robust identity —
    equal for near-identical docs; the min-k sketch is the rolling-hash
    winnowing analogue)."""
    sh = shingles if shingles is not None else word_shingles(df, text_col)
    sketch = (
        sh.withColumn("hv", hash60(F.col("shingle"), 0))
        .groupBy("doc_id")
        .agg(F.array_join(F.slice(F.array_sort(F.collect_set("hv")), 1, k), ",").alias("sketch_minhash"))
    )
    exact = df.select("doc_id", F.sha2(normalize(F.col(text_col)), 256).alias("sha_norm"))
    return exact.join(sketch, "doc_id", "left")


def _repetition_cols(ws_col: str = "_ws") -> dict:
    """Row-local repetition expressions over a MATERIALIZED word-array
    column (callers compute ``words(text)`` into ``ws_col`` first — a
    higher-order-function lambda body re-evaluates per element, so a
    tokenizer EXPRESSION here would re-run the regex O(tokens) times per
    row).  Even the top-word share is computed inside the word array
    (O(distinct·n) per row), so no word-level shuffle exists at any
    scale."""
    ws = F.col(ws_col)
    g2 = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 2),
        lambda i: F.concat_ws(" ", F.element_at(ws, i + 1), F.element_at(ws, i + 2)),
    )
    max_cnt = F.array_max(
        F.transform(F.array_distinct(ws), lambda w: F.size(F.filter(ws, lambda x: x == w)))
    )
    return {
        "dup_word_frac": F.lit(1.0) - F.size(F.array_distinct(ws)) / F.size(ws),
        "top_word_frac": max_cnt / F.size(ws),
        "dup_2gram_frac": F.when(
            F.size(ws) >= 2, F.lit(1.0) - F.size(F.array_distinct(g2)) / (F.size(ws) - 1)
        ),
    }


def repetition_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher/Dolma-style repetition signals per document: fraction of
    duplicate words, most-frequent-word share, fraction of duplicate word
    2-grams.  High values flag boilerplate / degenerate text.  One
    projection, zero shuffles."""
    cols = _repetition_cols("_ws")
    return df.withColumn("_ws", words(F.col(text_col))).select(
        F.col(id_col), *[c.alias(k) for k, c in cols.items()]
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The fused per-doc text feature extractor: token counts, quality
    ratios, and repetition signals in ONE projection — no self-joins, no
    shuffles; the scale path for a 100 TB profiling pass."""
    t = F.col(text_col)
    ws = F.col("_ws")
    en = list(LANG_STOPWORDS["en"])
    cols = {
        "n_ws_tokens": F.size(ws).cast("long"),
        "n_bpe_tokens": F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_TOKEN_RE), 0)).cast("long"),
        "n_chars": F.length(t).cast("long"),
        "n_words": F.size(ws).cast("long"),
        "avg_word_len": F.length(F.array_join(ws, "")) / F.size(ws),
        "stopword_ratio": F.size(F.filter(ws, lambda w: w.isin(en))) / F.size(ws),
        "punct_ratio": F.size(F.regexp_extract_all(t, F.lit(PUNCT_RE), 0)) / F.length(t),
        **_repetition_cols("_ws"),
    }
    return df.withColumn("_ws", words(t)).select(
        F.col(id_col), *[c.alias(k) for k, c in cols.items()]
    )


# PII patterns kept to the Java-regex ∩ RE2 common subset (no lookaround,
# no backreferences) so the DuckDB oracle evaluates them identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex PII scrub — the pre-training privacy filter: replace emails /
    phone numbers / IPv4 addresses with <TYPE> tags and count each.

    Pure JVM regexp expressions in one projection — embarrassingly
    parallel, no shuffle, whole-stage codegen at any scale.  Order
    matters: emails first (an email must not first lose digits to the
    phone pattern), then phones, then IPs."""
    t = F.col(text_col)
    counts = {
        f"n_{name}": F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long")
        for name, pat in PII_PATTERNS.items()
    }
    red = t
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return df.withColumns({**counts, "redacted": red})


def ngram_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: per training doc, the fraction of its
    distinct word n-grams that appear anywhere in the eval set (the
    GPT-3/Pile 13-gram overlap filter, n scaled to fixture-size docs).

    Scale shape: the eval side is benchmarks — thousands of docs, not
    terabytes — so its distinct-gram set is broadcast; the train side is
    map + broadcast left-semi join + per-doc groupBy.  The 100 TB fact
    table never shuffles on the gram key.  Rows: (id_col, n_grams, n_hit,
    contamination)."""
    # totals and hits both read the train grams — cut lineage so the
    # tokenize + explode runs once, not twice
    tg = word_shingles(train, text_col, n, id_col).localCheckpoint(eager=False)
    eg = word_shingles(eval_df, text_col, n, id_col).select("shingle").distinct()
    totals = tg.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    hits = (
        tg.join(F.broadcast(eg), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    return totals.join(hits, id_col, "left").select(
        id_col,
        "n_grams",
        n_hit.alias("n_hit"),
        F.round(n_hit / F.col("n_grams"), 9).alias("contamination"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_words: int = 32,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split each document into overlapping word windows — the training
    pre-chunking op. Stride = chunk_words - overlap; the final partial
    window is kept. Pure explode, no shuffle; rows: (id, *keep_cols,
    chunk_id, chunk, n_words).  ``keep_cols`` carries row-level columns
    (e.g. an upsampled corpus's ``repeat_idx``) through the explode."""
    stride = chunk_words - overlap
    assert stride > 0
    # materialize the word array before the window transform — slicing
    # the tokenizer EXPRESSION inside the lambda re-runs the regex per
    # window (the round-9 HOF re-evaluation sweep)
    ws = F.col("_ws")
    starts = F.sequence(F.lit(0), F.greatest(F.ceil((F.size(ws) - F.lit(overlap)) / stride) - 1, F.lit(0)))
    chunks = F.transform(starts, lambda i: F.struct(
        i.cast("long").alias("chunk_id"),
        F.array_join(F.slice(ws, i * stride + 1, chunk_words), " ").alias("chunk"),
    ))
    return (
        df.withColumn("_ws", words(F.col(text_col)))
        .select(F.col(id_col), *[F.col(c) for c in keep_cols], F.explode(chunks).alias("c"))
        .select(
            id_col,
            *keep_cols,
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.chunk").alias("chunk"),
            F.size(F.split("c.chunk", " ")).cast("long").alias("n_words"),
        )
        .where(F.col("chunk") != "")
    )


def pack_sequences(
    chunks: DataFrame,
    budget_words: int = 64,
    n_shards: int = 32,
    id_col: str = "doc_id",
    salt_col: str | None = None,
) -> DataFrame:
    """Assign chunks to fixed-budget training sequences: first-fit
    contiguous packing in deterministic (doc, chunk) order — the step that
    turns a chunk manifest into dataloader-ready sequence ids.

    Scale shape: packing is embarrassingly parallel ACROSS shards, so the
    running word count is windowed per shard (shard = hash60(doc) mod
    n_shards — deterministic, uniform), never over a global single
    partition (the empty-``partitionBy`` trap). A chunk whose span crosses
    a budget boundary belongs to the sequence its start falls in — the
    streaming first-fit approximation real packers use; sequences are
    therefore ≥ budget_words only when a single chunk overflows alone.
    Rows gain (shard, seq_id); seq_id is shard-local.

    ``salt_col`` folds a second column (e.g. an upsampled corpus's
    ``repeat_idx``) into the shard hash and the packing order, so a
    doc's repeated copies spread across shards instead of landing
    back-to-back in one training sequence.
    """
    shard_key = F.col(id_col).cast("string")
    order_cols = [id_col, "chunk_id"]
    if salt_col is not None:
        shard_key = F.concat_ws(":", shard_key, F.col(salt_col).cast("string"))
        order_cols = [id_col, salt_col, "chunk_id"]
    shard = (hash60(shard_key, 1) % n_shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_words").over(w), F.lit(0))
    return chunks.withColumn("shard", shard).withColumn(
        "seq_id", F.floor(cum_before / budget_words).cast("long")
    )


def tf_idf(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by smooth TF-IDF:
    ``score = tf * (ln((N+1)/(df+1)) + 1)`` — the standard keyword /
    topic-signal extraction over a pre-training corpus.

    Scale shape (100 TB): the explode is row-local on the doc-hash
    partitioning; (doc, term) counts aggregate with map-side combine;
    document frequency is a second, much smaller aggregate over the
    already-counted table (one row per distinct (doc, term), never the
    raw token stream); N is a broadcast scalar; the final top-k is a
    window over the same doc-hash partitioning the counts already have.
    The tf->df join shuffles on term — AQE splits hot terms like any
    skewed key.  Scores are rounded to 6 decimals: every input to ln()
    is an exact integer ratio, so engines agree to <=1 ulp and the
    rounding makes them bit-identical (same convention as the cosine
    operators)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.repartition(par, F.col(id_col))
        .select(F.col(id_col), F.explode(words(F.col(text_col))).alias("term"))
        .where(F.col("term") != "")
    )
    # two consumers (scoring join + document frequency): cut lineage so
    # the token explode and (doc, term) count run once, not once per branch
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf")).localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df_t") + 1.0)) + 1.0), 6
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(id_col, "term", "tf", "score")
    )


def unigram_logprob(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the CCNet-class LM quality signal (fluent text scores
    higher than gibberish/rare-token soup): (id, n_tokens, logprob).

    Scale shape: everything term-keyed runs over the per-(doc, term)
    COUNT table (one row per distinct pair — never the raw token
    stream); unigram totals aggregate that same table; the corpus total
    is a broadcast scalar.  Determinism: ln() sees an exact integer
    ratio (engines agree to <=1 ulp), per-term log-probs round at 9 and
    sum as DECIMAL (order-independent), the final mean rounds at 6 —
    the same bit-portability convention as TF-IDF and the cosine ops."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.repartition(par, F.col(id_col))
        .select(F.col(id_col), F.explode(words(F.col(text_col))).alias("term"))
        .where(F.col("term") != "")
    )
    # three consumers (unigram counts, corpus total, scoring join): one eval
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf")).localCheckpoint(eager=False)
    cnt = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    tot = tf.agg(F.sum("tf").alias("t"))
    # per-term log-prob as an INTEGER in 1e-9 units: the weighted sum is
    # then an exact BIGINT (order-independent), and the mean is two
    # correctly-rounded double divisions — no final round() call whose
    # decimal-mean-by-small-n halves would systematically land on
    # rounding boundaries where engines disagree
    logp_e9 = F.round(F.log(F.col("c").cast("double") / F.col("t")) * 1e9).cast("long")
    scored = (
        tf.join(cnt, "term")
        .crossJoin(F.broadcast(tot))
        .select(F.col(id_col), "tf", (F.col("tf") * logp_e9).alias("contrib_e9"))
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        (F.sum("contrib_e9").cast("double") / F.sum("tf") / F.lit(1e9)).alias("logprob"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training — the corpus-scale pair-counting step.
#
# The scale shape that makes this tractable at 100 TB: the CORPUS is read
# exactly once (word counts, map-side combine → one shuffle to a
# vocab-sized table); every merge round after that operates on the VOCAB
# (unique words × their counts), whose size is corpus-independent.  The
# classic driver-side dict implementation is the same algorithm — here
# each round is a Spark transform over the vocab DataFrame, so a huge
# vocab would still distribute.
# ---------------------------------------------------------------------------
def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, n) over whitespace words — the single corpus pass."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adjacent-character pair counts weighted by word frequency — one
    round of the BPE objective over the initial (character) segmentation.
    Returns (pair, n_pairs); the argmax row is the first merge."""
    wc = word_counts(df, text_col).where(F.char_length("w") >= 2)
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, char_length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair"),
        "n",
    )
    return pairs.groupBy("pair").agg(F.sum("n").alias("n_pairs"))


def _merge_pair_fold(a: str, b: str, col: str = "syms"):
    """Greedy left-to-right merge of adjacent (a, b) into one symbol,
    as an aggregate fold over the symbol array: each step either fuses
    the incoming symbol with the accumulator's tail (when tail == a and
    incoming == b) or appends it.  Overlaps resolve left-first —
    [a,a,a] with pair (a,a) → [aa, a] — the classic BPE convention.
    The fused token can never string-equal ``a`` (b is non-empty), so a
    fused tail is never re-fused within the round."""
    merged = a + b

    def step(acc, x):
        fuse = (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b))
        return F.when(
            fuse,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(col, F.array().cast("array<string>"), step)


def _pair_counts_of(vocab: DataFrame) -> DataFrame:
    return (
        vocab.where(F.size("syms") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(syms[i-1] AS a, syms[i] AS b))"
                )
            ).alias("p"),
            "n",
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("n").alias("cnt"))
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    sample_frac: float | None = None,
    sample_seed: int = 0,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges.  One corpus pass builds the vocab
    (word → count); every round after that re-derives pair counts from
    the CURRENT symbol segmentation over the vocab table, picks the most
    frequent pair (ties → lexicographically smallest (a, b) — the
    deterministic convention, pinned against the python model), and
    greedily merges it everywhere.  Lineage is cut per round, so round
    r's plan does not replay rounds 0..r-1; the only driver data is one
    (a, b, count) row per round.

    ``sample_frac`` (round-7 verdict item 7) bounds the inherently
    sequential one-action-per-merge loop at corpus scale: train on a
    DETERMINISTIC hash-sample of documents (doc kept iff
    pmod(xxhash64(text, seed), 1e6) < frac·1e6 — reproducible across
    runs and cluster sizes, no RNG state).  BPE merge ranks depend on
    corpus-wide pair FREQUENCY RATIOS, which a uniform document sample
    preserves, so the sampled merge list converges to the full-corpus
    one long before the sample stops fitting a pair-count pass — the
    standard practice for tokenizer training on multi-TB corpora
    (pinned equivalent to full-corpus training on the fixture:
    tests/test_text_forensics.py)."""
    corpus = df
    if sample_frac is not None and sample_frac < 1.0:
        corpus = df.where(
            F.pmod(F.xxhash64(F.col(text_col), F.lit(sample_seed)), F.lit(1_000_000))
            < int(sample_frac * 1_000_000)
        )
    vocab = (
        word_counts(corpus, text_col)
        .select(F.expr("filter(split(w, '(?!^)'), x -> x <> '')").alias("syms"), "n")
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = _pair_counts_of(vocab).orderBy(F.desc("cnt"), "a", "b").limit(1).collect()
        if not top:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))
        vocab = vocab.select(
            _merge_pair_fold(a, b).alias("syms"), "n"
        ).localCheckpoint(eager=False)
    return merges


def bpe_segment(df: DataFrame, merges: list[tuple[str, str]], text_col: str = "text") -> DataFrame:
    """Apply learned merges to a corpus: per word, replay the merge list
    in order (the standard greedy apply).  Adds ``bpe_syms``
    (array<string>) — the corpus-side consumer of ``bpe_train``."""
    out = df.withColumn(
        "bpe_syms", F.expr(f"filter(split({text_col}, '(?!^)'), x -> x <> '')")
    )
    for a, b in merges:
        out = out.withColumn("bpe_syms", _merge_pair_fold(a, b, "bpe_syms"))
    return out


def fuzzy_pairs(
    df: DataFrame, col: str, max_dist: int = 2, q: int = 2
) -> DataFrame:
    """All DISTINCT value pairs within Levenshtein distance
    ``max_dist`` — the data-cleaning fuzzy join — without an O(n²)
    distance join.

    Candidates meet through a q-gram equality join: one edit destroys at
    most ``q`` q-grams, so two strings of min length L > q·max_dist +
    q − 1 within distance ``max_dist`` are GUARANTEED to share a q-gram
    — any-shared-gram candidate generation is a strict superset, and the
    exact ``levenshtein`` refine keeps truth only.  Shorter strings are
    excluded (raise the guarantee bound, not silently miss them:
    pre-bucket them separately if they matter — at q=2, d=2 that is
    strings of ≤ 5 chars).  The length filter |len_a − len_b| ≤ d prunes
    before the distance computation."""
    min_len = q * max_dist + q  # strictly greater than q*d + q - 1
    vals = (
        df.select(F.col(col).alias("s"))
        .where(F.col("s").isNotNull())
        .distinct()
        .where(F.char_length("s") >= min_len)
        .localCheckpoint(eager=False)
    )
    grams = vals.select(
        "s",
        F.explode(
            F.expr(f"transform(sequence(1, char_length(s) - {q - 1}), i -> substr(s, i, {q}))")
        ).alias("g"),
    ).distinct()
    a = grams.select(F.col("s").alias("s_a"), "g")
    b = grams.select(F.col("s").alias("s_b"), "g")
    cand = (
        a.join(b, "g")
        .where(F.col("s_a") < F.col("s_b"))
        .select("s_a", "s_b")
        .distinct()
        .where(
            F.abs(F.char_length("s_a") - F.char_length("s_b")) <= max_dist
        )
    )
    return cand.withColumn("dist", F.levenshtein("s_a", "s_b")).where(
        F.col("dist") <= max_dist
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
) -> DataFrame:
    """Okapi BM25 retrieval: the ``top_n`` documents for a bag-of-words
    query — (id, matched, score).  The standard lexical ranker a corpus
    pipeline needs next to the embedding ANN tier (and the hard-negative
    miner for training retrievers): ``idf(t) = ln(1 + (N - df + .5)/(df
    + .5))`` (Lucene's always-positive form), ``tf`` saturated by ``k1``
    and length-normalized by ``b`` against the corpus mean length.

    Scale shape (100 TB): doc lengths aggregate from the token stream
    with map-side combine on the doc-hash partitioning; per-(doc, term)
    counts are restricted to the query's terms BEFORE the aggregate, so
    the scored table is O(matching docs × |query|), never the corpus
    vocabulary; N / total-length / per-term df are broadcast scalars
    (|query| rows); the final top-n is a TakeOrdered, not a global sort.
    Nothing Python-side.

    Determinism convention (same as tf_idf/unigram_logprob): ln() sees
    deterministic IEEE doubles, each per-term contribution rounds to an
    integer in 1e-6 units, the per-doc sum is exact BIGINT arithmetic,
    ties break by id — so the result hash-matches the DuckDB oracle
    bit-for-bit."""
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.repartition(par, F.col(id_col))
        .select(F.col(id_col), F.explode(words(F.col(text_col))).alias("term"))
        .where(F.col("term") != "")
    )
    # one token pass feeds both doc lengths and query-term tf: aggregate
    # to the per-(doc, term) count table once and cut lineage (the tf_idf
    # convention) instead of exploding the corpus twice
    tf_all = (
        toks.groupBy(id_col, "term").agg(F.count("*").alias("tf")).localCheckpoint(eager=False)
    )
    dlen = tf_all.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    tfq = tf_all.where(F.col("term").isin(list(query_terms)))
    n = df.agg(F.count("*").alias("n_docs"))
    tot = dlen.agg(F.sum("dl").cast("double").alias("t"))
    return bm25_rank(tfq, dlen, n, tot, id_col=id_col, k1=k1, b=b, top_n=top_n)


def bm25_rank(
    tfq: DataFrame,
    dlen: DataFrame,
    n: DataFrame,
    tot: DataFrame,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
) -> DataFrame:
    """The BM25 scoring tail shared by the scan path (bm25_topk) and the
    inverted-index path (operators/retrieval.bm25_query) — ONE arithmetic
    definition, so the two paths are bit-identical by construction.
    Inputs: ``tfq`` (id, term, tf) for the query's terms, ``dlen``
    (id, dl), ``n`` (n_docs), ``tot`` (t = total corpus length as
    DOUBLE)."""
    dfq = tfq.groupBy("term").agg(F.count("*").alias("df_t"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5))
    frac = (F.col("tf") * (F.lit(k1) + 1.0)) / (
        F.col("tf") + F.lit(k1) * (1.0 - F.lit(b) + F.lit(b) * (F.col("dl") / (F.col("t") / F.col("n_docs"))))
    )
    scored = (
        tfq.join(dlen, id_col)
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tot))
        .select(F.col(id_col), F.round(idf * frac * 1e6).cast("long").alias("c_e6"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("matched"),
            F.sum("c_e6").alias("s_e6"),
        )
        .orderBy(F.desc("s_e6"), id_col)
        .limit(top_n)
        .select(id_col, "matched", (F.col("s_e6").cast("double") / 1e6).alias("score"))
    )


def bigram_logprob(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-1-smoothed bigram model — the second-order LM quality signal
    (CCNet uses a 5-gram KenLM; the bigram is the same filter one order
    up from ``unigram_logprob``, catching scrambled-word text that
    unigram frequencies cannot: "the of and a" has great unigrams and
    terrible bigrams).  p(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V) with
    V = |distinct successor vocabulary|.  Output (id, n_bigrams,
    logprob).

    Scale shape: everything model-keyed runs over the per-(doc, w1, w2)
    COUNT table — one row per distinct pair per doc, never the token
    stream; the conditional totals aggregate that same table; V is a
    broadcast 1-row scalar.  Determinism: ln() sees an exact integer
    ratio (correctly-rounded double on both engines, ln agrees to
    <= 1 ulp), per-bigram log-probs round to INTEGER 1e-9 units so the
    weighted sum is an exact BIGINT (order-independent), and the mean
    is two correctly-rounded double divisions — the unigram_logprob
    convention exactly."""
    par = df.sparkSession.sparkContext.defaultParallelism
    # token array materialized before pair assembly (HOF re-evaluation)
    bg = F.arrays_zip(
        F.slice(F.col("_ws"), 1, F.size("_ws") - 1).alias("w1"),
        F.slice(F.col("_ws"), 2, F.size("_ws") - 1).alias("w2"),
    )
    pairs = (
        df.repartition(par, F.col(id_col))
        .select(
            F.col(id_col),
            F.filter(words(F.col(text_col)), lambda t: t != F.lit("")).alias("_ws"),
        )
        .where(F.size("_ws") >= 2)
        .select(F.col(id_col), F.explode(bg).alias("x"))
        .select(id_col, F.col("x.w1").alias("w1"), F.col("x.w2").alias("w2"))
    )
    # three consumers (pair totals, predecessor totals, scoring join): one eval
    tf = (
        pairs.groupBy(id_col, "w1", "w2")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    c12 = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    c1 = tf.groupBy("w1").agg(F.sum("tf").alias("c1"))
    v = tf.agg(F.countDistinct("w2").alias("v"))
    logp_e9 = F.round(
        F.log((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double"))
        * 1e9
    ).cast("long")
    scored = (
        tf.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(F.col(id_col), "tf", (F.col("tf") * logp_e9).alias("contrib_e9"))
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_bigrams"),
        (F.sum("contrib_e9").cast("double") / F.sum("tf") / F.lit(1e9)).alias("logprob"),
    )


# ---------------------------------------------------------------------------
# Corpus boilerplate forensics + collocation mining + quality-signal fusion.
#
# Three corpus-level reports a training-data pipeline runs AFTER dedup to
# understand what survived: which n-grams dominate the corpus (boilerplate
# headers/footers the span dedup should have caught), which word pairs are
# genuine collocations (tokenizer-merge candidates / phrase vocabulary),
# and a single fused quality rank from the independent quality signals.
# ---------------------------------------------------------------------------


def ngram_boilerplate(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    top: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Most-duplicated word n-grams corpus-wide: (gram, n_docs, n_occ,
    doc_share), top-`top` by (n_docs, n_occ, gram).  The forensic
    complement of ``duplicate_spans``: spans REMOVE duplicated text per
    doc; this reports WHICH grams dominate, so a pipeline owner can see
    the boilerplate (nav bars, license headers, templated intros) that
    survived document-level dedup.

    Scale shape: positions explode once (repartitioned by doc first so
    one parquet file cannot serialize the explode); the per-(doc, gram)
    count groups WITHOUT a second exchange (hash-partitioning on doc
    satisfies the (doc, gram) clustering); the gram-level rollup is the
    one real shuffle, map-side combined; corpus size is a 1-row
    broadcast scalar; top-k is a TakeOrdered, never a global sort."""
    par = df.sparkSession.sparkContext.defaultParallelism
    # token array materialized before the gram transform (HOF re-evaluation)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_ws") - n),
        lambda i: F.array_join(F.slice(F.col("_ws"), i + 1, n), " "),
    )
    per_doc = (
        df.repartition(par, F.col(id_col))
        .select(
            F.col(id_col),
            F.filter(words(F.col(text_col)), lambda t: t != F.lit("")).alias("_ws"),
        )
        .where(F.size("_ws") >= n)
        .select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("occ"))
    )
    agg = per_doc.groupBy("gram").agg(
        F.count("*").alias("n_docs"), F.sum("occ").alias("n_occ")
    )
    n_corpus = df.agg(F.count("*").alias("n_corpus"))
    return (
        agg.where(F.col("n_docs") >= min_docs)
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "gram",
            "n_docs",
            F.col("n_occ").cast("long").alias("n_occ"),
            (F.col("n_docs").cast("double") / F.col("n_corpus")).alias("doc_share"),
        )
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "gram")
        .limit(top)
    )


def ngram_repetition_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Within-document n-gram-POSITION repetition signals (the Gopher
    repetition filters, Rae et al. 2021 §A1.1), complementing the
    word-level :func:`repetition_scores` above: per doc with ≥3 words,
      dup2_share     — fraction of bigram POSITIONS that repeat an
                       earlier bigram: (n₂ − distinct₂)/n₂,
      dup3_share     — same for trigrams,
      top2gram_share — occurrences of the single most frequent bigram
                       over all bigram positions.
    High values mark machine-generated loops, keyword stuffing and
    templated spam that corpus-LEVEL dedup never sees (the duplication
    is inside one row).

    Scale shape: every signal is a row-local array expression over the
    doc's own words — zero shuffles, zero joins, whole-stage codegen;
    the per-row cost of top2gram_share is O(distinct·n) on the doc's
    bigrams, bounded by doc length, embarrassingly parallel at 100 TB.
    The word array AND the gram arrays are materialized as columns
    first: building a gram EXPRESSION inside the nested count lambda
    would re-run tokenizer + gram assembly per distinct bigram (the
    round-9 HOF re-evaluation sweep)."""
    ws = F.col("_ws")

    def grams(k: int):
        return F.transform(
            F.sequence(F.lit(0), F.size(ws) - k),
            lambda i: F.array_join(F.slice(ws, i + 1, k), " "),
        )

    bg, tg = F.col("_bg"), F.col("_tg")
    n2, n3 = F.size(bg), F.size(tg)
    d2, d3 = F.size(F.array_distinct(bg)), F.size(F.array_distinct(tg))
    top2 = F.array_max(
        F.transform(
            F.array_distinct(bg), lambda x: F.size(F.filter(bg, lambda y: y == x))
        )
    )
    return (
        df.withColumn("_ws", F.filter(words(F.col(text_col)), lambda t: t != F.lit("")))
        .where(F.size(ws) >= 3)
        .withColumn("_bg", grams(2))
        .withColumn("_tg", grams(3))
    ).select(
        id_col,
        ((n2 - d2).cast("double") / n2.cast("double")).alias("dup2_share"),
        ((n3 - d3).cast("double") / n3.cast("double")).alias("dup3_share"),
        (top2.cast("double") / n2.cast("double")).alias("top2gram_share"),
    )


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    top: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top adjacent-word collocations by pointwise mutual information:
    (w1, w2, c12, pmi), top-`top` by (pmi, w1, w2).  PMI =
    ln(c12·N / (c1·c2)) over bigram-position counts (c1 = occurrences
    of w1 as a LEFT word, c2 = of w2 as a RIGHT word, N = total bigram
    positions) — the classic collocation / phrase-vocabulary miner
    (tokenizer merge candidates, multi-word entities).

    Scale shape: the token stream collapses to the corpus-wide
    (w1, w2) count table in one map-side-combined shuffle; the marginal
    counts aggregate that SAME table (never the stream again); N is a
    1-row broadcast scalar; top-k is a TakeOrdered.  Determinism: each
    ln() sees an exact BIGINT, rounds to INTEGER 1e-9 units, and PMI is
    an exact integer sum of the four terms — bit-portable (the
    zipf/ols ln-of-integer convention).

    The token array is MATERIALIZED AS A COLUMN before bigram assembly,
    and adjacent pairs come from arrays_zip over two slices — never
    element_at over the tokenizer EXPRESSION: codegen does not
    common-subexpression-eliminate a higher-order-function argument, so
    each element_at re-ran the whole regex tokenizer (O(tokens²) per
    doc — profiled at 9.8 s vs 0.5 s on sf0.1, the round-8 regression)."""
    tok = (
        df.select(F.filter(words(F.col(text_col)), lambda t: t != F.lit("")).alias("ws"))
        .where(F.size("ws") >= 2)
    )
    bg = F.arrays_zip(
        F.slice(F.col("ws"), 1, F.size("ws") - 1).alias("w1"),
        F.slice(F.col("ws"), 2, F.size("ws") - 1).alias("w2"),
    )
    c12 = (
        tok.select(F.explode(bg).alias("x"))
        .select(F.col("x.w1").alias("w1"), F.col("x.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=False)  # three consumers: marginals ×2 + scoring
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c2 = c12.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n = c12.agg(F.sum("c12").alias("n"))

    def _ln_e9(c):
        return F.round(F.log(c.cast("double")) * 1e9).cast("long")

    return (
        c12.where(F.col("c12") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            (
                (
                    _ln_e9(F.col("c12"))
                    + _ln_e9(F.col("n"))
                    - _ln_e9(F.col("c1"))
                    - _ln_e9(F.col("c2"))
                ).cast("double")
                / F.lit(1e9)
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top)
    )


def quality_ensemble(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fused per-doc quality rank from three INDEPENDENT signals —
    unigram LM log-prob, bigram LM log-prob, and the rule tier's
    stopword ratio — each min-max normalized over the corpus, then
    averaged: (doc_id, q_unigram, q_bigram, q_stopword, ensemble).
    The single scalar a pipeline thresholds when no one signal is
    trusted alone (LM scores love repetitive text; rule ratios love
    stopword-stuffed spam; the blend demotes both failure modes).

    Scale + determinism: min-max (not z-score or percent_rank) is
    deliberate — the normalizer is ONE aggregate broadcast as a 1-row
    scalar (a global percent_rank would plan a SinglePartition window),
    and min/max are exact order statistics, so every normalized value
    is a correctly-rounded double of bit-identical inputs on both
    engines.  Docs under 2 words carry no bigram signal and are
    excluded (inner join), matching the LM operators' own domains."""
    uni = unigram_logprob(df, text_col=text_col, id_col=id_col).select(
        id_col, F.col("logprob").alias("q_unigram")
    )
    bi = bigram_logprob(df, text_col=text_col, id_col=id_col).select(
        id_col, F.col("logprob").alias("q_bigram")
    )
    rule = quality_scores(df, text_col=text_col, id_col=id_col).select(
        id_col, F.col("stopword_ratio").alias("q_stopword")
    )
    j = uni.join(bi, id_col).join(rule, id_col)
    mm = j.agg(
        F.min("q_unigram").alias("mn_u"),
        F.max("q_unigram").alias("mx_u"),
        F.min("q_bigram").alias("mn_b"),
        F.max("q_bigram").alias("mx_b"),
        F.min("q_stopword").alias("mn_s"),
        F.max("q_stopword").alias("mx_s"),
    )

    def _norm(x, mn, mx):
        # Degenerate corpus guard: a corpus-wide constant signal (mx == mn)
        # carries no rank information — pin it to the neutral midpoint 0.5
        # instead of letting NULL propagate and void the whole ensemble.
        return F.when(
            F.col(mx) > F.col(mn),
            (F.col(x) - F.col(mn)) / (F.col(mx) - F.col(mn)),
        ).otherwise(F.lit(0.5))

    nu = _norm("q_unigram", "mn_u", "mx_u")
    nb = _norm("q_bigram", "mn_b", "mx_b")
    ns = _norm("q_stopword", "mn_s", "mx_s")
    return j.crossJoin(F.broadcast(mm)).select(
        id_col,
        "q_unigram",
        "q_bigram",
        "q_stopword",
        (F.round((nu + nb + ns) / 3 * 1e9).cast("long") / F.lit(1e9)).alias("ensemble"),
    )


def lexical_diversity(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group lexical diversity — (group, n_tokens, n_types, ttr,
    hapax_types, hapax_share): type-token ratio and the hapax-legomenon
    share, the natural-language-health forensics beside the Zipf slope
    (a template farm has tiny TTR; boilerplate-free prose keeps a fat
    hapax tail).

    Scale shape (100 TB): the token explosion aggregates to the
    (group, word) count table with map-side combine — the same single
    shuffle the tf_idf/vocab path pays — then the per-group rollup runs
    on |groups| × |vocab| rows.  All counts are exact integers; the two
    ratios are one double division each of identical integers, rounded
    to 1e-9, so the profile is oracle-exact."""
    par = df.sparkSession.sparkContext.defaultParallelism
    tok = (
        df.repartition(par, F.col(group_col))
        .select(F.col(group_col).alias("grp"), F.explode(words(F.col(text_col))).alias("term"))
        .where(F.col("term") != "")
    )
    wc = tok.groupBy("grp", "term").agg(F.count("*").alias("cnt"))
    hapax = F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
    return wc.groupBy("grp").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.round(F.count("*").cast("double") / F.sum("cnt"), 9).alias("ttr"),
        hapax.alias("hapax_types"),
        F.round(hapax.cast("double") / F.count("*"), 9).alias("hapax_share"),
    ).withColumnRenamed("grp", group_col)
