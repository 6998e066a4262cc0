"""Text analysis operators over document/transcript text columns.

All JVM-side column expressions (regexp/split/length/aggregate) — the
hot path stays inside whole-stage codegen. Each produces per-document
scalar features in the same spirit as the engine's per-turn signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .exprs import chain, epoch_us, literal_frame, norm_words, np_log, ordered_sums, words


def with_json_field(
    df: DataFrame, json_col: str, path: str, out: str, cast: str = "long"
) -> DataFrame:
    """Extract one field from a JSON string column (JVM get_json_object —
    semi-structured ingest for pipeline metadata like events.props)."""
    return df.withColumn(out, F.get_json_object(F.col(json_col), path).cast(cast))

# tiny deterministic stopword lists for the n-gram/stopword language
# heuristic (rule-based on purpose: reproducible in any SQL engine)
_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "que", "de", "es"),
}

_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (letters / digits /
    punctuation split), both JVM-side."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_BPE_ISH), 0))
    return df.withColumn("n_tokens_ws", ws.cast("long")).withColumn(
        "n_tokens_bpe", bpe.cast("long")
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring block: length, punctuation/digit/upper ratios,
    mean word length, stopword ratio — the standard pre-training filters."""
    length = F.length(F.col(text_col))
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    n_digit = F.length(F.regexp_replace(F.col(text_col), r"[^0-9]", ""))
    n_upper = F.length(F.regexp_replace(F.col(text_col), r"[^A-Z]", ""))
    toks = words(F.col(text_col))
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*[w for ws in _LANG_MARKERS.values() for w in ws]))
    )
    safe_len = F.greatest(length, F.lit(1)).cast("double")
    return (
        df.withColumn("n_chars_q", length.cast("long"))
        .withColumn("punct_ratio", F.round(n_punct / safe_len, 6))
        .withColumn("digit_ratio", F.round(n_digit / safe_len, 6))
        .withColumn("upper_ratio", F.round(n_upper / safe_len, 6))
        .withColumn(
            "mean_word_len",
            F.round(
                F.aggregate(toks, F.lit(0.0), lambda a, t: a + F.length(t))
                / F.greatest(F.size(toks), F.lit(1)),
                6,
            ),
        )
        .withColumn(
            "stopword_ratio", F.round(n_stop / F.greatest(F.size(toks), F.lit(1)), 6)
        )
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rule-based language id: argmax of per-language marker-token hits,
    'und' (undetermined) when no marker occurs. Deterministic and
    SQL-portable by construction."""
    toks = words(F.col(text_col))

    def _marker_count(markers):
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = {lang: _marker_count(markers) for lang, markers in _LANG_MARKERS.items()}
    best = F.lit("und")
    best_score = F.lit(0)
    # deterministic order: later languages win ties only with strictly
    # higher scores
    for lang in sorted(_LANG_MARKERS):
        s = scores[lang]
        take = s > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    return df.withColumn("lang_pred", best)


def with_fingerprint(df: DataFrame, n: int = 4, text_col: str = "text") -> DataFrame:
    """Document fingerprint: min md5 over word n-gram shingles (the
    winnowing-min idea with a single global window). Stable, portable,
    useful as a cheap near-dup prefilter."""
    toks = words(F.col(text_col))
    n_sh = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(n_sh - 1, F.lit(0))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, n))),
    )
    fp = F.when(n_sh > 0, F.array_min(shingles)).otherwise(F.md5(F.lower(F.trim(F.col(text_col)))))
    return df.withColumn("fingerprint", fp)


# PII patterns chosen from the RE2 ∩ Java-regex portable subset (no
# lookaround/backrefs), so the Spark plan and the DuckDB oracle match
# byte-for-byte. Order matters: emails are redacted before IPs so a
# dotted domain is never half-eaten.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9 ()-]{7,}[0-9]", "<PHONE>"),
)


def tfidf_topk(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k TF-IDF tokens per document: tf = raw in-doc count, smooth
    idf = ln((N+1)/(df+1)) + 1 (scikit-learn's formulation, public).

    Plan shape: token explode -> (doc, token) count [one shuffle] ->
    per-token doc frequency over the VOCAB-sized frame [one shuffle,
    map-combined] -> join idf back [vocab-side small, broadcastable at
    any realistic vocab] -> per-doc window top-k. The ln runs as a
    vectorized Arrow pandas_udf over the vocab frame only (one value per
    distinct token, not per occurrence) so the transcendental is glibc's
    — bit-identical to the NumPy/DuckDB oracle; everything row-scale
    stays JVM-side.

    Ranking is on the 6dp-rounded score (ties broken by token asc), so
    the ordering is reproducible across engines by construction.
    """
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism, 2)
    toks = docs.repartition(n_parts, id_col).select(
        F.col(id_col), F.explode(norm_words(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count("*").cast("double").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").cast("double").alias("df_t"))
    n_docs = docs.select(F.count("*").cast("double").alias("n_docs"))

    idf = dfreq.crossJoin(F.broadcast(n_docs)).withColumn(
        "idf", np_log((F.col("n_docs") + 1.0) / (F.col("df_t") + 1.0)) + 1.0
    )
    scored = tf.join(idf.select("token", "idf"), "token").withColumn(
        "tfidf", F.round(F.col("tf") * F.col("idf"), 6)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "token", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    key_col: str = "doc_id",
    salt: str = "s1",
) -> DataFrame:
    """Deterministic per-stratum hash sampling: each stratum keeps rows
    whose salted-md5 prefix falls under that stratum's threshold — the
    reproducible analogue of ``sampleBy`` (no RNG, stable across runs,
    partitions, and engines; a different salt gives an independent
    draw). The thresholds are 8-hex-digit string literals computed once
    at plan time, so the filter is a pure whole-stage-codegen CASE +
    string compare with zero shuffles."""

    def _thr(rate: float) -> str:
        r = min(max(rate, 0.0), 1.0)
        return format(min(int(r * 16**8), 16**8 - 1), "08x") if r < 1.0 else "g" * 8

    # 'gggggggg' sorts above every hex string -> keep-all for rate >= 1
    thr = F.lit(_thr(default_rate))
    for value in sorted(rates):
        thr = F.when(F.col(strata_col) == value, F.lit(_thr(rates[value]))).otherwise(thr)
    h = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(key_col).cast("string"))), 1, 8
    )
    return df.where(h < thr)


def top_tokens(
    docs: DataFrame,
    k: int = 10,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group top-k frequent tokens (heavy hitters): token explode ->
    (group, token) count [one shuffle, map-side combined] -> per-group
    window top-k over the VOCAB-sized aggregate. Integer counts with
    token-asc tie-breaks: deterministic on any engine. The window runs
    over ~|groups|x|vocab| rows, not the corpus."""
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism, 2)
    toks = docs.repartition(n_parts, id_col).select(
        F.col(group_col), F.explode(norm_words(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy(group_col, "token").agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy(group_col).orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(group_col, "token", "n", F.col("rank").cast("long").alias("rank"))
    )


def with_pii_redaction(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / international-format phone numbers and
    count each kind — the standard pretraining-corpus scrubbing pass,
    expressed as pure regexp column expressions (whole-stage codegen; the
    engine never materializes an unredacted copy downstream).

    Adds ``text_redacted`` plus ``n_<kind>`` counts per document."""
    out = F.col(text_col)
    for kind, pat, repl in PII_PATTERNS:
        df = df.withColumn(f"n_{kind}", F.regexp_count(out, F.lit(pat)).cast("long"))
        out = F.regexp_replace(out, pat, repl)
    return df.withColumn("text_redacted", out)


def hashed_embedding(
    df: DataFrame, dims: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Feature-hashing text embedding (the hashing trick, Weinberger et
    al. 2009): each token is assigned a bucket by the first 4 hex chars
    of its md5 (engine-portable — no JVM-specific hash), the document
    vector is the per-bucket token count, L2-normalized. The cheap,
    vocabulary-free featurizer that feeds the similarity/dedup stack
    (cosine_topk, embedding_near_dup_pairs, kmeans) when no trained
    embeddings exist.

    Emits ``dims`` wide columns ``e00..`` so values stay hash-exact
    across engines (norm = sqrt of an integer sum in one fixed
    expression; each component one IEEE division). Plan: one explode +
    one groupBy(doc) with ``dims`` conditional-sum aggregates — a single
    shuffle on the document key, map-side combined.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 4), 16, 10).cast("long")
        % dims
    )
    toks = df.select(
        F.col(id_col),
        F.explode(words(F.col(text_col))).alias("token"),
    ).withColumn("_b", bucket)
    counts = toks.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.col("_b") == d, 1).otherwise(0)).cast("long").alias(f"_c{d}")
            for d in range(dims)
        ]
    )
    norm_sq = None
    for d in range(dims):
        term = F.col(f"_c{d}") * F.col(f"_c{d}")
        norm_sq = term if norm_sq is None else norm_sq + term
    norm = F.sqrt(norm_sq.cast("double"))
    out = counts.withColumn("_norm", norm)
    for d in range(dims):
        out = out.withColumn(
            f"e{d:02d}",
            F.when(
                F.col("_norm") > 0, F.col(f"_c{d}").cast("double") / F.col("_norm")
            ).otherwise(F.lit(0.0)),
        )
    return out.select(id_col, *[f"e{d:02d}" for d in range(dims)])


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 lexical retrieval (Robertson/Sparck-Jones probabilistic
    relevance, the Lucene/Elasticsearch default scorer): per (query, doc)
    score = sum over query terms of
    ``ln(1 + (N - df + 0.5)/(df + 0.5)) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.

    Plan shape is the inverted-index PROBE, not an index build: the
    token explode is filtered to the (broadcast-literal) query-term set
    BEFORE the first shuffle, so the only data that moves is the
    postings of the queried terms — at 100 TB that is the difference
    between shuffling the corpus vocabulary and shuffling a few
    thousand rows per term. Corpus stats (N, avgdl) are a one-row
    broadcast; per-term df is a count-window over the postings frame
    (one postings-sized exchange — NOT a second corpus explode); the
    query bag is a broadcast literal; scoring is a map-side
    expression; the per-(query, doc) sum is ``exprs.ordered_sums``
    over the token-sorted contributions (collect_list bounded by the
    query length), so the float addition order is engine-independent
    and DuckDB replays the score bit-for-bit. Ranking is on the
    6dp-rounded score with doc-id tiebreak (the tfidf_topk convention).

    The idf ln runs as a vectorized Arrow pandas_udf over the
    |terms|-sized frame only (glibc log == DuckDB ln; Java's Math.log
    can differ in the last ulp).

    Output: (query_id, doc_id, score double 6dp, rank).
    """
    terms = sorted({t for _, ts in queries for t in ts})
    spark = docs.sparkSession

    base = docs.select(
        F.col(id_col), norm_words(F.col(text_col)).alias("_tk")
    ).select(id_col, "_tk", F.size("_tk").cast("long").alias("_dl"))
    stats = base.agg(
        F.count("*").cast("double").alias("_n_docs"),
        (F.sum("_dl").cast("double") / F.count("*").cast("double")).alias("_avgdl"),
    )

    toks = base.select(id_col, "_dl", F.explode("_tk").alias("token")).where(
        F.col("token").isin(terms)
    )
    tf = toks.groupBy(id_col, "_dl", "token").agg(
        F.count("*").cast("double").alias("_tf")
    )
    # per-term doc frequency as a window over the POSTINGS frame — one
    # extra exchange on token (postings-sized), not a second corpus
    # explode: a groupBy-on-token sibling would branch the lineage and
    # rescan+re-explode the whole corpus (plan-asserted: one Generate)
    tfdf = tf.withColumn(
        "_df", F.count("*").over(Window.partitionBy("token")).cast("double")
    )

    qexp = literal_frame(
        spark,
        [(qid, t) for qid, ts in queries for t in sorted(set(ts))],
        "query_id long, token string",
    )
    contrib = (
        tfdf.join(F.broadcast(qexp), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            np_log(
                1.0 + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ),
        )
        .withColumn(
            "_c",
            F.col("_idf")
            * (F.col("_tf") * (k1 + 1.0))
            / (
                F.col("_tf")
                + k1 * (1.0 - b + b * F.col("_dl").cast("double") / F.col("_avgdl"))
            ),
        )
    )
    agg = contrib.groupBy("query_id", id_col).agg(
        *ordered_sums(["token"], score=F.col("_c"))
    ).withColumn("score", F.round("score", 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col(id_col).cast("long").alias(id_col),
            "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def trending_tokens(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily trending tokens: the top-k tokens per UTC day by document
    (turn) frequency — the monitoring query a corpus pipeline trends to
    catch a scraper suddenly flooding one template or a new spam
    campaign (a token that jumps into the daily top-k overnight).

    Counting is DOCUMENT frequency (each turn counts a token once —
    distinct tokens per turn before the explode), which is robust to
    one pathological document repeating a token millions of times.

    Plan shape: distinct-token explode (the TF-IDF cost class), ONE
    map-side-combined groupBy on (day, token), then a bounded top-k
    window per day (row_number over counts with the deterministic
    (count desc, token asc) tie-break — oracle-replayable exactly).
    The per-day state is |distinct tokens that day|, never turns.

    Output: (day date, token string, n_docs long, rank int).
    """
    from pyspark.sql import Window

    toks = F.array_distinct(words(F.col(text_col)))
    ex = df.select(
        F.to_date(F.col(ts_col).cast("timestamp")).alias("day"),
        F.explode(toks).alias("token"),
    )
    counts = ex.groupBy("day", "token").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = Window.partitionBy("day").orderBy(
        F.col("n_docs").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("day", "token", "n_docs", "rank")
    )


def pmi_collocations(
    docs: DataFrame,
    k: int = 20,
    min_count: int = 5,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group top-k collocations: adjacent token bigrams ranked by
    pointwise mutual information,

        pmi = log2( p(xy) / (p(x) p(y)) )
            = log2( (c_xy * M * M) / ((c_x * c_y) * N) )

    with c_xy the bigram count, c_x/c_y unigram counts, N/M the total
    bigram/unigram positions in the group — the classical collocation
    detector (Church & Hanks 1990): bigrams that co-occur far more than
    their parts predict ("new york" scores; "of the" does not, both
    parts being everywhere). A pretraining pipeline trends these to
    spot template floods and boilerplate glue phrases.

    Plan shape: ONE corpus-scale shuffle each for bigram and unigram
    counts (both map-side combined); the unigram side and the per-group
    totals are VOCAB-sized, so both joins onto the bigram aggregate are
    broadcasts; the `min_count` filter prunes the rank window's input
    before it runs (the long tail of hapax bigrams — the bulk of the
    count table — never reaches the window). The final top-k window
    partitions by group over the filtered vocab-sized aggregate, the
    top_tokens cost class.

    Determinism: counts are exact longs; pmi is one fixed chain of
    casts, three multiplies, a divide and a log2 — SQL-replayable —
    and ties break on the bigram string.

    Output: (group, bigram string, n long, pmi double, rank int).
    """
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism, 2)
    base = docs.repartition(n_parts, id_col).select(
        F.col(group_col).alias("g"),
        norm_words(F.col(text_col)).alias("_tk"),
    )
    uni = (
        base.select("g", F.explode("_tk").alias("tok"))
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grams = F.expr(
        "transform(sequence(1, size(_tk) - 1),"
        " i -> struct(element_at(_tk, i) AS t1, element_at(_tk, i + 1) AS t2))"
    )
    bi_all = (
        base.where(F.size("_tk") >= 2)
        .select("g", F.explode(grams).alias("b"))
        .select("g", F.col("b.t1").alias("t1"), F.col("b.t2").alias("t2"))
        .groupBy("g", "t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    )
    bi = bi_all.where(F.col("c_xy") >= min_count)
    tot = uni.groupBy("g").agg(
        F.sum("c").cast("long").alias("m_uni")
    )
    # N (bigram positions) must count ALL bigrams, not just the
    # min_count survivors. Sum the UNFILTERED bigram aggregate — a
    # vocab-sized input whose exchange is shared with `bi` (identical
    # subtree -> ReuseExchange), so N costs no extra corpus scan.
    n_bi = bi_all.groupBy("g").agg(F.sum("c_xy").cast("long").alias("n_bi"))
    j = (
        bi.join(F.broadcast(uni.withColumnRenamed("tok", "t1").withColumnRenamed("c", "c_x")), ["g", "t1"])
        .join(F.broadcast(uni.withColumnRenamed("tok", "t2").withColumnRenamed("c", "c_y")), ["g", "t2"])
        .join(F.broadcast(tot), "g")
        .join(F.broadcast(n_bi), "g")
    )
    cxy = F.col("c_xy").cast("double")
    cx = F.col("c_x").cast("double")
    cy = F.col("c_y").cast("double")
    m = F.col("m_uni").cast("double")
    nb = F.col("n_bi").cast("double")
    pmi = F.log2(((cxy * m) * m) / ((cx * cy) * nb))
    scored = j.select(
        F.col("g").alias(group_col),
        F.concat_ws(" ", "t1", "t2").alias("bigram"),
        F.col("c_xy").alias("n"),
        pmi.alias("pmi"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("pmi").desc(), F.col("bigram").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(group_col, "bigram", "n", "pmi", "rank")
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily n-gram novelty: for each UTC day, the fraction of that
    day's DISTINCT token n-grams never seen on any earlier day — the
    corpus-freshness monitor (a scraper stuck re-crawling yesterday's
    pages sends novelty to 0; a new source coming online spikes it).

    Plan shape: n-gram explode -> distinct (day, gram) [one shuffle on
    the pair, map-side combined by the partial distinct] -> per-gram
    first-seen day [one shuffle on gram] -> the day totals join the
    first-seen table ON GRAM, where both sides are already hash-
    partitioned — Catalyst reuses the exchange, no third shuffle of
    the gram-scale data; the final per-day rollup moves |days| x 2
    longs. All counts exact integers; novelty is one division.

    Output: (day date, n_grams long — distinct n-grams that day,
    n_new long — first seen that day, novelty double).
    """
    toks = words(F.col(text_col))
    # Spark's sequence(1, 0) is the DESCENDING [1, 0] (not empty), so a
    # turn with < n tokens must be guarded explicitly or slice() sees
    # start = 0 and errors under ANSI mode.
    grams = F.array_distinct(
        F.expr(
            f"CASE WHEN size(_tk) >= {n} THEN"
            f" transform(sequence(1, size(_tk) - {n - 1}),"
            f" i -> array_join(slice(_tk, i, {n}), ' '))"
            f" ELSE array() END"
        )
    )
    dg = (
        df.select(
            F.to_date(F.col(ts_col).cast("timestamp")).alias("day"),
            toks.alias("_tk"),
        )
        .select("day", F.explode(grams).alias("gram"))
        .distinct()
    )
    first = dg.groupBy("gram").agg(F.min("day").alias("first_day"))
    per_day = (
        dg.join(first, "gram")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count(F.when(F.col("day") == F.col("first_day"), 1))
            .cast("long")
            .alias("n_new"),
        )
    )
    return per_day.select(
        "day",
        "n_grams",
        "n_new",
        (F.col("n_new").cast("double") / F.col("n_grams").cast("double")).alias(
            "novelty"
        ),
    )


def lexical_diversity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document lexical-diversity profile — the vocabulary-richness
    block of a corpus quality report (Tweedie & Baayen 1998):

      n_tokens / n_types / ttr   type-token ratio
      hapax_ratio                types occurring once / types
      entropy_bits               Shannon entropy of the token distribution
      simpson                    repeat-rate sum p_i^2 (1/simpson = eff. vocab)
      yule_k                     10^4 * (sum f_i^2 - N) / N^2 (length-robust)
      chars_per_token / bytes_per_token   tokenizer-fertility proxies

    Scale + determinism shape: one (doc, token) count shuffle, then one
    groupBy(doc). The integer statistics (N, V, sum f^2, hapax) are
    exact order-free sums; the two float sums (entropy, Simpson) fold
    over the TOKEN-SORTED per-doc frequency array via F.aggregate — a
    strict sequential order the DuckDB oracle replays with
    list_reduce(list(term ORDER BY token)). The collect_list is bounded
    by per-document vocabulary (the same per-doc bound every chunking
    operator in the engine documents).

    Output: (id_col, n_tokens long, n_types long, ttr, hapax_ratio,
    entropy_bits, simpson, yule_k, chars_per_token, bytes_per_token).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(words(F.col(text_col))).alias("_tok"),
    )
    tf = toks.groupBy(id_col, "_tok").agg(F.count("*").cast("long").alias("_c"))
    per = tf.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_sff"),
        F.count(F.when(F.col("_c") == 1, 1)).cast("long").alias("_hapax"),
        F.sort_array(F.collect_list(F.struct("_tok", "_c"))).alias("_arr"),
    )
    n = F.col("n_tokens").cast("double")
    v = F.col("n_types").cast("double")
    p = lambda s: s["_c"].cast("double") / n  # noqa: E731
    # kept as folds: each term reads the document's n_tokens, known only
    # after the collect
    ent = -F.aggregate(
        F.col("_arr"), F.lit(0.0), lambda a, s: a + p(s) * F.log2(p(s))
    )
    simp = F.aggregate(F.col("_arr"), F.lit(0.0), lambda a, s: a + p(s) * p(s))
    lens = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("_nch"),
        F.octet_length(F.col(text_col)).cast("long").alias("_nby"),
    )
    return per.join(lens, id_col).select(
        id_col,
        "n_tokens",
        "n_types",
        (v / n).alias("ttr"),
        (F.col("_hapax").cast("double") / v).alias("hapax_ratio"),
        ent.alias("entropy_bits"),
        simp.alias("simpson"),
        (
            F.lit(10000.0)
            * (F.col("_sff") - F.col("n_tokens")).cast("double")
            / (n * n)
        ).alias("yule_k"),
        (F.col("_nch").cast("double") / n).alias("chars_per_token"),
        (F.col("_nby").cast("double") / n).alias("bytes_per_token"),
    )


def zipf_fit(
    docs: DataFrame,
    k: int = 100,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Zipf's-law fit per group: OLS of ln(count) on ln(rank) over the
    top-``k`` tokens — the corpus-health number every data report
    quotes (natural text sits near slope -1; template/boilerplate
    floods flatten it, spam dumps steepen it; Zipf 1949, Piantadosi
    2014 review).

    Scale + determinism shape: the rank table is top_tokens' bounded
    top-k (heavy-hitter window over the vocab-sized aggregate, integer
    counts, token-asc ties); the four OLS sums are ``exprs.ordered_sums`` over the
    RANK-SORTED k-element list — the ordered-fold parity idiom, k
    bounded by the operator parameter, so the whole fit costs one
    vocab-shuffle plus a k-row fold regardless of corpus size.

    Output: (group_col, k_used long, zipf_slope double, zipf_intercept
    double). Groups with fewer than 2 distinct tokens emit NULL fits.
    """
    ranks = top_tokens(docs, k=k, group_col=group_col, text_col=text_col, id_col=id_col)
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n").cast("double"))
    per = ranks.groupBy(group_col).agg(
        F.count("*").cast("long").alias("k_used"),
        *ordered_sums(["rank"], _sx=x, _sy=y, _sxy=x * y, _sxx=x * x),
    )
    kk = F.col("k_used").cast("double")
    sx, sy, sxy, sxx = F.col("_sx"), F.col("_sy"), F.col("_sxy"), F.col("_sxx")
    den = kk * sxx - sx * sx
    slope = (kk * sxy - sx * sy) / den
    return per.select(
        group_col,
        "k_used",
        F.when((F.col("k_used") > 1) & (den != 0), slope).alias("zipf_slope"),
        F.when(
            (F.col("k_used") > 1) & (den != 0), (sy - slope * sx) / kk
        ).alias("zipf_intercept"),
    )


def with_markup_density(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Structural-noise flags per document: URL, e-mail, code-fence, and
    HTML-tag counts plus their per-character densities — the RefinedWeb/
    C4-style boilerplate screens that run next to the quality ratios
    (a doc that is half URLs is link spam regardless of its stopword
    ratio).

    Pure narrow regexp_count expressions (shared RE2-safe pattern
    subset, no lookaround), zero shuffle; densities are one division by
    the character count. Oracle-replayable.

    Adds: n_urls, n_emails, n_fences, n_html long; url_density,
    html_density double.
    """
    t = F.col(text_col)
    n_chars = F.greatest(F.length(t), F.lit(1)).cast("double")
    urls = F.regexp_count(t, F.lit(r"https?://[^\s]+"))
    emails = F.regexp_count(
        t, F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+")
    )
    fences = F.regexp_count(t, F.lit("```"))
    html = F.regexp_count(t, F.lit(r"<[A-Za-z][^>]*>"))
    return (
        df.withColumn("n_urls", urls.cast("long"))
        .withColumn("n_emails", emails.cast("long"))
        .withColumn("n_fences", fences.cast("long"))
        .withColumn("n_html", html.cast("long"))
        .withColumn("url_density", urls.cast("double") / n_chars)
        .withColumn("html_density", html.cast("double") / n_chars)
    )


def langid_eval(df: DataFrame, true_col: str = "lang") -> DataFrame:
    """Language-ID confusion matrix against labeled data: per
    (true, predicted) cell the count, the row fraction (recall
    direction), and the model's overall accuracy — the eval table that
    says whether the n-gram heuristic is good enough for the corpus at
    hand before it gates anything.

    One aggregation over the scored frame (|langs|^2 cells); accuracy is
    an exact integer ratio computed on the same compacted frame via a
    full-frame window sum, so nothing touches the corpus twice. All
    exact integers + single divisions — oracle-replayable.

    Output: (lang, lang_pred, n long, row_frac double, accuracy double —
    the model-level scalar, repeated).
    """
    from pyspark.sql import Window

    scored = with_lang_id(df)
    cells = scored.groupBy(true_col, "lang_pred").agg(
        F.count("*").cast("long").alias("n")
    )
    w_row = Window.partitionBy(true_col)
    w_all = Window.partitionBy()
    return cells.select(
        true_col,
        "lang_pred",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_row).cast("double")).alias(
            "row_frac"
        ),
        (
            F.sum(F.when(F.col(true_col) == F.col("lang_pred"), F.col("n")))
            .over(w_all)
            .cast("double")
            / F.sum("n").over(w_all).cast("double")
        ).alias("accuracy"),
    )


def tfidf_hashed_embedding(
    df: DataFrame, dims: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """TF-IDF-weighted feature-hashing embedding: hashed_embedding with
    each token contributing tf * (ln((N+1)/(df+1)) + 1) instead of a
    raw count — the standard upgrade that stops stopword mass from
    dominating every bucket (Salton & Buckley 1988 weighting, smoothed
    so unseen-df never divides by zero).

    Determinism shape: tf and df are exact integers; each token's
    weight is a fixed float chain; the PER-BUCKET sums are
    ``exprs.ordered_sums`` by token (a plain SUM over floats would be
    engine-order dependent) — and the bucket lists are bounded by per-document
    vocabulary. One (doc, token) aggregate, one token equi-join to the
    df side, one (doc, bucket) fold, one doc regroup.

    Emits ``dims`` wide columns ``e00..`` L2-normalized like
    hashed_embedding (norm = fixed chain over the dims bucket values).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(words(F.col(text_col))).alias("token"),
    )
    tf = toks.groupBy(id_col, "token").agg(F.count("*").cast("long").alias("_tf"))
    dfc = tf.groupBy("token").agg(F.count("*").cast("long").alias("_df"))
    n_docs = df.select(F.count("*").cast("long").alias("_N"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 4), 16, 10).cast("long") % dims
    )
    w = F.col("_tf").cast("double") * (
        F.log(
            (F.col("_N") + F.lit(1)).cast("double")
            / (F.col("_df") + F.lit(1)).cast("double")
        )
        + F.lit(1.0)
    )
    scored = (
        tf.join(dfc, "token")
        .join(F.broadcast(n_docs))
        .select(id_col, "token", bucket.alias("_b"), w.alias("_w"))
    )
    per_bucket = scored.groupBy(id_col, "_b").agg(*ordered_sums(["token"], _v=F.col("_w")))
    wide = per_bucket.groupBy(id_col).agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("_b") == d, F.col("_v"))), F.lit(0.0)
            ).alias(f"_v{d}")
            for d in range(dims)
        ]
    )
    norm_sq = None
    for d in range(dims):
        term = F.col(f"_v{d}") * F.col(f"_v{d}")
        norm_sq = term if norm_sq is None else norm_sq + term
    out = wide.withColumn("_norm", F.sqrt(norm_sq))
    for d in range(dims):
        out = out.withColumn(
            f"e{d:02d}",
            F.when(F.col("_norm") > 0, F.col(f"_v{d}") / F.col("_norm")).otherwise(
                F.lit(0.0)
            ),
        )
    return out.select(id_col, *[f"e{d:02d}" for d in range(dims)])


def vocab_turnover(
    df: DataFrame,
    k: int = 20,
    group_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Weekly vocabulary turnover per group: 1 - Jaccard between a
    week's top-k token set and the previous week's — the corpus
    monitor that catches a scraper/source change as a vocabulary cliff
    (trending_tokens names each day's winners; this one scores how
    much the LIST ITSELF churned).

    Weeks are the deterministic integer bucket epoch_days // 7 (no
    ISO-week cross-engine hazard). Top-k is the heavy-hitter window
    over the (group, week, token) aggregate with (count desc, token
    asc) ties; the week-over-week comparison lags the k-element sorted
    array over the TINY (group, week) frame. Set sizes are exact
    integers; turnover is one division.

    Output: (group_col, week long, n_top long, n_common long, turnover
    double — NULL for each group's first week).
    """
    from pyspark.sql import Window

    week = (epoch_us("ts") / F.lit(86400000000)).cast("long") / F.lit(7)
    toks = df.select(
        F.col(group_col),
        week.cast("long").alias("week"),
        F.explode(words(F.col(text_col))).alias("token"),
    )
    counts = toks.groupBy(group_col, "week", "token").agg(
        F.count("*").cast("long").alias("n")
    )
    w_rank = Window.partitionBy(group_col, "week").orderBy(
        F.desc("n"), F.asc("token")
    )
    top = (
        counts.withColumn("_r", F.row_number().over(w_rank))
        .where(F.col("_r") <= k)
        .groupBy(group_col, "week")
        .agg(F.array_sort(F.collect_list("token")).alias("_set"))
    )
    w_lag = Window.partitionBy(group_col).orderBy("week")
    top = top.withColumn("_prev", F.lag("_set").over(w_lag))
    inter = F.size(F.array_intersect("_set", "_prev"))
    union = F.size(F.array_union("_set", "_prev"))
    return top.select(
        group_col,
        "week",
        F.size("_set").cast("long").alias("n_top"),
        F.when(F.col("_prev").isNotNull(), inter).cast("long").alias("n_common"),
        F.when(
            F.col("_prev").isNotNull() & (union > 0),
            F.lit(1.0) - inter.cast("double") / union.cast("double"),
        ).alias("turnover"),
    )


def with_readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Sentence statistics + a Flesch-reading-ease PROXY per document —
    the classic readability screen (C4/Gopher-era pipelines gate on
    crude fluency signals; Flesch 1948 is the standard formula):

        flesch ~= 206.835 - 1.015 * words_per_sentence
                          - 84.6 * syllables_per_word

    with sentences = terminal-punctuation runs (min 1) and syllables
    approximated by vowel-cluster count (the standard cheap proxy; the
    PROXY label is honest — no dictionary hyphenation exists here).

    Pure regexp_count/length expressions (shared RE2-safe subset), zero
    shuffle; three divisions and the fixed formula chain. NULL-safe via
    the min-1 clamps. Oracle-replayable.

    Adds: n_sentences long, n_words long, words_per_sentence double,
    syllables_per_word double, flesch double.
    """
    t = F.col(text_col)
    sents = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)).cast("long")
    n_words = F.greatest(F.size(words(t)), F.lit(1)).cast("long")
    syls = F.greatest(
        F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")), F.lit(1)
    ).cast("long")
    wps = n_words.cast("double") / sents.cast("double")
    spw = syls.cast("double") / n_words.cast("double")
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    return (
        df.withColumn("n_sentences", sents)
        .withColumn("n_words", n_words)
        .withColumn("words_per_sentence", wps)
        .withColumn("syllables_per_word", spw)
        .withColumn("flesch", flesch)
    )


def role_style_distance(
    df: DataFrame,
    dims: int = 64,
    text_col: str = "text",
    group_col: str = "role",
) -> DataFrame:
    """Pairwise style distance between roles: cosine between each
    role's hashed token-count profile (the hashed_embedding bucket, 64
    dims, exact integer counts) — the cheap stylometry check that says
    whether 'assistant' text is drifting toward 'user' text (synthetic
    data contamination) or the roles are collapsing.

    ONE aggregation computes all |groups| x dims counts map-side (the
    group frame is |groups| rows); the pairwise cosine is a fixed
    dims-term chain over exact integers per pair on the tiny self-cross
    of that frame. Deterministic end to end.

    Output: (role_a, role_b, cosine double, dist double = 1 - cosine)
    for each unordered pair (role_a < role_b).
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 4), 16, 10).cast("long") % dims
    )
    toks = df.select(
        F.col(group_col),
        F.explode(words(F.col(text_col))).alias("token"),
    ).withColumn("_b", bucket)
    prof = toks.groupBy(group_col).agg(
        *[
            F.sum(F.when(F.col("_b") == d, 1).otherwise(0))
            .cast("long")
            .alias(f"_c{d}")
            for d in range(dims)
        ]
    )
    a = prof.select(
        F.col(group_col).alias("role_a"),
        *[F.col(f"_c{d}").alias(f"_a{d}") for d in range(dims)],
    )
    b = prof.select(
        F.col(group_col).alias("role_b"),
        *[F.col(f"_c{d}").alias(f"_b{d}") for d in range(dims)],
    )
    pairs = a.join(F.broadcast(b), F.col("role_a") < F.col("role_b"))

    dot = chain(
        [F.col(f"_a{d}").cast("double") * F.col(f"_b{d}").cast("double") for d in range(dims)]
    )
    na = F.sqrt(chain([F.col(f"_a{d}").cast("double") * F.col(f"_a{d}").cast("double") for d in range(dims)]))
    nb = F.sqrt(chain([F.col(f"_b{d}").cast("double") * F.col(f"_b{d}").cast("double") for d in range(dims)]))
    cos = F.when((na > 0) & (nb > 0), dot / (na * nb))
    return pairs.select(
        "role_a",
        "role_b",
        cos.alias("cosine"),
        (F.lit(1.0) - cos).alias("dist"),
    )


def with_code_switching(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-switching detection per document: how often the text
    alternates between languages, measured over the marker-word
    sequence (the multilingual-curation screen — heavy switching means
    either genuine code-switched text, concatenation artifacts, or a
    broken scraper interleaving pages).

    Each token is tagged by the FIRST language whose marker list
    contains it (fixed en/de/fr/es priority — deterministic for the
    ambiguous Romance articles); the tagged subsequence keeps token
    order, and a switch is an adjacent tag change. Pure array
    expressions over per-document tokens, zero shuffle; exact integer
    counts, one division.

    Adds: n_tagged long, n_langs int, n_switches long, switch_rate
    double (NULL when fewer than 2 tagged tokens).
    """
    toks = words(F.col(text_col))

    def tag(t):
        e = None
        for lang in ("en", "de", "fr", "es"):
            cond = t.isin(*_LANG_MARKERS[lang])
            e = F.when(cond, F.lit(lang)) if e is None else e.when(cond, F.lit(lang))
        return e

    tags = F.filter(F.transform(toks, tag), lambda x: x.isNotNull())
    out = df.withColumn("_tags", tags)
    n = F.size("_tags")
    switches = F.size(
        F.filter(
            F.sequence(F.lit(1), n - F.lit(1)),
            lambda i: F.get("_tags", i) != F.get("_tags", i - 1),
        )
    )
    return (
        out.withColumn("n_tagged", n.cast("long"))
        .withColumn("n_langs", F.size(F.array_distinct("_tags")).cast("int"))
        .withColumn(
            "n_switches", F.when(n >= 2, switches).otherwise(F.lit(0)).cast("long")
        )
        .withColumn(
            "switch_rate",
            F.when(
                n >= 2, F.col("n_switches").cast("double") / (n - F.lit(1)).cast("double")
            ),
        )
        .drop("_tags")
    )


def oov_rate(
    docs: DataFrame,
    vocab_k: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-``vocab_k`` token vocabulary — the tokenizer-coverage proxy (a
    doc whose tokens mostly fall outside the head vocabulary will
    fragment into many subword pieces and waste context; spam/garbage
    shows the same tail-heavy signature).

    Two-pass TF shape: one global token count, the top-k cut with the
    (count desc, token asc) heavy-hitter tie-break on the vocab-sized
    frame, then a token-level LEFT SEMI-style membership join and one
    per-doc aggregate. The vocabulary frame is k rows — broadcast. All
    exact integers, one division.

    Output: (id_col, n_tokens long, n_oov long, oov_frac double — NULL
    for empty docs).
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(words(F.col(text_col))).alias("token"),
    )
    counts = toks.groupBy("token").agg(F.count("*").cast("long").alias("_n"))
    w = Window.orderBy(F.desc("_n"), F.asc("token"))
    vocab = (
        counts.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= vocab_k)
        .select("token", F.lit(True).alias("_in_vocab"))
    )
    tagged = toks.join(F.broadcast(vocab), "token", "left")
    g = tagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.count(F.when(F.col("_in_vocab").isNull(), 1)).cast("long").alias("n_oov"),
    )
    return g.withColumn(
        "oov_frac",
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
        ),
    )


def langid_kappa(
    df: DataFrame,
    true_col: str = "lang",
    labels: tuple = ("en", "de", "es", "fr", "und"),
) -> DataFrame:
    """Cohen's kappa for the language-ID heuristic against labeled data
    — chance-corrected agreement (accuracy flatters any classifier on a
    skewed language mix; kappa does not):

        kappa = (p_o - p_e) / (1 - p_e),
        p_e = sum_l p_row(l) * p_col(l)

    over the fixed literal label grid. ONE aggregation computes the
    diagonal and both marginals as exact integer conditional counts on
    a single row; p_o/p_e/kappa are fixed chains over the literal label
    list. Oracle-replayable.

    Output: one row — (n long, accuracy double, p_e double, kappa
    double).
    """
    scored = with_lang_id(df)
    aggs = [F.count("*").cast("long").alias("_n")]
    for l in labels:
        aggs.append(
            F.count(F.when(F.col(true_col) == l, 1)).cast("long").alias(f"_r_{l}")
        )
        aggs.append(
            F.count(F.when(F.col("lang_pred") == l, 1)).cast("long").alias(f"_c_{l}")
        )
    aggs.append(
        F.count(F.when(F.col(true_col) == F.col("lang_pred"), 1))
        .cast("long")
        .alias("_diag")
    )
    g = scored.agg(*aggs)
    n = F.col("_n").cast("double")
    po = F.col("_diag").cast("double") / n
    pe = None
    for l in labels:
        term = (F.col(f"_r_{l}").cast("double") / n) * (
            F.col(f"_c_{l}").cast("double") / n
        )
        pe = term if pe is None else pe + term
    return g.select(
        F.col("_n").alias("n"),
        po.alias("accuracy"),
        pe.alias("p_e"),
        F.when(pe != F.lit(1.0), (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def chao1_richness(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary richness + unseen-mass estimation per group — the two
    classic abundance estimators ecology lent to corpus linguistics,
    over the engine-wide normalized whitespace tokenization:

      * chao1     — bias-corrected Chao1 richness (Chao 1984):
                    D + f1 (f1 - 1) / (2 (f2 + 1)) — a lower bound on
                    the TRUE vocabulary including never-seen types.
      * gt_unseen — Good-Turing missing mass f1 / N (Good 1953): the
                    probability the NEXT token is a new type.
      * coverage  — Turing sample coverage 1 - f1 / N.

    The crawl-planning companion to [[vocab_growth]]: growth shows the
    empirical curve, Chao1 says where it plateaus — how much more of a
    source is worth crawling before vocabulary saturates.

    Determinism + scale: one token explode -> one map-side combined
    groupBy on (group, token) -> one groupBy on group with exact long
    (D, N, f1, f2); the three estimates are single fixed IEEE chains
    over those longs — bit-replayable. State is bounded by per-group
    vocabulary, the same bound every token-frequency operator here
    carries.

    Output: (group, n_tokens long, n_vocab long, f1 long, f2 long,
    chao1 double, gt_unseen double, coverage double — NULL when the
    group has no tokens).
    """
    toks = df.select(
        F.col(group_col).alias("_g"),
        F.explode(norm_words(F.col(text_col))).alias("_tok"),
    )
    per_tok = toks.groupBy("_g", "_tok").agg(F.count("*").cast("long").alias("_c"))
    g = per_tok.groupBy("_g").agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_vocab"),
        F.count(F.when(F.col("_c") == 1, 1)).cast("long").alias("f1"),
        F.count(F.when(F.col("_c") == 2, 1)).cast("long").alias("f2"),
    )
    f1d, f2d = F.col("f1").cast("double"), F.col("f2").cast("double")
    nd = F.col("n_tokens").cast("double")
    chao = F.col("n_vocab").cast("double") + f1d * (f1d - F.lit(1.0)) / (
        F.lit(2.0) * (f2d + F.lit(1.0))
    )
    ok = F.col("n_tokens") > 0
    return g.select(
        F.col("_g").alias(group_col),
        "n_tokens",
        "n_vocab",
        "f1",
        "f2",
        F.when(ok, chao).alias("chao1"),
        F.when(ok, f1d / nd).alias("gt_unseen"),
        F.when(ok, F.lit(1.0) - f1d / nd).alias("coverage"),
    )


def lexical_concentration(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-frequency concentration per group — three classical
    repeated-use measures over the engine-wide normalized whitespace
    tokens (the flip side of [[chao1_richness]]: Chao1 asks how much
    vocabulary is MISSING, these ask how concentrated the observed
    usage is):

      * yule_k     — Yule's characteristic K = 1e4 (sum_t c_t^2 - N)
                     / N^2 (Yule 1944): length-robust repetitiveness;
                     higher = fewer types dominate.
      * simpson_d  — Simpson/Herdan repeat probability
                     sum_t c_t (c_t - 1) / (N (N - 1)): chance two
                     sampled tokens are the same type.
      * herfindahl — sum_t (c_t / N)^2, the market-concentration view
                     (1/herfindahl = effective vocabulary size).

    A template-duplicated or looping source spikes all three before
    any dedup pass runs — the cheap corpus-health screen next to the
    full [[dedup]] machinery.

    Determinism + scale: the chao1 single-pass shape — one token
    explode, one map-side combined groupBy on (group, token), one
    group aggregate with exact longs (N, D, sum c^2 — c^2 <= N^2 stays
    in long for N < 3e9 per type); each measure is a fixed IEEE chain.

    Output: (group, n_tokens long, n_vocab long, yule_k double,
    simpson_d double — NULL when n < 2, herfindahl double — NULL when
    n = 0).
    """
    toks = df.select(
        F.col(group_col).alias("_g"),
        F.explode(norm_words(F.col(text_col))).alias("_tok"),
    )
    per_tok = toks.groupBy("_g", "_tok").agg(F.count("*").cast("long").alias("_c"))
    g = per_tok.groupBy("_g").agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_vocab"),
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_scc"),
    )
    nd = F.col("n_tokens").cast("double")
    scc = F.col("_scc").cast("double")
    yule = F.lit(10000.0) * (scc - nd) / (nd * nd)
    simpson = (scc - nd) / (nd * (nd - F.lit(1.0)))
    herf = scc / (nd * nd)
    return g.select(
        F.col("_g").alias(group_col),
        "n_tokens",
        "n_vocab",
        F.when(F.col("n_tokens") > 0, yule).alias("yule_k"),
        F.when(F.col("n_tokens") >= 2, simpson).alias("simpson_d"),
        F.when(F.col("n_tokens") > 0, herf).alias("herfindahl"),
    )


def bpe_top_pairs(
    docs: DataFrame,
    k: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One byte-pair-encoding merge step (Sennrich et al. 2016; the GPT
    tokenizer-training primitive): rank adjacent SYMBOL pairs by their
    corpus frequency, weighted by word count — the pair at rank 1 is
    the merge a BPE trainer would apply next. Tokenizer training is
    inherently sequential across merges (each merge re-tokenizes), so
    the operator exposes ONE step as a deterministic transformation;
    a trainer loops it, re-submitting with the merged vocab (at corpus
    scale each step is a full Spark job and the loop lives in the
    driver script, like [[pagerank_bipartite]]'s fixed-K convention).

    Plan: the word-frequency table is ONE corpus shuffle (map-side
    combined, Zipf-bounded); everything after runs on the VOCAB, not
    the corpus — pair explosion is per distinct word (bounded by word
    length), the pair aggregate is alphabet^2-bounded. This is the
    whole reason BPE training scales: after the first count, the
    corpus is never touched again.

    Determinism: exact long counts; ties break on the pair string.

    Output: k rows (pair string 'x y', merged string 'xy', n long
    pair occurrences weighted by word frequency, rank long).
    """
    n_parts = max(docs.sparkSession.sparkContext.defaultParallelism, 2)
    toks = docs.repartition(n_parts, id_col).select(
        F.explode(norm_words(F.col(text_col))).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count("*").cast("long").alias("_c"))
    pairs = vocab.where(F.length("token") >= 2).select(
        "_c",
        F.explode(
            F.expr(
                "transform(sequence(1, length(token) - 1), "
                "i -> concat(substr(token, i, 1), ' ', substr(token, i + 1, 1)))"
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("_c").cast("long").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("pair"))  # vocab-bounded: tiny
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "pair",
            F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
            "n",
            "rank",
        )
    )


def good_turing(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, max_r: int = 5,
) -> DataFrame:
    """Good-Turing frequency re-estimation over the corpus word-n-gram
    counts (Good 1953; the Gale & Sampson 'counts of counts' form):
    for each low count r, the smoothed count and probability

        r*  = (r + 1) N_{r+1} / N_r
        p_r = r* / N

    plus the r = 0 row carrying the UNSEEN mass p_0 = N_1 / N — the
    quantity every smoothed LM in the engine implicitly allocates
    ([[unigram_add_alpha]] by prior, Kneser-Ney by absolute discount;
    this is the nonparametric estimate both are approximating).
    Pipeline use: p_0 is the held-out OOV-rate prediction, and
    r*/r < 1 quantifies how much singleton/doubleton counts overstate
    themselves — the dedup-vs-diversity dial for corpus mixing.

    The n-GRAM event space (default trigrams, the [[word_shingles]]
    n=3 contract shared with the MinHash/winnowing dedup family) is
    what gives the estimator its tail: unigram counts on a bounded
    vocabulary have no singletons to learn from.

    Determinism: shingle counts, counts-of-counts N_r, and N are exact
    longs over the normalized token stream ([[normalize_text]]; the
    engine-wide tokenizer contract); r* and p_r are two- and three-op
    chains — the SQL oracle replays them bit-for-bit.

    Scale: one (shingle) groupBy (map-side combined, vocab-bounded),
    one (count) groupBy (bounded by max shingle count), one self-join
    on r+1 over that tiny frame. Output: rows r = 0..max_r — (r long,
    n_r long — shingles seen exactly r times (r = 0: N_1), n_next
    long, r_star double, p_r double — NULL where N_{r+1} = 0 makes the
    estimate degenerate; the r = 0 row sets p_r = N_1/N).
    """
    from .dedup import word_shingles

    toks = word_shingles(
        docs, n=n, text_col=text_col, id_col=id_col, distinct=False
    ).select(F.col("shingle").alias("_tok"))
    counts = toks.groupBy("_tok").agg(F.count("*").cast("long").alias("_c"))
    cc = counts.groupBy(F.col("_c").alias("r")).agg(
        F.count("*").cast("long").alias("n_r")
    )
    tot = toks.agg(F.sum(F.lit(1)).cast("long").alias("_n_total"))
    from pyspark.sql.functions import broadcast

    nxt = cc.select((F.col("r") - F.lit(1)).alias("r"), F.col("n_r").alias("n_next"))
    j = (
        cc.join(nxt, "r", "left")
        .where((F.col("r") >= 1) & (F.col("r") <= max_r))
        .crossJoin(broadcast(tot))
    )
    r_star = (
        ((F.col("r") + F.lit(1)) * F.col("n_next")).cast("double")
        / F.col("n_r").cast("double")
    )
    body = j.select(
        F.col("r").cast("long").alias("r"),
        "n_r",
        F.coalesce(F.col("n_next"), F.lit(0)).cast("long").alias("n_next"),
        F.when(F.col("n_next").isNotNull(), r_star).alias("r_star"),
        F.when(
            F.col("n_next").isNotNull(), r_star / F.col("_n_total").cast("double")
        ).alias("p_r"),
    )
    n1 = counts.where(F.col("_c") == 1).agg(
        F.count("*").cast("long").alias("_n1")
    )
    zero = (
        n1.crossJoin(broadcast(tot))
        .select(
            F.lit(0).cast("long").alias("r"),
            F.col("_n1").alias("n_r"),
            F.lit(0).cast("long").alias("n_next"),
            F.lit(None).cast("double").alias("r_star"),
            (F.col("_n1").cast("double") / F.col("_n_total").cast("double")).alias(
                "p_r"
            ),
        )
    )
    return zero.unionByName(body)


def log_odds_keyness(
    docs: DataFrame,
    group_col: str = "lang",
    target: str = "en",
    text_col: str = "text",
    a0: float = 10.0,
    k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Monroe, Colaresi & Quinn's log-odds-ratio with informative
    Dirichlet prior ("Fightin' Words", Political Analysis 2008): which
    tokens distinguish the ``target`` group's documents from the rest,
    with the corpus itself as the shrinkage prior (raw log-odds
    over-rank rare tokens; the prior pulls them back):

        a_w   = a0 * y_w / n                      (prior mass per token)
        delta = ln((y_aw + a_w)/(n_a + a0 - y_aw - a_w))
              - ln((y_bw + a_w)/(n_b + a0 - y_bw - a_w))
        z     = delta / sqrt(1/(y_aw + a_w) + 1/(y_bw + a_w))

    Top-k tokens by |z| (desc, token asc) with the sign saying which
    side claims the token. The keyness complement to [[top_tokens]]
    (raw frequency) and [[pmi_collocations]] (association): THE
    standard 'what is this subcorpus about?' audit.

    Determinism: token counts are exact longs; a_w, both logits, and z
    are fixed chains over single casts (pooled y_w and n are exact
    longs) — the SQL oracle replays every value bit-for-bit. Tokens
    with pooled count < min_count are dropped before ranking (the
    paper's sparsity guard).

    Scale: one (group-flag, token) groupBy (map-side combined,
    vocab-bounded), a 1-row totals broadcast, one vocab-sized
    rank window. Output: (token, y_a, y_b longs; delta, z doubles;
    rank long), k rows.
    """
    toks = docs.select(
        (F.col(group_col) == target).alias("_is_a"),
        F.explode(norm_words(F.col(text_col))).alias("_tok"),
    )
    per = toks.groupBy("_tok").agg(
        F.coalesce(F.sum(F.when(F.col("_is_a"), F.lit(1))), F.lit(0))
        .cast("long")
        .alias("y_a"),
        F.coalesce(F.sum(F.when(~F.col("_is_a"), F.lit(1))), F.lit(0))
        .cast("long")
        .alias("y_b"),
    )
    tot = per.agg(
        F.sum("y_a").cast("long").alias("_na"),
        F.sum("y_b").cast("long").alias("_nb"),
    )
    from pyspark.sql.functions import broadcast

    j = per.where((F.col("y_a") + F.col("y_b")) >= min_count).crossJoin(
        broadcast(tot)
    )
    na, nb = F.col("_na").cast("double"), F.col("_nb").cast("double")
    ya, yb = F.col("y_a").cast("double"), F.col("y_b").cast("double")
    yw = (F.col("y_a") + F.col("y_b")).cast("double")
    nn = (F.col("_na") + F.col("_nb")).cast("double")
    aw = F.lit(a0) * yw / nn
    delta = F.log((ya + aw) / (na + F.lit(a0) - ya - aw)) - F.log(
        (yb + aw) / (nb + F.lit(a0) - yb - aw)
    )
    z = delta / F.sqrt(F.lit(1.0) / (ya + aw) + F.lit(1.0) / (yb + aw))
    scored = j.select("_tok", "y_a", "y_b", delta.alias("delta"), z.alias("z"))
    w = Window.orderBy(F.abs(F.col("z")).desc(), F.asc("_tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(F.col("_tok").alias("token"), "y_a", "y_b", "delta", "z", "rank")
    )


def chi2_token_selection(
    docs: DataFrame,
    group_col: str = "lang",
    target: str = "en",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_df: int = 3,
) -> DataFrame:
    """Chi-squared feature selection of tokens against a binary
    document label (``group_col == target``) — the classic
    filter-method ranking (Yang & Pedersen, ICML 1997) on the 2x2
    DOCUMENT-frequency contingency table per token:

        chi2 = N (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d))

    with a/b = labeled/unlabeled docs containing the token and c/d the
    complements. The supervised counterpart to [[log_odds_keyness]]
    (which weighs token MASS; this weighs document CO-OCCURRENCE —
    robust to a single doc repeating a token thousands of times).

    Determinism: a, b and the four margins are exact longs (distinct
    (doc, token) pairs then conditional counts); ad - bc is squared in
    DOUBLE (the exact-long square would overflow past ~55k docs per
    cell — documented, one double multiply) and chi2 is a fixed chain
    — the SQL oracle replays it bit-for-bit.

    Scale: one distinct over (doc, token) (the df contract), one
    token groupBy (map-side combined), a 1-row totals broadcast, one
    vocab-sized rank window. Tokens in fewer than min_df docs are
    dropped. Output: (token, df_pos, df_neg longs; chi2 double;
    rank long), k rows by chi2 desc / token asc.
    """
    pairs = docs.select(
        F.col(id_col).alias("_doc"),
        (F.col(group_col) == target).alias("_is_a"),
        F.explode(norm_words(F.col(text_col))).alias("_tok"),
    ).distinct()
    per = pairs.groupBy("_tok").agg(
        F.coalesce(F.sum(F.when(F.col("_is_a"), F.lit(1))), F.lit(0))
        .cast("long")
        .alias("df_pos"),
        F.coalesce(F.sum(F.when(~F.col("_is_a"), F.lit(1))), F.lit(0))
        .cast("long")
        .alias("df_neg"),
    )
    tot = docs.agg(
        F.coalesce(
            F.sum(F.when(F.col(group_col) == target, F.lit(1))), F.lit(0)
        )
        .cast("long")
        .alias("_p"),
        F.coalesce(
            F.sum(F.when(~(F.col(group_col) == target), F.lit(1))), F.lit(0)
        )
        .cast("long")
        .alias("_q"),
    )
    from pyspark.sql.functions import broadcast

    j = per.where((F.col("df_pos") + F.col("df_neg")) >= min_df).crossJoin(
        broadcast(tot)
    )
    a, b = F.col("df_pos"), F.col("df_neg")
    c, d = F.col("_p") - a, F.col("_q") - b
    det = (a * d - b * c).cast("double")
    ntot = (F.col("_p") + F.col("_q")).cast("double")
    den = (
        (a + b).cast("double")
        * (c + d).cast("double")
        * (a + c).cast("double")
        * (b + d).cast("double")
    )
    chi2 = ntot * (det * det) / den
    ok = (a + b > 0) & (c + d > 0) & (a + c > 0) & (b + d > 0)
    scored = j.select(
        "_tok", "df_pos", "df_neg", F.when(ok, chi2).alias("chi2")
    )
    w = Window.orderBy(F.col("chi2").desc_nulls_last(), F.asc("_tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(F.col("_tok").alias("token"), "df_pos", "df_neg", "chi2", "rank")
    )


def naive_bayes_lang(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial naive Bayes language scorer with add-1 smoothing
    (the McCallum & Nigam 1998 event model), trained and scored on the
    corpus itself (resubstitution — the standard quick audit of 'is
    the stored lang label even consistent with the text?'; a low
    self-accuracy flags label noise the [[confident-learning]] pass
    should inspect):

        score(d, c) = ln P(c) + sum_{t in d} ln((n_ct + 1)/(n_c + V))

    predicting argmax_c score (ties broken by language asc).

    Determinism: all counts (n_ct, n_c, V, doc counts) are exact
    longs; each token's log term is a fixed 3-op chain; the per-doc
    sum folds in TOKEN POSITION order (the [[bigram_lm]] ordered-fold
    contract), and the prior adds once after the fold — the SQL oracle
    replays every score bit-for-bit. The argmax compares replayed
    doubles with a deterministic lang-asc tie-break.

    Scale: one (lang, token) groupBy (vocab x langs state), one
    positional explode joined to it (tokens x 1 rows — the candidate
    lang fan-out happens on the VOCAB-sized count table, broadcast,
    not the corpus), per-doc fold over collect_list(pos), and a
    per-doc rank over n_langs rows. Output: (doc_id, actual string,
    pred string, logprob double, correct boolean, margin double —
    best minus runner-up score, NULL for single-lang corpora).
    """
    from pyspark.sql.functions import broadcast

    toks = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(norm_words(F.col(text_col))).alias(
            "_pos", "_tok"
        ),
    )
    labels = docs.select(F.col(id_col).alias("_doc"), F.col(group_col).alias("_actual"))
    cnt = (
        toks.join(labels, "_doc")
        .groupBy("_actual", "_tok")
        .agg(F.count("*").cast("long").alias("_c"))
        .select(F.col("_actual").alias("_lang"), "_tok", "_c")
    )
    n_lang = cnt.groupBy("_lang").agg(F.sum("_c").cast("long").alias("_nl"))
    vocab = cnt.select("_tok").distinct().agg(
        F.count("*").cast("long").alias("_v")
    )
    prior = (
        labels.groupBy(F.col("_actual").alias("_lang"))
        .agg(F.count("*").cast("long").alias("_dc"))
        .crossJoin(
            broadcast(labels.agg(F.count("*").cast("long").alias("_dtot")))
        )
        .select(
            "_lang",
            F.log(
                F.col("_dc").cast("double") / F.col("_dtot").cast("double")
            ).alias("_ln_prior"),
        )
    )
    # token-level fan-out: each (token) row of the corpus joins the
    # BROADCAST per-lang count table once per lang
    langs = n_lang.select("_lang")
    tok_lang = toks.crossJoin(broadcast(langs))
    scored_tok = (
        tok_lang.join(broadcast(cnt), ["_lang", "_tok"], "left")
        .join(broadcast(n_lang), "_lang")
        .crossJoin(broadcast(vocab))
        .select(
            "_doc",
            "_lang",
            "_pos",
            F.log(
                (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("_nl") + F.col("_v")).cast("double")
            ).alias("_lp"),
        )
    )
    per = scored_tok.groupBy("_doc", "_lang").agg(*ordered_sums(["_pos"], _lp=F.col("_lp")))
    scored = per.join(broadcast(prior), "_lang").select(
        "_doc", "_lang", (F.col("_ln_prior") + F.col("_lp")).alias("_score")
    )
    w = Window.partitionBy("_doc").orderBy(F.col("_score").desc(), F.asc("_lang"))
    ranked = scored.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_runner", F.lead("_score", 1).over(w)
    )
    best = ranked.where(F.col("_rk") == 1)
    return (
        best.join(labels, "_doc")
        .select(
            F.col("_doc").alias("doc_id"),
            F.col("_actual").alias("actual"),
            F.col("_lang").alias("pred"),
            F.col("_score").alias("logprob"),
            (F.col("_lang") == F.col("_actual")).alias("correct"),
            (F.col("_score") - F.col("_runner")).alias("margin"),
        )
    )


def heaps_law(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_points: int = 64,
) -> DataFrame:
    """Heaps'-law fit V(n) ~ K n^beta of vocabulary growth over the
    corpus in ``id_col`` order — the scaling twin of the [[q_zipf]]
    rank-frequency fit (Zipf says how mass concentrates, Heaps says
    how fast NEW types keep arriving; beta well below 1 means a dedup/
    normalization pass is converging, beta near 1 means the corpus
    keeps surprising you):

        log V_i = log K + beta log n_i   (OLS over curve checkpoints)

    Mechanics: each token's FIRST document (min doc_id) marks where it
    enters the vocabulary; per-doc token totals and new-type counts
    cumsum along doc order into the exact (n_i, V_i) growth curve,
    sampled at <= ``max_points`` evenly spaced docs so the fit state
    is bounded regardless of corpus size.

    Determinism: n_i / V_i are exact longs; the OLS moments are
    ``exprs.ordered_sums`` over the checkpoints by doc rank, with fixed
    ln/multiply chains. Bit-replayable.

    Scale: one explode + token groupBy (map-side combined) for first
    occurrences, one doc-level cumsum. The global doc order is a
    window over doc_id — at corpus scale feed a bucketed/sorted layout
    or a per-shard curve instead. Output one row: (n_docs, n_points
    longs; beta, k doubles — NULL when < 2 checkpoints).
    """
    d = df.select(F.col(id_col).alias("_doc"), words(F.col(text_col)).alias("_tk"))
    per_doc = d.select("_doc", F.size("_tk").cast("long").alias("_nt"))
    tok = d.select("_doc", F.explode("_tk").alias("_t"))
    first = tok.groupBy("_t").agg(F.min("_doc").alias("_fd"))
    new_types = first.groupBy(F.col("_fd").alias("_doc")).agg(
        F.count("*").cast("long").alias("_nv")
    )
    w_ord = Window.orderBy("_doc")
    w_cum = Window.orderBy("_doc").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("_doc").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    curve = (
        per_doc.join(new_types, "_doc", "left")
        .select(
            "_doc",
            F.sum("_nt").over(w_cum).cast("long").alias("_n"),
            F.sum(F.coalesce(F.col("_nv"), F.lit(0))).over(w_cum)
            .cast("long")
            .alias("_v"),
            F.row_number().over(w_ord).cast("long").alias("_rk"),
            F.count("*").over(w_all).cast("long").alias("_nd"),
        )
    )
    step = F.greatest(
        F.lit(1).cast("long"), F.ceil(F.col("_nd") / F.lit(int(max_points))).cast("long")
    )
    pts = curve.where(
        ((F.col("_rk") % step) == 0) & (F.col("_n") > 0) & (F.col("_v") > 0)
    )
    x = F.log(F.col("_n").cast("double"))
    y = F.log(F.col("_v").cast("double"))
    g = pts.groupBy(F.col("_nd").alias("n_docs")).agg(
        F.count("*").cast("long").alias("n_points"),
        *ordered_sums(["_rk"], _sx=x, _sy=y, _sxx=x * x, _sxy=x * y),
    )
    sx, sy, sxx, sxy = F.col("_sx"), F.col("_sy"), F.col("_sxx"), F.col("_sxy")
    md = F.col("n_points").cast("double")
    denom = md * sxx - sx * sx
    beta = (md * sxy - sx * sy) / denom
    intercept = (sy - beta * sx) / md
    ok = (F.col("n_points") >= 2) & (denom != 0)
    return g.select(
        "n_docs",
        "n_points",
        F.when(ok, beta).alias("beta"),
        F.when(ok, F.exp(intercept)).alias("k"),
    )


def char_bigram_entropy(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Character-level unigram and bigram entropies per group, and the
    first-order predictability gain H1 - (H2 - H1) ... reported as
    conditional next-char entropy H(c_i | c_{i-1}) = H2 - H1 and gain
    = H1 - H(cond): the character-statistics fingerprint of a
    language/source (real text sits far from uniform; MT artifacts,
    encoding mojibake, and template spam all shift it — the char-level
    companion to the token-level [[lexical_diversity]] battery).

    Characters are the lowercase text's code points; bigrams are
    consecutive pairs WITHIN a document (no cross-doc pairs).

    Determinism: counts are exact longs; entropies are ``exprs.ordered_sums`` by
    the (character, character-pair) key; fixed chains.
    Bit-replayable.

    Scale: alphabet-bounded state — |chars| and |char-pairs| cells
    per group, never corpus-sized; the explode is one narrow
    transform. Output: (group, n_chars long, n_bigrams long, h1, h2,
    h_cond, gain doubles — NULL where the support is empty), one row
    per group.
    """
    s = F.lower(F.col(text_col))
    chars = df.select(
        F.col(group_col).alias("_g"),
        F.posexplode(F.split(s, "")).alias("_i", "_c"),
    ).where(F.col("_c") != "")
    uni = chars.groupBy("_g", "_c").agg(F.count("*").cast("long").alias("_n"))
    w_g = Window.partitionBy("_g")
    unin = uni.withColumn("_nn", F.sum("_n").over(w_g).cast("long"))
    p1 = F.col("_n").cast("double") / F.col("_nn").cast("double")
    h1df = unin.groupBy("_g").agg(
        F.max("_nn").alias("n_chars"), *ordered_sums(["_c"], _t=p1 * F.log(p1))
    ).select("_g", "n_chars", (-F.col("_t")).alias("_h1"))
    # bigrams within each document
    pairs = df.select(
        F.col(group_col).alias("_g"),
        F.expr(
            "transform(sequence(1, greatest(length(lower(" + text_col + ")) - 1, 0)), "
            "i -> substring(lower(" + text_col + "), i, 2))"
        ).alias("_bs"),
    ).select("_g", F.explode("_bs").alias("_b")).where(F.length("_b") == 2)
    bi = pairs.groupBy("_g", "_b").agg(F.count("*").cast("long").alias("_n"))
    bin_ = bi.withColumn("_nn", F.sum("_n").over(w_g).cast("long"))
    p2 = F.col("_n").cast("double") / F.col("_nn").cast("double")
    h2df = bin_.groupBy("_g").agg(
        F.max("_nn").alias("n_bigrams"), *ordered_sums(["_b"], _t=p2 * F.log(p2))
    ).select("_g", "n_bigrams", (-F.col("_t")).alias("_h2"))
    j = h1df.join(h2df, "_g", "left")
    h_cond = F.col("_h2") - F.col("_h1")
    return j.select(
        F.col("_g").alias(group_col),
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.col("_h1").alias("h1"),
        F.col("_h2").alias("h2"),
        F.when(F.col("_h2").isNotNull(), h_cond).alias("h_cond"),
        F.when(F.col("_h2").isNotNull(), F.col("_h1") - h_cond).alias("gain"),
    )


def token_audit(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Anomalous-token audit per group: the fraction of whitespace
    tokens that are overlong (> 20 chars), digit-letter mixed,
    non-ASCII-bearing, or hex-blob-like (>= 8 hex chars, no vowels'
    worth of letters beyond a-f) — the token-shape smells that mark
    boilerplate IDs, base64 spills, and encoding damage, which the
    word-level [[with_quality]] score and [[q_rare_tokens]] tail both
    miss (a UUID is neither rare-vocabulary nor low-stopword — it is
    SHAPED wrong).

    Determinism: every class test is a regex on the exact token;
    counts are exact longs; ratios are single divisions.
    Bit-replayable.

    Scale: one narrow explode + one map-side-combined group aggregate.
    Output: (group, n_tokens long, overlong_ratio, mixed_ratio,
    nonascii_ratio, hexblob_ratio doubles — NULL when the group has
    no tokens), one row per group.
    """
    toks = words(F.col(text_col))
    t = df.select(
        F.col(group_col).alias("_g"), F.explode(toks).alias("_t")
    ).where(F.col("_t") != "")
    is_over = F.length("_t") > 20
    is_mixed = F.col("_t").rlike("[0-9]") & F.col("_t").rlike("[a-z]")
    is_nonascii = F.col("_t").rlike("[^\\x00-\\x7f]")
    is_hex = F.col("_t").rlike("^[0-9a-f]{8,}$")
    g = t.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(is_over, 1).otherwise(0)).cast("long").alias("_o"),
        F.sum(F.when(is_mixed, 1).otherwise(0)).cast("long").alias("_m"),
        F.sum(F.when(is_nonascii, 1).otherwise(0)).cast("long").alias("_na"),
        F.sum(F.when(is_hex, 1).otherwise(0)).cast("long").alias("_h"),
    )
    nd = F.col("n_tokens").cast("double")
    ok = F.col("n_tokens") > 0
    return g.select(
        F.col("_g").alias(group_col),
        "n_tokens",
        F.when(ok, F.col("_o").cast("double") / nd).alias("overlong_ratio"),
        F.when(ok, F.col("_m").cast("double") / nd).alias("mixed_ratio"),
        F.when(ok, F.col("_na").cast("double") / nd).alias("nonascii_ratio"),
        F.when(ok, F.col("_h").cast("double") / nd).alias("hexblob_ratio"),
    )


def coverage_curve(
    df: DataFrame,
    ks=(10, 100, 1000),
    text_col: str = "text",
) -> DataFrame:
    """Token-coverage curve: the fraction of total corpus token MASS
    covered by the top-k vocabulary, at each k — the
    vocabulary-truncation planning number (how big must an embedding
    table be to cover 99% of tokens?), the cumulative complement of
    the [[zipf_fit]] exponent and [[q_heaps]] growth views.

    Determinism: counts are exact longs; ranking is (count desc,
    token asc); each coverage share is one division of exact
    cumulative longs (window cumsum on the compacted vocabulary
    frame). Bit-replayable.

    Scale: one token groupBy (vocabulary-sized), one rank window on
    the compacted frame, broadcast k table. Output: (k long,
    vocab_size long, n_tokens long, covered long, coverage double),
    one row per k ascending.
    """
    toks = words(F.col(text_col))
    tok = df.select(F.explode(toks).alias("_t")).where(F.col("_t") != "")
    counts = tok.groupBy("_t").agg(F.count("*").cast("long").alias("_c"))
    w_rank = Window.orderBy(F.col("_c").desc(), F.asc("_t"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = counts.select(
        "_c",
        F.row_number().over(w_rank).cast("long").alias("_rk"),
        F.sum("_c").over(w_all).cast("long").alias("_nn"),
        F.count("*").over(w_all).cast("long").alias("_v"),
    )
    w_cum = Window.orderBy("_rk").rowsBetween(Window.unboundedPreceding, 0)
    cum = ranked.select(
        "_rk",
        "_nn",
        "_v",
        F.sum("_c").over(w_cum).cast("long").alias("_cov"),
    )
    kdf = literal_frame(df.sparkSession, [(int(k),) for k in sorted(ks)], "k long")
    # coverage at k = cumulative mass at rank min(k, vocab)
    j = kdf.crossJoin(F.broadcast(cum.where(F.col("_rk") == 1).select("_nn", "_v"))).join(
        cum.select(F.col("_rk"), F.col("_cov")),
        F.col("_rk") == F.least(F.col("k"), F.col("_v")),
        "left",
    )
    return j.select(
        "k",
        F.col("_v").alias("vocab_size"),
        F.col("_nn").alias("n_tokens"),
        F.coalesce(F.col("_cov"), F.lit(0)).cast("long").alias("covered"),
        F.when(
            F.col("_nn") > 0,
            F.coalesce(F.col("_cov"), F.lit(0)).cast("double")
            / F.col("_nn").cast("double"),
        ).alias("coverage"),
    )


def bytes_per_token(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-efficiency profile per group: characters per
    whitespace token, whitespace overhead share, and mean token
    length — the per-language fertility numbers a tokenizer budget
    plan starts from (a language whose chars/token runs 2x the
    corpus mean pays 2x the context window for the same content —
    the reason multilingual sampling weights look at BYTES, not
    documents; feeds [[q_source_temperature]]'s mix math).

    Determinism: character and token counts are exact longs; ratios
    are single divisions. Bit-replayable.

    Output: (group, n_docs long, n_chars long, n_tokens long,
    chars_per_token double, ws_share double, mean_token_len double),
    one row per group.
    """
    s = F.col(text_col)
    toks = words(s)
    nonws = F.length(F.regexp_replace(s, r"\s", ""))
    g = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length(s)).cast("long").alias("n_chars"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
        F.sum(nonws).cast("long").alias("_nw"),
    )
    ok = F.col("n_tokens") > 0
    return g.select(
        F.col("_g").alias(group_col),
        "n_docs",
        "n_chars",
        "n_tokens",
        F.when(
            ok, F.col("n_chars").cast("double") / F.col("n_tokens").cast("double")
        ).alias("chars_per_token"),
        F.when(
            F.col("n_chars") > 0,
            F.col("_nw").cast("double") / F.col("n_chars").cast("double"),
        ).alias("nonws_share"),
        F.when(
            ok, F.col("_nw").cast("double") / F.col("n_tokens").cast("double")
        ).alias("mean_token_len"),
    )


def ngram_orders(
    df: DataFrame,
    orders=(1, 2, 3),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary profile by n-gram order: distinct n-gram count,
    total occurrences, and type/token ratio for n = 1, 2, 3 — the
    combinatorial-growth fingerprint behind LM order selection (a
    type/token ratio that stays high at order 3 means trigrams are
    mostly unique and a 3-gram LM will overfit — the quantitative
    lead-in to [[q_bigram_lm]] / the Kneser-Ney op's order choice).

    Determinism: n-gram sets and counts are exact (the q_ngram_jaccard
    shingle tokenization); one division per order. Bit-replayable.

    Output: (n int, n_types long, n_tokens long, type_token_ratio
    double), orders ascending.
    """
    tk = norm_words(F.col(text_col))
    out = None
    for n in sorted(int(x) for x in orders):
        grams = df.select(
            F.explode(
                F.when(
                    F.size(tk) >= n,
                    F.transform(
                        F.sequence(F.lit(0), F.size(tk) - n),
                        lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("_g")
        )
        g = grams.agg(
            F.count_distinct(F.col("_g")).cast("long").alias("n_types"),
            F.count("*").cast("long").alias("n_tokens"),
        ).select(
            F.lit(n).cast("int").alias("n"),
            "n_types",
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
            ).alias("type_token_ratio"),
        )
        out = g if out is None else out.unionByName(g)
    return out
