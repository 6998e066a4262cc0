"""Corpus-curation operators for large-scale training-data pipelines:
rule-based quality gates, benchmark decontamination, intra-document
repetition, corpus-frequency token statistics, and source-level
reputation. Companions to ``dedup.py`` (near-duplicate removal) and
``text.py`` (per-document scoring).

Design rules shared with the rest of the engine:

* Everything is a declarative DataFrame plan — JVM-side column
  expressions (split/transform/slice/aggregate), no Python UDFs.
* Cross-row floating aggregates are avoided: every emitted ratio is a
  single IEEE division of two exact integers, so DuckDB and Spark
  produce bit-identical doubles (the engine's deterministic value
  algebra — see kernels/firstorder.py).
* Scale shape: one shuffle per groupBy on a high-cardinality key
  (doc_id / gram hash / token), map-side combine everywhere, and the
  only joins against small frames are broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .drift import _is_ref
from .exprs import epoch_us, normalize_text, ordered_sums, running_counts, value_at_rank, words


def _word_ngrams(toks: F.Column, n: int) -> F.Column:
    """Array of space-joined word n-grams; empty when the document has
    fewer than ``n`` tokens (sequence() would go descending otherwise)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def gopher_quality_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021, §A1.1):
    word-count bounds, mean-word-length bounds, fraction of words with
    an alphabetic character, and presence of common stopwords. Emits the
    per-document metrics plus a single ``pass_gopher`` flag.

    All metrics are exact-integer ratios (one IEEE division each), so the
    plan is engine-portable bit-for-bit. Pure narrow column expressions:
    no shuffle at all — this filter streams through a 100 TB scan.
    """
    toks = words(F.col(text_col))
    n_words = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stops = ("the", "and", "of", "to", "is")
    stop_hits = F.size(
        F.array_distinct(F.filter(toks, lambda t: t.isin(*stops)))
    )
    safe_n = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wl = total_len.cast("double") / safe_n
    alpha_frac = n_alpha.cast("double") / safe_n
    return (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_wl)
        .withColumn("alpha_frac", alpha_frac)
        .withColumn("stop_hits", stop_hits.cast("long"))
        .withColumn(
            "pass_gopher",
            (n_words >= min_words)
            & (n_words <= max_words)
            & (mean_wl >= min_mean_word_len)
            & (mean_wl <= max_mean_word_len)
            & (alpha_frac >= min_alpha_frac)
            & (stop_hits >= min_stop_hits),
        )
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination by word n-gram overlap (the GPT-3 /
    PaLM recipe: a training document is contaminated when it shares any
    length-``n`` word n-gram with an evaluation document).

    Plan: explode DISTINCT n-grams of both sides, inner-join on the gram
    string, count distinct overlapping grams per training doc. The
    benchmark side of a real run is small (eval sets, not the corpus) —
    Spark broadcasts it under AQE; the train side shuffles once on the
    gram key with map-side distinct. At 100 TB you would join on
    ``xxhash64(gram)`` instead of the string to shrink the exchange —
    the string join here keeps the plan engine-portable for the oracle.
    Emits every train document with ``n_overlap_grams`` (0 for clean
    ones) and a ``contaminated`` flag.
    """
    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(F.array_distinct(_word_ngrams(words(F.col(text_col)), n))).alias("gram"),
        )

    bench_grams = grams(benchmark).select("gram").distinct()
    overlap = (
        grams(train)
        .join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_overlap_grams"))
    )
    return (
        train.select(id_col)
        .join(overlap, id_col, "left")
        .withColumn("n_overlap_grams", F.coalesce("n_overlap_grams", F.lit(0)).cast("long"))
        .withColumn("contaminated", F.col("n_overlap_grams") > 0)
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition metrics (Gopher §A1.1 repetition
    filters): fraction of duplicate word 2-grams and 3-grams — i.e.
    1 - distinct/total — per document. High values mark degenerate,
    loop-generated, or boilerplate text.

    Narrow per-row array expressions only (distinct counting happens
    inside the token array, not across rows) — no shuffle, exact-integer
    ratios.
    """
    toks = words(F.col(text_col))
    out = df
    for n in (2, 3):
        g = _word_ngrams(toks, n)
        total = F.size(g)
        uniq = F.size(F.array_distinct(g))
        out = out.withColumn(
            f"dup_{n}gram_frac",
            F.when(
                total > 0,
                (total - uniq).cast("double") / total.cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    return out


def rare_token_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_max_count: int = 3,
) -> DataFrame:
    """Corpus-frequency token statistics: per document, the fraction of
    token OCCURRENCES whose corpus-wide frequency is <= ``rare_max_count``
    (rare), and the fraction appearing in only one document (OOV-ish).
    A high rare fraction is the integer-exact stand-in for a low unigram
    language-model log-probability — the engine avoids cross-row float
    sums so the metric hashes identically on any engine.

    Plan: one explode + groupBy(token) over the corpus (map-side
    combine), then a second explode joined against that frequency table
    — the classic two-pass TF/DF shape that scales linearly; the
    frequency table is Zipf-bounded (vocabulary ≪ corpus) and shuffles
    on the token key.
    """
    toks_tbl = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("token")
    )
    freq = toks_tbl.groupBy("token").agg(
        F.count("*").cast("long").alias("corpus_tf"),
        F.countDistinct(id_col).cast("long").alias("corpus_df"),
    )
    per_doc = (
        toks_tbl.join(freq, "token")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.countDistinct("token").cast("long").alias("n_distinct"),
            F.sum("corpus_tf").cast("long").alias("_sum_tf"),
            F.sum("corpus_df").cast("long").alias("_sum_df"),
            F.sum(F.when(F.col("corpus_tf") <= rare_max_count, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
    )
    n = F.col("n_tokens").cast("double")
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_distinct",
        (F.col("_sum_tf").cast("double") / n).alias("mean_tf"),
        (F.col("_sum_df").cast("double") / n).alias("mean_df"),
        (F.col("n_rare").cast("double") / n).alias("rare_frac"),
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
) -> DataFrame:
    """CCNet-style language-model quality score (Wenzek et al. 2020 rank
    documents by LM perplexity; this is the unigram self-scored variant):
    ``p(t) = (tf(t) + a) / (N + a*V)`` with add-``a`` smoothing over the
    corpus vocabulary, and per document

        ``nll = -(1/n) * sum_i ln p(token_i)``,   ``ppl = exp(nll)``.

    Cross-engine value contract: the per-document sum of logs is an
    ``exprs.ordered_sums`` over token position (collect_list(pos, lp) ->
    array_sort -> aggregate), matched in the DuckDB oracle by
    ``list(lp ORDER BY pos)`` || ``list_reduce`` — the same fixed-order
    float summation the GLCM reciprocal-square features use, so the
    value-hash gate stays exact despite cross-row float addition.

    Plan: the two-pass TF shape of ``rare_token_stats`` (explode +
    groupBy(token) with map-side combine, join back on the Zipf-bounded
    token key), plus one broadcast of the 1-row (N, V) totals; one
    groupBy(doc) whose collect_list is bounded by document length.
    """
    toks_tbl = df.select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("pos", "token")
    )
    freq = toks_tbl.groupBy("token").agg(F.count("*").cast("long").alias("tf"))
    tot = freq.agg(
        F.sum("tf").cast("double").alias("_N"),
        F.count("*").cast("double").alias("_V"),
    )
    a = float(smoothing)
    lp = F.log(
        (F.col("tf").cast("double") + F.lit(a)) / (F.col("_N") + F.lit(a) * F.col("_V"))
    )
    per_doc = (
        toks_tbl.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .withColumn("_lp", lp)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            *ordered_sums(["pos"], _s=F.col("_lp")),
        )
    )
    nll = -F.col("_s") / F.col("n_tokens").cast("double")
    return per_doc.select(
        id_col,
        "n_tokens",
        nll.alias("nll"),
        F.exp(nll).alias("ppl"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
) -> DataFrame:
    """Conditional bigram LM quality score — one Markov order up from
    ``unigram_logprob`` toward the CCNet 5-gram KenLM filter (Wenzek et
    al. 2020). Token 0 is scored by the add-``a`` unigram; token i>0 by

        ``p(t_i | t_{i-1}) = (c(t_{i-1} t_i) + a) / (tf(t_{i-1}) + a*V)``

    with corpus bigram counts c, corpus unigram counts tf, and the
    unigram vocabulary size V — a defined, engine-replayable model (the
    history mass uses the FULL unigram count, the standard approximation
    that avoids a separate history-position count). nll/ppl as in the
    unigram: ordered positional log-sum fold, exact value hash.

    Plan: the (pos, token, prev) triple table is built NARROWLY from the
    token array (transform + inline — no lag window, no per-doc sort);
    unigram and bigram count tables are one explode + groupBy each
    (map-side combined, Zipf-bounded keys); scoring is three equi-joins
    on token-ish keys plus a 1-row totals broadcast; the per-doc fold is
    the unigram's collect_list(pos, lp) -> ordered aggregate.
    """
    toks = words(F.col(text_col))
    triple = (
        f"transform(sequence(0, size(_tk) - 1), "
        f"i -> named_struct('pos', i, 'token', element_at(_tk, i + 1), "
        f"'prev', IF(i = 0, CAST(NULL AS STRING), element_at(_tk, i))))"
    )
    t = (
        df.select(F.col(id_col), toks.alias("_tk"))
        .select(id_col, F.inline(F.expr(triple)))
    )
    freq = t.groupBy("token").agg(F.count("*").cast("long").alias("_tf"))
    tot = freq.agg(
        F.sum("_tf").cast("double").alias("_N"),
        F.count("*").cast("double").alias("_V"),
    )
    big = (
        t.where(F.col("prev").isNotNull())
        .groupBy("prev", "token")
        .agg(F.count("*").cast("long").alias("_bc"))
    )
    freq_p = freq.select(F.col("token").alias("prev"), F.col("_tf").alias("_tfp"))
    a = float(smoothing)
    lp = F.when(
        F.col("prev").isNull(),
        F.log((F.col("_tf").cast("double") + F.lit(a)) / (F.col("_N") + F.lit(a) * F.col("_V"))),
    ).otherwise(
        F.log(
            (F.col("_bc").cast("double") + F.lit(a))
            / (F.col("_tfp").cast("double") + F.lit(a) * F.col("_V"))
        )
    )
    per_doc = (
        t.join(freq, "token")
        .join(freq_p, "prev", "left")
        .join(big, ["prev", "token"], "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("_lp", lp)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            *ordered_sums(["pos"], _s=F.col("_lp")),
        )
    )
    nll = -F.col("_s") / F.col("n_tokens").cast("double")
    return per_doc.select(
        id_col,
        "n_tokens",
        nll.alias("nll"),
        F.exp(nll).alias("ppl"),
    )


def kneser_ney_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score (Kneser & Ney 1995; Chen
    & Goodman 1999) — the smoothing actually used by the KenLM models
    behind CCNet-style quality filtering, one step up from
    ``bigram_logprob``'s add-a baseline. Token i>0 is scored by

        p(t_i | t_{i-1}) = ( max(c(t_{i-1} t_i) - D, 0)
                             + D * N1+(t_{i-1}, .) * pcont(t_i) )
                           / c(t_{i-1} .)

    with D the absolute discount (0.75, exactly representable),
    c(w .) the count of positions where w is a HISTORY (the bigram
    table's own row sums — not the unigram count, so doc-final tokens
    don't leak mass), N1+(w, .) the distinct-continuation fan-out, and
    the continuation unigram  pcont(w) = N1+(., w) / |bigram types|.
    Token 0 is scored by the unigram MLE tf/N (always > 0 on the
    training corpus itself). Every scored bigram is observed, so every
    probability is strictly positive by construction — no floor needed.

    Determinism: all counts exact longs; the probability is ONE fixed
    double chain with pinned association
    ``(max(bc-D, 0) + (D * n1f) * (n1b / B)) / ctx`` mirrored
    parenthesis-for-parenthesis in the SQL oracle; per-doc log-sum is
    the ordered positional fold shared with [[bigram_logprob]].

    Plan: the same narrow (pos, token, prev) triple table; four count
    aggregates (bigram, context row-sum, backward fan-in, bigram-type
    total — the last a 1-row broadcast); scoring is equi-joins on
    token-ish keys, Zipf-bounded like the add-a bigram. At 100 TB the
    count tables are vocab²-bounded but Zipf-sparse (the observed
    bigram set), and every join key is a token string — the same
    shuffle profile as bigram_logprob, which is plan-audited.
    """
    toks = words(F.col(text_col))
    triple = (
        f"transform(sequence(0, size(_tk) - 1), "
        f"i -> named_struct('pos', i, 'token', element_at(_tk, i + 1), "
        f"'prev', IF(i = 0, CAST(NULL AS STRING), element_at(_tk, i))))"
    )
    t = (
        df.select(F.col(id_col), toks.alias("_tk"))
        .select(id_col, F.inline(F.expr(triple)))
    )
    freq = t.groupBy("token").agg(F.count("*").cast("long").alias("_tf"))
    tot = freq.agg(F.sum("_tf").cast("double").alias("_N"))
    big = (
        t.where(F.col("prev").isNotNull())
        .groupBy("prev", "token")
        .agg(F.count("*").cast("long").alias("_bc"))
    )
    ctx = big.groupBy("prev").agg(
        F.sum("_bc").cast("long").alias("_cs"),
        F.count("*").cast("long").alias("_n1f"),
    )
    bwd = big.groupBy("token").agg(F.count("*").cast("long").alias("_n1b"))
    btot = big.agg(F.count("*").cast("double").alias("_B"))
    d = F.lit(float(discount))
    lp = F.when(
        F.col("prev").isNull(),
        F.log(F.col("_tf").cast("double") / F.col("_N")),
    ).otherwise(
        F.log(
            (
                F.greatest(F.col("_bc").cast("double") - d, F.lit(0.0))
                + (d * F.col("_n1f").cast("double"))
                * (F.col("_n1b").cast("double") / F.col("_B"))
            )
            / F.col("_cs").cast("double")
        )
    )
    per_doc = (
        t.join(freq, "token")
        .join(ctx, "prev", "left")
        .join(big, ["prev", "token"], "left")
        .join(bwd, "token", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .withColumn("_lp", lp)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            *ordered_sums(["pos"], _s=F.col("_lp")),
        )
    )
    nll = -F.col("_s") / F.col("n_tokens").cast("double")
    return per_doc.select(
        id_col,
        "n_tokens",
        nll.alias("nll"),
        F.exp(nll).alias("ppl"),
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    head_frac: float = 1.0 / 3.0,
    middle_frac: float = 1.0 / 3.0,
    smoothing: float = 1.0,
) -> DataFrame:
    """CCNet head/middle/tail corpus split (Wenzek et al. 2020 §4.4):
    score every document with the conditional bigram LM
    (``bigram_logprob``), then bucket PER LANGUAGE by perplexity —
    lowest-nll ``head_frac`` of documents is ``head``, the next
    ``middle_frac`` is ``middle``, the rest ``tail``.

    Cutoffs are VALUE cutoffs on the 6dp-rounded nll, not row-rank
    splits: per language, ``head_cut`` is the smallest rounded nll whose
    cumulative document count reaches ``head_frac * n``; ties share a
    bucket (equal-score documents are never split across buckets, and
    the assignment is independent of any engine's tie-break order).

    Scale shape: the per-language sort that the quantile needs runs on a
    COMPACTED ``(lang, nll6) -> count`` histogram, never on the document
    frame (the hist_asof pattern) — languages are few, so a window over
    raw documents would be one mega-partition per language; over the
    compacted frame it is bounded by distinct 6dp scores. The cutoff
    frame is one row per language and broadcasts back; everything else
    is the bigram chain plus one doc_id equi-join to recover ``lang``.
    """
    scored = bigram_logprob(df, text_col=text_col, id_col=id_col, smoothing=smoothing)
    scored = scored.join(df.select(id_col, lang_col), id_col)
    s = scored.withColumn("_nll6", F.round("nll", 6))
    hist = s.groupBy(lang_col, "_nll6").agg(F.count("*").cast("long").alias("_c"))
    n = F.col("_n").cast("double")
    cuts = running_counts(hist, [lang_col], "_nll6", "_c").groupBy(lang_col).agg(
        value_at_rank("_nll6", n * F.lit(head_frac)).alias("_head_cut"),
        value_at_rank("_nll6", n * F.lit(head_frac + middle_frac)).alias("_mid_cut"),
    )
    out = s.join(F.broadcast(cuts), lang_col).withColumn(
        "bucket",
        F.when(F.col("_nll6") <= F.col("_head_cut"), F.lit("head"))
        .when(F.col("_nll6") <= F.col("_mid_cut"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return out.select(id_col, lang_col, "n_tokens", "nll", "ppl", "bucket")


def source_reputation(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    max_dup_rate: float = 0.5,
) -> DataFrame:
    """Source-level reputation: per source, document count, exact-dup
    rate (1 - distinct normalized texts / docs), and mean doc length —
    then each document flagged when its source exceeds ``max_dup_rate``.
    The per-source frame is tiny (domains ≪ documents), so the join back
    is a broadcast; dup counting reuses exact_dedup's md5 key.

    ``mean_chars`` is sum(int)/count — exact integers into one division.
    """
    norm = F.md5(normalize_text(F.col(text_col)))
    per_source = (
        df.withColumn("_k", norm)
        .groupBy(source_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("_k").cast("long").alias("n_unique"),
            F.sum(F.length(text_col)).cast("long").alias("_sum_chars"),
        )
        .select(
            source_col,
            "n_docs",
            (F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs").cast("double")).alias("dup_rate"),
            (F.col("_sum_chars").cast("double") / F.col("n_docs").cast("double")).alias("mean_chars"),
        )
    )
    return df.select(id_col, source_col).join(
        F.broadcast(per_source), source_col
    ).withColumn("bad_source", F.col("dup_rate") > max_dup_rate)


def shard_pack(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "shard1",
    prefix_chars: int = 2,
    group_col: str | None = None,
) -> DataFrame:
    """Greedy sequence packing: assign documents to training shards so
    each shard holds ~``budget`` tokens, in a deterministic hash order
    (md5-salted — reproducible across runs, engines, and data layout).

    The shard id of a document is ``floor(cum_before / budget)`` where
    ``cum_before`` is the running token total of every document ahead of
    it in hash order — a GLOBAL prefix sum, which a naive single window
    (``ORDER BY hash`` over everything) would compute in ONE task. The
    distributed shape instead:

    1. range-bucket by the first ``prefix_chars`` hex chars of the hash
       (bucket order == hash-prefix order, so (bucket, hash) sorting is
       globally consistent),
    2. per-bucket prefix sums in parallel (window within bucket),
    3. per-bucket totals — a 16^prefix_chars-row frame — cumulated on the
       driver-sized side and broadcast back as each bucket's offset.

    This is the classic two-pass distributed scan: the only global step
    touches one row per bucket, never per document. All arithmetic is
    integer-exact, so the assignment hash-verifies against a single-window
    SQL oracle.
    """
    # with group_col, packing is independent PER GROUP (e.g. per split —
    # shards never mix train/val/test): every window/aggregate/offset key
    # gains the group column, so the prefix sum restarts at 0 per group.
    grp = [group_col] if group_col else []
    h = F.md5(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    base = df.withColumn("_h", h).withColumn(
        "_bk", F.substring("_h", 1, prefix_chars)
    )
    w_in = Window.partitionBy(*grp, "_bk").orderBy("_h", id_col)
    within_before = (
        F.sum(token_col).over(
            w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - F.col(token_col)
    ).cast("long")
    totals = base.groupBy(*grp, "_bk").agg(F.sum(token_col).cast("long").alias("_tot"))
    w_bk = Window.partitionBy(*grp).orderBy("_bk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = totals.select(
        *grp, "_bk", (F.sum("_tot").over(w_bk) - F.col("_tot")).cast("long").alias("_off")
    )
    packed = (
        base.withColumn("_within", within_before)
        .join(F.broadcast(offsets), [*grp, "_bk"])
        .withColumn("cum_before", (F.col("_off") + F.col("_within")).cast("long"))
        .withColumn(
            "shard_id", F.floor(F.col("cum_before") / F.lit(int(budget))).cast("long")
        )
    )
    return packed.drop("_h", "_bk", "_within", "_off")


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: str = "cap1",
) -> DataFrame:
    """Per-group document cap (the 'max N pages per domain' rule): keep at
    most ``cap`` rows per group, chosen in deterministic salted-hash order
    so the retained subset is an unbiased, reproducible sample of the
    group rather than whatever the scan order produced.

    Plan: one window rank per group ordered by (md5 hash, id). The window
    partitions on the group key — the same exchange a downstream
    per-group aggregate would need; groups are domain-sized (≪ corpus),
    and a group large enough to make one window task a straggler is
    exactly the spam-farm the cap exists to cut, so the skew self-heals:
    at 100 TB pre-filter with ``F.rand``-free hash_sample at rate
    ``k*cap/est_group_size`` for the known giants, then rank."""
    h = F.md5(F.concat(F.lit(salt + "|"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 20,
    stride: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking (RAG / pretraining prep): split
    each document into ``chunk_tokens``-token windows advancing by
    ``stride`` (overlap = chunk_tokens - stride), keeping the shorter
    tail window so every token lands in >= 1 chunk.

    Narrow per-row expressions (token array -> posexplode of slices):
    the 100 TB plan is a streaming map with row amplification
    ~ n_tokens/stride, no shuffle. Chunk starts are exact integer
    arithmetic, so the (doc_id, chunk_idx, chunk_text) set is
    engine-reproducible.
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    if stride > chunk_tokens:
        raise ValueError(
            f"stride ({stride}) > chunk_tokens ({chunk_tokens}) would leave "
            "token gaps no chunk covers, breaking the every-token-covered "
            "guarantee"
        )
    toks = words(F.col(text_col))
    n = F.size(toks)
    # starts: 0, stride, ..., with the last start covering the tail:
    # n_starts = 1 + ceil(max(n - chunk, 0) / stride), in integer math
    extra = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
    n_starts = F.lit(1) + F.floor(
        (extra + F.lit(stride - 1)) / F.lit(stride)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_starts - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * stride + 1, chunk_tokens)),
    )
    out = df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    )
    return out.withColumn(
        "n_chunk_tokens",
        F.size(F.split(F.col("chunk_text"), r"\s+")).cast("long"),
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR data-selection importance weights (Xie et al. 2023, Data
    Selection for Language Models via Importance Resampling): score each
    raw document by the log-likelihood ratio of a TARGET-domain hashed
    unigram model over the RAW-corpus model,

        ``logw(doc) = sum_i [ ln p_t(b_i) - ln p_r(b_i) ]``

    with ``b_i = md5-bucket(token_i) mod n_buckets`` and add-``a``
    smoothing over the fixed bucket space, so every bucket has mass in
    both models and the ratio is always finite. High ``logw`` = looks
    like the target domain; downstream selection is ``hash_sample`` /
    top-quantile over ``logw`` (importance resampling).

    Plan (scale-first): one explode+bucket pass per corpus -> two
    ``n_buckets``-row aggregates; the per-bucket log-ratio table is a
    bounded literal-sized frame BROADCAST back onto the raw token
    stream (the one join hint in this module that is provably bounded:
    ``n_buckets`` rows); one groupBy(doc) whose ordered fold matches
    ``unigram_logprob``'s exact-summation contract (collect_list(pos,
    lr) -> array_sort -> left fold), so the DuckDB oracle replays the
    float sum term-for-term.
    """
    bucket = lambda tok: F.pmod(
        F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    raw_toks = df.select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("pos", "token")
    ).withColumn("b", bucket(F.col("token")))
    tgt_toks = target.select(F.posexplode(words(F.col(text_col))).alias("pos", "token")).select(
        bucket(F.col("token")).alias("b")
    )

    a = float(smoothing)

    def _logp(toks: DataFrame) -> DataFrame:
        cnt = toks.groupBy("b").agg(F.count("*").cast("double").alias("c"))
        # density over the FIXED bucket space: missing buckets get the
        # smoothing floor a / (N + a*B), accounted via the N total
        n = cnt.agg(F.sum("c").alias("_n"))
        return (
            cnt.crossJoin(F.broadcast(n))
            .select("b", F.log((F.col("c") + F.lit(a)) / (F.col("_n") + F.lit(a * n_buckets))).alias("lp"), F.col("_n"))
        )

    lp_t = _logp(tgt_toks).select("b", F.col("lp").alias("lp_t"), F.col("_n").alias("_nt"))
    lp_r = _logp(raw_toks.select("b")).select("b", F.col("lp").alias("lp_r"), F.col("_n").alias("_nr"))
    # full outer over the observed buckets, floors for the absent side;
    # n totals ride along so the floor term ln(a/(N+aB)) is computable
    nt = F.first("_nt", ignorenulls=True)
    nr = F.first("_nr", ignorenulls=True)
    ratio = (
        lp_t.join(lp_r, "b", "full_outer")
        .crossJoin(F.broadcast(lp_t.agg(nt.alias("nt")).crossJoin(lp_r.agg(nr.alias("nr")))))
        .select(
            "b",
            (
                F.coalesce("lp_t", F.log(F.lit(a) / (F.col("nt") + F.lit(a * n_buckets))))
                - F.coalesce("lp_r", F.log(F.lit(a) / (F.col("nr") + F.lit(a * n_buckets))))
            ).alias("lr"),
        )
    )
    per_doc = (
        raw_toks.join(F.broadcast(ratio), "b")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            *ordered_sums(["pos"], logw=F.col("lr")),
        )
    )
    return per_doc.select(id_col, "n_tokens", "logw")


def domain_mix_sample(
    docs: DataFrame,
    weights: dict,
    budget_frac: float,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic domain-mixture sampling (the Pile / DoReMi-style
    reweighting pass): select ~``budget_frac * N`` documents whose
    composition follows ``weights`` across sources, by per-source hash
    thresholds.

    Per source ``s``: acceptance rate
    ``r_s = min(1, budget_frac * (w_s / W) * N / n_s)`` (``W`` = sum of
    the weight dict, folded into a Python-literal coefficient so both
    engines parse the identical double); a document is kept when the
    first 8 hex chars of ``md5(salt|id)`` — a uniform 32-bit draw — fall
    under ``floor(r_s * 2^32)``. Sources absent from ``weights`` get
    rate 0 (dropped); over-demanded sources cap at 1 (keep-all, with the
    shortfall visible in ``rate``).

    Decisions are deterministic in (salt, id) alone given the per-source
    counts, so reruns and engine replays agree bit-for-bit. Plan: one
    tiny per-source count aggregate (map-side combined), FILTERED to the
    weighted sources BEFORE its broadcast back onto the corpus — the
    broadcast frame is bounded by ``len(weights)`` rows, never by the
    data's source cardinality (a weight dict is a human-sized config;
    the corpus' distinct-source count is not) — and no shuffle of
    document rows at any point.

    Returns every input document with ``rate`` and ``kept`` so callers
    can audit the mix; filter on ``kept`` for the sampled corpus.
    Sources absent from ``weights`` carry rate 0.0 / kept 0.
    """
    wsum = float(sum(weights.values()))
    coef = {s: budget_frac * (float(w) / wsum) for s, w in weights.items()}
    wb = F.lit(0.0)
    for s, c in sorted(coef.items()):
        wb = F.when(F.col(source_col) == s, F.lit(c)).otherwise(wb)

    counts = (
        docs.where(F.col(source_col).isin(list(weights)))
        .groupBy(source_col)
        .agg(F.count("*").cast("double").alias("_n_src"))
    )
    n_tot = docs.select(F.count("*").cast("double").alias("_n_tot"))
    rate = F.when(
        F.col("_n_src").isNotNull(),
        F.least(F.lit(1.0), wb * F.col("_n_tot") / F.col("_n_src")),
    ).otherwise(F.lit(0.0))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.lit("|"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.join(F.broadcast(counts), source_col, "left")
        .crossJoin(F.broadcast(n_tot))
        .withColumn("rate", rate)
        .withColumn("kept", (h < F.floor(F.col("rate") * F.lit(4294967296.0)).cast("long")).cast("int"))
        .drop("_n_src", "_n_tot")
    )


def classifier_weights(dims: int = 64, seed: int = 41) -> list[float]:
    """Deterministic hashed-classifier weight vector: seeded standard
    normals rounded to 6dp so the SAME short decimal literals parse to
    identical doubles in Spark and DuckDB. A trained model would drop in
    a learned vector of the same shape; the plan is identical."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [round(float(x), 6) for x in rng.standard_normal(dims)]


def quality_classifier(
    df: DataFrame,
    dims: int = 64,
    seed: int = 41,
    bias: float = 0.0,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: list[float] | None = None,
) -> DataFrame:
    """Linear quality classifier over hashed bag-of-words — the fastText
    / CCNet-style model-based filter (Joulin et al. 2016; Wenzek et al.
    2020) that sits next to the rule-based gopher_quality_rules: each
    token hashes to one of ``dims`` buckets (first 4 hex chars of md5,
    the hashed_embedding bucket — engine-portable), the document score is
    the MEAN bucket weight plus a bias, and the keep probability is the
    logistic of that score. Weights default to the deterministic seeded
    vector (classifier_weights); pass a trained vector for a real model —
    the plan does not change.

    Plan shape: one narrow projection per document — a fold over the
    token array against a plan-literal weight vector. No explode, no
    shuffle, no join: at 100 TB this is a pure map over the corpus scan,
    exactly like lang_id/text_quality. (Scoring is embarrassingly
    parallel; only training needs aggregation, and training happens
    offline.)

    Output: (doc_id, n_tokens, score 6dp, prob 6dp, label) with
    label = 'keep' iff prob >= threshold.
    """
    w = weights if weights is not None else classifier_weights(dims, seed)
    if len(w) != dims:
        raise ValueError(f"weights length {len(w)} != dims {dims}")
    wlit = "array(" + ", ".join(f"CAST('{repr(float(x))}' AS DOUBLE)" for x in w) + ")"
    # token -> bucket weight, summed in document order (strict left fold,
    # bit-matched by the oracle's list_reduce over the same order)
    fold = (
        f"aggregate(transform(split(lower(trim({text_col})), '\\\\s+'), "
        f"t -> element_at({wlit}, CAST(CAST(conv(substring(md5(t), 1, 4), 16, 10) AS BIGINT) % {dims} AS INT) + 1)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    out = df.withColumn("_n", F.size(words(F.col(text_col))))
    out = out.withColumn(
        "_score", F.expr(fold) / F.col("_n").cast("double") + F.lit(float(bias))
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_score")))
    return (
        out.withColumn("_prob", prob)
        .select(
            F.col(id_col),
            F.col("_n").cast("long").alias("n_tokens"),
            F.round("_score", 6).alias("score"),
            F.round("_prob", 6).alias("prob"),
            F.when(F.col("_prob") >= F.lit(float(threshold)), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("label"),
        )
    )


def cdc_chunk(
    df: DataFrame,
    boundary_bits: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC idea, token
    granularity): cut AFTER any token whose md5 leading hex digit is
    below ``2^(4 - boundary_bits)`` — a boundary probability of
    ``2^-boundary_bits``, i.e. expected chunk length ``2^boundary_bits``
    tokens. Because boundaries depend only on LOCAL content, inserting
    or deleting a token re-chunks just the neighborhood instead of
    shifting every later chunk the way fixed-size windows do — the
    property that makes chunk-hash dedup robust to edits
    (``chunk_documents`` is the fixed-size counterpart).

    Plan: pure per-document array expressions (transform/filter/slice)
    plus one posexplode — ZERO shuffle at any corpus size; the chunk
    table inherits the scan's partitioning. The boundary predicate is a
    single-hex-digit string compare (digits sort identically in both
    engines), and the DuckDB oracle replays chunk ids as a prefix count
    of boundaries over UNNEST WITH ORDINALITY.

    Real FastCDC adds min/max chunk clamps and a gear hash; both are
    local-window tweaks that slot into the same boundary lambda (the
    clamps make the predicate stateful, which costs the exact-SQL
    replay — documented extension point, not implemented).

    Output: (id_col, chunk_idx int 0-based, n_tokens long, chunk string).
    """
    if not 1 <= boundary_bits <= 4:
        raise ValueError("boundary_bits must be in 1..4 (expected chunk 2..16 tokens)")
    thresh_char = str(2 ** (4 - boundary_bits))
    toks = df.select(F.col(id_col), words(F.col(text_col)).alias("_tk"))
    cuts = F.filter(
        F.transform(
            F.col("_tk"),
            lambda t, i: F.when(
                F.substring(F.md5(t), 1, 1) < F.lit(thresh_char), i + F.lit(1)
            ).otherwise(F.lit(None).cast("integer")),
        ),
        lambda x: x.isNotNull(),
    )
    edges = F.array_distinct(
        F.concat(F.array(F.lit(0)), cuts, F.array(F.size("_tk")))
    )
    chunks = F.transform(
        F.sequence(F.lit(1), F.size("_edges") - 1),
        lambda j: F.slice(
            F.col("_tk"),
            F.element_at(F.col("_edges"), j) + 1,
            F.element_at(F.col("_edges"), j + 1) - F.element_at(F.col("_edges"), j),
        ),
    )
    return (
        toks.withColumn("_edges", edges)
        .select(id_col, F.posexplode(chunks).alias("chunk_idx", "_ck"))
        .select(
            id_col,
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size("_ck").cast("long").alias("n_tokens"),
            F.array_join("_ck", " ").alias("chunk"),
        )
    )


def pack_sequences(
    df: DataFrame,
    context_len: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "pack1",
    prefix_chars: int = 2,
) -> DataFrame:
    """Fixed-context example packing — the causal-LM pretraining layout
    (GPT-3 Appendix B "documents are concatenated and split into
    sequences of exactly the context length"; T5 'packing'): the
    deterministic hash-ordered token stream is cut into consecutive
    ``context_len`` windows, and a document that straddles a window
    boundary is SPLIT across the adjoining packs. Downstream tokenizers
    consume the emitted offsets to materialize input_ids and the
    cross-document attention-mask resets.

    One row per (document x pack it touches):

        pack_id     global window index (token interval
                    ``[pack_id*L, (pack_id+1)*L)``)
        doc_offset  first token of this slice within the document
        pack_offset position of the slice inside the pack
        n_toks      slice length (> 0)

    All pure integer arithmetic over ``shard_pack``'s two-pass
    distributed prefix sum (``cum_before``) — no new shuffle beyond the
    bucketed window it already does, and a doc explodes into at most
    ``ceil(n/L)+1`` rows, so the expansion is bounded by the data's own
    token count, never by the grid. Zero-token documents emit no rows.
    """
    L = int(context_len)
    if L <= 0:
        raise ValueError("context_len must be positive")
    packed = shard_pack(
        df, budget=L, token_col=token_col, id_col=id_col,
        salt=salt, prefix_chars=prefix_chars,
    )
    s = F.col("cum_before").cast("long")
    n = F.col(token_col).cast("long")
    first = F.floor(s / L).cast("long")
    last = F.floor((s + n - F.lit(1)) / L).cast("long")
    out = (
        packed.where(n > 0)
        .select(
            F.col(id_col),
            s.alias("_s"),
            n.alias("_n"),
            F.explode(F.sequence(first, last)).alias("pack_id"),
        )
        .withColumn("_g0", F.greatest(F.col("_s"), F.col("pack_id") * L))
        .withColumn("_g1", F.least(F.col("_s") + F.col("_n"), (F.col("pack_id") + 1) * L))
    )
    return out.select(
        F.col("pack_id").cast("long").alias("pack_id"),
        id_col,
        (F.col("_g0") - F.col("_s")).cast("long").alias("doc_offset"),
        (F.col("_g0") - F.col("pack_id") * L).cast("long").alias("pack_offset"),
        (F.col("_g1") - F.col("_g0")).cast("long").alias("n_toks"),
    )


def temporal_split(
    df: DataFrame,
    split_ts: str,
    horizon_seconds: float = 0.0,
    embargo_seconds: float = 0.0,
) -> DataFrame:
    """Purged time-based train/test split with an embargo period — the
    leakage-safe evaluation split for point-in-time feature data (the
    purged walk-forward split of López de Prado, *Advances in Financial
    Machine Learning* ch. 7, adapted to transcript turns):

    * ``test``    ts >= split_ts
    * ``purged``  train-side turns whose LABEL WINDOW [ts, ts+horizon)
                  overlaps the test period (ts + horizon > split_ts) —
                  their labels read test-period outcomes, so keeping
                  them in train leaks the future into training.
    * ``embargo`` train-side turns inside the embargo buffer just before
                  the purge boundary (serial correlation guard).
    * ``train``   everything earlier.

    The assignment is a pure per-row predicate chain — zero shuffles,
    works unchanged at 10^12 turns, and composes with hash_split for the
    conv-level IID split (this one is the TIME split; both are
    deterministic so a resumed job reproduces the exact folds).

    Output: input columns + fold string.
    """
    h_us = int(horizon_seconds * 1_000_000)
    e_us = int(embargo_seconds * 1_000_000)
    ts_us = epoch_us("ts")

    def reaches_test(lead_us: int):
        # ts + lead > split_ts in integer micros, i.e. NOT (ts + lead - 1us
        # < split_ts): the complement of the drift battery's split predicate
        return ~_is_ref(split_ts, F.timestamp_micros(ts_us + F.lit(lead_us - 1)))

    fold = (
        F.when(~_is_ref(split_ts), "test")
        .when(reaches_test(h_us), "purged")
        .when(reaches_test(h_us + e_us), "embargo")
        .otherwise("train")
    )
    return df.withColumn("fold", fold)


def equal_frequency_bins(
    df: DataFrame, col: str = "n_chars", n_bins: int = 10
) -> DataFrame:
    """Deterministic equal-frequency (quantile) binning of an integer
    metric column — the length-stratification primitive (equal-depth
    length buckets for stratified sampling / curriculum packing).

    NTILE is the textbook tool but is WRONG here twice over: it splits
    tied values across bins (so the binning depends on the engine's
    tie order — not partition-invariant, not oracle-replayable), and it
    windows over the full row set (a single-partition sort of every
    document). This operator instead bins on the COMPACTED value
    histogram: all rows sharing a value land in one bin, by the rule

        bin(v) = min(floor(rows_below(v) * n_bins / n_rows), n_bins - 1)

    computed in exact integer arithmetic (floor division) over
    |distinct values| rows, then broadcast-joined back. The histogram
    is bounded by the metric's cardinality (character/token counts:
    thousands of distinct values at any corpus size), so the one
    single-partition cumulative window runs over a tiny aggregate —
    the same two-pass shape as shard_pack's offset frame — and the
    document pass itself is a narrow broadcast-join map.

    NULL metrics get a NULL bin. Bins are equal-frequency up to tie
    mass: a value more frequent than n/n_bins occupies its whole bin
    and may swallow neighbors (the deterministic price; NTILE would
    have split it arbitrarily instead).

    Adds: ``bin`` long in [0, n_bins).
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    x = F.col(col).cast("long")
    hist = (
        df.where(x.isNotNull())
        .groupBy(x.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("_v", (F.sum("_c").over(w) - F.col("_c")).alias("_cb"))
    tot = hist.agg(F.sum("_c").alias("_n"))
    bins = cum.join(F.broadcast(tot)).select(
        "_v",
        F.least(
            F.expr(f"(_cb * {int(n_bins)}) div _n"), F.lit(n_bins - 1)
        ).alias("bin"),
    )
    return df.join(F.broadcast(bins), x == F.col("_v"), "left").drop("_v")


def source_concentration(
    docs: DataFrame,
    group_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """Per-group source-concentration profile: the Herfindahl-Hirschman
    index of document share across sources,

        hhi         = sum_s (c_s / n)^2  =  sum_s c_s^2 / n^2
        eff_sources = 1 / hhi            =  n^2 / sum_s c_s^2

    plus the top source's share — the mixture-health monitor a corpus
    pipeline alarms on (hhi -> 1 means one crawler dominates the
    group; eff_sources is the "equivalent number of equal sources").

    Plan shape: one map-side-combined groupBy on (group, source) —
    the only corpus-scale shuffle — then a rollup over the tiny
    (group x source) aggregate. The sum of SQUARED counts is kept as
    an exact long (no float share summation exists: sum c_s^2 <= n^2,
    exact for groups under ~3G docs), so hhi/eff/top_share are each
    ONE division over exact integers — SQL-replayable bit-for-bit.

    Output: (group, n_docs long, n_sources long, hhi double,
    eff_sources double, top_share double).
    """
    per_src = docs.groupBy(
        F.col(group_col).alias("g"), F.col(source_col).alias("s")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    g = per_src.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ssq"),
        F.max("c").cast("long").alias("cmax"),
    )
    n = F.col("n_docs").cast("double")
    ssq = F.col("ssq").cast("double")
    return g.select(
        F.col("g").alias(group_col),
        "n_docs",
        "n_sources",
        (ssq / (n * n)).alias("hhi"),
        ((n * n) / ssq).alias("eff_sources"),
        (F.col("cmax").cast("double") / n).alias("top_share"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff: classify every document id across two
    crawls/dumps as ``added`` / ``removed`` / ``changed`` / ``unchanged``
    — the audit a pipeline runs before incremental re-processing (only
    ``added`` + ``changed`` re-enter the quality/dedup stages; a spike
    in ``changed`` flags a source rewriting history).

    Content equality is the exact_dedup md5 of the normalized text, so
    whitespace-only churn counts as unchanged. ONE full-outer equi-join
    on the id — at 100 TB both sides hash-partition on the same key and
    co-locate (or ride bucketed layouts via layout.write_bucketed, zero
    shuffle); the md5 compare is a narrow expression.

    Output: (id_col, status string, old_hash string, new_hash string).
    """
    def _h(df):
        return df.select(
            F.col(id_col),
            F.md5(normalize_text(F.col(text_col))).alias("_h"),
        )

    o = _h(old).withColumnRenamed("_h", "old_hash")
    n = _h(new).withColumnRenamed("_h", "new_hash")
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") == F.col("new_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(id_col, status.alias("status"), "old_hash", "new_hash")


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_bucket: int = 16,
    max_bucket: int = 4096,
) -> DataFrame:
    """Power-of-two sequence-length bucketing — the dynamic-batching
    prep step (examples batched within a bucket pad to the bucket
    ceiling, so bucket assignment IS the padding-waste budget):

      bucket_ceil = smallest power of two >= n_tokens (clamped to
      [min_bucket, max_bucket]); pad_frac = 1 - n_tokens / bucket_ceil.

    Pure integer expressions (ceil-log2 via bit length arithmetic —
    exp2(ceil(log2 n)) would round through floats; the loop-free
    integer form can't), zero shuffle. The per-bucket occupancy report
    a pipeline trends comes free from one groupBy over the output.

    Adds: n_tokens long, bucket_ceil long, pad_frac double.
    """
    n = F.size(words(F.col(text_col))).cast("long")
    # smallest power of two >= n without float log: walk the candidate
    # ceilings as a fixed CASE chain over the clamped range
    ceilings = []
    b = int(min_bucket)
    while b < int(max_bucket):
        ceilings.append(b)
        b *= 2
    ceilings.append(int(max_bucket))
    expr = F.lit(int(max_bucket))
    for c in reversed(ceilings):
        expr = F.when(n <= c, F.lit(c)).otherwise(expr)
    out = df.withColumn("n_tokens", n).withColumn("bucket_ceil", expr.cast("long"))
    return out.withColumn(
        "pad_frac",
        F.lit(1.0)
        - F.col("n_tokens").cast("double") / F.col("bucket_ceil").cast("double"),
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """One-row corpus datasheet: the headline numbers a dataset card
    quotes (Gebru et al., 'Datasheets for Datasets') — document/token/
    char totals, distinct languages and sources, the exact-duplicate
    rate, and mean document length. ONE aggregation pass (count-distinct
    rides the same map-side pass via approx-free exact distincts on the
    md5/string keys), exact integers + single divisions.

    Output: (n_docs long, n_tokens long, n_chars long, n_langs long,
    n_sources long, n_unique_texts long, dup_rate double,
    mean_tokens double, mean_chars double).
    """
    toks = F.size(words(F.col(text_col))).cast("long")
    norm_h = F.md5(normalize_text(F.col(text_col)))
    g = df.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(toks).cast("long").alias("n_tokens"),
        F.sum(F.length(F.col(text_col))).cast("long").alias("n_chars"),
        F.countDistinct(F.col(lang_col)).cast("long").alias("n_langs"),
        F.countDistinct(F.col(source_col)).cast("long").alias("n_sources"),
        F.countDistinct(norm_h).cast("long").alias("n_unique_texts"),
    )
    n = F.col("n_docs").cast("double")
    return g.select(
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_langs",
        "n_sources",
        "n_unique_texts",
        (
            F.lit(1.0) - F.col("n_unique_texts").cast("double") / n
        ).alias("dup_rate"),
        (F.col("n_tokens").cast("double") / n).alias("mean_tokens"),
        (F.col("n_chars").cast("double") / n).alias("mean_chars"),
    )


def truncate_middle(
    df: DataFrame,
    max_tokens: int = 64,
    head_frac: float = 0.75,
    text_col: str = "text",
    marker: str = "...",
) -> DataFrame:
    """Head+tail truncation for context fitting: documents longer than
    ``max_tokens`` keep the first ``head_frac`` and the last
    ``1 - head_frac`` of the budget with a marker between — the
    standard long-document policy (plain head-truncation throws away
    conclusions; the middle is the cheapest cut; Longformer/LED-era
    preprocessing convention).

    Pure array arithmetic (slice/concat on the token array, integer
    head/tail sizes computed once from literals), zero shuffle. Short
    documents pass through unchanged with was_truncated = false. The
    marker counts AGAINST the budget (head + marker + tail ==
    max_tokens exactly), so a packer sized to max_tokens never
    overflows on a truncated document.

    Adds: n_tokens long, was_truncated boolean, text_trunc string,
    n_tokens_out long.
    """
    budget = int(max_tokens) - 1  # one slot reserved for the marker
    head_n = int(budget * head_frac)
    tail_n = budget - head_n
    toks = words(F.col(text_col))
    n = F.size(toks)
    truncated = F.concat_ws(
        " ",
        F.concat_ws(" ", F.slice(toks, 1, head_n)),
        F.lit(marker),
        F.concat_ws(" ", F.slice(toks, -tail_n, tail_n)),
    )
    over = n > max_tokens
    out_text = F.when(over, truncated).otherwise(
        F.concat_ws(" ", toks)
    )
    return (
        df.withColumn("n_tokens", n.cast("long"))
        .withColumn("was_truncated", over)
        .withColumn("text_trunc", out_text)
        .withColumn(
            "n_tokens_out",
            F.when(over, F.lit(int(max_tokens))).otherwise(n).cast("long"),
        )
    )


def gini_concentration(
    df: DataFrame, value_col: str, group_col: str, id_col: str
) -> DataFrame:
    """Gini coefficient of a non-negative size column within each group
    — the one-number inequality summary for corpus audits ('is this
    source's volume a few giant documents or many small ones?'),
    complementing source_concentration's HHI (share-of-group across
    groups) with WITHIN-group dispersion:

        G = (2 * sum_i i * x_(i) - (n + 1) * sum x) / (n * sum x)

    over the ascending sort x_(1) <= ... <= x_(n). G = 0 when all items
    are equal, -> 1 when one item carries everything.

    Determinism: ranks come from row_number over (value, id) — ties
    contribute i*x + j*x identically under ANY tie order, so the rank
    sum is tie-stable — and every term is an exact long (i*x bounded by
    n * max_value * n; DECIMAL headroom is unnecessary below ~1e9 rows
    x 1e9 sizes per group, documented bound); the coefficient is one
    division of two single casts. One rank window + one groupBy on the
    same group key = one shuffle.

    Output: (group_col, n long, total long, gini double — NULL when
    n = 0 or total = 0).
    """
    x = F.col(value_col).cast("long")
    w = Window.partitionBy(group_col).orderBy(F.col(value_col), F.col(id_col))
    p = df.select(
        group_col,
        x.alias("_x"),
        F.row_number().over(w).cast("long").alias("_i"),
    )
    g = p.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_x").alias("total"),
        F.sum(F.col("_i") * F.col("_x")).alias("_ix"),
    )
    num = F.lit(2) * F.col("_ix") - (F.col("n") + F.lit(1)) * F.col("total")
    den = F.col("n") * F.col("total")
    gini = F.when(den > 0, num.cast("double") / den.cast("double"))
    return g.select(group_col, "n", F.col("total").cast("long").alias("total"), gini.alias("gini"))


def srm_check(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "split1",
) -> DataFrame:
    """Sample-ratio-mismatch check over a hash split — the standard
    experimentation-pipeline guard: do the realized split counts match
    the configured fractions? (A drifting SRM means the assignment
    hash, the key distribution, or an upstream filter is biased — the
    chi-square GOF statistic is the alarm; compare to the chi-square
    critical value for k-1 dof offline.)

        chi2 = sum_splits (observed - expected)^2 / expected,
        expected_s = fraction_s * N

    Scale + determinism: the split label is a pure expression of the
    key (dedup.split_expr — zero joins), so the whole check is ONE
    map-side-combined aggregate of conditional counts; the chi-square
    sum is a FIXED expression over the k split slots in fractions
    order (never a float aggregation over rows), so it is
    engine-invariant and SQL-replayable.

    Output: one wide row (n_total long, n_<split> long per split,
    chi2 double)."""
    from z_rad_spark.operators.dedup import split_expr

    split = split_expr(F.col(key_col), fractions, salt)
    names = list(fractions.keys())
    agg = df.select(split.alias("_sp")).groupBy().agg(
        F.count("*").cast("long").alias("n_total"),
        *[
            F.count(F.when(F.col("_sp") == F.lit(s), 1)).cast("long").alias(f"n_{s}")
            for s in names
        ],
    )
    nt = F.col("n_total").cast("double")
    chi2 = None
    for s in names:
        if fractions[s] <= 0.0:
            # zero-expected cells are undefined in the GOF statistic
            # (and would divide by zero under ANSI) — standard practice
            # is to exclude them; any observation landing there is a
            # hash_split impossibility anyway
            continue
        e = F.lit(float(fractions[s])) * nt
        term = (F.col(f"n_{s}").cast("double") - e) * (F.col(f"n_{s}").cast("double") - e) / e
        chi2 = term if chi2 is None else chi2 + term
    return agg.withColumn("chi2", chi2 if chi2 is not None else F.lit(None).cast("double"))


def k_anonymity(
    df: DataFrame,
    quasi_cols: tuple[str, ...] = ("lang", "source"),
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (Sweeney 2002) —
    the privacy gate a curated corpus passes before release, the
    structural complement to [[pii_redaction]]'s content scrubbing:
    every row whose quasi-identifier equivalence class has fewer than
    ``k`` members is re-identifiable by joining the released corpus
    against an external table on those columns.

    Output is the equivalence-class SIZE DISTRIBUTION (one row per
    distinct class size) rather than per-class rows — the released
    artifact must not itself enumerate the small classes it warns
    about. Per size: how many classes, how many rows they hold, the
    cumulative row count in classes of size <= s, that cumulative share
    of the corpus, and whether the size is below the k threshold.

    Scale: one groupBy on the quasi tuple (map-side combined), one
    groupBy on the class size (distinct-sizes cardinality — tiny), one
    single-partition window over the size distribution (bounded by the
    number of DISTINCT class sizes, O(sqrt(n)) at worst). Exact longs;
    the only float is the share division.

    Output: (class_size long, n_classes long, n_rows long, cum_rows
    long, risk_share double, below_k long 1/0), ordered by class_size.
    """
    from pyspark.sql import Window

    cls = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count("*").cast("long").alias("_sz")
    )
    dist = cls.groupBy("_sz").agg(F.count("*").cast("long").alias("n_classes"))
    w = Window.orderBy("_sz").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("_sz").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return dist.select(
        F.col("_sz").alias("class_size"),
        "n_classes",
        (F.col("_sz") * F.col("n_classes")).cast("long").alias("n_rows"),
        F.sum(F.col("_sz") * F.col("n_classes")).over(w).cast("long").alias("cum_rows"),
        (
            F.sum(F.col("_sz") * F.col("n_classes")).over(w).cast("double")
            / F.sum(F.col("_sz") * F.col("n_classes")).over(w_all).cast("double")
        ).alias("risk_share"),
        F.when(F.col("_sz") < k, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("below_k"),
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: tuple[str, ...] = ("lang", "source"),
    sensitive_col: str = "source",
    l_threshold: int = 3,
) -> DataFrame:
    """l-diversity audit over a quasi-identifier tuple (Machanavajjhala
    et al. 2007) — the attribute-disclosure companion to
    [[k_anonymity]]: a class can be k-anonymous yet leak the SENSITIVE
    attribute outright when every member shares one value (the
    homogeneity attack). Here l = number of DISTINCT sensitive values
    inside each quasi-identifier equivalence class; classes with
    l < l_threshold disclose the attribute to anyone who can place a
    person in the class.

    Output mirrors [[k_anonymity]]'s release-safe shape: the
    DISTRIBUTION over l (one row per distinct diversity level), never
    the classes themselves — (l_value, n_classes, n_rows, cum_rows,
    risk_share, below_l), cum ascending in l so risk_share at
    l = l_threshold - 1 reads off the total attribute-disclosure
    exposure.

    Scale: one groupBy on quasi tuple + sensitive (map-side combined),
    one re-aggregate to classes (count distinct = count of the deduped
    inner rows — exact, no approx), one tiny distribution window.
    Exact longs; the only float is the share division.
    """
    from pyspark.sql import Window

    qcols = [F.col(c) for c in quasi_cols]
    inner = df.groupBy(*qcols, F.col(sensitive_col).alias("_sv")).agg(
        F.count("*").cast("long").alias("_n")
    )
    cls = inner.groupBy(*qcols).agg(
        F.count("*").cast("long").alias("_l"),
        F.sum("_n").cast("long").alias("_sz"),
    )
    dist = cls.groupBy("_l").agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("_sz").cast("long").alias("n_rows"),
    )
    w = Window.orderBy("_l").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("_l").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return dist.select(
        F.col("_l").alias("l_value"),
        "n_classes",
        "n_rows",
        F.sum("n_rows").over(w).cast("long").alias("cum_rows"),
        (
            F.sum("n_rows").over(w).cast("double")
            / F.sum("n_rows").over(w_all).cast("double")
        ).alias("risk_share"),
        F.when(F.col("_l") < l_threshold, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("below_l"),
    )


def t_closeness(
    df: DataFrame,
    quasi_cols: tuple[str, ...] = ("lang",),
    sensitive_col: str = "sensitive",
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    distribution-disclosure member of the privacy trio
    ([[k_anonymity]] = re-identification, [[l_diversity]] =
    homogeneity): a class leaks even with diverse sensitive values
    when its DISTRIBUTION differs sharply from the corpus-wide one
    (the skewness attack). t is the Earth Mover's Distance between
    the class and global distributions over the ORDERED sensitive
    levels, normalized by (k - 1) so t is in [0, 1]:

        t = (1 /(k-1)) * sum_v | cum_class(v)/n_c - cum_global(v)/N |

    Determinism: per-level cumulative counts are exact longs (window
    cumsums over the dense class x level grid); each level's term is
    a fixed divide/subtract/abs chain and the per-class reduction
    is ``exprs.ordered_sums`` by level — the SQL oracle replays it bit-for-bit.

    Scale: one (quasi, level) map-side-combined groupBy; the global
    level table (k rows, k = sensitive cardinality — bucket first if
    unbounded) broadcasts onto the class list for the dense grid, so
    classes missing a level still pay its cumulative gap. No
    all-pairs anything. Output: one row per class — (quasi...,
    n_rows long; t double, NULL when k < 2), plus exceeds flag left
    to the caller's threshold.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    qcols = [F.col(c) for c in quasi_cols]
    sv = F.col(sensitive_col).cast("long")
    s = df.select(*qcols, sv.alias("_sv"))
    cell = s.groupBy(*quasi_cols, "_sv").agg(F.count("*").cast("long").alias("_c"))
    glob = cell.groupBy("_sv").agg(F.sum("_c").cast("long").alias("_g"))
    w_lvl = Window.orderBy("_sv").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("_sv").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    levels = glob.select(
        "_sv",
        F.sum("_g").over(w_lvl).cast("long").alias("_cumg"),
        F.sum("_g").over(w_all).cast("long").alias("_N"),
        F.count("*").over(w_all).cast("long").alias("_k"),
    )
    classes = cell.groupBy(*quasi_cols).agg(F.sum("_c").cast("long").alias("n_rows"))
    grid = classes.crossJoin(broadcast(levels))
    dense = grid.join(cell, [*quasi_cols, "_sv"], "left").withColumn(
        "_c0", F.coalesce(F.col("_c"), F.lit(0)).cast("long")
    )
    w_cls = Window.partitionBy(*quasi_cols).orderBy("_sv").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cumc = F.sum("_c0").over(w_cls).cast("long")
    term = F.abs(
        cumc.cast("double") / F.col("n_rows").cast("double")
        - F.col("_cumg").cast("double") / F.col("_N").cast("double")
    )
    # the term reads a window, so it is projected before the aggregate
    terms = dense.select(*quasi_cols, "n_rows", "_k", "_sv", term.alias("_t"))
    per = terms.groupBy(*quasi_cols).agg(
        F.max("n_rows").alias("n_rows"),
        F.max("_k").alias("_k"),
        *ordered_sums(["_sv"], _t=F.col("_t")),
    )
    tsum = F.col("_t")
    return per.select(
        *quasi_cols,
        "n_rows",
        F.when(
            F.col("_k") >= 2, tsum / (F.col("_k") - F.lit(1)).cast("double")
        ).alias("t"),
    )


def source_jaccard(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-mix
    overlap map ('which domains are lexically interchangeable?') that
    [[domain_mix_sample]] consults when collapsing near-identical
    feeds:

        J(a, b) = |V_a intersect V_b| / (|V_a| + |V_b| - intersect)

    Determinism: set sizes and intersections are exact longs from the
    deduped (token, source) inverted index; J is one fixed chain.
    Bit-replayable.

    Scale: one distinct on (token, source) — the only corpus-sized
    shuffle — then a per-token source self-join bounded by the source
    fan-out per token (sources are a bounded set; bucket rare domains
    first if they are not). Output: (src_a, src_b, v_a, v_b, inter
    longs; jaccard double), one row per unordered pair with any
    overlap, src_a < src_b.
    """
    inv = df.select(
        F.explode(words(F.col(text_col))).alias("_t"), F.col(group_col).alias("_s")
    ).distinct()
    sizes = inv.groupBy("_s").agg(F.count("*").cast("long").alias("_v"))
    a = inv.select(F.col("_t"), F.col("_s").alias("_sa"))
    b = inv.select(F.col("_t"), F.col("_s").alias("_sb"))
    inter = (
        a.join(b, "_t")
        .where(F.col("_sa") < F.col("_sb"))
        .groupBy("_sa", "_sb")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    from pyspark.sql.functions import broadcast

    out = (
        inter.join(broadcast(sizes.withColumnRenamed("_s", "_sa")), "_sa")
        .withColumnRenamed("_v", "v_a")
        .join(broadcast(sizes.withColumnRenamed("_s", "_sb")), "_sb")
        .withColumnRenamed("_v", "v_b")
    )
    j = F.col("inter").cast("double") / (
        F.col("v_a") + F.col("v_b") - F.col("inter")
    ).cast("double")
    return out.select(
        F.col("_sa").alias("src_a"),
        F.col("_sb").alias("src_b"),
        "v_a",
        "v_b",
        "inter",
        j.alias("jaccard"),
    )


def source_kl(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_v: int = 256,
) -> DataFrame:
    """Per-source KL divergence from the corpus token distribution —
    the information-theoretic 'how off-mix is this feed?' number that
    ranks sources for [[dsir_weights]]-style resampling:

        KL(P_s || P_c) = sum_v p_s(v) ln(p_s(v) / p_c(v))

    over the corpus top-``top_v`` vocabulary with everything else
    folded into one OTHER bucket (bounds the fold state at any corpus
    size; the bucket keeps both distributions normalized so KL stays
    exact for the COARSENED pair — the standard practice).

    Determinism: bucket membership is an integer rank cut (count desc,
    token asc); all counts are exact longs; each term is a fixed chain
    and the per-source reduction is ``exprs.ordered_sums`` by bucket token.
    Bit-replayable.

    Scale: one token groupBy for the corpus ranking, one (source,
    bucket) groupBy; vocabulary beyond top_v never creates per-source
    state. Output: (source, n_tokens long, kl double — NULL when the
    source is empty), one row per source.
    """
    tok = df.select(
        F.explode(words(F.col(text_col))).alias("_t"), F.col(group_col).alias("_s")
    )
    corpus = tok.groupBy("_t").agg(F.count("*").cast("long").alias("_cc"))
    w_rank = Window.orderBy(F.col("_cc").desc(), F.asc("_t"))
    ranked = corpus.withColumn("_rk", F.row_number().over(w_rank))
    keep = ranked.select(
        "_t", F.when(F.col("_rk") <= top_v, F.col("_t")).otherwise(F.lit("<other>")).alias("_b")
    )
    from pyspark.sql.functions import broadcast

    tb = tok.join(broadcast(keep), "_t").select("_s", "_b")
    cb = tb.groupBy("_b").agg(F.sum(F.lit(1)).cast("long").alias("_cc"))
    w_all = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    corpus_b = cb.select("_b", "_cc", F.sum("_cc").over(w_all).cast("long").alias("_nc"))
    sb = tb.groupBy("_s", "_b").agg(F.count("*").cast("long").alias("_cs"))
    w_src = Window.partitionBy("_s")
    sbn = sb.select(
        "_s", "_b", "_cs", F.sum("_cs").over(w_src).cast("long").alias("_ns")
    )
    joined = sbn.join(broadcast(corpus_b), "_b")
    ps = F.col("_cs").cast("double") / F.col("_ns").cast("double")
    pc = F.col("_cc").cast("double") / F.col("_nc").cast("double")
    term = ps * F.log(ps / pc)
    per = joined.groupBy("_s").agg(
        F.max("_ns").alias("n_tokens"), *ordered_sums(["_b"], _k=term)
    )
    kl = F.col("_k")
    return per.select(
        F.col("_s").alias("source"),
        F.col("n_tokens").cast("long"),
        F.when(F.col("n_tokens") > 0, kl).alias("kl"),
    )


def dup_weights(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 64,
) -> DataFrame:
    """Soft-dedup training weights: every document gets weight
    1 / |its near-dup cluster| (singletons keep 1.0) — the
    downweight-instead-of-drop alternative to [[dup_survivors]]'s
    hard canonical pick: total evidence per duplicated passage stays
    constant (the cluster contributes ONE document's worth of
    gradient mass) while surface diversity inside the cluster is
    preserved — the knob repeated-passage scaling studies
    (Hernandez et al. 2022) say matters.

    Determinism: clusters come from the seeded MinHash-LSH +
    large/small-star pipeline ([[dup_clusters]] — oracle replays the
    identical candidate graph by literal-seed replay + recursive
    closure); sizes are exact longs; the weight is one division.

    Scale: the components run on the PAIR graph only; unpaired
    documents join back with a broadcast-left anti pattern and never
    enter the iteration. Output: (id_col, cluster_id long,
    cluster_size long, weight double) — one row per document.
    """
    from .dedup import dup_clusters

    cc = dup_clusters(
        docs, n, n_hashes, band_size, text_col, id_col, max_bucket
    )
    sizes = cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    clustered = cc.join(F.broadcast(sizes), "cluster_id")
    base = docs.select(F.col(id_col).cast("long").alias(id_col))
    out = base.join(clustered, id_col, "left").select(
        id_col,
        F.coalesce(F.col("cluster_id"), F.col(id_col)).cast("long").alias(
            "cluster_id"
        ),
        F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long").alias(
            "cluster_size"
        ),
        (F.lit(1.0) / F.coalesce(F.col("cluster_size"), F.lit(1)).cast("double")).alias(
            "weight"
        ),
    )
    return out


def source_temperature(
    docs: DataFrame,
    alpha: float = 0.7,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled source sampling mix (the multinomial
    p_s^alpha renormalization GPT-3 / XLM-R style pipelines use to
    keep small high-quality sources from drowning): over per-source
    TOKEN mass n_s,

        p_s = n_s / N,   w_s = p_s^alpha / sum_r p_r^alpha,
        boost_s = w_s / p_s

    boost > 1 = the source is upsampled (expect repeats — read beside
    [[dup_weights]]), boost < 1 = downsampled.

    Determinism: token counts are exact longs (the q_vocab whitespace
    tokenization); the p^alpha terms and the normalizer are
    ``exprs.ordered_sums`` by source; fixed chains after. Bit-replayable.

    Scale: one map-side-combined per-source aggregate (|sources|
    rows); the fold state is source-cardinality bounded. Output:
    (source, n_tokens long, p, w, boost doubles), one row per
    non-empty source.
    """
    toks = words(F.col(text_col))
    per = docs.groupBy(F.col(group_col).alias("_s")).agg(
        F.sum(F.size(toks)).cast("long").alias("n_tokens")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    withn = per.withColumn("_nn", F.sum("n_tokens").over(w_all).cast("long"))
    p = F.col("n_tokens").cast("double") / F.col("_nn").cast("double")
    pa = F.pow(p, F.lit(float(alpha)))
    terms = withn.select(
        "_s", "n_tokens", "_nn", p.alias("_p"), pa.alias("_pa")
    )
    norm = terms.agg(*ordered_sums(["_s"], _z=F.col("_pa")))
    j = terms.crossJoin(F.broadcast(norm))
    w = F.col("_pa") / F.col("_z")
    ok = (F.col("n_tokens") > 0) & (F.col("_z") > 0)
    return j.select(
        F.col("_s").alias(group_col),
        "n_tokens",
        F.when(ok, F.col("_p")).alias("p"),
        F.when(ok, w).alias("w"),
        F.when(ok, w / F.col("_p")).alias("boost"),
    )


def length_gini(
    docs: DataFrame,
    n_deciles: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Token-mass inequality across documents: the exact Gini
    coefficient of per-document token counts plus the Lorenz curve at
    each decile (share of total token mass held by the shortest d/10
    of documents) — the corpus-shape number a packing/sharding plan
    needs (Gini near 0 = uniform docs, near 1 = a few monsters hold
    the mass and [[pack_sequences]] bin-packing, not round-robin, is
    mandatory), beside the per-SOURCE concentration view of
    [[q_source_concentration]].

        G = sum_i (2i - n - 1) x_(i) / (n sum x)

    over length-ascending ranks i (ties broken by doc id — any tie
    order gives the same G since tied x are equal).

    Determinism: ranks and all sums are exact integers; the rank
    products ride DECIMAL(38,0) (i * x passes 2^63 at corpus scale);
    one division for G, one per Lorenz point. Bit-replayable.

    Scale: one rank window over the (doc, length) frame (the
    documented exact-order pass — at 10^12 docs this is the standard
    distributed sort), decile cut by integer rank threshold. Output:
    (decile long, n_docs long, mass_share double, gini double —
    repeated per row), deciles 1..10 ascending.
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    toks = words(F.col(text_col))
    lens = docs.select(
        F.col("doc_id").cast("long").alias("_id"),
        F.size(toks).cast("long").alias("_x"),
    )
    w_rank = Window.orderBy(F.asc("_x"), F.asc("_id"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = lens.select(
        "_x",
        F.row_number().over(w_rank).cast("long").alias("_i"),
        F.count("*").over(w_all).cast("long").alias("_n"),
        F.sum("_x").over(w_all).cast("long").alias("_sx"),
    )
    gterm = (F.lit(2) * d19(F.col("_i")) - d19(F.col("_n")) - 1) * d19(F.col("_x"))
    w_cum = Window.orderBy("_i").rowsBetween(Window.unboundedPreceding, 0)
    cum = ranked.select(
        "_i",
        "_n",
        "_sx",
        gterm.alias("_g"),
        F.sum("_x").over(w_cum).cast("long").alias("_cx"),
    )
    gini_num = cum.agg(F.sum("_g").alias("_gn")).select(
        F.col("_gn").cast("decimal(38,0)").alias("_gn")
    )
    # decile cut: the largest rank <= ceil(d * n / 10)
    ddf = docs.sparkSession.range(1, int(n_deciles) + 1).select(
        F.col("id").cast("long").alias("decile")
    )
    marks = cum.crossJoin(F.broadcast(ddf)).where(
        F.col("_i") == F.floor(F.col("decile") * F.col("_n") / F.lit(int(n_deciles)))
    )
    out = marks.crossJoin(F.broadcast(gini_num))
    nd = F.col("_n").cast("double")
    sxd = F.col("_sx").cast("double")
    return out.select(
        "decile",
        F.col("_i").alias("n_docs"),
        F.when(F.col("_sx") > 0, F.col("_cx").cast("double") / sxd).alias(
            "mass_share"
        ),
        F.when(
            F.col("_sx") > 0, F.col("_gn").cast("double") / (nd * sxd)
        ).alias("gini"),
    )


def wau_overlap(events: DataFrame) -> DataFrame:
    """Week-over-week active-user accounting from the raw event log:
    for each consecutive week pair, retained / new / churned user
    counts, the retention rate, and the Jaccard of the two active
    sets — the growth-accounting decomposition
    (active_t = retained + new) that [[q_cohort_retention]] slices by
    signup cohort and this op gives corpus-wide per week.

    Determinism: active sets are exact distinct (week, user) rows;
    every count is an exact long from semi/anti-style joins; rates
    are single divisions. Bit-replayable.

    Scale: one distinct + one self-join keyed by user (the natural
    shuffle key; weeks-per-user is tiny), week pairs from adjacent
    calendar weeks present in the data. Output: (week_start, n_prev
    long, n_curr long, retained long, new_users long, churned long,
    retention double, jaccard double), one row per week with a
    predecessor, ascending.
    """
    p = events.select(
        F.date_trunc("week", F.col("ts")).alias("_w"),
        F.col("user_id").cast("long").alias("_u"),
    ).distinct()
    a = p.select(F.col("_w").alias("_wa"), "_u")
    b = p.select(F.col("_w").alias("_wb"), "_u")
    next_w = F.col("_wa") + F.expr("INTERVAL 7 DAYS")
    both = (
        a.join(b, "_u")
        .where(F.col("_wb") == next_w)
        .groupBy(F.col("_wb").alias("_w"))
        .agg(F.count("*").cast("long").alias("retained"))
    )
    per_week = p.groupBy("_w").agg(F.count("*").cast("long").alias("_n"))
    w_ord = Window.orderBy("_w")
    adj = per_week.select(
        "_w",
        "_n",
        F.lag("_w", 1).over(w_ord).alias("_pw"),
        F.lag("_n", 1).over(w_ord).alias("_pn"),
    ).where(
        F.col("_pw").isNotNull()
        & (F.col("_w") == F.col("_pw") + F.expr("INTERVAL 7 DAYS"))
    )
    j = adj.join(both, "_w", "left").select(
        F.col("_w").alias("week_start"),
        F.col("_pn").cast("long").alias("n_prev"),
        F.col("_n").cast("long").alias("n_curr"),
        F.coalesce(F.col("retained"), F.lit(0)).cast("long").alias("retained"),
    )
    new_u = F.col("n_curr") - F.col("retained")
    churned = F.col("n_prev") - F.col("retained")
    union = F.col("n_prev") + F.col("n_curr") - F.col("retained")
    return j.select(
        "week_start",
        "n_prev",
        "n_curr",
        "retained",
        new_u.alias("new_users"),
        churned.alias("churned"),
        F.when(
            F.col("n_prev") > 0,
            F.col("retained").cast("double") / F.col("n_prev").cast("double"),
        ).alias("retention"),
        F.when(
            union > 0, F.col("retained").cast("double") / union.cast("double")
        ).alias("jaccard"),
    )


def ht_estimate(
    docs: DataFrame,
    rate_num: int = 429496729,
    salt: str = "ht1",
    text_col: str = "text",
) -> DataFrame:
    """Horvitz-Thompson total estimation from the deterministic md5
    sample: estimate the corpus token total from the ~10% hash sample
    (inclusion iff md5 8-hex prefix < rate_num of 16^8) and report
    the error against the exact total — the calibration check that
    says whether hash-sampled corpus statistics ([[hash_sample]]-style
    pipelines) can be trusted at this corpus size:

        HT = sum_{sampled} x_i / p,  p = rate_num / 16^8   (exact)

    Determinism: inclusion is the exact salted-md5 prefix compare
    (the [[split_expr]] mechanics); sums exact longs; p is an exact
    dyadic rational; estimate and error are fixed chains.
    Bit-replayable.

    Output one row: (n_docs long, n_sampled long, exact_tokens long,
    ht_tokens double, err_pct double — NULL when nothing sampled).
    """
    toks = words(F.col(text_col))
    h8 = F.substring(
        F.md5(F.concat(F.lit(salt), F.lit("|"), F.col("doc_id").cast("string"))),
        1,
        8,
    )
    # rate_num >= 16^8 formats to 9 hex chars which string-compares
    # BELOW most 8-char prefixes (the split_expr 9-char bug) — the
    # 'gggggggg' sentinel sorts above every hex string = keep-all
    thr = "gggggggg" if int(rate_num) >= 16**8 else format(int(rate_num), "08x")
    base = docs.select(
        F.size(toks).cast("long").alias("_n"), (h8 < F.lit(thr)).alias("_in")
    )
    g = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("_in"), 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.sum("_n").cast("long").alias("exact_tokens"),
        F.sum(F.when(F.col("_in"), F.col("_n"))).cast("long").alias("_st"),
    )
    p = float(rate_num) / float(16**8)
    ht = F.col("_st").cast("double") / F.lit(p)
    err = (ht - F.col("exact_tokens").cast("double")) / F.col(
        "exact_tokens"
    ).cast("double") * F.lit(100.0)
    ok = F.col("n_sampled") > 0
    return g.select(
        "n_docs",
        "n_sampled",
        "exact_tokens",
        F.when(ok, ht).alias("ht_tokens"),
        F.when(ok & (F.col("exact_tokens") > 0), err).alias("err_pct"),
    )


def content_manifest(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content-addressable corpus manifest: per source, the document
    count, total token mass, and an ORDER-FREE content digest (the
    sum mod 2^61-1 of each document's md5-prefix integer, id-salted)
    — two corpus snapshots with equal digests hold identical
    (doc_id, text) multisets per source, so a reproduction run can
    assert provenance in one tiny table instead of re-diffing
    10^12 rows ([[q_snapshot_diff]] finds WHICH rows changed; this op
    asserts WHETHER anything did).

    Determinism: the digest is a commutative exact-integer sum of
    exact md5 prefixes — identical under any partitioning; counts
    exact. Bit-replayable.

    Output: (source, n_docs long, n_tokens long, digest long), one
    row per source, plus one '<corpus>' row summing all sources
    (digest mod-summed the same way).
    """
    P = (1 << 61) - 1
    toks = words(F.col(text_col))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col(text_col))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    base = docs.select(
        F.col("source").alias("_s"),
        F.size(toks).cast("long").alias("_n"),
        F.pmod(h, F.lit(P)).alias("_h"),
    )
    # the mod-sum rides DECIMAL(38,0): 2^61-sized terms overflow a
    # long after a handful of rows; decimal headroom is ~1e38
    dsum = lambda: F.pmod(  # noqa: E731
        F.sum(F.col("_h").cast("decimal(38,0)")), F.lit(P).cast("decimal(38,0)")
    ).cast("long")
    per = base.groupBy("_s").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_n").cast("long").alias("n_tokens"),
        dsum().alias("digest"),
    )
    corpus = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_n").cast("long").alias("n_tokens"),
        dsum().alias("digest"),
    ).select(F.lit("<corpus>").alias("_s"), "n_docs", "n_tokens", "digest")
    return per.unionByName(corpus).select(
        F.col("_s").alias("source"), "n_docs", "n_tokens", "digest"
    )


def mix_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Source-mix diversity: the Shannon entropy of the source
    distribution and its exponential (the EFFECTIVE source count —
    'this corpus behaves like N equal sources'), computed over both
    document counts and token mass — the one-row diversity summary
    beside [[source_temperature]]'s full remix table (a mix whose
    effective count collapsed from 20 to 3 after filtering lost its
    diversity even if all 20 sources still appear).

    Determinism: counts exact; entropies are ``exprs.ordered_sums`` by source;
    exp is one fixed op. Bit-replayable.

    Output one row: (n_sources long, h_docs, eff_docs, h_tokens,
    eff_tokens doubles).
    """
    toks = words(F.col(text_col))
    per = docs.groupBy(F.col("source").alias("_s")).agg(
        F.count("*").cast("long").alias("_d"),
        F.sum(F.size(toks)).cast("long").alias("_t"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    withn = per.select(
        "_s",
        "_d",
        "_t",
        F.sum("_d").over(w_all).cast("long").alias("_nd"),
        F.sum("_t").over(w_all).cast("long").alias("_nt"),
    )
    pd_ = F.col("_d").cast("double") / F.col("_nd").cast("double")
    pt_ = F.col("_t").cast("double") / F.col("_nt").cast("double")
    g = withn.agg(
        F.count("*").cast("long").alias("n_sources"),
        *ordered_sums(
            ["_s"],
            _hd=F.when(pd_ > 0, pd_ * F.log(pd_)).otherwise(F.lit(0.0)),
            _ht=F.when(pt_ > 0, pt_ * F.log(pt_)).otherwise(F.lit(0.0)),
        ),
    )
    hd, ht = -F.col("_hd"), -F.col("_ht")
    return g.select(
        "n_sources",
        hd.alias("h_docs"),
        F.exp(hd).alias("eff_docs"),
        ht.alias("h_tokens"),
        F.exp(ht).alias("eff_tokens"),
    )
