"""Leakage-safe categorical encodings over the turn signal.

The classical feature-engineering encoders a training pipeline applies
to a categorical column before model fitting: leave-one-out target
encoding (each row gets its category's mean signal EXCLUDING itself, so
the encoding never reads the row's own target — Micci-Barreca, SIGKDD
Explorations 2001), its m-estimate smoothed variant (shrinks sparse
categories toward the global prior), and weight-of-evidence / IV
scoring (the credit-scoring standard for ranking categorical features
against a binary target).

Scale shape: every encoder here is a two-pass broadcast pattern — one
map-side-combined aggregate over the category key (output is
|categories| rows, trivially broadcastable) joined or folded back, so
there is NO window over a category partition (a per-category window
would put all of one category in a single task — the low-cardinality
skew trap this module exists to avoid at 10^12 turns). The per-category
sufficient statistics are exact long integers for integer-valued
signals, and every derived feature is a fixed chain of single IEEE
float ops — so the SQL oracles replay each encoder bit-for-bit.

The complementary WITHIN-conversation expanding (past-only) encoding
lives in sessionize.with_expanding_target_encoding; this module is the
global, cross-conversation form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .drift import two_class_ecdf
from .exprs import chain, ordered_sums, running_counts, value_at_rank


def with_loo_target_encoding(
    df: DataFrame,
    key_col: str = "role",
    signal_col: str = "signal",
    smoothing: float = 10.0,
) -> DataFrame:
    """Leave-one-out target encoding with an m-estimate smoothed
    companion: for each row, over all OTHER rows of the same key,

        te_loo    = (S_k - x_i) / (n_k - 1)
        te_smooth = (S_k - x_i + m * prior) / (n_k - 1 + m)

    where S_k / n_k are the key's non-NULL signal sum/count, prior is
    the global mean signal, and m = ``smoothing``. Excluding the row's
    own target is what makes the encoding usable as a model feature
    (the naive per-category mean leaks each row's own label into its
    feature; the expanding form in sessionize is the stricter
    time-ordered variant — this one is the standard i.i.d.-setting
    encoder).

    Plan shape: one aggregate to |keys| rows, one single-row global
    aggregate, both joined back via broadcast — zero windows, zero
    skew, one narrow pass over the input. Exact long sums (integer
    signal contract) + fixed single-op float chains = bit-replayable.

    NULL-signal rows subtract nothing and divide by the full n_k;
    te_loo is NULL when no OTHER same-key signal exists (n_other = 0).

    Adds: n_other long, te_loo double, te_smooth double.
    """
    xl = F.col(signal_col).cast("long")
    stats = df.groupBy(key_col).agg(
        F.count(xl).alias("_nk"),
        F.sum(xl).alias("_sk"),
    )
    glob = stats.agg(
        F.sum("_nk").alias("_na"),
        F.sum("_sk").alias("_sa"),
    )
    joined = df.join(F.broadcast(stats), key_col, "left").join(
        F.broadcast(glob)
    )
    own = F.when(xl.isNotNull(), xl).otherwise(F.lit(0))
    n_other = F.col("_nk") - xl.isNotNull().cast("long")
    s_other = (F.col("_sk") - own).cast("double")
    prior = F.col("_sa").cast("double") / F.col("_na").cast("double")
    m = F.lit(float(smoothing))
    te_loo = F.when(n_other > 0, s_other / n_other.cast("double"))
    te_smooth = F.when(
        (n_other.cast("double") + m) > 0,
        (s_other + m * prior) / (n_other.cast("double") + m),
    )
    return (
        joined.withColumn("n_other", F.coalesce(n_other, F.lit(0)).cast("long"))
        .withColumn("te_loo", te_loo)
        .withColumn("te_smooth", te_smooth)
        .drop("_nk", "_sk", "_na", "_sa")
    )


def woe_iv(
    df: DataFrame,
    threshold: float = 5.0,
    signal_col: str = "signal",
    key_col: str = "role",
    keys: tuple = ("assistant", "system", "tool", "user"),
) -> DataFrame:
    """Weight of evidence per category and the feature's information
    value against the binary target ``signal >= threshold``:

        woe_k = ln( (g_k / G) / (b_k / B) )
        iv    = sum_k (g_k / G - b_k / B) * woe_k

    (g_k / b_k = the category's target-positive / target-negative
    counts, G / B the totals over the listed keys). IV is the standard
    screen for whether a categorical column carries any signal at all
    (< 0.02 useless, > 0.5 suspicious — Siddiqi, Credit Risk
    Scorecards 2006).

    Scale + determinism shape: ONE aggregation pass computes all
    2 x |keys| conditional counts map-side (single output row);
    totals are fixed left-folds of those counts, woe is two divisions
    and one ln per category, and iv is a FIXED-ORDER term chain over
    the known key list (categories with a zero count contribute 0 and
    get woe = NULL) — exact integers in, single-op float chains out,
    so the SQL oracle replays both bit-for-bit.

    NULL signals are excluded; rows whose key is not in ``keys`` are
    excluded (list the full category set, or pre-bucket the tail into
    an 'other' key — an unbounded category set would need the
    two-pass broadcast pattern of with_loo_target_encoding instead).

    Output: one row per key — (key_col, n_good long, n_bad long,
    woe double, iv double; iv is the feature-level scalar, repeated).
    """
    x = F.col(signal_col).cast("double")
    good = x >= F.lit(float(threshold))
    aggs = []
    for k in keys:
        is_k = F.col(key_col) == k
        aggs.append(F.count(F.when(is_k & good, 1)).alias(f"_g_{k}"))
        aggs.append(F.count(F.when(is_k & ~good, 1)).alias(f"_b_{k}"))
    g = df.where(x.isNotNull()).agg(*aggs)

    G = chain([F.col(f"_g_{k}") for k in keys]).cast("double")
    B = chain([F.col(f"_b_{k}") for k in keys]).cast("double")
    woe_exprs, iv_terms = {}, []
    for k in keys:
        gk = F.col(f"_g_{k}").cast("double")
        bk = F.col(f"_b_{k}").cast("double")
        both = (gk > 0) & (bk > 0)
        woe = F.log((gk / G) / (bk / B))
        woe_exprs[k] = F.when(both, woe)
        iv_terms.append(
            F.when(both, (gk / G - bk / B) * woe).otherwise(F.lit(0.0))
        )
    iv = chain(iv_terms)
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("key"),
                F.col(f"_g_{k}").cast("long").alias("n_good"),
                F.col(f"_b_{k}").cast("long").alias("n_bad"),
                woe_exprs[k].alias("woe"),
            )
            for k in keys
        ]
    )
    return g.select(iv.alias("iv"), F.explode(rows).alias("r")).select(
        F.col("r.key").alias(key_col),
        F.col("r.n_good").alias("n_good"),
        F.col("r.n_bad").alias("n_bad"),
        F.col("r.woe").alias("woe"),
        F.col("iv").alias("iv"),
    )


def count_frequency_encode(
    df: DataFrame,
    cat_col: str = "source",
    min_count: int = 5,
) -> DataFrame:
    """Count / frequency encoding of a categorical column plus a dense
    popularity rank and a rare-category flag — the zero-leakage encoders
    every tabular pipeline starts with (target-free, so unlike the
    target encoders in this module they need no leave-one-out guard):

      cat_count  — rows in the category (exact long)
      cat_freq   — cat_count / N (one division)
      cat_logc   — ln(1 + cat_count) (count de-skewed, one log)
      cat_rank   — dense rank by count DESC, category ASC on ties
                   (deterministic: equal-count categories rank by name)
      is_rare    — cat_count < min_count (hash-bucket candidates)

    Scale shape: one map-side-combined aggregate to |categories| rows;
    the rank window runs on THAT compacted frame only (never on the
    input — the module-doc category-skew rule), and the encoded frame
    broadcasts back onto the input. N rides the same compacted frame as
    an exact integer sum, so no second pass over the data exists.

    Output: input columns + the five encodings.
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(cat_col)).agg(
        F.count("*").cast("long").alias("cat_count")
    )
    # the compacted frame is |categories| rows — a global window here is
    # bounded by the category cardinality, not the data. The total-count
    # sum shares the rank's (partition, order) spec with a full frame so
    # Catalyst emits ONE Window node.
    w = Window.orderBy(F.col("cat_count").desc(), F.col(cat_col).asc())
    tot = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    enc = counts.select(
        cat_col,
        "cat_count",
        (
            F.col("cat_count").cast("double")
            / F.sum("cat_count").over(tot).cast("double")
        ).alias("cat_freq"),
        F.log(F.lit(1.0) + F.col("cat_count").cast("double")).alias("cat_logc"),
        F.dense_rank().over(w).cast("int").alias("cat_rank"),
        (F.col("cat_count") < F.lit(int(min_count))).alias("is_rare"),
    )
    # LEFT join: a NULL category never equi-matches, and the contract is
    # 'adds columns' — rows must pass through with NULL encodings, not
    # vanish (the quantile_transform convention)
    return df.join(F.broadcast(enc), cat_col, "left")


def value_quantiles(
    df: DataFrame,
    signal_col: str = "signal",
    probs: tuple = (0.25, 0.5, 0.75),
    group_col: str = "role",
) -> DataFrame:
    """Per-group exact quantile table on the COMPACTED value histogram:
    q_p = the smallest observed value whose cumulative count reaches
    p * n (``exprs.value_at_rank`` with the rank compared as a double),
    so ties collapse to one value and the answer is a pure function of
    the distribution, not of engine order.

    Scale shape: one (group, value) aggregate compacts the input to
    |groups| x |distinct values| rows; the cumulative window and the
    per-group fold run on THAT frame only — a percentile over raw rows
    would sort one mega-partition per group. Probabilities are embedded
    as literal doubles, so the p * n comparison is the identical IEEE
    multiply in the SQL oracle.

    Output: (group_col, n long, q_<p> double ...) — one row per group,
    ``q_<p>`` the digits of p after the point (``q_25`` for 0.25,
    ``q_0`` for 0.0 and for 1.0); two probabilities that give one name
    raise ValueError.
    """
    named = {}
    for p in probs:
        name = f"q_{str(p).replace('.', '')[1:] or '0'}"
        if name in named:
            raise ValueError(
                f"value_quantiles: probabilities {named[name]} and {p} both name column {name}"
            )
        named[name] = p
    return _quantile_table(df, signal_col, named, group_col)


def _quantile_table(df: DataFrame, signal_col: str, named: dict, group_col: str) -> DataFrame:
    """:func:`value_quantiles` with the output column named by ``named``'s keys."""
    x = F.col(signal_col).cast("double")
    hist = (
        df.where(x.isNotNull())
        .groupBy(F.col(group_col), x.alias("_val"))
        .agg(F.count("*").cast("long").alias("_c"))
    )
    n = F.col("_n").cast("double")
    return running_counts(hist, [group_col], "_val", "_c").groupBy(group_col).agg(
        F.max("_n").cast("long").alias("n"),
        *[value_at_rank("_val", n * F.lit(float(p))).alias(k) for k, p in named.items()],
    )


def winsorize(
    df: DataFrame,
    signal_col: str = "signal",
    lower: float = 0.05,
    upper: float = 0.95,
    group_col: str = "role",
) -> DataFrame:
    """Per-group winsorization (percentile clipping): values below the
    lower value-cutoff rise to it, values above the upper cutoff fall to
    it — the outlier guard a feature pipeline applies before scaling.
    Cutoffs are :func:`value_quantiles`' (computed by the same builder),
    so the clip bounds are deterministic and the one-row-per-group
    cutoff frame broadcasts back onto the input.

    Adds: <signal_col>_w double (clipped), plus _lo/_hi bound columns.
    """
    q = _quantile_table(df, signal_col, {"_lo": lower, "_hi": upper}, group_col)
    cuts = q.select(group_col, "_lo", "_hi")
    x = F.col(signal_col).cast("double")
    # LEFT join (the 'adds columns' contract): rows whose group has no
    # cutoffs — NULL group, or all-NULL signals — keep their value
    # unclipped instead of vanishing
    return df.join(F.broadcast(cuts), group_col, "left").withColumn(
        f"{signal_col}_w",
        F.when(
            F.col("_lo").isNotNull() & F.col("_hi").isNotNull(),
            F.least(F.greatest(x, F.col("_lo")), F.col("_hi")),
        ).otherwise(x),
    )


def with_feature_cross(
    df: DataFrame,
    cols: tuple = ("role", "tool"),
    n_buckets: int = 1024,
    salt: str = "x1",
    out: str = "cross_bucket",
) -> DataFrame:
    """Hashing-trick feature cross: the categorical interaction
    feature (col_a x col_b x ...) mapped to a fixed bucket space — the
    standard way to feed pairwise category interactions to a linear
    model without materializing the cross-product vocabulary (Weinberger
    et al., ICML 2009).

    Engine-portable hash (the hash_sample/hashed_embedding convention):
    salted md5 of the '|'-joined values, first 8 hex digits as an
    integer, modulo n_buckets — no engine-specific hash function, so
    the SQL oracle replays buckets exactly. NULL components fold to the
    literal '<null>' so (NULL, x) and ('<null>', x) collide only if the
    user actually uses that sentinel.

    Adds: <out> int — a pure narrow expression, zero shuffle.
    """
    key = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in cols]
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.lit("|"), key)), 1, 8), 16, 10
    ).cast("long")
    return df.withColumn(out, (h % F.lit(int(n_buckets))).cast("int"))


def calibration_bins(
    df: DataFrame,
    prob_col: str = "prob",
    label_col: str = "label_true",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability (calibration) table for a probabilistic classifier:
    rows bucket by predicted probability into ``n_bins`` equal-width
    bins; each bin reports its observed positive rate vs its mean
    confidence, plus the expected calibration error

        ECE = sum_b (n_b / N) * |acc_b - conf_b|

    (Naeini et al., AAAI 2015) — the screen that catches a quality
    classifier whose scores stopped meaning probabilities after a
    corpus shift.

    Determinism shape: the bin index floors the 6dp-ROUNDED probability
    (both engines agree on the rounded value by the engine-wide r6
    convention); per-bin counts and positives are exact integers; the
    mean confidence sums c * prob6 (``exprs.ordered_sums``) over the compacted
    (bin, prob6) histogram — the ordered-fold parity idiom, bounded by
    distinct 6dp scores, never a raw-row float sum. ECE is a fixed
    n_bins-term chain. All bit-replayable.

    Output: (bin int, n long, n_pos long, acc double, conf double,
    gap double, ece double — the feature-level scalar, repeated).
    """
    p6 = F.round(F.col(prob_col).cast("double"), 6)
    b = F.least(
        F.floor(p6 * F.lit(float(n_bins))).cast("int"), F.lit(int(n_bins) - 1)
    )
    hist = df.groupBy(b.alias("bin"), p6.alias("_p6")).agg(
        F.count("*").cast("long").alias("_c"),
        F.count(F.when(F.col(label_col).cast("boolean"), 1))
        .cast("long")
        .alias("_pos"),
    )
    per_bin = hist.groupBy("bin").agg(
        F.sum("_c").cast("long").alias("n"),
        F.sum("_pos").cast("long").alias("n_pos"),
        *ordered_sums(["_p6"], _conf_sum=F.col("_c").cast("double") * F.col("_p6")),
    )
    per_bin = per_bin.select(
        "bin",
        "n",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias("acc"),
        (F.col("_conf_sum") / F.col("n").cast("double")).alias("conf"),
    ).withColumn("gap", F.abs(F.col("acc") - F.col("conf")))
    # ECE: ordered fold over the bin-sorted (n, gap) list on the
    # <= n_bins-row frame — one single-row aggregate, N an exact integer
    ece = per_bin.groupBy().agg(
        F.sum("n").cast("long").alias("_N"),
        F.sort_array(F.collect_list(F.struct("bin", "n", "gap"))).alias("_bins"),
    )
    # kept as a fold: each term reads the total _N, known only after the
    # collect
    ece_val = F.aggregate(
        F.col("_bins"),
        F.lit(0.0),
        lambda a, s: a
        + (s["n"].cast("double") / F.col("_N").cast("double")) * s["gap"],
    )
    ece = ece.select(ece_val.alias("ece"))
    return per_bin.join(F.broadcast(ece))


def with_kfold_target_encoding(
    df: DataFrame,
    key_col: str = "role",
    signal_col: str = "signal",
    k: int = 5,
    salt: str = "f1",
    smoothing: float = 10.0,
) -> DataFrame:
    """K-fold out-of-fold target encoding: each row's fold comes from a
    deterministic salted-md5 hash of its conversation (whole
    conversations share a fold — the grouped assignment that stops
    intra-conversation leakage), and its encoding is the category mean
    computed from the OTHER folds only:

        te_oof = (S_key - S_key_fold) / (n_key - n_key_fold)
        te_oof_smooth adds the m-estimate prior like the LOO encoder.

    This is the standard CV-consistent encoder (leave-one-out is its
    k=n limit; expanding is its time-ordered cousin — the three cover
    the i.i.d./CV/temporal regimes).

    Scale + determinism shape: ONE aggregate over (key, fold) —
    |keys| x k rows — then the per-key totals fold from those same rows
    (a second tiny aggregate), both broadcast back; exact long sums,
    fixed float chains, engine-portable fold hash (md5 — the
    hash_split convention). No window anywhere.

    Adds: fold int, n_oof long, te_oof double, te_oof_smooth double.
    """
    xl = F.col(signal_col).cast("long")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.lit("|"), F.col("conv_id"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % k
    ).cast("int")
    base = df.withColumn("fold", fold)
    per_kf = base.groupBy(key_col, "fold").agg(
        F.count(xl).alias("_nkf"), F.coalesce(F.sum(xl), F.lit(0)).alias("_skf")
    )
    per_k = per_kf.groupBy(key_col).agg(
        F.sum("_nkf").alias("_nk"), F.sum("_skf").alias("_sk")
    )
    glob = per_k.agg(F.sum("_nk").alias("_na"), F.sum("_sk").alias("_sa"))
    joined = (
        base.join(F.broadcast(per_kf), [key_col, "fold"], "left")
        .join(F.broadcast(per_k), key_col, "left")
        .join(F.broadcast(glob))
    )
    n_oof = F.col("_nk") - F.col("_nkf")
    s_oof = (F.col("_sk") - F.col("_skf")).cast("double")
    prior = F.col("_sa").cast("double") / F.col("_na").cast("double")
    m = F.lit(float(smoothing))
    te = F.when(n_oof > 0, s_oof / n_oof.cast("double"))
    te_s = F.when(
        (n_oof.cast("double") + m) > 0, (s_oof + m * prior) / (n_oof.cast("double") + m)
    )
    return (
        joined.withColumn("n_oof", F.coalesce(n_oof, F.lit(0)).cast("long"))
        .withColumn("te_oof", te)
        .withColumn("te_oof_smooth", te_s)
        .drop("_nkf", "_skf", "_nk", "_sk", "_na", "_sa")
    )


def quantile_transform(
    df: DataFrame,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Global (per-group) quantile transform: map each value to its
    midrank ECDF position u = (2*cum - c) / (2*n) in (0, 1) — the
    uniformizing transform that makes downstream thresholds
    distribution-free (sessionize.with_rank_normalize is the
    within-conversation cousin; this is the cross-corpus form a model
    feature actually uses).

    Ties share one u (midrank), so the mapping is a pure function of
    the distribution. Scale shape: the ECDF lives on the compacted
    (group, value) histogram — cum/count windows never touch the raw
    frame — and maps back via broadcast of the |groups| x |values|
    table. Exact integers, one division.

    Adds: u double (NULL signals pass through as NULL).
    """
    from pyspark.sql import Window

    x = F.col(signal_col).cast("double")
    hist = (
        df.where(x.isNotNull())
        .groupBy(F.col(group_col), x.alias("_val"))
        .agg(F.count("*").cast("long").alias("_c"))
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("_val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(group_col)
    ecdf = hist.select(
        F.col(group_col).alias("_g"),
        "_val",
        (
            (F.lit(2) * F.sum("_c").over(w_cum) - F.col("_c")).cast("double")
            / (F.lit(2) * F.sum("_c").over(w_all)).cast("double")
        ).alias("u"),
    )
    return df.join(
        F.broadcast(ecdf),
        (F.col(group_col) == F.col("_g")) & (x == F.col("_val")),
        "left",
    ).drop("_g", "_val")


def isotonic_fit(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Per-conversation isotonic regression (non-decreasing L2 fit) of
    the integer-valued signal against the stable turn order — the
    calibration workhorse (Zadrozny & Elkan 2002): the monotone trend a
    conversation's signal "should" follow, with every local dip pooled
    away. The residual against the fit is a drift/oscillation feature;
    fitting scores against outcomes is the nonparametric calibrator
    behind [[calibration_bins]]'s binned ECE.

    Algorithm: pool-adjacent-violators (PAVA), run per conversation
    inside the engine's one grouped-kernel primitive
    (skew.map_conversations: conversations are hash-bucketed so one
    kernel call serves many, never one window per conv). Each pooled
    block keeps EXACT integer (sum, count) moments; violator comparisons use
    integer cross-multiplication (sum_a * cnt_b vs sum_b * cnt_a), so
    no float enters until each block's single final division.

    Oracle parity (why a SQL oracle can replay a sequential algorithm):
    PAVA's fit admits the closed min-max form

        fit_i = max_{j <= i} min_{k >= i} mean(x_j..x_k)

    (Ayer et al. 1955). Means are ratios of small exact integers
    (q <= conversation length), so distinct rationals differ by
    >= 1/(n^2) — far above double ulp — and IEEE division is monotone:
    double-min/max over the candidate means equals the double of the
    rational min/max, which equals PAVA's pooled block mean exactly.
    The O(n^2)-per-conversation oracle is gate-scale only; the engine
    kernel is O(n) per conversation.

    Output: one row per turn (conv_id, turn_idx int, ts_us long, x long,
    iso_fit double) — iso_fit non-decreasing within each conversation.
    """
    import numpy as np
    from pyspark.sql import types as T

    from .skew import map_conversations

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts_us", T.LongType(), False),
            T.StructField("x", T.LongType(), False),
            T.StructField("iso_fit", T.DoubleType(), True),
        ]
    )

    def kernel(cols: dict, starts, ends) -> dict:
        x = cols[signal_col].astype(np.int64, copy=False)
        fit = np.empty(x.size, dtype=np.float64)
        for start, end in zip(starts, ends):
            # PAVA over x[start:end] with exact (sum, count) blocks
            sums: list[int] = []
            cnts: list[int] = []
            lens: list[int] = []
            for v in x[start:end]:
                sums.append(int(v))
                cnts.append(1)
                lens.append(1)
                # merge while the last block mean < the previous
                # block mean (exact integer cross-multiplication)
                while len(sums) > 1 and sums[-1] * cnts[-2] < sums[-2] * cnts[-1]:
                    sums[-2] += sums[-1]
                    cnts[-2] += cnts[-1]
                    lens[-2] += lens[-1]
                    sums.pop()
                    cnts.pop()
                    lens.pop()
            pos = start
            for s, c, ln in zip(sums, cnts, lens):
                fit[pos : pos + ln] = s / c  # the block's ONE division
                pos += ln
        return {
            "conv_id": cols["conv_id"],
            "turn_idx": cols["turn_idx"].astype("int32"),
            "ts_us": cols["ts"],
            "x": x,
            "iso_fit": fit,
        }

    src = df.where(F.col(signal_col).isNotNull()).select(
        "conv_id", "turn_idx", "ts", F.col(signal_col).cast("long").alias(signal_col)
    )
    return map_conversations(src, kernel, schema)


def confident_learning_noise(
    df: DataFrame,
    prob_col: str = "prob",
    label_col: str = "label_true",
) -> DataFrame:
    """Confident-learning label-noise estimate (Northcutt, Jiang & Chuang,
    JAIR 2021), binary form — data-centric AI's standard answer to "how
    many of my labels are wrong?": class-conditional confidence
    thresholds t_j = mean of p_j over examples LABELED j, then the
    confident joint C[y][y_hat] counts each example whose predicted
    class confidence clears that class's threshold; off-diagonal mass
    estimates the label error rate. The label-quality screen beside
    [[calibration_bins]]' probability-quality screen.

    Confident assignment (binary): with p1 = p6 and p0 = 1 - p6, an
    example votes y_hat = 1 if p1 >= t1 and (p0 < t0 or p1 >= 0.5),
    y_hat = 0 if p0 >= t0 and (p1 < t1 or p1 < 0.5), and abstains when
    neither threshold clears (the CL "unconfident" bucket — counted,
    not classified). The p1 >= 0.5 tie-break is the argmax rule with
    ties to the positive class, fixed so both engines agree.

    Determinism: thresholds sum score * count (``exprs.ordered_sums``) over the
    compacted (label, prob6) histogram (the [[calibration_bins]]
    ordered-fold idiom — bounded by distinct 6dp scores); all joint
    counts are exact longs; the only other floats are two threshold
    divisions and the final rates.

    Output one row: (n long, n_confident long, t_pos, t_neg doubles,
    c00, c01, c10, c11 longs — C[label][y_hat], noise_rate double =
    (c01 + c10) / n_confident, NULL when no example is confident).
    """
    p6 = F.round(F.col(prob_col).cast("double"), 6)
    y = F.col(label_col).cast("boolean")
    hist = df.groupBy(y.alias("_y"), p6.alias("_p")).agg(
        F.count("*").cast("long").alias("_c")
    )
    score = F.when(F.col("_y"), F.col("_p")).otherwise(F.lit(1.0) - F.col("_p"))
    th = hist.select("_y", score.alias("_s"), "_c").groupBy("_y").agg(
        F.sum("_c").cast("long").alias("_n"),
        *ordered_sums(["_s", "_c"], _cs=F.col("_c").cast("double") * F.col("_s")),
    )
    tmean = F.col("_cs") / F.col("_n").cast("double")
    th = th.select("_y", tmean.alias("_t"))
    trow = (
        th.groupBy()
        .agg(
            F.max(F.when(F.col("_y"), F.col("_t"))).alias("t_pos"),
            F.max(F.when(~F.col("_y"), F.col("_t"))).alias("t_neg"),
        )
    )
    j = hist.crossJoin(F.broadcast(trow))
    p1, p0 = F.col("_p"), F.lit(1.0) - F.col("_p")
    pass1 = p1 >= F.col("t_pos")
    pass0 = p0 >= F.col("t_neg")
    yhat = (
        F.when(pass1 & (~pass0 | (p1 >= 0.5)), F.lit(1))
        .when(pass0 & (~pass1 | (p1 < 0.5)), F.lit(0))
        .otherwise(F.lit(None).cast("int"))
    )
    lab = F.when(F.col("_y"), 1).otherwise(0)
    cells = j.select(lab.alias("_l"), yhat.alias("_h"), "_c", "t_pos", "t_neg")
    out = cells.groupBy().agg(
        F.sum("_c").cast("long").alias("n"),
        F.sum(F.when(F.col("_h").isNotNull(), F.col("_c")).otherwise(0))
        .cast("long")
        .alias("n_confident"),
        F.max("t_pos").alias("t_pos"),
        F.max("t_neg").alias("t_neg"),
        *[
            F.sum(
                F.when((F.col("_l") == l) & (F.col("_h") == h), F.col("_c")).otherwise(0)
            )
            .cast("long")
            .alias(f"c{l}{h}")
            for l in (0, 1)
            for h in (0, 1)
        ],
    )
    noise = F.when(
        F.col("n_confident") > 0,
        (F.col("c01") + F.col("c10")).cast("double")
        / F.col("n_confident").cast("double"),
    )
    return out.select(
        "n", "n_confident", "t_pos", "t_neg",
        "c00", "c01", "c10", "c11",
        noise.alias("noise_rate"),
    )


def gini_stump(
    df: DataFrame,
    feature_col: str = "n_chars",
    label_col: str = "label_true",
) -> DataFrame:
    """Optimal 1-D decision stump by Gini impurity — CART's root-node
    split (Breiman et al. 1984) used here as SUPERVISED binning: the
    single threshold t on a numeric feature that best separates a
    binary label ("x <= t" goes left). The monotone-binning complement
    to [[woe_iv]]'s fixed buckets, and the feature screen that ranks
    candidate curation signals by their best achievable split gain.

    For every candidate threshold (each distinct feature value except
    the largest), with exact long counts (nL, n1L) from a cumulative
    fold over the value-sorted compacted histogram:

        gini(n1, n) = 1 - (n1/n)^2 - ((n-n1)/n)^2
        split(t)    = nL/N gini_L + nR/N gini_R
        gain        = gini_root - split(t_best)

    Determinism: candidate stats are exact longs from ONE value-ordered
    cumulative window over the per-value histogram (bounded by distinct
    feature values, not rows); each impurity is a fixed float chain;
    the argmin orders by (split ASC, threshold ASC) — a total order, so
    ties pick the smallest threshold in both engines bit-for-bit.

    Scale: groupBy(feature) map-side combines to the distinct-value
    histogram; the window runs over that compacted frame. At 10^12 rows
    with a wide-domain feature, pre-bucket the feature (the histogram
    IS the interface — any compaction upstream composes).

    Output one row: (threshold long, n long, n_pos long, n_left,
    n1_left, n_right, n1_right long, gini_root, gini_split, gain
    double).
    """
    x = F.col(feature_col).cast("long")
    y = F.col(label_col).cast("boolean")
    h = two_class_ecdf(df.where(x.isNotNull() & y.isNotNull()), x, y)
    nl, n1l = F.col("_ca") + F.col("_cb"), F.col("_ca")
    nt, n1t = F.col("_na") + F.col("_nb"), F.col("_na")
    # every histogram row holds at least one row, so a value is below the
    # largest exactly when the pooled running count is short of the total
    c = h.where(nl < nt)

    def _gini(n1: F.Column, n: F.Column) -> F.Column:
        p1 = n1.cast("double") / n.cast("double")
        p0 = (n - n1).cast("double") / n.cast("double")
        return F.lit(1.0) - p1 * p1 - p0 * p0

    nr = nt - nl
    n1r = n1t - n1l
    split = (
        nl.cast("double") / nt.cast("double") * _gini(n1l, nl)
        + nr.cast("double") / nt.cast("double") * _gini(n1r, nr)
    )
    cand = c.select(
        F.col("_val").alias("threshold"),
        nt.alias("n"),
        n1t.alias("n_pos"),
        nl.alias("n_left"),
        n1l.alias("n1_left"),
        nr.cast("long").alias("n_right"),
        n1r.cast("long").alias("n1_right"),
        _gini(n1t, nt).alias("gini_root"),
        split.alias("gini_split"),
    )
    best = cand.orderBy(F.col("gini_split").asc(), F.col("threshold").asc()).limit(1)
    return best.withColumn(
        "gain", F.col("gini_root") - F.col("gini_split")
    )


def brier_decomposition(
    df: DataFrame,
    prob_col: str = "prob",
    label_col: str = "label_true",
    n_bins: int = 10,
) -> DataFrame:
    """Brier score with Murphy's (1973) three-way decomposition over
    the ``n_bins`` reliability binning:

        brier = mean (p - y)^2                       (exact, unbinned)
        REL   = sum_b (n_b/N) (conf_b - acc_b)^2     (reliability)
        RES   = sum_b (n_b/N) (acc_b - ybar)^2       (resolution)
        UNC   = ybar (1 - ybar)                      (uncertainty)

    with REL - RES + UNC equal to the brier score computed from
    bin-mean forecasts (it differs from the exact brier by the
    within-bin forecast variance — both are emitted so the gap itself
    is a diagnostic: large gap = the binning hides forecast spread).
    The scalar companion to [[calibration_bins]]: ECE ranks miscalibration,
    REL/RES says whether the model is miscalibrated or merely
    uninformative — different fixes (recalibrate vs retrain).

    Determinism: the [[calibration_bins]] idiom throughout — the 6dp-
    rounded probability is the binning AND value key, per-(bin, p6)
    counts are exact longs, and every float reduction (sum p6^2,
    sum_{y=1} p6, per-bin conf, REL, RES) is an ordered fold over the
    sorted compacted histogram (all but REL and RES
    ``exprs.ordered_sums``) — bit-replayable in SQL.

    Output one row: (n, n_pos longs; brier, rel, res, unc,
    brier_binned = rel - res + unc doubles — NULL when N = 0).
    """
    p6 = F.round(F.col(prob_col).cast("double"), 6)
    b = F.least(
        F.floor(p6 * F.lit(float(n_bins))).cast("int"), F.lit(int(n_bins) - 1)
    )
    hist = df.groupBy(b.alias("_bin"), p6.alias("_p6")).agg(
        F.count("*").cast("long").alias("_c"),
        F.count(F.when(F.col(label_col).cast("boolean"), 1))
        .cast("long")
        .alias("_pos"),
    )
    per_bin = hist.groupBy("_bin").agg(
        F.sum("_c").cast("long").alias("_n"),
        F.sum("_pos").cast("long").alias("_npos"),
        *ordered_sums(
            ["_p6"],
            _conf_sum=F.col("_c").cast("double") * F.col("_p6"),
            _sum_p2=F.col("_c").cast("double") * (F.col("_p6") * F.col("_p6")),
            _sum_py=F.col("_pos").cast("double") * F.col("_p6"),
        ),
    )
    binned = per_bin.select(
        "_bin",
        "_n",
        "_npos",
        (F.col("_conf_sum") / F.col("_n").cast("double")).alias("_conf"),
        (F.col("_npos").cast("double") / F.col("_n").cast("double")).alias("_acc"),
        "_sum_p2",
        "_sum_py",
    )
    g = binned.groupBy().agg(
        F.sum("_n").cast("long").alias("n"),
        F.sum("_npos").cast("long").alias("n_pos"),
        F.sort_array(
            F.collect_list(F.struct("_bin", "_n", "_npos", "_conf", "_acc"))
        ).alias("_bins"),
        # the two corpus-level float sums fold over the <= n_bins rows in
        # bin order; each per-bin part was itself an ordered p6 fold
        *ordered_sums(["_bin"], _sum_p2=F.col("_sum_p2"), _sum_py=F.col("_sum_py")),
    )
    nd = F.col("n").cast("double")
    ybar = F.col("n_pos").cast("double") / nd
    sum_p2, sum_py = F.col("_sum_p2"), F.col("_sum_py")
    brier = (
        sum_p2 - F.lit(2.0) * sum_py + F.col("n_pos").cast("double")
    ) / nd
    # kept as folds: each REL / RES term reads N (and RES the base rate),
    # known only after the collect
    rel = F.aggregate(
        F.col("_bins"),
        F.lit(0.0),
        lambda a, s: a
        + (s["_n"].cast("double") / nd)
        * ((s["_conf"] - s["_acc"]) * (s["_conf"] - s["_acc"])),
    )
    res = F.aggregate(
        F.col("_bins"),
        F.lit(0.0),
        lambda a, s: a
        + (s["_n"].cast("double") / nd)
        * ((s["_acc"] - ybar) * (s["_acc"] - ybar)),
    )
    unc = ybar * (F.lit(1.0) - ybar)
    ok = F.col("n") > 0
    return g.select(
        "n",
        "n_pos",
        F.when(ok, brier).alias("brier"),
        F.when(ok, rel).alias("rel"),
        F.when(ok, res).alias("res"),
        F.when(ok, unc).alias("unc"),
        F.when(ok, rel - res + unc).alias("brier_binned"),
    )


def lift_curve(
    df: DataFrame,
    prob_col: str = "prob",
    label_col: str = "label_true",
    id_col: str = "doc_id",
    n_deciles: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table over score deciles — the
    targeting-efficiency report for a binary classifier ('if we act on
    the top 10% of scores, what share of all positives do we catch?'),
    the ranking complement to [[calibration_bins]] (probability
    meaning) and [[brier_decomposition]] (global skill):

        lift_d     = (cum_pos_d / cum_n_d) / (pos_total / N)
        capture_d  = cum_pos_d / pos_total

    Rows rank by the 6dp-rounded probability DESC with id-asc
    tie-break (fully deterministic order), then split into
    ``n_deciles`` equal row_number buckets (bucket = floor((rank-1) *
    D / N), sizes differ by at most one row).

    Determinism: the rank key and every count are exact (the r6-
    rounded score is the engine-wide cross-engine value contract);
    lift/capture are fixed chains over exact longs. Bit-replayable.

    Scale: one global sort of the SCORED frame (rank window) — the
    classic gains-table cost; at corpus scale feed it a score-sampled
    slice or raise n_deciles granularity on the compacted score
    histogram instead. Output: (decile long, n, n_pos, cum_n, cum_pos
    longs; lift, capture doubles), n_deciles rows ascending.
    """
    p6 = F.round(F.col(prob_col).cast("double"), 6)
    w = Window.orderBy(F.col("_p6").desc(), F.asc(id_col))
    ranked = df.select(F.col(id_col), p6.alias("_p6"), F.col(label_col)).withColumn(
        "_rk", F.row_number().over(w).cast("long")
    )
    tot = ranked.agg(
        F.count("*").cast("long").alias("_N"),
        F.count(F.when(F.col(label_col).cast("boolean"), 1))
        .cast("long")
        .alias("_P"),
    )
    from pyspark.sql.functions import broadcast

    rb = ranked.crossJoin(broadcast(tot))
    dec = F.floor(
        ((F.col("_rk") - F.lit(1)) * F.lit(n_deciles)).cast("double")
        / F.col("_N").cast("double")
    ).cast("long")
    per = rb.groupBy(dec.alias("decile")).agg(
        F.count("*").cast("long").alias("n"),
        F.count(F.when(F.col(label_col).cast("boolean"), 1))
        .cast("long")
        .alias("n_pos"),
        F.max("_N").alias("_N"),
        F.max("_P").alias("_P"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    out = per.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(w_cum).cast("long").alias("cum_n"),
        F.sum("n_pos").over(w_cum).cast("long").alias("cum_pos"),
        "_N",
        "_P",
    )
    lift = (
        F.col("cum_pos").cast("double") / F.col("cum_n").cast("double")
    ) / (F.col("_P").cast("double") / F.col("_N").cast("double"))
    return out.select(
        "decile",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        F.when(F.col("_P") > 0, lift).alias("lift"),
        F.when(
            F.col("_P") > 0,
            F.col("cum_pos").cast("double") / F.col("_P").cast("double"),
        ).alias("capture"),
    )


def confusion_stats(
    df: DataFrame,
    prob_col: str = "prob",
    label_col: str = "label_true",
    threshold: float = 0.5,
) -> DataFrame:
    """Thresholded confusion matrix + the derived scorecard (precision,
    recall, F1, accuracy, MCC) for a binary classifier — the
    operating-point report beside the threshold-free [[q_auc]] ranking
    view and [[calibration_bins]] probability view:

        MCC = (tp tn - fp fn) / sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn))

    Determinism: the four cells are exact longs (threshold compare on
    the 6dp-rounded probability — the engine-wide value contract);
    every derived metric is a fixed chain in DOUBLE space (the MCC
    numerator/denominator multiply as doubles so no long overflow at
    any corpus size). Bit-replayable.

    Scale: one map-side-combined 1-row aggregate. Output one row:
    (tp, fp, fn, tn longs; precision, recall, f1, accuracy, mcc
    doubles — NULL where the denominator margin is empty).
    """
    p6 = F.round(F.col(prob_col).cast("double"), 6)
    y = F.col(label_col).cast("boolean")
    pred = p6 >= F.lit(float(threshold))
    g = df.agg(
        F.sum(F.when(pred & y, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(pred & ~y, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~pred & y, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~pred & ~y, 1).otherwise(0)).cast("long").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    f1 = F.lit(2.0) * prec * rec / (prec + rec)
    acc = (tp + tn) / (tp + fp + fn + tn)
    denom = F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    mcc = (tp * tn - fp * fn) / denom
    return g.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(F.col("tp") + F.col("fp") > 0, prec).alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0, rec).alias("recall"),
        F.when(
            (F.col("tp") + F.col("fp") > 0)
            & (F.col("tp") + F.col("fn") > 0)
            & (F.col("tp") > 0),
            f1,
        ).alias("f1"),
        F.when(F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn") > 0, acc).alias(
            "accuracy"
        ),
        F.when(denom > 0, mcc).alias("mcc"),
    )


def score_ks(
    df: DataFrame,
    prob_col: str = "prob",
    label_col: str = "label_true",
) -> DataFrame:
    """Kolmogorov-Smirnov separation of the classifier's score
    distributions for positives vs negatives — the scorecard-quality
    number credit-risk practice quotes ('at what cutoff do the two
    classes separate most, and by how much?'), beside [[confusion_stats]]
    (one fixed threshold) and [[q_auc]] (all thresholds averaged):

        KS = max_s | F_pos(s) - F_neg(s) |

    Determinism: the argmax runs on the EXACT INTEGER key
    |cum_pos * N_neg - cum_neg * N_pos| over the compacted 6dp-score
    histogram (ties -> smallest score), so the chosen cutoff is
    engine-independent; KS is then one division. Bit-replayable.

    Scale: one (score, label) map-side-combined groupBy (score
    cardinality <= 1e6 after 6dp rounding), window cumsums on the
    compacted axis. Output one row: (n_pos, n_neg longs; ks double,
    at_score double — NULL when either class is empty).
    """
    p6 = F.round(F.col(prob_col).cast("double"), 6)
    cum = two_class_ecdf(df, p6, F.col(label_col).cast("boolean"))
    key = F.abs(F.col("_ca") * F.col("_nb") - F.col("_cb") * F.col("_na"))
    w_pick = Window.orderBy(key.desc(), F.asc("_val"))
    top = cum.withColumn("_rk", F.row_number().over(w_pick)).where(F.col("_rk") == 1)
    ks = key.cast("double") / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
    ok = (F.col("_na") > 0) & (F.col("_nb") > 0)
    return top.select(
        F.col("_na").alias("n_pos"),
        F.col("_nb").alias("n_neg"),
        F.when(ok, ks).alias("ks"),
        F.when(ok, F.col("_val")).alias("at_score"),
    )


def adjusted_rand(
    df: DataFrame,
    a_col: str = "lang",
    b_col: str = "source",
) -> DataFrame:
    """Pair-counting agreement between two labelings of the same rows —
    Rand index, Hubert-Arabie adjusted Rand, and Fowlkes-Mallows — the
    clustering-agreement scorecard (are sources language-segregated?
    does a cluster assignment recover the source partition?), beside
    the entropy view in [[vmeasure]] and the chance-corrected rater
    view in [[q_cohen_kappa]]:

        ARI = (X - AB/C) / ((A+B)/2 - AB/C)
        RI  = (C + 2X - A - B) / C
        FM  = X / sqrt(A * B)

    with X = sum_ij C(n_ij,2), A = sum_i C(a_i,2), B = sum_j C(b_j,2),
    C = C(n,2) over the contingency table n_ij.

    Determinism: all pair sums ride per-cell DECIMAL(19,0) products
    (x*(x-1) fits DECIMAL(38,0) to x ~ 1e19 — exact at any corpus
    size; the oracle mirrors with HUGEINT); each index is then one
    fixed DOUBLE chain on the exact sums (AB alone can pass 1e38 at
    10^12 rows, so the ratio runs in double space deliberately).
    NULL when a denominator degenerates (n < 2, or the chance
    correction's denominator is 0 — both labelings trivial).

    Scale: one (a, b) groupBy (|A|x|B| cells), two marginal rollups,
    three 1-row broadcasts. Output one row:
    (n long, rand, ari, fm doubles).
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    pair2 = lambda c: d19(c) * d19(c - F.lit(1))  # = 2*C(x,2), exact  # noqa: E731
    cells = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count("*").cast("long").alias("_n"))
    ra = cells.groupBy("_a").agg(F.sum("_n").cast("long").alias("_na"))
    rb = cells.groupBy("_b").agg(F.sum("_n").cast("long").alias("_nb"))
    x2 = cells.agg(
        F.sum(pair2(F.col("_n"))).alias("_x2"),
        F.sum("_n").cast("long").alias("_nn"),
    )
    a2 = ra.agg(F.sum(pair2(F.col("_na"))).alias("_a2"))
    b2 = rb.agg(F.sum(pair2(F.col("_nb"))).alias("_b2"))
    g = x2.crossJoin(F.broadcast(a2)).crossJoin(F.broadcast(b2))
    # halve the doubled pair sums in DOUBLE space (fixed chain)
    x = F.col("_x2").cast("double") / F.lit(2.0)
    a = F.col("_a2").cast("double") / F.lit(2.0)
    b = F.col("_b2").cast("double") / F.lit(2.0)
    nn = F.col("_nn")
    c = pair2(nn).cast("double") / F.lit(2.0)
    exp = a * b / c
    den = (a + b) / F.lit(2.0) - exp
    return g.select(
        nn.alias("n"),
        F.when(nn >= 2, (c + F.lit(2.0) * x - a - b) / c).alias("rand"),
        F.when((nn >= 2) & (den != 0), (x - exp) / den).alias("ari"),
        F.when((nn >= 2) & (a > 0) & (b > 0), x / F.sqrt(a * b)).alias("fm"),
    )


def vmeasure(
    df: DataFrame,
    a_col: str = "lang",
    b_col: str = "source",
) -> DataFrame:
    """Entropy view of two-labeling agreement (Rosenberg & Hirschberg
    2007): homogeneity (each b-cluster holds one a-class), completeness
    (each a-class sits in one b-cluster), their harmonic mean V, and
    sqrt-normalized mutual information — the complement to the
    pair-counting view in [[adjusted_rand]]:

        h = 1 - H(A|B)/H(A)    c = 1 - H(B|A)/H(B)
        V = 2hc/(h+c)          NMI = MI / sqrt(H(A) H(B))

    with H(A|B) = H(A,B) - H(B) and MI = H(A) + H(B) - H(A,B), all
    entropies in nats from the exact contingency counts.

    Determinism: counts are exact longs; each entropy is an ordered
    fold (marginals by label asc, the joint by (a, b) asc) of fixed
    -p*ln(p) terms, so the oracle replays the identical IEEE sequence.
    Convention: h = 1 when H(A) = 0 (trivial class set), c = 1 when
    H(B) = 0, V = 0 when h + c = 0 — sklearn's edge cases; NMI is NULL
    when either marginal entropy is 0.

    Scale: one (a, b) groupBy; fold state is |A|x|B| cells (label
    cardinality squared — bounded, never corpus-sized). Output one
    row: (n long, h_a, h_b, h_ab, mi, homogeneity, completeness,
    v, nmi doubles).
    """
    cells = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count("*").cast("long").alias("_n"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    withn = cells.withColumn("_nn", F.sum("_n").over(w_all).cast("long"))
    nd = F.col("_nn").cast("double")
    # joint entropy: fold ordered by (a, b)
    jterm = (F.col("_n").cast("double") / nd) * F.log(
        F.col("_n").cast("double") / nd
    )
    joint = withn.groupBy("_nn").agg(*ordered_sums(["_a", "_b"], _t=jterm))
    h_ab = -F.col("_t")
    # marginal entropies: fold ordered by label
    def _marg(col):
        m = cells.groupBy(col).agg(F.sum("_n").cast("long").alias("_m"))
        mn = m.withColumn("_nn", F.sum("_m").over(w_all).cast("long"))
        t = (F.col("_m").cast("double") / F.col("_nn").cast("double")) * F.log(
            F.col("_m").cast("double") / F.col("_nn").cast("double")
        )
        return mn.agg(*ordered_sums([col], _t=t)).select((-F.col("_t")).alias("_h"))

    ha = _marg("_a").select(F.col("_h").alias("_ha"))
    hb = _marg("_b").select(F.col("_h").alias("_hb"))
    g = (
        joint.select("_nn", h_ab.alias("_hab"))
        .crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
    )
    h_a, h_b, hab = F.col("_ha"), F.col("_hb"), F.col("_hab")
    mi = h_a + h_b - hab
    hom = F.when(h_a == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - (hab - h_b) / h_a
    )
    com = F.when(h_b == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - (hab - h_a) / h_b
    )
    v = F.when(hom + com == 0, F.lit(0.0)).otherwise(
        F.lit(2.0) * hom * com / (hom + com)
    )
    return g.select(
        F.col("_nn").alias("n"),
        h_a.alias("h_a"),
        h_b.alias("h_b"),
        hab.alias("h_ab"),
        mi.alias("mi"),
        hom.alias("homogeneity"),
        com.alias("completeness"),
        v.alias("v"),
        F.when((h_a > 0) & (h_b > 0), mi / F.sqrt(h_a * h_b)).alias("nmi"),
    )


def label_purity(
    df: DataFrame,
    a_col: str = "lang",
    b_col: str = "source",
) -> DataFrame:
    """Cluster purity and inverse purity of partition b against labels
    a — the simplest clustering-quality number IR evaluation quotes
    (each cluster votes its majority label), plus their harmonic mean
    F: the argmax complement to [[adjusted_rand]] / [[vmeasure]]:

        purity      = sum_b max_a n_ab / n
        inv_purity  = sum_a max_b n_ab / n

    Determinism: majorities are exact-long argmaxes with the (count
    desc, label asc) tie-break; sums of longs; two final divisions.
    Bit-replayable.

    Scale: one (a, b) groupBy, two bounded per-group top-1 windows
    over the CELL table (label-cardinality sized, never corpus-sized).
    Output one row: (n long, purity, inv_purity, f_purity doubles —
    NULL when n = 0).
    """
    cells = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count("*").cast("long").alias("_n"))

    def _maxsum(group_col, other_col):
        w = Window.partitionBy(group_col).orderBy(
            F.col("_n").desc(), F.asc(other_col)
        )
        top = cells.withColumn("_rk", F.row_number().over(w)).where(
            F.col("_rk") == 1
        )
        return top.agg(F.sum("_n").cast("long").alias("_mx"))

    tot = cells.agg(F.sum("_n").cast("long").alias("_nn"))
    pu = _maxsum("_b", "_a").select(F.col("_mx").alias("_pb"))
    ip = _maxsum("_a", "_b").select(F.col("_mx").alias("_pa"))
    g = tot.crossJoin(F.broadcast(pu)).crossJoin(F.broadcast(ip))
    nd = F.col("_nn").cast("double")
    p = F.col("_pb").cast("double") / nd
    q = F.col("_pa").cast("double") / nd
    return g.select(
        F.col("_nn").alias("n"),
        F.when(F.col("_nn") > 0, p).alias("purity"),
        F.when(F.col("_nn") > 0, q).alias("inv_purity"),
        F.when((F.col("_nn") > 0) & (p + q > 0), F.lit(2.0) * p * q / (p + q)).alias(
            "f_purity"
        ),
    )
