"""Gap-based sessionization and windowed lag/lead derived columns.

The temporal analogue of Z-Rad's slice decomposition
(zrad/radiomics/glcm.py:154-166): a session is a maximal sub-sequence of
a conversation whose inter-turn gaps stay within ``gap_seconds``.

Pure window expressions — one hash exchange on conv_id (reused by every
downstream per-conversation operator), whole-stage codegen throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import persist_intermediate
from . import convstats
from .exprs import epoch_us, ordered_sums, running_counts, value_at_rank, words
from .skew import ORDER as _ORDER, conv_window, map_conversations


def with_sessions(df: DataFrame, gap_seconds: float) -> DataFrame:
    """Add ``session_id`` (0-based per conversation) and ``gap_sec``.

    session_id = running count of gaps > threshold — the classic
    sessionization window pattern; stable (ts, turn_idx) ordering is the
    engine's secondary-sort invariant (reference geometric slice sort:
    zrad/io/dicom.py:89-100).
    """
    w = conv_window()
    ts_us = epoch_us("ts")
    gap_us = ts_us - F.lag(ts_us).over(w)
    df = df.withColumn("gap_sec", (gap_us / 1e6).cast("double"))
    new_sess = F.when(opens_session(F.col("gap_sec"), gap_seconds), 1).otherwise(0)
    running = conv_window().rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("session_id", F.sum(new_sess).over(running).cast("int"))


def opens_session(gap_sec, gap_seconds: float):
    """The one session-gap rule: a turn opens a new session when its gap
    from the previous turn, ``gap_sec`` = the microsecond gap / 1e6 as a
    double, exceeds ``gap_seconds`` (fractional thresholds included)."""
    return gap_sec > F.lit(gap_seconds)


def with_lag_lead(df: DataFrame, cols: list[str], offsets: tuple = (1,)) -> DataFrame:
    """Attach lag/lead columns for the given signal columns.

    The declarative counterpart of the kernel-side lag pairs (GLCM
    directions): ``<col>_lag<k>`` / ``<col>_lead<k>`` per offset.
    """
    w = conv_window()
    for c in cols:
        for k in offsets:
            df = df.withColumn(f"{c}_lag{k}", F.lag(F.col(c), k).over(w))
            df = df.withColumn(f"{c}_lead{k}", F.lead(F.col(c), k).over(w))
    return df


def with_rolling_time_window(
    df: DataFrame, window_seconds: float, signal_col: str = "signal"
) -> DataFrame:
    """Trailing time-range window aggregates per turn: sum/count/mean of
    the signal over [ts - window_seconds, ts] within the conversation —
    a RANGE frame keyed on the microsecond axis (one exchange + one sort,
    streaming frame evaluation; no self-join)."""
    ts_us = epoch_us("ts")
    df = df.withColumn("_ts_us", ts_us)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("_ts_us")
        .rangeBetween(-int(window_seconds * 1_000_000), 0)
    )
    df = (
        df.withColumn("roll_sum", F.sum(signal_col).over(w))
        .withColumn("roll_n", F.count(signal_col).over(w).cast("long"))
        .withColumn("roll_mean", F.col("roll_sum") / F.col("roll_n"))
    )
    return df.drop("_ts_us")


def with_time_decay_sum(
    df: DataFrame, tau_seconds: float, signal_col: str = "signal", out: str = "decay_sum"
) -> DataFrame:
    """Exponentially time-decayed activity: for each turn i,
    sum_{j<=i} exp(-(t_i - t_j)/tau) * x_j — the classic feature-store
    recency feature. Naive form is O(n^2); here it is ONE forward pass per
    conversation via the recurrence s_i = x_i + s_{i-1} * exp(-dt/tau),
    inside the bucketed Arrow kernel (stateful scans do not exist as Spark
    window functions)."""
    import numpy as np
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField(out, T.DoubleType(), True),
        ]
    )
    tau_us = tau_seconds * 1e6

    def kernel(cols: dict, starts, ends) -> dict:
        ts_us = cols["ts"]
        x = cols[signal_col].astype(np.float64, copy=False)
        s = np.empty_like(x)
        for a, b in zip(starts, ends):
            s[a] = x[a]
            for i in range(a + 1, b):
                s[i] = x[i] + s[i - 1] * np.exp(-(ts_us[i] - ts_us[i - 1]) / tau_us)
        return {"conv_id": cols["conv_id"], "turn_idx": cols["turn_idx"].astype("int32"), out: s}

    return map_conversations(df.select("conv_id", "turn_idx", "ts", signal_col), kernel, schema)


def turn_pairs(
    df: DataFrame,
    prompt_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """Instruction-tuning pair extraction from transcripts: every
    ``response_role`` turn immediately preceded (in the stable
    (ts, turn_idx) conversation order) by a ``prompt_role`` turn becomes
    one (prompt, response) training example.

    One window pass on the engine's canonical (conv_id, ts, turn_idx)
    ordering — the same exchange every other per-conversation operator
    uses. Emits conv_id, the response's turn_idx and ts, and the pair.
    """
    w = conv_window()
    prev_role = F.lag("role").over(w)
    prev_text = F.lag("text").over(w)
    return (
        df.withColumn("_pr", prev_role)
        .withColumn("_pt", prev_text)
        .where((F.col("role") == response_role) & (F.col("_pr") == prompt_role))
        .select(
            "conv_id",
            "turn_idx",
            "ts",
            F.col("_pt").alias("prompt"),
            F.col("text").alias("response"),
        )
    )


def render_chat_template(
    df: DataFrame,
    start_tag: str = "<|im_start|>",
    end_tag: str = "<|im_end|>",
) -> DataFrame:
    """Render each conversation into ONE training-ready string in the
    ChatML shape every SFT pipeline materializes before tokenization:

        ``<|im_start|>{role}\\n{text}<|im_end|>`` per turn, turns joined
        by newlines, in the engine's canonical (ts, turn_idx) order.

    Plan: one groupBy(conv_id) — collect_list of (ts, turn_idx, role,
    text) structs, array_sort (struct comparison = lexicographic on
    (ts, turn_idx), unique per conversation, so role/text never decide),
    then a LINEAR transform + array_join (no O(n^2) incremental string
    fold). State per group is the conversation itself — the same bound
    as the extractor's grouped-map, with no Python crossing. The DuckDB
    oracle replays it as string_agg(fmt ORDER BY ts, turn_idx).

    NULL role/text render as '' (COALESCE) so a NULL never nulls out a
    whole conversation's rendering.

    Output: (conv_id, n_turns long, n_chars long, rendered string).
    """
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("turn_idx"), F.col("role"), F.col("text")))
    )
    turn_fmt = lambda r: F.concat(
        F.lit(start_tag),
        F.coalesce(r["role"], F.lit("")),
        F.lit("\n"),
        F.coalesce(r["text"], F.lit("")),
        F.lit(end_tag),
    )
    return (
        df.groupBy("conv_id")
        .agg(F.count("*").cast("long").alias("n_turns"), arr.alias("_arr"))
        .select(
            "conv_id",
            "n_turns",
            F.array_join(F.transform(F.col("_arr"), turn_fmt), "\n").alias("rendered"),
        )
        .select(
            "conv_id",
            "n_turns",
            F.length("rendered").cast("long").alias("n_chars"),
            "rendered",
        )
    )


def with_expanding_zscore(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Point-in-time (expanding-window) standardization: each turn's
    signal z-scored against the mean/std of its OWN conversation's
    history up to and including itself — the leakage-safe normalization
    a feature pipeline must use (a global z-score reads the future; this
    one provably cannot: the frame is ROWS UNBOUNDED PRECEDING..CURRENT
    under the engine's stable (ts, turn_idx) secondary sort).

    Plan: one hash exchange on conv_id + one sort, three running sums in
    a single Window node, whole-stage codegen — the same shape as
    with_sessions, so a pipeline computing both reuses the exchange.

    Variance uses the one-pass identity ``(s2 - s*s/n)/n`` (population)
    with a GREATEST(.., 0) clamp; for integer-valued signals every
    intermediate is exact, so the SQL oracle replays z bit-for-bit.

    Adds: n_so_far long, mean_so_far double, z double (NULL while the
    running std is 0 — the first turn, or a constant prefix).
    """
    x = F.col(signal_col).cast("double")
    w = (
        Window.partitionBy("conv_id")
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # all three running aggregates in ONE select -> one Window node over
    # one exchange (stacked withColumns would stack Window operators)
    with_sums = df.select(
        "*",
        F.count(signal_col).over(w).alias("_n"),
        F.sum(x).over(w).alias("_s"),
        F.sum(x * x).over(w).alias("_s2"),
    )
    n = F.col("_n").cast("double")
    s = F.col("_s")
    mean = s / n
    var = F.greatest((F.col("_s2") - s * s / n) / n, F.lit(0.0))
    std = F.sqrt(var)
    z = F.when(std > F.lit(0.0), (x - mean) / std)
    return (
        with_sums.withColumn("n_so_far", F.col("_n").cast("long"))
        .withColumn("mean_so_far", mean)
        .withColumn("z", z)
        .drop("_n", "_s", "_s2")
    )


def role_transitions(
    df: DataFrame, roles: tuple = ("assistant", "system", "tool", "user")
) -> DataFrame:
    """Per-conversation role-transition (first-order Markov) structure
    features — the conversation-shape analogue of the engine's GLCM
    texture block: where GLCM counts co-occurring grey levels at lag 1
    along the turn sequence, this counts co-occurring ROLES at lag 1
    and summarizes the 4x4 transition matrix into scalar features a
    curation pipeline filters on (ping-pong user/assistant dialogs vs
    tool-call storms vs system-spam have very different matrices).

        trans_entropy   = -sum_ij p_ij * log2(p_ij),  p_ij = c_ij / n
        self_loop_ratio = sum_i c_ii / n   (consecutive same-role turns)

    Scale + determinism shape: one lag window under the engine's stable
    (ts, turn_idx) order + one groupBy on the SAME key (conv_id), so
    Catalyst reuses the single hash exchange; the |roles|^2 conditional
    counts are map-side partials, and the entropy is a FIXED-ORDER term
    chain over the known (prev, next) grid — exact integer counts, one
    division and one log2 per term — so the SQL oracle replays both
    features bit-for-bit. Conversations with a single turn (no
    transition) get NULL features and n_trans = 0.

    Output: (conv_id, n_trans long, n_distinct_trans long,
    self_loop_ratio double, trans_entropy double, prev_entropy double,
    cond_entropy double — H(next|prev), the Markov predictability).

    Formula: the ``convstats.transitions`` table row, shared with
    profile.conversation_features.
    """
    return convstats.build(df, convstats.transitions(tuple(roles)))


def with_expanding_target_encoding(
    df: DataFrame, key_col: str = "role", signal_col: str = "signal"
) -> DataFrame:
    """Leakage-safe (past-only) target encoding within a conversation:
    each turn gets the running mean of the signal over STRICTLY EARLIER
    turns of the same key (role) in the same conversation — the
    point-in-time-safe form of categorical target encoding (the naive
    global per-category mean reads future rows; this frame is ROWS
    UNBOUNDED PRECEDING .. 1 PRECEDING under the engine's stable
    (ts, turn_idx) secondary sort, so it provably cannot).

    Scale shape: one hash exchange on (conv_id, key) — partitions are
    conversation-bounded, never category-bounded, so there is no
    low-cardinality skew at 10^12 turns (a global per-category window
    would put all of 'user' in ONE partition; composing this operator
    per-conversation keeps every partition small, and a global encoding
    is the separate two-pass broadcast-join pattern). Running sum/count
    accumulate in frame order (the same cross-engine-deterministic
    contract with_expanding_zscore rides); integer-valued signals make
    the sum exact, with one division at the end.

    Adds: n_prior long (earlier same-key turns), te double (NULL when
    n_prior = 0 — the key's first turn in the conversation).
    """
    x = F.col(signal_col).cast("double")
    w = (
        Window.partitionBy("conv_id", key_col)
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_sums = df.select(
        "*",
        F.count(signal_col).over(w).alias("_np"),
        F.sum(x).over(w).alias("_sp"),
    )
    te = F.when(F.col("_np") > 0, F.col("_sp") / F.col("_np").cast("double"))
    return (
        with_sums.withColumn("n_prior", F.coalesce(F.col("_np"), F.lit(0)).cast("long"))
        .withColumn("te", te)
        .drop("_np", "_sp")
    )


def autocorr_features(
    df: DataFrame, signal_col: str = "signal", lags: tuple = (1, 2, 3)
) -> DataFrame:
    """Per-conversation lag-k autocorrelation of the turn signal — the
    sequential-texture feature of the signal stream (the NGTDM of time:
    high ac1 = slowly-varying signal, ac < 0 = alternating pattern, all
    lags ~ 0 = white noise), the standard screen for periodic bot
    traffic and template spam in a curation pipeline.

        r_k = sum_t (x_t - m)(x_{t-k} - m) / sum_t (x_t - m)^2

    computed over pairs where both ends are non-NULL, with m the
    conversation mean over non-NULL signals (the textbook estimator
    divides both sides by n so the ratio is identical).

    Scale + determinism shape: the signal is integer-valued by the
    engine's signal contract, so ALL sufficient statistics are exact
    long integers — n, S1 = sum x, S2 = sum x^2 from one aggregate, and
    per lag (m_k = pair count, P_k = sum x_t x_{t-k}, A_k/B_k = the
    pair-restricted marginal sums) from |lags| lag windows that reuse
    the SAME (conv_id, ts, turn_idx) sort and hash exchange as every
    other per-conversation operator. The expansion

        num_k = P_k - m*A_k - m*B_k + m_k*m*m,  den = S2 - n*m*m

    is a fixed left-to-right chain of single IEEE ops on exact
    integers, so the SQL oracle replays every coefficient bit-for-bit
    (no float summation exists anywhere). ac_k is NULL when the
    conversation is constant (den = 0) or has no lag-k pair.

    Output: (conv_id, n long, ac_1 .. ac_K double).

    Formula: the ``convstats.autocorr`` table row, shared with
    profile.conversation_features.
    """
    return convstats.build(df, convstats.autocorr(signal_col, tuple(lags)))


def with_echo_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-turn echo score: distinct-token Jaccard similarity between a
    turn's text and the IMMEDIATELY preceding turn's (stable (ts,
    turn_idx) order) — the parroting/copy detector (assistants echoing
    the user, template loops, quote-heavy spam all score high; the
    complementary cross-document form is dedup.ngram_jaccard).

    Exactness: both set sizes are exact integers (|A ∩ B| from the
    deduplicating array intersection; |A ∪ B| = |A| + |B| - |A ∩ B|
    from distinct counts, avoiding any reliance on union-dedup
    semantics), and the score is one division — SQL-oracle-replayable
    bit-for-bit. One lag window on the engine's shared conv_id
    exchange; tokens are the lower/trim/whitespace-split norm the
    curation block uses.

    Adds: n_common long, n_union long, echo double (NULL on the first
    turn of a conversation or when both token sets are empty).
    """
    toks = F.array_distinct(words(F.col(text_col)))
    w = conv_window()
    with_t = df.withColumn("_tk", toks).withColumn(
        "_pk", F.lag("_tk").over(w)
    )
    inter = F.size(F.array_intersect(F.col("_tk"), F.col("_pk")))
    union = F.size("_tk") + F.size("_pk") - inter
    echo = F.when(
        F.col("_pk").isNotNull() & (union > 0),
        inter.cast("double") / union.cast("double"),
    )
    return (
        with_t.withColumn(
            "n_common",
            F.when(F.col("_pk").isNotNull(), inter).cast("long"),
        )
        .withColumn(
            "n_union", F.when(F.col("_pk").isNotNull(), union).cast("long")
        )
        .withColumn("echo", echo)
        .drop("_tk", "_pk")
    )


def role_run_stats(df: DataFrame) -> DataFrame:
    """Per-conversation same-role RUN structure (gaps-and-islands): the
    longest consecutive same-role streak, the run count, and the mean
    run length — the burst detector that separates ping-pong dialogs
    (max run 1-2) from tool-call storms and system-spam (long runs),
    complementing role_transitions' self_loop_ratio with the streak
    LENGTH distribution it cannot see.

    Shape: the island id is the classic difference of two row_numbers
    (global turn ordinal minus per-(conv, role) ordinal — constant
    within a streak, distinct across streaks), both windows on the SAME
    conv_id exchange; one groupBy per island then one per conversation,
    all exact integers (mean = turns/runs, one division) — the SQL
    oracle replays every value bit-for-bit.

    Output: (conv_id, n_turns long, n_runs long, max_run long,
    mean_run double).
    """
    w = conv_window()
    wr = Window.partitionBy("conv_id", "role").orderBy(*_ORDER)
    p = df.select(
        "conv_id",
        "role",
        (F.row_number().over(w) - F.row_number().over(wr)).alias("_isl"),
    )
    runs = p.groupBy("conv_id", "role", "_isl").agg(
        F.count(F.lit(1)).alias("_len")
    )
    return runs.groupBy("conv_id").agg(
        F.sum("_len").cast("long").alias("n_turns"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("_len").cast("long").alias("max_run"),
        (F.sum("_len").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_run"
        ),
    )


def with_rank_normalize(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Per-conversation rank (quantile) normalization of the signal:
    each turn gets its midrank percentile u = (r - 0.5) / n, with r the
    average (midrank) rank of its signal among the conversation's
    non-NULL signals — the monotone-invariant normalization that makes
    signals comparable across conversations with wildly different
    scales (the per-conversation twin of the global equal-frequency
    binning in curation.equal_frequency_bins).

    Exactness: midranks are exact multiples of 0.5 (computed as exact
    integers cb + (t+1)/2 over the per-value counts — the mw_drift
    doubled-rank trick, windowed within the conversation), so u is one
    subtraction + one division — bit-replayable. Values tie to the SAME
    u (deterministic under any partitioning, unlike percent_rank over
    raw rows which splits ties by arrival order).

    Adds: rank_u double (NULL for NULL signals).
    """
    x = F.col(signal_col).cast("double")
    wv = Window.partitionBy("conv_id", x).orderBy(F.lit(1))
    wc = (
        Window.partitionBy("conv_id")
        .orderBy(x.asc_nulls_last())
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    # rows strictly below = running count up to and incl. this value,
    # minus the tie-block size; midrank = cb + (t + 1) / 2
    t = F.count(x).over(wv)
    upto = F.count(x).over(wc)
    n = F.count(x).over(Window.partitionBy("conv_id"))
    two_mid = F.lit(2) * (upto - t) + t + F.lit(1)  # doubled midrank, exact int
    u = (two_mid.cast("double") / F.lit(2.0) - F.lit(0.5)) / n.cast("double")
    return df.withColumn("rank_u", F.when(x.isNotNull(), u))


def spearman_trend(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Per-conversation Spearman rank correlation between the signal
    and the turn ordinal — the robust (monotone-invariant) twin of
    profile.signal_trend's Pearson r: outlier turns cannot drag it, and
    any monotone rescaling of the signal leaves it unchanged. Ties get
    midranks (the standard rho with tie correction, since this IS
    Pearson computed on midranks).

    Exactness: Pearson is scale/shift-invariant, so rho is computed on
    the DOUBLED midranks (exact integers, the mw_drift trick) and the
    0-based ordinal — all six sufficient statistics are exact longs
    from one aggregate over one conv_id exchange (the midrank windows
    reuse it), and the closed form is the same fixed single-op double
    chain as signal_trend — the SQL oracle replays rho bit-for-bit.

    NULL signals are excluded from both ranks and ordinals (rho is a
    statement about the scored turns). NULL when fewer than 2 scored
    turns or when either side is constant.

    Output: (conv_id, n long, rho double).
    """
    x = F.col(signal_col).cast("double")
    wv = Window.partitionBy("conv_id", x).orderBy(F.lit(1))
    wc = (
        Window.partitionBy("conv_id")
        .orderBy(x.asc_nulls_last())
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    wo = conv_window()
    t = F.count(x).over(wv)
    upto = F.count(x).over(wc)
    two_r = (F.lit(2) * (upto - t) + t + F.lit(1)).cast("long")
    # ordinal among SCORED turns only, under the stable order
    i = (F.count(x).over(wo.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast(
        "long"
    )
    p = df.select(
        "conv_id",
        F.when(x.isNotNull(), two_r).alias("_r2"),
        F.when(x.isNotNull(), i).alias("_i"),
    ).where(F.col("_r2").isNotNull())
    g = p.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_i").alias("_si"),
        F.sum(F.col("_i") * F.col("_i")).alias("_sii"),
        F.sum("_r2").alias("_sr"),
        F.sum(F.col("_r2") * F.col("_r2")).alias("_srr"),
        F.sum(F.col("_i") * F.col("_r2")).alias("_sir"),
    )
    n = F.col("_n").cast("double")
    si = F.col("_si").cast("double")
    sii = F.col("_sii").cast("double")
    sr = F.col("_sr").cast("double")
    srr = F.col("_srr").cast("double")
    sir = F.col("_sir").cast("double")
    num = n * sir - si * sr
    deni = n * sii - si * si
    denr = n * srr - sr * sr
    ok = (F.col("_n") > 1) & (deni > 0) & (denr > 0)
    return g.select(
        "conv_id",
        F.col("_n").cast("long").alias("n"),
        F.when(ok, num / (F.sqrt(deni) * F.sqrt(denr))).alias("rho"),
    )


def with_vocab_growth(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-turn vocabulary-growth curve: how many of the turn's distinct
    tokens are NEW to the conversation, and the conversation's running
    vocabulary size — the Heaps'-law trace whose flatness separates
    templated/looping conversations (vocab saturates immediately) from
    substantive ones (steady growth). Complements with_echo_score: echo
    sees only lag-1 repetition; this sees repetition against the WHOLE
    history.

    Shape: one distinct-token explode (the TF-IDF/BM25 cost class), a
    first-occurrence row_number over (conv_id, token) under the stable
    (ts, turn_idx) order, a per-turn regroup, and a running sum on the
    conv_id exchange. All outputs are exact integers — trivially
    SQL-oracle-replayable.

    Output: (conv_id, turn_idx, ts, n_distinct long — the turn's
    distinct tokens, n_new long — first occurrences, vocab long —
    running distinct-token count including this turn).
    """
    toks = F.array_distinct(words(F.col(text_col)))
    ex = df.select(
        "conv_id", "turn_idx", "ts", F.explode(toks).alias("_tok")
    )
    w_first = Window.partitionBy("conv_id", "_tok").orderBy(*_ORDER)
    flagged = ex.withColumn(
        "_new", (F.row_number().over(w_first) == 1).cast("long")
    )
    per_turn = flagged.groupBy("conv_id", "turn_idx", "ts").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("_new").cast("long").alias("n_new"),
    )
    w_run = (
        Window.partitionBy("conv_id")
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per_turn.withColumn(
        "vocab", F.sum("n_new").over(w_run).cast("long")
    )


def with_robust_scale(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Per-conversation robust standardization: each turn's signal
    centered on the conversation's MEDIAN and scaled by its MAD
    (median absolute deviation), z = (x - med) / (1.4826 * mad) — the
    outlier-immune twin of a plain z-score (a single pathological turn
    moves mean/std arbitrarily but cannot move med/MAD), the scaling a
    curation pipeline applies before thresholding heavy-tailed signals.
    1.4826 (~ 1/Phi^-1(3/4)) makes MAD consistent for the std under
    normality — the classical robust-statistics constant.

    Median convention is NumPy linear interpolation (the engine-wide
    percentile convention, kernels/firstorder._pct_sorted): with n
    scored turns, h = (n-1)/2, med = arr[floor(h)] + (h - floor(h)) *
    (arr[floor(h)+1] - arr[floor(h)]). Both medians are found WITHOUT
    collecting the group: the at-rank window trick (the
    firstorder_sql.stats_asof pattern) — a range-cumulative count
    locates the row whose tie-block covers the target rank, and an
    unbounded max broadcasts it to the group.

    Scale + determinism: ONE hash exchange on conv_id (HashPartitioning
    on conv_id satisfies every (conv_id, value) window's clustering,
    so the value-ordered windows add sorts, never exchanges); all rank
    arithmetic is exact integers. For integer-valued signals (the
    engine's signal contract) the median is an exact multiple of 0.5,
    deviations are exact multiples of 0.5, the MAD an exact multiple
    of 0.25 — every emitted float is a fixed chain of single IEEE ops
    over exact values, so the SQL oracle replays med/mad/z
    bit-for-bit.

    Adds: med double, mad double, robust_z double (NULL when the
    signal is NULL or the MAD is 0 — a constant-majority
    conversation).
    """
    x = F.col(signal_col).cast("double")
    wk = Window.partitionBy("conv_id")

    def _median_of(v, out):
        """Attach the per-conversation NumPy-convention median of
        column v (NULLs excluded) as `out`, via rank windows."""
        wv = Window.partitionBy("conv_id", v).orderBy(F.lit(1))
        wc = (
            Window.partitionBy("conv_id")
            .orderBy(v.asc_nulls_last())
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        t = F.count(v).over(wv)
        upto = F.count(v).over(wc)
        n = F.count(v).over(wk)
        j = F.floor((n - 1).cast("double") * F.lit(0.5)).cast("long")

        def at_rank(rank):
            return F.max(
                F.when((upto - t < rank) & (rank <= upto), v)
            ).over(wk)

        a, b = at_rank(j + 1), at_rank(j + 2)
        h = (n - 1).cast("double") * F.lit(0.5)
        frac = h - F.floor(h)
        med = F.when(frac > 0, a + frac * (b - a)).otherwise(a)
        return med.alias(out)

    step1 = df.select("*", _median_of(x, "med"))
    d = F.when(x.isNotNull(), F.abs(x - F.col("med")))
    step2 = step1.select("*", _median_of(d, "mad"))
    z = F.when(
        x.isNotNull() & (F.col("mad") > 0),
        (x - F.col("med")) / (F.lit(1.4826) * F.col("mad")),
    )
    return step2.withColumn("robust_z", z)


def with_ewm_smooth(
    df: DataFrame,
    signal_col: str = "signal",
    alpha: float = 0.5,
    lookback: int = 8,
) -> DataFrame:
    """Point-in-time exponentially-weighted moving average of the
    signal under the stable (ts, turn_idx) order, with a TRUNCATED
    kernel: ewm_k = sum_{j<lookback} alpha^j * x_{k-j} / sum alpha^j
    over the lags that exist and are non-NULL (pandas
    ewm(adjust=True).mean() restricted to the last `lookback` turns).
    Truncation is the scale move: an exact EWMA is a linear recurrence
    (inherently sequential per conversation), while the truncated form
    is `lookback` LAG reads in ONE window node over the engine's
    shared conv_id exchange — embarrassingly parallel, and the dropped
    tail is bounded by alpha^lookback (0.4% of total weight at the
    0.5^8 default). NULL-signal turns contribute no term but still
    RECEIVE a smoothed value from their history — the EWMA doubles as
    a leakage-safe imputer (it reads only ts <= current under the
    stable order).

    Determinism: the weights are Python-float literals embedded in the
    plan; each term is one multiply, the numerator/denominator are
    FIXED-ORDER fold chains, and the result one division — the SQL
    oracle replays the same literal chain bit-for-bit. At the default
    alpha = 0.5 every weight is a power of two, so each term and both
    folds are EXACT for integer-valued signals (no rounding anywhere).

    Adds: ewm double, ewm_n long (number of contributing turns; ewm is
    NULL when it is 0 — the conversation's first turn with a NULL
    signal).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if lookback < 1:
        raise ValueError(f"lookback must be >= 1, got {lookback}")
    x = F.col(signal_col).cast("double")
    w = conv_window()
    lags = [x if j == 0 else F.lag(x, j).over(w) for j in range(lookback)]
    weights = [alpha ** j for j in range(lookback)]
    num = F.lit(0.0)
    den = F.lit(0.0)
    cnt = F.lit(0)
    for v, wt in zip(lags, weights):
        num = num + F.when(v.isNotNull(), F.lit(wt) * v).otherwise(F.lit(0.0))
        den = den + F.when(v.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        cnt = cnt + F.when(v.isNotNull(), 1).otherwise(0)
    return df.select(
        "*",
        F.when(den > 0, num / den).alias("ewm"),
        cnt.cast("long").alias("ewm_n"),
    )


def with_topic_boundaries(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.15,
    text_col: str = "text",
) -> DataFrame:
    """TextTiling-style topic-shift detection (Hearst, CL 1997, the
    block-comparison form): at each turn boundary, lexical cohesion is
    the Jaccard similarity between the DISTINCT token sets of the k
    turns ending here and the k turns starting next; a boundary fires
    where cohesion drops below ``threshold`` — the cheap topic
    segmenter a transcript pipeline uses to split long conversations
    into coherent training chunks (the stricter alternative to fixed
    chunking and gap-based sessionizing).

    Scale + determinism shape: per-turn distinct token arrays, then TWO
    bounded window frames (k rows back / k rows forward) whose
    collect_list is capped by k — never a whole-conversation buffer.
    Cohesion is |A ∩ B| / |A ∪ B| over distinct sets (integer sizes,
    one division); set membership is order-free, so the SQL oracle
    replays it exactly. Boundaries where either side has fewer than k
    turns report NULL cohesion and never fire.

    Adds: cohesion double, is_boundary boolean.
    """
    from pyspark.sql import Window

    toks = F.array_distinct(words(F.col(text_col)))
    base = df.withColumn("_tk", toks)
    w = conv_window()
    left_f = w.rowsBetween(-(k - 1), 0)
    right_f = w.rowsBetween(1, k)
    left = F.array_distinct(F.flatten(F.collect_list("_tk").over(left_f)))
    right = F.array_distinct(F.flatten(F.collect_list("_tk").over(right_f)))
    n_left = F.count("*").over(left_f)
    n_right = F.count("*").over(right_f)
    out = (
        base.withColumn("_l", left)
        .withColumn("_r", right)
        .withColumn("_nl", n_left)
        .withColumn("_nr", n_right)
    )
    inter = F.size(F.array_intersect("_l", "_r"))
    union = F.size(F.array_union("_l", "_r"))
    cohesion = F.when(
        (F.col("_nl") == k) & (F.col("_nr") == k) & (union > 0),
        inter.cast("double") / union.cast("double"),
    )
    return (
        out.withColumn("cohesion", cohesion)
        .withColumn(
            "is_boundary",
            F.coalesce(F.col("cohesion") < F.lit(float(threshold)), F.lit(False)),
        )
        .drop("_tk", "_l", "_r", "_nl", "_nr")
    )


def with_rolling_median(
    df: DataFrame, k: int = 5, signal_col: str = "signal"
) -> DataFrame:
    """Rolling median and MAD (median absolute deviation) over the
    trailing ``k`` turns — the robust twin of the rolling mean/std
    window block (one wild turn saturates a mean filter; the median
    shrugs, and MAD is the robust spread the z-score-style outlier
    flags should divide by).

    Scale + determinism shape: the frame collect is bounded by ``k``
    (never a whole-conversation buffer); both medians are sorted-array
    element picks (even count: midpoint, two single float ops) over
    values collected from an explicitly sorted copy — engine collection
    order is irrelevant, so the SQL oracle replays every value exactly.

    Adds: n_in_frame long, roll_median double, roll_mad double.
    """
    x = F.col(signal_col).cast("double")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "turn_idx")
        .rowsBetween(-(k - 1), 0)
    )

    from .exprs import sorted_median as _median

    out = df.withColumn("_fr", F.array_sort(F.collect_list(x).over(w)))
    med = _median(F.col("_fr"))
    out = out.withColumn("roll_median", med)
    dev = F.array_sort(
        F.transform(F.col("_fr"), lambda v: F.abs(v - F.col("roll_median")))
    )
    return (
        out.withColumn("n_in_frame", F.size("_fr").cast("long"))
        .withColumn("roll_mad", _median(dev))
        .drop("_fr")
    )


def render_with_loss_spans(
    df: DataFrame,
    mask_role: str = "assistant",
    start_tag: str = "<|im_start|>",
    end_tag: str = "<|im_end|>",
) -> DataFrame:
    """ChatML rendering plus LOSS-MASK SPANS: the (start, end) character
    offsets of every ``mask_role`` turn's text inside the rendered
    string — what an SFT pipeline actually needs (train on assistant
    tokens only; the render without offsets forces a re-parse after
    tokenization).

    Offsets are pure integer arithmetic over the same sorted turn array
    render_chat_template uses: segment i starts at
    sum_{j<i}(len(segment_j) + 1) (the '\\n' joiner), and the text
    inside a segment starts after ``start_tag + role + '\\n'``. Spans
    are emitted 0-based, end-exclusive, serialized as
    ``start-end`` joined by ',' so the value gate hashes a plain
    string on both engines.

    Same plan shape as the renderer: one groupBy(conv_id), a linear
    transform, no Python. The pytest proves substring(rendered, span)
    == the turn text.

    Output: (conv_id, n_turns long, n_chars long, n_mask_spans long,
    mask_chars long, spans string, rendered string).
    """
    arr = F.array_sort(
        F.collect_list(
            F.struct(F.col("ts"), F.col("turn_idx"), F.col("role"), F.col("text"))
        )
    )
    pre = len(start_tag)
    post = len(end_tag)
    turn_fmt = lambda r: F.concat(  # noqa: E731
        F.lit(start_tag),
        F.coalesce(r["role"], F.lit("")),
        F.lit("\n"),
        F.coalesce(r["text"], F.lit("")),
        F.lit(end_tag),
    )
    seg_len = lambda r: (  # noqa: E731
        F.lit(pre)
        + F.length(F.coalesce(r["role"], F.lit("")))
        + F.lit(1)
        + F.length(F.coalesce(r["text"], F.lit("")))
        + F.lit(post)
    ).cast("long")
    g = df.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"), arr.alias("_arr")
    )
    # prefix offsets: fold an array accumulator whose last element is the
    # next segment's start (array copies are O(n^2) but n = turns)
    offs = F.aggregate(
        F.col("_arr"),
        F.array(F.lit(0).cast("long")),
        lambda acc, r: F.concat(
            acc, F.array(F.element_at(acc, -1) + seg_len(r) + F.lit(1))
        ),
    )
    g = g.withColumn("_offs", offs)
    n = F.size("_arr")
    span = lambda i: F.struct(  # noqa: E731
        (
            F.element_at("_offs", i + 1)
            + F.lit(pre)
            + F.length(F.coalesce(F.get("_arr", i)["role"], F.lit("")))
            + F.lit(1)
        ).alias("s"),
        (
            F.element_at("_offs", i + 1)
            + F.lit(pre)
            + F.length(F.coalesce(F.get("_arr", i)["role"], F.lit("")))
            + F.lit(1)
            + F.length(F.coalesce(F.get("_arr", i)["text"], F.lit("")))
        ).alias("e"),
    )
    spans = F.filter(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(1)),
            lambda i: F.when(
                F.coalesce(F.get("_arr", i)["role"], F.lit("")) == mask_role,
                span(i),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    g = g.withColumn("_spans", spans)
    return g.select(
        "conv_id",
        "n_turns",
        F.length(
            F.array_join(F.transform(F.col("_arr"), turn_fmt), "\n")
        ).cast("long").alias("n_chars"),
        F.size("_spans").cast("long").alias("n_mask_spans"),
        F.aggregate(
            F.col("_spans"),
            F.lit(0).cast("long"),
            lambda a, s: a + (s["e"] - s["s"]),
        ).alias("mask_chars"),
        F.array_join(
            F.transform(
                F.col("_spans"),
                lambda s: F.concat(
                    s["s"].cast("string"), F.lit("-"), s["e"].cast("string")
                ),
            ),
            ",",
        ).alias("spans"),
        F.array_join(F.transform(F.col("_arr"), turn_fmt), "\n").alias("rendered"),
    )


_INTERROGATIVES = (
    "what", "why", "how", "when", "where", "who", "which",
    "is", "are", "can", "could", "do", "does", "did", "will", "would",
)
_IMPERATIVES = (
    "do", "make", "write", "show", "give", "list", "explain", "find",
    "create", "run", "stop", "add", "remove", "fix", "update",
)


def with_dialog_acts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic dialog-act tags per turn plus the per-conversation
    question rate — the cheap conversational-structure features an SFT
    curation pass stratifies on (a corpus of statements trains a
    different model than one of questions):

      'question'  — ends with '?' or opens with an interrogative word
      'command'   — opens with a bare imperative verb (and is not a
                    question)
      'statement' — everything else

    Pure narrow expressions (one lowercase split, two literal-list
    membership tests, one regexp) — zero shuffle for the tags; the
    conversation rollup is one groupBy with exact integer counts.

    Adds: dialog_act string, and (via the companion rollup join)
    question_rate double per conversation.
    """
    first = F.element_at(words(F.col(text_col)), 1)
    is_q = F.col(text_col).rlike(r"\?\s*$") | first.isin(*_INTERROGATIVES)
    is_cmd = first.isin(*_IMPERATIVES)
    act = (
        F.when(is_q, F.lit("question"))
        .when(is_cmd, F.lit("command"))
        .otherwise(F.lit("statement"))
    )
    return df.withColumn("dialog_act", act)


def dialog_act_rates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-conversation dialog-act mix: counts and rates of the three
    heuristic acts (with_dialog_acts). Exact integers + single
    divisions — oracle-replayable.

    Output: (conv_id, n_turns long, n_question long, n_command long,
    question_rate double, command_rate double).
    """
    tagged = with_dialog_acts(df, text_col)
    g = tagged.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.count(F.when(F.col("dialog_act") == "question", 1))
        .cast("long")
        .alias("n_question"),
        F.count(F.when(F.col("dialog_act") == "command", 1))
        .cast("long")
        .alias("n_command"),
    )
    n = F.col("n_turns").cast("double")
    return g.select(
        "conv_id",
        "n_turns",
        "n_question",
        "n_command",
        (F.col("n_question").cast("double") / n).alias("question_rate"),
        (F.col("n_command").cast("double") / n).alias("command_rate"),
    )


def with_edit_distance(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-turn Levenshtein edit distance to the IMMEDIATELY preceding
    turn's text (stable (ts, turn_idx) order) plus the normalized
    similarity

        sim = 1 - lev / max(len(prev), len(cur))

    — the character-level retry/near-repeat detector. Where
    [[with_echo_score]] compares unordered TOKEN SETS (high when the
    same words reappear in any order), edit distance is positional:
    'restart the server' vs 'restart the service' scores ~0.89 here but
    only 0.5 on token Jaccard, while a shuffled copy scores high on
    Jaccard and low here. Curation pipelines use the pair: high-Jaccard
    + high-sim = verbatim retry; high-Jaccard + low-sim = paraphrase.

    Exactness: Levenshtein is an exact integer (Spark's built-in
    JVM-side `levenshtein`, the same unit-cost DP DuckDB implements),
    lengths are exact integers, and sim is one division — SQL-oracle-
    replayable bit-for-bit. One lag window on the engine's shared
    conv_id exchange; no Python, no UDF.

    Scale note: the DP is O(len_prev * len_cur) per row JVM-side; for
    corpora with multi-KB turns cap the operand length upstream (e.g.
    substr to the first 1-2k chars) — the distance is a screen, not a
    measurement, at that point.

    Adds: lev long, edit_sim double (both NULL on the first turn of a
    conversation; edit_sim NULL when both texts are empty).
    """
    w = conv_window()
    prev = F.lag(F.col(text_col)).over(w)
    with_p = df.withColumn("_prev", prev)
    lev = F.levenshtein(F.col("_prev"), F.col(text_col))
    maxlen = F.greatest(F.length("_prev"), F.length(text_col))
    sim = F.when(
        F.col("_prev").isNotNull() & (maxlen > 0),
        F.lit(1.0) - lev.cast("double") / maxlen.cast("double"),
    )
    return (
        with_p.withColumn(
            "lev", F.when(F.col("_prev").isNotNull(), lev).cast("long")
        )
        .withColumn("edit_sim", sim)
        .drop("_prev")
    )


def funnel_steps(
    df: DataFrame,
    steps: tuple[str, ...] = ("user", "assistant", "tool"),
    role_col: str = "role",
) -> DataFrame:
    """Ordered-step funnel per conversation — the product-analytics
    primitive ('view -> click -> purchase') applied to dialogue flow:
    step k counts as reached only at the FIRST turn matching steps[k]
    that comes STRICTLY AFTER the turn where step k-1 was reached, so
    'assistant then user then tool' reaches stage 1, not 3, for the
    (user, assistant, tool) funnel.

    Mechanics: each turn gets its stable (ts, turn_idx) ordinal; stage
    1 is MIN(ordinal | role = steps[0]), stage k is MIN(ordinal |
    role = steps[k-1] AND ordinal > stage_{k-1}) — len(steps)
    sequential conditional aggregations, each one groupBy + join ON THE
    SAME conv_id key (co-partitioned exchanges; AQE reuses the
    partitioning, so the extra passes are map-side cheap, and the pass
    count is the literal funnel depth, never data-dependent).

    Determinism: ordinals are exact row_number longs under the stable
    order; every MIN and comparison is integer — nothing to round, the
    SQL oracle replays it bit-for-bit.

    Output: (conv_id, n_turns long, i_1..i_len long — the 1-based
    ordinal where each stage was reached, NULL once a stage is missed,
    reached int = number of stages reached).
    """
    w = conv_window()
    base = df.select(
        "conv_id",
        F.col(role_col).alias("_role"),
        F.row_number().over(w).cast("long").alias("_i"),
    )
    cur = base.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.min(F.when(F.col("_role") == steps[0], F.col("_i"))).alias("i_1"),
    )
    for k in range(2, len(steps) + 1):
        prev = f"i_{k - 1}"
        carry = [F.max("n_turns").alias("n_turns")] + [
            F.max(f"i_{j}").alias(f"i_{j}") for j in range(1, k)
        ]
        cur = (
            base.join(cur, "conv_id")
            .groupBy("conv_id")
            .agg(
                *carry,
                F.min(
                    F.when(
                        (F.col("_role") == steps[k - 1])
                        & (F.col("_i") > F.col(prev)),
                        F.col("_i"),
                    )
                ).alias(f"i_{k}"),
            )
        )
    reached = None
    for k in range(1, len(steps) + 1):
        term = F.when(F.col(f"i_{k}").isNotNull(), 1).otherwise(0)
        reached = term if reached is None else reached + term
    return cur.select(
        "conv_id",
        "n_turns",
        *[f"i_{k}" for k in range(1, len(steps) + 1)],
        reached.cast("int").alias("reached"),
    )


def ar2_yule_walker(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Per-conversation AR(2) Yule-Walker fit of the turn signal — the
    model-fitting step on top of [[autocorr_features]]' descriptive
    r_k: solve the 2x2 Yule-Walker system for (phi_1, phi_2) from the
    lag-1/lag-2 autocorrelations,

        phi_1 = r1 (1 - r2) / (1 - r1^2)
        phi_2 = (r2 - r1^2) / (1 - r1^2)     (= PACF at lag 2 —
                                              Durbin-Levinson step 2)
        sigma_ratio = 1 - phi_1 r1 - phi_2 r2  (innovation var / var)
        forecast = m + phi_1 (x_n - m) + phi_2 (x_{n-1} - m)

    phi_2 ~ 0 says AR(1) suffices (momentum-only signal dynamics);
    phi_2 < 0 with high phi_1 is damped oscillation (the alternating
    user/assistant cadence); sigma_ratio near 1 = the signal is
    unforecastable noise. The one-step forecast reads the LAST TWO
    signals in stable (ts, turn_idx) order — the same point-in-time
    contract as every expanding operator (no future turn is read).

    Determinism: r1/r2 use the IDENTICAL exact-long sufficient
    statistics and fixed expansion chains as [[autocorr_features]]
    (P_k, A_k, B_k, m_k from the same single conv exchange); the phi /
    sigma / forecast chains are fixed single-op sequences on those
    doubles, so the SQL oracle replays every output bit-for-bit. NULL
    when n < 3, the signal is constant (den = 0), or 1 - r1^2 = 0
    (a perfectly alternating two-level signal).

    Output: (conv_id, n long, r1, r2, phi1, phi2, sigma_ratio,
    forecast — all double).
    """
    xl = F.col(signal_col).cast("long")
    w = conv_window()
    p = df.select(
        F.col("conv_id"),
        xl.alias("_x"),
        F.lag(xl, 1).over(w).alias("_l1"),
        F.lag(xl, 2).over(w).alias("_l2"),
    )
    aggs = [
        F.count("_x").alias("_n"),
        F.sum("_x").alias("_s1"),
        F.sum(F.col("_x") * F.col("_x")).alias("_s2"),
    ]
    for k in (1, 2):
        lk = F.col(f"_l{k}")
        both = F.col("_x").isNotNull() & lk.isNotNull()
        aggs += [
            F.count(F.when(both, 1)).alias(f"_m{k}"),
            F.sum(F.col("_x") * lk).alias(f"_p{k}"),
            F.sum(F.when(both, F.col("_x"))).alias(f"_a{k}"),
            F.sum(F.when(both, lk)).alias(f"_b{k}"),
        ]
    g = p.groupBy("conv_id").agg(*aggs)
    # last two non-NULL signals in stable order (forecast inputs)
    nn = df.where(xl.isNotNull()).select(
        F.col("conv_id"),
        xl.alias("_x"),
        F.row_number()
        .over(
            Window.partitionBy("conv_id").orderBy(
                F.col("ts").desc(), F.col("turn_idx").desc()
            )
        )
        .alias("_rn"),
    )
    last2 = (
        nn.where(F.col("_rn") <= 2)
        .groupBy("conv_id")
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col("_x"))).alias("_xn"),
            F.max(F.when(F.col("_rn") == 2, F.col("_x"))).alias("_xn1"),
        )
    )
    g = g.join(last2, "conv_id", "left")
    # ANSI-safe: the divisor is NULLed (never zero) so no predicate or
    # branch can raise DIVIDE_BY_ZERO — divisions yield NULL instead and
    # the boolean guards collapse NULL to false
    mean = F.col("_s1").cast("double") / F.when(
        F.col("_n") > 0, F.col("_n").cast("double")
    )
    den = F.col("_s2").cast("double") - F.col("_n").cast("double") * mean * mean

    def _r(k: int) -> F.Column:
        num = (
            F.col(f"_p{k}").cast("double")
            - mean * F.col(f"_a{k}").cast("double")
            - mean * F.col(f"_b{k}").cast("double")
            + F.col(f"_m{k}").cast("double") * mean * mean
        )
        return num / F.when(den != F.lit(0.0), den)

    ok = (F.col("_n") >= 3) & (den != F.lit(0.0)) & (F.col("_m2") > 0)
    r1 = F.when(ok, _r(1))
    r2 = F.when(ok, _r(2))
    disc = F.lit(1.0) - r1 * r1
    ok2 = disc.isNotNull() & (disc != F.lit(0.0))
    dsafe = F.when(ok2, disc)
    phi1 = r1 * (F.lit(1.0) - r2) / dsafe
    phi2 = (r2 - r1 * r1) / dsafe
    sigma = F.lit(1.0) - phi1 * r1 - phi2 * r2
    fc = (
        mean
        + phi1 * (F.col("_xn").cast("double") - mean)
        + phi2 * (F.col("_xn1").cast("double") - mean)
    )
    return g.select(
        "conv_id",
        F.col("_n").cast("long").alias("n"),
        r1.alias("r1"),
        r2.alias("r2"),
        F.when(ok2, phi1).alias("phi1"),
        F.when(ok2, phi2).alias("phi2"),
        F.when(ok2, sigma).alias("sigma_ratio"),
        F.when(ok2, fc).alias("forecast"),
    )


def spectral_profile(
    df: DataFrame,
    n_harmonics: int = 8,
    bucket: str = "hour",
) -> DataFrame:
    """Periodogram of the global per-``bucket`` turn-count series at
    the first ``n_harmonics`` Fourier frequencies, plus the spectral
    entropy of the normalized powers — the frequency-domain activity
    profile beside the time-domain [[q_acf_profile]] (a strong k=24/7
    line in hourly data IS the daily/weekly seasonality a backfill or
    forecast operator must respect):

        P_k = (sum_t x_t cos(2 pi k t / n))^2
            + (sum_t x_t sin(2 pi k t / n))^2

    over the mean-centered counts x_t, with spectral entropy
    -sum_k p_k ln p_k, p_k = P_k / sum_j P_j.

    Determinism: bucket counts are exact longs; the centered trig
    terms are fixed chains summed by ``exprs.ordered_sums`` in t order
    per harmonic (the oracle replays the identical IEEE sequence —
    cos/sin agree across engines on identical double arguments to
    within an ulp, absorbed by the 6dp contract); entropy folds in k
    order. Bit-replayable.

    Scale: the series length is CALENDAR-bounded (hours in the data
    window — ~9k rows/year), never corpus-sized: one map-side-combined
    date_trunc groupBy collapses 10^12 turns to the series, and the
    k x n fold state is n_harmonics x series_length. Output one row
    per harmonic: (k long, n long, power, norm_power, spec_entropy
    doubles — norm/entropy NULL when total power is 0).
    """
    import math

    h = df.groupBy(F.date_trunc(bucket, F.col("ts")).alias("_h")).agg(
        F.count("*").cast("long").alias("_c")
    )
    w_ord = Window.orderBy("_h")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ser = h.select(
        (F.row_number().over(w_ord).cast("long") - 1).alias("_t"),
        "_c",
        F.count("*").over(w_all).cast("long").alias("_n"),
        F.sum("_c").over(w_all).cast("long").alias("_s"),
    )
    ks = ser.sparkSession.range(1, int(n_harmonics) + 1).select(
        F.col("id").cast("long").alias("k")
    )
    j = ser.crossJoin(F.broadcast(ks))
    m = F.col("_s").cast("double") / F.col("_n").cast("double")
    x = F.col("_c").cast("double") - m
    theta = (
        F.lit(2.0 * math.pi)
        * F.col("k").cast("double")
        * F.col("_t").cast("double")
        / F.col("_n").cast("double")
    )
    per = j.groupBy("k").agg(
        F.max("_n").alias("n"),
        *ordered_sums(["_t"], _tc=x * F.cos(theta), _ts=x * F.sin(theta)),
    )
    sc, ss = F.col("_tc"), F.col("_ts")
    pw = per.select("k", "n", (sc * sc + ss * ss).alias("power"))
    tot = pw.withColumn("_tot", F.sum("power").over(w_all))
    np_ = F.when(F.col("_tot") > 0, F.col("power") / F.col("_tot"))
    normed = tot.select("k", "n", "power", np_.alias("norm_power"))
    ent = normed.where(F.col("norm_power").isNotNull()).agg(
        *ordered_sums(
            ["k"],
            spec_entropy=F.when(
                F.col("norm_power") > 0,
                -F.col("norm_power") * F.log("norm_power"),
            ).otherwise(F.lit(0.0)),
        )
    )
    return normed.crossJoin(F.broadcast(ent)).select(
        "k",
        "n",
        "power",
        "norm_power",
        F.when(F.col("norm_power").isNotNull(), F.col("spec_entropy")).alias(
            "spec_entropy"
        ),
    )


def pacf_profile(df: DataFrame, bucket: str = "hour") -> DataFrame:
    """Partial autocorrelation of the global per-``bucket`` turn-count
    series at lags 1..3 via the Durbin-Levinson recursion on the
    population ACF — what [[q_acf_profile]]'s raw correlations look
    like AFTER removing the shorter-lag linear structure (the AR-order
    diagnostic: a PACF that dies after lag p says AR(p) is enough,
    the [[q_ar2]] fit's model-selection companion):

        phi_11 = r1
        phi_22 = (r2 - r1^2) / (1 - r1^2)
        phi_33 = (r3 - a21 r2 - phi_22 r1)
               / (1 - a21 r1 - phi_22 r2),  a21 = r1 (1 - phi_22)

    with r_k = c_k / c_0 and c_k the lag-k population autocovariance
    expanded over EXACT integer sums (sum x_t x_{t+k}, head/tail sums)
    so no mean-centered pass over the series is needed.

    Determinism: all series moments are exact longs; each c_k, r_k,
    and phi is one fixed double chain. NULL when the sample is too
    short (n <= 3) or a denominator degenerates. Bit-replayable.

    Scale: calendar-bounded series (see [[spectral_profile]]); lag
    products come from three lead() columns on one tiny window pass.
    Output: (lag long, n long, r double, pacf double), lags 1..3.
    """
    h = df.groupBy(F.date_trunc(bucket, F.col("ts")).alias("_h")).agg(
        F.count("*").cast("long").alias("_c")
    )
    w_ord = Window.orderBy("_h")
    led = h.select(
        "_c",
        F.lead("_c", 1).over(w_ord).alias("_c1"),
        F.lead("_c", 2).over(w_ord).alias("_c2"),
        F.lead("_c", 3).over(w_ord).alias("_c3"),
    )
    g = led.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_c").cast("long").alias("_s"),
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_s0"),
        F.sum(F.col("_c") * F.col("_c1")).cast("long").alias("_p1"),
        F.sum(F.col("_c") * F.col("_c2")).cast("long").alias("_p2"),
        F.sum(F.col("_c") * F.col("_c3")).cast("long").alias("_p3"),
        F.sum(F.when(F.col("_c1").isNotNull(), F.col("_c"))).cast("long").alias("_h1"),
        F.sum(F.when(F.col("_c2").isNotNull(), F.col("_c"))).cast("long").alias("_h2"),
        F.sum(F.when(F.col("_c3").isNotNull(), F.col("_c"))).cast("long").alias("_h3"),
        F.sum(F.col("_c1")).cast("long").alias("_t1"),
        F.sum(F.col("_c2")).cast("long").alias("_t2"),
        F.sum(F.col("_c3")).cast("long").alias("_t3"),
    )
    n = F.col("n")
    nd = n.cast("double")
    m = F.col("_s").cast("double") / nd

    def c_at(k):
        if k == 0:
            return (
                F.col("_s0").cast("double")
                - F.lit(2.0) * m * F.col("_s").cast("double")
                + nd * m * m
            ) / nd
        return (
            F.col(f"_p{k}").cast("double")
            - m * (F.col(f"_h{k}").cast("double") + F.col(f"_t{k}").cast("double"))
            + (n - F.lit(k)).cast("double") * m * m
        ) / nd

    c0 = c_at(0)
    r1 = c_at(1) / c0
    r2 = c_at(2) / c0
    r3 = c_at(3) / c0
    phi22 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    a21 = r1 * (F.lit(1.0) - phi22)
    den3 = F.lit(1.0) - a21 * r1 - phi22 * r2
    phi33 = (r3 - a21 * r2 - phi22 * r1) / den3
    ok = (n > 3) & (c0 > 0)
    rows = []
    for lag, (r, p) in enumerate(
        [(r1, r1), (r2, phi22), (r3, phi33)], start=1
    ):
        guard = ok if lag == 1 else ok & (F.abs(F.lit(1.0) - r1 * r1) > 0)
        if lag == 3:
            guard = guard & (F.abs(den3) > 0)
        rows.append(
            g.select(
                F.lit(lag).cast("long").alias("lag"),
                "n",
                F.when(ok, r).alias("r"),
                F.when(guard, p).alias("pacf"),
            )
        )
    out = rows[0]
    for r_ in rows[1:]:
        out = out.unionByName(r_)
    return out


def holt_smooth(
    df: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.3,
    bucket: str = "day",
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing of the global
    per-``bucket`` turn-count series — level + trend state and the
    one-step forecast, the classical local-trend tracker beside the
    trendless [[q_ewm_smooth]] EWMA and the seasonal-naive
    [[q_mase]] baseline:

        l_t = alpha x_t + (1-alpha)(l_{t-1} + b_{t-1})
        b_t = beta (l_t - l_{t-1}) + (1-beta) b_{t-1}

    initialized l_0 = x_0, b_0 = x_1 - x_0; one-step SSE accumulates
    (x_t - (l_{t-1} + b_{t-1}))^2 for t >= 1.

    Determinism: the recursion is inherently ordered — the engine runs
    it as ONE F.aggregate fold over the t-sorted series with a
    (level, trend, sse) struct accumulator; the oracle replays the
    identical recursion with a recursive CTE. Counts are exact longs;
    every step is a fixed double chain. Bit-replayable.

    Scale: calendar-bounded series (days in the data window), folded
    on the driver-side-sized single row — the corpus-sized table is
    touched only by the map-side-combined date_trunc count. Output
    one row: (n long, level, trend, forecast, sse, rmse doubles —
    NULL when n < 2).
    """
    a, b = float(alpha), float(beta)
    h = df.groupBy(F.date_trunc(bucket, F.col("ts")).alias("_h")).agg(
        F.count("*").cast("long").alias("_c")
    )
    w_ord = Window.orderBy("_h")
    ser = h.select(
        (F.row_number().over(w_ord).cast("long") - 1).alias("_t"),
        F.col("_c").cast("double").alias("_x"),
    )
    one = ser.select(F.struct("_t", "_x").alias("_e")).agg(
        F.sort_array(F.collect_list("_e")).alias("_es")
    )
    arr = F.transform(F.col("_es"), lambda e: e["_x"])
    n = F.size(arr)
    # F.get is NULL-safe out of bounds (element_at errors under ANSI)
    x0 = F.get(arr, 0)
    x1 = F.get(arr, 1)
    init = F.struct(
        x0.alias("l"),
        (x1 - x0).alias("b"),
        F.lit(0.0).alias("sse"),
    )
    rest = F.slice(arr, 2, F.greatest(n - 1, F.lit(0)))

    def step(acc, x):
        f = acc["l"] + acc["b"]
        e = x - f
        l_new = F.lit(a) * x + F.lit(1.0 - a) * f
        b_new = F.lit(b) * (l_new - acc["l"]) + F.lit(1.0 - b) * acc["b"]
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            (acc["sse"] + e * e).alias("sse"),
        )

    fin = F.aggregate(rest, init, step)
    ok = n >= 2
    return one.select(
        n.cast("long").alias("n"),
        F.when(ok, fin["l"]).alias("level"),
        F.when(ok, fin["b"]).alias("trend"),
        F.when(ok, fin["l"] + fin["b"]).alias("forecast"),
        F.when(ok, fin["sse"]).alias("sse"),
        F.when(ok, F.sqrt(fin["sse"] / (n - 1).cast("double"))).alias("rmse"),
    )


def entropy_rate(df: DataFrame) -> DataFrame:
    """Entropy rate of the corpus role-transition Markov chain —

        H_rate = - sum_u pi_u sum_v P_uv ln P_uv

    with empirical pi_u = row mass of u among transitions and
    P_uv = n_uv / n_u. — plus the marginal next-role entropy
    H_marg = -sum_v q_v ln q_v and the predictability gain
    H_marg - H_rate: how much knowing the CURRENT role shrinks
    next-role uncertainty (0 = memoryless transcript flow; the scalar
    the [[role_transitions]] matrix summarizes to, and the first-order
    cousin of [[q_theil_u]]'s association view).

    Determinism: transition counts are exact longs on the stable
    (ts, turn_idx) order; both entropies are ``exprs.ordered_sums`` by (u, v) /
    v; fixed chains. Bit-replayable.

    Scale: one window pass + one |roles|^2 aggregate. Output one row:
    (n_trans long, h_rate, h_marg, gain doubles — NULL when no
    transitions).
    """
    w = conv_window()
    trans = (
        df.select("conv_id", "ts", "turn_idx", F.col("role").alias("_u"))
        .withColumn("_v", F.lead("_u", 1).over(w))
        .where(F.col("_v").isNotNull())
        .groupBy("_u", "_v")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_u = Window.partitionBy("_u")
    cells = trans.select(
        "_u",
        "_v",
        "_n",
        F.sum("_n").over(w_u).cast("long").alias("_nu"),
        F.sum("_n").over(w_all).cast("long").alias("_nn"),
    )
    # conditional term: (n_uv/N) * ln(n_uv/n_u) summed over (u, v)
    p_joint = F.col("_n").cast("double") / F.col("_nn").cast("double")
    p_cond = F.col("_n").cast("double") / F.col("_nu").cast("double")
    hr = cells.groupBy("_nn").agg(*ordered_sums(["_u", "_v"], _t=p_joint * F.log(p_cond)))
    h_rate = -F.col("_t")
    # marginal next-role entropy over v
    marg = trans.groupBy("_v").agg(F.sum("_n").cast("long").alias("_m"))
    margn = marg.withColumn("_nn", F.sum("_m").over(w_all).cast("long"))
    q = F.col("_m").cast("double") / F.col("_nn").cast("double")
    hm = margn.agg(*ordered_sums(["_v"], _t=q * F.log(q))).select((-F.col("_t")).alias("_hm"))
    g = hr.select(F.col("_nn").alias("n_trans"), h_rate.alias("h_rate")).crossJoin(
        F.broadcast(hm)
    )
    return g.select(
        "n_trans",
        "h_rate",
        F.col("_hm").alias("h_marg"),
        (F.col("_hm") - F.col("h_rate")).alias("gain"),
    )


def seasonality_strength(df: DataFrame) -> DataFrame:
    """Calendar seasonality strength of the hourly turn-count series:
    the one-way ANOVA variance share (eta^2 = SSB/SST) explained by
    hour-of-day and, separately, by day-of-week — the scalar 'how
    periodic is this corpus?' summary that [[spectral_profile]] shows
    as spectrum and this op reduces to two effect sizes a capacity
    plan can threshold:

        eta2 = [sum_g S_g^2 / n_g - S^2 / n] / [sum c^2 - S^2 / n]

    Determinism: S_g, n_g, S, sum c^2 are exact longs (squares ride
    DECIMAL(38,0)); each eta2 sums the per-group S_g^2/n_g terms by
    ``exprs.ordered_sums`` in group-key order and finishes with a fixed
    chain. NULL when the series is constant (SST = 0). Bit-replayable.

    Scale: calendar-bounded series; two tiny (<= 24 / 7 cell)
    aggregates. Output one row: (n long, eta2_hour, eta2_dow
    doubles).
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    h = df.groupBy(F.date_trunc("hour", F.col("ts")).alias("_h")).agg(
        F.count("*").cast("long").alias("_c")
    )
    tot = h.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_c").cast("long").alias("_s"),
        F.sum(d19(F.col("_c")) * d19(F.col("_c"))).alias("_s2"),
    )

    def _eta(key_expr, name):
        g = h.groupBy(key_expr.alias("_g")).agg(
            F.sum("_c").cast("long").alias("_sg"),
            F.count("*").cast("long").alias("_ng"),
        )
        term = (
            d19(F.col("_sg")) * d19(F.col("_sg"))
        ).cast("double") / F.col("_ng").cast("double")
        return g.agg(*ordered_sums(["_g"], **{name: term}))

    eh = _eta(F.hour(F.col("_h")), "_bh")
    ed = _eta(F.dayofweek(F.col("_h")), "_bd")
    g = tot.crossJoin(F.broadcast(eh)).crossJoin(F.broadcast(ed))
    nd = F.col("n").cast("double")
    mean_sq = F.col("_s").cast("double") * F.col("_s").cast("double") / nd
    sst = F.col("_s2").cast("double") - mean_sq
    return g.select(
        "n",
        F.when(sst > 0, (F.col("_bh") - mean_sq) / sst).alias("eta2_hour"),
        F.when(sst > 0, (F.col("_bd") - mean_sq) / sst).alias("eta2_dow"),
    )


def key_skew_profile(df: DataFrame, key_col: str = "conv_id") -> DataFrame:
    """Shuffle-key skew profile: exact order statistics of the per-key
    row-count distribution (p50 / p90 / p99 / max by integer rank),
    the top-key share of all rows, and the skew ratio max/p50 — the
    numbers that decide whether a join or window on this key needs
    [[operators/skew.py]] salting or AQE skew-split BEFORE the job
    runs, not after the straggler task shows up.

    Determinism: per-key counts are exact longs; the quantiles are
    EXACT rank picks (rank = ceil(q * n_keys), count asc, no
    interpolation); shares and the ratio are single divisions.
    Bit-replayable.

    Scale: one map-side-combined count per key, one rank window over
    the (distinct-count-compacted) histogram — state is bounded by
    the count-cardinality, not the key count. Output one row:
    (n_keys long, n_rows long, p50 long, p90 long, p99 long,
    max_count long, top_share double, skew_ratio double).
    """
    counts = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.count("*").cast("long").alias("_c")
    )
    hist = counts.groupBy("_c").agg(F.count("*").cast("long").alias("_m"))
    cum = running_counts(hist, [], "_c", "_m")

    def pick(q):
        # smallest count whose cumulative key coverage reaches ceil(q*nk)
        return value_at_rank("_c", F.ceil(F.lit(q) * F.col("_n")).cast("long"))

    g = cum.agg(
        F.max("_n").alias("n_keys"),
        F.sum(F.col("_c") * F.col("_m")).cast("long").alias("n_rows"),
        pick(0.50).cast("long").alias("p50"),
        pick(0.90).cast("long").alias("p90"),
        pick(0.99).cast("long").alias("p99"),
        F.max("_c").cast("long").alias("max_count"),
    )
    return g.select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_rows").cast("long").alias("n_rows"),
        "p50",
        "p90",
        "p99",
        "max_count",
        (F.col("max_count").cast("double") / F.col("n_rows").cast("double")).alias(
            "top_share"
        ),
        F.when(
            F.col("p50") > 0,
            F.col("max_count").cast("double") / F.col("p50").cast("double"),
        ).alias("skew_ratio"),
    )


def markov_stationary(df: DataFrame, n_iter: int = 3) -> DataFrame:
    """Long-run role mix of the transition chain: ``n_iter`` power
    iterations pi <- pi P from the uniform start over the empirical
    role-transition matrix — where the conversation flow SETTLES, vs
    the marginal next-role share [[entropy_rate]] reports (the two
    diverge exactly when the chain mixes slowly; the gap per role is
    emitted). The iteration count is fixed and small (the q_hits
    precedent): each step is one tiny join-aggregate, and the oracle
    unrolls the same three steps declaratively.

    Determinism: P's cells are exact-count ratios; each iteration
    sums the incoming terms by ``exprs.ordered_sums`` over source
    roles; the start vector is the exact 1/k. Bit-replayable.

    Scale: the chain lives on the |roles|^2 cell table — corpus-sized
    work is ONE counting pass. Output: (role, pi double, marginal
    double, gap double), one row per role.
    """
    w = conv_window()
    trans = (
        df.select("conv_id", "ts", "turn_idx", F.col("role").alias("_u"))
        .withColumn("_v", F.lead("_u", 1).over(w))
        .where(F.col("_v").isNotNull())
        .groupBy("_u", "_v")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    w_u = Window.partitionBy("_u")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # |roles|^2 rows, reused by every iteration
    cells = persist_intermediate(trans.select(
        "_u",
        "_v",
        (F.col("_n").cast("double") / F.sum("_n").over(w_u).cast("double")).alias(
            "_p"
        ),
    ))
    roles = cells.select(F.col("_u").alias("_r")).distinct()
    k = roles.count()
    pi = roles.select("_r", F.lit(1.0 / float(k)).alias("_pi"))
    for _ in range(int(n_iter)):
        j = pi.join(cells, pi["_r"] == cells["_u"]).select(
            F.col("_v"), F.col("_u"), (F.col("_pi") * F.col("_p")).alias("_t")
        )
        pi = j.groupBy(F.col("_v").alias("_r")).agg(*ordered_sums(["_u"], _pi=F.col("_t")))
    marg = trans.groupBy(F.col("_v").alias("_r")).agg(
        F.sum("_n").cast("long").alias("_m")
    )
    margn = marg.withColumn("_nn", F.sum("_m").over(w_all).cast("long"))
    mshare = F.col("_m").cast("double") / F.col("_nn").cast("double")
    out = pi.join(margn.select("_r", mshare.alias("marginal")), "_r", "left")
    return out.select(
        F.col("_r").alias("role"),
        F.col("_pi").alias("pi"),
        "marginal",
        (F.col("_pi") - F.coalesce(F.col("marginal"), F.lit(0.0))).alias("gap"),
    )
