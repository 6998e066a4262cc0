"""Per-conversation profile features: signal trend, temporal activity,
response latency.

The conversation-level summary features a curation pipeline filters and
stratifies on, complementing the morphology block (kernels/shape.py —
duration/gap/role-entropy) with the three families it does not cover:
the signal's TREND along the turn axis (is quality degrading over the
conversation?), the wall-clock ACTIVITY profile (when does the
conversation happen — bot traffic has flat hour histograms and no
weekend dip), and role-pair RESPONSE latency (user→assistant turnaround,
the serving-quality signal).

Scale + determinism shape shared by all three: one hash exchange on
conv_id (the same exchange every per-conversation operator in the
engine rides), map-side-combined exact integer sufficient statistics
(the signal is integer-valued by the engine's signal contract;
timestamps are exact microsecond longs; hour/weekday counts are
integers), and every emitted float is a FIXED chain of single IEEE ops
over those integers — so the DuckDB oracles replay every feature
bit-for-bit. No float summation exists anywhere in this module.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import convstats
from .exprs import (
    MIX31_A,
    epoch_us,
    literal_frame,
    mix31,
    ordered_sums,
    running_counts,
    value_at_rank,
    words,
)
from .sessionize import spearman_trend
from .skew import ORDER as _ORDER, conv_window


def signal_trend(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Per-conversation OLS trend of the signal against the turn
    ordinal (0-based position under the stable (ts, turn_idx) order):

        slope     = (n*Six - Si*Sx) / (n*Sii - Si*Si)
        intercept = (Sx - slope*Si) / n
        r         = (n*Six - Si*Sx) /
                    (sqrt(n*Sii - Si*Si) * sqrt(n*Sxx - Sx*Sx))

    A negative slope on a quality signal = the conversation degrades as
    it runs — the classic long-conversation filter criterion.

    Determinism: the six sufficient statistics (n, Si, Sii, Sx, Sxx,
    Six) are exact longs (ordinal and integer signal products); each is
    cast to double ONCE and the closed forms are fixed chains of single
    IEEE ops, so the SQL oracle replays slope/intercept/r bit-for-bit.
    Long bound: Sii <= n^3/3, exact for conversations under ~3M turns;
    the double chain itself has no magnitude limit.

    NULL-signal turns keep their ordinal (position is positional) but
    contribute to no sum. slope/intercept/r are NULL for degenerate
    fits (fewer than 2 scored turns or a constant regressor/signal).

    Output: (conv_id, n long, slope double, intercept double, r double).

    Formula: the ``convstats.trend`` table row, shared with
    conversation_features.
    """
    return convstats.build(df, convstats.trend(signal_col))


def temporal_profile(df: DataFrame) -> DataFrame:
    """Per-conversation wall-clock activity profile: the hour-of-day
    histogram summarized to peak hour (earliest hour on ties), peak
    share, Shannon entropy (bits; 0 = single-hour burst, log2(24) ≈
    4.58 = uniform — the bot-traffic flatness score), plus the night
    (00-05h) and weekend fractions.

    Determinism: 24 map-side hour counts + weekend/night counts per
    conversation — all exact integers; the peak is greatest() over the
    24 counts with a COALESCE first-match for the hour (earliest wins,
    exactly mirrorable in SQL); the entropy is a fixed 24-term chain
    with zero-count terms contributing exactly 0. All bit-replayable.

    Hours and weekdays are taken in the session timezone (the engine
    pins UTC); weekend = Saturday or Sunday.

    Output: (conv_id, n long, peak_hour int, peak_frac double,
    hour_entropy double, night_frac double, weekend_frac double).

    Formula: the ``convstats.hours`` table row, shared with
    conversation_features.
    """
    return convstats.build(df, convstats.hours())


def response_latency(
    df: DataFrame, from_role: str = "user", to_role: str = "assistant"
) -> DataFrame:
    """Per-conversation response-latency statistics for a role pair:
    over every turn of ``to_role`` whose IMMEDIATELY preceding turn (in
    the stable (ts, turn_idx) order) belongs to ``from_role``, the gap
    between the two timestamps — the user→assistant turnaround a
    serving-quality filter thresholds on.

    Determinism: gaps are exact microsecond longs (timestamp
    subtraction); min/max are exact and the mean is one exact long sum
    + one division — bit-replayable. Conversations with no qualifying
    response pair emit no row (the absence IS the feature; left-join
    this output when a dense frame is needed).

    One lag window + one groupBy on the same conv_id key — single
    exchange, reused.

    Output: (conv_id, n_resp long, mean_us double, min_us long,
    max_us long).

    Formula: the ``convstats.latency`` table row, shared with
    conversation_features.
    """
    row = convstats.latency(from_role, to_role)
    return convstats.build(df, row).where("n_resp IS NOT NULL")  # no pair, no row


def conversation_features(df: DataFrame) -> DataFrame:
    """One wide per-conversation feature frame composing the
    conversation-level operators: role-transition Markov structure
    (incl. the conditional-entropy predictability), same-role run
    lengths, lag-1..3 signal autocorrelation, signal
    trend (OLS + Pearson r), Theil-Sen robust trend, Spearman rank
    trend, temporal activity profile, arrival-process burstiness/Fano,
    the most-likely mean changepoint, prompt→response signal coupling,
    and user→assistant response latency — the single table a curation
    pipeline filters/stratifies conversations on.

    The tabled members (convstats: trend, transitions, autocorr, hours,
    gaps, changepoint, theil_sen, coupling, latency) are ONE
    convstats.build — one window projection, one groupBy(conv_id), one
    output projection, so one hash exchange — with each member's outputs
    picked and renamed, never restated. Spearman's midrank windows order
    by value, so its frame is equi-joined on conv_id. Latency and
    pair-coupling columns are NULL for conversations with no
    user→assistant pair (the absence is the feature); the changepoint
    and Theil-Sen columns are NULL for a one-turn conversation.

    Output: conv_id + 38 feature columns, one row per conversation.
    """
    sig = "signal"
    # one sorted collect serves Theil-Sen and the two folds below
    seq = convstats.theil_sen(sig, carry=(("_r", "role"), ("_hb", convstats.HOUR_BUCKET)))
    L0 = "CAST(0 AS BIGINT)"
    # a run boundary is a role change in the stable order (the islands of
    # role_run_stats); exact long counts
    runs = (
        "aggregate(transform(_sen_a, s -> s._r), "
        f"named_struct('prev', CAST(NULL AS STRING), 'cur', {L0}, 'mx', {L0}, 'cnt', {L0}), "
        "(acc, r) -> CASE WHEN acc.prev IS NULL OR NOT (r <=> acc.prev) "
        "THEN named_struct('prev', r, 'cur', CAST(1 AS BIGINT), "
        "'mx', greatest(acc.mx, CAST(1 AS BIGINT)), 'cnt', acc.cnt + 1) "
        "ELSE named_struct('prev', r, 'cur', acc.cur + 1, "
        "'mx', greatest(acc.mx, acc.cur + 1), 'cnt', acc.cnt) END)"
    )
    # hour buckets are monotone in ts, so same-bucket runs are contiguous:
    # one fold gives arrival_stats' exact per-bucket sum of squares
    scc = (
        "aggregate(transform(_sen_a, s -> s._hb), "
        f"named_struct('prev', CAST(NULL AS BIGINT), 'c', {L0}, 'scc', {L0}), "
        "(acc, b) -> CASE WHEN acc.prev IS NULL OR b != acc.prev "
        "THEN named_struct('prev', b, 'c', CAST(1 AS BIGINT), 'scc', acc.scc + acc.c * acc.c) "
        "ELSE named_struct('prev', b, 'c', acc.c + 1, 'scc', acc.scc) END, "
        "acc -> acc.scc + acc.c * acc.c)"
    )
    hb = "transform(_sen_a, s -> s._hb)"
    # Fused-only shapes: role_run_stats and arrival_stats' Fano side use
    # islands and an hour pre-aggregate, which keep a giant conversation
    # out of one array row; here the array is collected anyway.
    folds = convstats.Member(
        turn=(),
        aggs=(),
        post=(
            ("_runs", runs),
            ("_scc", scc),
            ("_nb", f"CAST((element_at({hb}, -1) - element_at({hb}, 1) + 1) AS BIGINT)"),
        ),
        out=(
            ("n_runs", "_runs.cnt"),
            ("max_run", "_runs.mx"),
            ("mean_run", "CAST(_sen_n AS DOUBLE) / CAST(_runs.cnt AS DOUBLE)"),
            ("fano_hourly",
             "CAST((_nb * _scc - _sen_n * _sen_n) AS DOUBLE) / CAST((_nb * _sen_n) AS DOUBLE)"),
        ),
    )
    fused = convstats.build(
        df,
        convstats.trend(sig),
        convstats.transitions(),
        convstats.autocorr(sig).pick("ac_1", "ac_2", "ac_3"),
        convstats.hours().pick("peak_hour", "peak_frac", "hour_entropy", "night_frac",
                               "weekend_frac"),
        convstats.gaps().pick("span_s", "mean_gap_s", "cv_gap", "burstiness"),
        convstats.changepoint(sig).pick("cp_turn", mean_gap="cp_gap", g_stat="cp_stat"),
        seq.pick("sen_slope", "sen_intercept"),
        folds,
        convstats.coupling().pick("n_pairs", r="pair_r"),
        convstats.latency().pick("mean_us", "min_us", "max_us", n_resp="n_responses"),
    )
    # Spearman ranks over a value ordering, not the turn window: a join
    out = fused.join(spearman_trend(df).drop("n"), "conv_id")
    return out.select(
        "conv_id", "n", "slope", "intercept", "r",
        "n_trans", "n_distinct_trans", "self_loop_ratio", "trans_entropy",
        "prev_entropy", "cond_entropy",
        "n_runs", "max_run", "mean_run",
        "ac_1", "ac_2", "ac_3",
        "rho",
        "peak_hour", "peak_frac", "hour_entropy", "night_frac", "weekend_frac",
        "span_s", "mean_gap_s", "cv_gap", "burstiness", "fano_hourly",
        "cp_turn", "cp_gap", "cp_stat",
        "sen_slope", "sen_intercept",
        "n_pairs", "pair_r",
        "n_responses", "mean_us", "min_us", "max_us",
    )


def daily_activity(df: DataFrame) -> DataFrame:
    """Daily corpus activity rollup: per UTC day, the number of active
    conversations, how many are NEW (first-ever day), and next-day
    retention — the monitoring dashboard's top line (a scraper outage
    shows as an actives cliff; a bot flood as a new-conversation spike
    with zero retention).

        n_active    distinct conversations with >= 1 turn that day
        n_new       whose first-ever active day is that day
        n_retained  of that day's actives, how many are also active
                    the NEXT calendar day
        retention   n_retained / n_active

    Shape: turns collapse to the distinct (conv, day) grid first (one
    map-side-combined aggregate — the state is conversation-days, never
    turns), firsts come from a min-day aggregate on the SAME grid, and
    retention is a self equi-join of the grid on (conv, day+1) — all
    exact integers + one division, oracle-replayable. The final per-day
    rollup is |days| rows.

    Output: (day date, n_active long, n_new long, n_retained long,
    retention double).
    """
    day = F.to_date(F.col("ts").cast("timestamp"))
    grid = df.select("conv_id", day.alias("day")).distinct()
    firsts = grid.groupBy("conv_id").agg(F.min("day").alias("_first"))
    nxt = grid.select(
        "conv_id", F.date_sub(F.col("day"), 1).alias("day"), F.lit(1).alias("_n")
    )
    # no broadcast hint: firsts is one row PER CONVERSATION, unbounded
    # by any parameter (the skew.py lesson) — the equi-join stays on
    # conv_id and AQE may still broadcast when it is actually small
    j = grid.join(firsts, "conv_id").join(nxt, ["conv_id", "day"], "left")
    out = j.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.count(F.when(F.col("_first") == F.col("day"), 1))
        .cast("long")
        .alias("n_new"),
        F.count("_n").cast("long").alias("n_retained"),
    )
    return out.withColumn(
        "retention",
        F.col("n_retained").cast("double") / F.col("n_active").cast("double"),
    )


def arrival_stats(df: DataFrame) -> DataFrame:
    """Per-conversation inter-arrival statistics: whole-second turn gaps
    (mean, coefficient of variation), the Goh-Barabási burstiness index
    B = (sigma - mu) / (sigma + mu) (B -> -1 periodic, 0 Poisson, -> 1
    bursty — the bot-vs-human arrival fingerprint), and the hourly Fano
    factor (variance/mean of turns per wall-clock hour over the
    conversation's FULL span, empty hours counted as zeros; Fano 1 =
    Poisson, >> 1 = clumped).

    Determinism: gaps are exact integer seconds (floor of the exact
    microsecond difference), so sum and sum-of-squares are exact longs;
    sigma^2 = (n*Sgg - Sg*Sg) / n^2 has an exact integer numerator.
    The Fano factor folds the same trick over the hour buckets:
    Fano = (B*Sum(c^2) - n^2) / (B*n) with B = span hour-buckets — one
    exact integer numerator, one division. All bit-replayable.

    Scale shape: one lag window + one groupBy sharing the conv_id
    exchange for the gap side; the hourly side compacts to (conv, hour
    bucket) counts before its per-conversation fold; the two one-row-
    per-conversation frames meet in a conv_id equi-join.

    Output: (conv_id, n_turns long, span_s long, mean_gap_s double,
    cv_gap double, burstiness double, fano_hourly double).

    Formula: the gap side is the ``convstats.gaps`` table row, shared
    with conversation_features.
    """
    # hourly Fano over the full span: counts per hour bucket, then the
    # exact-integer fold (empty buckets contribute 0 to both sums)
    ts_us = epoch_us("ts")
    hb = (ts_us - ts_us % 3600000000) / F.lit(3600000000)
    per_h = df.groupBy("conv_id", hb.cast("long").alias("_hb")).agg(
        F.count("*").cast("long").alias("_c")
    )
    h = per_h.groupBy("conv_id").agg(
        F.min("_hb").alias("_hb0"),
        F.max("_hb").alias("_hb1"),
        F.sum(F.col("_c") * F.col("_c")).alias("_scc"),
        F.sum("_c").cast("long").alias("_nh"),
    )
    nb = (F.col("_hb1") - F.col("_hb0") + F.lit(1)).cast("long")
    fano = (
        (nb * F.col("_scc") - F.col("_nh") * F.col("_nh")).cast("double")
        / (nb * F.col("_nh")).cast("double")
    )
    return convstats.build(df, convstats.gaps()).join(
        h.select("conv_id", fano.alias("fano_hourly")), "conv_id"
    )


def pair_signal_correlation(
    df: DataFrame,
    prompt_role: str = "user",
    response_role: str = "assistant",
    signal_col: str = "signal",
) -> DataFrame:
    """Per-conversation Pearson correlation between adjacent
    (prompt, response) role-pair signals: does the assistant's signal
    track the user's on the immediately preceding turn? The dialog
    coupling feature next to response_latency (latency says how fast
    the reply comes; this says whether its intensity follows the
    prompt's).

    Pairs are the turn_pairs contract: every response_role turn whose
    immediately preceding turn (stable (ts, turn_idx) order) is
    prompt_role. Determinism: five exact-long sufficient statistics per
    conversation (integer signal contract), Pearson r as the
    integer-numerator closed form

        r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))

    — one sqrt, two divisions-worth of float ops, bit-replayable.
    r is NULL when either marginal variance is zero or n < 2.

    One lag window + one groupBy sharing the conv_id exchange.

    Output: (conv_id, n_pairs long, mean_prompt double, mean_response
    double, r double).

    Formula: the ``convstats.coupling`` table row, shared with
    conversation_features.
    """
    row = convstats.coupling(prompt_role, response_role, signal_col)
    return convstats.build(df, row).where("n_pairs IS NOT NULL")  # no pair, no row


def theil_sen_trend(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Theil-Sen robust trend per conversation: the median over all turn
    pairs (i < j) of the slope (y_j - y_i) / (j - i) against the turn
    ordinal, plus the matching intercept median(y_i - slope * i) — the
    outlier-resistant companion to signal_trend's OLS (one wild turn
    moves OLS; the pairwise-median slope shrugs it off; Sen 1968).

    OPT-IN O(n^2) per conversation (the Moran's-I cost contract): the
    pairwise slope array is built as a nested higher-order expression
    over the per-conversation signal array — n(n-1)/2 doubles per
    conversation, fine for bounded-turn transcripts, wrong for
    million-event keys. Use signal_trend for the O(n) screen and this
    for the robust confirm.

    Determinism: each slope is ONE division of an exact integer-valued
    difference pair; the median picks sorted elements (even case:
    midpoint, two single ops) — the SQL oracle replays the same nested
    list build, sort, and picks. NULL when n < 2.

    Output: (conv_id, n_turns long, sen_slope double, sen_intercept
    double).

    Formula: the ``convstats.theil_sen`` table row, shared with
    conversation_features.
    """
    return convstats.build(df, convstats.theil_sen(signal_col))


def changepoint(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Single most-likely mean changepoint per conversation (binary
    segmentation step 1, the at-most-one-change CUSUM statistic): the
    split t maximizing |t-prefix mean - suffix mean| weighted by the
    split sizes — equivalently the INTEGER statistic

        G_t = |n * S_t - t * S_n|,   t = 1 .. n-1

    over exact prefix sums, which is what makes the operator fully
    order-free: the argmax compares exact longs (ties to the earliest
    t), so there is not a single float comparison in the selection; the
    emitted left/right means and their gap are single divisions at the
    winning split only.

    One prefix-sum window + one groupBy MAX over a (G, -t, payload)
    struct sharing the conv_id exchange — the same cost class as every
    per-conversation aggregate.

    Output: (conv_id, n_turns long, cp_turn long — the last turn index
    of the left segment in (ts, turn_idx) ordinal terms, cp_ts_us long,
    mean_left double, mean_right double, mean_gap double, g_stat
    double = G / n^2, the scale-free score). Conversations with n < 2
    emit NULLs for the changepoint fields.

    Formula: the ``convstats.changepoint`` table row, shared with
    conversation_features.
    """
    return convstats.build(df, convstats.changepoint(signal_col))


def volume_anomaly(df: DataFrame, group_col: str = "role") -> DataFrame:
    """Daily volume anomaly flags per group: each (group, UTC day)'s
    turn count scored against the group's own daily distribution with
    the robust modified z-score

        mz = 0.6745 * (n - median) / MAD,   anomaly when |mz| > 3.5

    (Iglewicz & Hoaglin 1993 — the outage/bot-flood detector that one
    wild day cannot poison, unlike a mean/std chart).

    Scale + determinism shape: the day grid is tiny (groups x days), so
    the median/MAD are sorted-array element picks over the per-group
    collected day-count list (bounded by the calendar, not the data);
    counts are exact integers and the score is two subtractions, one
    multiply, one division. Bit-replayable.

    Output: (group_col, day string, n long, med double, mad double,
    mz double, is_anomaly boolean). mz is NULL (never anomalous) when
    MAD = 0.
    """
    day = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
    counts = df.groupBy(F.col(group_col), day.alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )

    from .exprs import sorted_median as _median

    per = counts.groupBy(group_col).agg(
        F.sort_array(F.collect_list(F.col("n").cast("double"))).alias("_ns")
    )
    per = per.withColumn("med", _median(F.col("_ns")))
    per = per.withColumn(
        "mad",
        _median(
            F.array_sort(
                F.transform(F.col("_ns"), lambda v: F.abs(v - F.col("med")))
            )
        ),
    ).select(group_col, "med", "mad")
    out = counts.join(F.broadcast(per), group_col)
    mz = F.lit(0.6745) * (F.col("n").cast("double") - F.col("med")) / F.col("mad")
    return out.select(
        group_col,
        "day",
        "n",
        "med",
        "mad",
        F.when(F.col("mad") > 0, mz).alias("mz"),
        F.coalesce(
            F.when(F.col("mad") > 0, F.abs(mz) > F.lit(3.5)), F.lit(False)
        ).alias("is_anomaly"),
    )


def event_uplift(
    df: DataFrame,
    event_role: str = "system",
    signal_col: str = "signal",
) -> DataFrame:
    """Per-conversation event study: the signal's mean BEFORE vs AFTER
    the conversation's first ``event_role`` turn (the engine's error
    marker), and their difference — the interrupted-time-series uplift
    a quality dashboard attributes to the event ('does an error turn
    depress the rest of the conversation?').

    The event anchor is the (ts, turn_idx)-minimal event turn (exact
    struct MIN — deterministic under ties); 'before' is strictly
    earlier in that order, 'after' is strictly later (the event turn
    itself belongs to neither window). Exact integer sums, two
    divisions, one subtraction. Conversations without an event emit
    has_event = false and NULL windows.

    One groupBy for the anchor + one conditional re-aggregate over the
    same conv_id exchange; the anchor frame joins back on conv_id.

    Output: (conv_id, has_event boolean, n_before long, n_after long,
    mean_before double, mean_after double, uplift double).
    """
    ts_us = epoch_us("ts")
    key = F.struct(ts_us.alias("t"), F.col("turn_idx").cast("long").alias("i"))
    anchors = df.groupBy("conv_id").agg(
        F.min(F.when(F.col("role") == event_role, key)).alias("_ev")
    )
    j = df.join(anchors, "conv_id")
    k = key
    before = k < F.col("_ev")
    after = k > F.col("_ev")
    x = F.col(signal_col).cast("long")
    g = j.groupBy("conv_id").agg(
        F.max(F.col("_ev").isNotNull()).alias("has_event"),
        F.count(F.when(before, x)).cast("long").alias("n_before"),
        F.count(F.when(after, x)).cast("long").alias("n_after"),
        F.sum(F.when(before, x)).alias("_sb"),
        F.sum(F.when(after, x)).alias("_sa"),
    )
    mb = F.col("_sb").cast("double") / F.when(F.col("n_before") > 0, F.col("n_before").cast("double"))
    ma = F.col("_sa").cast("double") / F.when(F.col("n_after") > 0, F.col("n_after").cast("double"))
    return g.select(
        "conv_id",
        "has_event",
        "n_before",
        "n_after",
        mb.alias("mean_before"),
        ma.alias("mean_after"),
        (ma - mb).alias("uplift"),
    )


def time_weighted_mean(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Per-conversation TIME-weighted signal mean: each turn's signal
    weighted by how long it 'held' (the gap to the next turn in exact
    microseconds) — the telemetry-correct average for state-like
    signals, where the arithmetic mean over-counts rapid-fire turns
    (a 1-second burst of ten 9s should not dominate an hour at 2).

        twm = sum(x_i * hold_us_i) / sum(hold_us_i)

    The last turn holds nothing (no successor) and is excluded, which
    is the standard last-observation convention for bounded windows.
    Exact integer products and sums (signal <= 9, holds <= the
    conversation span — products well inside int64), one division.
    One lead window + one groupBy on the shared conv_id exchange.

    Output: (conv_id, n_held long, held_us long, twm double,
    plain_mean double — the unweighted mean over the same held turns,
    for the over-count diagnostic twm - plain_mean).
    """
    ts_us = epoch_us("ts")
    w = conv_window()
    hold = F.lead(ts_us).over(w) - ts_us
    x = F.col(signal_col).cast("long")
    p = df.select("conv_id", x.alias("_x"), hold.alias("_h")).where(
        F.col("_h").isNotNull() & F.col("_x").isNotNull()
    )
    g = p.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_held"),
        F.sum("_h").cast("long").alias("held_us"),
        F.sum(F.col("_x") * F.col("_h")).alias("_sxh"),
        F.sum("_x").alias("_sx"),
    )
    return g.select(
        "conv_id",
        "n_held",
        "held_us",
        F.when(
            F.col("held_us") > 0,
            F.col("_sxh").cast("double") / F.col("held_us").cast("double"),
        ).alias("twm"),
        (F.col("_sx").cast("double") / F.col("n_held").cast("double")).alias(
            "plain_mean"
        ),
    )


def oscillation_stats(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Per-conversation signal oscillation: how often the signal's
    DIRECTION flips (an up-move followed by a down-move or vice versa,
    zero moves transparent) — the dither/volatility feature
    autocorrelation misses (a slow sine and a fast square wave can share
    lag-1 autocorrelation; their flip rates differ wildly).

    sign of each nonzero move is an exact integer; a flip is a sign
    change between consecutive NONZERO moves (the last-nonzero-sign
    carry rides a windowed MAX over the move ordinal — still exact
    integers end to end). flip_rate = n_flips / (n_moves - 1).

    Two stacked windows on the shared conv_id exchange + one groupBy.

    Output: (conv_id, n_turns long, n_moves long, n_flips long,
    flip_rate double — NULL when fewer than 2 nonzero moves).
    """
    w = conv_window()
    x = F.col(signal_col).cast("long")
    d = x - F.lag(x).over(w)
    sgn = F.when(d > 0, F.lit(1)).when(d < 0, F.lit(-1))
    p = df.select("conv_id", F.col("ts"), F.col("turn_idx"), sgn.alias("_s"))
    # last nonzero sign BEFORE this row: lag over the nonzero-only frame
    moves = p.where(F.col("_s").isNotNull()).select(
        "conv_id",
        "ts",
        "turn_idx",
        "_s",
        F.lag("_s").over(conv_window()).alias("_prev"),
    )
    g = moves.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_moves"),
        F.count(F.when(F.col("_prev").isNotNull() & (F.col("_s") != F.col("_prev")), 1))
        .cast("long")
        .alias("n_flips"),
    )
    sizes = df.groupBy("conv_id").agg(F.count("*").cast("long").alias("n_turns"))
    out = sizes.join(g, "conv_id", "left")
    nm = F.coalesce(F.col("n_moves"), F.lit(0))
    return out.select(
        "conv_id",
        "n_turns",
        nm.cast("long").alias("n_moves"),
        F.coalesce(F.col("n_flips"), F.lit(0)).cast("long").alias("n_flips"),
        F.when(
            nm > 1,
            F.coalesce(F.col("n_flips"), F.lit(0)).cast("double")
            / (nm - F.lit(1)).cast("double"),
        ).alias("flip_rate"),
    )


def signal_transition_entropy(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """First-order Markov structure of the SIGNAL sequence per
    conversation: joint/marginal/conditional entropy over (prev, cur)
    signal-value transitions — the numeric twin of the role-transition
    predictability block (a flat conditional entropy means the signal
    wanders; near zero means it tracks itself).

    Counts per (conv, prev, cur) are exact integers; the joint and
    marginal entropies are ``exprs.ordered_sums`` over the compacted
    (prev, cur) / prev cells of each conversation (at most |values|^2
    cells per conversation). H(cur|prev) = H(joint) -
    H(prev) — two folds and one subtraction.

    Output: (conv_id, n_trans long, n_cells long, joint_entropy double,
    prev_entropy double, cond_entropy double — NULL for conversations
    with no transition).
    """
    w = conv_window()
    x = F.col(signal_col).cast("long")
    # each transition carries its conversation's transition count n, on
    # the window's own partitioning and order, so every cell's p log2 p
    # term is known before the collect
    p = df.select(
        "conv_id", x.alias("_cur"), F.lag(x).over(w).alias("_prev")
    ).where(F.col("_prev").isNotNull() & F.col("_cur").isNotNull())
    p = p.withColumn("_n", F.count("*").over(Window.partitionBy("conv_id")))
    # p*log2(p) of a cell (or marginal) count _c
    plogp = (F.col("_c").cast("double") / F.col("_n").cast("double")) * F.log2(
        F.col("_c").cast("double") / F.col("_n").cast("double")
    )
    cells = p.groupBy("conv_id", "_prev", "_cur").agg(
        F.count("*").cast("long").alias("_c"), F.max("_n").alias("_n")
    )
    per = cells.groupBy("conv_id").agg(
        F.sum("_c").cast("long").alias("n_trans"),
        F.count("*").cast("long").alias("n_cells"),
        *ordered_sums(["_prev", "_cur"], _joint=plogp),
    )
    joint = -F.col("_joint")
    marg = p.groupBy("conv_id", "_prev").agg(
        F.count("*").cast("long").alias("_c"), F.max("_n").alias("_n")
    )
    perm = marg.groupBy("conv_id").agg(*ordered_sums(["_prev"], _prev_h=plogp))
    out = per.join(perm, "conv_id")
    prev_h = -F.col("_prev_h")
    return out.select(
        "conv_id",
        "n_trans",
        "n_cells",
        joint.alias("joint_entropy"),
        prev_h.alias("prev_entropy"),
        (joint - prev_h).alias("cond_entropy"),
    )


def role_token_ratios(
    df: DataFrame,
    text_col: str = "text",
    num_role: str = "assistant",
    den_role: str = "user",
) -> DataFrame:
    """Per-conversation verbosity balance: whitespace-token totals per
    role and the assistant/user token ratio — the SFT length-balance
    stat (a corpus of one-word prompts with essay replies trains a
    different model than balanced dialog; stratify on this before
    packing).

    One aggregation pass with conditional exact-integer token sums; the
    ratio is one division (NULL when the denominator role contributed
    no tokens).

    Output: (conv_id, n_turns long, tokens_num long, tokens_den long,
    token_ratio double).
    """
    n_toks = F.size(words(F.col(text_col))).cast("long")
    g = df.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.coalesce(F.sum(F.when(F.col("role") == num_role, n_toks)), F.lit(0))
        .cast("long")
        .alias("tokens_num"),
        F.coalesce(F.sum(F.when(F.col("role") == den_role, n_toks)), F.lit(0))
        .cast("long")
        .alias("tokens_den"),
    )
    return g.withColumn(
        "token_ratio",
        F.when(
            F.col("tokens_den") > 0,
            F.col("tokens_num").cast("double") / F.col("tokens_den").cast("double"),
        ),
    )


def max_drawdown(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Per-conversation maximum drawdown of the signal: the deepest drop
    from a running peak, in absolute units and as a fraction of that
    peak — the 'how badly did quality collapse mid-conversation'
    summary (the trend/changepoint block says WHERE it moved; drawdown
    bounds the worst excursion).

        dd_t   = peak_t - x_t,    peak_t = running max under the stable
                                  (ts, turn_idx) order
        max_dd = max_t dd_t;  the fractional form divides by the peak AT
        the argmax step (exact integer argmax over (dd, -ordinal):
        earliest deepest step wins — no float comparison).

    Exact integers end to end (running max, subtraction, argmax struct);
    the fraction is one division. One running window + one groupBy on
    the shared conv_id exchange.

    Output: (conv_id, n long, peak long, max_dd long, dd_frac double —
    NULL when the peak at the worst step is 0).
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    x = F.col(signal_col).cast("long")
    ord_w = conv_window()
    p = df.select(
        "conv_id",
        x.alias("_x"),
        F.max(x).over(w).alias("_peak"),
        (F.row_number().over(ord_w)).cast("long").alias("_i"),
    ).withColumn("_dd", F.col("_peak") - F.col("_x"))
    best = p.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n"),
        F.max("_peak").cast("long").alias("peak"),
        F.max(
            F.struct(
                F.col("_dd").alias("dd"),
                (-F.col("_i")).alias("negi"),
                F.col("_peak").alias("pk"),
            )
        ).alias("_b"),
    )
    b = F.col("_b")
    return best.select(
        "conv_id",
        "n",
        "peak",
        b["dd"].cast("long").alias("max_dd"),
        F.when(
            b["pk"] > 0, b["dd"].cast("double") / b["pk"].cast("double")
        ).alias("dd_frac"),
    )


def von_neumann_ratio(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Von Neumann ratio per conversation — the classic
    randomness-vs-trend test on the successive differences
    (von Neumann 1941):

        vn = (sum d_i^2 / (n - 1)) / s^2,   d_i = x_{i+1} - x_i,
        s^2 the unbiased variance

    vn ~ 2 for serially independent values; << 2 means positive serial
    correlation (trend/stickiness), >> 2 alternation — the one-number
    companion to the full lag-k autocorrelation block.

    Exact integer sufficient statistics (sum d^2 from a lag window;
    n*Sxx - Sx^2 variance form), two divisions and one final divide —
    bit-replayable. One lag window + one groupBy on the shared conv_id
    exchange. NULL when n < 2 or zero variance.

    Output: (conv_id, n long, mssd double, variance double, vn double).
    """
    w = conv_window()
    x = F.col(signal_col).cast("long")
    d = x - F.lag(x).over(w)
    p = df.select("conv_id", x.alias("_x"), d.alias("_d"))
    g = p.groupBy("conv_id").agg(
        F.count("_x").cast("long").alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.coalesce(F.sum(F.col("_d") * F.col("_d")), F.lit(0)).alias("_sdd"),
    )
    n = F.col("n").cast("double")
    mssd = F.col("_sdd").cast("double") / F.when(F.col("n") > 1, n - F.lit(1.0))
    var = (
        n * F.col("_sxx").cast("double")
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    ) / F.when(F.col("n") > 1, n * (n - F.lit(1.0)))
    return g.select(
        "conv_id",
        "n",
        mssd.alias("mssd"),
        var.alias("variance"),
        F.when(var > 0, mssd / var).alias("vn"),
    )


def hurst_rs(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Single-window rescaled-range (R/S) statistic per conversation —
    the classic Hurst long-memory probe (Hurst 1951; Mandelbrot &
    Wallis 1969) on the turn-ordered signal:

        dev_i = prefix_i - i * mean      (cumulative deviation)
        R     = max_i dev_i - min_i dev_i
        S     = population std
        rs    = R / S,   hurst = ln(rs) / ln(n)

    hurst ~ 0.5 for an uncorrelated signal, -> 1 for persistent trends,
    -> 0 for mean-reverting alternation — the long-memory companion to
    the von Neumann lag-1 ratio ([[von_neumann_ratio]] above tests ONE
    lag; R/S integrates over every horizon at once).

    Determinism: the ordinal and prefix sum are exact longs (integer
    window sum under the stable (ts, turn_idx) order); each dev_i is a
    fixed 3-op IEEE chain (cast, multiply, subtract) over those exact
    longs, and max/min over deterministic doubles are value-based — so
    the SQL oracle replays R bit-for-bit. S uses the exact-integer
    variance numerator n*Sxx - Sx^2 (single sqrt). No float summation
    anywhere.

    Scale: one running window + one full-partition window + one groupBy,
    all on the shared conv_id exchange — a single shuffle, map-side
    combined. NULL-signal turns are excluded up front (the ordinal must
    index scored turns for the prefix/mean algebra to agree).

    Output: (conv_id, n long, rng double, sdev double, rs double — NULL
    when S = 0 or n < 2, hurst double — NULL when rs <= 0 or n < 2).
    """
    x = F.col(signal_col).cast("long")
    scored = df.where(x.isNotNull())
    run = (
        Window.partitionBy("conv_id")
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    full = (
        Window.partitionBy("conv_id")
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ord_w = conv_window()
    p = scored.select(
        "conv_id",
        x.alias("_x"),
        F.sum(x).over(run).alias("_prefix"),
        F.row_number().over(ord_w).cast("long").alias("_i"),
        F.count(x).over(full).alias("_n"),
        F.sum(x).over(full).alias("_sx"),
    )
    mean = F.col("_sx").cast("double") / F.col("_n").cast("double")
    dev = F.col("_prefix").cast("double") - F.col("_i").cast("double") * mean
    g = p.withColumn("_dev", dev).groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n"),
        F.max("_dev").alias("_dmax"),
        F.min("_dev").alias("_dmin"),
        F.sum("_x").alias("_sxg"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    nd = F.col("n").cast("double")
    rng = F.col("_dmax") - F.col("_dmin")
    var_num = F.col("n") * F.col("_sxx") - F.col("_sxg") * F.col("_sxg")
    sdev = F.sqrt(var_num.cast("double") / (nd * nd))
    rs = F.when((F.col("n") > 1) & (sdev > 0), rng / sdev)
    hurst = F.when((F.col("n") > 1) & (rs > 0), F.log(rs) / F.log(nd))
    return g.select(
        "conv_id",
        "n",
        rng.alias("rng"),
        sdev.alias("sdev"),
        rs.alias("rs"),
        hurst.alias("hurst"),
    )


def sax_word(df: DataFrame, w: int = 4, signal_col: str = "signal") -> DataFrame:
    """SAX symbolization (Lin, Keogh, Lonardi & Chiu, DMKD 2003) of the
    per-conversation signal: piecewise-aggregate approximation into
    ``w`` equal-width segments under the stable (ts, turn_idx) order,
    each segment mean standardized by the conversation's own mean/std
    and mapped onto the 4-symbol Gaussian-equiprobable alphabet

        z < -0.6745 -> 'a',  z < 0 -> 'b',  z < 0.6745 -> 'c',
        else 'd'         (breakpoints = N(0,1) quartiles)

    The resulting word ('dcba' = monotone decay, 'bdbd' = oscillation)
    is the groupable motif key the raw signal can never be — identical
    shapes hash together regardless of level or scale.

    Determinism: segment index = floor(i*w/n) over exact longs (the
    double quotient of sub-2^53 integers cannot round across an integer
    boundary since |i*w/n - k| >= 1/n >> ulp when not exact); the PAA
    mean, conversation mean, and std are fixed IEEE chains over exact
    integer sums (same variance chain as [[hurst_rs]]); breakpoint
    comparisons on deterministic doubles; the word is assembled in
    explicit seg order. Zero-variance conversations standardize to
    z = 0 -> all-'c' words by convention.

    Scale: ordinal window + (conv, seg) groupBy + conv groupBy — the
    seg key is a refinement of conv_id, so AQE coalesces everything
    onto the one conv_id exchange; the final collect_list holds at most
    ``w`` structs per group. Conversations shorter than ``w`` turns get
    one symbol per turn (min(n, w)-length words).

    Output: (conv_id, n long, n_segments long, word string).
    """
    if w < 1:
        raise ValueError(f"sax_word: w must be >= 1, got {w}")
    x = F.col(signal_col).cast("long")
    scored = df.where(x.isNotNull())
    full = (
        Window.partitionBy("conv_id")
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ord_w = conv_window()
    p = scored.select(
        "conv_id",
        x.alias("_x"),
        (F.row_number().over(ord_w).cast("long") - F.lit(1)).alias("_i0"),
        F.count(x).over(full).alias("_n"),
        F.sum(x).over(full).alias("_sx"),
        F.sum(x * x).over(full).alias("_sxx"),
    ).withColumn(
        "_seg",
        F.floor(
            (F.col("_i0") * F.lit(int(w))).cast("double")
            / F.col("_n").cast("double")
        ).cast("long"),
    )
    seg = p.groupBy("conv_id", "_seg").agg(
        F.sum("_x").alias("_ssum"),
        F.count("*").cast("long").alias("_scnt"),
        F.first("_n").alias("_n"),
        F.first("_sx").alias("_sxg"),
        F.first("_sxx").alias("_sxx"),
    )
    nd = F.col("_n").cast("double")
    mean = F.col("_sxg").cast("double") / nd
    var_num = F.col("_n") * F.col("_sxx") - F.col("_sxg") * F.col("_sxg")
    sdev = F.sqrt(var_num.cast("double") / (nd * nd))
    paa = F.col("_ssum").cast("double") / F.col("_scnt").cast("double")
    z = F.when(sdev > 0, (paa - mean) / sdev).otherwise(F.lit(0.0))
    sym = (
        F.when(z < F.lit(-0.6745), F.lit("a"))
        .when(z < F.lit(0.0), F.lit("b"))
        .when(z < F.lit(0.6745), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    g = seg.withColumn("_sym", sym).groupBy("conv_id").agg(
        F.first("_n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_segments"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_seg"), F.col("_sym")))),
                lambda s: s["_sym"],
            ),
            "",
        ).alias("word"),
    )
    return g.select("conv_id", "n", "n_segments", "word")


def mann_kendall(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Mann-Kendall trend test + Kendall's tau-b per conversation
    (Mann 1945; Kendall 1975) on the turn-ordered signal:

        S     = sum_{i<j} sign(y_j - y_i)
        VarS  = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18
        z     = (S - 1)/sqrt(VarS)  if S > 0,  (S + 1)/sqrt(VarS) if
                S < 0,  0 if S = 0        (the continuity correction)
        tau_b = S / sqrt(D * (D - Ty)),  D = n(n-1)/2, Ty = tied pairs

    the NONPARAMETRIC companion to [[signal_trend]]'s OLS slope and
    [[theil_sen_trend]]'s robust magnitude: S depends only on the SIGN
    pattern, so it detects any monotone drift regardless of shape, and
    the tie-corrected z gives an actual significance level (the turn
    axis (ts, turn_idx) is strictly ordered, so the time-side tie term
    is zero and tau-b's denominator uses D unmodified on that side).

    OPT-IN O(n^2) per conversation (the theil_sen_trend cost contract):
    S is a nested higher-order expression over the per-conversation
    signal array — fine for bounded-turn transcripts, wrong for
    million-event keys. The tie terms are O(n log n) (run lengths on
    the sorted array), not pairwise.

    Determinism: the signal is integer-valued by the engine's signal
    contract, so every sign and equality is exact; S, the tie sums, n,
    and D are exact longs, and var_s / z / tau are FIXED 1-3-op IEEE
    chains over those longs — the SQL oracle replays an exact-integer
    pairwise self-join and run-length tie table bit-for-bit.

    Output: (conv_id, n long, s long, tie_pairs long, var_s double,
    z double — NULL when n < 2 or VarS = 0, tau_b double — NULL when
    n < 2 or the denominator is 0).
    """
    y = F.col(signal_col).cast("long")
    scored = df.where(y.isNotNull())
    g = scored.groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("ts"), F.col("turn_idx"), y.alias("_y")))
        ).alias("_a"),
        F.count("*").cast("long").alias("n"),
    )
    g = g.withColumn("_ys", F.transform(F.col("_a"), lambda s: s["_y"])).drop("_a")
    n = F.col("n")
    nn = F.size("_ys")
    s_terms = F.flatten(
        F.transform(
            F.sequence(F.lit(0), nn - F.lit(2)),
            lambda i: F.transform(
                F.sequence(i + F.lit(1), nn - F.lit(1)),
                lambda j: F.signum(
                    (F.get("_ys", j) - F.get("_ys", i)).cast("double")
                ).cast("long"),
            ),
        )
    )
    g = g.withColumn(
        "s",
        F.when(
            n >= 2,
            F.aggregate(
                s_terms, F.lit(0).cast("long"), lambda acc, v: acc + v
            ),
        ).otherwise(F.lit(0).cast("long")),
    )
    # run lengths of equal values on the sorted array -> tie-group sizes
    ysrt = F.array_sort("_ys")
    g = g.withColumn("_ysrt", ysrt)
    starts = F.filter(
        F.sequence(F.lit(0), nn - F.lit(1)),
        lambda i: (i == 0) | (F.get("_ysrt", i) != F.get("_ysrt", i - 1)),
    )
    g = g.withColumn("_starts", starts)
    m = F.size("_starts")
    sizes = F.transform(
        F.sequence(F.lit(0), m - F.lit(1)),
        lambda k: (
            F.when(k < m - 1, F.get("_starts", k + 1)).otherwise(nn)
            - F.get("_starts", k)
        ).cast("long"),
    )
    g = g.withColumn("_sizes", sizes)
    zero = F.lit(0).cast("long")
    tie_term = F.aggregate(
        F.col("_sizes"),
        zero,
        lambda acc, t: acc + t * (t - 1) * (2 * t + 5),
    )
    tie_pairs = F.aggregate(
        F.col("_sizes"),
        zero,
        lambda acc, t: acc + (t * (t - 1) / 2).cast("long"),
    )
    g = g.withColumn("_tie_term", tie_term).withColumn("tie_pairs", tie_pairs)
    var_num = n * (n - 1) * (2 * n + 5) - F.col("_tie_term")
    var_s = var_num.cast("double") / F.lit(18.0)
    s = F.col("s")
    sq = F.sqrt(var_s)
    z = F.when(
        (n >= 2) & (var_s > 0),
        F.when(s > 0, (s - 1).cast("double") / sq)
        .when(s < 0, (s + 1).cast("double") / sq)
        .otherwise(F.lit(0.0)),
    )
    d_pairs = (n * (n - 1) / 2).cast("long")
    tau_den = d_pairs * (d_pairs - F.col("tie_pairs"))
    tau = F.when(
        (n >= 2) & (tau_den > 0),
        s.cast("double") / F.sqrt(tau_den.cast("double")),
    )
    return g.select(
        "conv_id",
        "n",
        "s",
        "tie_pairs",
        F.when(n >= 2, var_s).alias("var_s"),
        z.alias("z"),
        tau.alias("tau_b"),
    )


def cohort_retention(
    df: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Weekly cohort retention matrix — the standard growth-analytics
    triangle over any (user, timestamp) activity stream: users are
    cohorted by the ISO week of their FIRST activity, and cell
    (cohort_week, week_offset) counts how many of them were active
    exactly offset weeks later:

        retention = n_active / n_cohort

    Mechanics + scale: activity collapses to DISTINCT (user, week)
    pairs FIRST (one groupBy — the row count drops from events to
    user-weeks before anything else happens), the cohort week is a MIN
    over those pairs, and the matrix is one count per (cohort, offset)
    — three aggregations, all map-side combined, the join back to the
    user-week frame on the user key it is already hashed by. No
    distinct-count sketch is needed because (user, week) is already
    unique when counted.

    Determinism: week truncation is calendar arithmetic (Monday-start
    ISO weeks in both engines), the offset is an exact integer day
    difference of two week-starts divided by 7 (always a whole
    number), counts are exact longs, and retention is one division —
    the SQL oracle replays everything bit-for-bit.

    Output: (cohort_week date, week_offset int, n_cohort long,
    n_active long, retention double), one row per non-empty cell.
    """
    uw = (
        df.select(
            F.col(user_col).alias("_u"),
            F.to_date(F.date_trunc("week", F.col(ts_col))).alias("_wk"),
        )
        .groupBy("_u", "_wk")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    first = uw.groupBy("_u").agg(F.min("_wk").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("n_cohort")
    )
    act = uw.join(first, "_u").select(
        "cohort_week",
        (F.datediff(F.col("_wk"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset"),
        "_u",
    )
    cells = act.groupBy("cohort_week", "week_offset").agg(
        F.count("*").cast("long").alias("n_active")
    )
    out = cells.join(sizes, "cohort_week")
    return out.select(
        "cohort_week",
        "week_offset",
        "n_cohort",
        "n_active",
        (F.col("n_active").cast("double") / F.col("n_cohort").cast("double")).alias(
            "retention"
        ),
    )


def kaplan_meier(
    df: DataFrame,
    event_role: str = "tool",
    bucket_s: int = 60,
    role_col: str = "role",
) -> DataFrame:
    """Kaplan-Meier survival curve (Kaplan & Meier 1958) for
    time-to-first-``event_role`` across conversations, with right
    censoring — the estimator behind 'how long until a conversation
    first reaches a tool call?', where conversations that never get
    there are CENSORED at their last turn rather than dropped (dropping
    them biases the curve optimistic; KM is the standard fix):

        S(t) = prod_{t_i <= t} (1 - d_i / n_i)

    over event-time buckets t_i, with d_i = events at t_i and n_i =
    conversations still at risk (duration >= t_i).

    Mechanics + scale: durations collapse per conversation (the shared
    conv_id exchange), then the curve is built on the BUCKETED duration
    axis (`bucket_s`-second resolution, floor) — the post-aggregation
    frame has one row per distinct bucket, so the final single-group
    assembly touches a bounded grid, never the corpus (callers control
    the bound through bucket_s; the corpus-sized stages are all
    map-side-combined groupBys).

    Determinism: durations are exact microsecond longs; buckets are one
    floor over a < 2^53 quotient; d/c/n_risk are exact longs (n_risk =
    total - prefix count, computed by slicing the sorted struct array);
    each factor (1 - d/n) is a fixed 3-op chain and S is a LEFT FOLD in
    bucket order — the SQL oracle replays the identical fold with
    list_reduce. Buckets where d = 0 contribute a factor of exactly
    1.0, so including censor-only rows changes nothing but documents
    the censoring pattern.

    Output: (t_bucket long — bucket index, t_start_s long — bucket
    start in seconds, n_risk long, d long — events, c long — censored,
    s_km double — survival AFTER this bucket), one row per non-empty
    bucket, ascending.
    """
    ts_us = epoch_us("ts")
    per_conv = df.groupBy("conv_id").agg(
        F.min(ts_us).alias("_t0"),
        F.min(F.when(F.col(role_col) == event_role, ts_us)).alias("_tev"),
        F.max(ts_us).alias("_tend"),
    )
    is_event = F.col("_tev").isNotNull()
    dur_us = F.when(is_event, F.col("_tev") - F.col("_t0")).otherwise(
        F.col("_tend") - F.col("_t0")
    )
    bucket = F.floor(dur_us / F.lit(float(bucket_s) * 1e6)).cast("long")
    per_t = (
        per_conv.select(bucket.alias("t_bucket"), is_event.alias("_e"))
        .groupBy("t_bucket")
        .agg(
            F.count(F.when(F.col("_e"), 1)).cast("long").alias("d"),
            F.count(F.when(~F.col("_e"), 1)).cast("long").alias("c"),
        )
    )
    one = per_t.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("t_bucket", "d", "c"))
        ).alias("_a")
    )
    m = F.size("_a")
    total = F.aggregate(
        F.col("_a"),
        F.lit(0).cast("long"),
        lambda acc, s: acc + s["d"] + s["c"],
    )
    one = one.withColumn("_total", total)
    # n_risk_i = total - sum of (d + c) over buckets before i
    rows = F.transform(
        F.sequence(F.lit(0), m - F.lit(1)),
        lambda i: F.struct(
            F.get("_a", i)["t_bucket"].alias("t_bucket"),
            F.get("_a", i)["d"].alias("d"),
            F.get("_a", i)["c"].alias("c"),
            (
                F.col("_total")
                - F.aggregate(
                    F.slice("_a", F.lit(1), i),
                    F.lit(0).cast("long"),
                    lambda acc, s: acc + s["d"] + s["c"],
                )
            ).alias("n_risk"),
        ),
    )
    one = one.withColumn("_rows", rows)
    # left-fold prefix products of (1 - d/n) in bucket order
    surv = F.transform(
        F.sequence(F.lit(0), m - F.lit(1)),
        lambda i: F.aggregate(
            F.slice("_rows", F.lit(1), i + 1),
            F.lit(1.0),
            lambda acc, s: acc
            * (
                F.lit(1.0)
                - s["d"].cast("double") / s["n_risk"].cast("double")
            ),
        ),
    )
    one = one.withColumn("_s", surv)
    out = one.select(
        F.posexplode("_rows").alias("_i", "_r"), F.col("_s")
    ).select(
        F.col("_r")["t_bucket"].alias("t_bucket"),
        (F.col("_r")["t_bucket"] * F.lit(int(bucket_s))).alias("t_start_s"),
        F.col("_r")["n_risk"].alias("n_risk"),
        F.col("_r")["d"].alias("d"),
        F.col("_r")["c"].alias("c"),
        F.get("_s", F.col("_i")).alias("s_km"),
    )
    return out


def log_rank(
    df: DataFrame,
    group_expr: F.Column | None = None,
    event_role: str = "tool",
    bucket_s: int = 60,
    role_col: str = "role",
) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966; Peto & Peto 1972) for a
    survival difference between two conversation cohorts — the
    significance companion to [[kaplan_meier]] ('do weekend
    conversations reach a tool call slower?'):

        O - E = sum_t (d1_t - d_t * n1_t / n_t)
        V     = sum_t d_t (n1_t/n_t)(n2_t/n_t)(n_t - d_t)/(n_t - 1)
        z     = (O - E) / sqrt(V),   chi2 = z^2   (1 dof)

    `group_expr` is a boolean column over the input rows; a
    conversation belongs to group 1 when the expr is true on its FIRST
    turn (stable (ts, turn_idx) order). Default: first turn on a
    weekend.

    Mechanics + scale: identical duration/censoring collapse as
    kaplan_meier (per-conversation groupBy on the shared conv_id
    exchange, then the BUCKETED grid), so the only single-group stage
    touches one row per distinct duration bucket. At-risk counts are
    window prefix sums of exact longs on that bounded grid.

    Determinism: every n/d count is an exact long; each bucket's two
    terms are fixed chains over single casts; and the two totals are
    ``exprs.ordered_sums`` over the buckets — the SQL oracle
    replays the same fold with list_reduce, so z and chi2 match
    bit-for-bit. Buckets with d = 0 or n <= 1 contribute exactly 0.

    Output: one row — (n1 long, n2 long, d1 long, d2 long,
    o_minus_e double, var_lr double, z double, chi2 double; z/chi2
    NULL when V = 0).
    """
    if group_expr is None:
        group_expr = F.dayofweek(F.col("ts").cast("timestamp")).isin(1, 7)
    ts_us = epoch_us("ts")
    w = conv_window()
    flagged = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_g1", group_expr
    )
    per_conv = flagged.groupBy("conv_id").agg(
        F.max(F.when(F.col("_rn") == 1, F.col("_g1"))).alias("_grp1"),
        F.min(ts_us).alias("_t0"),
        F.min(F.when(F.col(role_col) == event_role, ts_us)).alias("_tev"),
        F.max(ts_us).alias("_tend"),
    )
    is_event = F.col("_tev").isNotNull()
    dur_us = F.when(is_event, F.col("_tev") - F.col("_t0")).otherwise(
        F.col("_tend") - F.col("_t0")
    )
    bucket = F.floor(dur_us / F.lit(float(bucket_s) * 1e6)).cast("long")
    per_t = (
        per_conv.select(
            bucket.alias("tb"), is_event.alias("_e"), F.col("_grp1").alias("_g")
        )
        .groupBy("tb")
        .agg(
            F.count(F.when(F.col("_g") & F.col("_e"), 1)).cast("long").alias("d1"),
            F.count(F.when(F.col("_g") & ~F.col("_e"), 1)).cast("long").alias("c1"),
            F.count(F.when(~F.col("_g") & F.col("_e"), 1)).cast("long").alias("d2"),
            F.count(F.when(~F.col("_g") & ~F.col("_e"), 1)).cast("long").alias("c2"),
        )
    )
    # at-risk prefix sums on the bounded bucket grid (single ordered
    # scan over one row per bucket — never the corpus)
    wg = Window.orderBy("tb").rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.orderBy("tb").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = per_t.select(
        "tb",
        "d1",
        "d2",
        (
            F.sum(F.col("d1") + F.col("c1")).over(wt)
            - F.coalesce(F.sum(F.col("d1") + F.col("c1")).over(wg), F.lit(0))
        ).alias("n1"),
        (
            F.sum(F.col("d2") + F.col("c2")).over(wt)
            - F.coalesce(F.sum(F.col("d2") + F.col("c2")).over(wg), F.lit(0))
        ).alias("n2"),
    )
    n = F.col("n1") + F.col("n2")
    d = F.col("d1") + F.col("d2")
    nd = n.cast("double")
    ok = (d > 0) & (n > 1)
    e1 = d.cast("double") * F.col("n1").cast("double") / nd
    num_t = F.when(ok, F.col("d1").cast("double") - e1).otherwise(F.lit(0.0))
    var_t = F.when(
        ok,
        d.cast("double")
        * (F.col("n1").cast("double") / nd)
        * (F.col("n2").cast("double") / nd)
        * ((n - d).cast("double") / (n - 1).cast("double")),
    ).otherwise(F.lit(0.0))
    terms = p.select(
        "tb", "d1", "d2", "n1", "n2",
        num_t.alias("_numt"), var_t.alias("_vart"),
    )
    g = terms.groupBy().agg(
        F.sum("d1").cast("long").alias("d1"),
        F.sum("d2").cast("long").alias("d2"),
        *ordered_sums(["tb"], _num=F.col("_numt"), _var=F.col("_vart")),
    )
    z = F.when(F.col("_var") > 0, F.col("_num") / F.sqrt("_var"))
    totals = terms.groupBy().agg(
        F.max("n1").cast("long").alias("n1"), F.max("n2").cast("long").alias("n2")
    )
    out = g.crossJoin(F.broadcast(totals))
    return out.select(
        "n1",
        "n2",
        "d1",
        "d2",
        F.col("_num").alias("o_minus_e"),
        F.col("_var").alias("var_lr"),
        z.alias("z"),
        F.when(F.col("_var") > 0, F.col("_num") * F.col("_num") / F.col("_var")).alias(
            "chi2"
        ),
    )


def rfm_features(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    event_type: str = "purchase",
) -> DataFrame:
    """RFM (recency / frequency / monetary) per user — the classic
    customer-value triple over an event stream, the cohort-retention
    sibling for VALUE segmentation ([[cohort_retention]] asks 'did they
    come back?'; RFM asks 'how recently, how often, for how much?'):

        recency_days   = floor((corpus max ts - last event ts) / 1 day)
        frequency      = count of qualifying events
        monetary_cents = sum of floor(value * 100)

    Scale + determinism: one groupBy on the user key (map-side
    combined) + a 1-row corpus-max aggregate broadcast back — two
    aggregations, no window. ALL THREE metrics are exact longs: the
    day floor is one division of exact microsecond longs (< 2^53), and
    monetary sums integer CENTS (floor(value*100) is one fixed double
    op per row; summing longs is order-free, where summing doubles is
    not — the engine-wide no-float-summation rule). The only double
    emitted is the one-division monetary convenience column.

    Users with NO qualifying event emit no row (the absence is the
    segment; left-join when a dense frame is needed).

    Output: (user_col, recency_days long, frequency long,
    monetary_cents long, monetary double).
    """
    ts_us = epoch_us(ts_col)
    ev = df.where(F.col(type_col) == event_type)
    per_u = ev.groupBy(user_col).agg(
        F.max(ts_us).alias("_last"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(F.floor(F.col(value_col).cast("double") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    mx = df.groupBy().agg(F.max(ts_us).alias("_mx"))
    out = per_u.crossJoin(F.broadcast(mx))
    day_us = F.lit(86400000000.0)
    return out.select(
        user_col,
        F.floor((F.col("_mx") - F.col("_last")).cast("double") / day_us)
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
        (F.col("monetary_cents").cast("double") / F.lit(100.0)).alias("monetary"),
    )


# Inverse-CDF thresholds for a deterministic Poisson(1) draw from one
# uniform: cumulative pmf at k = 0..4 (k = 5 caps the tail, total mass
# beyond 4 is ~0.37%). Fixed decimal literals — both Spark and DuckDB
# parse the identical string to the identical double, so the branch a
# given u takes is engine-invariant.
_POIS1_CDF = (
    "0.367879441171442",
    "0.735758882342884",
    "0.919698602928606",
    "0.981011843123846",
    "0.996340153172656",
)


def _replicate_u() -> F.Column:
    """Replicate ``b``'s uniform draw for row ``_id``: ``exprs.mix31`` of
    the linear key ``id*A + b*69621 + 12345``, over p = 2^31 - 1 (see
    poisson_bootstrap_ci)."""
    lin = F.col("_id") * F.lit(MIX31_A) + F.col("b").cast("long") * F.lit(69621) + F.lit(12345)
    return mix31(lin).cast("double") / F.lit(2147483647.0)


def poisson_bootstrap_ci(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    n_boot: int = 64,
    alpha: float = 0.05,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-group mean —
    the resampling form that actually distributes: instead of drawing n
    indices WITH replacement per replicate (a global shuffle per
    replicate), each row independently receives a Poisson(1) weight per
    replicate, which converges to the multinomial bootstrap as n grows
    (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    the production form at web scale).

    Scale: the replicate dimension explodes map-side (n_boot rows per
    input row) and collapses in the SAME stage's partial aggregation —
    the exchange carries only groups x n_boot partial sums, never the
    exploded data. CPU is n_boot x one CASE ladder per row; for larger
    n_boot at extreme scale, swap in Bag-of-Little-Bootstraps over
    hash-partitioned subsets. No RNG state: the weight is a pure
    function of (id, replicate) via a square-mod mixing hash —
    x = (id*48271 + b*69621 + 12345) mod p, y = (x*x + x) mod p,
    z = (y*48271) mod p, u = z/p, p = 2^31-1 — then inverse-CDF'd
    through fixed Poisson(1) thresholds. The SQUARING is load-bearing:
    a plain LCG in (id, b) has stride ~6e-4 in u across adjacent ids,
    so weights would be block-correlated across rows and replicates
    (measured: CI half-width collapses ~10x and misses the mean); the
    square decorrelates both axes (validated against the theoretical
    1.96*sd/sqrt(n) half-width in tests). All intermediates < 2^62,
    inside exact signed-64 range in both Spark and DuckDB; u is the
    same double in any engine (identical integer operands, one
    division). Identical in any engine, any partitioning, any run.

    Determinism: weighted sums ride integer CENTS (floor(value*100)
    longs; long addition is order-free where double addition is not);
    each replicate mean is ONE division of exact longs. The CI bounds
    are order statistics of the n_boot exact replicate means
    (array_sort on distinct finite doubles is engine-invariant).

    Output: (group, n long, mean_hat, ci_lo, ci_hi) with
    lo/hi = sorted-means[floor(alpha/2 * B)] / [ceil((1-alpha/2)*B)-1]
    (0-based)."""
    lo_idx = int(math.floor(alpha / 2.0 * n_boot))       # 0-based
    hi_idx = int(math.ceil((1.0 - alpha / 2.0) * n_boot)) - 1
    cents = F.floor(F.col(value_col).cast("double") * F.lit(100.0)).cast("long")
    base = df.select(F.col(group_col).alias("grp"), F.col(id_col).cast("long").alias("_id"),
                     cents.alias("_cents"))
    rep = base.select(
        "grp", "_id", "_cents", F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("b")
    )
    u = _replicate_u()
    wgt = F.when(u < F.lit(float(_POIS1_CDF[0])), F.lit(0))
    for k in range(1, len(_POIS1_CDF)):
        wgt = wgt.when(u < F.lit(float(_POIS1_CDF[k])), F.lit(k))
    wgt = wgt.otherwise(F.lit(len(_POIS1_CDF))).cast("long")
    means = (
        rep.withColumn("_w", wgt)
        .groupBy("grp", "b")
        .agg(F.sum(F.col("_w") * F.col("_cents")).alias("_s"),
             F.sum("_w").alias("_nb"))
        .where(F.col("_nb") > 0)
        .select(
            "grp",
            (F.col("_s").cast("double") / (F.lit(100.0) * F.col("_nb").cast("double"))
             ).alias("mean_b"),
        )
    )
    ci = means.groupBy("grp").agg(F.array_sort(F.collect_list("mean_b")).alias("_ms"))
    # a degenerate group can lose replicates to the _nb > 0 filter; an
    # out-of-range element_at would ERROR under ANSI where DuckDB's
    # list index returns NULL — gate each bound on its own index to
    # replicate the oracle's OOB semantics exactly
    ci = ci.select(
        "grp",
        F.when(F.size("_ms") >= F.lit(lo_idx + 1), F.element_at("_ms", lo_idx + 1)).alias(
            "ci_lo"
        ),
        F.when(F.size("_ms") >= F.lit(hi_idx + 1), F.element_at("_ms", hi_idx + 1)).alias(
            "ci_hi"
        ),
    )
    point = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"), F.sum("_cents").alias("_sc")
    )
    return (
        point.join(ci, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n",
            (F.col("_sc").cast("double") / (F.lit(100.0) * F.col("n").cast("double"))
             ).alias("mean_hat"),
            "ci_lo",
            "ci_hi",
        )
    )


def jackknife_cluster_se(
    df: DataFrame,
    group_col: str = "event_type",
    cluster_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Delete-one-CLUSTER jackknife standard error for the per-group
    mean — the uncertainty estimate that respects within-user
    correlation ([[poisson_bootstrap_ci]] resamples ROWS, treating
    turns as independent; when observations cluster by user, the
    design-correct resampling unit is the user):

        m_c      = mean with cluster c removed (exact integer ratio)
        theta_b  = mean of the m_c
        jk_se    = sqrt((G-1)/G * sum_c (m_c - theta_b)^2)

    Scale + determinism: one (group, cluster) groupBy compacts rows to
    per-cluster integer sums (map-side combined) — the collect happens
    over CLUSTER aggregates, never rows. Each m_c is one division of
    exact longs; the two reductions over clusters are float and
    therefore ride the engine-wide ordered-left-fold idiom
    (sort_array + aggregate, the [[log_rank]] pattern) so the oracle
    replays them term-for-term. For G beyond array practicality
    (~1e6 clusters/group), swap the folds for compensated distributed
    sums and accept last-ulp drift.

    Groups with G < 2 clusters emit NULL se/ci.

    Output: (group, n long, n_clusters long, mean_hat, jk_se,
    ci_lo, ci_hi) with ci = mean_hat -/+ 1.96 * jk_se."""
    cents = F.floor(F.col(value_col).cast("double") * F.lit(100.0)).cast("long")
    pc = (
        df.select(F.col(group_col).alias("_g"), F.col(cluster_col).alias("_c"), cents.alias("_v"))
        .groupBy("_g", "_c")
        .agg(F.sum("_v").alias("_s"), F.count("*").cast("long").alias("_n"))
    )
    g = pc.groupBy("_g").agg(
        F.sum("_s").cast("long").alias("_S"),
        F.sum("_n").cast("long").alias("_N"),
        F.count("*").cast("long").alias("n_clusters"),
        F.sort_array(F.collect_list(F.struct("_c", "_s", "_n"))).alias("_arr"),
    )

    # kept as folds: each term reads the group totals _S / _N, and the
    # second fold the first fold's mean, all known only after the collect
    def _m(x):
        # the G=1 degenerate group would divide by zero inside the fold
        # (ANSI errors where DuckDB's float division yields inf); its
        # se/ci are NULLed by the G >= 2 gate either way, so the term
        # value is arbitrary — pin it to 0.0 in BOTH engines
        return F.when(
            F.col("_N") > x["_n"],
            (F.col("_S") - x["_s"]).cast("double")
            / (F.lit(100.0) * (F.col("_N") - x["_n"]).cast("double")),
        ).otherwise(F.lit(0.0))

    g = g.withColumn(
        "_sum_m", F.aggregate("_arr", F.lit(0.0), lambda a, x: a + _m(x))
    ).withColumn("_theta", F.col("_sum_m") / F.col("n_clusters").cast("double"))
    g = g.withColumn(
        "_ss",
        F.aggregate(
            "_arr", F.lit(0.0), lambda a, x: a + (_m(x) - F.col("_theta")) * (_m(x) - F.col("_theta"))
        ),
    )
    gd = F.col("n_clusters").cast("double")
    se = F.when(
        F.col("n_clusters") >= 2,
        F.sqrt((gd - F.lit(1.0)) / gd * F.col("_ss")),
    )
    mean_hat = F.col("_S").cast("double") / (F.lit(100.0) * F.col("_N").cast("double"))
    return g.select(
        F.col("_g").alias(group_col),
        F.col("_N").alias("n"),
        "n_clusters",
        mean_hat.alias("mean_hat"),
        se.alias("jk_se"),
        (mean_hat - F.lit(1.96) * se).alias("ci_lo"),
        (mean_hat + F.lit(1.96) * se).alias("ci_hi"),
    )


def permutation_test(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    ts_col: str = "ts",
    n_perm: int = 64,
) -> DataFrame:
    """Distribution-free significance for the weekend-vs-weekday mean
    difference per group — the randomization-test member of the
    resampling triad ([[poisson_bootstrap_ci]] = row-level uncertainty,
    [[jackknife_cluster_se]] = cluster-robust uncertainty, this =
    assumption-free significance):

        obs     = mean(weekend) - mean(weekday)
        diff_b  = same statistic under the b-th random RE-labeling
        p_hat   = (#{|diff_b| >= |obs|} + 1) / (n_valid + 1)

    This is the Bernoulli(1/2) random-relabeling flavor (each row flips
    sides independently per replicate) rather than the size-preserving
    permutation — valid as a randomization test and, unlike a true
    permutation, expressible with ZERO shuffles beyond two aggregates:
    no global sort, no sampling without replacement across partitions.

    Scale + determinism: side labels derive from pure integer
    arithmetic — the real side from epoch-day day-of-week ((d + 4) % 7,
    engine-portable, avoiding dayofweek() dialect skew) and the
    replicate side from the square-mod mixing hash (see
    poisson_bootstrap_ci — an LCG would block-correlate flips). The
    n_perm explode collapses in the same stage's partial aggregation
    (groups x n_perm partials on the exchange); per-side sums ride
    integer cents; each mean is one division; the |diff| comparisons
    are identical IEEE ops in both engines. Replicates with an empty
    side are excluded from n_valid (and p's denominator).

    Output: (group, n long, obs_diff, n_ge long, n_valid long,
    p_hat)."""
    cents = F.floor(F.col(value_col).cast("double") * F.lit(100.0)).cast("long")
    us = epoch_us(ts_col)
    dow = F.pmod(F.floor(us.cast("double") / F.lit(86400000000.0)).cast("long") + F.lit(4), F.lit(7))
    is_we = dow.isin(0, 6)
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).cast("long").alias("_id"),
        cents.alias("_v"),
        is_we.alias("_we"),
    )
    obs = base.groupBy("_g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("_we"), F.col("_v"))).alias("_s1"),
        F.count(F.when(F.col("_we"), 1)).cast("long").alias("_n1"),
        F.sum(F.when(~F.col("_we"), F.col("_v"))).alias("_s0"),
        F.count(F.when(~F.col("_we"), 1)).cast("long").alias("_n0"),
    )
    mean1 = F.col("_s1").cast("double") / (F.lit(100.0) * F.col("_n1").cast("double"))
    mean0 = F.col("_s0").cast("double") / (F.lit(100.0) * F.col("_n0").cast("double"))
    obs = obs.withColumn(
        "obs_diff",
        F.when((F.col("_n1") > 0) & (F.col("_n0") > 0), mean1 - mean0),
    ).select("_g", "n", "obs_diff")
    rep = base.select("_g", "_id", "_v", F.explode(F.sequence(F.lit(0), F.lit(n_perm - 1))).alias("b"))
    u = _replicate_u()
    side = (u < F.lit(0.5)).alias("_side")
    diffs = (
        rep.withColumn("_side", side)
        .groupBy("_g", "b")
        .agg(
            F.sum(F.when(F.col("_side"), F.col("_v"))).alias("_s1"),
            F.count(F.when(F.col("_side"), 1)).cast("long").alias("_n1"),
            F.sum(F.when(~F.col("_side"), F.col("_v"))).alias("_s0"),
            F.count(F.when(~F.col("_side"), 1)).cast("long").alias("_n0"),
        )
        .where((F.col("_n1") > 0) & (F.col("_n0") > 0))
        .select(
            "_g",
            (
                F.col("_s1").cast("double") / (F.lit(100.0) * F.col("_n1").cast("double"))
                - F.col("_s0").cast("double") / (F.lit(100.0) * F.col("_n0").cast("double"))
            ).alias("_diff"),
        )
    )
    tail = (
        diffs.join(F.broadcast(obs), "_g")
        .groupBy("_g")
        .agg(
            F.count("*").cast("long").alias("n_valid"),
            F.count(F.when(F.abs(F.col("_diff")) >= F.abs(F.col("obs_diff")), 1))
            .cast("long")
            .alias("n_ge"),
        )
    )
    out = obs.join(tail, "_g", "left")
    return out.select(
        F.col("_g").alias(group_col),
        "n",
        "obs_diff",
        F.coalesce(F.col("n_ge"), F.lit(0)).cast("long").alias("n_ge"),
        F.coalesce(F.col("n_valid"), F.lit(0)).cast("long").alias("n_valid"),
        F.when(
            F.col("obs_diff").isNotNull(),
            (F.coalesce(F.col("n_ge"), F.lit(0)).cast("double") + F.lit(1.0))
            / (F.coalesce(F.col("n_valid"), F.lit(0)).cast("double") + F.lit(1.0)),
        ).alias("p_hat"),
    )


def runs_test(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Wald-Wolfowitz runs test per conversation — dichotomize the
    turn-ordered signal about its conversation median, drop exact ties,
    and count maximal same-sign runs (Wald & Wolfowitz 1940):

        mu  = 2 n1 n2 / n + 1
        var = 2 n1 n2 (2 n1 n2 - n) / (n^2 (n - 1))
        z   = (R - mu) / sqrt(var)

    z << 0 means clustering (long stretches above/below the median —
    sticky quality), z >> 0 over-alternation. The distribution-free
    companion to [[von_neumann_ratio]] (which tests magnitude of
    successive differences; runs tests only their SIGN pattern).

    Determinism: the sign sequence is built from the sorted
    (ts, turn_idx) struct array (the theil_sen/hurst collect idiom —
    per-conversation arrays are bounded by turn count), the median is
    the engine-wide sorted-median pick, ties are removed BEFORE
    adjacency so runs are counted on the compacted sign list with an
    exact integer zip-and-count, and mu/var/z are one fixed IEEE chain
    over the exact longs (n1, n2, R) — bit-replayable in SQL.

    Scale: one groupBy on the shared conv_id exchange; the two
    collect_lists ride the same aggregate. No joins, no windows.

    NULL signals are excluded. Output: (conv_id, n_above long, n_below
    long, n_runs long — 0 when every turn ties the median, z double —
    NULL unless both sides are non-empty and var > 0).
    """
    from ..operators.exprs import sorted_median

    x = F.col(signal_col).cast("long")
    scored = df.where(x.isNotNull())
    g = scored.groupBy("conv_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("ts"), F.col("turn_idx"), x.alias("_x")))
        ).alias("_seq"),
        F.sort_array(F.collect_list(x.cast("double"))).alias("_vals"),
    )
    med = sorted_median(F.col("_vals"))
    signs = F.filter(
        F.transform(
            F.col("_seq"),
            lambda e: F.when(e["_x"].cast("double") > med, F.lit(1))
            .when(e["_x"].cast("double") < med, F.lit(-1))
            .otherwise(F.lit(0)),
        ),
        lambda s: s != 0,
    )
    g = g.select("conv_id", signs.alias("_s"))
    sz = F.size("_s")
    changes = F.aggregate(
        F.zip_with(
            F.slice(F.col("_s"), 1, sz - 1),
            F.slice(F.col("_s"), 2, sz - 1),
            lambda a, b: F.when(a != b, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    p = g.select(
        "conv_id",
        F.size(F.filter("_s", lambda s: s == 1)).cast("long").alias("n_above"),
        F.size(F.filter("_s", lambda s: s == -1)).cast("long").alias("n_below"),
        F.when(sz > 0, F.lit(1) + changes).otherwise(F.lit(0)).cast("long").alias("n_runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    n = n1 + n2
    two_p = F.lit(2.0) * n1 * n2
    mu = two_p / n + F.lit(1.0)
    var = two_p * (two_p - n) / (n * n * (n - F.lit(1.0)))
    # nested when: the outer predicate is var-free, so mu/var (which
    # divide by n and n-1) are only ever evaluated where n >= 2 — keeps
    # the 0/0 terms out of ANSI's reach on degenerate conversations
    ok = (F.col("n_above") > 0) & (F.col("n_below") > 0) & (n > 1)
    z = F.when(
        ok, F.when(var > 0, (F.col("n_runs").cast("double") - mu) / F.sqrt(var))
    )
    return p.select("conv_id", "n_above", "n_below", "n_runs", z.alias("z"))


def burstiness(df: DataFrame, group_col: str = "event_type") -> DataFrame:
    """Temporal burstiness per group — THREE classic clumping measures
    over the event stream (the corpus-ops view of [[arrival_stats]]'s
    per-conversation cadence):

      * fano       — Fano factor (index of dispersion) of per-hour
                     event counts over OCCUPIED hour buckets: var/mean,
                     1 for Poisson arrivals, >> 1 for bursts.
      * cv_gap     — coefficient of variation of consecutive
                     inter-arrival gaps, 1 for an exponential process.
      * burstiness — Goh & Barabási (2008) B = (cv - 1) / (cv + 1) in
                     [-1, 1]: -1 periodic, 0 Poisson, -> 1 bursty.

    Determinism + scale: hour buckets are integer epoch arithmetic;
    bucket counts / their squares are exact longs (one map-side
    combined groupBy on (group, hour)); gaps come from one lag window
    under the stable (ts, event_id) order, summed exactly — the square
    sum rides DECIMAL(19,0)^2 -> DECIMAL(38,0) (the cuped_adjusted
    guard: a sparse group's single huge gap would silently wrap a LONG
    square in Spark and hard-error in DuckDB). Every emitted double is
    a fixed IEEE chain over those exact integers — bit-replayable.

    Output: (group_col, n_events long, n_hours long, fano double,
    n_gaps long, cv_gap double — NULL when no gaps or zero mean gap,
    burstiness double).
    """
    us = epoch_us("ts")
    hb = F.floor(us.cast("double") / F.lit(3600000000.0)).cast("long")
    base = df.select(F.col(group_col).alias("_g"), us.alias("_us"), hb.alias("_hb"),
                     F.col("event_id"))
    # single pass: hour-bucket counts ride a window partitioned by
    # (group, hour) with a first-row flag (so the per-group aggregate
    # sums each bucket once), and the lag window shares the same frame —
    # the earlier two-branch form scanned the fact table twice
    w_hb = Window.partitionBy("_g", "_hb")
    w_hb_rn = Window.partitionBy("_g", "_hb").orderBy("_us", "event_id")
    w_lag = Window.partitionBy("_g").orderBy("_us", "event_id")
    _d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    marked = base.select(
        "_g",
        F.count("*").over(w_hb).cast("long").alias("_c"),
        (F.row_number().over(w_hb_rn) == 1).alias("_first"),
        (F.col("_us") - F.lag("_us").over(w_lag)).alias("_gap"),
    )
    j = marked.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("_first"), 1)).cast("long").alias("n_hours"),
        F.sum(F.when(F.col("_first"), F.col("_c") * F.col("_c")))
        .cast("long")
        .alias("_scc"),
        F.count("_gap").cast("long").alias("n_gaps"),
        F.sum("_gap").cast("long").alias("_sg"),
        F.sum(_d19("_gap") * _d19("_gap")).alias("_sgg"),
    )
    nd, bd = F.col("n_events").cast("double"), F.col("n_hours").cast("double")
    mean_c = nd / bd
    var_c = F.col("_scc").cast("double") / bd - mean_c * mean_c
    fano = var_c / mean_c
    md = F.col("n_gaps").cast("double")
    mean_g = F.col("_sg").cast("double") / md
    var_g = F.col("_sgg").cast("double") / md - mean_g * mean_g
    cv = F.when(
        (F.col("n_gaps") > 0) & (F.col("_sg") > 0),
        F.when(var_g >= 0, F.sqrt(var_g) / mean_g),
    )
    return j.select(
        F.col("_g").alias(group_col),
        "n_events",
        "n_hours",
        fano.alias("fano"),
        F.coalesce(F.col("n_gaps"), F.lit(0)).cast("long").alias("n_gaps"),
        cv.alias("cv_gap"),
        ((cv - F.lit(1.0)) / (cv + F.lit(1.0))).alias("burstiness"),
    )


def nelson_aalen(
    df: DataFrame,
    event_role: str = "tool",
    bucket_s: int = 60,
    role_col: str = "role",
) -> DataFrame:
    """Nelson-Aalen cumulative hazard for time-to-first-``event_role``
    with right censoring (Nelson 1972; Aalen 1978) — the additive
    companion to [[kaplan_meier]] (KM multiplies survival factors; NA
    sums hazard increments, is less biased in small risk sets, and its
    exp(-H) transform is the Fleming-Harrington survival estimate):

        H(t)      = sum_{t_i <= t} d_i / n_i
        var[H(t)] = sum_{t_i <= t} d_i / n_i^2     (Poisson form)
        S_FH(t)   = exp(-H(t))

    Mechanics, scale, and determinism are exactly kaplan_meier's: one
    conv_id exchange for durations, the bucketed axis bounds the final
    single-group assembly, exact long (d, c, n_risk) per bucket, and
    H / var are LEFT FOLDS in bucket order (sums instead of KM's
    products) — the SQL oracle replays the identical folds.

    Output: (t_bucket long, t_start_s long, n_risk long, d long,
    c long, h_na double — cumulative hazard AFTER this bucket,
    var_h double, s_fh double = exp(-h_na)), ascending.
    """
    ts_us = epoch_us("ts")
    per_conv = df.groupBy("conv_id").agg(
        F.min(ts_us).alias("_t0"),
        F.min(F.when(F.col(role_col) == event_role, ts_us)).alias("_tev"),
        F.max(ts_us).alias("_tend"),
    )
    is_event = F.col("_tev").isNotNull()
    dur_us = F.when(is_event, F.col("_tev") - F.col("_t0")).otherwise(
        F.col("_tend") - F.col("_t0")
    )
    bucket = F.floor(dur_us / F.lit(float(bucket_s) * 1e6)).cast("long")
    per_t = (
        per_conv.select(bucket.alias("t_bucket"), is_event.alias("_e"))
        .groupBy("t_bucket")
        .agg(
            F.count(F.when(F.col("_e"), 1)).cast("long").alias("d"),
            F.count(F.when(~F.col("_e"), 1)).cast("long").alias("c"),
        )
    )
    one = per_t.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("t_bucket", "d", "c"))).alias("_a")
    )
    m = F.size("_a")
    total = F.aggregate(
        F.col("_a"), F.lit(0).cast("long"), lambda acc, s: acc + s["d"] + s["c"]
    )
    one = one.withColumn("_total", total)
    rows = F.transform(
        F.sequence(F.lit(0), m - F.lit(1)),
        lambda i: F.struct(
            F.get("_a", i)["t_bucket"].alias("t_bucket"),
            F.get("_a", i)["d"].alias("d"),
            F.get("_a", i)["c"].alias("c"),
            (
                F.col("_total")
                - F.aggregate(
                    F.slice("_a", F.lit(1), i),
                    F.lit(0).cast("long"),
                    lambda acc, s: acc + s["d"] + s["c"],
                )
            ).alias("n_risk"),
        ),
    )
    one = one.withColumn("_rows", rows)
    # prefix folds, one per bucket: each output row is its own partial sum
    haz = F.transform(
        F.sequence(F.lit(0), m - F.lit(1)),
        lambda i: F.aggregate(
            F.slice("_rows", F.lit(1), i + 1),
            F.lit(0.0),
            lambda acc, s: acc + s["d"].cast("double") / s["n_risk"].cast("double"),
        ),
    )
    vh = F.transform(
        F.sequence(F.lit(0), m - F.lit(1)),
        lambda i: F.aggregate(
            F.slice("_rows", F.lit(1), i + 1),
            F.lit(0.0),
            lambda acc, s: acc
            + s["d"].cast("double")
            / (s["n_risk"].cast("double") * s["n_risk"].cast("double")),
        ),
    )
    one = one.withColumn("_h", haz).withColumn("_v", vh)
    return one.select(
        F.posexplode("_rows").alias("_i", "_r"), F.col("_h"), F.col("_v")
    ).select(
        F.col("_r")["t_bucket"].alias("t_bucket"),
        (F.col("_r")["t_bucket"] * F.lit(int(bucket_s))).alias("t_start_s"),
        F.col("_r")["n_risk"].alias("n_risk"),
        F.col("_r")["d"].alias("d"),
        F.col("_r")["c"].alias("c"),
        F.get("_h", F.col("_i")).alias("h_na"),
        F.get("_v", F.col("_i")).alias("var_h"),
        F.exp(-F.get("_h", F.col("_i"))).alias("s_fh"),
    )


def assoc_rules(
    df: DataFrame,
    group_col: str = "user_id",
    item_col: str = "event_type",
    top_k: int = 20,
) -> DataFrame:
    """Pairwise association rules (Agrawal & Srikant 1994) over
    per-entity item baskets — which behaviors co-occur in the same
    conversation/user beyond what their marginals predict:

        support(a,b) = n_ab / N          lift = N * n_ab / (n_a * n_b)
        conf(a->b)   = n_ab / n_a        conf(b->a) = n_ab / n_b

    with N the TOTAL basket count (all entities, itemless included —
    the denominator choice that makes supports comparable across
    rules). The co-occurrence complement to [[pair_signal_correlation]]
    (which couples adjacent VALUES): lift > 1 flags behavior bundles
    worth stratifying the training mixture on; lift < 1 flags
    substitutes.

    Scale: one distinct over (entity, item) — the basket table; one
    self-equi-join on entity bounded by per-basket item count (itemset
    width, not corpus size); item marginals are a vocabulary-sized
    aggregate broadcast back. Exact long counts, four fixed divisions.

    Output: top_k rows (item_a < item_b, n_a, n_b, n_ab longs,
    support, conf_ab, conf_ba, lift doubles) by (lift desc, item_a,
    item_b).
    """
    baskets = (
        df.where(F.col(item_col).isNotNull())
        .select(F.col(group_col).alias("_g"), F.col(item_col).cast("string").alias("_i"))
        .distinct()
    )
    n_total = df.select(F.col(group_col)).distinct().count()  # driver scalar
    marg = baskets.groupBy("_i").agg(F.count("*").cast("long").alias("_n"))
    a = baskets.select(F.col("_g"), F.col("_i").alias("item_a"))
    b = baskets.select(F.col("_g"), F.col("_i").alias("item_b"))
    pair = (
        a.join(b, "_g")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
    )
    pair = (
        pair.join(
            F.broadcast(marg.select(F.col("_i").alias("item_a"), F.col("_n").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(marg.select(F.col("_i").alias("item_b"), F.col("_n").alias("n_b"))),
            "item_b",
        )
    )
    nd = F.lit(float(n_total))
    out = pair.select(
        "item_a",
        "item_b",
        "n_a",
        "n_b",
        "n_ab",
        (F.col("n_ab").cast("double") / nd).alias("support"),
        (F.col("n_ab").cast("double") / F.col("n_a").cast("double")).alias("conf_ab"),
        (F.col("n_ab").cast("double") / F.col("n_b").cast("double")).alias("conf_ba"),
        (
            (nd * F.col("n_ab").cast("double"))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("lift"),
    )
    return out.orderBy(F.col("lift").desc(), "item_a", "item_b").limit(top_k)


def permutation_entropy(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Order-3 permutation entropy of the signal sequence (Bandt &
    Pompe, PRL 2002) per conversation: slide a 3-turn window along the
    stable (ts, turn_idx) order, encode each window's ORDINAL pattern,
    and take the Shannon entropy of the pattern distribution — the
    complexity reading of the turn dynamics that [[runs_test]]
    (randomness) and [[mann_kendall]] (monotone trend) do not give:
    periodic signals concentrate on few patterns (low H), noisy ones
    spread over all of them (high H).

    Tie-coded variant: the pattern code is the 3-bit comparison word
    code = 4*[x0 > x1] + 2*[x0 > x2] + [x1 > x2] (0..7; with ties some
    of the 8 words collapse, which keeps the encoding total — no
    tie-break permutation is invented). H = -sum_c p_c log2 p_c over
    the observed codes.

        h_norm = H / log2(6)     (6 = strict-order pattern count)

    Determinism: codes and counts are exact integers; the entropy is
    ``exprs.ordered_sums`` by code (at most 8 terms, each one division
    + one log2 + one multiply), so the SQL oracle replays H bit-for-bit.

    Scale: two LEADs on the shared per-conversation window, one
    (conv_id, code) groupBy (map-side combined, state <= 8 rows per
    conversation), one conv_id aggregate with a <= 8-element fold.
    Output: (conv_id, n_windows long, n_patterns long, h double, h_norm
    double — NULL when n_windows = 0).
    """
    x = F.col(signal_col).cast("long")
    w = conv_window()
    trip = (
        df.where(x.isNotNull())
        .select(
            "conv_id",
            x.alias("_x0"),
            F.lead(x, 1).over(w).alias("_x1"),
            F.lead(x, 2).over(w).alias("_x2"),
        )
        .where(F.col("_x1").isNotNull() & F.col("_x2").isNotNull())
    )
    code = (
        F.when(F.col("_x0") > F.col("_x1"), F.lit(4)).otherwise(F.lit(0))
        + F.when(F.col("_x0") > F.col("_x2"), F.lit(2)).otherwise(F.lit(0))
        + F.when(F.col("_x1") > F.col("_x2"), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    # each window carries its conversation's window count, on the lead
    # window's own partitioning and order
    trip = trip.withColumn("_nw", F.count("*").over(Window.partitionBy("conv_id")))
    per_code = trip.groupBy("conv_id", code.alias("_code")).agg(
        F.count("*").cast("long").alias("_c"), F.max("_nw").alias("_nw")
    )
    nd = F.col("_nw").cast("double")
    g = per_code.groupBy("conv_id").agg(
        F.sum("_c").cast("long").alias("n_windows"),
        F.count("*").cast("long").alias("n_patterns"),
        *ordered_sums(
            ["_code"],
            _h=(F.col("_c").cast("double") / nd) * F.log2(F.col("_c").cast("double") / nd),
        ),
    )
    h = -F.col("_h")
    ok = F.col("n_windows") > 0
    return g.select(
        "conv_id",
        "n_windows",
        "n_patterns",
        F.when(ok, h).alias("h"),
        F.when(ok, h / F.lit(math.log2(6.0))).alias("h_norm"),
    )


def turning_points(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Turning-points test of serial randomness per conversation
    (Kendall's classic nonparametric check): count interior turns T
    where the signal is a strict local extremum, and standardize
    against the i.i.d. null

        E[T] = 2 (n - 2) / 3,   Var[T] = (16 n - 29) / 90

    Too FEW turning points = trending/sticky dynamics; too MANY =
    oscillation faster than chance (the [[oscillation]] operator's
    test-statistic counterpart). Complements [[runs_test]], which
    dichotomizes around the median and so misses local shape.

    Determinism: T and n are exact longs (one LAG + one LEAD on the
    stable order, strict > / < comparisons — tie plateaus are not
    extrema); E and Var are one-division chains over integer
    numerators, z is a two-op chain — the SQL oracle replays it
    bit-for-bit.

    Scale: one pass over the shared per-conversation window, one
    conv_id groupBy. Output: (conv_id, n long, t_points long, expected
    double, z double — NULL when n < 3).
    """
    x = F.col(signal_col).cast("long")
    w = conv_window()
    lagged = df.where(x.isNotNull()).select(
        "conv_id",
        x.alias("_x"),
        F.lag(x, 1).over(w).alias("_p"),
        F.lead(x, 1).over(w).alias("_f"),
    )
    is_turn = (
        F.col("_p").isNotNull()
        & F.col("_f").isNotNull()
        & (
            ((F.col("_x") > F.col("_p")) & (F.col("_x") > F.col("_f")))
            | ((F.col("_x") < F.col("_p")) & (F.col("_x") < F.col("_f")))
        )
    )
    g = lagged.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.sum(F.when(is_turn, F.lit(1))), F.lit(0))
        .cast("long")
        .alias("t_points"),
    )
    nd = F.col("n")
    expected = (F.lit(2) * (nd - F.lit(2))).cast("double") / F.lit(3.0)
    var = (F.lit(16) * nd - F.lit(29)).cast("double") / F.lit(90.0)
    z = (F.col("t_points").cast("double") - expected) / F.sqrt(var)
    ok = F.col("n") >= 3
    return g.select(
        "conv_id",
        "n",
        "t_points",
        F.when(ok, expected).alias("expected"),
        F.when(ok, z).alias("z"),
    )


def ljung_box(df: DataFrame, signal_col: str = "signal", lags: int = 5) -> DataFrame:
    """Ljung-Box portmanteau test (1978) per conversation: are the
    first `lags` autocorrelations of the signal jointly zero?

        Q = n (n + 2) sum_{k=1..m} r_k^2 / (n - k)   ~ chi2(m)

    The JOINT whiteness test the single-lag [[autocorrelation]]
    operator cannot give — a conversation can pass lag-1 and still
    carry strong period-3 tool-call cycles that only r_3 sees.

    Determinism: each lag's deviation cross-moment is kept as the
    EXACT LONG n^2 c_k = n^2 Sxy_k - n S (Sh_k + St_k) + (n - k) S^2
    (Sxy_k = sum x_i x_{i+k}, Sh/St the head/tail sums — all exact
    integer window sums), and n^2 c_0 = n (n SS - S^2), so every
    r_k = (n^2 c_k) / (n^2 c_0) is ONE long-ratio division and Q is a
    fixed m-term left chain — the SQL oracle replays everything
    bit-for-bit. Long bound: n^2 Sxy <= 81 n^3 — exact for
    conversations under ~480k turns (decimal(38,0) beyond).

    Scale: m LAG columns on the shared per-conversation window in one
    pass, one conv_id groupBy carrying 3m + 3 exact-long aggregates —
    no self-join, no per-row float math. Output: (conv_id, n long,
    r1..rm double, q_lb double, df long — NULL when n <= m or the
    signal is constant).
    """
    x = F.col(signal_col).cast("long")
    w = conv_window()
    cols = [x.alias("_x0")]
    for k in range(1, lags + 1):
        cols.append(F.lag(x, k).over(w).alias(f"_l{k}"))
    lagged = df.where(x.isNotNull()).select("conv_id", *cols)
    aggs = [
        F.count("*").cast("long").alias("_n"),
        F.sum("_x0").cast("long").alias("_s"),
        F.sum(F.col("_x0") * F.col("_x0")).cast("long").alias("_ss"),
    ]
    for k in range(1, lags + 1):
        lk = F.col(f"_l{k}")
        have = lk.isNotNull()
        aggs += [
            F.coalesce(F.sum(F.when(have, F.col("_x0") * lk)), F.lit(0))
            .cast("long")
            .alias(f"_sxy{k}"),
            # head sum = the lagged values that exist (x_1..x_{n-k});
            # tail sum = the current values paired with them
            F.coalesce(F.sum(F.when(have, lk)), F.lit(0))
            .cast("long")
            .alias(f"_sh{k}"),
            F.coalesce(F.sum(F.when(have, F.col("_x0"))), F.lit(0))
            .cast("long")
            .alias(f"_st{k}"),
        ]
    g = lagged.groupBy("conv_id").agg(*aggs)
    n = F.col("_n")
    s = F.col("_s")
    c0n2 = (n * (n * F.col("_ss") - s * s)).cast("long")

    def _ck_n2(k: int):
        return (
            n * n * F.col(f"_sxy{k}")
            - n * s * (F.col(f"_sh{k}") + F.col(f"_st{k}"))
            + (n - F.lit(k)) * s * s
        ).cast("long")

    rs = [(_ck_n2(k).cast("double") / c0n2.cast("double")) for k in range(1, lags + 1)]
    nd = n.cast("double")
    q = None
    for k, r in enumerate(rs, start=1):
        term = r * r / (nd - F.lit(float(k)))
        q = term if q is None else q + term
    q = nd * (nd + F.lit(2.0)) * q
    ok = (n > lags) & (c0n2 > 0)
    out = [
        "conv_id",
        F.col("_n").alias("n"),
        *[F.when(ok, rs[k - 1]).alias(f"r{k}") for k in range(1, lags + 1)],
        F.when(ok, q).alias("q_lb"),
        F.lit(lags).cast("long").alias("df"),
    ]
    return g.select(*out)


def seasonal_naive_mase(
    df: DataFrame, signal_col: str = "signal", season: int = 3
) -> DataFrame:
    """Mean absolute scaled error of the season-m naive forecast
    (Hyndman & Koehler 2006) per conversation: how much better does
    'repeat the value from m turns ago' predict the signal than
    'repeat the last value'?

        mase = (sum_{i>=m} |x_i - x_{i-m}| / (n - m))
             / (sum_{i>=1} |x_i - x_{i-1}| / (n - 1))

    mase < 1 = the conversation carries period-m structure (the
    model-free confirmation of what [[ljung_box]]'s r_m flags);
    mase ~ 1 = no seasonal memory beyond the local level.

    Determinism: both absolute-deviation sums are exact longs over the
    stable order; the two MAEs are one division each and the ratio one
    more — a three-op chain the SQL oracle replays bit-for-bit.

    Scale: two LAGs on the shared per-conversation window, one conv_id
    groupBy of two exact-long sums. Output: (conv_id, n, sad_1, sad_m
    longs; mae_naive, mae_season, mase doubles — mase NULL when
    n <= season or the naive MAE is 0).
    """
    x = F.col(signal_col).cast("long")
    w = conv_window()
    lagged = df.where(x.isNotNull()).select(
        "conv_id",
        x.alias("_x"),
        F.lag(x, 1).over(w).alias("_l1"),
        F.lag(x, season).over(w).alias("_lm"),
    )
    g = lagged.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.sum(F.abs(F.col("_x") - F.col("_l1"))), F.lit(0))
        .cast("long")
        .alias("sad_1"),
        F.coalesce(F.sum(F.abs(F.col("_x") - F.col("_lm"))), F.lit(0))
        .cast("long")
        .alias("sad_m"),
    )
    n = F.col("n")
    mae1 = F.col("sad_1").cast("double") / (n - F.lit(1)).cast("double")
    maem = F.col("sad_m").cast("double") / (n - F.lit(season)).cast("double")
    ok = (n > season) & (F.col("sad_1") > 0)
    return g.select(
        "conv_id",
        "n",
        "sad_1",
        "sad_m",
        F.when(n > 1, mae1).alias("mae_naive"),
        F.when(n > season, maem).alias("mae_season"),
        F.when(ok, maem / mae1).alias("mase"),
    )


def concordance_index(
    df: DataFrame,
    event_role: str = "tool",
    signal_col: str = "signal",
) -> DataFrame:
    """Harrell's concordance index (C-index, 1982) for the
    time-to-first-``event_role`` outcome with right censoring: does a
    conversation's mean signal RANK its time-to-event correctly? The
    discrimination metric for the survival family ([[kaplan_meier]]
    estimates the curve, [[log_rank]] tests two of them; this scores a
    RISK MODEL against the censored outcome — here the model is the
    mean-signal score, higher = sooner event):

        comparable pairs: i had the event and dur_i < dur_j
        c = (concordant + 0.5 * score-ties) / comparable

    concordant when score_i > score_j (the earlier-event conversation
    carries the higher risk score).

    Determinism: durations are exact microsecond longs (first-event or
    last-turn censor, exactly [[kaplan_meier]]'s clock); the mean-score
    comparison is the EXACT INTEGER cross-product test S_i n_j vs
    S_j n_i (no division ever happens), so concordant/tied/comparable
    are exact longs and c is ONE division — the SQL oracle replays it
    bit-for-bit.

    Scale: the pair stage is a documented OPT-IN exact baseline (the
    [[moran]] convention): conversations collapse to one row each
    first (the shared conv_id exchange), then a broadcast
    range-predicate self-join over the k-row summary — k^2 pair
    evaluations of integer comparisons (k = conversations; fine for
    audit-scale k, quadratic by design). Output one row: (n_conv,
    n_events, comparable, concordant, tied longs; c_index double —
    NULL when no comparable pairs).
    """
    from pyspark.sql.functions import broadcast

    x = F.col(signal_col).cast("long")
    ts_us = epoch_us("ts")
    per = df.groupBy("conv_id").agg(
        F.min(ts_us).alias("_t0"),
        F.min(F.when(F.col("role") == event_role, ts_us)).alias("_tev"),
        F.max(ts_us).alias("_tend"),
        F.coalesce(F.sum(x), F.lit(0)).cast("long").alias("_s"),
        F.count(x).cast("long").alias("_n"),
    )
    is_event = F.col("_tev").isNotNull()
    dur = F.when(is_event, F.col("_tev") - F.col("_t0")).otherwise(
        F.col("_tend") - F.col("_t0")
    )
    base = per.select(
        "conv_id",
        dur.cast("long").alias("_dur"),
        is_event.alias("_e"),
        "_s",
        "_n",
    ).where(F.col("_n") > 0)
    a = base.select(
        F.col("_dur").alias("_dur_a"),
        F.col("_e").alias("_e_a"),
        F.col("_s").alias("_s_a"),
        F.col("_n").alias("_n_a"),
    )
    b = base.select(
        F.col("_dur").alias("_dur_b"),
        F.col("_s").alias("_s_b"),
        F.col("_n").alias("_n_b"),
    )
    # opt-in exact O(k^2) baseline over the k-row conversation summary
    pairs = a.join(broadcast(b), F.col("_dur_a") < F.col("_dur_b")).where(
        F.col("_e_a")
    )
    lhs = F.col("_s_a") * F.col("_n_b")
    rhs = F.col("_s_b") * F.col("_n_a")
    pg = pairs.agg(
        F.count("*").cast("long").alias("comparable"),
        F.coalesce(F.sum(F.when(lhs > rhs, F.lit(1))), F.lit(0))
        .cast("long")
        .alias("concordant"),
        F.coalesce(F.sum(F.when(lhs == rhs, F.lit(1))), F.lit(0))
        .cast("long")
        .alias("tied"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("n_conv"),
        F.coalesce(F.sum(F.when(F.col("_e"), F.lit(1))), F.lit(0))
        .cast("long")
        .alias("n_events"),
    )
    g = tot.crossJoin(broadcast(pg))
    c = (
        F.col("concordant").cast("double")
        + F.lit(0.5) * F.col("tied").cast("double")
    ) / F.col("comparable").cast("double")
    return g.select(
        "n_conv",
        "n_events",
        "comparable",
        "concordant",
        "tied",
        F.when(F.col("comparable") > 0, c).alias("c_index"),
    )


def sample_entropy(
    df: DataFrame,
    signal_col: str = "signal",
    r_tol: int = 1,
) -> DataFrame:
    """Sample entropy (Richman & Moorman 2000) of the signal sequence
    per conversation, m = 2 with integer Chebyshev tolerance ``r_tol``:

        SampEn = -ln(A / B)

    where B counts template pairs i < j (i, j <= n - 3, the standard
    Richman-Moorman index range: only templates with a defined m+1
    extension enter EITHER count) whose length-2 windows match within
    tolerance (|x_i - x_j| <= r and |x_{i+1} - x_{j+1}| <= r) and A
    the same pairs extended to length-3. The regularity reading of the
    dynamics family — [[permutation_entropy]] sees ordinal shape,
    SampEn sees metric recurrence (a conversation can be ordinally
    diverse yet metrically regular), and unlike approximate entropy it
    excludes self-matches, so it is unbiased at short lengths.

    Determinism: with the engine's integer signal contract and integer
    tolerance, every match predicate is exact integer arithmetic — A
    and B are exact longs and SampEn is one division + one log.

    Scale: the pair stage is a documented OPT-IN exact baseline (the
    [[moran]] / [[concordance_index]] convention): a per-conversation
    self-join on the shared conv_id exchange — O(len^2) comparisons
    per conversation, quadratic in conversation LENGTH by design
    (corpus size only enters linearly through the conversation count).
    Output: (conv_id, n long, b_count, a_count longs; sampen double —
    NULL when A = 0 or B = 0, where the estimator is undefined).
    """
    x = F.col(signal_col).cast("long")
    w = conv_window()
    tpl = (
        df.where(x.isNotNull())
        .select(
            "conv_id",
            F.row_number().over(w).cast("long").alias("_i"),
            x.alias("_x0"),
            F.lead(x, 1).over(w).alias("_x1"),
            F.lead(x, 2).over(w).alias("_x2"),
        )
        .where(F.col("_x2").isNotNull())
    )
    a = tpl.select(
        "conv_id",
        F.col("_i").alias("_ia"),
        F.col("_x0").alias("_a0"),
        F.col("_x1").alias("_a1"),
        F.col("_x2").alias("_a2"),
    )
    bb = tpl.select(
        "conv_id",
        F.col("_i").alias("_ib"),
        F.col("_x0").alias("_b0"),
        F.col("_x1").alias("_b1"),
        F.col("_x2").alias("_b2"),
    )
    pairs = a.join(bb, "conv_id").where(F.col("_ia") < F.col("_ib"))
    m2 = (F.abs(F.col("_a0") - F.col("_b0")) <= r_tol) & (
        F.abs(F.col("_a1") - F.col("_b1")) <= r_tol
    )
    m3 = m2 & (F.abs(F.col("_a2") - F.col("_b2")) <= r_tol)
    pg = pairs.groupBy("conv_id").agg(
        F.coalesce(F.sum(F.when(m2, F.lit(1))), F.lit(0))
        .cast("long")
        .alias("b_count"),
        F.coalesce(F.sum(F.when(m3, F.lit(1))), F.lit(0))
        .cast("long")
        .alias("a_count"),
    )
    n_per = df.where(x.isNotNull()).groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n")
    )
    out = n_per.join(pg, "conv_id", "left").select(
        "conv_id",
        "n",
        F.coalesce(F.col("b_count"), F.lit(0)).cast("long").alias("b_count"),
        F.coalesce(F.col("a_count"), F.lit(0)).cast("long").alias("a_count"),
    )
    ok = (F.col("a_count") > 0) & (F.col("b_count") > 0)
    return out.withColumn(
        "sampen",
        F.when(
            ok,
            -F.log(
                F.col("a_count").cast("double") / F.col("b_count").cast("double")
            ),
        ),
    )


def rmst(
    df: DataFrame,
    tau_buckets: int = 30,
    event_role: str = "tool",
    bucket_s: int = 60,
    role_col: str = "role",
) -> DataFrame:
    """Restricted mean survival time at horizon tau = ``tau_buckets``
    buckets — the area under the [[kaplan_meier]] curve up to tau, the
    single-number summary a report quotes when the median never falls
    ('expected tool-free minutes within the first half hour'):

        RMST(tau) = integral_0^tau S(t) dt
                  = sum_i S(t_{i-1}) (min(t_i, tau) - min(t_{i-1}, tau))
                    + S(t_m) (tau - min(t_m, tau))

    over the KM step function on the bucketed duration axis.

    Determinism: builds on kaplan_meier's exact-long bucket rows; each
    interval term is S_before (the PREVIOUS row's fold product — the
    identical double) times an exact-long bucket gap, summed by an
    ``exprs.ordered_sums`` in bucket order plus one tail term. The SQL oracle
    replays the same products and fold bit-for-bit.

    Scale: everything past the per-conv collapse runs on the bounded
    bucket grid (see kaplan_meier). Output one row: (tau_s, n_conv
    longs; rmst_s double — the restricted mean in seconds).
    """
    km = kaplan_meier(df, event_role=event_role, bucket_s=bucket_s, role_col=role_col)
    w = Window.orderBy("t_bucket")
    tau = F.lit(int(tau_buckets)).cast("long")
    capped = F.least(F.col("t_bucket"), tau)
    prev_capped = F.least(
        F.coalesce(F.lag("t_bucket", 1).over(w), F.lit(0).cast("long")), tau
    )
    s_before = F.coalesce(F.lag("s_km", 1).over(w), F.lit(1.0))
    rows = km.select(
        F.col("t_bucket"),
        (F.col("n_risk") + F.lit(0)).alias("_nr"),
        F.col("d"),
        F.col("c"),
        F.col("s_km"),
        (s_before * (capped - prev_capped).cast("double")).alias("_term"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(
            Window.orderBy("t_bucket").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_m"),
    )
    # tail: survival after the last bucket carries to tau
    tail = F.when(
        F.col("_rn") == F.col("_m"),
        F.col("s_km") * (tau - F.least(F.col("t_bucket"), tau)).cast("double"),
    ).otherwise(F.lit(0.0))
    rows = rows.withColumn("_tail", tail)
    n_conv = F.col("_nr")  # first row's n_risk is the cohort size
    g = rows.agg(
        *ordered_sums(["t_bucket"], _t=F.col("_term") + F.col("_tail")),
        F.max(F.when(F.col("_rn") == 1, n_conv)).cast("long").alias("n_conv"),
    )
    area_b = F.col("_t")
    return g.select(
        (tau * F.lit(int(bucket_s))).alias("tau_s"),
        "n_conv",
        (area_b * F.lit(float(bucket_s))).alias("rmst_s"),
    )


def role_xcorr(
    df: DataFrame,
    role_a: str = "user",
    role_b: str = "assistant",
    max_lag: int = 3,
) -> DataFrame:
    """Lead-lag cross-correlation between two roles' hourly activity
    series: Pearson r of (count_a at hour t, count_b at hour t+lag)
    for lag in -max_lag..max_lag — does assistant volume FOLLOW user
    volume (peak at positive lag) or move with it (peak at 0)? The
    cross-series companion to the single-series [[q_acf_profile]].

    Hours missing from a series count as zero activity: the pair
    grid is the union of both series' hours shifted by each lag, so
    a silent hour is evidence (0), not a dropped row.

    Determinism: counts are exact longs; per-lag pair moments are
    exact longs from one join per lag on the hour key; r is a fixed
    chain. Bit-replayable.

    Scale: calendar-bounded series; 2*max_lag+1 tiny hash joins.
    Output: (lag long, n_pairs long, r double — NULL when a side is
    constant), ascending by lag.
    """
    hours = df.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("_h")
    ).agg(
        F.sum(F.when(F.col("role") == role_a, 1).otherwise(0))
        .cast("long")
        .alias("_ca"),
        F.sum(F.when(F.col("role") == role_b, 1).otherwise(0))
        .cast("long")
        .alias("_cb"),
    )
    out = None
    for lag in range(-int(max_lag), int(max_lag) + 1):
        a = hours.select(F.col("_h"), F.col("_ca"))
        b = hours.select(
            (F.col("_h") - F.expr(f"INTERVAL {lag} HOURS")).alias("_h"),
            F.col("_cb"),
        )
        j = a.join(b, "_h", "full").select(
            F.coalesce(F.col("_ca"), F.lit(0)).cast("long").alias("_x"),
            F.coalesce(F.col("_cb"), F.lit(0)).cast("long").alias("_y"),
        )
        g = j.agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("_x").cast("long").alias("_sx"),
            F.sum("_y").cast("long").alias("_sy"),
            F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
            F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
            F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
        ).select(
            F.lit(lag).cast("long").alias("lag"),
            "n_pairs",
            "_sx",
            "_sy",
            "_sxx",
            "_syy",
            "_sxy",
        )
        out = g if out is None else out.unionByName(g)
    n = F.col("n_pairs")
    cov = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    vx = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vy = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    return out.select(
        "lag",
        "n_pairs",
        F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)).alias("r"),
    )


def handoff_latency_matrix(df: DataFrame) -> DataFrame:
    """Corpus-wide handoff latency matrix: for every (from_role,
    to_role) consecutive-turn transition, exact median and p90 gap
    seconds plus the mean — which handoffs are slow? (the
    [[response_latency]] user->assistant number generalized to the
    full role grid; a slow assistant->tool edge is a tool-dispatch
    bottleneck, a slow tool->assistant edge is the tool itself).

    Determinism: gaps are exact microsecond longs on the stable turn
    order; median/p90 are EXACT rank picks (ceil(q n), gap asc) on
    the compacted per-pair gap histogram — no interpolation; the
    mean divides an exact sum. Seconds rescale (/1e6) keeps the 6dp
    contract in the exact zone (the q_latency lesson).

    Scale: one lag window, one (pair, gap) groupBy; rank windows run
    on the compacted histogram. Output: (from_role, to_role, n long,
    mean_sec, p50_sec, p90_sec doubles), pairs with n >= 1.
    """
    w = conv_window()
    ts_us = epoch_us("ts")
    pairs = (
        df.select(
            "conv_id",
            "ts",
            "turn_idx",
            F.col("role").alias("_v"),
            ts_us.alias("_us"),
        )
        .select(
            F.lag("_v", 1).over(w).alias("_u"),
            F.col("_v"),
            (F.col("_us") - F.lag("_us", 1).over(w)).alias("_gap"),
        )
        .where(F.col("_u").isNotNull())
    )
    hist = pairs.groupBy("_u", "_v", "_gap").agg(
        F.count("*").cast("long").alias("_m")
    )
    cum = running_counts(hist, ["_u", "_v"], "_gap", "_m")

    def pick(q):
        return value_at_rank("_gap", F.ceil(F.lit(q) * F.col("_n")).cast("long"))

    g = cum.groupBy("_u", "_v").agg(
        F.max("_n").alias("n"),
        F.sum(F.col("_gap") * F.col("_m")).cast("long").alias("_sgm"),
        pick(0.50).alias("_p50"),
        pick(0.90).alias("_p90"),
    )
    sec = lambda c: c.cast("double") / F.lit(1e6)  # noqa: E731
    return g.select(
        F.col("_u").alias("from_role"),
        F.col("_v").alias("to_role"),
        F.col("n").cast("long").alias("n"),
        (F.col("_sgm").cast("double") / F.col("n").cast("double") / F.lit(1e6)).alias(
            "mean_sec"
        ),
        sec(F.col("_p50")).alias("p50_sec"),
        sec(F.col("_p90")).alias("p90_sec"),
    )


def tool_chains(df: DataFrame, k: int = 10) -> DataFrame:
    """Top-k consecutive tool-call chains: for turns that carry a tool,
    the (prev_tool -> tool) bigram counts within a conversation
    (intervening non-tool turns are skipped — the chain is over the
    TOOL subsequence), with each chain's share of all tool bigrams —
    the 'what follows what' map of agent tool usage that
    [[q_role_transitions]] gives for roles and this op gives for the
    tool vocabulary.

    Determinism: the tool subsequence rides the stable (ts, turn_idx)
    order; counts are exact longs; rank ties break on (from, to) asc;
    shares are single divisions. Bit-replayable.

    Scale: one filtered window pass + one (from, to) groupBy; the
    bounded top-k window runs on the |tools|^2 frame. Output:
    (from_tool, to_tool, n long, share double, rank long), rank
    1..k.
    """
    w = conv_window()
    t = df.where(F.col("tool").isNotNull()).select(
        "conv_id",
        "ts",
        "turn_idx",
        F.col("tool").alias("_to"),
        F.lag("tool", 1).over(
            conv_window()
        ).alias("_from"),
    )
    # note: the lag window above runs on the FILTERED frame, so _from
    # is the previous TOOL turn, not the previous turn of any role
    pairs = t.where(F.col("_from").isNotNull()).groupBy("_from", "_to").agg(
        F.count("*").cast("long").alias("n")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = Window.orderBy(F.col("n").desc(), F.asc("_from"), F.asc("_to"))
    ranked = pairs.withColumn("_tot", F.sum("n").over(w_all).cast("long")).withColumn(
        "rank", F.row_number().over(w_rank).cast("long")
    )
    return ranked.where(F.col("rank") <= int(k)).select(
        F.col("_from").alias("from_tool"),
        F.col("_to").alias("to_tool"),
        "n",
        (F.col("n").cast("double") / F.col("_tot").cast("double")).alias("share"),
        "rank",
    )


def conv_endings(df: DataFrame) -> DataFrame:
    """How conversations END: the distribution of each conversation's
    final turn role (share of conversations closing on user /
    assistant / tool / system) and the mean closing signal per ending
    role — the outcome-shape screen (a corpus where most dialogs end
    on an unanswered USER turn is a truncation/abandonment smell the
    per-turn views never surface).

    Determinism: the final turn is the exact (ts desc, turn_idx desc)
    argmax per conversation via one MAX over the (ts_us, turn_idx,
    role-ordinal, signal) struct — no window needed; counts exact;
    shares/means single divisions. Role rides the struct as its
    fixed enum ordinal so the struct MAX stays a pure integer
    comparison. Bit-replayable.

    Output: (role, n_convs long, share double, mean_last_signal
    double), one row per observed ending role.
    """
    ts_us = epoch_us("ts")
    role_ord = (
        F.when(F.col("role") == "user", 0)
        .when(F.col("role") == "assistant", 1)
        .when(F.col("role") == "tool", 2)
        .otherwise(3)
        .cast("int")
    )
    last = df.groupBy("conv_id").agg(
        F.max(
            F.struct(
                ts_us.alias("_t"),
                F.col("turn_idx").cast("long").alias("_i"),
                role_ord.alias("_r"),
                F.col("signal").cast("long").alias("_s"),
            )
        ).alias("_m")
    )
    per = last.select(
        F.col("_m._r").alias("_r"), F.col("_m._s").alias("_s")
    ).groupBy("_r").agg(
        F.count("*").cast("long").alias("n_convs"),
        F.sum("_s").cast("long").alias("_ss"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = per.withColumn("_tot", F.sum("n_convs").over(w_all).cast("long"))
    role_name = (
        F.when(F.col("_r") == 0, "user")
        .when(F.col("_r") == 1, "assistant")
        .when(F.col("_r") == 2, "tool")
        .otherwise("system")
    )
    return tot.select(
        role_name.alias("role"),
        "n_convs",
        (F.col("n_convs").cast("double") / F.col("_tot").cast("double")).alias(
            "share"
        ),
        F.when(
            F.col("n_convs") > 0,
            F.col("_ss").cast("double") / F.col("n_convs").cast("double"),
        ).alias("mean_last_signal"),
    )


def cold_start_share(df: DataFrame) -> DataFrame:
    """Daily cold-start decomposition: per day, how many turns belong
    to conversations whose FIRST turn is that day (new) vs carried
    over (returning), plus the count of conversations born that day —
    the growth-mix view of [[q_daily_activity]] (a corpus where most
    daily volume is day-one conversations churns; one where old
    threads dominate compounds).

    Determinism: each conversation's birth day derives from the exact
    MIN(ts_us) (one aggregate, broadcast back); counts exact; the
    share is one division. Bit-replayable.

    Scale: one per-conv aggregate + one broadcast join + one per-day
    aggregate — no window. Output: (day, n_turns long, n_new_turns
    long, n_new_convs long, new_share double), days ascending by
    value.
    """
    births = df.groupBy("conv_id").agg(
        F.min(F.col("ts").cast("timestamp")).alias("_b")
    )
    births = births.select(
        "conv_id", F.date_trunc("day", F.col("_b")).alias("_bday")
    )
    j = df.select(
        "conv_id", F.date_trunc("day", F.col("ts")).alias("_day")
    ).join(F.broadcast(births), "conv_id")
    g = j.groupBy("_day").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(F.when(F.col("_day") == F.col("_bday"), 1).otherwise(0))
        .cast("long")
        .alias("n_new_turns"),
        F.count_distinct(
            F.when(F.col("_day") == F.col("_bday"), F.col("conv_id"))
        )
        .cast("long")
        .alias("n_new_convs"),
    )
    return g.select(
        F.col("_day").alias("day"),
        "n_turns",
        "n_new_turns",
        "n_new_convs",
        F.when(
            F.col("n_turns") > 0,
            F.col("n_new_turns").cast("double") / F.col("n_turns").cast("double"),
        ).alias("new_share"),
    )


def column_profile(events: DataFrame) -> DataFrame:
    """Deequ-style column profiler over the raw event log: for every
    column, row count, null count and share, exact distinct count,
    and min/max rendered as strings — the schema-health table a
    pipeline asserts on before features are computed (a numeric
    column whose null share jumped from 0 to 0.3 fails here, not
    three joins later).

    Determinism: all counts exact; min/max exact per type, cast to
    canonical strings (timestamps via ISO text, doubles via their
    6dp-rounded repr). Bit-replayable.

    Scale: one aggregate per column (Spark runs them as one
    multi-aggregate pass per column set; distincts are exact —
    swap in approx_count_distinct at 10^12 rows and gate its error
    like [[approx_quantile_check]]). Output: (column string, n long,
    n_null long, null_share double, n_distinct long, min_str,
    max_str strings), one row per profiled column.
    """
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    out = None
    for c in cols:
        col = F.col(c)
        if c == "value":
            render = lambda e: F.round(e.cast("double"), 6).cast("string")  # noqa: E731
        elif c == "ts":
            render = lambda e: F.date_format(e, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
        else:
            render = lambda e: e.cast("string")  # noqa: E731
        g = events.agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).cast("long").alias(
                "n_null"
            ),
            F.count_distinct(col).cast("long").alias("n_distinct"),
            render(F.min(col)).alias("min_str"),
            render(F.max(col)).alias("max_str"),
        ).select(
            F.lit(c).alias("column"),
            "n",
            "n_null",
            F.when(
                F.col("n") > 0,
                F.col("n_null").cast("double") / F.col("n").cast("double"),
            ).alias("null_share"),
            "n_distinct",
            "min_str",
            "max_str",
        )
        out = g if out is None else out.unionByName(g)
    return out


def wow_growth(events: DataFrame) -> DataFrame:
    """Week-over-week volume growth per event type: each calendar
    week's event count, the previous adjacent week's, and the percent
    change — the growth-accounting companion to [[wau_overlap]]
    (users) on the VOLUME axis, per activity type (purchases shrinking
    while views grow is a funnel problem the total hides).

    Determinism: exact counts; the adjacency test is an exact
    interval compare; pct change is one division. Weeks with no
    adjacent predecessor emit no row. Bit-replayable.

    Output: (event_type, week_start, n_prev long, n_curr long,
    pct_change double — NULL when the previous week is empty),
    ascending by (event_type, week).
    """
    per = events.groupBy(
        F.col("event_type"), F.date_trunc("week", F.col("ts")).alias("_w")
    ).agg(F.count("*").cast("long").alias("_n"))
    w_ord = Window.partitionBy("event_type").orderBy("_w")
    adj = per.select(
        "event_type",
        "_w",
        "_n",
        F.lag("_w", 1).over(w_ord).alias("_pw"),
        F.lag("_n", 1).over(w_ord).alias("_pn"),
    ).where(
        F.col("_pw").isNotNull()
        & (F.col("_w") == F.col("_pw") + F.expr("INTERVAL 7 DAYS"))
    )
    return adj.select(
        "event_type",
        F.col("_w").alias("week_start"),
        F.col("_pn").cast("long").alias("n_prev"),
        F.col("_n").cast("long").alias("n_curr"),
        F.when(
            F.col("_pn") > 0,
            (F.col("_n") - F.col("_pn")).cast("double")
            / F.col("_pn").cast("double")
            * F.lit(100.0),
        ).alias("pct_change"),
    )


def engagement_depth(events: DataFrame) -> DataFrame:
    """Engagement-depth histogram: how many users were active on
    exactly d distinct days, with each bucket's user share and the
    cumulative share of users at-or-above d — the depth
    decomposition behind a DAU/WAU-style stickiness number (a corpus
    where 90% of users show up one day is drive-by traffic however
    big the totals look).

    Determinism: distinct (user, day) rows are exact; all counts
    exact; shares single divisions; the cumulative rides an exact
    window sum on the tiny histogram. Bit-replayable.

    Output: (active_days long, n_users long, user_share double,
    cum_share_at_least double), ascending by active_days.
    """
    per_user = (
        events.select(
            F.col("user_id").cast("long").alias("_u"),
            F.date_trunc("day", F.col("ts")).alias("_d"),
        )
        .distinct()
        .groupBy("_u")
        .agg(F.count("*").cast("long").alias("_days"))
    )
    hist = per_user.groupBy("_days").agg(
        F.count("*").cast("long").alias("n_users")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ge = Window.orderBy("_days").rowsBetween(0, Window.unboundedFollowing)
    out = hist.select(
        F.col("_days").alias("active_days"),
        "n_users",
        F.sum("n_users").over(w_all).cast("long").alias("_tot"),
        F.sum("n_users").over(w_ge).cast("long").alias("_ge"),
    )
    return out.select(
        "active_days",
        "n_users",
        (F.col("n_users").cast("double") / F.col("_tot").cast("double")).alias(
            "user_share"
        ),
        (F.col("_ge").cast("double") / F.col("_tot").cast("double")).alias(
            "cum_share_at_least"
        ),
    )


def first_response_stats(df: DataFrame) -> DataFrame:
    """Time-to-first-assistant-response distribution: per
    conversation, the seconds from its first USER turn to the first
    ASSISTANT turn at-or-after it; corpus-level exact rank-pick
    p50/p90/p99 plus the share of conversations never answered — the
    SLA number for agent transcripts ([[handoff_latency_matrix]]
    times every adjacent handoff; this is specifically the opening
    response, which is what users feel).

    Determinism: first-user and first-assistant-after are exact
    conditional MINs per conversation; percentiles are exact integer
    rank picks on the compacted seconds histogram (6dp-rounded
    seconds axis). Bit-replayable.

    Output one row: (n_convs long, n_answered long, unanswered_share
    double, p50_sec, p90_sec, p99_sec doubles — NULL when nothing
    answered).
    """
    ts_us = epoch_us("ts")
    per = df.groupBy("conv_id").agg(
        F.min(F.when(F.col("role") == "user", ts_us)).alias("_fu"),
    )
    # first assistant at-or-after the first user turn
    ja = df.select("conv_id", F.col("role"), ts_us.alias("_us")).join(
        per, "conv_id"
    )
    fa = ja.where(
        (F.col("role") == "assistant") & (F.col("_us") >= F.col("_fu"))
    ).groupBy("conv_id").agg(F.min("_us").alias("_fa"))
    j = per.join(fa, "conv_id", "left").where(F.col("_fu").isNotNull())
    secs = F.round(
        (F.col("_fa") - F.col("_fu")).cast("double") / F.lit(1e6), 6
    )
    base = j.select(secs.alias("_s"))
    hist = base.where(F.col("_s").isNotNull()).groupBy("_s").agg(
        F.count("*").cast("long").alias("_m")
    )
    cum = running_counts(hist, [], "_s", "_m")

    def pick(q):
        return value_at_rank("_s", F.ceil(F.lit(q) * F.col("_n")).cast("long"))

    qs = cum.agg(
        F.max("_n").alias("n_answered"),
        pick(0.50).alias("p50_sec"),
        pick(0.90).alias("p90_sec"),
        pick(0.99).alias("p99_sec"),
    )
    tot = base.agg(F.count("*").cast("long").alias("n_convs"))
    g = tot.crossJoin(F.broadcast(qs))
    na = F.coalesce(F.col("n_answered"), F.lit(0)).cast("long")
    return g.select(
        "n_convs",
        na.alias("n_answered"),
        F.when(
            F.col("n_convs") > 0,
            (F.col("n_convs") - na).cast("double")
            / F.col("n_convs").cast("double"),
        ).alias("unanswered_share"),
        "p50_sec",
        "p90_sec",
        "p99_sec",
    )


def context_overflow(
    df: DataFrame,
    budgets=(512, 2048, 8192),
) -> DataFrame:
    """Context-budget overflow shares: for each token budget, the
    share of conversations whose TOTAL signal (token) mass exceeds it
    and the share of corpus tokens in those conversations — the
    truncation-planning table ([[q_truncate_middle]] decides HOW to
    cut; this decides how much cutting each budget implies).

    Determinism: per-conversation token masses are exact longs;
    threshold counts are exact conditional sums; shares single
    divisions. Output: (budget long, n_over long, conv_share double,
    token_share double), budgets ascending.
    """
    per = df.groupBy("conv_id").agg(
        F.sum(F.col("signal").cast("long")).alias("_t")
    )
    bdf = literal_frame(df.sparkSession, [(int(b),) for b in sorted(budgets)], "budget long")
    j = per.crossJoin(F.broadcast(bdf))
    g = j.groupBy("budget").agg(
        F.count("*").cast("long").alias("_nc"),
        F.sum(F.when(F.col("_t") > F.col("budget"), 1).otherwise(0))
        .cast("long")
        .alias("n_over"),
        F.sum("_t").cast("long").alias("_tt"),
        F.sum(F.when(F.col("_t") > F.col("budget"), F.col("_t")))
        .cast("long")
        .alias("_to"),
    )
    return g.select(
        "budget",
        "n_over",
        F.when(
            F.col("_nc") > 0,
            F.col("n_over").cast("double") / F.col("_nc").cast("double"),
        ).alias("conv_share"),
        F.when(
            F.col("_tt") > 0,
            F.coalesce(F.col("_to"), F.lit(0)).cast("double")
            / F.col("_tt").cast("double"),
        ).alias("token_share"),
    )


def position_profile(df: DataFrame, n_bins: int = 10) -> DataFrame:
    """Within-conversation position profile: mean signal by RELATIVE
    turn position decile (bin = floor(n_bins * idx / len)) pooled
    across the corpus — do turns get longer or shorter as
    conversations progress? The within-dialog dynamics view that
    per-conversation trends ([[q_trend_asof]]) average away and
    corpus-level trends ([[q_signal_trend]]) cannot see at all.

    Determinism: position bins are exact integer arithmetic on the
    stable (ts, turn_idx) order rank and the exact conversation
    length; sums exact longs; one division per bin. Bit-replayable.

    Scale: one window pass on the conv_id exchange, one tiny bin
    aggregate. Output: (bin long, n long, mean_signal double),
    bins ascending.
    """
    w = conv_window()
    w_len = Window.partitionBy("conv_id")
    x = F.col("signal").cast("long")
    pos = df.where(x.isNotNull()).select(
        (F.row_number().over(w).cast("long") - 1).alias("_i"),
        F.count("*").over(w_len).cast("long").alias("_len"),
        x.alias("_x"),
    )
    bin_ = F.least(
        F.floor(F.lit(int(n_bins)) * F.col("_i") / F.col("_len")).cast("long"),
        F.lit(int(n_bins) - 1),
    )
    g = pos.groupBy(bin_.alias("bin")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_x").cast("long").alias("_s"),
    )
    return g.select(
        "bin",
        "n",
        F.when(
            F.col("n") > 0, F.col("_s").cast("double") / F.col("n").cast("double")
        ).alias("mean_signal"),
    )


def user_gini(events: DataFrame) -> DataFrame:
    """Activity concentration across users: the exact Gini coefficient
    of per-user event counts plus the top-1% / top-10% user shares of
    all activity — the whale-dependence number ([[q_length_gini]]'s
    machinery pointed at USERS; a corpus where 1% of users generate
    40% of turns inherits those users' quirks as 'style').

    Determinism: per-user counts exact; ranks exact; Gini rank
    products ride DECIMAL(38,0) (HUGEINT oracle); the top-k% cuts are
    integer rank thresholds on the count-DESC order. Bit-replayable.

    Output one row: (n_users long, n_events long, gini double,
    top1_share double, top10_share double).
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    per = events.groupBy(F.col("user_id").cast("long").alias("_u")).agg(
        F.count("*").cast("long").alias("_x")
    )
    w_rank = Window.orderBy(F.asc("_x"), F.asc("_u"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per.select(
        "_x",
        F.row_number().over(w_rank).cast("long").alias("_i"),
        F.count("*").over(w_all).cast("long").alias("_n"),
        F.sum("_x").over(w_all).cast("long").alias("_sx"),
    )
    gterm = (F.lit(2) * d19(F.col("_i")) - d19(F.col("_n")) - 1) * d19(F.col("_x"))
    # top-k% by DESCENDING count: ranks above the integer threshold
    top1 = F.col("_i") > F.col("_n") - F.greatest(
        F.floor(F.col("_n") / 100).cast("long"), F.lit(1)
    )
    top10 = F.col("_i") > F.col("_n") - F.greatest(
        F.floor(F.col("_n") / 10).cast("long"), F.lit(1)
    )
    g = ranked.agg(
        F.max("_n").cast("long").alias("n_users"),
        F.max("_sx").cast("long").alias("n_events"),
        F.sum(gterm).alias("_gn"),
        F.sum(F.when(top1, F.col("_x"))).cast("long").alias("_t1"),
        F.sum(F.when(top10, F.col("_x"))).cast("long").alias("_t10"),
    )
    nd = F.col("n_users").cast("double")
    sxd = F.col("n_events").cast("double")
    ok = F.col("n_events") > 0
    return g.select(
        "n_users",
        "n_events",
        F.when(ok, F.col("_gn").cast("double") / (nd * sxd)).alias("gini"),
        F.when(ok, F.coalesce(F.col("_t1"), F.lit(0)).cast("double") / sxd).alias(
            "top1_share"
        ),
        F.when(ok, F.coalesce(F.col("_t10"), F.lit(0)).cast("double") / sxd).alias(
            "top10_share"
        ),
    )


def rolling_skewness(df: DataFrame, window_hours: int = 24) -> DataFrame:
    """Rolling skewness of the hourly turn-count series over a
    trailing ``window_hours`` row window — the asymmetry tracker
    beside the level trackers ([[q_rolling_1h]], [[q_ewm_smooth]]): a
    skewness that flips positive says rare burst-hours appeared
    inside the window before any mean shift registers.

    Skewness uses the population moment chain on EXACT windowed
    integer sums (the [[q_jarque_bera]] algebra, windowed):
    m3 / m2^(3/2) with m_k from sum c, sum c^2, sum c^3.

    Determinism: windowed integer sums are exact (DECIMAL products);
    the chain is fixed; NULL when the window variance is 0 or fewer
    than 3 rows. Output: (hour, n long, mean, skew doubles), one row
    per hour, ascending.
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    h = df.groupBy(F.date_trunc("hour", F.col("ts")).alias("_h")).agg(
        F.count("*").cast("long").alias("_c")
    )
    w = Window.orderBy("_h").rowsBetween(-(int(window_hours) - 1), 0)
    ser = h.select(
        "_h",
        F.count("*").over(w).cast("long").alias("_n"),
        F.sum("_c").over(w).cast("long").alias("_s1"),
        F.sum(d19(F.col("_c")) * d19(F.col("_c"))).over(w).alias("_s2"),
        F.sum(d19(F.col("_c")) * d19(F.col("_c")) * d19(F.col("_c")))
        .over(w)
        .alias("_s3"),
    )
    nd = F.col("_n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    s3 = F.col("_s3").cast("double")
    mean = s1 / nd
    m2 = s2 / nd - mean * mean
    m3 = s3 / nd - F.lit(3.0) * mean * (s2 / nd) + F.lit(2.0) * mean * mean * mean
    ok = (F.col("_n") >= 3) & (m2 > 0)
    return ser.select(
        F.col("_h").alias("hour"),
        F.col("_n").alias("n"),
        mean.alias("mean"),
        F.when(ok, m3 / F.sqrt(m2 * m2 * m2)).alias("skew"),
    )


def view_to_purchase(
    events: DataFrame,
    window_seconds: int = 3600,
) -> DataFrame:
    """Event-to-event conversion funnel: the share of 'view' events
    followed by a 'purchase' from the SAME user within
    ``window_seconds``, plus exact rank-pick p50/p90 of the
    first-conversion delay — the classical attribution number
    ([[q_funnel]] counts stage reach; this measures the view ->
    purchase EDGE with a time budget).

    Determinism: the candidate join is per-user with an exact
    microsecond interval predicate; the first conversion per view is
    an exact MIN; percentiles are exact rank picks on the compacted
    6dp-seconds axis. Bit-replayable.

    Scale: one equi-join keyed by user (the natural shuffle key;
    views x purchases per user is small) with the interval filter
    applied join-side — never a cross join. Output one row:
    (n_views long, n_converted long, conv_rate double, p50_sec,
    p90_sec doubles — NULL when nothing converts).
    """
    us = epoch_us("ts")
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id").cast("long").alias("_u"),
        F.col("event_id").cast("long").alias("_vid"),
        us.alias("_vt"),
    )
    buys = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("long").alias("_u"), us.alias("_bt")
    )
    w_us = int(window_seconds) * 1_000_000
    j = views.join(buys, "_u", "left").where(
        F.col("_bt").isNull()
        | ((F.col("_bt") > F.col("_vt")) & (F.col("_bt") <= F.col("_vt") + w_us))
    )
    per_view = j.groupBy("_u", "_vid", "_vt").agg(
        F.min(F.when(F.col("_bt").isNotNull(), F.col("_bt"))).alias("_fb")
    )
    # views whose ONLY joined rows were out-of-window purchases fell
    # out of j entirely — recover the full view set with a left join
    base = views.join(
        per_view.select("_vid", "_fb"), "_vid", "left"
    )
    delay = F.round(
        (F.col("_fb") - F.col("_vt")).cast("double") / F.lit(1e6), 6
    )
    scored = base.select(delay.alias("_d"))
    hist = scored.where(F.col("_d").isNotNull()).groupBy("_d").agg(
        F.count("*").cast("long").alias("_m")
    )
    cum = running_counts(hist, [], "_d", "_m")

    def pick(q):
        return value_at_rank("_d", F.ceil(F.lit(q) * F.col("_n")).cast("long"))

    qs = cum.agg(
        F.max("_n").alias("_nconv"),
        pick(0.50).alias("p50_sec"),
        pick(0.90).alias("p90_sec"),
    )
    tot = scored.agg(F.count("*").cast("long").alias("n_views"))
    g = tot.crossJoin(F.broadcast(qs))
    nc = F.coalesce(F.col("_nconv"), F.lit(0)).cast("long")
    return g.select(
        "n_views",
        nc.alias("n_converted"),
        F.when(
            F.col("n_views") > 0,
            nc.cast("double") / F.col("n_views").cast("double"),
        ).alias("conv_rate"),
        "p50_sec",
        "p90_sec",
    )


def activity_heatmap(df: DataFrame) -> DataFrame:
    """Calendar activity heatmap: turn counts and corpus share per
    (day-of-week, hour-of-day) cell — the 7 x 24 load matrix behind
    [[q_seasonality]]'s two effect sizes (the scalar says HOW
    seasonal; this says WHERE the load sits, which is what a
    maintenance window or batch-schedule decision actually reads).

    Day-of-week follows Spark's dayofweek (1 = Sunday .. 7 =
    Saturday; the oracle maps DuckDB's 0-based convention to match).

    Determinism: exact counts, one division. Output: (dow int, hour
    int, n long, share double), cells with activity, ascending.
    """
    g = df.groupBy(
        F.dayofweek(F.col("ts").cast("timestamp")).alias("dow"),
        F.hour(F.col("ts").cast("timestamp")).alias("hour"),
    ).agg(F.count("*").cast("long").alias("n"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = g.withColumn("_tot", F.sum("n").over(w_all).cast("long"))
    return out.select(
        "dow",
        "hour",
        "n",
        (F.col("n").cast("double") / F.col("_tot").cast("double")).alias("share"),
    )


def stutter_rate(df: DataFrame) -> DataFrame:
    """Consecutive duplicate-turn (stutter) rate per role: the share
    of adjacent same-conversation turn pairs where the SAME role
    repeats the IDENTICAL text — the retry/loop smell in agent logs
    ([[q_loop_detection]] finds long cycles; this catches the
    simplest and commonest failure, the immediate double-send) —
    plus each role's share of all stutters.

    Determinism: adjacency rides the stable (ts, turn_idx) order;
    string equality is exact; counts exact; single divisions.
    Bit-replayable.

    Output: (role, n_pairs long, n_stutters long, stutter_rate
    double, share_of_stutters double — NULL when the corpus has
    none), one row per role with pairs.
    """
    w = conv_window()
    pairs = (
        df.select(
            "conv_id",
            "ts",
            "turn_idx",
            F.col("role").alias("_r"),
            F.col("text").alias("_x"),
        )
        .select(
            F.col("_r"),
            F.lag("_r", 1).over(w).alias("_pr"),
            F.col("_x"),
            F.lag("_x", 1).over(w).alias("_px"),
        )
        .where(F.col("_pr").isNotNull())
    )
    is_st = (F.col("_r") == F.col("_pr")) & (F.col("_x") == F.col("_px"))
    g = pairs.groupBy(F.col("_r").alias("role")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(is_st, 1).otherwise(0)).cast("long").alias("n_stutters"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = g.withColumn(
        "_tot", F.sum("n_stutters").over(w_all).cast("long")
    )
    return out.select(
        "role",
        "n_pairs",
        "n_stutters",
        F.when(
            F.col("n_pairs") > 0,
            F.col("n_stutters").cast("double") / F.col("n_pairs").cast("double"),
        ).alias("stutter_rate"),
        F.when(
            F.col("_tot") > 0,
            F.col("n_stutters").cast("double") / F.col("_tot").cast("double"),
        ).alias("share_of_stutters"),
    )


def tool_error_rate(df: DataFrame) -> DataFrame:
    """Tool-then-error adjacency: the share of tool turns immediately
    followed by a SYSTEM turn (the error channel in this transcript
    schema) within the same conversation — the tool-failure proxy per
    tool name ([[q_flag_retries]] looks for retry bursts; this reads
    the direct tool -> error handoff).

    Determinism: adjacency on the stable order; exact counts; one
    division. Output: (tool, n_calls long, n_errors long, error_rate
    double), one row per tool.
    """
    w = conv_window()
    seq = df.select(
        "conv_id",
        "ts",
        "turn_idx",
        F.col("role"),
        F.col("tool"),
        F.lead("role", 1).over(w).alias("_nr"),
    )
    calls = seq.where(F.col("tool").isNotNull())
    g = calls.groupBy(F.col("tool")).agg(
        F.count("*").cast("long").alias("n_calls"),
        F.sum(F.when(F.col("_nr") == "system", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    )
    return g.select(
        "tool",
        "n_calls",
        "n_errors",
        F.when(
            F.col("n_calls") > 0,
            F.col("n_errors").cast("double") / F.col("n_calls").cast("double"),
        ).alias("error_rate"),
    )


def role_trigrams(df: DataFrame, k: int = 10) -> DataFrame:
    """Top-k role trigram patterns: the most common three-turn role
    sequences within conversations with their share of all trigrams —
    the dialog-shape census one order above the
    [[q_role_transitions]] matrix (user->assistant->user volleys vs
    user->assistant->tool dispatch loops are different products; the
    matrix cannot tell them apart, the trigram table can).

    Determinism: trigrams ride the stable (ts, turn_idx) order via
    two lead()s; counts exact; (count desc, pattern asc) rank ties;
    one division. Output: (pattern string, n long, share double,
    rank long), rank 1..k.
    """
    w = conv_window()
    tri = (
        df.select(
            "conv_id",
            "ts",
            "turn_idx",
            F.col("role").alias("_a"),
            F.lead("role", 1).over(w).alias("_b"),
            F.lead("role", 2).over(w).alias("_c"),
        )
        .where(F.col("_c").isNotNull())
        .select(
            F.concat_ws(">", F.col("_a"), F.col("_b"), F.col("_c")).alias(
                "pattern"
            )
        )
    )
    g = tri.groupBy("pattern").agg(F.count("*").cast("long").alias("n"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = Window.orderBy(F.col("n").desc(), F.asc("pattern"))
    ranked = g.withColumn("_tot", F.sum("n").over(w_all).cast("long")).withColumn(
        "rank", F.row_number().over(w_rank).cast("long")
    )
    return ranked.where(F.col("rank") <= int(k)).select(
        "pattern",
        "n",
        (F.col("n").cast("double") / F.col("_tot").cast("double")).alias("share"),
        "rank",
    )
