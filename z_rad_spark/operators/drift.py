"""Sequential change detection over conversation signal streams.

A 100 TB training-data pipeline monitors its per-source quality signals
for DRIFT (a scraper change, a contaminated dump, a model-version bump
in synthetic data) — the classic tool is the one-sided CUSUM chart
(Page, Biometrika 1954): alarm when the cumulative excess of a signal
over its target drifts past a threshold.

The textbook recursion ``s_t = max(0, s_{t-1} + (x_t - target - slack))``
looks inherently sequential, but has the closed form

    s_t = P_t - min(0, min_{j<=t} P_j),   P_t = prefix-sum of deviations

so the whole chart is TWO running window aggregates (prefix sum +
running min) under the engine's stable (ts, turn_idx) order — one hash
exchange on conv_id, one sort, whole-stage codegen, no fold, no UDF.
That closed form is what makes the operator viable at 10^12 turns: the
per-row recursion would force an ordered per-key fold (collect_list or
a stateful UDF); the window form is the same single Exchange every
other per-conversation operator in the engine rides.

For integer-valued signals and a dyadic-rational target+slack every
intermediate is exact in binary floating point, so the SQL oracle
replays alarms bit-for-bit.

The distribution-shift battery splits rows into a reference and a
monitoring window with ONE predicate, :func:`_is_ref` (``ts <
split_ts``), and its rank and ECDF tests (KS, Kuiper, CvM, W1,
Mann-Whitney, Anderson-Darling, Ansari-Bradley, energy, ROC AUC,
Cliff's delta, score KS) all read ONE compacted two-class value
histogram, :func:`two_class_ecdf`: a map-side-combined groupBy on
(keys, value) with the per-class counts, their running sums in value
order, their per-partition totals and the next value. Its contract is exactness —
every count, count-below (running sum minus the row's own count) and
pooled count (the two classes added) is an integer expression of those
columns, so each test's only float work is its own fixed chain of
single IEEE operations and the DuckDB oracles replay it bit-for-bit.
The binned scores (PSI, JS, and streaming PSI) share one add-one
smoothed bin-count aggregate and per-bin term in the same way.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .exprs import chain, epoch_us, ordered_sums, running_counts, value_at_rank, words
from .skew import ORDER as _ORDER, conv_window


def _is_ref(split_ts: str, ts: Column | None = None) -> Column:
    """The reference-window predicate ``ts < split_ts`` every split test
    shares (``ts`` defaults to the turn timestamp). NULL for a NULL ts,
    so such a row counts in neither window."""
    if ts is None:
        ts = F.col("ts")
    return ts.cast("timestamp") < F.lit(split_ts).cast("timestamp")


def two_class_ecdf(df: DataFrame, value: Column, is_a: Column, keys=()) -> DataFrame:
    """The compacted two-class value histogram: one map-side-combined
    ``groupBy(*keys, value)`` with the class counts ``_a`` (``is_a``
    true) and ``_b`` (false; a NULL ``is_a`` counts in neither), their
    running sums ``_ca``/``_cb`` (value ascending, ROWS UNBOUNDED
    PRECEDING to CURRENT ROW) and their whole-partition sums
    ``_na``/``_nb`` — all exact longs — plus ``_next``, the next larger
    value (NULL on the last), the width of each ECDF step. It filters
    nothing: each caller drops its own NULL values or flags first.

    The two-count form of ``exprs.running_counts``, on its rule: every
    column rides ONE value-ordered spec (the totals take its whole
    frame), so Spark plans them as one Window operator, and columns a
    caller never reads are pruned from it.

    Output: (*keys, _val, _a, _b, _ca, _cb, _na, _nb, _next).
    """
    keys = list(keys)
    order = Window.partitionBy(*keys).orderBy("_val")
    run = order.rowsBetween(Window.unboundedPreceding, 0)
    whole = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist = df.groupBy(*keys, value.alias("_val")).agg(
        F.count(F.when(is_a, 1)).alias("_a"),
        F.count(F.when(~is_a, 1)).alias("_b"),
    )
    return hist.select(
        *keys,
        "_val",
        "_a",
        "_b",
        F.sum("_a").over(run).alias("_ca"),
        F.sum("_b").over(run).alias("_cb"),
        F.sum("_a").over(whole).alias("_na"),
        F.sum("_b").over(whole).alias("_nb"),
        F.lead("_val").over(order).alias("_next"),
    )


def _ecdf_gap() -> Column:
    """F_a(v) - F_b(v) on a two_class_ecdf frame: two divisions and one
    subtraction of exact counts."""
    return F.col("_ca").cast("double") / F.col("_na").cast("double") - F.col(
        "_cb"
    ).cast("double") / F.col("_nb").cast("double")


def _mann_whitney(h: DataFrame, keys, n_a: str, n_b: str) -> DataFrame:
    """Mann-Whitney U of class a over a two_class_ecdf frame, with AUC =
    U / (n_a n_b). The midrank sum is kept as the exact long 2R: a tie
    block of t = _a + _b values above cb pooled ranks holds midrank
    cb + (t+1)/2, so class a's doubled share is _a (2 cb + t + 1). U is
    then a multiple of 0.5 and AUC one division — no float summation.

    Output: (*keys, n_a, n_b, u, auc); u and auc NULL when a class is
    empty."""
    t = F.col("_a") + F.col("_b")
    below = F.col("_ca") + F.col("_cb") - t
    g = h.groupBy(*keys).agg(
        F.sum("_a").cast("long").alias(n_a),
        F.sum("_b").cast("long").alias(n_b),
        F.sum(F.col("_a") * (F.lit(2) * below + t + F.lit(1))).cast("long").alias("_two_r"),
    )
    na, nb = F.col(n_a).cast("double"), F.col(n_b).cast("double")
    u = (F.col("_two_r").cast("double") - na * (na + F.lit(1.0))) / F.lit(2.0)
    both = (F.col(n_a) > 0) & (F.col(n_b) > 0)
    return g.select(
        *keys, n_a, n_b, F.when(both, u).alias("u"), F.when(both, u / (na * nb)).alias("auc")
    )


def psi_term(p: Column, q: Column) -> Column:
    """One bin's Population Stability Index term, (p - q) ln(p / q)."""
    return (p - q) * F.log(p / q)


def _js_term(p: Column, q: Column) -> Column:
    m = (p + q) / F.lit(2.0)
    return F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m)


def _binned_drift(df, split_ts, signal_col, n_bins, group_col, term, name) -> DataFrame:
    """The binned-score aggregate psi_drift and js_drift share: ONE
    map-side partial aggregation of the per-window counts and all
    2*n_bins conditional counts over the integer bins 1..n_bins (no bin
    explode, no window), add-one (Laplace) smoothed so every bin mass is
    positive, and ``name`` = the FIXED-ORDER chain term_1 + ... + term_B
    of ``term(p_b, q_b)``.

    Output: (group_col, n_ref long, n_cur long, the other counts, name).
    """
    x = F.col(signal_col).cast("int")
    is_ref = _is_ref(split_ts)
    aggs = [
        F.count(F.when(is_ref, 1)).alias("n_ref"),
        F.count(F.when(~is_ref, 1)).alias("n_cur"),
    ]
    for b in range(1, n_bins + 1):
        aggs.append(F.count(F.when(is_ref & (x == b), 1)).alias(f"_r{b}"))
        aggs.append(F.count(F.when(~is_ref & (x == b), 1)).alias(f"_c{b}"))
    g = df.groupBy(group_col).agg(*aggs)
    nr = (F.col("n_ref") + F.lit(n_bins)).cast("double")
    nc = (F.col("n_cur") + F.lit(n_bins)).cast("double")
    score = None
    for b in range(1, n_bins + 1):
        p = (F.col(f"_r{b}") + F.lit(1)).cast("double") / nr
        q = (F.col(f"_c{b}") + F.lit(1)).cast("double") / nc
        score = term(p, q) if score is None else score + term(p, q)
    return g.withColumn(name, score)


def with_cusum(
    df: DataFrame,
    target: float = 5.0,
    slack: float = 0.5,
    threshold: float = 8.0,
    signal_col: str = "signal",
) -> DataFrame:
    """Per-turn one-sided (upper) CUSUM statistic and alarm flag.

    Adds: cusum double (s_t), cusum_alarm boolean (s_t > threshold).
    """
    run = (
        Window.partitionBy("conv_id")
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = F.col(signal_col).cast("double") - F.lit(float(target + slack))
    p = F.sum(dev).over(run)
    run_min = F.min(p).over(run)
    s = p - F.least(F.lit(0.0), run_min)
    return df.withColumn("cusum", s).withColumn(
        "cusum_alarm", s > F.lit(float(threshold))
    )


def cusum_summary(
    df: DataFrame,
    target: float = 5.0,
    slack: float = 0.5,
    threshold: float = 8.0,
    signal_col: str = "signal",
) -> DataFrame:
    """Per-conversation CUSUM monitoring summary: alarm count, chart
    maximum, and the first alarm's timestamp (epoch micros; NULL when
    the chart never crosses the threshold). One groupBy over the
    windowed frame — the exchange is shared with the window sort.

    Output: (conv_id, n_turns long, n_alarms long, max_cusum double,
    first_alarm_us long).
    """
    charted = with_cusum(df, target, slack, threshold, signal_col)
    ts_us = epoch_us("ts")
    return charted.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(F.col("cusum_alarm").cast("long")).cast("long").alias("n_alarms"),
        F.max("cusum").alias("max_cusum"),
        F.min(F.when(F.col("cusum_alarm"), ts_us)).cast("long").alias("first_alarm_us"),
    )


def psi_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    n_bins: int = 9,
    group_col: str = "role",
) -> DataFrame:
    """Population Stability Index between the distribution of an
    integer-binned signal BEFORE a cutoff (reference window) and AT/AFTER
    it (monitoring window), per group — the standard drift score a
    pipeline tracks per source/model-version alongside the CUSUM chart:

        PSI = sum_b (p_b - q_b) * ln(p_b / q_b)

    with add-one (Laplace) smoothing so empty bins stay finite. The
    conventional bands: <0.1 stable, 0.1-0.25 drifting, >=0.25 shifted.

    Scale + determinism shape: ONE aggregation pass computes all
    2*n_bins conditional counts (map-side partial, no bin explode), and
    the PSI is the FIXED-ORDER sum ``term_1 + ... + term_B`` over known
    bins — float addition order is structural, counts are exact
    integers, so the SQL oracle replays the score bit-for-bit (same
    contract as rrf_fuse). Bins are the integer signal values 1..n_bins.

    Output: (group_col, n_ref long, n_cur long, psi double, drift_band
    string).
    """
    band = (
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "drifting")
        .otherwise("shifted")
    )
    return (
        _binned_drift(df, split_ts, signal_col, n_bins, group_col, psi_term, "psi")
        .withColumn("drift_band", band)
        .select(group_col, "n_ref", "n_cur", "psi", "drift_band")
    )


def ks_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per group between
    the pre-cutoff reference window and the at/after-cutoff monitoring
    window: KS = max over observed values v of |F_ref(v) - F_cur(v)|,
    the standard distribution-shift test a pipeline runs alongside the
    PSI score (PSI is bin-smoothed and direction-signed per bin; KS is
    the sup-norm on the raw ECDFs and needs no binning choice).

    Scale + determinism shape: one partial-aggregated groupBy on
    (group, value) collapses the input to at most |groups| x |distinct
    values| rows BEFORE any window runs, so the cumulative-count windows
    and the final max operate on a frame whose size is bounded by the
    value cardinality, not the turn count. Every intermediate is an
    exact integer count; the only float ops are two divisions, one
    subtraction, abs, and max — all single IEEE operations with no
    summation order — so the SQL oracle replays KS bit-for-bit.

    NULL signals are excluded from both ECDFs. Groups with an empty
    reference or monitoring window get ks = NULL.

    Output: (group_col, n_ref long, n_cur long, ks double).
    """
    x = F.col(signal_col).cast("double")
    cum = two_class_ecdf(df.where(x.isNotNull()), x, _is_ref(split_ts), [group_col])
    return cum.groupBy(group_col).agg(
        F.max("_na").cast("long").alias("n_ref"),
        F.max("_nb").cast("long").alias("n_cur"),
        F.max(F.when((F.col("_na") > 0) & (F.col("_nb") > 0), F.abs(_ecdf_gap()))).alias("ks"),
    )


def mi_association(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
    groups: tuple = ("assistant", "system", "tool", "user"),
    n_bins: int = 9,
) -> DataFrame:
    """Mutual information and chi-square association between a
    categorical column and an integer-binned signal, computed separately
    for the pre-cutoff reference window and the at/after-cutoff
    monitoring window — the feature-selection / dependence score a
    pipeline tracks to catch a feature whose RELATIONSHIP to the target
    drifts even when both marginals stay stable (PSI and KS are
    marginal tests; this one is the joint test):

        MI   = sum_{r,b} (n_rb/N) * ln(n_rb * N / (n_r * n_b))
        chi2 = sum_{r,b} (n_rb - e_rb)^2 / e_rb,  e_rb = n_r * n_b / N

    Scale + determinism shape: ONE aggregation pass computes all
    |groups| x n_bins conditional counts per window (map-side partial,
    two output rows total); marginals are exact integer sums of those
    counts, and both scores are FIXED-ORDER term chains over the known
    (group, bin) grid with zero-count terms contributing exactly 0 — so
    the SQL oracle replays both scores bit-for-bit (same contract as
    psi_drift). Cells whose expected count is 0 contribute 0 to chi2.
    Rows with a NULL ts count in neither window; a window that holds no
    row of ``groups`` in the bins has n = 0 and mi = chi2 = NULL.

    Output: (win string 'ref'|'cur', n long, mi double, chi2 double).
    """
    x = F.col(signal_col).cast("int")
    is_ref = _is_ref(split_ts)
    df = df.where(is_ref.isNotNull())
    win = F.when(is_ref, F.lit("ref")).otherwise(F.lit("cur"))
    aggs = []
    for r in groups:
        for b in range(1, n_bins + 1):
            aggs.append(
                F.count(F.when((F.col(group_col) == r) & (x == b), 1)).alias(
                    f"_n_{r}_{b}"
                )
            )
    g = df.groupBy(win.alias("win")).agg(*aggs)

    n_tot = chain([F.col(f"_n_{r}_{b}") for r in groups for b in range(1, n_bins + 1)])
    marg_r = {r: chain([F.col(f"_n_{r}_{b}") for b in range(1, n_bins + 1)]) for r in groups}
    marg_b = {b: chain([F.col(f"_n_{r}_{b}") for r in groups]) for b in range(1, n_bins + 1)}
    # an empty window (every count 0) divides by 1, never 0; its scores
    # are nulled below
    N = F.greatest(n_tot, F.lit(1)).cast("double")
    mi_terms, chi_terms = [], []
    for r in groups:
        for b in range(1, n_bins + 1):
            c = F.col(f"_n_{r}_{b}").cast("double")
            nr = marg_r[r].cast("double")
            nb = marg_b[b].cast("double")
            mi_terms.append(
                F.when(c > 0, (c / N) * F.log(c * N / (nr * nb))).otherwise(F.lit(0.0))
            )
            e = nr * nb / N
            chi_terms.append(
                F.when(e > 0, (c - e) * (c - e) / e).otherwise(F.lit(0.0))
            )
    out = g.select(
        "win",
        n_tot.cast("long").alias("n"),
        chain(mi_terms).alias("mi"),
        chain(chi_terms).alias("chi2"),
    )
    # a separate projection: guarding the chains in place would keep their
    # shared marginals out of subexpression elimination (codegen > 64 KB)
    ok = F.col("n") > 0
    return out.select("win", "n", F.when(ok, F.col("mi")).alias("mi"),
                      F.when(ok, F.col("chi2")).alias("chi2"))


def mw_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) drift test per group between
    the pre-cutoff reference window and the at/after-cutoff monitoring
    window — the rank-based two-sample test a pipeline runs when the
    signal's SCALE is unreliable (KS is sup-norm on the ECDFs; U is the
    probability-of-superiority test, robust to any monotone transform
    of the signal). Ties get average ranks (the standard midrank rule).

        U   = R_ref - n_ref (n_ref + 1) / 2,  R_ref = midrank sum (ref)
        auc = U / (n_ref * n_cur)             (P(ref > cur) + P(=)/2)

    Scale + determinism shape: identical to ks_drift — the
    two_class_ecdf histogram bounds every window by the value
    cardinality, not the turn count; the midrank sum is the exact long
    2R of :func:`_mann_whitney`, so the SQL oracle replays both
    bit-for-bit. Long bound: 2R <= n(2n+1), exact for n < 2^31 per
    group; beyond that cast the doubled-rank term to decimal(38,0).

    NULL signals are excluded. Groups with an empty reference or
    monitoring window get u = auc = NULL.

    Output: (group_col, n_ref long, n_cur long, u double, auc double).
    """
    x = F.col(signal_col).cast("double")
    h = two_class_ecdf(df.where(x.isNotNull()), x, _is_ref(split_ts), [group_col])
    return _mann_whitney(h, [group_col], "n_ref", "n_cur")


def welch_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Welch two-sample t statistic + Cohen's d effect size per group
    between the pre-cutoff reference window and the at/after-cutoff
    monitoring window — the parametric member of the drift battery
    (PSI = binned divergence, KS = ECDF sup-norm, MW = rank/AUC; Welch
    = mean shift in units of pooled spread, the one a dashboard trends):

        t = (m_ref - m_cur) / sqrt(v_ref / n_ref + v_cur / n_cur)
        d = (m_ref - m_cur) / sqrt(((n_ref - 1) v_ref
                                    + (n_cur - 1) v_cur)
                                   / (n_ref + n_cur - 2))

    with m the window mean and v the unbiased (n-1) variance.

    Scale + determinism shape: ONE map-side-combined aggregate computes
    the six exact-long sufficient statistics (per-window count, sum,
    sum of squares — integer signal contract); every emitted float is a
    fixed chain of single IEEE ops over them (v = (n*sxx - sx*sx) /
    (n*(n-1)) — exact integer numerator), so the SQL oracle replays t
    and d bit-for-bit. No window function exists in the plan at all.

    NULL signals are excluded. t is NULL unless both windows have >= 2
    observations and a positive variance term; d additionally needs a
    positive pooled variance.

    Output: (group_col, n_ref long, n_cur long, mean_ref double,
    mean_cur double, t double, d double).
    """
    x = F.col(signal_col).cast("long")
    is_ref = _is_ref(split_ts)
    g = df.where(x.isNotNull()).groupBy(group_col).agg(
        F.count(F.when(is_ref, 1)).alias("_nr"),
        F.sum(F.when(is_ref, x)).alias("_sr"),
        F.sum(F.when(is_ref, x * x)).alias("_qr"),
        F.count(F.when(~is_ref, 1)).alias("_nc"),
        F.sum(F.when(~is_ref, x)).alias("_sc"),
        F.sum(F.when(~is_ref, x * x)).alias("_qc"),
    )
    def _nz(d):
        # NULLIF-safe denominator: ANSI mode errors on /0 even inside a
        # guarded CASE branch (the guard itself evaluates the division);
        # dividing by NULL instead yields NULL, which every guard below
        # already treats as "undefined" — the oracle mirrors with NULLIF
        return F.when(d != F.lit(0.0), d)

    nr = F.col("_nr").cast("double")
    nc = F.col("_nc").cast("double")
    m_r = F.coalesce(F.col("_sr"), F.lit(0)).cast("double") / _nz(nr)
    m_c = F.coalesce(F.col("_sc"), F.lit(0)).cast("double") / _nz(nc)
    # unbiased variance with an exact integer numerator: n*sxx - sx*sx
    v_r = (
        nr * F.coalesce(F.col("_qr"), F.lit(0)).cast("double")
        - F.coalesce(F.col("_sr"), F.lit(0)).cast("double")
        * F.coalesce(F.col("_sr"), F.lit(0)).cast("double")
    ) / _nz(nr * (nr - F.lit(1.0)))
    v_c = (
        nc * F.coalesce(F.col("_qc"), F.lit(0)).cast("double")
        - F.coalesce(F.col("_sc"), F.lit(0)).cast("double")
        * F.coalesce(F.col("_sc"), F.lit(0)).cast("double")
    ) / _nz(nc * (nc - F.lit(1.0)))
    se2 = v_r / _nz(nr) + v_c / _nz(nc)
    pooled = (
        (nr - F.lit(1.0)) * v_r + (nc - F.lit(1.0)) * v_c
    ) / _nz(nr + nc - F.lit(2.0))
    both2 = (F.col("_nr") > 1) & (F.col("_nc") > 1)
    return g.select(
        group_col,
        F.col("_nr").cast("long").alias("n_ref"),
        F.col("_nc").cast("long").alias("n_cur"),
        F.when(F.col("_nr") > 0, m_r).alias("mean_ref"),
        F.when(F.col("_nc") > 0, m_c).alias("mean_cur"),
        F.when(both2 & (se2 > 0), (m_r - m_c) / F.sqrt(se2)).alias("t"),
        F.when(both2 & (pooled > 0), (m_r - m_c) / F.sqrt(pooled)).alias("d"),
    )


def js_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    n_bins: int = 9,
    group_col: str = "role",
) -> DataFrame:
    """Jensen-Shannon divergence between the binned signal distribution
    BEFORE a cutoff (reference window) and AT/AFTER it (monitoring
    window), per group — the symmetric, bounded companion to psi_drift
    (PSI is unbounded and blows up on near-empty bins even smoothed; JSD
    is bounded by ln 2, so dashboards can threshold it absolutely):

        JSD = 0.5 * sum_b p_b ln(p_b / m_b) + 0.5 * sum_b q_b ln(q_b / m_b)
        m_b = (p_b + q_b) / 2

    with add-one (Laplace) smoothing so every bin mass is positive.
    Also emits js_dist = sqrt(JSD / ln 2), the [0, 1]-normalized metric
    form (Endres & Schindelin 2003).

    Scale + determinism shape: identical to psi_drift — ONE map-side
    partial aggregation computes all 2*n_bins conditional counts (no bin
    explode, no window), and both score sums are FIXED-ORDER term chains
    over the known bins, so counts are exact integers and the float op
    order is structural: the SQL oracle replays bit-for-bit. Bins are
    the integer signal values 1..n_bins.

    Output: (group_col, n_ref long, n_cur long, jsd double, js_dist
    double).
    """
    out = _binned_drift(df, split_ts, signal_col, n_bins, group_col, _js_term, "jsd")
    return out.select(
        group_col,
        "n_ref",
        "n_cur",
        "jsd",
        F.sqrt(F.col("jsd") / F.lit(0.6931471805599453)).alias("js_dist"),
    )


def w1_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between the reference
    (pre-cutoff) and monitoring (at/after-cutoff) signal distributions,
    per group — the drift score that weighs HOW FAR the mass moved, not
    just that it moved (KS is the ECDF sup-norm; W1 is its L1 integral):

        W1 = integral |F_ref(v) - F_cur(v)| dv
           = sum_i |CR_i/NR - CC_i/NC| * (v_{i+1} - v_i)

    over the sorted distinct observed values v_i with cumulative counts
    CR/CC.

    Scale + determinism shape: like ks_drift, one partial-aggregated
    groupBy on (group, value) compacts the input to |groups| x |distinct
    values| rows before any window runs. Determinism is stronger than
    KS needs: a float SUM over the value frame would be engine-order
    dependent, so the sum runs on the COMMON-DENOMINATOR integers
    |CR_i * NC - CC_i * NR| * gap_i — carried as DECIMAL so the
    products stay exact past int64 (window counts of ~2e9 per side
    would overflow a long product; the decimal sizing below is exact to
    1e14 rows per side, and the oracle mirrors with HUGEINT) — summed
    exactly, with ONE division by NR * NC at the end. The SQL oracle
    replays W1 bit-for-bit regardless of either engine's aggregation
    order.

    NULL signals are excluded. Groups with an empty window get w1 NULL.

    Output: (group_col, n_ref long, n_cur long, w1 double).
    """
    x = F.col(signal_col).cast("long")
    cum = two_class_ecdf(df.where(x.isNotNull()), x, _is_ref(split_ts), [group_col])
    # decimal sizing: counts as DECIMAL(14,0) and gaps as DECIMAL(4,0)
    # keep every product within Spark's exact 38-digit cap
    # (14+14+1 = 29-digit cross products, +4+1 = 34 after the gap) —
    # exact for window counts up to 1e14 per side, vs ~3e9 for int64
    num = F.abs(
        F.col("_ca").cast("decimal(14,0)") * F.col("_nb").cast("decimal(14,0)")
        - F.col("_cb").cast("decimal(14,0)") * F.col("_na").cast("decimal(14,0)")
    ) * (F.col("_next") - F.col("_val")).cast("decimal(4,0)")
    return cum.groupBy(group_col).agg(
        F.max("_na").cast("long").alias("n_ref"),
        F.max("_nb").cast("long").alias("n_cur"),
        F.when(
            (F.max("_na") > 0) & (F.max("_nb") > 0),
            F.sum(num).cast("double")
            / (F.max("_na").cast("double") * F.max("_nb").cast("double")),
        ).alias("w1"),
    )


def with_page_hinkley(
    df: DataFrame,
    delta: float = 0.25,
    threshold: float = 12.0,
    signal_col: str = "signal",
) -> DataFrame:
    """Per-turn Page-Hinkley statistic and alarm flag for an upward mean
    shift (Page 1954; the sequential test Gama et al. 2014 recommend for
    stream drift): the cumulative deviation of the signal from its own
    RUNNING mean,

        PH_t = sum_{i<=t} (x_i - mbar_i - delta),  mbar_i = mean(x_1..x_i)
        alarm when PH_t - min_{j<=t} PH_j > threshold.

    Unlike CUSUM this needs no externally supplied target — the running
    mean is the target — which is why monitoring stacks run both: CUSUM
    against the SLO constant, Page-Hinkley against self-history.

    Scale + determinism shape: the same closed-form window stack as
    with_cusum — running mean, then prefix sum of deviations, then
    running min, all over the engine's stable (ts, turn_idx) order on
    ONE conv_id exchange and one sort (Catalyst collapses same-spec
    windows into a single Window node chain). Float summation order is
    STRUCTURAL (cumulative over a total order), so the SQL oracle
    replays the chart bit-for-bit with the same window spec.

    Adds: ph double (PH_t - running min), ph_alarm boolean.
    """
    run = (
        Window.partitionBy("conv_id")
        .orderBy(*_ORDER)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    x = F.col(signal_col).cast("double")
    mbar = F.avg(x).over(run)
    dev = x - mbar - F.lit(float(delta))
    inner = df.withColumn("_ph_p", F.sum(dev).over(run))
    # second pass over the SAME window spec: running min of the prefix
    # series needs _ph_p materialized as a column first
    ph = F.col("_ph_p") - F.min("_ph_p").over(run)
    return (
        inner.withColumn("ph", ph)
        .withColumn("ph_alarm", F.col("ph") > F.lit(float(threshold)))
        .drop("_ph_p")
    )


def page_hinkley_summary(
    df: DataFrame,
    delta: float = 0.25,
    threshold: float = 12.0,
    signal_col: str = "signal",
) -> DataFrame:
    """Per-conversation Page-Hinkley monitoring summary: alarm count,
    chart maximum, and the first alarm's timestamp (epoch micros; NULL
    when the chart never crosses). Mirrors cusum_summary so dashboards
    can trend the two side by side.

    Output: (conv_id, n_turns long, n_alarms long, max_ph double,
    first_alarm_us long).
    """
    charted = with_page_hinkley(df, delta, threshold, signal_col)
    ts_us = epoch_us("ts")
    return charted.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(F.col("ph_alarm").cast("long")).cast("long").alias("n_alarms"),
        F.max("ph").alias("max_ph"),
        F.min(F.when(F.col("ph_alarm"), ts_us)).cast("long").alias("first_alarm_us"),
    )


def cuped_adjusted(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013)
    over per-conversation signal totals: the first half of each
    conversation's turns (ordinal < n/2 under the stable (ts, turn_idx)
    order) is the pre-period covariate, the rest the post-period
    metric, and the adjusted metric removes the component of post-
    period variance the pre-period already predicts:

        theta    = cov(pre, post) / var(pre)
        adjusted = post - theta * (pre - mean(pre))

    Var(adjusted) = Var(post) * (1 - corr^2) — the standard online-
    experimentation trick for tightening conversation-level metrics
    before any A/B comparison downstream.

    Determinism: pre/post are exact integer sums (the half-split
    condition 2*i0 < n is pure integer arithmetic); the cross-
    conversation moments (m, Sp, Spp, Sq, Spq) are exact longs; theta,
    mean(pre), and every adjusted value are fixed IEEE chains over
    single casts of those longs — bit-replayable in SQL. theta is NULL
    (and adjusted = NULL) when var(pre) = 0 or m < 2.

    Scale: one conv_id groupBy (the shared exchange), one global
    1-row aggregate broadcast back over the conversation frame — no
    second shuffle, no driver collect.

    Output: (conv_id, n long, pre long, post long, theta double,
    adjusted double).
    """
    x = F.col(signal_col).cast("long")
    scored = df.where(x.isNotNull())
    ord_w = conv_window()
    full = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    p = scored.select(
        "conv_id",
        x.alias("_x"),
        (F.row_number().over(ord_w).cast("long") - F.lit(1)).alias("_i0"),
        F.count(x).over(full).alias("_n"),
    )
    is_pre = (F.col("_i0") * F.lit(2)) < F.col("_n")
    conv = p.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.sum(F.when(is_pre, F.col("_x"))), F.lit(0)).cast("long").alias("pre"),
        F.coalesce(F.sum(F.when(~is_pre, F.col("_x"))), F.lit(0)).cast("long").alias("post"),
    )
    # per-row products pre*pre / pre*post ride DECIMAL(19,0)x(19,0) ->
    # DECIMAL(38,0) so a single conversation with pre ~3e9 (the signal-mass
    # scale the cross-moment comment below assumes) cannot silently wrap a
    # LONG product (Spark non-ANSI wraps; DuckDB BIGINT errors) — the oracle
    # mirrors with HUGEINT per-row products, same ~1e38 exact headroom
    _d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    glob = conv.agg(
        F.count("*").cast("long").alias("_m"),
        F.sum("pre").alias("_sp"),
        F.sum(_d19("pre") * _d19("pre")).alias("_spp"),
        F.sum("post").alias("_sq"),
        F.sum(_d19("pre") * _d19("post")).alias("_spq"),
    )
    j = conv.crossJoin(F.broadcast(glob))
    md = F.col("_m").cast("double")
    sp = F.col("_sp").cast("double")
    # the cross-moment products m*Spq / Sp*Sq would overflow a long once
    # the corpus' total signal mass passes ~3e9 (true at 10^12 turns), so
    # they ride DECIMAL(19,0)->(38,0) products — exact headroom to 1e38,
    # mirrored by HUGEINT in the oracle (the w1_drift precedent)
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    # _spp/_spq are already DECIMAL(38,0) sums (see glob above) — don't
    # re-narrow them to (19,0); past ~1e38 Spark yields NULL (never a wrap)
    den = dec("_m") * F.col("_spp") - dec("_sp") * dec("_sp")
    num = dec("_m") * F.col("_spq") - dec("_sp") * dec("_sq")
    theta = F.when(
        (F.col("_m") > 1) & (den != F.lit(0)), num.cast("double") / den.cast("double")
    )
    mean_pre = sp / md
    adjusted = F.col("post").cast("double") - theta * (
        F.col("pre").cast("double") - mean_pre
    )
    return j.select(
        "conv_id",
        "n",
        "pre",
        "post",
        theta.alias("theta"),
        adjusted.alias("adjusted"),
    )


def auc_binary(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Exact tie-corrected ROC AUC of a score predicting a binary label
    — the Mann-Whitney statistic with positives playing the reference
    sample (AUC = P(score_pos > score_neg) + P(equal)/2, midrank tie
    rule). The classifier-eval twin of [[mw_drift]]: identical doubled-
    midrank long algebra, label-keyed instead of time-window-keyed.

    Scale + determinism: the two_class_ecdf histogram on (group,
    score) compacts every group to its distinct score values before any
    window — the rank cumsum runs over score CARDINALITY, not row count
    (a naive per-row global rank would single-partition the corpus) —
    and :func:`_mann_whitney` reduces it exactly, as for mw_drift.

    Groups with no positives or no negatives emit auc = NULL.

    Output: (group..., n_pos long, n_neg long, auc double)."""
    keys = [group_col] if group_col else []
    s = F.col(score_col).cast("double")
    is_pos = F.col(label_col).cast("int") == 1
    h = two_class_ecdf(df.where(s.isNotNull()), s, is_pos, keys)
    return _mann_whitney(h, keys, "n_pos", "n_neg").drop("u")


def kruskal_wallis(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """One-way Kruskal-Wallis H test across k groups — the rank-based
    ANOVA a pipeline runs when comparing a signal across MORE than two
    sources/splits at once ([[mw_drift]] is the k=2 special case; the
    reference ships the two-sample comparisons only, this is the
    multi-group generalization its users ask for first):

        H = 12 / (N (N+1)) * sum_g R_g^2 / n_g  -  3 (N+1)
        C = 1 - sum_v (t_v^3 - t_v) / (N^3 - N)     (tie correction)

    with R_g the midrank sum of group g and t_v the global tie-block
    size at value v. Under H0, H/C ~ chi2(k-1).

    Determinism: the mw_drift doubled-rank algebra globalized — ranks
    ride the COMPACTED (value -> per-group count) histogram, the
    midrank-sum per group is the exact long 2R_g = sum_v c_gv (2 cb_v +
    t_v + 1), and the k per-group terms (R_g^2 / n_g, one squaring +
    one division each) are summed by ``exprs.ordered_sums`` in group
    order — so the SQL oracle replays H bit-for-bit. Long
    bounds: 2R <= N (2N + 1) (exact for N < 2^31); the tie term
    sum(t^3) and N^3 stay in long for N < 2 * 10^6 — beyond that cast
    both to decimal(38,0).

    Scale: one map-side-combined groupBy on (group, value) bounds all
    downstream state by the VALUE CARDINALITY (17.8k distinct vs 100k
    rows at sf0.1; at corpus scale bin the signal first). The
    cumulative-below table is value-level (one window over the
    compacted values), joined back on value; the final fold sees k rows.
    No per-row float summation anywhere.

    NULL values are excluded. Output one row: (n long, k long, df long,
    h double, h_corr double — NULL when every value ties or n < 2).
    """
    x = F.col(value_col).cast("double")
    per_gv = (
        df.where(x.isNotNull())
        .groupBy(F.col(group_col).alias("_g"), x.alias("_val"))
        .agg(F.count("*").cast("long").alias("_c"))
    )
    # single-pass shape: the value-level totals ride WINDOWS over the
    # compacted (group, value) frame instead of a groupBy + join-back —
    # the first (full-data) exchange is consumed exactly once (the
    # join-back form re-ran it three times: per-value branch, join
    # branch, and tie branch — three scans of the fact table at scale).
    # RANGE framing makes the running total include the CURRENT value's
    # full tie block, so cb (count strictly below) = running - t.
    w_val = Window.partitionBy("_val")
    w_cum = Window.orderBy("_val").rangeBetween(Window.unboundedPreceding, 0)
    lv = per_gv.select(
        "_g",
        "_c",
        F.sum("_c").over(w_val).cast("long").alias("_t"),
        (F.row_number().over(Window.partitionBy("_val").orderBy("_g")) == 1).alias(
            "_first"
        ),
        F.sum("_c").over(w_cum).cast("long").alias("_cumt"),
    ).withColumn("_cb", (F.col("_cumt") - F.col("_t")).cast("long"))
    per_g = lv.groupBy("_g").agg(
        F.sum("_c").cast("long").alias("_n"),
        F.sum(F.col("_c") * (F.lit(2) * F.col("_cb") + F.col("_t") + F.lit(1)))
        .cast("long")
        .alias("_two_r"),
        # each value's tie contribution is attached to its first row, so
        # summing the per-group parts over groups recovers sum_v t^3 - t
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_first"),
                    F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("_tie_part"),
    )
    g = per_g.agg(
        F.sum("_n").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("_tie_part").cast("long").alias("_tie"),
        *ordered_sums(
            ["_g"],
            _sum_terms=(F.col("_two_r").cast("double") / F.lit(2.0))
            * (F.col("_two_r").cast("double") / F.lit(2.0))
            / F.col("_n").cast("double"),
        ),
    )
    nd = F.col("n").cast("double")
    h = F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("_sum_terms") - F.lit(3.0) * (
        nd + F.lit(1.0)
    )
    c = F.lit(1.0) - F.col("_tie").cast("double") / (
        nd * nd * nd - nd
    )
    ok = F.col("n") >= 2
    return g.select(
        "n",
        "k",
        (F.col("k") - F.lit(1)).cast("long").alias("df"),
        F.when(ok, h).alias("h"),
        F.when(ok & (c > 0), h / c).alias("h_corr"),
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
) -> DataFrame:
    """Brown-Forsythe homogeneity-of-variance test across k groups —
    Levene's W with the robust MEDIAN center (Brown & Forsythe, JASA
    1974): a one-way ANOVA on the absolute deviations z_ij = |x_ij -
    med_i|. The scale-drift complement to [[kruskal_wallis]] (location)
    and welch_drift (two-sample means): a scraper that starts emitting
    wildly variable document lengths trips this before any mean moves.

        W = (N - k) / (k - 1) * sum_i n_i (zbar_i - zbar)^2
                               / sum_ij (z_ij - zbar_i)^2  ~ F(k-1, N-k)

    Determinism: for INTEGER-valued x the group median is a multiple of
    0.5 (engine-wide sorted-median convention), so every z is a
    multiple of 0.5 and z^2 of 0.25 — the per-group sufficient
    statistics are kept as the EXACT longs 2*sum(z) and 4*sum(z^2)
    (order-free integer sums), and the k-term between/within folds run
    ordered by group name, so the SQL oracle replays W bit-for-bit.
    Long bound: 4 z^2 <= 4 (max|x|)^2 per row — exact for
    n * max_x^2 < 2^60 (sf0.1: 5e3 * 577^2 ~ 1.7e9).

    Scale: per-group median via one sorted collect of the group's
    values — bounded by per-group row count (fine for per-source audits;
    for huge groups swap in ``exprs.value_at_rank`` over the compacted
    value histogram). The
    median table is k rows, broadcast back; everything after is one
    map-side-combined groupBy.

    NULL values are excluded. Output one row: (n long, k long, df1
    long, df2 long, w_stat double — NULL when k < 2, N <= k, or the
    within-group deviations are all zero).
    """
    from .exprs import sorted_median

    x = F.col(value_col).cast("double")
    scored = df.where(x.isNotNull()).select(F.col(group_col).alias("_g"), x.alias("_x"))
    med = scored.groupBy("_g").agg(
        sorted_median(F.sort_array(F.collect_list("_x"))).alias("_med")
    )
    z = F.abs(F.col("_x") - F.col("_med"))
    per_g = (
        scored.join(F.broadcast(med), "_g")
        .select("_g", z.alias("_z"))
        .groupBy("_g")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum((F.col("_z") * F.lit(2.0)).cast("long")).alias("_sz2"),
            F.sum((F.col("_z") * F.col("_z") * F.lit(4.0)).cast("long")).alias("_sz4"),
        )
    )
    g = per_g.agg(
        F.sum("_n").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("_sz2").cast("long").alias("_szt"),
        F.sort_array(F.collect_list(F.struct("_g", "_n", "_sz2", "_sz4"))).alias("_gs"),
    )
    nd = F.col("n").cast("double")
    zbar = F.col("_szt").cast("double") / (F.lit(2.0) * nd)
    gmean = lambda e: e["_sz2"].cast("double") / (  # noqa: E731
        F.lit(2.0) * e["_n"].cast("double")
    )
    # kept as folds: each ssb term reads the grand mean zbar, known only
    # after the collect, and ssw shares its array
    ssb = F.aggregate(
        F.col("_gs"),
        F.lit(0.0),
        lambda acc, e: acc
        + e["_n"].cast("double") * (gmean(e) - zbar) * (gmean(e) - zbar),
    )
    ssw = F.aggregate(
        F.col("_gs"),
        F.lit(0.0),
        lambda acc, e: acc
        + (
            e["_sz4"].cast("double") / F.lit(4.0)
            - (e["_sz2"].cast("double") * e["_sz2"].cast("double"))
            / (F.lit(4.0) * e["_n"].cast("double"))
        ),
    )
    kd = F.col("k").cast("double")
    ok = (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (ssw > 0)
    w_stat = (nd - kd) / (kd - F.lit(1.0)) * ssb / ssw
    return g.select(
        "n",
        "k",
        (F.col("k") - F.lit(1)).cast("long").alias("df1"),
        (F.col("n") - F.col("k")).cast("long").alias("df2"),
        F.when(ok, w_stat).alias("w_stat"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str = "source",
) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    step convention) per group — the imbalanced-classes companion to
    [[auc_binary]]: AUC is insensitive to the positive-class rarity a
    corpus quality filter actually cares about; AP weights every hit by
    the precision AT that hit.

    Tie convention (the compaction contract): rows are ranked by score
    DESCENDING at the granularity of DISTINCT SCORE LEVELS — all rows
    tied at a level enter together, contributing

        AP = sum_levels (p_l / P) * (cumP_l / cumN_l)

    with p_l the positives at level l and cumP/cumN the running totals
    INCLUDING l. For untied scores this is exactly the textbook AP;
    under ties it is the deterministic level-wise variant (no arbitrary
    within-tie order — the same choice auc_binary's midranks make).

    Determinism + scale: identical shape to auc_binary — one map-side
    combined groupBy on (group, score) bounds all state by the score
    cardinality; cumP/cumN are one window over the compacted levels;
    the per-level terms (two divisions + one product each) are summed
    by ``exprs.ordered_sums`` by score descending, so the SQL oracle
    replays AP bit-for-bit. No per-row float math.

    Output: (group_col, n_pos long, n_neg long, ap double — NULL when
    the group has no positives).
    """
    s = F.col(score_col).cast("double")
    lbl = F.col(label_col).cast("int")
    pv = (
        df.where(s.isNotNull() & lbl.isNotNull())
        .groupBy(F.col(group_col), s.alias("_s"))
        .agg(
            F.count(F.when(lbl == 1, 1)).cast("long").alias("_p"),
            F.count("*").cast("long").alias("_t"),
        )
    )
    w_desc = (
        Window.partitionBy(group_col)
        .orderBy(F.col("_s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the group's positive total rides an unordered window on the same
    # partitioning, so each level's term is known before the collect; a
    # group without positives gets NULL terms (and a NULL ap) instead of
    # a division by zero
    lv = pv.select(
        group_col,
        "_s",
        "_p",
        F.sum("_p").over(w_desc).cast("long").alias("_cp"),
        F.sum("_t").over(w_desc).cast("long").alias("_cn"),
        F.sum("_p").over(Window.partitionBy(group_col)).cast("long").alias("_np"),
    )
    g = lv.groupBy(group_col).agg(
        F.sum("_p").cast("long").alias("n_pos"),
        F.max("_cn").cast("long").alias("_n"),
        *ordered_sums(
            [(-F.col("_s")).alias("_k")],
            _ap=F.when(
                F.col("_np") > 0,
                (F.col("_p").cast("double") / F.col("_np").cast("double"))
                * (F.col("_cp").cast("double") / F.col("_cn").cast("double")),
            ),
        ),
    )
    ap = F.col("_ap")
    return g.select(
        group_col,
        "n_pos",
        (F.col("_n") - F.col("n_pos")).cast("long").alias("n_neg"),
        F.when(F.col("n_pos") > 0, ap).alias("ap"),
    )


def cramers_v(
    df: DataFrame,
    row_col: F.Column,
    col_col: F.Column,
) -> DataFrame:
    """Pearson chi-square independence test + Cramér's V between two
    categorical columns — the contingency-table association measure
    ([[mi_association]] reports the information-theoretic view; V is
    the bounded [0,1] effect size reviewers actually compare across
    tables of different shape):

        chi2 = sum_cells (o - e)^2 / e,   e = rowtot * coltot / N
        V    = sqrt(chi2 / (N * min(r - 1, c - 1)))

    The full r x c grid collapses to the OBSERVED cells via the
    algebraic identity sum_empty e = N - sum_observed e (because
    sum_all e = N exactly), so

        chi2 = sum_observed [ (o - e)^2 / e  -  e ]  +  N

    — no marginal cross join, no left join, ONE scan: marginals ride
    two windows over the compacted observed-cell frame and everything
    folds in a single aggregate. (The earlier grid-join form re-ran
    the full-data cell aggregate three times.)

    Determinism: integer observed/marginal counts; each observed-cell
    term is a fixed IEEE chain; cells combine in an ordered left fold
    by (row, col) category, N is added last — bit-replayable in SQL.

    Output one row: (n long, n_rows long, n_cols long, df long, chi2
    double, v double — NULL when either dimension is constant).
    """
    base = df.select(row_col.alias("_r"), col_col.alias("_c")).where(
        F.col("_r").isNotNull() & F.col("_c").isNotNull()
    )
    cells = base.groupBy("_r", "_c").agg(F.count("*").cast("long").alias("_o"))
    w_r, w_c = Window.partitionBy("_r"), Window.partitionBy("_c")
    marked = cells.select(
        "_r",
        "_c",
        "_o",
        F.sum("_o").over(w_r).cast("long").alias("_rt"),
        F.sum("_o").over(w_c).cast("long").alias("_ct"),
    )
    g = marked.agg(
        F.sum("_o").cast("long").alias("n"),
        F.count_distinct("_r").cast("long").alias("n_rows"),
        F.count_distinct("_c").cast("long").alias("n_cols"),
        F.sort_array(F.collect_list(F.struct("_r", "_c", "_o", "_rt", "_ct"))).alias(
            "_cells"
        ),
    )
    nd = F.col("n").cast("double")
    # kept as a fold: each cell's term reads the total n, known only after
    # the collect
    chi2 = (
        F.aggregate(
            F.col("_cells"),
            F.lit(0.0),
            lambda acc, e: acc
            + (
                (
                    e["_o"].cast("double")
                    - e["_rt"].cast("double") * e["_ct"].cast("double") / nd
                )
                * (
                    e["_o"].cast("double")
                    - e["_rt"].cast("double") * e["_ct"].cast("double") / nd
                )
                / (e["_rt"].cast("double") * e["_ct"].cast("double") / nd)
                - e["_rt"].cast("double") * e["_ct"].cast("double") / nd
            ),
        )
        + nd
    )
    kmin = F.least(F.col("n_rows") - F.lit(1), F.col("n_cols") - F.lit(1)).cast("long")
    dfree = ((F.col("n_rows") - F.lit(1)) * (F.col("n_cols") - F.lit(1))).cast("long")
    ok = (kmin > 0) & (F.col("n") > 0)
    return g.select(
        "n",
        "n_rows",
        "n_cols",
        dfree.alias("df"),
        F.when(F.col("n") > 0, chi2).alias("chi2"),
        F.when(ok, F.sqrt(chi2 / (nd * kmin.cast("double")))).alias("v"),
    )


def ad_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Two-sample Anderson-Darling drift test per group between the
    pre-cutoff reference window and the at/after-cutoff monitoring
    window — the TAIL-sensitive member of the drift battery (KS is the
    sup-norm center test, MW the location test; AD weights ECDF
    discrepancies by 1/(F(1-F)), so a scraper that only corrupts the
    distribution tails trips this first). Tie-adjusted k=2 form of
    Scholz & Stephens (1987), the anderson_ksamp statistic:

        A2 = (N-1)/N * sum_a (1/n_a) sum_j (l_j/N)
             * (N B_aj - n_a B_j)^2 / (B_j (N - B_j) - N l_j / 4)

    over the L distinct pooled values, with l_j the pooled tie-block
    size, B_j the pooled midblock cumulative (count below + l_j/2) and
    B_aj sample a's midblock cumulative. Under H0, E[A2] ~ k - 1 = 1.

    Determinism: the mw_drift compaction — one map-side combined
    groupBy on (group, value) bounds state by value cardinality; block
    counts and the below-cumulatives are exact longs from one window;
    the midblock values are exact halves; each block term is a fixed
    IEEE chain guarded CASE denom > 0 (zero only for a single
    all-value block — where the statistic is undefined anyway) and the
    two per-sample sums are ``exprs.ordered_sums`` in value order — so
    the SQL oracle replays A2 bit-for-bit.

    NULL signals are excluded. Output: (group_col, n_ref long, n_cur
    long, n_blocks long, a2 double — NULL when either window is empty
    or every value ties).
    """
    x = F.col(signal_col).cast("double")
    h = two_class_ecdf(df.where(x.isNotNull()), x, _is_ref(split_ts), [group_col])
    # per block: l_j, pooled count below, sample-a count below; the
    # sample sizes are the partition totals _na / _nb (= n_ref / n_cur)
    l = F.col("_a") + F.col("_b")
    lb = F.col("_ca") + F.col("_cb") - l
    rb = F.col("_ca") - F.col("_a")
    ld = l.cast("double")
    bj = lb.cast("double") + ld / F.lit(2.0)

    def inner(baj, sample_n, nd):
        # baj -> B_aj (midblock cumulative of the sample), sample_n ->
        # n_a; one guarded fixed chain per block
        num = (nd * baj - sample_n * bj) * (nd * baj - sample_n * bj)
        den = bj * (nd - bj) - nd * ld / F.lit(4.0)
        return F.when(den > 0, (ld / nd) * num / den).otherwise(F.lit(0.0))

    na, nb = F.col("_na").cast("double"), F.col("_nb").cast("double")
    g = h.groupBy(group_col).agg(
        F.sum("_a").cast("long").alias("n_ref"),
        F.sum("_b").cast("long").alias("n_cur"),
        F.count("*").cast("long").alias("n_blocks"),
        *ordered_sums(
            ["_val"],
            _inner1=inner(
                rb.cast("double") + F.col("_a").cast("double") / F.lit(2.0), na, na + nb
            ),
            _inner2=inner(
                (lb - rb).cast("double") + (l - F.col("_a")).cast("double") / F.lit(2.0),
                nb,
                na + nb,
            ),
        ),
    )
    n1, n2 = F.col("n_ref").cast("double"), F.col("n_cur").cast("double")
    nd = n1 + n2
    ok = (F.col("n_ref") > 0) & (F.col("n_cur") > 0) & (F.col("n_blocks") > 1)
    a2 = F.when(ok, (nd - F.lit(1.0)) / nd * (F.col("_inner1") / n1 + F.col("_inner2") / n2))
    return g.select(group_col, "n_ref", "n_cur", "n_blocks", a2.alias("a2"))


def f_oneway(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Classic one-way ANOVA F across k groups — the parametric
    location member of the k-group battery ([[kruskal_wallis]] = rank
    location, [[brown_forsythe]] = scale):

        F = (SSB / (k - 1)) / (SSW / (N - k))

    Determinism: values ride the engine's integer-cents convention
    (floor(x * 100) — F is invariant to linear scaling, so no
    rescaling division ever happens); per-group sufficient statistics
    are exact longs with the square sum on DECIMAL(19,0)^2 ->
    DECIMAL(38,0) headroom (the cuped_adjusted guard); SSB/SSW combine
    in group-name-ordered left folds — bit-replayable in SQL.

    Scale: one map-side combined groupBy on the group key; the final
    fold sees k rows. NULL values are excluded.

    Output one row: (n long, k long, df1 long, df2 long, f_stat double
    — NULL when k < 2, N <= k, or zero within-group variance).
    """
    cents = F.floor(F.col(value_col).cast("double") * F.lit(100.0)).cast("long")
    _d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    per_g = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("_g"), cents.alias("_x"))
        .groupBy("_g")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_x").cast("long").alias("_sx"),
            F.sum(_d19("_x") * _d19("_x")).alias("_sxx"),
        )
    )
    g = per_g.agg(
        F.sum("_n").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("_sx").cast("long").alias("_sxt"),
        F.sort_array(F.collect_list(F.struct("_g", "_n", "_sx", "_sxx"))).alias("_gs"),
    )
    nd, kd = F.col("n").cast("double"), F.col("k").cast("double")
    gmean = F.col("_sxt").cast("double") / nd
    # kept as folds: each ssb term reads the grand mean, known only after
    # the collect, and ssw shares its array
    ssb = F.aggregate(
        F.col("_gs"),
        F.lit(0.0),
        lambda acc, e: acc
        + e["_n"].cast("double")
        * (e["_sx"].cast("double") / e["_n"].cast("double") - gmean)
        * (e["_sx"].cast("double") / e["_n"].cast("double") - gmean),
    )
    ssw = F.aggregate(
        F.col("_gs"),
        F.lit(0.0),
        lambda acc, e: acc
        + (
            e["_sxx"].cast("double")
            - e["_sx"].cast("double") * e["_sx"].cast("double") / e["_n"].cast("double")
        ),
    )
    ok = (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (ssw > 0)
    f_stat = (ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd))
    return g.select(
        "n",
        "k",
        (F.col("k") - F.lit(1)).cast("long").alias("df1"),
        (F.col("n") - F.col("k")).cast("long").alias("df2"),
        F.when(ok, f_stat).alias("f_stat"),
    )


def mcnemar(
    df: DataFrame,
    split_ts: str,
    entity_col: str = "user_id",
    event_filter: str = "purchase",
    type_col: str = "event_type",
) -> DataFrame:
    """McNemar's paired-binary test across a cutoff — did the SAME
    entities flip their behavior? Pairs each entity's before/after
    binary outcome (did it emit the target event in the window) and
    tests the discordant cells:

        chi2 = (|b - c| - 1)^2 / (b + c)     (continuity-corrected)

    b = entities positive before only, c = after only. The within-
    subject complement to the drift battery: PSI/KS/AD compare the
    POPULATION across the cutoff and miss churn that swaps individuals
    while marginals hold; McNemar reads exactly that flip mass.

    Determinism + scale: one map-side combined groupBy on the entity
    key producing two conditional-count flags, one conditional-count
    aggregate over entities, one fixed integer chain — no floats until
    the final two ops. Output one row: (n_entities long, n_both long,
    n_pre_only long, n_post_only long, n_neither long, chi2 double —
    NULL when no discordant entities).
    """
    is_ref = _is_ref(split_ts)
    hit = F.col(type_col) == F.lit(event_filter)
    per_e = df.groupBy(entity_col).agg(
        (F.count(F.when(is_ref & hit, 1)) > 0).alias("_pre"),
        (F.count(F.when((~is_ref) & hit, 1)) > 0).alias("_post"),
    )
    g = per_e.agg(
        F.count("*").cast("long").alias("n_entities"),
        F.count(F.when(F.col("_pre") & F.col("_post"), 1)).cast("long").alias("n_both"),
        F.count(F.when(F.col("_pre") & ~F.col("_post"), 1))
        .cast("long")
        .alias("n_pre_only"),
        F.count(F.when(~F.col("_pre") & F.col("_post"), 1))
        .cast("long")
        .alias("n_post_only"),
        F.count(F.when(~F.col("_pre") & ~F.col("_post"), 1))
        .cast("long")
        .alias("n_neither"),
    )
    b, c = F.col("n_pre_only"), F.col("n_post_only")
    num = (F.abs(b - c) - F.lit(1)).cast("double")
    chi2 = F.when((b + c) > 0, num * num / (b + c).cast("double"))
    return g.withColumn("chi2", chi2)


def jarque_bera(
    df: DataFrame,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Jarque-Bera normality test per group — the moment-based screen
    (Jarque & Bera 1980) the parametric members of the drift battery
    ([[welch_drift]], [[f_oneway]]) implicitly assume:

        JB = n/6 * (S^2 + (K - 3)^2 / 4)

    with S the skewness m3 / m2^1.5 and K the kurtosis m4 / m2^2 of the
    signal. JB ~ chi2(2) under normality; the integer-valued bounded
    signals here are never literally normal — the statistic's value is
    as a tracked drift score (a source whose JB jumps changed shape,
    not just location/scale).

    Determinism: the four raw power sums are exact longs (signal <= 9
    keeps x^4 <= 6561, so sums stay far under 2^63 at any realistic
    group size; for wider signals swap in the cuped DECIMAL guard);
    central moments are fixed divide/multiply chains over those longs —
    bit-replayable. ONE map-side combined groupBy, no window, no fold.

    NULL signals are excluded. Output: (group_col, n long, skewness
    double, kurtosis double, jb double — NULL when variance is zero or
    n < 2).
    """
    x = F.col(signal_col).cast("long")
    g = (
        df.where(x.isNotNull())
        .select(F.col(group_col).alias("_g"), x.alias("_x"))
        .groupBy("_g")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_x").cast("long").alias("_s1"),
            F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_s2"),
            F.sum(F.col("_x") * F.col("_x") * F.col("_x")).cast("long").alias("_s3"),
            F.sum(F.col("_x") * F.col("_x") * F.col("_x") * F.col("_x"))
            .cast("long")
            .alias("_s4"),
        )
    )
    nd = F.col("n").cast("double")
    m = F.col("_s1").cast("double") / nd
    m2 = F.col("_s2").cast("double") / nd - m * m
    m3 = (
        F.col("_s3").cast("double") / nd
        - F.lit(3.0) * m * (F.col("_s2").cast("double") / nd)
        + F.lit(2.0) * m * m * m
    )
    m4 = (
        F.col("_s4").cast("double") / nd
        - F.lit(4.0) * m * (F.col("_s3").cast("double") / nd)
        + F.lit(6.0) * m * m * (F.col("_s2").cast("double") / nd)
        - F.lit(3.0) * m * m * m * m
    )
    skew = m3 / F.sqrt(m2 * m2 * m2)
    kurt = m4 / (m2 * m2)
    jb = nd / F.lit(6.0) * (
        skew * skew + (kurt - F.lit(3.0)) * (kurt - F.lit(3.0)) / F.lit(4.0)
    )
    ok = (F.col("n") >= 2) & (m2 > 0)
    return g.select(
        F.col("_g").alias(group_col),
        "n",
        F.when(ok, skew).alias("skewness"),
        F.when(ok, kurt).alias("kurtosis"),
        F.when(ok, jb).alias("jb"),
    )


def corr_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Correlation-structure drift per group across a cutoff — Fisher's
    z test for the equality of two Pearson correlations (Fisher 1921):
    the battery member that fires when the RELATIONSHIP between two
    signals moves while both marginals hold (a scraper that starts
    emitting length-independent quality scores trips this and nothing
    else).

        z = (atanh(r_ref) - atanh(r_cur))
            / sqrt(1/(n_ref - 3) + 1/(n_cur - 3))

    The second series is the second-of-day of the turn timestamp (the
    signal x time-of-day coupling — non-degenerate on any corpus with
    a diurnal cycle).

    Determinism: both windows' five correlation sufficient statistics
    are exact longs from ONE aggregate (x <= 9, y < 86400 keep every
    product far inside long); r, atanh (0.5 ln((1+r)/(1-r))), and z
    are fixed IEEE chains — oracle-replayable. No window, no fold.

    NULL signals are excluded. Output: (group_col, n_ref long, n_cur
    long, r_ref double, r_cur double, z double — NULL when either
    window has n <= 3 or zero variance).
    """
    x = F.col(signal_col).cast("long")
    us = epoch_us("ts")
    y = F.pmod(F.floor(us.cast("double") / F.lit(1000000.0)).cast("long"), F.lit(86400))
    is_ref = _is_ref(split_ts)
    base = df.where(x.isNotNull()).select(
        F.col(group_col).alias("_g"), x.alias("_x"), y.alias("_y"), is_ref.alias("_r")
    )

    def side(flag, tag):
        w = F.when(F.col("_r") == flag, 1)
        return [
            F.count(w).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(F.col("_r") == flag, F.col("_x"))).cast("long").alias(f"_sx{tag}"),
            F.sum(F.when(F.col("_r") == flag, F.col("_y"))).cast("long").alias(f"_sy{tag}"),
            F.sum(F.when(F.col("_r") == flag, F.col("_x") * F.col("_x")))
            .cast("long")
            .alias(f"_sxx{tag}"),
            F.sum(F.when(F.col("_r") == flag, F.col("_y") * F.col("_y")))
            .cast("long")
            .alias(f"_syy{tag}"),
            F.sum(F.when(F.col("_r") == flag, F.col("_x") * F.col("_y")))
            .cast("long")
            .alias(f"_sxy{tag}"),
        ]

    g = base.groupBy("_g").agg(*(side(True, "ref") + side(False, "cur")))

    def corr(tag):
        nd = F.col(f"n_{tag}").cast("double")
        sx = F.col(f"_sx{tag}").cast("double")
        sy = F.col(f"_sy{tag}").cast("double")
        num = nd * F.col(f"_sxy{tag}").cast("double") - sx * sy
        vx = nd * F.col(f"_sxx{tag}").cast("double") - sx * sx
        vy = nd * F.col(f"_syy{tag}").cast("double") - sy * sy
        ok = (F.col(f"n_{tag}") > 3) & (vx > 0) & (vy > 0)
        return ok, F.when(ok, num / F.sqrt(vx * vy))

    ok_r, r_ref = corr("ref")
    ok_c, r_cur = corr("cur")
    atanh = lambda r: F.lit(0.5) * F.log(  # noqa: E731
        (F.lit(1.0) + r) / (F.lit(1.0) - r)
    )
    se = F.sqrt(
        F.lit(1.0) / (F.col("n_ref").cast("double") - F.lit(3.0))
        + F.lit(1.0) / (F.col("n_cur").cast("double") - F.lit(3.0))
    )
    # |r| = 1 exactly (perfectly collinear window) makes atanh's
    # (1+r)/(1-r) divide by zero — ANSI Spark raises on DOUBLE/0 too,
    # so the degenerate case is gated NULL (DuckDB mirrors the guard)
    both = ok_r & ok_c
    z = F.when(
        both,
        F.when(
            (F.abs(r_ref) < 1) & (F.abs(r_cur) < 1),
            (atanh(r_ref) - atanh(r_cur)) / se,
        ),
    )
    return g.select(
        F.col("_g").alias(group_col),
        "n_ref",
        "n_cur",
        r_ref.alias("r_ref"),
        r_cur.alias("r_cur"),
        z.alias("z"),
    )


def energy_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Two-sample energy distance per group across a cutoff (Székely &
    Rizzo 2004) — the characteristic-function drift test:

        E = 2 E|X - Y| - E|X - X'| - E|Y - Y'|

    zero iff the distributions are equal, sensitive to ANY difference
    (location, scale, shape) without binning or rank choices — the
    omnibus member next to KS (sup-norm) and AD (tail-weighted).

    Determinism + scale: all three expectations ride the COMPACTED
    (value -> ref/cur count) histogram — the pairwise |v_i - v_j|
    grids are value-cardinality², not row², and every grid numerator
    sum_ij c_i c_j |v_i - v_j| is an EXACT LONG (the signal axis here
    is 9 distinct integers -> an 81-cell grid; for continuous signals
    bin first, as psi_drift does). The three divisions and the final
    combination are one fixed chain. One map-side combined groupBy +
    one bounded self-join on the compacted frame.

    NULL signals are excluded. Output: (group_col, n_ref long, n_cur
    long, e_xy double, e_xx double, e_yy double, energy double — NULL
    when either window is empty).
    """
    x = F.col(signal_col).cast("long")
    pv = (
        two_class_ecdf(df.where(x.isNotNull()), x, _is_ref(split_ts), [group_col])
        .select(
            F.col(group_col).alias("_g"),
            F.col("_val").alias("_v"),
            F.col("_a").alias("_r"),
            F.col("_b").alias("_c"),
        )
        # the compacted histogram feeds BOTH sides of the pair grid and
        # the totals — truncate lineage so the full-data aggregate runs
        # once (three consumers would otherwise re-scan the fact table)
        .localCheckpoint(eager=False)
    )
    o = pv.select(
        F.col("_g").alias("_g2"),
        F.col("_v").alias("_v2"),
        F.col("_r").alias("_r2"),
        F.col("_c").alias("_c2"),
    )
    grid = pv.join(o, F.col("_g") == F.col("_g2")).select(
        "_g",
        F.abs(F.col("_v") - F.col("_v2")).alias("_d"),
        (F.col("_r") * F.col("_r2")).alias("_rr"),
        (F.col("_r") * F.col("_c2")).alias("_rc"),
        (F.col("_c") * F.col("_c2")).alias("_cc"),
    )
    g = grid.groupBy("_g").agg(
        F.sum(F.col("_rc") * F.col("_d")).cast("long").alias("_nxy"),
        F.sum(F.col("_rr") * F.col("_d")).cast("long").alias("_nxx"),
        F.sum(F.col("_cc") * F.col("_d")).cast("long").alias("_nyy"),
    )
    tot = pv.groupBy("_g").agg(
        F.sum("_r").cast("long").alias("n_ref"),
        F.sum("_c").cast("long").alias("n_cur"),
    )
    j = tot.join(g, "_g")
    n1, n2 = F.col("n_ref").cast("double"), F.col("n_cur").cast("double")
    e_xy = F.col("_nxy").cast("double") / (n1 * n2)
    e_xx = F.col("_nxx").cast("double") / (n1 * n1)
    e_yy = F.col("_nyy").cast("double") / (n2 * n2)
    ok = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    return j.select(
        F.col("_g").alias(group_col),
        "n_ref",
        "n_cur",
        F.when(ok, e_xy).alias("e_xy"),
        F.when(ok, e_xx).alias("e_xx"),
        F.when(ok, e_yy).alias("e_yy"),
        F.when(ok, F.lit(2.0) * e_xy - e_xx - e_yy).alias("energy"),
    )


def conformal_interval(
    df: DataFrame,
    split_ts: str,
    level_pct: int = 90,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Split-conformal prediction interval per group (Vovk et al. 2005;
    Lei et al. 2018) — distribution-free uncertainty for the simplest
    predictor (the calibration-window mean), evaluated as COVERAGE on
    the deployment window: the monitoring question "does the
    calibrated interval still hold?" asked without any normality
    assumption, the uncertainty-quantification complement to the
    drift battery's location/shape tests.

    Calibration (ts < split): nonconformity r_i = |x_i - mean_ref|;
    the conformal radius is the ceil((n_ref + 1) * level)-th smallest
    r_i — computed by integer threshold on the value-ordered compacted
    residual histogram: k = (level_pct * (n_ref + 1) + 99) DIV 100,
    no float rank arithmetic; when k > n_ref (tiny calibration
    windows, where exact conformal is the whole line) the radius is
    capped at the max calibration residual. Deployment (ts >= split):
    coverage =
    share of |x - mean_ref| <= radius; a healthy window reads
    ~level_pct/100, drift reads materially lower.

    Determinism: counts exact longs; mean_ref one division; residuals
    one |int - double| chain over the <= |signal alphabet| compacted
    histogram; the k-th-smallest pick is a cumulative-count threshold
    (ties collapse) — engine-order free, oracle-replayable.

    Output per group: (group, n_ref long, n_cur long, mean_ref double,
    radius double — NULL when n_ref = 0, coverage double — NULL when
    either window is empty).
    """
    x = F.col(signal_col).cast("long")
    base = df.where(F.col(signal_col).isNotNull()).select(
        F.col(group_col).alias("_g"),
        x.alias("_x"),
        _is_ref(split_ts).alias("_ref"),
    )
    ref_stats = (
        base.where("_ref")
        .groupBy("_g")
        .agg(
            F.count("*").cast("long").alias("n_ref"),
            F.sum("_x").cast("long").alias("_s"),
        )
        .withColumn("mean_ref", F.col("_s").cast("double") / F.col("n_ref").cast("double"))
    )
    # compacted residual histogram on the calibration window
    rh = (
        base.where("_ref")
        .groupBy("_g", "_x")
        .agg(F.count("*").cast("long").alias("_c"))
        .join(F.broadcast(ref_stats.select("_g", "mean_ref", "n_ref")), "_g")
        .select(
            "_g",
            "n_ref",
            F.abs(F.col("_x").cast("double") - F.col("mean_ref")).alias("_r"),
            "_c",
        )
        .groupBy("_g", "n_ref", "_r")
        .agg(F.sum("_c").cast("long").alias("_c"))
    )
    k = (F.lit(level_pct) * (F.col("n_ref") + 1) + 99).cast("long") / F.lit(100)
    k = F.floor(k).cast("long")  # integer ceil((n_ref+1)*pct/100)
    radius = (
        running_counts(rh, ["_g"], "_r", "_c")
        .groupBy("_g")
        .agg(value_at_rank("_r", F.least(k, F.col("n_ref"))).alias("radius"))
    )
    cur = (
        base.where(~F.col("_ref"))
        .join(F.broadcast(ref_stats.select("_g", "mean_ref")), "_g")
        .join(F.broadcast(radius), "_g", "left")
        .groupBy("_g")
        .agg(
            F.count("*").cast("long").alias("n_cur"),
            F.sum(
                F.when(
                    F.abs(F.col("_x").cast("double") - F.col("mean_ref"))
                    <= F.col("radius"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("_cov"),
        )
        .withColumn(
            "coverage", F.col("_cov").cast("double") / F.col("n_cur").cast("double")
        )
    )
    out = (
        ref_stats.select("_g", "n_ref", "mean_ref")
        .join(radius, "_g", "left")
        .join(cur.select("_g", "n_cur", "coverage"), "_g", "left")
        .select(
            F.col("_g").alias(group_col),
            "n_ref",
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
            "mean_ref",
            "radius",
            "coverage",
        )
    )
    return out


def cliffs_delta(
    df: DataFrame,
    flag_col: str = "is_a",
    value_col: str = "n_chars",
) -> DataFrame:
    """Cliff's delta ordinal effect size between two groups (Cliff,
    Psychological Bulletin 1993) — the nonparametric companion to
    [[mw_drift]]'s AUC: where AUC folds ties into P(A>B) + P(=)/2,
    delta reports the SIGNED dominance (P(A>B) - P(A<B)) with the
    tie mass exposed, the effect size reviewers ask for next to any
    Mann-Whitney p-value.

        delta = (#{a > b} - #{a < b}) / (n_a * n_b)

    over all n_a x n_b cross pairs — computed WITHOUT the quadratic
    pair set: one map-side-combined groupBy on the value compacts both
    groups to per-value counts (a_v, b_v), one cumulative window in
    value order gives the B mass strictly below each value, and the
    three pair classes are exact long dot products over that compacted
    frame:

        gt  = sum_v a_v * cumB(<v)
        lt  = sum_v a_v * (n_b - cumB(<=v))
        tie = sum_v a_v * b_v

    Determinism: every count is an exact long; delta / p_gt / p_lt /
    p_tie are single divisions — the SQL oracle replays them
    bit-for-bit. Long bound: gt <= n_a * n_b, exact below 2^63 (~9e18
    pairs, i.e. both sides ~3e9 rows; cast the products to
    decimal(38,0) beyond that).

    Scale: the window runs over the distinct-value frame (bounded by
    value cardinality, not rows); at 10^12 rows pre-bucket the value —
    the compacted histogram is the interface, any upstream compaction
    composes. No self-join, no pair explode anywhere.

    Output one row: (n_a, n_b, gt, lt, tie longs; delta, p_gt, p_lt,
    p_tie doubles; NULL effect columns when either group is empty).
    """
    v = F.col(value_col).cast("long")
    is_a = F.col(flag_col).cast("boolean")
    c = two_class_ecdf(df.where(v.isNotNull() & is_a.isNotNull()), v, is_a)
    g = c.groupBy().agg(
        F.sum("_a").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.sum(F.col("_a") * (F.col("_cb") - F.col("_b"))).cast("long").alias("gt"),
        F.sum(F.col("_a") * (F.col("_nb") - F.col("_cb"))).cast("long").alias("lt"),
        F.sum(F.col("_a") * F.col("_b")).cast("long").alias("tie"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    pairs = na * nb
    return g.select(
        "n_a",
        "n_b",
        "gt",
        "lt",
        "tie",
        F.when(both, (F.col("gt") - F.col("lt")).cast("double") / pairs).alias("delta"),
        F.when(both, F.col("gt").cast("double") / pairs).alias("p_gt"),
        F.when(both, F.col("lt").cast("double") / pairs).alias("p_lt"),
        F.when(both, F.col("tie").cast("double") / pairs).alias("p_tie"),
    )


def ordinal_assoc(
    df: DataFrame,
    x_col: str = "x_bucket",
    y_col: str = "y_bucket",
) -> DataFrame:
    """Ordinal-ordinal association battery over a bucketed contingency
    table: Goodman-Kruskal gamma (1954), Somers' D (1962, both
    directions), and Kendall's tau-b — the three standard summaries of
    concordance that differ ONLY in how ties enter the denominator.
    The cross-metric complement to [[mann_kendall]] (x = time) and
    [[cramers_v]] (nominal, chi-square based): use it when BOTH
    columns are ordered (length bucket vs token bucket, quality tier
    vs engagement tier).

    With C = concordant pairs, D = discordant, n0 = n(n-1)/2,
    n1 = sum_i t_i(t_i-1)/2 (x-marginal ties), n2 = same over y:

        gamma      = (C - D) / (C + D)
        somers_dyx = (C - D) / (n0 - n1)     (y dependent)
        somers_dxy = (C - D) / (n0 - n2)
        tau_b      = (C - D) / sqrt((n0-n1) * (n0-n2))

    Plan shape: ONE map-side-combined groupBy compacts the data to the
    k x m cell table; C and D are exact long sums over the broadcast
    cell-pair self-join (bounded by (km)^2 CELL pairs — e.g. 25 cells
    -> 625 pair rows — regardless of row count, the [[cramers_v]]
    bounded-contingency argument); the tie terms come from the cell
    table's marginals, no second scan. At 10^12 rows the only full-data
    touch is the first groupBy.

    Determinism: C, D, n0, n1, n2 are exact longs (t*(t-1)/2 stays
    integer; n0 exact for n < 2^32); the ratios are fixed chains and
    tau_b's denominator is sqrt(double_product) — (n0-n1)*(n0-n2) is
    computed in DOUBLE to dodge the long overflow at n ~ 1e6+, and the
    sqrt is one libm call identical in both engines under the 6dp gate.

    Output one row: (n, cells, conc, disc, ties_x, ties_y longs;
    gamma, somers_dyx, somers_dxy, tau_b doubles; NULLs when a
    denominator is zero).
    """
    from pyspark.sql.functions import broadcast

    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    cells = (
        df.where(x.isNotNull() & y.isNotNull())
        .groupBy(x.alias("_x"), y.alias("_y"))
        .agg(F.count("*").cast("long").alias("_n"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    pair = broadcast(a).join(
        broadcast(b),
        (F.col("b._x") > F.col("a._x"))
        & (F.col("b._y") != F.col("a._y")),
        "inner",
    )
    cd = pair.groupBy().agg(
        F.sum(
            F.when(
                F.col("b._y") > F.col("a._y"), F.col("a._n") * F.col("b._n")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("conc"),
        F.sum(
            F.when(
                F.col("b._y") < F.col("a._y"), F.col("a._n") * F.col("b._n")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("disc"),
    )
    xm = cells.groupBy("_x").agg(F.sum("_n").alias("_t"))
    ym = cells.groupBy("_y").agg(F.sum("_n").alias("_t"))
    tx = xm.groupBy().agg(
        F.sum("_t").cast("long").alias("n"),
        F.sum(F.col("_t") * (F.col("_t") - 1) / F.lit(2)).cast("long").alias("ties_x"),
    )
    ty = ym.groupBy().agg(
        F.sum(F.col("_t") * (F.col("_t") - 1) / F.lit(2)).cast("long").alias("ties_y")
    )
    ncells = cells.groupBy().agg(F.count("*").cast("long").alias("cells"))
    g = cd.crossJoin(broadcast(tx)).crossJoin(broadcast(ty)).crossJoin(
        broadcast(ncells)
    )
    n = F.col("n")
    n0 = (n * (n - F.lit(1)) / F.lit(2)).cast("long")
    s = (F.col("conc") - F.col("disc")).cast("double")
    dn1 = (n0 - F.col("ties_x")).cast("double")
    dn2 = (n0 - F.col("ties_y")).cast("double")
    cpd = (F.col("conc") + F.col("disc")).cast("double")
    return g.select(
        "n",
        "cells",
        "conc",
        "disc",
        "ties_x",
        "ties_y",
        F.when(cpd > 0, s / cpd).alias("gamma"),
        F.when(dn1 > 0, s / dn1).alias("somers_dyx"),
        F.when(dn2 > 0, s / dn2).alias("somers_dxy"),
        F.when(
            (dn1 > 0) & (dn2 > 0), s / F.sqrt(dn1 * dn2)
        ).alias("tau_b"),
    )


def friedman_test(
    df: DataFrame,
    roles: tuple[str, ...] = ("user", "assistant", "tool"),
    signal_col: str = "signal",
) -> DataFrame:
    """Friedman rank test (1937) across k matched treatments with
    conversations as blocks: are the per-role mean signals drawn from
    the same distribution, judged only by their WITHIN-conversation
    ranks? The repeated-measures counterpart to [[kruskal_wallis]]
    (independent groups) — blocks absorb the between-conversation
    variance that KW charges to the treatment. Also emits Kendall's W
    (chi2 / (b (k-1))), the 0..1 concordance reading of the same ranks.

    Complete-block design: only conversations where ALL k roles appear
    (with non-NULL signal) enter; b = number of such blocks.

        chi2   = 12 / (b k (k+1)) * sum_j R_j^2  -  3 b (k+1)
        chi2_c = chi2 / (1 - sum(t^3 - t) / (b k (k^3 - k)))   (ties)

    Determinism: per-(block, role) means are exact long sums over the
    stable base table divided once; within-block midranks use the
    [[mw_drift]] doubled-rank identity (a tie block of size t above cb
    ranks contributes 2*cb + t + 1 per member — an exact INTEGER), so
    R_j rides as the exact long 2R_j and sum_j (2R_j)^2 is an exact
    long (bound: (2R)^2 <= (2bk)^2, safe to b ~ 1e9 blocks); the tie
    correction's t^3 - t is an exact long per tie group. chi2 is then
    a fixed rational chain — the oracle replays it bit-for-bit.

    Scale: one full-data groupBy to (conv, role) means; everything
    after runs on b*k rows (window partitioned BY BLOCK — k rows per
    partition, no global sort). Output one row: (b, k longs; chi2,
    chi2_corrected, kendalls_w doubles; NULL when b = 0 or the tie
    correction denominator vanishes).
    """
    k = len(roles)
    x = F.col(signal_col).cast("long")
    per = (
        df.where(x.isNotNull() & F.col("role").isin(*roles))
        .groupBy("conv_id", "role")
        .agg(F.sum(x).cast("long").alias("_s"), F.count("*").cast("long").alias("_c"))
        .withColumn("_mean", F.col("_s").cast("double") / F.col("_c").cast("double"))
    )
    complete = (
        per.groupBy("conv_id")
        .agg(F.count("*").alias("_k"))
        .where(F.col("_k") == k)
        .select("conv_id")
    )
    blk = per.join(complete, "conv_id")
    # doubled midranks within each block over the k role means
    per_mean = blk.groupBy("conv_id", "_mean").agg(
        F.count("*").cast("long").alias("_t"),
        F.collect_list("role").alias("_roles"),
    )
    w_cum = (
        Window.partitionBy("conv_id")
        .orderBy("_mean")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = per_mean.select(
        "conv_id",
        "_t",
        "_roles",
        (F.sum("_t").over(w_cum) - F.col("_t")).cast("long").alias("_cb"),
    ).select(
        "conv_id",
        "_t",
        F.explode("_roles").alias("role"),
        (F.lit(2) * F.col("_cb") + F.col("_t") + F.lit(1)).cast("long").alias("_2r"),
    )
    rj = ranked.groupBy("role").agg(F.sum("_2r").cast("long").alias("_2rj"))
    sum_sq = rj.groupBy().agg(
        F.sum(F.col("_2rj") * F.col("_2rj")).cast("long").alias("_sum4r2")
    )
    ties = (
        ranked.groupBy("conv_id", "_2r")
        .agg(F.count("*").cast("long").alias("_tt"))
        .groupBy()
        .agg(
            F.sum(F.col("_tt") * F.col("_tt") * F.col("_tt") - F.col("_tt"))
            .cast("long")
            .alias("_tie3"),
            (F.count_distinct("conv_id")).cast("long").alias("b"),
        )
    )
    from pyspark.sql.functions import broadcast

    g = sum_sq.crossJoin(broadcast(ties))
    bd = F.col("b").cast("double")
    kd = F.lit(float(k))
    # sum_j R_j^2 = _sum4r2 / 4 exactly (each 2R_j is integer)
    chi2 = (
        F.lit(12.0) / (bd * kd * (kd + F.lit(1.0)))
        * (F.col("_sum4r2").cast("double") / F.lit(4.0))
        - F.lit(3.0) * bd * (kd + F.lit(1.0))
    )
    corr_den = F.lit(1.0) - F.col("_tie3").cast("double") / (
        bd * kd * F.lit(float(k**3 - k))
    )
    has = F.col("b") > 0
    return g.select(
        "b",
        F.lit(k).cast("long").alias("k"),
        F.when(has, chi2).alias("chi2"),
        F.when(has & (corr_den > 0), chi2 / corr_den).alias("chi2_corrected"),
        F.when(has, chi2 / (bd * (kd - F.lit(1.0)))).alias("kendalls_w"),
    )


def bartlett_test(
    df: DataFrame,
    group_col: str = "role",
    value_col: str = "signal",
) -> DataFrame:
    """Bartlett's test of variance homogeneity across k groups
    (Bartlett, 1937) — the parametric, high-power counterpart to
    [[brown_forsythe]]: sharper when the signal is near-normal, and
    the standard pre-check before pooling variances in a downstream
    ANOVA. The reference ships no k-group scale test; this closes the
    pair (BF robust / Bartlett parametric) its users expect:

        T = ((N - k) ln sp^2 - sum_i (n_i - 1) ln s_i^2) / C
        C = 1 + (sum_i 1/(n_i - 1) - 1/(N - k)) / (3 (k - 1))

    with s_i^2 the unbiased group variance and sp^2 the pooled
    variance. Under H0, T ~ chi2(k-1). Groups with n_i < 2 are
    excluded (their variance is undefined).

    Determinism: per-group sufficient statistics (n_i, S_i = sum x,
    SS_i = sum x^2) are exact longs (integer signal contract); s_i^2 =
    (n_i*SS_i - S_i^2) / (n_i*(n_i-1)) is one exact-long numerator and
    one division. The three k-term reductions (pooled SS numerator,
    sum (n_i-1) ln s_i^2, sum 1/(n_i-1)) are ``exprs.ordered_sums`` in
    group order, so the SQL oracle replays T bit-for-bit.
    Long bound: S_i^2 <= (9 n_i)^2 — exact for groups under ~3.4e8
    rows (cast the numerator to decimal(38,0) beyond).

    Scale: one map-side-combined groupBy on the group column (k rows of
    state), one 1-row final aggregate — no window, no join, no per-row
    float math. Output one row: (n, k, df longs; sp2, stat doubles —
    NULL when k < 2 or any group variance is 0, where ln degenerates).
    """
    x = F.col(value_col).cast("long")
    per = (
        df.where(x.isNotNull())
        .groupBy(F.col(group_col).alias("_g"))
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum(x).cast("long").alias("_s"),
            F.sum(x * x).cast("long").alias("_ss"),
        )
        .where(F.col("_n") >= 2)
    )
    var_i = (F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s")).cast("double") / (
        F.col("_n") * (F.col("_n") - F.lit(1))
    ).cast("double")
    nm1 = (F.col("_n") - F.lit(1)).cast("double")
    g = per.agg(
        F.sum("_n").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        *ordered_sums(
            ["_g"],
            _pooled_num=nm1 * var_i,
            _sum_ln=nm1 * F.log(var_i),
            _sum_inv=F.lit(1.0) / nm1,
        ),
        F.min(var_i).alias("_min_var"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    pooled_num, sum_ln, sum_inv = F.col("_pooled_num"), F.col("_sum_ln"), F.col("_sum_inv")
    min_var = F.col("_min_var")
    sp2 = pooled_num / (nd - kd)
    c = F.lit(1.0) + (sum_inv - F.lit(1.0) / (nd - kd)) / (
        F.lit(3.0) * (kd - F.lit(1.0))
    )
    stat = ((nd - kd) * F.log(sp2) - sum_ln) / c
    ok = (F.col("k") >= 2) & (min_var > 0)
    return g.select(
        "n",
        "k",
        (F.col("k") - F.lit(1)).cast("long").alias("df"),
        F.when(ok, sp2).alias("sp2"),
        F.when(ok, stat).alias("stat"),
    )


def wilcoxon_signed_rank(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Wilcoxon signed-rank test over the conversation-level pre/post
    pairing (Wilcoxon, 1945): each conversation contributes the exact
    integer difference d = post - pre between its second-half and
    first-half signal mass (the same positional 2*i0 < n split
    [[cuped_adjusted]] uses), and the test asks whether the paired
    shift is symmetric about zero — the nonparametric complement to
    CUPED's variance reduction and the paired counterpart to the
    independent-sample mw_drift:

        2W+ = sum_{d>0} (2 cb + t + 1)          (doubled midranks)
        mu2 = m (m + 1) / 2                      (= 2 E[W+])
        v48 = 2 m (m+1) (2m+1) - sum_v (t^3 - t) (= 48 Var[W+])
        z   = (2W+ - mu2) / sqrt(v48 / 12)

    where m counts nonzero differences (zeros dropped, the standard
    Wilcoxon convention) and cb/t come from the |d| tie table.

    Determinism: d is an exact long; midranks ride the compacted
    (|d| -> count) histogram exactly like mw_drift's doubled-rank
    identity, so 2W+, mu2, and v48 are all EXACT LONGS and z is a
    two-op IEEE chain — the SQL oracle replays it bit-for-bit. Long
    bound: v48 <= 4 m^3, exact for m < 1.2e6 conversations (cast to
    decimal(38,0) beyond).

    Scale: one conv_id groupBy (the engine's shared exchange) to the
    per-conversation pair, one groupBy on |d| (state bounded by
    distinct difference magnitudes), one window over that compacted
    table, one 1-row aggregate. Output one row: (n_pairs, m, two_w_pos,
    tie3 longs; w_plus, z doubles — z NULL when m = 0 or v48 = 0).
    """
    x = F.col(signal_col).cast("long")
    p = (
        df.where(x.isNotNull())
        .withColumn(
            "_i0",
            F.row_number().over(
                conv_window()
            ).cast("long")
            - F.lit(1),
        )
        .withColumn(
            "_nc",
            F.count("*").over(
                Window.partitionBy("conv_id")
                .orderBy("ts", "turn_idx")
                .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).cast("long"),
        )
    )
    is_pre = (F.col("_i0") * F.lit(2)) < F.col("_nc")
    conv = p.groupBy("conv_id").agg(
        (
            F.coalesce(F.sum(F.when(~is_pre, x)), F.lit(0))
            - F.coalesce(F.sum(F.when(is_pre, x)), F.lit(0))
        )
        .cast("long")
        .alias("_d")
    )
    nz = conv.where(F.col("_d") != 0).select(
        F.abs(F.col("_d")).cast("long").alias("_ad"),
        (F.col("_d") > 0).alias("_pos"),
    )
    per_v = nz.groupBy("_ad").agg(
        F.count("*").cast("long").alias("_t"),
        F.coalesce(F.sum(F.when(F.col("_pos"), F.lit(1))), F.lit(0))
        .cast("long")
        .alias("_tpos"),
    )
    w_cum = Window.orderBy("_ad").rowsBetween(Window.unboundedPreceding, 0)
    lv = per_v.select(
        "_t",
        "_tpos",
        (F.sum("_t").over(w_cum) - F.col("_t")).cast("long").alias("_cb"),
    )
    g0 = lv.agg(
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("m"),
        F.coalesce(
            F.sum(
                F.col("_tpos") * (F.lit(2) * F.col("_cb") + F.col("_t") + F.lit(1))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("two_w_pos"),
        F.coalesce(
            F.sum(F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")), F.lit(0)
        )
        .cast("long")
        .alias("tie3"),
    )
    n_pairs = conv.agg(F.count("*").cast("long").alias("n_pairs"))
    from pyspark.sql.functions import broadcast

    g = n_pairs.crossJoin(broadcast(g0))
    md = F.col("m")
    mu2 = (md * (md + F.lit(1)) / F.lit(2)).cast("long")
    v48 = (
        F.lit(2) * md * (md + F.lit(1)) * (F.lit(2) * md + F.lit(1)) - F.col("tie3")
    ).cast("long")
    z = (F.col("two_w_pos") - mu2).cast("double") / F.sqrt(
        v48.cast("double") / F.lit(12.0)
    )
    ok = (F.col("m") > 0) & (v48 > 0)
    return g.select(
        "n_pairs",
        "m",
        "two_w_pos",
        "tie3",
        (F.col("two_w_pos").cast("double") / F.lit(2.0)).alias("w_plus"),
        F.when(ok, z).alias("z"),
    )


def cochran_q(
    df: DataFrame,
    roles: tuple[str, ...] = ("user", "assistant", "tool"),
    signal_col: str = "signal",
    threshold: int = 5,
) -> DataFrame:
    """Cochran's Q test (1950) for k matched BINARY treatments with
    conversations as blocks: does the rate of the success indicator
    x_ij = [conversation i has >= 1 turn of role j with signal >=
    threshold] differ across roles? The dichotomous member of the
    matched-design family — [[friedman_test]] handles ordinal/continuous
    responses, this handles yes/no ones (and McNemar is its k=2
    special case):

        Q = (k - 1) (k sum_j C_j^2 - T^2) / (k T - sum_i R_i^2)

    with C_j the role success counts, R_i the per-conversation success
    counts, T = sum R_i. Under H0, Q ~ chi2(k-1). Every conversation is
    a block (roles it never utters count as failures); all-0 / all-1
    blocks drop out of both numerator and denominator algebraically, so
    no block filter is needed.

    Determinism: x_ij is an exact 0/1 integer; C_j, R_i, T, and both
    quadratic forms are exact longs, so Q is ONE long-ratio division —
    the SQL oracle replays it bit-for-bit. Long bound: k sum C^2 <=
    k b^2 — exact past 1e9 blocks.

    Scale: one conv_id groupBy computing all k indicators as
    conditional MAXes in a single pass (no per-role join), one 1-row
    aggregate over b rows. Output one row: (b, k, t longs; q double —
    NULL when the denominator k T - sum R^2 is 0, i.e. no
    within-block disagreement anywhere).
    """
    k = len(roles)
    x = F.col(signal_col).cast("long")
    hit = lambda r: F.coalesce(  # noqa: E731
        F.max(
            F.when((F.col("role") == r) & (x >= threshold), F.lit(1)).otherwise(
                F.lit(0)
            )
        ),
        F.lit(0),
    ).cast("long")
    conv = df.groupBy("conv_id").agg(
        *[hit(r).alias(f"_x{j}") for j, r in enumerate(roles)]
    )
    ri = sum(F.col(f"_x{j}") for j in range(k))
    g = conv.agg(
        F.count("*").cast("long").alias("b"),
        *[F.sum(f"_x{j}").cast("long").alias(f"_c{j}") for j in range(k)],
        F.sum(ri * ri).cast("long").alias("_r2"),
    )
    t = sum(F.col(f"_c{j}") for j in range(k)).cast("long")
    sum_c2 = sum(F.col(f"_c{j}") * F.col(f"_c{j}") for j in range(k)).cast("long")
    num = (F.lit(k - 1) * (F.lit(k) * sum_c2 - t * t)).cast("long")
    den = (F.lit(k) * t - F.col("_r2")).cast("long")
    return g.select(
        "b",
        F.lit(k).cast("long").alias("k"),
        t.alias("t"),
        F.when(den > 0, num.cast("double") / den.cast("double")).alias("q"),
    )


def icc_oneway(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1,1)
    (Shrout & Fleiss, 1979) with conversations as groups: how much of
    the turn-level signal variance is BETWEEN conversations? The
    reliability reading of the same decomposition [[f_oneway]] tests —
    ICC near 1 means conversation identity explains the signal (one
    turn tells you the conversation), near 0 means turns are
    exchangeable across conversations (conversation-level features
    carry little information — the feature-selection signal this
    operator exists for):

        MSB = (sum_i S_i^2/n_i - S^2/N) / (k - 1)
        MSW = (SS - sum_i S_i^2/n_i) / (N - k)
        n0  = (N - sum_i n_i^2 / N) / (k - 1)      (unequal-size correction)
        icc = (MSB - MSW) / (MSB + (n0 - 1) MSW)

    Determinism: per-conversation sufficient statistics (n_i, S_i) and
    the global (N, S, SS, sum n_i^2) are exact longs; the one float
    reduction sum_i S_i^2/n_i (one squaring + one division per group)
    is ``exprs.ordered_sums`` in conv_id order, so the SQL oracle
    replays MSB/MSW/icc bit-for-bit. Long bound: S_i^2 <= (9 n_i)^2 —
    exact to ~3e8-turn conversations.

    Scale: one conv_id groupBy (shared exchange), one 1-row final
    aggregate whose collect_list state is k structs of three longs —
    fine for audit-scale group counts (sf0.1: 1.5k; at 1e9
    conversations swap the fold for a compensated distributed sum, at
    the cost of oracle exactness). Output one row: (k, n longs; msb,
    msw, n0, icc doubles — NULL when k < 2 or N = k, where the mean
    squares degenerate).
    """
    x = F.col(signal_col).cast("long")
    per = (
        df.where(x.isNotNull())
        .groupBy("conv_id")
        .agg(F.count("*").cast("long").alias("_n"), F.sum(x).cast("long").alias("_s"))
    )
    ss = df.where(x.isNotNull()).agg(F.sum(x * x).cast("long").alias("_ss"))
    g0 = per.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("_n").cast("long").alias("n"),
        F.sum("_s").cast("long").alias("_sg"),
        F.sum(F.col("_n") * F.col("_n")).cast("long").alias("_n2"),
        *ordered_sums(
            ["conv_id"],
            _sum_s2n=(F.col("_s") * F.col("_s")).cast("double") / F.col("_n").cast("double"),
        ),
    )
    from pyspark.sql.functions import broadcast

    g = g0.crossJoin(broadcast(ss))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    sum_s2n = F.col("_sum_s2n")
    # S is squared in DOUBLE (not long): the corpus-total signal mass
    # passes sqrt(2^63) ~ 3e9 at 10^12 turns and a long square would
    # silently wrap — one double square loses no replayability (the
    # oracle squares the same single-cast double)
    sgd = F.col("_sg").cast("double")
    msb = (sum_s2n - sgd * sgd / nd) / (kd - F.lit(1.0))
    msw = (F.col("_ss").cast("double") - sum_s2n) / (nd - kd)
    n0 = (nd - F.col("_n2").cast("double") / nd) / (kd - F.lit(1.0))
    icc = (msb - msw) / (msb + (n0 - F.lit(1.0)) * msw)
    ok = (F.col("k") >= 2) & (F.col("n") > F.col("k"))
    return g.select(
        "k",
        "n",
        F.when(ok, msb).alias("msb"),
        F.when(ok, msw).alias("msw"),
        F.when(ok, n0).alias("n0"),
        F.when(ok, icc).alias("icc"),
    )


def diff_in_diff(
    df: DataFrame,
    signal_col: str = "signal",
    cutoff: str = "2024-01-15 00:00:00",
    salt: str = "did1",
) -> DataFrame:
    """Difference-in-differences estimator over the transcript stream:
    conversations are hash-assigned 50/50 to treat/control (the
    [[split_expr]] md5 bucketing — deterministic, engine-replayable,
    exactly the assignment a real experiment would persist), turns are
    split pre/post at the literal cutoff timestamp, and the estimand is

        did = (m_treat_post - m_treat_pre) - (m_ctrl_post - m_ctrl_pre)

    with the naive independent-cells standard error

        se = sqrt(v_cp/n_cp + v_ct/n_ct + v_tp/n_tp + v_tt/n_tt)

    (fixed fold order: ctrl_pre, ctrl_post, treat_pre, treat_post).
    The parallel-trends workhorse for 'did the launch move the signal
    beyond what the control drifted?' — the causal complement to
    [[cuped_adjusted]] (variance reduction) and event_uplift (single
    -group before/after).

    Determinism: cell sufficient statistics (n, S, SS) are exact longs;
    each mean is one division, each variance the exact-long numerator
    (n*SS - S^2) over n*(n-1), and did/se/t are fixed chains — the SQL
    oracle replays everything bit-for-bit (md5 included).

    Scale: ONE map-side-combined groupBy on the two derived bits (4
    groups) — no conv_id exchange at all; the assignment is a pure
    column expression of conv_id. Output one row: (n_cp, n_ct, n_tp,
    n_tt longs; m_cp, m_ct, m_tp, m_tt, did, se, t_stat doubles — se/t
    NULL when any cell has n < 2).
    """
    from z_rad_spark.operators.dedup import split_expr

    x = F.col(signal_col).cast("long")
    treated = (
        split_expr(F.col("conv_id"), {"t": 0.5, "c": 0.5}, salt=salt) == "t"
    ).alias("_treat")
    post = (F.col("ts") >= F.lit(cutoff).cast("timestamp")).alias("_post")
    cells = (
        df.where(x.isNotNull())
        .groupBy(treated, post)
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum(x).cast("long").alias("_s"),
            F.sum(x * x).cast("long").alias("_ss"),
        )
    )
    tag = (
        F.when(~F.col("_treat") & ~F.col("_post"), F.lit("cp"))
        .when(~F.col("_treat") & F.col("_post"), F.lit("ct"))
        .when(F.col("_treat") & ~F.col("_post"), F.lit("tp"))
        .otherwise(F.lit("tt"))
    )
    g = cells.select(tag.alias("_cell"), "_n", "_s", "_ss").groupBy().pivot(
        "_cell", ["cp", "ct", "tp", "tt"]
    ).agg(
        F.first("_n").alias("n"), F.first("_s").alias("s"), F.first("_ss").alias("ss")
    )
    n = {c: F.coalesce(F.col(f"{c}_n"), F.lit(0)).cast("long") for c in ("cp", "ct", "tp", "tt")}
    s = {c: F.coalesce(F.col(f"{c}_s"), F.lit(0)).cast("long") for c in ("cp", "ct", "tp", "tt")}
    ss = {c: F.coalesce(F.col(f"{c}_ss"), F.lit(0)).cast("long") for c in ("cp", "ct", "tp", "tt")}
    mean = {c: s[c].cast("double") / n[c].cast("double") for c in n}
    var = {
        c: (n[c] * ss[c] - s[c] * s[c]).cast("double")
        / (n[c] * (n[c] - F.lit(1))).cast("double")
        for c in n
    }
    did = (mean["tt"] - mean["tp"]) - (mean["ct"] - mean["cp"])
    se = F.sqrt(
        var["cp"] / n["cp"].cast("double")
        + var["ct"] / n["ct"].cast("double")
        + var["tp"] / n["tp"].cast("double")
        + var["tt"] / n["tt"].cast("double")
    )
    all2 = (n["cp"] >= 2) & (n["ct"] >= 2) & (n["tp"] >= 2) & (n["tt"] >= 2)
    any0 = (n["cp"] > 0) & (n["ct"] > 0) & (n["tp"] > 0) & (n["tt"] > 0)
    return g.select(
        n["cp"].alias("n_cp"),
        n["ct"].alias("n_ct"),
        n["tp"].alias("n_tp"),
        n["tt"].alias("n_tt"),
        F.when(n["cp"] > 0, mean["cp"]).alias("m_cp"),
        F.when(n["ct"] > 0, mean["ct"]).alias("m_ct"),
        F.when(n["tp"] > 0, mean["tp"]).alias("m_tp"),
        F.when(n["tt"] > 0, mean["tt"]).alias("m_tt"),
        F.when(any0, did).alias("did"),
        F.when(all2, se).alias("se"),
        F.when(all2 & (se > 0), did / se).alias("t_stat"),
    )


def delta_ratio_ci(
    df: DataFrame,
    num_role: str = "user",
) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric over
    clustered data (Deng et al., KDD 2018's ratio-metric recipe):
    the metric is R = sum_i x_i / sum_i y_i with x_i = conversation
    i's ``num_role`` turn count and y_i = its total turn count (i.e.
    the corpus-level user-turn share), whose naive per-turn variance
    is wrong because turns within a conversation are correlated —
    the delta method on the per-CONVERSATION sums is the standard fix:

        var(R) = (var_x + R^2 var_y - 2 R cov_xy) / (m ybar^2)
        ci     = R +- 1.96 * sqrt(var(R))

    Determinism: per-conversation (x, y) are exact longs; the five
    cross-moments (Sx, Sy, Sxx, Syy, Sxy) are exact longs; var/cov use
    the exact-long numerators (m*Sxx - Sx^2 etc. — safe to ~3e9 total
    turns, decimal(38,0) beyond) over m*(m-1), and R/se/lo/hi are fixed
    chains with the literal 1.959963984540054 — the SQL oracle replays
    every value bit-for-bit.

    Scale: one conv_id groupBy (shared exchange), one 1-row aggregate.
    Output one row: (m, sx, sy longs; ratio, se, lo, hi doubles — se
    NULL when m < 2 or Sy = 0).
    """
    z975 = 1.959963984540054
    is_num = (F.col("role") == num_role).cast("long")
    per = df.groupBy("conv_id").agg(
        F.sum(is_num).cast("long").alias("_x"),
        F.count("*").cast("long").alias("_y"),
    )
    g = per.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("_x").cast("long").alias("sx"),
        F.sum("_y").cast("long").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
    )
    m = F.col("m")
    md = m.cast("double")
    r = F.col("sx").cast("double") / F.col("sy").cast("double")
    ybar = F.col("sy").cast("double") / md
    den = (m * (m - F.lit(1))).cast("double")
    var_x = (m * F.col("_sxx") - F.col("sx") * F.col("sx")).cast("double") / den
    var_y = (m * F.col("_syy") - F.col("sy") * F.col("sy")).cast("double") / den
    cov = (m * F.col("_sxy") - F.col("sx") * F.col("sy")).cast("double") / den
    se = F.sqrt((var_x + r * r * var_y - F.lit(2.0) * r * cov) / (md * (ybar * ybar)))
    ok = (m >= 2) & (F.col("sy") > 0)
    return g.select(
        "m",
        "sx",
        "sy",
        F.when(F.col("sy") > 0, r).alias("ratio"),
        F.when(ok, se).alias("se"),
        F.when(ok, r - F.lit(z975) * se).alias("lo"),
        F.when(ok, r + F.lit(z975) * se).alias("hi"),
    )


def sprt_bernoulli(
    df: DataFrame,
    signal_col: str = "signal",
    threshold: int = 5,
    p0: float = 0.4,
    p1: float = 0.6,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's sequential probability ratio test (1945) per
    conversation: walk the turns in stable order, score each as a
    Bernoulli success (signal >= threshold), and accumulate the
    log-likelihood ratio for H1: p = p1 against H0: p = p0

        llr_t = k_t ln(p1/p0) + (t - k_t) ln((1-p1)/(1-p0))

    stopping at the first crossing of ln((1-beta)/alpha) (accept H1)
    or ln(beta/(1-alpha)) (accept H0). The SEQUENTIAL decision view of
    the success rate — how fast does each conversation's evidence
    resolve, and which never do? — complementing the fixed-sample
    tests ([[mw_drift]], [[welch_drift]]) with the early-stopping
    semantics an online curation loop actually runs.

    Determinism: k_t and t are exact longs (expanding window sums on
    the stable order); the two log terms are PLAN-TIME Python float
    literals, so each llr_t is two multiplies + one add; the crossing
    indices are conditional MINs of exact ordinals. The SQL oracle
    embeds the identical literals and replays every llr bit-for-bit.

    Scale: one expanding window over the shared per-conversation
    frame, one conv_id groupBy — no iteration, the whole sequential
    walk is one windowed pass. Output: (conv_id, n, k longs; llr_final
    double; decision string 'h1'/'h0'/'continue'; n_decision long —
    1-based turn count at the first crossing, NULL when no crossing).
    """
    l1 = math.log(p1 / p0)
    l0 = math.log((1.0 - p1) / (1.0 - p0))
    up = math.log((1.0 - beta) / alpha)
    dn = math.log(beta / (1.0 - alpha))
    x = F.col(signal_col).cast("long")
    succ = F.when(x >= threshold, F.lit(1)).otherwise(F.lit(0)).cast("long")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ord_w = conv_window()
    p = df.where(x.isNotNull()).select(
        "conv_id",
        F.row_number().over(ord_w).cast("long").alias("_t"),
        F.sum(succ).over(w).cast("long").alias("_k"),
    )
    llr = F.col("_k").cast("double") * F.lit(l1) + (
        F.col("_t") - F.col("_k")
    ).cast("double") * F.lit(l0)
    scored = p.select("conv_id", "_t", "_k", llr.alias("_llr"))
    g = scored.groupBy("conv_id").agg(
        F.max("_t").cast("long").alias("n"),
        F.max("_k").cast("long").alias("k"),
        F.max_by("_llr", "_t").alias("llr_final"),
        F.min(F.when(F.col("_llr") >= F.lit(up), F.col("_t"))).alias("_t_up"),
        F.min(F.when(F.col("_llr") <= F.lit(dn), F.col("_t"))).alias("_t_dn"),
    )
    t_up, t_dn = F.col("_t_up"), F.col("_t_dn")
    decision = (
        F.when(t_up.isNotNull() & (t_dn.isNull() | (t_up < t_dn)), F.lit("h1"))
        .when(t_dn.isNotNull(), F.lit("h0"))
        .otherwise(F.lit("continue"))
    )
    return g.select(
        "conv_id",
        "n",
        "k",
        "llr_final",
        decision.alias("decision"),
        F.least(
            F.coalesce(t_up, F.lit(2**62)), F.coalesce(t_dn, F.lit(2**62))
        ).alias("_td"),
    ).select(
        "conv_id",
        "n",
        "k",
        "llr_final",
        "decision",
        F.when(F.col("_td") < F.lit(2**62), F.col("_td"))
        .cast("long")
        .alias("n_decision"),
    )


def fleiss_kappa(
    df: DataFrame,
    signal_col: str = "signal",
    n_raters: int = 3,
) -> DataFrame:
    """Fleiss' kappa (1971) for multi-rater nominal agreement, with
    conversations as items, the first ``n_raters`` scored turns (stable
    order) as the positional raters, and the integer signal value as
    the category: do a conversation's opening turns 'vote' for the
    same signal level more than chance predicts? The k-rater
    generalization the two-rater [[cohens_kappa]]-style q_langid_kappa
    cannot give, and the agreement reading of the same opening-turns
    frame [[sprt_bernoulli]] walks sequentially:

        Pbar = (S - M n) / (M n (n - 1)),  S = sum_i sum_c n_ic^2
        Pe   = sum_c (C_c / (M n))^2
        kappa = (Pbar - Pe) / (1 - Pe)

    Items with fewer than n_raters scored turns are dropped (Fleiss
    requires complete panels).

    Determinism: n_ic, S, C_c, M are exact longs, so Pbar is one
    long-ratio division and Pe = (sum_c C_c^2) / (M n)^2 one more —
    kappa is a fixed 3-op chain the SQL oracle replays bit-for-bit.
    Long bound: sum C_c^2 <= (M n)^2 — exact to ~1e9 items.

    Scale: one windowed rank over the shared per-conversation frame,
    one (conv, category) groupBy, one conv groupBy, one 1-row
    aggregate. Output one row: (m_items, n_raters, s, sum_c2 longs;
    pbar, pe, kappa doubles — NULL when M = 0 or Pe = 1).
    """
    x = F.col(signal_col).cast("long")
    ord_w = conv_window()
    first_n = (
        df.where(x.isNotNull())
        .withColumn("_rn", F.row_number().over(ord_w))
        .where(F.col("_rn") <= n_raters)
        .select("conv_id", x.alias("_cat"))
    )
    complete = (
        first_n.groupBy("conv_id")
        .agg(F.count("*").alias("_k"))
        .where(F.col("_k") == n_raters)
        .select("conv_id")
    )
    panel = first_n.join(complete, "conv_id")
    per_ic = panel.groupBy("conv_id", "_cat").agg(
        F.count("*").cast("long").alias("_nic")
    )
    per_item = per_ic.groupBy("conv_id").agg(
        F.sum(F.col("_nic") * F.col("_nic")).cast("long").alias("_s_i")
    )
    per_cat = per_ic.groupBy("_cat").agg(F.sum("_nic").cast("long").alias("_cc"))
    s_tot = per_item.agg(
        F.count("*").cast("long").alias("m_items"),
        F.sum("_s_i").cast("long").alias("s"),
    )
    c_tot = per_cat.agg(
        F.sum(F.col("_cc") * F.col("_cc")).cast("long").alias("sum_c2")
    )
    from pyspark.sql.functions import broadcast

    g = s_tot.crossJoin(broadcast(c_tot))
    m = F.col("m_items")
    nr = F.lit(n_raters)
    pbar = (F.col("s") - m * nr).cast("double") / (
        m * nr * (nr - F.lit(1))
    ).cast("double")
    pe = F.col("sum_c2").cast("double") / ((m * nr) * (m * nr)).cast("double")
    kappa = (pbar - pe) / (F.lit(1.0) - pe)
    ok = (m > 0) & (pe != F.lit(1.0))
    return g.select(
        "m_items",
        F.lit(n_raters).cast("long").alias("n_raters"),
        "s",
        "sum_c2",
        F.when(m > 0, pbar).alias("pbar"),
        F.when(m > 0, pe).alias("pe"),
        F.when(ok, kappa).alias("kappa"),
    )


def krippendorff_alpha(
    df: DataFrame,
    signal_col: str = "signal",
    max_raters: int = 5,
) -> DataFrame:
    """Krippendorff's alpha (nominal metric) with conversations as
    units and their first up-to-``max_raters`` scored turns as raters —
    the agreement coefficient that, unlike [[fleiss_kappa]], admits
    UNEQUAL panel sizes (every conversation with >= 2 scored turns
    contributes; Fleiss drops incomplete panels):

        D_o = (1/n) sum_i sum_c n_ic (m_i - n_ic) / (m_i - 1)
        D_e = sum_c n_c (n - n_c) / (n (n - 1))
        alpha = 1 - D_o / D_e

    with m_i the unit's rater count, n = sum m_i, n_c the global
    category marginals.

    Determinism: n_ic, m_i, n_c, n are exact longs; each unit's
    disagreement term is an exact-long numerator over (m_i - 1) — ONE
    division — and the cross-unit reduction is ``exprs.ordered_sums``
    by conv_id (the [[icc_oneway]] convention); D_e is a category-marginal fold
    ordered by category over exact longs. The SQL oracle replays both
    folds bit-for-bit.

    Scale: one windowed rank + two groupBys on the shared conv_id
    exchange; the unit fold state is one struct per unit (audit-scale;
    swap for a compensated sum past ~1e7 units). Output one row:
    (n_units, n_values longs; d_o, d_e, alpha doubles — NULL when
    D_e = 0 or no unit has 2+ raters).
    """
    x = F.col(signal_col).cast("long")
    ord_w = conv_window()
    vals = (
        df.where(x.isNotNull())
        .withColumn("_rn", F.row_number().over(ord_w))
        .where(F.col("_rn") <= max_raters)
        .select("conv_id", x.alias("_cat"))
    )
    per_ic = vals.groupBy("conv_id", "_cat").agg(
        F.count("*").cast("long").alias("_nic")
    )
    per_unit = (
        per_ic.groupBy("conv_id")
        .agg(
            F.sum("_nic").cast("long").alias("_m"),
            F.sum(F.col("_nic") * F.col("_nic")).cast("long").alias("_s2"),
        )
        .where(F.col("_m") >= 2)
    )
    # unit disagreement: sum_c n_ic (m - n_ic) = m^2 - sum_c n_ic^2
    units = per_unit.select(
        "conv_id",
        "_m",
        (
            (F.col("_m") * F.col("_m") - F.col("_s2")).cast("double")
            / (F.col("_m") - F.lit(1)).cast("double")
        ).alias("_d_i"),
    )
    gu = units.agg(
        F.count("*").cast("long").alias("n_units"),
        F.sum("_m").cast("long").alias("_n"),
        *ordered_sums(["conv_id"], _d_o_sum=F.col("_d_i")),
    )
    d_o_sum = F.col("_d_o_sum")
    # category marginals over the SAME filtered panel rows
    marg = (
        vals.join(per_unit.select("conv_id"), "conv_id")
        .groupBy("_cat")
        .agg(F.count("*").cast("long").alias("_nc"))
    )
    gm = marg.agg(
        F.count("*").cast("long").alias("n_values"),
        F.sort_array(F.collect_list(F.struct("_cat", "_nc"))).alias("_ms"),
    )
    from pyspark.sql.functions import broadcast

    g = gu.crossJoin(broadcast(gm))
    nd = F.col("_n").cast("double")
    d_o = d_o_sum / nd
    # kept as a fold: each term reads the panel total _n, known only
    # after the crossJoin
    d_e = F.aggregate(
        F.col("_ms"),
        F.lit(0.0),
        lambda a, e: a
        + (e["_nc"] * (F.col("_n") - e["_nc"])).cast("double")
        / (F.col("_n") * (F.col("_n") - F.lit(1))).cast("double"),
    )
    ok = (F.col("n_units") > 0) & (d_e > 0)
    return g.select(
        "n_units",
        "n_values",
        F.when(F.col("n_units") > 0, d_o).alias("d_o"),
        F.when(F.col("n_units") > 0, d_e).alias("d_e"),
        F.when(ok, F.lit(1.0) - d_o / d_e).alias("alpha"),
    )


def hedges_g(
    df: DataFrame,
    group_col: str = "role",
    group_a: str = "user",
    group_b: str = "assistant",
    value_col: str = "signal",
) -> DataFrame:
    """Two-sample standardized effect size: Cohen's d with the pooled
    SD and Hedges' small-sample correction (Hedges 1981):

        d = (m_a - m_b) / sp,   sp^2 = ((n_a-1)s_a^2 + (n_b-1)s_b^2) / df
        g = J d,                J = 1 - 3 / (4 df - 1),  df = n_a+n_b-2

    The magnitude companion to the existence tests ([[welch_drift]]
    says WHETHER the roles differ, this says HOW MUCH in SD units —
    the number a curation report should quote, since at corpus scale
    everything is 'significant').

    Determinism: per-group (n, S, SS) are exact longs; variances,
    means, sp, d, J, g are fixed chains of single IEEE ops — the SQL
    oracle replays them bit-for-bit.

    Scale: one map-side-combined groupBy (2 rows of state), one 1-row
    pivot. Output one row: (n_a, n_b longs; mean_a, mean_b, sp, d, g
    doubles — NULL when either n < 2 or sp = 0).
    """
    x = F.col(value_col).cast("long")
    per = (
        df.where(x.isNotNull() & F.col(group_col).isin(group_a, group_b))
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum(x).cast("long").alias("_s"),
            F.sum(x * x).cast("long").alias("_ss"),
        )
    )
    g0 = per.groupBy().pivot(group_col, [group_a, group_b]).agg(
        F.first("_n").alias("n"), F.first("_s").alias("s"), F.first("_ss").alias("ss")
    )
    na = F.coalesce(F.col(f"{group_a}_n"), F.lit(0)).cast("long")
    nb = F.coalesce(F.col(f"{group_b}_n"), F.lit(0)).cast("long")
    sa, sb = F.col(f"{group_a}_s"), F.col(f"{group_b}_s")
    ssa, ssb = F.col(f"{group_a}_ss"), F.col(f"{group_b}_ss")
    ma = sa.cast("double") / na.cast("double")
    mb = sb.cast("double") / nb.cast("double")
    var_a = (na * ssa - sa * sa).cast("double") / (na * (na - F.lit(1))).cast(
        "double"
    )
    var_b = (nb * ssb - sb * sb).cast("double") / (nb * (nb - F.lit(1))).cast(
        "double"
    )
    dfree = (na + nb - F.lit(2)).cast("double")
    sp = F.sqrt(
        ((na - F.lit(1)).cast("double") * var_a + (nb - F.lit(1)).cast("double") * var_b)
        / dfree
    )
    d = (ma - mb) / sp
    j = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * dfree - F.lit(1.0))
    ok = (na >= 2) & (nb >= 2) & (sp > 0)
    return g0.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        F.when(na > 0, ma).alias("mean_a"),
        F.when(nb > 0, mb).alias("mean_b"),
        F.when(ok, sp).alias("sp"),
        F.when(ok, d).alias("d"),
        F.when(ok, j * d).alias("g"),
    )


def grubbs_max(
    df: DataFrame,
    group_col: str = "role",
    value_col: str = "signal",
) -> DataFrame:
    """Grubbs' maximum-deviation statistic per group (Grubbs 1950):

        G = max_i |x_i - xbar| / s

    the single-most-extreme-point screen — the per-GROUP outlier
    counterpart to the per-distribution drift tests (a healthy group
    with one wild value trips this before any KS/PSI panel moves).
    Reported with the offending value so the audit can look at it.

    Determinism: the argmax runs on the EXACT INTEGER key |n x - S|
    (ties broken by value asc) over the compacted value histogram, so
    the chosen x* is engine-independent; G = |x* - xbar| / s is then a
    fixed chain over the exact longs (n, S, SS). The SQL oracle
    replays selection and chain bit-for-bit.

    Scale: one (group, value) map-side-combined groupBy; the argmax
    window runs over the compacted histogram (value cardinality), not
    rows. Output: (group string, n long, x_star long, g double — NULL
    when n < 3 or s = 0).
    """
    x = F.col(value_col).cast("long")
    hist = (
        df.where(x.isNotNull())
        .groupBy(F.col(group_col).alias("group"), x.alias("_v"))
        .agg(F.count("*").cast("long").alias("_c"))
    )
    w_g = Window.partitionBy("group")
    lv = hist.select(
        "group",
        "_v",
        "_c",
        F.sum("_c").over(w_g).cast("long").alias("_n"),
        F.sum(F.col("_c") * F.col("_v")).over(w_g).cast("long").alias("_s"),
        F.sum(F.col("_c") * F.col("_v") * F.col("_v"))
        .over(w_g)
        .cast("long")
        .alias("_ss"),
    )
    dev_key = F.abs(F.col("_n") * F.col("_v") - F.col("_s"))
    w_pick = Window.partitionBy("group").orderBy(
        dev_key.desc(), F.asc("_v")
    )
    top = lv.withColumn("_rk", F.row_number().over(w_pick)).where(F.col("_rk") == 1)
    nd = F.col("_n").cast("double")
    xbar = F.col("_s").cast("double") / nd
    s = F.sqrt(
        (F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s")).cast("double")
        / (F.col("_n") * (F.col("_n") - F.lit(1))).cast("double")
    )
    gg = F.abs(F.col("_v").cast("double") - xbar) / s
    ok = (F.col("_n") >= 3) & (s > 0)
    return top.select(
        "group",
        F.col("_n").alias("n"),
        F.col("_v").alias("x_star"),
        F.when(ok, gg).alias("g"),
    )


def cohen_kappa(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Cohen's kappa between the conversation's FIRST and SECOND scored
    turns — the two-rater fixed-panel member of the agreement family
    ([[fleiss_kappa]] = m fixed raters, [[krippendorff_alpha]] =
    variable panels): opening-exchange consistency, read as 'does the
    second turn echo the first's category?':

        kappa = (p_o - p_e) / (1 - p_e)
        p_o = sum_k n_kk / n,  p_e = sum_k row_k col_k / n^2

    Determinism: contingency cells, diagonal, and marginals are exact
    longs; p_e divides the exact marginal-product sum by the DOUBLE
    square of n (no long overflow at any scale); kappa is a fixed
    chain of single IEEE ops. The SQL oracle replays it bit-for-bit.

    Scale: one windowed rank on the shared conv_id exchange, then
    category-cardinality aggregates (<= k^2 cells); the marginal
    product join is k x k. Output one row: (n_items, n_agree longs;
    po, pe, kappa doubles — kappa NULL when p_e = 1 or n = 0).
    """
    x = F.col(signal_col).cast("long")
    ord_w = conv_window()
    fn = (
        df.where(x.isNotNull())
        .withColumn("_rn", F.row_number().over(ord_w))
        .where(F.col("_rn") <= 2)
        .select("conv_id", x.alias("_cat"), "_rn")
    )
    pairs = (
        fn.groupBy("conv_id")
        .agg(
            F.max(F.when(F.col("_rn") == 1, F.col("_cat"))).alias("_a"),
            F.max(F.when(F.col("_rn") == 2, F.col("_cat"))).alias("_b"),
            F.count("*").alias("_k"),
        )
        .where(F.col("_k") == 2)
    )
    cells = pairs.groupBy("_a", "_b").agg(F.count("*").cast("long").alias("_c"))
    row_m = cells.groupBy("_a").agg(F.sum("_c").cast("long").alias("_ra"))
    col_m = cells.groupBy("_b").agg(F.sum("_c").cast("long").alias("_cb"))
    sp = (
        row_m.join(col_m, row_m["_a"] == col_m["_b"])
        .agg(F.sum(F.col("_ra") * F.col("_cb")).cast("long").alias("_s"))
    )
    from pyspark.sql.functions import broadcast

    g = cells.agg(
        F.sum("_c").cast("long").alias("n_items"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_agree"),
    ).crossJoin(broadcast(sp))
    nd = F.col("n_items").cast("double")
    po = F.col("n_agree").cast("double") / nd
    pe = F.col("_s").cast("double") / (nd * nd)
    ok = (F.col("n_items") > 0) & (pe != F.lit(1.0))
    return g.select(
        "n_items",
        "n_agree",
        F.when(F.col("n_items") > 0, po).alias("po"),
        F.when(F.col("n_items") > 0, pe).alias("pe"),
        F.when(ok, (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def theil_u(df: DataFrame, x_col: str = "role", y_col: str = "tool") -> DataFrame:
    """Theil's uncertainty coefficient U(y|x) — the ASYMMETRIC
    categorical-association measure ('how much of y's entropy does
    knowing x remove?'), the directional complement to the symmetric
    [[cramers_v]]:

        U(y|x) = (H(y) - H(y|x)) / H(y)
        H(y)   = -sum_c p_c ln p_c
        H(y|x) = -sum_{x,c} p_xc ln(p_xc / p_x)

    Determinism: all counts are exact longs; each entropy is an
    ``exprs.ordered_sums`` (categories asc for H(y), (x, y) for H(y|x)) of
    per-cell terms that are fixed divide/ln/multiply chains — the SQL
    oracle replays the folds bit-for-bit.

    Scale: one (x, y) map-side-combined groupBy (cell cardinality
    state), two tiny re-aggregates; the total-count scalar rides a
    broadcast crossJoin. Output one row: (n long; h_y, h_y_given_x, u
    doubles — u NULL when H(y) = 0).
    """
    s = df.select(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
    cell = s.groupBy("_x", "_y").agg(F.count("*").cast("long").alias("_c"))
    tot = cell.agg(F.sum("_c").cast("long").alias("_n"))
    from pyspark.sql.functions import broadcast

    ym = cell.groupBy("_y").agg(F.sum("_c").cast("long").alias("_cy")).crossJoin(
        broadcast(tot)
    )
    py = F.col("_cy").cast("double") / F.col("_n").cast("double")
    gy = ym.groupBy("_n").agg(*ordered_sums(["_y"], _hy=py * F.log(py)))
    h_y = -F.col("_hy")
    xm = cell.groupBy("_x").agg(F.sum("_c").cast("long").alias("_cx"))
    jj = cell.join(xm, "_x").crossJoin(broadcast(tot))
    pxy = F.col("_c").cast("double") / F.col("_n").cast("double")
    ratio = F.col("_c").cast("double") / F.col("_cx").cast("double")
    gxy = jj.agg(*ordered_sums(["_x", "_y"], _hyx=pxy * F.log(ratio)))
    h_yx = -F.col("_hyx")
    g = gy.crossJoin(broadcast(gxy))
    ok = h_y > 0
    return g.select(
        F.col("_n").alias("n"),
        h_y.alias("h_y"),
        h_yx.alias("h_y_given_x"),
        F.when(ok, (h_y - h_yx) / h_y).alias("u"),
    )


def gk_lambda(df: DataFrame, x_col: str = "role", y_col: str = "tool") -> DataFrame:
    """Goodman-Kruskal lambda(y|x) — proportional reduction in
    PREDICTION error for the modal-guess rule ('how much better do we
    guess y once we know x?'), the error-rate companion to the
    entropy-based [[theil_u]]:

        lambda = (sum_x max_c n_xc - max_c n_c) / (n - max_c n_c)

    Determinism: every term is an exact long (within-x modal counts,
    the global modal marginal, n); the single division is the only
    float. Bit-replayable trivially.

    Scale: one (x, y) map-side-combined groupBy, two tiny
    re-aggregates. Output one row: (n, sum_modal, modal_marginal
    longs; lam double — NULL when the global mode already explains
    everything, n = max_c n_c).
    """
    s = df.select(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
    cell = s.groupBy("_x", "_y").agg(F.count("*").cast("long").alias("_c"))
    per_x = cell.groupBy("_x").agg(F.max("_c").cast("long").alias("_mx"))
    a = per_x.agg(F.sum("_mx").cast("long").alias("sum_modal"))
    ym = cell.groupBy("_y").agg(F.sum("_c").cast("long").alias("_cy"))
    b = ym.agg(
        F.max("_cy").cast("long").alias("modal_marginal"),
        F.sum("_cy").cast("long").alias("n"),
    )
    from pyspark.sql.functions import broadcast

    g = b.crossJoin(broadcast(a))
    lam = (F.col("sum_modal") - F.col("modal_marginal")).cast("double") / (
        F.col("n") - F.col("modal_marginal")
    ).cast("double")
    return g.select(
        "n",
        "sum_modal",
        "modal_marginal",
        F.when(F.col("n") > F.col("modal_marginal"), lam).alias("lam"),
    )


def _first_k_panel(df: DataFrame, signal_col: str, k: int, name: str) -> DataFrame:
    """The fixed first-k panel: each conversation's first ``k`` scored
    turns in the engine order, kept only for conversations with exactly
    ``k`` of them — (conv_id, _j = position 1..k, ``name`` = the signal
    as long, _m = k)."""
    x = F.col(signal_col).cast("long")
    fn = (
        df.where(x.isNotNull())
        .withColumn("_rn", F.row_number().over(conv_window()))
        .where(F.col("_rn") <= k)
        .select("conv_id", F.col("_rn").alias("_j"), x.alias(name))
    )
    cnt_w = Window.partitionBy("conv_id")
    return fn.withColumn("_m", F.count("*").over(cnt_w)).where(F.col("_m") == k)


def _ranked_panel(df: DataFrame, signal_col: str, k: int):
    """The first-k panel ranked within each judge (conversation):
    ``ranked`` (conv_id, _j, _cat, _r2 = the integer doubled average
    rank 2*lo + c - 1), ``m_df`` (one row, _m = the judge count) and
    ``ties`` (one row, tie_sum = sum over tie groups of t^3 - t)."""
    panel = _first_k_panel(df, signal_col, k, "_cat")
    rank_w = Window.partitionBy("conv_id").orderBy("_cat")
    tie_w = Window.partitionBy("conv_id", "_cat")
    ranked = panel.select(
        "conv_id",
        "_j",
        "_cat",
        (F.lit(2) * F.rank().over(rank_w) + F.count("*").over(tie_w) - F.lit(1))
        .cast("long")
        .alias("_r2"),
    )
    m_df = ranked.groupBy().agg((F.count("*") / F.lit(k)).cast("long").alias("_m"))
    ties = (
        ranked.groupBy("conv_id", "_cat")
        .agg(F.count("*").cast("long").alias("_c"))
        .agg(
            F.sum(F.col("_c") * F.col("_c") * F.col("_c") - F.col("_c"))
            .cast("long")
            .alias("tie_sum")
        )
    )
    return ranked, m_df, ties


def kendall_w(df: DataFrame, signal_col: str = "signal", k: int = 3) -> DataFrame:
    """Kendall's coefficient of concordance W over the fixed first-k
    panels (conversations with exactly ``k`` scored opening turns act
    as judges ranking the k turn POSITIONS by signal) — the
    rank-agreement companion to [[fleiss_kappa]] (categorical) and the
    effect-size view of the Friedman statistic, tie-corrected:

        W = 12 S / (m^2 (k^3 - k) - m sum_i T_i)
        S = sum_j (R_j - m(k+1)/2)^2,  T_i = sum_groups (t^3 - t)

    Determinism: within-judge average ranks ride the INTEGER doubled
    rank 2*lo + c - 1 (lo = min rank of the tie group, c its size), so
    column sums R2_j = 2 R_j, S = sum_j (R2_j - m(k+1))^2 / 4 and
    W = 3 * S_num / (m^2(k^3-k) - m*T) is ONE division over exact
    longs. Bit-replayable.

    Scale: one windowed rank on the shared conv_id exchange, then
    k-row / tie-group-cardinality aggregates. Output one row:
    (m, k, s_num, tie_sum longs; w double — NULL when the denominator
    is 0, i.e. every judge ties everything).
    """
    ranked, m_df, ties = _ranked_panel(df, signal_col, k)
    cols = ranked.groupBy("_j").agg(F.sum("_r2").cast("long").alias("_R2"))
    from pyspark.sql.functions import broadcast

    cb = cols.crossJoin(broadcast(m_df))
    dev = F.col("_R2") - F.col("_m") * F.lit(k + 1)
    s_num = cb.agg(F.sum(dev * dev).cast("long").alias("s_num"))
    g = m_df.crossJoin(broadcast(s_num)).crossJoin(broadcast(ties))
    denom = F.col("_m") * F.col("_m") * F.lit(k * k * k - k) - F.col("_m") * F.col(
        "tie_sum"
    )
    w = F.lit(3.0) * F.col("s_num").cast("double") / denom.cast("double")
    return g.select(
        F.col("_m").alias("m"),
        F.lit(k).cast("long").alias("k"),
        "s_num",
        "tie_sum",
        F.when((F.col("_m") > 0) & (denom > 0), w).alias("w"),
    )


def cronbach_alpha(df: DataFrame, signal_col: str = "signal", k: int = 3) -> DataFrame:
    """Cronbach's alpha over the fixed first-k panels (turn positions
    as the k 'items', conversations with exactly ``k`` scored opening
    turns as cases) — the internal-consistency coefficient beside the
    agreement family ([[fleiss_kappa]], [[kendall_w]]): do the opening
    turns measure one underlying conversation-level trait?

        alpha = k/(k-1) * (1 - sum_j var_j / var_T)

    with sample variances of each item column and of the per-case
    total score.

    Determinism: per-item and total-score moments (n, S, SS) are exact
    longs; each variance is ONE division of exact-integer numerator
    over denominator; the item-variance sum is ``exprs.ordered_sums``
    by item index. Bit-replayable.

    Scale: one windowed rank, one k-row aggregate, one per-conv total
    aggregate on the same exchange. Output one row: (m, k longs;
    sum_item_var, var_total, alpha doubles — NULL when var_T = 0 or
    m < 2).
    """
    panel = _first_k_panel(df, signal_col, k, "_x")
    items = panel.groupBy("_j").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_s"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_ss"),
    )
    var_j = (F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s")).cast(
        "double"
    ) / (F.col("_n") * (F.col("_n") - F.lit(1))).cast("double")
    gi = items.agg(*ordered_sums(["_j"], _v=var_j))
    sum_var = F.col("_v")
    tot = panel.groupBy("conv_id").agg(F.sum("_x").cast("long").alias("_t"))
    gt = tot.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("_t").cast("long").alias("_st"),
        F.sum(F.col("_t") * F.col("_t")).cast("long").alias("_sst"),
    )
    from pyspark.sql.functions import broadcast

    g = gt.crossJoin(broadcast(gi))
    var_t = (F.col("m") * F.col("_sst") - F.col("_st") * F.col("_st")).cast(
        "double"
    ) / (F.col("m") * (F.col("m") - F.lit(1))).cast("double")
    ok = (F.col("m") >= 2) & (var_t > 0)
    alpha = (
        F.lit(float(k) / float(k - 1)) * (F.lit(1.0) - sum_var / var_t)
    )
    return g.select(
        "m",
        F.lit(k).cast("long").alias("k"),
        F.when(F.col("m") >= 2, sum_var).alias("sum_item_var"),
        F.when(F.col("m") >= 2, var_t).alias("var_total"),
        F.when(ok, alpha).alias("alpha"),
    )


def mood_median(
    df: DataFrame, group_col: str = "role", value_col: str = "signal"
) -> DataFrame:
    """Mood's median test across groups: split every observation at
    the GRAND lower median, then chi-square the groups x {above, <=}
    contingency table — the coarse-but-robust location screen beside
    the rank-based [[kruskal_wallis]] (it only looks at which side of
    the pooled median each group sits on):

        chi2 = sum_cells (O - E)^2 / E,  E = row_tot * col_tot / n

    Determinism: the grand median is picked by INTEGER rank
    (smallest value whose cumulative count reaches floor((n+1)/2)) on
    the compacted value histogram; cell counts are exact longs; each
    group's term is a fixed chain and the reduction is
    ``exprs.ordered_sums`` by group. Bit-replayable.

    Scale: one (group, value) map-side-combined groupBy; the median
    scalar broadcasts back; the chi-square runs over group
    cardinality. Output one row: (n, median, n_groups longs; chi2
    double — NULL when either margin is empty or < 2 groups).
    """
    x = F.col(value_col).cast("long")
    hist = (
        df.where(x.isNotNull())
        .groupBy(F.col(group_col).alias("_g"), x.alias("_v"))
        .agg(F.count("*").cast("long").alias("_c"))
    )
    gl = hist.groupBy("_v").agg(F.sum("_c").cast("long").alias("_gc"))
    med = running_counts(gl, [], "_v", "_gc").agg(
        value_at_rank("_v", F.floor((F.col("_n") + F.lit(1)) / F.lit(2))).alias("_med"),
        F.max("_n").alias("_n"),
    )
    from pyspark.sql.functions import broadcast

    hb = hist.crossJoin(broadcast(med))
    per_g = hb.groupBy("_g").agg(
        F.sum(F.when(F.col("_v") > F.col("_med"), F.col("_c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_a"),
        F.sum(F.when(F.col("_v") <= F.col("_med"), F.col("_c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_l"),
        F.max("_med").alias("_med"),
        F.max("_n").cast("long").alias("_n"),
    )
    # group-count totals ride full-frame windows over the tiny per-group
    # table (avoids a self-crossJoin and its ambiguous-attribute trap)
    w_g = Window.orderBy("_g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pg = per_g.select(
        "_g",
        "_a",
        "_l",
        "_med",
        "_n",
        F.sum("_a").over(w_g).cast("long").alias("_ta"),
        F.sum("_l").over(w_g).cast("long").alias("_tl"),
        F.count("*").over(w_g).cast("long").alias("n_groups"),
    )
    nd = F.col("_n").cast("double")
    ng = (F.col("_a") + F.col("_l")).cast("double")
    ea = ng * F.col("_ta").cast("double") / nd
    el = ng * F.col("_tl").cast("double") / nd
    term = (F.col("_a").cast("double") - ea) * (
        F.col("_a").cast("double") - ea
    ) / ea + (F.col("_l").cast("double") - el) * (
        F.col("_l").cast("double") - el
    ) / el
    g = pg.groupBy("_n", "_med", "n_groups", "_ta", "_tl").agg(
        *ordered_sums(["_g"], _t=term)
    )
    chi2 = F.col("_t")
    ok = (F.col("_ta") > 0) & (F.col("_tl") > 0) & (F.col("n_groups") >= 2)
    return g.select(
        F.col("_n").alias("n"),
        F.col("_med").alias("median"),
        "n_groups",
        F.when(ok, chi2).alias("chi2"),
    )


def benford_test(df: DataFrame, value_col: str = "n_chars") -> DataFrame:
    """Benford first-digit screen over a positive count column — the
    fabrication/corruption smoke alarm for ingested metadata (organic
    size-like quantities follow log-uniform leading digits; synthetic
    or truncated feeds don't):

        chi2 = sum_d (O_d - n p_d)^2 / (n p_d),   p_d = log10(1 + 1/d)
        mad  = (1/9) sum_d | O_d / n - p_d |

    Determinism: digit counts are exact longs over the leading
    character of the decimal rendering (both engines print integers
    identically); the nine Benford probabilities enter BOTH the engine
    and the oracle as the same repr'd literals, so every term is a
    fixed chain and the reduction is ``exprs.ordered_sums`` by digit.
    Bit-replayable.

    Scale: one 9-bucket map-side-combined groupBy, dense 9-row grid.
    Output one row: (n long; chi2, mad doubles — NULL when n = 0).
    """
    import math

    v = F.col(value_col).cast("long")
    digit = F.substring(v.cast("string"), 1, 1).cast("long")
    cnt = (
        df.where(v.isNotNull() & (v > 0))
        .groupBy(digit.alias("_d"))
        .agg(F.count("*").cast("long").alias("_c"))
    )
    spark_sess = df.sparkSession
    grid = spark_sess.range(1, 10).select(F.col("id").alias("_d"))
    probs = {d: float(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}
    expr = None
    for d in range(1, 10):
        lit = F.lit(probs[d])
        expr = F.when(F.col("_d") == d, lit) if expr is None else expr.when(
            F.col("_d") == d, lit
        )
    dense = grid.join(cnt, "_d", "left").select(
        "_d",
        F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("_c0"),
        expr.alias("_p"),
    )
    w_all = Window.orderBy("_d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dn = dense.withColumn("_n", F.sum("_c0").over(w_all).cast("long"))
    nd = F.col("_n").cast("double")
    e = nd * F.col("_p")
    term = (F.col("_c0").cast("double") - e) * (F.col("_c0").cast("double") - e) / e
    dev = F.abs(F.col("_c0").cast("double") / nd - F.col("_p"))
    g = dn.groupBy("_n").agg(*ordered_sums(["_d"], _t=term, _a=dev))
    chi2 = F.col("_t")
    mad = F.col("_a") / F.lit(9.0)
    return g.select(
        F.col("_n").alias("n"),
        F.when(F.col("_n") > 0, chi2).alias("chi2"),
        F.when(F.col("_n") > 0, mad).alias("mad"),
    )


def acf_profile(df: DataFrame, signal_col: str = "signal", max_lag: int = 3) -> DataFrame:
    """Pooled autocorrelation profile at lags 1..``max_lag``: Pearson r
    of the within-conversation (x_t, x_{t+l}) pairs pooled across the
    corpus — the lag-structure report beside [[ljung_box]] (which
    tests the profile's joint significance; this op SHOWS the profile,
    which is what a curation dashboard plots):

        r_l = (n S_xy - S_x S_y) / sqrt((n S_xx - S_x^2)(n S_yy - S_y^2))

    Determinism: per-lag pair moments are exact longs (pairs never
    cross conversations — lead() is per-conv); r_l is a fixed chain.
    Bit-replayable.

    Scale: one window pass on the shared conv_id exchange produces all
    lags; one groupBy on the tiny lag key. Output: (lag long, n_pairs
    long, r double — NULL when either variance is 0), one row per lag,
    ascending.
    """
    x = F.col(signal_col).cast("long")
    w = conv_window()
    base = df.where(x.isNotNull()).select("conv_id", "ts", "turn_idx", x.alias("_x"))
    lags = None
    for lag in range(1, int(max_lag) + 1):
        part = base.select(
            F.lit(lag).cast("long").alias("lag"),
            F.col("_x"),
            F.lead("_x", lag).over(w).alias("_y"),
        ).where(F.col("_y").isNotNull())
        lags = part if lags is None else lags.unionByName(part)
    g = lags.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
    )
    n = F.col("n_pairs")
    cov_n = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    vx_n = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vy_n = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    ok = (vx_n > 0) & (vy_n > 0)
    return g.select(
        "lag",
        "n_pairs",
        F.when(ok, cov_n / F.sqrt(vx_n * vy_n)).alias("r"),
    )


def lin_ccc(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Lin's concordance correlation coefficient between consecutive
    within-conversation signals (x = turn t, y = turn t+1) — the
    agreement-WITH-identity companion to the plain lag-1 [[acf_profile]]
    Pearson r (r rewards any linear relation; CCC also charges scale
    and location shifts, which is what 'does the next turn reproduce
    the last turn's measure' actually asks):

        CCC = 2 s_xy / (s_x^2 + s_y^2 + (mean_x - mean_y)^2)

    with population moments s_xy = (n S_xy - S_x S_y)/n^2 etc.

    Determinism: pair moments are exact longs; CCC and the
    accompanying Pearson r are fixed chains. Bit-replayable.

    Scale: one window pass + one 1-row aggregate. Output one row:
    (n_pairs long; mean_x, mean_y, r, ccc doubles — NULL when a
    variance is 0).
    """
    x = F.col(signal_col).cast("long")
    w = conv_window()
    pairs = (
        df.where(x.isNotNull())
        .select("conv_id", "ts", "turn_idx", x.alias("_x"))
        .select(F.col("_x"), F.lead("_x", 1).over(w).alias("_y"))
        .where(F.col("_y").isNotNull())
    )
    g = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
    )
    n = F.col("n_pairs")
    nd = n.cast("double")
    mx = F.col("_sx").cast("double") / nd
    my = F.col("_sy").cast("double") / nd
    sxy = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double") / (nd * nd)
    sx2 = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double") / (nd * nd)
    sy2 = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double") / (nd * nd)
    ok = (sx2 > 0) & (sy2 > 0)
    r = sxy / F.sqrt(sx2 * sy2)
    ccc = F.lit(2.0) * sxy / (sx2 + sy2 + (mx - my) * (mx - my))
    return g.select(
        "n_pairs",
        F.when(n > 0, mx).alias("mean_x"),
        F.when(n > 0, my).alias("mean_y"),
        F.when(ok, r).alias("r"),
        F.when(ok, ccc).alias("ccc"),
    )


def page_trend(df: DataFrame, signal_col: str = "signal", k: int = 3) -> DataFrame:
    """Page's L trend test over the fixed first-k panels (same panel
    convention as [[fleiss_kappa]] / [[kendall_w]]): do signals rise
    monotonically across the opening turn POSITIONS, judged by every
    conversation's within-panel ranks?

        L = sum_j j R_j,   E[L] = m k (k+1)^2 / 4
        z = (L - E[L]) / sqrt(m k^2 (k+1)(k^2 - 1) / 144)   (no ties)

    Determinism: ranks ride the integer doubled rank (see
    [[kendall_w]]), so L2 = 2L, E2 = 2E[L] are exact longs and L, E,
    z are fixed chains. The no-tie z is reported only when tie_sum = 0
    (the tie-corrected null variance is panel-specific; L and E remain
    exact and comparable either way). Bit-replayable.

    Scale: one windowed rank + k-row aggregates. Output one row:
    (m, k, l2, tie_sum longs; l_stat, e_l doubles; z double — NULL
    when ties exist or m = 0).
    """
    ranked, m_df, ties = _ranked_panel(df, signal_col, k)
    l2 = ranked.agg(
        F.sum(F.col("_j").cast("long") * F.col("_r2")).cast("long").alias("l2")
    )
    from pyspark.sql.functions import broadcast

    g = m_df.crossJoin(broadcast(l2)).crossJoin(broadcast(ties))
    md = F.col("_m").cast("double")
    l_stat = F.col("l2").cast("double") / F.lit(2.0)
    e_l = md * F.lit(float(k * (k + 1) * (k + 1))) / F.lit(4.0)
    var_l = md * F.lit(float(k * k * (k + 1) * (k * k - 1))) / F.lit(144.0)
    ok = (F.col("_m") > 0) & (F.col("tie_sum") == 0) & (var_l > 0)
    return g.select(
        F.col("_m").alias("m"),
        F.lit(k).cast("long").alias("k"),
        "l2",
        "tie_sum",
        F.when(F.col("_m") > 0, l_stat).alias("l_stat"),
        F.when(F.col("_m") > 0, e_l).alias("e_l"),
        F.when(ok, (l_stat - e_l) / F.sqrt(var_l)).alias("z"),
    )


def bland_altman(
    df: DataFrame,
    signal_col: str = "signal",
    role_a: str = "user",
    role_b: str = "assistant",
) -> DataFrame:
    """Bland-Altman limits of agreement between each user turn's signal
    and the IMMEDIATELY following assistant turn's — the paired
    agreement report beside the unpaired [[hedges_g]] ('do replies
    track prompts turn-for-turn, and inside what band?'):

        d_i = y_i - x_i;  LoA = mean_d +/- 1.96 sd_d

    Determinism: adjacent pairs come from the stable (ts, turn_idx)
    order; diff moments are exact longs; mean/sd/LoA are fixed chains
    with the conventional 1.96 as a shared literal. Bit-replayable.

    Scale: one window pass + one 1-row aggregate. Output one row:
    (n_pairs long; mean_diff, sd_diff, loa_low, loa_high doubles —
    NULL when n < 2).
    """
    x = F.col(signal_col).cast("long")
    w = conv_window()
    seq = df.select(
        "conv_id",
        "ts",
        "turn_idx",
        F.col("role"),
        x.alias("_x"),
        F.lead("role", 1).over(w).alias("_nr"),
        F.lead(x, 1).over(w).alias("_y"),
    )
    pairs = seq.where(
        (F.col("role") == role_a)
        & (F.col("_nr") == role_b)
        & F.col("_x").isNotNull()
        & F.col("_y").isNotNull()
    ).select((F.col("_y") - F.col("_x")).cast("long").alias("_d"))
    g = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("_d").cast("long").alias("_sd"),
        F.sum(F.col("_d") * F.col("_d")).cast("long").alias("_sdd"),
    )
    n = F.col("n_pairs")
    nd = n.cast("double")
    mean_d = F.col("_sd").cast("double") / nd
    sd = F.sqrt(
        (n * F.col("_sdd") - F.col("_sd") * F.col("_sd")).cast("double")
        / (n * (n - F.lit(1))).cast("double")
    )
    ok = n >= 2
    return g.select(
        "n_pairs",
        F.when(n > 0, mean_d).alias("mean_diff"),
        F.when(ok, sd).alias("sd_diff"),
        F.when(ok, mean_d - F.lit(1.96) * sd).alias("loa_low"),
        F.when(ok, mean_d + F.lit(1.96) * sd).alias("loa_high"),
    )


def kuiper_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Two-sample Kuiper statistic per group between the pre-cutoff
    reference window and the at/after-cutoff monitoring window:

        V = D+ + D-  with  D+ = sup_v (F_ref - F_cur),
                           D- = sup_v (F_cur - F_ref)

    — the cyclic-shift-invariant cousin of [[ks_drift]]: KS sees only
    the single largest ECDF gap, Kuiper adds the largest gap in EACH
    direction, so a shift that moves mass symmetrically out of the
    middle (median-preserving variance drift) registers where KS
    half-cancels. Same compaction shape as ks_drift.

    Determinism: exact integer ECDF counts on the compacted (group,
    value) frame; per-cell terms are single IEEE ops (two divisions,
    one subtraction), the sups are order-free maxes, and V is one
    final addition. Both sups are >= 0 by construction (the ECDF gap
    is 0 at the largest value). Bit-replayable.

    NULL signals are excluded. Groups with an empty window get NULLs.
    Output: (group_col, n_ref long, n_cur long, d_plus, d_minus,
    v doubles).
    """
    x = F.col(signal_col).cast("double")
    cum = two_class_ecdf(df.where(x.isNotNull()), x, _is_ref(split_ts), [group_col])
    ok = (F.col("_na") > 0) & (F.col("_nb") > 0)
    gap = _ecdf_gap()
    agg = cum.groupBy(group_col).agg(
        F.max("_na").cast("long").alias("n_ref"),
        F.max("_nb").cast("long").alias("n_cur"),
        F.max(F.when(ok, gap)).alias("_dp"),
        F.max(F.when(ok, -gap)).alias("_dm"),
    )
    dp = F.greatest(F.col("_dp"), F.lit(0.0))
    dm = F.greatest(F.col("_dm"), F.lit(0.0))
    return agg.select(
        group_col,
        "n_ref",
        "n_cur",
        F.when(F.col("_dp").isNotNull(), dp).alias("d_plus"),
        F.when(F.col("_dm").isNotNull(), dm).alias("d_minus"),
        F.when(F.col("_dp").isNotNull(), dp + dm).alias("v"),
    )


def cvm_drift(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Two-sample Cramér-von Mises criterion per group between the
    pre-cutoff and post-cutoff windows, in Anderson's tie-friendly
    ECDF-integral form (summing over the COMBINED sample):

        T = (n m / (n+m)^2) * sum_v w_v (F_ref(v) - F_cur(v))^2

    with w_v = combined count at v — the L2 complement to the sup-norm
    pair [[ks_drift]] / [[kuiper_drift]]: KS fires on one large gap,
    CvM integrates many small ones, so slow whole-distribution creep
    that never opens a single big gap still scores.

    Determinism: exact integer counts on the compacted (group, value)
    frame; the squared-gap terms are fixed chains, summed by
    ``exprs.ordered_sums`` (value asc) so the oracle replays the identical IEEE
    sequence; the leading factor is one fixed double chain (n*m can
    pass 2^63 at corpus scale, so it multiplies in double space
    deliberately). NULL signals excluded; empty windows -> NULL.

    Scale: the fold state is the per-group distinct-value list —
    bounded by value cardinality, never the turn count. Output:
    (group_col, n_ref long, n_cur long, t double).
    """
    x = F.col(signal_col).cast("double")
    cum = two_class_ecdf(df.where(x.isNotNull()), x, _is_ref(split_ts), [group_col])
    gap = _ecdf_gap()
    ok = (F.col("_na") > 0) & (F.col("_nb") > 0)
    term = F.when(ok, (F.col("_a") + F.col("_b")).cast("double") * gap * gap)
    per = cum.groupBy(group_col).agg(
        F.max("_na").cast("long").alias("n_ref"),
        F.max("_nb").cast("long").alias("n_cur"),
        *ordered_sums(["_val"], _t=term),
    )
    s = F.col("_t")
    nr = F.col("n_ref").cast("double")
    nc = F.col("n_cur").cast("double")
    t = nr * nc / ((nr + nc) * (nr + nc)) * s
    return per.select(
        group_col,
        "n_ref",
        "n_cur",
        F.when((F.col("n_ref") > 0) & (F.col("n_cur") > 0), t).alias("t"),
    )


def hist_distance(
    df: DataFrame,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Per-group distribution distances from the pooled corpus over the
    exact value histogram: total variation, Bhattacharyya coefficient,
    and Hellinger distance —

        TVD = (1/2) sum_v |p_v - q_v|
        BC  = sum_v sqrt(p_v * q_v)
        H   = sqrt(max(0, 1 - BC))

    the bounded-metric companions to the unbounded [[q_source_kl]]
    divergence (KL explodes on support mismatch; TVD and Hellinger
    stay in [0,1] — the numbers a mix-rebalancing loop can threshold).

    Determinism: counts are exact longs; per-value terms are fixed
    chains summed by ``exprs.ordered_sums`` by value; BC's 1-BC is clamped at 0
    before the final sqrt (float residue can land at -1ulp when the
    distributions coincide). Bit-replayable.

    Scale: one (group, value) groupBy; the pooled histogram is derived
    from the same compacted frame (value-cardinality-sized, broadcast
    back) — the corpus-sized table is read once. NULL signals
    excluded; empty groups never emit. Output: (group_col, n long,
    tvd, bc, hellinger doubles).
    """
    x = F.col(signal_col).cast("double")
    cells = (
        df.where(x.isNotNull())
        .groupBy(F.col(group_col), x.alias("_val"))
        .agg(F.count("*").cast("long").alias("_n"))
    )
    pooled = cells.groupBy("_val").agg(F.sum("_n").cast("long").alias("_m"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pooled_n = pooled.withColumn("_nn", F.sum("_m").over(w_all).cast("long"))
    w_grp = Window.partitionBy(group_col)
    g = cells.withColumn("_ng", F.sum("_n").over(w_grp).cast("long"))
    # equi-join covers the values the group HAS; pooled-support values
    # the group never saw (q_v > 0, p_v = 0) contribute |0 - q| = q to
    # TVD and 0 to BC, reconstructed arithmetically below as the
    # missing q mass 1 - sum_seen q — no per-group dense grid needed
    j = g.join(F.broadcast(pooled_n), "_val")
    p = F.col("_n").cast("double") / F.col("_ng").cast("double")
    q = F.col("_m").cast("double") / F.col("_nn").cast("double")
    tvd_term = F.abs(p - q)
    bc_term = F.sqrt(p * q)
    per = j.groupBy(group_col).agg(
        F.max("_ng").cast("long").alias("n"),
        *ordered_sums(["_val"], _tv=tvd_term, _bc=bc_term, _q=q),
    )
    tvd_seen, bc, q_cov = F.col("_tv"), F.col("_bc"), F.col("_q")
    tvd = (tvd_seen + (F.lit(1.0) - q_cov)) / F.lit(2.0)
    hel = F.sqrt(F.greatest(F.lit(1.0) - bc, F.lit(0.0)))
    return per.select(
        group_col,
        "n",
        tvd.alias("tvd"),
        bc.alias("bc"),
        hel.alias("hellinger"),
    )


def ansari_bradley(
    df: DataFrame,
    split_ts: str,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Two-sample Ansari-Bradley dispersion test per group between the
    pre/post cutoff windows — the rank test for SCALE shift (are the
    tails widening?) beside the location tests ([[q_mw_drift]],
    [[q_mood_median]]) and the moment-based [[q_bartlett]] /
    brown_forsythe (which need near-normality; AB does not):

        AB = sum over reference-sample ranks r of min(r, N+1-r)

    with midrank tie handling on the compacted value axis: the ranks a
    tied value occupies form one contiguous block [a..b], and the
    block's score SUM has the closed form (h = floor((N+1)/2))

        2T(a,b) = [lo(lo+1) - (a-1)a]                      (r <= h)
                + [2(N+1)(b-q+1) - (b(b+1) - (q-1)q)]      (r  > h)

    (lo = min(b, h), q = max(a, h+1)), so per-value average scores
    need NO per-rank enumeration — the op never materializes N rows.
    The tie-corrected normal approximation uses the exact score
    moments: mu = m sum(a_j)/N, Var = mn[N sum(a_j^2) - (sum a_j)^2]
    / (N^2 (N-1)).

    Determinism: block boundaries and 2T ride DECIMAL(38,0) (rank
    products pass 2^63 at N ~ 3e9); AB and the moments are
    ``exprs.ordered_sums`` of fixed double chains by value. Bit-replayable.

    Output: (group_col, n_ref long, n_cur long, ab, z doubles —
    NULL when a window is empty or the variance degenerates).
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    x = F.col(signal_col).cast("double")
    cum = two_class_ecdf(df.where(x.isNotNull()), x, _is_ref(split_ts), [group_col])
    n_tot = F.col("_na") + F.col("_nb")
    w = F.col("_a") + F.col("_b")
    b = F.col("_ca") + F.col("_cb")  # the tie block holds the pooled ranks [a..b]
    a = b - w + 1
    h = F.floor((n_tot + 1) / 2).cast("long")
    lo = F.least(b, h)
    q = F.greatest(a, h + 1)
    p1 = F.when(
        a <= lo, d19(lo) * d19(lo + 1) - d19(a - 1) * d19(a)
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    p2 = F.when(
        q <= b,
        F.lit(2) * d19(n_tot + 1) * d19(b - q + 1)
        - (d19(b) * d19(b + 1) - d19(q - 1) * d19(q)),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    t2 = (p1 + p2).cast("decimal(38,0)")  # = 2 * sum of scores in block
    td = t2.cast("double") / F.lit(2.0)
    wd = w.cast("double")
    per = cum.groupBy(group_col).agg(
        F.max("_na").alias("m"),
        F.max("_nb").alias("nc"),
        F.max(n_tot).alias("nn"),
        *ordered_sums(
            ["_val"],
            _ab=F.col("_a").cast("double") * (td / wd),
            _sa=td,
            _sa2=(td / wd) * (td / wd) * wd,
        ),
    )
    ab, sa, sa2 = F.col("_ab"), F.col("_sa"), F.col("_sa2")
    md = F.col("m").cast("double")
    ncd = F.col("nc").cast("double")
    nd = F.col("nn").cast("double")
    mu = md * sa / nd
    var = md * ncd * (nd * sa2 - sa * sa) / (nd * nd * (nd - F.lit(1.0)))
    ok = (F.col("m") > 0) & (F.col("nc") > 0)
    return per.select(
        group_col,
        F.col("m").cast("long").alias("n_ref"),
        F.col("nc").cast("long").alias("n_cur"),
        F.when(ok, ab).alias("ab"),
        F.when(ok & (var > 0), (ab - mu) / F.sqrt(var)).alias("z"),
    )


def jonckheere(
    df: DataFrame,
    signal_col: str = "signal",
) -> DataFrame:
    """Jonckheere-Terpstra trend test across time-ORDERED groups (the
    calendar weeks of the corpus): is the signal stochastically
    increasing week over week? The ordered-alternative sharpening of
    [[q_kruskal]] (which only asks 'any difference?'; JT asks
    'monotone difference?' and pays for the stronger question with
    more power when the order is real):

        JT = sum_{i<j} U_ij,
        U_ij = #{x in G_i, y in G_j : x < y} + (1/2) #ties

    computed on the dense (group x distinct-value) grid — exclusive
    cumulative counts make each U_ij a value-ordered fold; the
    half-tie term keeps 2*JT an exact integer.

    Determinism: 2*U products ride DECIMAL(38,0) (n_i n_j passes
    2^63 at corpus scale); the reported jt, its exchangeability mean
    E = (1/2) sum n_i n_j, and the [-1,1] normalization
    (JT - E)/(max - E) are fixed double chains. NULL normalization
    when fewer than 2 non-empty groups. Bit-replayable.

    Scale: the grid is |weeks| x |values| — calendar x cardinality
    bounded; the corpus-sized table is touched once by the counting
    groupBy. Output one row: (k long, n long, jt, jt_mean, jt_norm
    doubles).
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    x = F.col(signal_col).cast("double")
    cells = (
        df.where(x.isNotNull())
        .groupBy(
            F.date_trunc("week", F.col("ts")).alias("_g"), x.alias("_val")
        )
        .agg(F.count("*").cast("long").alias("_n"))
    )
    groups = cells.select("_g").distinct()
    vals = cells.select("_val").distinct()
    dense = groups.crossJoin(vals).join(
        cells, ["_g", "_val"], "left"
    ).select(
        "_g", "_val", F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("_n")
    )
    w_ex = (
        Window.partitionBy("_g")
        .orderBy("_val")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("_g")
    cgrid = dense.select(
        "_g",
        "_val",
        "_n",
        F.coalesce(F.sum("_n").over(w_ex), F.lit(0)).cast("long").alias("_cex"),
        F.sum("_n").over(w_all).cast("long").alias("_ng"),
    )
    a = cgrid.select(
        F.col("_g").alias("_gi"),
        F.col("_val"),
        F.col("_n").alias("_ni"),
        F.col("_cex").alias("_cexi"),
    )
    b = cgrid.select(
        F.col("_g").alias("_gj"),
        F.col("_val"),
        F.col("_n").alias("_nj"),
    )
    pairs = a.join(b, "_val").where(F.col("_gi") < F.col("_gj"))
    # 2*U contribution at value v: 2 c_j Cex_i + c_j c_i (exact)
    u2 = (
        F.lit(2) * d19(F.col("_nj")) * d19(F.col("_cexi"))
        + d19(F.col("_nj")) * d19(F.col("_ni"))
    ).cast("decimal(38,0)")
    tot = pairs.agg(F.sum(u2).alias("_jt2"))
    # group sizes and pair-size sum from the per-group frame
    sizes = cgrid.groupBy("_g").agg(F.max("_ng").cast("long").alias("_ngs"))
    s1 = sizes.agg(
        F.count(F.when(F.col("_ngs") > 0, 1)).cast("long").alias("k"),
        F.sum("_ngs").cast("long").alias("n"),
        F.sum(d19(F.col("_ngs"))).alias("_sn"),
        F.sum(d19(F.col("_ngs")) * d19(F.col("_ngs"))).alias("_sn2"),
    )
    g = s1.crossJoin(F.broadcast(tot))
    # sum_{i<j} n_i n_j = ((sum n)^2 - sum n^2) / 2, exact decimals
    pair2 = F.col("_sn") * F.col("_sn") - F.col("_sn2")  # = 2 * sum ninj
    jt = F.col("_jt2").cast("double") / F.lit(2.0)
    mean = pair2.cast("double") / F.lit(4.0)
    halfmax = pair2.cast("double") / F.lit(4.0)  # max - mean = mean
    return g.select(
        "k",
        "n",
        F.when(F.col("k") >= 2, jt).alias("jt"),
        F.when(F.col("k") >= 2, mean).alias("jt_mean"),
        F.when((F.col("k") >= 2) & (halfmax > 0), (jt - mean) / halfmax).alias(
            "jt_norm"
        ),
    )


def durbin_watson(df: DataFrame, bucket: str = "hour") -> DataFrame:
    """Durbin-Watson first-order autocorrelation statistic of the
    residuals from the exact OLS line fit to the per-``bucket``
    turn-count series —

        DW = sum_{t>=1} (e_t - e_{t-1})^2 / sum_t e_t^2

    with e_t = c_t - (intercept + slope * t). DW near 2 means white
    residuals; near 0, positive serial correlation the line missed
    (the 'is a linear trend model enough?' check beside the robust
    [[q_theil_sen]] slope and the [[q_mann_kendall]] trend test).

    Determinism: the OLS fit is a fixed chain on EXACT integer sums
    (sum t, sum t^2, sum c, sum t c ride DECIMAL(38,0) — t^2 passes
    2^63 at ~9 years of seconds-resolution buckets, counts at 10^12
    turns); both quadratic forms are ``exprs.ordered_sums`` in t order.
    NULL when n < 3 or the residuals are identically 0. Bit-replayable.

    Scale: calendar-bounded series (see spectral_profile). Output one
    row: (n long, slope, intercept, dw doubles).
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    h = df.groupBy(F.date_trunc(bucket, F.col("ts")).alias("_h")).agg(
        F.count("*").cast("long").alias("_c")
    )
    w_ord = Window.orderBy("_h")
    ser = h.select(
        (F.row_number().over(w_ord).cast("long") - 1).alias("_t"), "_c"
    )
    g = ser.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d19(F.col("_t"))).alias("_st"),
        F.sum(d19(F.col("_t")) * d19(F.col("_t"))).alias("_stt"),
        F.sum(d19(F.col("_c"))).alias("_sc"),
        F.sum(d19(F.col("_t")) * d19(F.col("_c"))).alias("_stc"),
    )
    nd = F.col("n").cast("double")
    st = F.col("_st").cast("double")
    stt = F.col("_stt").cast("double")
    sc = F.col("_sc").cast("double")
    stc = F.col("_stc").cast("double")
    den = nd * stt - st * st
    slope = (nd * stc - st * sc) / den
    intercept = (sc - slope * st) / nd
    fit = g.select("n", slope.alias("slope"), intercept.alias("intercept"))
    w_t = Window.orderBy("_t")
    led = ser.select(
        "_t", "_c", F.lag("_c", 1).over(w_t).alias("_cp"),
        F.lag("_t", 1).over(w_t).alias("_tp"),
    )
    withfit = led.crossJoin(F.broadcast(fit))
    e = F.col("_c").cast("double") - (
        F.col("intercept") + F.col("slope") * F.col("_t").cast("double")
    )
    ep = F.col("_cp").cast("double") - (
        F.col("intercept") + F.col("slope") * F.col("_tp").cast("double")
    )
    per = withfit.groupBy("n", "slope", "intercept").agg(
        *ordered_sums(
            ["_t"],
            _e2=e * e,
            _d2=F.when(F.col("_cp").isNotNull(), (e - ep) * (e - ep)).otherwise(F.lit(0.0)),
        )
    )
    se2, sd2 = F.col("_e2"), F.col("_d2")
    ok = (F.col("n") >= 3) & (se2 > 0)
    return per.select(
        "n",
        F.when(F.col("n") >= 2, F.col("slope")).alias("slope"),
        F.when(F.col("n") >= 2, F.col("intercept")).alias("intercept"),
        F.when(ok, sd2 / se2).alias("dw"),
    )


def cusum_squares(df: DataFrame, bucket: str = "hour") -> DataFrame:
    """CUSUM-of-squares variance-stability screen (Brown-Durbin-Evans
    shape) on the per-``bucket`` turn-count series:

        S = max_t | Q_t / Q_n - t / n |,   Q_t = sum_{u<=t} c_u^2

    — a variance CHANGEPOINT detector: the mean-level changepoint ops
    ([[q_changepoint]], [[q_cusum]]) miss a pure volatility break
    (same mean, bigger swings); the squared-mass share against the
    uniform line catches exactly that.

    Determinism: the argmax runs on the EXACT INTEGER key
    |Q_t * n - t * Q_n| in DECIMAL(38,0) (Q products pass 2^63 well
    below corpus scale), ties -> smallest t; S is one division.
    Bit-replayable.

    Output one row: (n long, stat double, at_t long, at_share double
    — NULL when n = 0 or Q_n = 0).
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    h = df.groupBy(F.date_trunc(bucket, F.col("ts")).alias("_h")).agg(
        F.count("*").cast("long").alias("_c")
    )
    w_ord = Window.orderBy("_h")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ser = h.select(
        F.row_number().over(w_ord).cast("long").alias("_t"),
        F.sum(d19(F.col("_c")) * d19(F.col("_c"))).over(w_cum).alias("_q"),
        F.count("*").over(w_all).cast("long").alias("_n"),
    )
    ser = ser.withColumn(
        "_qn", F.max("_q").over(w_all)
    )
    key = F.abs(
        F.col("_q") * d19(F.col("_n")) - d19(F.col("_t")) * F.col("_qn")
    )
    w_pick = Window.orderBy(key.desc(), F.asc("_t"))
    top = ser.withColumn("_rk", F.row_number().over(w_pick)).where(
        F.col("_rk") == 1
    )
    ok = (F.col("_n") > 0) & (F.col("_qn") > 0)
    stat = key.cast("double") / (
        F.col("_qn").cast("double") * F.col("_n").cast("double")
    )
    return top.select(
        F.col("_n").alias("n"),
        F.when(ok, stat).alias("stat"),
        F.when(ok, F.col("_t")).alias("at_t"),
        F.when(ok, F.col("_q").cast("double") / F.col("_qn").cast("double")).alias(
            "at_share"
        ),
    )


def bh_fdr(
    df: DataFrame,
    split_ts: str,
    alpha: float = 0.05,
    signal_col: str = "signal",
    group_col: str = "role",
) -> DataFrame:
    """Benjamini-Hochberg FDR control over the per-group KS drift
    battery: each group's two-sample KS statistic becomes an
    asymptotic p-value p = min(1, 2 exp(-2 D^2 mn/(m+n))), the
    p-values are rank-ordered, and BH rejects every rank <= k* where
    k* = max{k : p_(k) <= alpha k / m} — the multiple-testing guard
    the drift dashboard needs once it watches MANY groups (testing 50
    sources at alpha=.05 fires ~2.5 false alarms per refresh without
    it).

    Determinism: D reuses [[ks_drift]]'s exact integer ECDF algebra;
    the p chain is fixed; ranks break ties on (p asc, group asc); k*
    is an exact integer max broadcast back. Bit-replayable.

    Output: (group_col, n_ref long, n_cur long, ks double, p double,
    rank long, reject boolean), rank ascending.
    """
    base = ks_drift(df, split_ts, signal_col, group_col)
    m_ = F.col("n_ref").cast("double")
    n_ = F.col("n_cur").cast("double")
    d = F.col("ks")
    p = F.least(
        F.lit(1.0),
        F.lit(2.0) * F.exp(F.lit(-2.0) * d * d * m_ * n_ / (m_ + n_)),
    )
    withp = base.select(
        group_col, "n_ref", "n_cur", "ks", p.alias("p")
    ).where(F.col("p").isNotNull())
    w_rank = Window.orderBy(F.asc("p"), F.asc(group_col))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = withp.select(
        group_col,
        "n_ref",
        "n_cur",
        "ks",
        "p",
        F.row_number().over(w_rank).cast("long").alias("rank"),
        F.count("*").over(w_all).cast("long").alias("_m"),
    )
    passes = F.col("p") <= F.lit(float(alpha)) * F.col("rank").cast(
        "double"
    ) / F.col("_m").cast("double")
    kstar = ranked.select(
        F.max(F.when(passes, F.col("rank"))).alias("_k")
    )
    out = ranked.crossJoin(F.broadcast(kstar))
    return out.select(
        group_col,
        "n_ref",
        "n_cur",
        "ks",
        "p",
        "rank",
        (F.col("_k").isNotNull() & (F.col("rank") <= F.col("_k"))).alias(
            "reject"
        ),
    )


def ab_power(
    events: DataFrame,
    mde_rel: float = 0.1,
    z_alpha: float = 1.959963984540054,
    z_beta: float = 0.8416212335729143,
) -> DataFrame:
    """A/B test sample-size planning per event type: treating each
    event type's share of events as the baseline conversion p1 and a
    relative MDE of ``mde_rel``, the classical two-proportion
    per-arm n:

        n = (z_a sqrt(2 pbar(1-pbar)) + z_b sqrt(p1 q1 + p2 q2))^2
            / (p2 - p1)^2

    (z constants are the 97.5% / 80% normal quantiles as literals —
    identical doubles in both engines). The planning companion to the
    after-the-fact [[q_srm]] / [[q_event_uplift]] checks: how long
    must the experiment run before the uplift table MEANS anything?

    Determinism: p1 is exact-count division; the n chain is fixed;
    p2 = p1 (1 + mde) capped at 1. NULL when p1 is 0 or p2 hits the
    cap. Bit-replayable.

    Output: (event_type, n_events long, p1, p2, n_per_arm doubles).
    """
    per = events.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    withn = per.withColumn("_nn", F.sum("n_events").over(w_all).cast("long"))
    p1 = F.col("n_events").cast("double") / F.col("_nn").cast("double")
    p2 = p1 * F.lit(1.0 + float(mde_rel))
    pbar = (p1 + p2) / F.lit(2.0)
    num = (
        F.lit(float(z_alpha)) * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar))
        + F.lit(float(z_beta))
        * F.sqrt(p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2))
    )
    n = (num * num) / ((p2 - p1) * (p2 - p1))
    ok = (p1 > 0) & (p2 < 1)
    return withn.select(
        "event_type",
        "n_events",
        F.when(ok, p1).alias("p1"),
        F.when(ok, p2).alias("p2"),
        F.when(ok, n).alias("n_per_arm"),
    )


def wilson_ci(
    docs: DataFrame,
    group_col: str = "source",
    z: float = 1.959963984540054,
) -> DataFrame:
    """Wilson score and Agresti-Coull 95% intervals for each group's
    binary rate (here: the share of English documents per source) —
    the small-sample-honest rate intervals ([[q_bootstrap_ci]] covers
    means; rates near 0/1 need Wilson's asymmetry — a source with
    0/12 English docs has a Wald interval of [0,0], which is a lie,
    and a Wilson upper bound of ~0.24, which is the truth a
    procurement decision needs):

        center = (p + z^2/2n) / (1 + z^2/n)
        half   = z sqrt(p(1-p)/n + z^2/4n^2) / (1 + z^2/n)

    Agresti-Coull uses the same center with the simpler +-z
    sqrt(pt(1-pt)/nt) on the adjusted counts nt = n + z^2.

    Determinism: counts exact; both interval chains are fixed; the z
    literal is the same double in both engines. Bit-replayable.

    Output: (group, n long, k long, p, wilson_lo, wilson_hi, ac_lo,
    ac_hi doubles — NULL when n = 0), one row per group.
    """
    g = docs.groupBy(F.col(group_col).alias("_g")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    zd = F.lit(float(z))
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z2n = zd * zd / nd
    center = (p + z2n / F.lit(2.0)) / (F.lit(1.0) + z2n)
    half = (
        zd
        * F.sqrt(p * (F.lit(1.0) - p) / nd + zd * zd / (F.lit(4.0) * nd * nd))
        / (F.lit(1.0) + z2n)
    )
    nt = nd + zd * zd
    pt = (F.col("k").cast("double") + zd * zd / F.lit(2.0)) / nt
    ach = zd * F.sqrt(pt * (F.lit(1.0) - pt) / nt)
    ok = F.col("n") > 0
    return g.select(
        F.col("_g").alias(group_col),
        "n",
        "k",
        F.when(ok, p).alias("p"),
        F.when(ok, F.greatest(center - half, F.lit(0.0))).alias("wilson_lo"),
        F.when(ok, F.least(center + half, F.lit(1.0))).alias("wilson_hi"),
        F.when(ok, F.greatest(pt - ach, F.lit(0.0))).alias("ac_lo"),
        F.when(ok, F.least(pt + ach, F.lit(1.0))).alias("ac_hi"),
    )


def token_js_drift(
    df: DataFrame,
    split_ts: str,
    top_v: int = 256,
) -> DataFrame:
    """Token-distribution Jensen-Shannon drift across the cutoff:
    JS(P_ref || P_cur) over the corpus top-``top_v`` vocabulary (+
    OTHER bucket, the [[q_source_kl]] coarsening) between the
    pre-cutoff and at/after-cutoff transcript text — TOPIC drift,
    which the signal-level [[q_js_drift]] cannot see (the signal is
    length; two windows can share every length while talking about
    different things):

        JS = (1/2) KL(P || M) + (1/2) KL(Q || M),  M = (P + Q)/2

    Determinism: bucket membership is the integer rank cut on the
    POOLED counts; window counts exact; both KL halves are
    ``exprs.ordered_sums`` by bucket token; fixed chains. Zero-count
    buckets contribute 0 to their own KL half (0 ln 0 = 0).
    Bit-replayable.

    Output one row: (n_ref long, n_cur long, js double, js_norm
    double — JS / ln 2, in [0, 1] — NULL when a window is empty).
    """
    is_ref = _is_ref(split_ts)
    tok = df.select(
        F.explode(words(F.col("text"))).alias("_t"),
        is_ref.alias("_r"),
    ).where(F.col("_t") != "")
    pooled = tok.groupBy("_t").agg(F.count("*").cast("long").alias("_cc"))
    w_rank = Window.orderBy(F.col("_cc").desc(), F.asc("_t"))
    keep = pooled.withColumn("_rk", F.row_number().over(w_rank)).select(
        "_t",
        F.when(F.col("_rk") <= top_v, F.col("_t"))
        .otherwise(F.lit("<other>"))
        .alias("_b"),
    )
    tb = tok.join(F.broadcast(keep), "_t").groupBy("_b").agg(
        F.sum(F.when(F.col("_r"), 1).otherwise(0)).cast("long").alias("_p"),
        F.sum(F.when(~F.col("_r"), 1).otherwise(0)).cast("long").alias("_q"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    withn = tb.select(
        "_b",
        "_p",
        "_q",
        F.sum("_p").over(w_all).cast("long").alias("_np"),
        F.sum("_q").over(w_all).cast("long").alias("_nq"),
    )
    p = F.col("_p").cast("double") / F.col("_np").cast("double")
    q = F.col("_q").cast("double") / F.col("_nq").cast("double")
    m = (p + q) / F.lit(2.0)
    t1 = F.when(F.col("_p") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    t2 = F.when(F.col("_q") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    per = withn.agg(
        F.max("_np").alias("n_ref"),
        F.max("_nq").alias("n_cur"),
        *ordered_sums(["_b"], _t1=t1, _t2=t2),
    )
    kl1, kl2 = F.col("_t1"), F.col("_t2")
    js = (kl1 + kl2) / F.lit(2.0)
    ok = (F.col("n_ref") > 0) & (F.col("n_cur") > 0)
    import math

    return per.select(
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.when(ok, js).alias("js"),
        F.when(ok, js / F.lit(math.log(2.0))).alias("js_norm"),
    )


def weekend_effect(
    df: DataFrame,
    signal_col: str = "signal",
) -> DataFrame:
    """Weekend-vs-weekday signal comparison per role: Welch's t on
    exact integer sufficient sums between the two calendar regimes —
    does weekend traffic talk differently? (The calendar-regime
    variant of the cutoff-split [[welch_drift]]; pairs with
    [[q_seasonality]]'s volume view — this one tests the VALUE.)

        t = (m_w - m_d) / sqrt(s_w^2/n_w + s_d^2/n_d)

    with sample variances from exact (n, S, S2). Weekend = Saturday
    or Sunday (Spark dayofweek in {{1, 7}}; the oracle maps DuckDB's
    0-based convention).

    Determinism: conditional exact long sums from ONE aggregate per
    role; fixed chains. NULL when either regime is empty or both
    variances are 0. Output: (role, n_wd long, n_we long, mean_wd,
    mean_we, t doubles).
    """
    x = F.col(signal_col).cast("long")
    dow = F.dayofweek(F.col("ts").cast("timestamp"))
    is_we = dow.isin(1, 7)
    g = df.where(x.isNotNull()).groupBy("role").agg(
        F.sum(F.when(~is_we, 1).otherwise(0)).cast("long").alias("n_wd"),
        F.sum(F.when(is_we, 1).otherwise(0)).cast("long").alias("n_we"),
        F.sum(F.when(~is_we, x)).cast("long").alias("_sd"),
        F.sum(F.when(is_we, x)).cast("long").alias("_sw"),
        F.sum(F.when(~is_we, x * x)).cast("long").alias("_sd2"),
        F.sum(F.when(is_we, x * x)).cast("long").alias("_sw2"),
    )
    nd_ = F.col("n_wd").cast("double")
    nw_ = F.col("n_we").cast("double")
    md = F.col("_sd").cast("double") / nd_
    mw = F.col("_sw").cast("double") / nw_
    vd = (F.col("_sd2").cast("double") - nd_ * md * md) / (nd_ - F.lit(1.0))
    vw = (F.col("_sw2").cast("double") - nw_ * mw * mw) / (nw_ - F.lit(1.0))
    se = F.sqrt(vw / nw_ + vd / nd_)
    ok = (F.col("n_wd") >= 2) & (F.col("n_we") >= 2)
    return g.select(
        "role",
        "n_wd",
        "n_we",
        F.when(F.col("n_wd") > 0, md).alias("mean_wd"),
        F.when(F.col("n_we") > 0, mw).alias("mean_we"),
        F.when(ok & (se > 0), (mw - md) / se).alias("t"),
    )
