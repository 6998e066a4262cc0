"""Sort-merge as-of join — the engine's point-in-time primitive.

Spark has no native as-of join; this implements the scalable
union-tag-and-last(ignorenulls) formulation:

1. union the build side (turns) and probe side (cutoffs) on the entity key
   with a source tag,
2. one hash exchange + ONE sort per partition on
   (key, t, src, tie-break) — a sort-merge shape, never a broadcast of the
   big side,
3. running ``last(value, ignorenulls=True)`` carries the latest build
   state forward; probe rows then hold exactly the state as of their
   timestamp (inclusive: build sorts before probe at equal t).

At 10^12-turn scale this is shuffle-optimal: a single exchange keyed by
conv_id, no join explosion, skew handled by AQE skew-split plus
operators/skew.py salting. Reference analogue: the implicit "whole image
at scan time" snapshot (SURVEY.md §0) made explicit.

This module is the one place that knows how a point-in-time read is
done: ``_carry`` is the as-of scan that ``asof_join`` and
``backfill.backfill`` select their matches from, ``cutoff_history``
the ``ts <= as_of`` expansion the as-of aggregates read, and
``value_histogram_asof`` the compacted per-cutoff value histogram that
the quantile and first-order paths read instead of that expansion.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .exprs import (
    _sql_literal,
    chain_sql,
    epoch_us,
    literal_rows,
    running_counts,
    value_at_rank,
)
from .sessionize import opens_session
from .skew import conv_window


def cutoff_grid(spark: SparkSession, cutoffs: Iterable[str]) -> DataFrame:
    """Tiny dimension of as-of cutoffs (always broadcast-joined): one row
    ``(gi int, as_of timestamp)`` per distinct instant.

    ``as_of`` is the cutoff string cast to timestamp in the session time
    zone, as ``to_timestamp`` without a format parses it. ``gi`` is
    ``rank() - 1`` of the instant among the LISTED cutoffs (repeats
    counted, so it is the number of listed cutoffs strictly before it),
    in time order whatever the spelling or order of the strings. A turn whose ``ts`` has ``iv`` listed cutoffs strictly
    before it therefore satisfies ``iv <= gi`` exactly when
    ``ts <= as_of`` — the contract the compacted-histogram path of
    :func:`value_histogram_asof` joins on. Repeated instants
    give one row, so no operator doubles its rows or counts.

    The grid is built from literals (``exprs.literal_rows``), never from
    a pickled RDD: the point-in-time plans that broadcast it then run in
    the JVM alone, with no Python worker for the grid stage, and Catalyst
    folds it to one constant array exploded over a one-row ``range``."""
    listed = F.sort_array(literal_rows([(c,) for c in cutoffs], "as_of timestamp")["as_of"])
    return (
        spark.range(1, numPartitions=1)
        .select(F.explode(F.array_distinct(listed)).alias("as_of"))
        .select((F.array_position(listed, F.col("as_of")) - 1).cast("int").alias("gi"), "as_of")
    )


def expand_cutoffs(entities: DataFrame, grid: DataFrame) -> DataFrame:
    """entity x cutoff probe frame via broadcast cross join (grid is tiny);
    adds the grid's ``as_of`` column only."""
    return entities.crossJoin(F.broadcast(grid.select("as_of")))


def cutoff_history(df: DataFrame, spark: SparkSession, cutoffs: Iterable[str]) -> DataFrame:
    """Every row of ``df`` once per cutoff at or after its ``ts``, that
    cutoff in ``as_of``: the broadcast grid join filtered to
    ``ts <= as_of`` — the history each as-of aggregate reads, and the only
    place that predicate is spelled. O(rows x cutoffs) rows before the
    aggregate; the compacted-histogram paths of ``firstorder_sql`` avoid
    the expansion."""
    return expand_cutoffs(df, cutoff_grid(spark, cutoffs)).where(
        F.col("ts").cast("timestamp") <= F.col("as_of")
    )


def value_histogram_asof(
    df: DataFrame, spark: SparkSession, cutoffs: Iterable[str], signal_col: str = "signal"
) -> DataFrame:
    """Per-(conv_id, as_of) value histogram WITHOUT expanding turns,
    hash-partitioned on ``conv_id`` so every consumer's windows and
    groupBys on ``(conv_id, as_of, ...)`` run with no further exchange:

    1. interval index = number of listed cutoffs strictly before ts (a
       literal comparison chain — constant-folded, no join); rows past
       the last cutoff are dropped at the scan.
    2. ONE combine-heavy shuffle of the turns: groupBy (conv_id, x,
       interval) with map-side combine collapses 10^12 turns to
       distinct-values x intervals per conversation.
    3. ONE shuffle of the compacted rows: ``repartition("conv_id")``
       (partition count left to AQE).
    4. The compacted histogram is broadcast-joined to the cutoff grid
       (interval <= grid index) and re-aggregated on that partitioning —
       amplification is bounded by the grid size on ALREADY-compacted
       rows. The grid's ``gi`` counts the same listed cutoffs
       (:func:`cutoff_grid`), so ``iv <= gi`` holds exactly when
       ``ts <= as_of``.

    Turns whose signal is NULL or NaN are dropped at the scan, as the
    kernel path's ``~isnan`` mask drops them, so ``c`` counts only turns
    with a value. Output: (conv_id, as_of, x double, c long).
    """
    cuts = list(cutoffs)
    x = F.col(signal_col).cast("double")
    # one parsed expression: a Column-API term per cutoff costs dozens of
    # py4j calls each
    terms = [f"CASE WHEN ts > {_sql_literal(c, 'timestamp')} THEN 1 ELSE 0 END" for c in cuts]
    iv = F.expr(chain_sql(["0", *terms]))
    base = df.select("conv_id", x.alias("x"), iv.alias("iv")).where(
        (F.col("iv") < len(cuts)) & F.col("x").isNotNull() & ~F.isnan("x")
    )
    h0 = (
        base.groupBy("conv_id", "x", "iv")
        .agg(F.count("*").cast("long").alias("c"))
        .repartition("conv_id")
    )
    grid = cutoff_grid(spark, cuts)
    return (
        h0.join(F.broadcast(grid), F.col("iv") <= F.col("gi"))
        .groupBy("conv_id", "as_of", "x")
        .agg(F.sum("c").alias("c"))
    )


def _carry(
    turns: DataFrame,
    probes: DataFrame,
    value_cols: list[str],
    key: str = "conv_id",
    turns_ts: str = "ts",
    probe_ts: str = "as_of",
    tie_break: str = "turn_idx",
) -> DataFrame:
    """The sort-merge as-of scan under every point-in-time match.

    Returns the probe rows (key, probe_ts, other probe columns) with four
    columns per value column ``c``, each judged against the turns where
    THAT column is non-null (running ``last(ignorenulls)`` fills a column
    past turns whose value is NULL, and the matched ts rides the same
    scan, so a value and its ts always come from one turn):

    * ``_vb_c`` / ``_mtb_c`` — the value and epoch-µs ts of the turn with
      the greatest (ts, tie_break) such that ts <= probe_ts;
    * ``_vf_c`` / ``_mtf_c`` — the same for the SMALLEST (ts, tie_break)
      such that ts >= probe_ts.

    Backward scan: ascending (t, src, tie) — build rows sort before probe
    rows at equal t (inclusive). Forward scan: the mirror — DESCENDING t
    with build still before probe at equal t and tie DESCENDING, so the
    most recently scanned build row when a probe is reached is the
    earliest turn at-or-after it. Both windows share the partitioning:
    ONE hash exchange, a second Sort at most. Catalyst drops every column
    no caller reads, and a window none of whose columns is read."""
    probe_extra = [c for c in probes.columns if c not in (key, probe_ts)]
    t = turns.select(
        F.col(key),
        F.col(turns_ts).alias("_t"),
        F.lit(0).alias("_src"),
        F.col(tie_break).cast("long").alias("_tie"),
        *[F.col(c) for c in value_cols],
        *[F.lit(None).cast(probes.schema[c].dataType).alias(c) for c in probe_extra],
    )
    p = probes.select(
        F.col(key),
        F.col(probe_ts).alias("_t"),
        F.lit(1).alias("_src"),
        F.lit(2**62).cast("long").alias("_tie"),
        *[F.lit(None).cast(turns.schema[c].dataType).alias(c) for c in value_cols],
        *[F.col(c) for c in probe_extra],
    )
    t_us = epoch_us("_t")
    scans = {
        "b": Window.partitionBy(key).orderBy("_t", "_src", "_tie"),
        "f": Window.partitionBy(key).orderBy(
            F.col("_t").desc(), F.col("_src").asc(), F.col("_tie").desc()
        ),
    }
    carried = []
    for c in value_cols:
        matched_us = F.when((F.col("_src") == 0) & F.col(c).isNotNull(), t_us)
        for side, w in scans.items():
            w = w.rowsBetween(Window.unboundedPreceding, 0)
            carried.append(F.last(F.col(c), ignorenulls=True).over(w).alias(f"_v{side}_{c}"))
            carried.append(F.last(matched_us, ignorenulls=True).over(w).alias(f"_mt{side}_{c}"))
    return (
        t.unionByName(p)
        .select(F.col(key), F.col("_t").alias(probe_ts), "_src", *probe_extra, *carried)
        .where(F.col("_src") == 1)
        .drop("_src")
    )


def asof_join(
    turns: DataFrame,
    probes: DataFrame,
    value_cols: list[str],
    key: str = "conv_id",
    turns_ts: str = "ts",
    probe_ts: str = "as_of",
    tie_break: str = "turn_idx",
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For each probe row (key, probe_ts), attach the latest value_cols from
    the turn with the greatest (ts, tie_break) such that ts <= probe_ts.

    ``direction`` (pandas ``merge_asof`` parity, both inclusive):

    * ``'backward'`` (default) — the turn with the greatest
      (ts, tie_break) such that ts <= probe_ts; the running-last pass
      described above.
    * ``'forward'`` — the turn with the SMALLEST (ts, tie_break) such
      that ts >= probe_ts: the mirrored pass over the same union frame
      and the same single hash exchange (see :func:`_carry`).
    * ``'nearest'`` — both passes over the ONE exchange (Catalyst
      plans Window/Sort/Window/Sort on the same HashPartitioning — no
      second shuffle), then per value column the closer of the two
      matches by |turn ts - probe ts|, ties to backward (the pandas
      convention).

    ``tolerance_seconds``: when set, a match farther than the tolerance
    (older for backward, later for forward, |distance| for nearest) is
    treated as no match — values null, same as no matching turn.
    Tolerance and nearest-ness are judged PER VALUE COLUMN: because the
    running last(ignorenulls) fills each column past adjacent turns
    whose column is NULL, the match each column is judged against is
    the nearest turn where THAT column is non-null. This is
    deliberately stronger than pandas ``merge_asof(tolerance=...)``,
    which judges the whole ROW against the
    last matching turn's ts (the two coincide when value columns have no
    NULLs). The matched timestamps ride the same running-last pass, so
    the staleness check adds zero extra shuffles or sorts.

    Returns the probe rows + value columns (null when no prior turn).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    m = _carry(turns, probes, value_cols, key, turns_ts, probe_ts, tie_break)
    p_us = epoch_us(probe_ts)
    tol_us = (
        int(tolerance_seconds * 1_000_000) if tolerance_seconds is not None else None
    )
    out_vals = []
    for c in value_cols:
        d_b = p_us - F.col(f"_mtb_{c}")
        d_f = F.col(f"_mtf_{c}") - p_us
        if direction == "backward":
            v, d = F.col(f"_vb_{c}"), d_b
        elif direction == "forward":
            v, d = F.col(f"_vf_{c}"), d_f
        else:  # nearest: closer of the two matches, ties to backward
            use_b = F.col(f"_mtb_{c}").isNotNull() & (
                F.col(f"_mtf_{c}").isNull() | (d_b <= d_f)
            )
            v = F.when(use_b, F.col(f"_vb_{c}")).otherwise(F.col(f"_vf_{c}"))
            d = F.when(use_b, d_b).otherwise(d_f)
        if tol_us is not None:
            v = F.when(d <= F.lit(tol_us), v)
        out_vals.append(v.alias(c))
    probe_extra = [c for c in probes.columns if c not in (key, probe_ts)]
    return m.select(F.col(key), F.col(probe_ts), *probe_extra, *out_vals)


def asof_state(
    turns: DataFrame,
    spark: SparkSession,
    cutoffs: Iterable[str],
    value_cols: list[str],
    key: str = "conv_id",
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """State of every conversation at every cutoff: grid expansion + as-of.

    Entities are enumerated from the turns themselves (distinct keys reuse
    the same hash partitioning)."""
    probes = expand_cutoffs(turns.select(key).distinct(), cutoff_grid(spark, cutoffs))
    return asof_join(
        turns,
        probes,
        value_cols,
        key=key,
        tolerance_seconds=tolerance_seconds,
        direction=direction,
    )


def horizon_features(
    df: DataFrame,
    spark,
    cutoffs,
    horizons=(3600, 21600, 86400),
    signal_col: str = "signal",
) -> DataFrame:
    """Multi-horizon point-in-time activity features: at each as-of
    cutoff, per conversation, the turn count inside each trailing
    window (1h / 6h / 24h by default), the full-history count, the
    24h mean signal, and the short/long velocity ratio
    (n_1h / (n_24h / 24) — 'is the last hour running hot against its
    own day?'). The feature-store lookback matrix beside the
    full-history [[stats_asof]] moments — and every window is
    ts <= cutoff, so the zero-temporal-leakage contract holds by
    construction.

    Determinism: counts and signal sums are exact longs per (conv,
    cutoff, horizon); means/ratios are fixed chains. Bit-replayable.

    Scale: turns join the BROADCAST cutoff grid (|cutoffs| is a small
    snapshot schedule — 3 here, weekly in production) and aggregate
    with conditional sums in ONE map-side-combined pass; no
    turns x horizons expansion ever shuffles. Output: (conv_id,
    as_of, n_1h, n_6h, n_24h, n_total longs, mean_sig_24h, velocity
    doubles — NULL where a denominator window is empty), one row per
    (conversation, cutoff) with at least one pre-cutoff turn.
    """
    h1, h6, h24 = (int(h) for h in horizons)
    x = F.col(signal_col).cast("long")
    j = cutoff_history(df, spark, cutoffs)
    # exact integer microsecond age — no truncating seconds cast
    age = F.unix_micros(F.col("as_of")) - epoch_us("ts")
    h1, h6, h24 = h1 * 1_000_000, h6 * 1_000_000, h24 * 1_000_000
    g = j.groupBy("conv_id", "as_of").agg(
        F.sum(F.when(age < h1, 1).otherwise(0)).cast("long").alias("n_1h"),
        F.sum(F.when(age < h6, 1).otherwise(0)).cast("long").alias("n_6h"),
        F.sum(F.when(age < h24, 1).otherwise(0)).cast("long").alias("n_24h"),
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(age < h24, x)).cast("long").alias("_s24"),
    )
    n24 = F.col("n_24h")
    mean24 = F.col("_s24").cast("double") / n24.cast("double")
    velocity = F.col("n_1h").cast("double") / (
        n24.cast("double") / F.lit(float(h24) / float(h1))
    )
    return g.select(
        "conv_id",
        "as_of",
        "n_1h",
        "n_6h",
        "n_24h",
        "n_total",
        F.when(n24 > 0, mean24).alias("mean_sig_24h"),
        F.when(n24 > 0, velocity).alias("velocity"),
    )


def recency_features(
    df: DataFrame,
    spark,
    cutoffs,
    roles=("user", "assistant", "tool", "system"),
) -> DataFrame:
    """Per-role recency vector at each as-of cutoff: seconds since the
    conversation last heard from each role (NULL = never before the
    cutoff) plus seconds since ANY turn — the 'how stale is each
    participant?' feature every churn / handoff model starts from,
    computed leakage-safe (only ts <= cutoff is read; the complement
    of [[asof_state]]'s last-VALUE lookup — this is last-WHEN).

    Determinism: per-(conv, cutoff) conditional MAX of exact epoch
    micros, then fixed subtractions. Bit-replayable.

    Scale: broadcast cutoff grid, one conditional-aggregate pass
    (roles are a fixed enum -> fixed column set, no pivot shuffle).
    Output: (conv_id, as_of, sec_since_any double, sec_since_<role>
    double ...), one row per (conversation, cutoff) with history.
    """
    j = cutoff_history(df, spark, cutoffs)
    ts_us = epoch_us("ts")
    aggs = [F.max(ts_us).alias("_any")]
    for r in roles:
        aggs.append(
            F.max(F.when(F.col("role") == r, ts_us)).alias(f"_r_{r}")
        )
    g = j.groupBy("conv_id", "as_of").agg(*aggs)
    co_us = F.unix_micros(F.col("as_of"))
    cols = [
        "conv_id",
        "as_of",
        ((co_us - F.col("_any")).cast("double") / F.lit(1e6)).alias(
            "sec_since_any"
        ),
    ]
    for r in roles:
        cols.append(
            F.when(
                F.col(f"_r_{r}").isNotNull(),
                (co_us - F.col(f"_r_{r}")).cast("double") / F.lit(1e6),
            ).alias(f"sec_since_{r}")
        )
    return g.select(*cols)


def trend_asof(
    df: DataFrame,
    spark,
    cutoffs,
    signal_col: str = "signal",
) -> DataFrame:
    """Per-conversation signal trend at each as-of cutoff: the exact
    OLS slope/intercept of signal over turn index using ONLY turns
    with ts <= cutoff — the 'is this conversation heating up or
    cooling down?' feature, leakage-safe by construction, the
    per-entity point-in-time counterpart to the corpus-level
    [[q_signal_trend]] / [[q_theil_sen]] fits.

    Determinism: the four sufficient sums ride DECIMAL(38,0) exact
    products (turn_idx * signal passes 2^63 only far beyond any real
    conversation, but the headroom is free); slope/intercept/r2 are
    fixed double chains. Bit-replayable.

    Scale: broadcast cutoff grid + ONE map-side-combined aggregate —
    no per-conversation window, no turns x cutoffs shuffle beyond the
    bounded grid join. Output: (conv_id, as_of, n long, slope,
    intercept, r2 doubles — NULL when n < 2 or variance degenerates).
    """
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    x = F.col("turn_idx").cast("long")
    y = F.col(signal_col).cast("long")
    j = cutoff_history(df.where(y.isNotNull()), spark, cutoffs)
    g = j.groupBy("conv_id", "as_of").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d19(x)).alias("_sx"),
        F.sum(d19(x) * d19(x)).alias("_sxx"),
        F.sum(d19(y)).alias("_sy"),
        F.sum(d19(y) * d19(y)).alias("_syy"),
        F.sum(d19(x) * d19(y)).alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sy = F.col("_sy").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    cov = nd * sxy - sx * sy
    slope = cov / vx
    intercept = (sy - slope * sx) / nd
    r2 = (cov * cov) / (vx * vy)
    ok = (F.col("n") >= 2) & (vx > 0)
    return g.select(
        "conv_id",
        "as_of",
        "n",
        F.when(ok, slope).alias("slope"),
        F.when(ok, intercept).alias("intercept"),
        F.when(ok & (vy > 0), r2).alias("r2"),
    )


def sessions_asof(
    df: DataFrame,
    spark,
    cutoffs,
    gap_seconds: float = 1800,
) -> DataFrame:
    """Session-count state at each as-of cutoff: how many gap-based
    sessions (gap > ``gap_seconds``, the sessionize.opens_session rule)
    the conversation has accumulated using only ts <= cutoff, plus
    seconds since the current session
    started — the point-in-time view of [[q_sessionize]]'s full-table
    segmentation (a feature store can't run the full sessionizer per
    cutoff; this derives the same counts from ONE lag pass reused by
    every cutoff).

    The lag pass marks each turn as a session BOUNDARY (first turn,
    or gap from the previous turn > gap_seconds); for a cutoff,
    n_sessions = # boundaries with ts <= cutoff and session_start =
    the latest boundary ts <= cutoff — conditional exact aggregates,
    no per-cutoff re-sort.

    Determinism: boundaries come from exact microsecond gaps on the
    stable (ts, turn_idx) order; counts/maxes are exact; the seconds
    column is one fixed subtraction. Bit-replayable.

    Output: (conv_id, as_of, n_turns long, n_sessions long,
    sec_in_session double), one row per (conversation, cutoff) with
    history.
    """
    w = conv_window()
    ts_us = epoch_us("ts")
    marked = df.select(
        "conv_id",
        F.col("ts").cast("timestamp").alias("ts"),
        ts_us.alias("_us"),
        F.lag(ts_us, 1).over(w).alias("_prev"),
    ).select(
        "conv_id",
        "ts",
        "_us",
        (
            F.col("_prev").isNull()
            | opens_session(((F.col("_us") - F.col("_prev")) / 1e6).cast("double"), gap_seconds)
        ).alias("_boundary"),
    )
    j = cutoff_history(marked, spark, cutoffs)
    g = j.groupBy("conv_id", "as_of").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(F.when(F.col("_boundary"), 1).otherwise(0))
        .cast("long")
        .alias("n_sessions"),
        F.max(F.when(F.col("_boundary"), F.col("_us"))).alias("_start"),
    )
    sec = (F.unix_micros(F.col("as_of")) - F.col("_start")).cast("double") / F.lit(
        1e6
    )
    return g.select(
        "conv_id",
        "as_of",
        "n_turns",
        "n_sessions",
        F.when(F.col("_start").isNotNull(), sec).alias("sec_in_session"),
    )


def state_matrix(
    df: DataFrame,
    spark,
    cutoffs,
    roles=("user", "assistant", "tool", "system"),
    signal_col: str = "signal",
) -> DataFrame:
    """Per-role last-VALUE matrix at each as-of cutoff: for every
    conversation and cutoff, the signal of each role's most recent
    turn with ts <= cutoff (NULL = that role never spoke) — the
    companion to [[recency_features]] (last-WHEN) and the per-role
    widening of [[asof_state]] (which carries only the single latest
    turn): together they are the conversation's full as-of state
    vector.

    Determinism: each cell is ONE conditional MAX over the exact
    (ts_us, turn_idx, signal) struct — the stable-order argmax with
    no window and no per-role shuffle (roles are a fixed enum ->
    fixed column set). Leakage-safe by construction. Bit-replayable.

    Output: (conv_id, as_of, last_sig_<role> double ...), one row per
    (conversation, cutoff) with history.
    """
    j = cutoff_history(df, spark, cutoffs)
    ts_us = epoch_us("ts")
    aggs = []
    for r in roles:
        aggs.append(
            F.max(
                F.when(
                    F.col("role") == r,
                    F.struct(
                        ts_us.alias("_t"),
                        F.col("turn_idx").cast("long").alias("_i"),
                        F.col(signal_col).cast("long").alias("_s"),
                    ),
                )
            ).alias(f"_m_{r}")
        )
    g = j.groupBy("conv_id", "as_of").agg(*aggs)
    cols = ["conv_id", "as_of"]
    for r in roles:
        cols.append(
            F.col(f"_m_{r}._s").cast("double").alias(f"last_sig_{r}")
        )
    return g.select(*cols)


def distinct_asof(
    df: DataFrame,
    spark,
    cutoffs,
) -> DataFrame:
    """Exact distinct-count state at each as-of cutoff: per
    conversation, how many distinct roles and distinct tools have
    appeared with ts <= cutoff — the breadth features ('has this
    conversation engaged the tool surface yet?') beside the volume
    features of [[horizon_features]].

    Determinism: exact COUNT(DISTINCT) per (conv, cutoff) — integer
    results, no estimation. Leakage-safe by construction.

    Scale: the broadcast grid join then ONE aggregate with two
    distinct aggs (Spark plans expand + two-phase exact distinct —
    bounded by the enum cardinalities, no high-cardinality distinct
    here). Output: (conv_id, as_of, n_turns long, n_roles long,
    n_tools long).
    """
    j = cutoff_history(df, spark, cutoffs)
    return j.groupBy("conv_id", "as_of").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.count_distinct(F.col("role")).cast("long").alias("n_roles"),
        F.count_distinct(F.col("tool")).cast("long").alias("n_tools"),
    )


def answer_rate_asof(
    df: DataFrame,
    spark,
    cutoffs,
) -> DataFrame:
    """Answered-rate state at each as-of cutoff: of the conversation's
    user turns with ts <= cutoff, what share were followed by an
    assistant turn THAT ALSO falls within the cutoff — the
    conversational-health feature ('are questions getting answered,
    as of now?') with the subtle leakage trap handled: a user turn
    whose answer arrives AFTER the cutoff counts as unanswered at
    that cutoff (the follower's ts must clear the same bar, otherwise
    the feature reads the future).

    Determinism: the follower derives from one lead() pass on the
    stable turn order (computed once, reused by every cutoff);
    counts are exact conditional sums. Bit-replayable.

    Output: (conv_id, as_of, n_user long, n_answered long,
    answer_rate double — NULL when no user turns yet), one row per
    (conversation, cutoff) with history.
    """
    w = conv_window()
    marked = df.select(
        "conv_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "role",
        F.lead("role", 1).over(w).alias("_nrole"),
        F.lead(F.col("ts").cast("timestamp"), 1).over(w).alias("_nts"),
    )
    j = cutoff_history(marked, spark, cutoffs)
    is_user = F.col("role") == "user"
    answered = (
        is_user
        & (F.col("_nrole") == "assistant")
        & (F.col("_nts") <= F.col("as_of"))
    )
    g = j.groupBy("conv_id", "as_of").agg(
        F.sum(F.when(is_user, 1).otherwise(0)).cast("long").alias("n_user"),
        F.sum(F.when(answered, 1).otherwise(0)).cast("long").alias("n_answered"),
    )
    return g.select(
        "conv_id",
        "as_of",
        "n_user",
        "n_answered",
        F.when(
            F.col("n_user") > 0,
            F.col("n_answered").cast("double") / F.col("n_user").cast("double"),
        ).alias("answer_rate"),
    )


def quantile_state_asof(
    df: DataFrame,
    spark,
    cutoffs,
    signal_col: str = "signal",
) -> DataFrame:
    """Expanding signal quartiles at each as-of cutoff: exact
    rank-pick p25/p50/p75 of each conversation's signal HISTORY
    (ts <= cutoff) — the distribution-shape state beside
    [[trend_asof]]'s direction and [[horizon_features]]'s volume
    (an IQR that widened between cutoffs is volatility the mean
    hides), leakage-safe by construction.

    Determinism: quantiles are EXACT integer rank picks
    (ceil(q n), value asc — no interpolation) on the compacted
    (conv, cutoff, value) histogram; counts exact. Bit-replayable.

    Scale: :func:`value_histogram_asof` (one combine-heavy shuffle,
    one shuffle of compacted rows by conv_id, the grid multiplies only
    compacted rows, never the turns) -> one value-ordered Window with a
    running and a whole frame on that partitioning. NULL and NaN
    signals are not counted.
    Output: (conv_id, as_of, n long, p25, p50, p75 doubles), one row
    per (conversation, cutoff) with a signal in its history.
    """
    hist = value_histogram_asof(df, spark, cutoffs, signal_col)
    cum = running_counts(hist, ["conv_id", "as_of"], "x", "c")

    def pick(q):
        return value_at_rank("x", F.ceil(F.lit(q) * F.col("_n")).cast("long"))

    return cum.groupBy("conv_id", "as_of").agg(
        F.max("_n").cast("long").alias("n"),
        pick(0.25).alias("p25"),
        pick(0.50).alias("p50"),
        pick(0.75).alias("p75"),
    )


def role_mix_asof(
    df: DataFrame,
    spark,
    cutoffs,
    roles=("user", "assistant", "tool", "system"),
) -> DataFrame:
    """Role-mix share vector at each as-of cutoff: each role's share
    of the conversation's turns so far — the composition state
    ('is this becoming a tool-call loop?') that completes the
    point-in-time family (volume / recency / trend / sessions /
    last-values / breadth / quartiles / composition), leakage-safe by
    construction.

    Determinism: exact conditional counts, one division per share.
    Output: (conv_id, as_of, n long, share_<role> double ...).
    """
    j = cutoff_history(df, spark, cutoffs)
    aggs = [F.count("*").cast("long").alias("n")]
    for r in roles:
        aggs.append(
            F.sum(F.when(F.col("role") == r, 1).otherwise(0))
            .cast("long")
            .alias(f"_c_{r}")
        )
    g = j.groupBy("conv_id", "as_of").agg(*aggs)
    cols = ["conv_id", "as_of", "n"]
    for r in roles:
        cols.append(
            F.when(
                F.col("n") > 0,
                F.col(f"_c_{r}").cast("double") / F.col("n").cast("double"),
            ).alias(f"share_{r}")
        )
    return g.select(*cols)
