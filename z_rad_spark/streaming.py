"""Structured Streaming surface: the engine's batch semantics on
unbounded transcript streams.

The reference is pure batch; the streaming mapping (SURVEY.md §2.13) is:

=======================  ====================================================
batch concept            streaming equivalent
=======================  ====================================================
as-of cutoff             watermark (no feature reads a turn past it)
gap sessionization       ``applyInPandasWithState`` custom stateful operator
per-cutoff feature rows  watermarked event-time window aggregates (append)
resume from checkpoint   streaming checkpointLocation (exactly-once state)
=======================  ====================================================

Scale notes: both operators shuffle once on ``conv_id`` (the engine's
canonical key); state per conversation is O(1) (the open session's
running aggregates), so 10^8 live conversations hold ~GBs of state in
the store, independent of turn volume. Late turns within the watermark
delay are handled exactly; turns older than the watermark are dropped by
the engine (the documented contract — same as a batch job pinned at an
as-of cutoff).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .operators.drift import psi_term
from .operators.exprs import MIX31_A, mix31_np

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("session_start_us", T.LongType(), False),
        T.StructField("session_end_us", T.LongType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("signal_sum", T.DoubleType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType(), False),
        T.StructField("last_us", T.LongType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("signal_sum", T.DoubleType(), True),
    ]
)


def streaming_sessionize(
    stream: DataFrame,
    gap_seconds: float = 1800.0,
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session aggregates over a transcript stream.

    Emits one row per CLOSED session (a gap > ``gap_seconds`` observed,
    or the event-time timeout fired once the watermark passed the open
    session's last turn + gap). The open session per conversation lives
    in the state store and survives restarts via the checkpoint — the
    streaming twin of ``operators/sessionize.with_sessions``.
    """
    gap_us = int(gap_seconds * 1_000_000)

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        if state.hasTimedOut:
            start_us, last_us, n, sig = state.get
            state.remove()
            yield pd.DataFrame(
                [[conv_id, start_us, last_us, n, sig]], columns=SESSION_SCHEMA.names
            )
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        sig = rows["signal"].astype(float).to_numpy()
        order = ts_us.argsort(kind="stable")
        ts_us, sig = ts_us[order], sig[order]
        if len(ts_us) == 0:
            # empty microbatch for this key: keep the open session as-is
            if state.exists:
                state.setTimeoutTimestamp(state.get[1] // 1000 + gap_us // 1000)
            return

        # vectorized gap sessionization: segment starts are the positions
        # where the inter-turn gap exceeds gap_us; per-segment aggregates
        # via reduceat. The only scalar state is the open-session handoff
        # — a 10^5-turn hot-conversation microbatch walks zero Python rows.
        seg_starts = np.concatenate(
            ([0], np.flatnonzero(np.diff(ts_us) > gap_us) + 1)
        )
        seg_ends = np.concatenate((seg_starts[1:], [len(ts_us)]))
        seg_n = (seg_ends - seg_starts).astype("int64")
        seg_sum = np.add.reduceat(sig, seg_starts)
        seg_t0 = ts_us[seg_starts]
        seg_t1 = ts_us[seg_ends - 1]

        prior_closed = []
        if state.exists:
            start_us, last_us, n, ssum = state.get
            if int(seg_t0[0]) - last_us <= gap_us:
                # first batch segment extends the open session. Sum order
                # is state-first (carried sum + batch-segment sum); the
                # in-segment sum itself is reduceat-sequential. As with
                # every float aggregate in the engine, bit-stability
                # across arrival batching is guaranteed for
                # integer-valued signals (exact sums); non-integer
                # signals can differ in the last ulp from a single-batch
                # replay — same contract as the SQL oracles' SUM.
                seg_t0[0] = start_us
                seg_n[0] += n
                seg_sum[0] = ssum + seg_sum[0]
            else:
                prior_closed.append([conv_id, start_us, last_us, n, ssum])
        state.update(
            (int(seg_t0[-1]), int(seg_t1[-1]), int(seg_n[-1]), float(seg_sum[-1]))
        )
        # close the open session once the watermark passes its gap window
        state.setTimeoutTimestamp(int(seg_t1[-1]) // 1000 + gap_us // 1000)
        m = len(seg_starts) - 1  # every segment but the last closes now
        if m or prior_closed:
            batch_closed = pd.DataFrame(
                {
                    "conv_id": conv_id,
                    "session_start_us": seg_t0[:m],
                    "session_end_us": seg_t1[:m],
                    "n_turns": seg_n[:m],
                    "signal_sum": seg_sum[:m],
                }
            )
            if prior_closed:
                batch_closed = pd.concat(
                    [pd.DataFrame(prior_closed, columns=SESSION_SCHEMA.names), batch_closed],
                    ignore_index=True,
                )
            yield batch_closed

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_window_stats(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    signal_col: str = "signal",
) -> DataFrame:
    """Watermarked tumbling-window first-order aggregates per conversation
    (append mode: a window row is emitted exactly once, when the
    watermark passes its end — the streaming as-of contract). Pure
    built-in aggregates: partial aggregation + state store, no Python."""
    x = F.col(signal_col)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", window).alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.sum(x).alias("signal_sum"),
            F.min(x).alias("signal_min"),
            F.max(x).alias("signal_max"),
        )
        .select(
            "conv_id",
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            F.unix_micros(F.col("w.end")).alias("window_end_us"),
            "n_turns",
            "signal_sum",
            "signal_min",
            "signal_max",
        )
    )


RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("ts_us", T.LongType(), False),
        T.StructField("n_so_far", T.LongType(), False),
        T.StructField("signal_sum", T.DoubleType(), False),
        T.StructField("signal_max", T.DoubleType(), False),
    ]
)

_RUNNING_STATE = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("ssum", T.DoubleType(), False),
        T.StructField("smax", T.DoubleType(), False),
    ]
)


def streaming_running_stats(stream: DataFrame) -> DataFrame:
    """Incremental point-in-time features: for each distinct (conv_id,
    ts) the stream has seen, emit the conversation's running count / sum
    / max INCLUDING every turn at that timestamp — the streaming twin of
    the batch expanding-window operators (sessionize.with_expanding_zscore
    rides the same cumulative frame). The leakage contract is structural:
    a row's aggregates are computed from state that, by construction,
    only ever held turns with ts' <= ts.

    Emission is keyed on DISTINCT ts (not per turn): count/sum/max are
    order-independent within a tied timestamp, so the output is
    deterministic under any arrival interleaving of same-ts turns —
    which a per-turn emission could not guarantee on an unordered
    stream.

    State per conversation is three scalars (O(1), like the
    sessionizer); the per-batch work is a vectorized sort + reduceat —
    zero per-row Python. Restart-safety comes from the checkpointed
    state store, same as the other streaming operators.
    """

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        sig = rows["signal"].astype(float).to_numpy()
        order = ts_us.argsort(kind="stable")
        ts_us, sig = ts_us[order], sig[order]
        # per distinct timestamp: count / sum / max via reduceat
        uniq, starts = np.unique(ts_us, return_index=True)
        counts = np.diff(np.concatenate((starts, [len(ts_us)])))
        sums = np.add.reduceat(sig, starts)
        maxs = np.maximum.reduceat(sig, starts)
        n0, s0, m0 = (0, 0.0, float("-inf"))
        if state.exists:
            n0, s0, m0 = state.get
        # carried state first, then batch-sequential — the documented sum
        # order (exact for integer-valued signals)
        cum_n = n0 + np.cumsum(counts)
        cum_s = s0 + np.cumsum(sums)
        cum_m = np.maximum.accumulate(np.maximum(maxs, m0))
        state.update((int(cum_n[-1]), float(cum_s[-1]), float(cum_m[-1])))
        yield pd.DataFrame(
            {
                "conv_id": conv_id,
                "ts_us": uniq,
                "n_so_far": cum_n,
                "signal_sum": cum_s,
                "signal_max": cum_m,
            }
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=_RUNNING_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("ts_us", T.LongType(), False),
        T.StructField("n_at_ts", T.LongType(), False),
        T.StructField("cusum", T.DoubleType(), False),
        T.StructField("cusum_alarm", T.BooleanType(), False),
    ]
)

_CUSUM_STATE = T.StructType(
    [
        T.StructField("p", T.DoubleType(), False),
        T.StructField("m", T.DoubleType(), False),
    ]
)


def streaming_cusum(
    stream: DataFrame,
    target: float = 5.0,
    slack: float = 0.5,
    threshold: float = 8.0,
) -> DataFrame:
    """Streaming one-sided CUSUM drift chart — the stateful twin of the
    batch drift.with_cusum closed form. Per conversation the state is
    TWO scalars: the running prefix sum of deviations P and the running
    floor m = min(0, min_j P_j); each emitted chart point is

        s_t = P_t - m_t,      alarm when s_t > threshold

    which equals the textbook recursion max(0, s + (x - target - slack))
    (drift.py module docstring derives the identity).

    Emission is per DISTINCT timestamp with all tied turns folded into
    one chart step (their deviation sum is order-independent, so the
    output is deterministic under any arrival interleaving of same-ts
    turns — a per-turn emission could not order ties on a stream with
    no turn_idx). The batch oracle replays the same distinct-ts
    semantics declaratively.

    Exactness contract: integer-valued signals and a dyadic-rational
    target+slack make every deviation a dyadic rational, so prefix
    sums, mins, and the subtraction are exact in float64 in ANY
    accumulation order — the streaming output hash-matches the SQL
    replay bit-for-bit.

    Per-batch work is vectorized (reduceat + cumsum + running min);
    state is O(1) per conversation; restart-safety comes from the
    checkpointed state store. Cross-batch correctness assumes per-key
    event-time-ordered arrival across micro-batches (the same
    contract streaming_running_stats documents); within a batch any
    order is handled.
    """
    ref = float(target) + float(slack)
    thr = float(threshold)

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        sig = rows["signal"].astype(float).to_numpy()
        order = ts_us.argsort(kind="stable")
        ts_us, sig = ts_us[order], sig[order]
        uniq, starts = np.unique(ts_us, return_index=True)
        counts = np.diff(np.concatenate((starts, [len(ts_us)])))
        # deviation sum per distinct ts: sum(x) - n*ref (dyadic-exact)
        devs = np.add.reduceat(sig, starts) - counts * ref
        p0, m0 = (0.0, 0.0)
        if state.exists:
            p0, m0 = state.get
        p = p0 + np.cumsum(devs)
        m = np.minimum.accumulate(np.minimum(p, m0))
        s = p - m
        state.update((float(p[-1]), float(m[-1])))
        yield pd.DataFrame(
            {
                "conv_id": conv_id,
                "ts_us": uniq,
                "n_at_ts": counts.astype("int64"),
                "cusum": s,
                "cusum_alarm": s > thr,
            }
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=CUSUM_SCHEMA,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_psi(
    stream: DataFrame,
    ref_counts: list,
    window: str = "1 day",
    watermark: str = "2 hours",
    signal_col: str = "signal",
) -> DataFrame:
    """Streaming Population Stability Index per tumbling window: each
    closed window's binned signal distribution scored against a FIXED
    reference histogram (``ref_counts``: the per-bin counts of a batch
    profiling run, bins = integer signal values 1..len(ref_counts)) —
    the continuously-updating twin of the batch drift.psi_drift, with
    the same add-one smoothing and conventional bands (<0.1 stable,
    0.1-0.25 drifting, >=0.25 shifted).

    Plan shape: ONE watermarked windowed aggregation with n_bins
    map-side conditional counts (partial aggregation + state store, no
    Python, no bin explode); the PSI is a fixed-order term chain over
    the known bins with the reference side folded in as LITERALS — so
    the append-mode emission is deterministic and the batch oracle
    replays the score bit-for-bit. State per window is n_bins+1 longs.

    Output: (window_start_us, window_end_us, n long, psi double,
    drift_band string).
    """
    n_bins = len(ref_counts)
    ref_total = float(sum(int(c) for c in ref_counts)) + float(n_bins)
    x = F.col(signal_col).cast("int")
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for b in range(1, n_bins + 1):
        aggs.append(F.count(F.when(x == b, 1)).alias(f"_c{b}"))
    g = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(*aggs)
    )
    nc = (F.col("n") + F.lit(n_bins)).cast("double")
    psi = None
    for b in range(1, n_bins + 1):
        p = F.lit(float(int(ref_counts[b - 1]) + 1)) / F.lit(ref_total)
        q = (F.col(f"_c{b}") + F.lit(1)).cast("double") / nc
        psi = psi_term(p, q) if psi is None else psi + psi_term(p, q)
    band = (
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "drifting")
        .otherwise("shifted")
    )
    return (
        g.withColumn("psi", psi)
        .withColumn("drift_band", band)
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            F.unix_micros(F.col("w.end")).alias("window_end_us"),
            "n",
            "psi",
            "drift_band",
        )
    )


PH_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("ts_us", T.LongType(), False),
        T.StructField("n_at_ts", T.LongType(), False),
        T.StructField("ph", T.DoubleType(), False),
        T.StructField("ph_alarm", T.BooleanType(), False),
    ]
)

_PH_STATE = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("s", T.LongType(), False),
        T.StructField("p", T.DoubleType(), False),
        T.StructField("m", T.DoubleType(), False),
    ]
)


def streaming_page_hinkley(
    stream: DataFrame,
    delta: float = 0.25,
    threshold: float = 12.0,
) -> DataFrame:
    """Streaming Page-Hinkley mean-shift chart — the self-referenced
    companion to streaming_cusum (no external target: the running mean
    IS the target). State per conversation is FOUR scalars: turn count
    n, integer signal sum s, the float prefix sum P of deviations, and
    the running chart floor m = min_j P_j.

    Distinct-ts semantics (the same contract as streaming_cusum): tied
    turns fold into one chart step whose deviation is

        dev_t = (sx_t - c_t * mbar_t) - c_t * delta

    with sx_t/c_t the tie group's signal sum/count and mbar_t the
    running mean AFTER absorbing the group (an exact integer-sums
    division). The chart point is ph_t = P_t - m_t, alarm when
    ph_t > threshold. Group sums make every step order-independent
    under any same-ts arrival interleaving.

    Determinism: n and s are exact integers in any order; dev_t is a
    fixed single-op float chain; P accumulates by a STRICT sequential
    left fold (the state seed is prepended before the cumulative sum,
    so cross-batch resumes produce the identical rounding path), and
    the SQL oracle replays the same fold with list_reduce over the
    ts-ordered deviation list. m is an order-free running min.
    Per-batch work is vectorized; state is O(1) per conversation; the
    cross-batch contract is per-key event-time-ordered arrival like
    every stateful operator in this module.
    """
    d = float(delta)
    thr = float(threshold)

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        sig = rows["signal"].astype("int64").to_numpy()
        order = ts_us.argsort(kind="stable")
        ts_us, sig = ts_us[order], sig[order]
        uniq, starts = np.unique(ts_us, return_index=True)
        counts = np.diff(np.concatenate((starts, [len(ts_us)])))
        sx = np.add.reduceat(sig, starts)
        n0, s0, p0, m0 = (0, 0, 0.0, np.inf)
        if state.exists:
            n0, s0, p0, m0 = state.get
        cn = n0 + np.cumsum(counts)
        cs = s0 + np.cumsum(sx)          # exact integer prefix sums
        mbar = cs.astype(np.float64) / cn.astype(np.float64)
        devs = (sx.astype(np.float64) - counts * mbar) - counts * d
        # strict left fold with the carried seed: cumsum over the
        # seed-prepended vector reproduces ((p0 + d1) + d2) + ...
        p = np.cumsum(np.concatenate(([p0], devs)))[1:]
        m = np.minimum.accumulate(np.minimum(p, m0))
        ph = p - m
        state.update((int(cn[-1]), int(cs[-1]), float(p[-1]), float(m[-1])))
        yield pd.DataFrame(
            {
                "conv_id": conv_id,
                "ts_us": uniq,
                "n_at_ts": counts.astype("int64"),
                "ph": ph,
                "ph_alarm": ph > thr,
            }
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=PH_SCHEMA,
        stateStructType=_PH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_range_join(
    stream: DataFrame,
    high_threshold: float = 8.0,
    range_seconds: float = 3600.0,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Watermarked STREAM-STREAM range join — the Structured Streaming
    capability the rest of this module's stateful operators don't
    exercise: two event streams joined on key + an event-time range,
    with watermarks bounding the join state so Spark can evict rows
    that can no longer match (the unbounded-state trap of naive
    stream-stream joins).

    Shape here: the turn stream self-splits into LOW-signal turns and
    HIGH-signal 'state events' (signal >= high_threshold); each low
    turn joins every state event of its conversation from the previous
    ``range_seconds`` — the streaming form of the point-in-interval
    enrichment (the batch interval_join / asof_join family). Inner
    join + append mode: the emitted set is exactly the pairs whose
    range condition holds, deterministic under any arrival order, so
    the batch oracle replays it as a plain range join.

    State contract: both sides carry the same watermark; the range
    predicate is two-sided and CLOSED on both ends (state_ts in
    [ts - range, ts] — a state event exactly range_seconds old still
    matches), which is what lets the state store expire both sides —
    an open-ended condition would grow state forever.

    Output: (conv_id, ts_us long, signal double, state_ts_us long,
    state_val double).
    """
    thr = float(high_threshold)
    turns = stream.where(F.col("signal") < thr).withWatermark("ts", watermark)
    states = (
        stream.where(F.col("signal") >= thr)
        .select(
            F.col("conv_id").alias("s_conv_id"),
            F.col("ts").alias("state_ts"),
            F.col("signal").alias("state_val"),
        )
        .withWatermark("state_ts", watermark)
    )
    rng = F.expr(f"INTERVAL {int(range_seconds)} SECONDS")
    joined = turns.join(
        states,
        (F.col("conv_id") == F.col("s_conv_id"))
        & (F.col("state_ts") <= F.col("ts"))
        & (F.col("state_ts") >= F.col("ts") - rng),
        "inner",
    )
    return joined.select(
        "conv_id",
        F.unix_micros("ts").cast("long").alias("ts_us"),
        F.col("signal"),
        F.unix_micros("state_ts").cast("long").alias("state_ts_us"),
        "state_val",
    )


HLL_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("occupied", T.LongType(), False),
        T.StructField("v_zero", T.LongType(), False),
        T.StructField("est_distinct", T.DoubleType(), False),
    ]
)

_HLL_STATE = T.StructType(
    [T.StructField("regs", T.ArrayType(T.IntegerType()), False)]
)


def streaming_hll(stream: DataFrame, p_bits: int = 8) -> DataFrame:
    """Streaming HyperLogLog distinct-key estimate per group — the
    stateful twin of sketches.hyperloglog_by: the state is the FIXED
    m = 2^p_bits register array (the textbook property that makes HLL
    the streaming cardinality sketch — constant memory, mergeable,
    insert-order-free), updated per micro-batch with the same explicit
    square-mod mixing hash and emitted as the current estimate after
    every batch.

    Exactness contract: registers are exact integers under ANY arrival
    order (max is commutative), the dyadic 2^-M_j fold runs in bucket
    order inside the emission (a plain Python left fold over the 256
    registers — numpy's pairwise sums would round differently), and
    the estimate chain is the batch operator's — so after the final
    batch the emitted row hash-matches the batch SQL oracle
    bit-for-bit. (Intermediate-batch emissions are the same estimator
    on the prefix of the stream; the gate replays availableNow = one
    batch.)

    Per-batch work is one vectorized int64 hash pipeline + one
    np.maximum.at scatter; state is O(m) per group regardless of key
    cardinality; restart-safety comes from the checkpointed state
    store.
    """
    P = 2147483647
    m = 1 << p_bits
    w = 31 - p_bits
    alpha = 0.7213 / (1.0 + 1.079 / float(m))

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        grp = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[rows["key"].notna()]
        if len(rows) == 0:
            return
        k = np.abs(rows["key"].astype("int64").to_numpy()) % P
        h = mix31_np(k * MIX31_A + 12345)
        b = (h % m).astype("int64")
        rest = h // m
        # rank = w - floor(log2(rest)) = w + 1 - frexp exponent; frexp is
        # exact on integers < 2^53
        _, e = np.frexp(rest.astype("float64"))
        rank = np.where(rest > 0, (w + 1) - e, w + 1).astype("int32")
        regs = (
            np.array(state.get[0], dtype=np.int32)
            if state.exists
            else np.zeros(m, dtype=np.int32)
        )
        np.maximum.at(regs, b, rank)
        state.update(([int(r) for r in regs],))
        occupied = int((regs > 0).sum())
        v = m - occupied
        acc = 0.0
        for r in regs:  # bucket-ordered left fold, matches the SQL oracle
            if r > 0:
                acc = acc + 2.0 ** (-float(r))
        z = acc + float(v)
        e_raw = alpha * float(m) * float(m) / z
        if e_raw <= 2.5 * float(m) and v > 0:
            import math

            est = float(m) * math.log(float(m) / float(v))
        else:
            est = e_raw
        yield pd.DataFrame(
            {
                "event_type": [grp],
                "occupied": [occupied],
                "v_zero": [v],
                "est_distinct": [est],
            }
        )

    return stream.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=HLL_SCHEMA,
        stateStructType=_HLL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


KMV_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("v_hashes", T.LongType()),
        T.StructField("kth_hash", T.LongType()),
        T.StructField("est_distinct", T.DoubleType()),
    ]
)
_KMV_STATE = T.StructType(
    [T.StructField("hashes", T.ArrayType(T.LongType()))]
)


def streaming_kmv(stream: DataFrame, k: int = 64) -> DataFrame:
    """Streaming k-minimum-values distinct estimator per group — the
    stateful twin of sketches.kmv_distinct_by, completing the
    streaming cardinality pair beside [[streaming_hll]]: the state is
    the sorted list of the k SMALLEST distinct 31-bit hashes (KMV's
    textbook property — bounded state, mergeable by
    union-sort-truncate, arrival-order-free), updated per micro-batch
    and emitted as the Beyer-et-al unbiased estimate
    (k-1) * P / (h_(k) + 1) after every batch (exact count while the
    state is not yet full).

    Exactness contract: the state is a SET operation fixpoint — the k
    smallest distinct hashes of the prefix seen so far, identical
    under any batch split — and the estimate is one fixed
    multiply-divide chain, so after the final batch the emitted row
    hash-matches the batch SQL oracle bit-for-bit (availableNow = one
    batch in the gate replay).

    Per-batch work is one vectorized hash pipeline + one
    union-unique-truncate; state is O(k) longs per group.
    """
    P = 2147483647

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        grp = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[rows["key"].notna()]
        if len(rows) == 0:
            return
        kk = np.abs(rows["key"].astype("int64").to_numpy()) % P
        h = mix31_np(kk * MIX31_A + 12345)
        prev = (
            np.array(state.get[0], dtype=np.int64)
            if state.exists
            else np.empty(0, dtype=np.int64)
        )
        merged = np.unique(np.concatenate([prev, h]))[: int(k)]
        state.update(([int(v) for v in merged],))
        v = int(len(merged))
        if v < int(k):
            kth = None
            est = float(v)
        else:
            kth = int(merged[int(k) - 1])
            est = float(k - 1) * float(P) / (float(kth) + 1.0)
        yield pd.DataFrame(
            {
                "event_type": [grp],
                "v_hashes": [v],
                "kth_hash": [kth],
                "est_distinct": [est],
            }
        )

    return stream.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=KMV_SCHEMA,
        stateStructType=_KMV_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_steps", T.LongType()),
        T.StructField("level", T.DoubleType()),
    ]
)
_EWMA_STATE = T.StructType(
    [
        T.StructField("level", T.DoubleType()),
        T.StructField("n_steps", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def streaming_ewma(stream: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Streaming per-conversation EWMA level tracker — the stateful
    twin of the batch [[q_ewm_smooth]] fold: state is (level, step
    count, last ts); each micro-batch folds its conversation's new
    DISTINCT-timestamp steps in ts order into the level

        l <- alpha * xbar_t + (1 - alpha) * l

    with same-ts turns collapsed to their MEAN first (the
    [[streaming_cusum]] tie convention: a stream carries no turn_idx,
    so only a per-distinct-ts emission is deterministic under
    arrival interleaving; the mean of an integer-signal tie group is
    an exact sum and one division in any order).

    Exactness contract: with batches arriving in event-time order
    (an append log), the fold visits the same (ts, xbar) sequence as
    the batch oracle's ts-ordered list_reduce, and every step is the
    identical two-multiply-one-add chain — the final emitted level
    hash-matches the SQL replay bit-for-bit (availableNow = one
    batch in the gate).

    Per-batch work is one sort + one groupby per conversation slice;
    state is O(1) per conversation.
    """
    a = float(alpha)

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        conv = key[0]
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[rows["signal"].notna()]
        if len(rows) == 0:
            return
        ts_us = rows["ts"].astype("int64")
        df = pd.DataFrame({"t": ts_us, "x": rows["signal"].astype("float64")})
        steps = df.groupby("t", sort=True)["x"].agg(["sum", "count"])
        if state.exists:
            level, n_steps, last = state.get
        else:
            level, n_steps, last = None, 0, -(2**62)
        for t, row in steps.iterrows():
            if t <= last:
                continue  # late duplicate of an already-folded step
            xbar = float(row["sum"]) / float(row["count"])
            level = xbar if level is None else a * xbar + (1.0 - a) * level
            n_steps += 1
            last = int(t)
        state.update((level, int(n_steps), int(last)))
        yield pd.DataFrame(
            {"conv_id": [conv], "n_steps": [n_steps], "level": [level]}
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=EWMA_SCHEMA,
        stateStructType=_EWMA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CMS_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("exact_in_batch", T.LongType()),
        T.StructField("cms_est", T.LongType()),
        T.StructField("overcount", T.LongType()),
    ]
)
_CMS_STATE = T.StructType(
    [T.StructField("counters", T.ArrayType(T.LongType()))]
)

_CMS_D = 4
_CMS_W = 64
_CMS_SALTS = (11, 101, 1009, 10007)


def streaming_cms(stream: DataFrame) -> DataFrame:
    """Streaming Count-Min sketch over the event-type stream — the
    counting member of the stateful sketch family beside
    [[streaming_hll]] (distinct) and [[streaming_kmv]] (distinct,
    mergeable): state is the fixed d x w = 4 x 64 counter matrix;
    each batch scatters its GROUP's key occurrences into the d
    salted hash rows, and the emission reports each event type's CM
    estimate (min over rows) beside its true in-state count — the
    overcount IS the sketch's collision error, surfaced rather than
    hidden.

    To exercise collisions deterministically the sketch is GLOBAL
    (single group key ''): every event type lands in the same
    counter matrix, so unrelated keys can share buckets exactly as
    they would at 10^12 scale with real cardinalities.

    Exactness contract: counter increments are commutative exact
    integers — ANY arrival order and batch split yield the same
    matrix; the estimate is an integer min. The final emission
    hash-matches the SQL oracle's declarative replay (bucket sums
    per salted hash row) bit-for-bit.

    Per-batch work is one vectorized value_counts + np.add.at;
    state is O(d w) regardless of stream size.
    """

    def _h(key_codes: np.ndarray, salt: int) -> np.ndarray:
        return mix31_np(key_codes * salt + 12345) % _CMS_W

    def fn(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[rows["event_type"].notna()]
        if len(rows) == 0:
            return
        counts = rows.groupby("event_type", sort=True).size()
        mat = (
            np.array(state.get[0], dtype=np.int64).reshape(_CMS_D, _CMS_W)
            if state.exists
            else np.zeros((_CMS_D, _CMS_W), dtype=np.int64)
        )
        # stable per-key integer code: fold the md5 prefix of the key
        import hashlib

        codes = {
            k: int(hashlib.md5(k.encode()).hexdigest()[:15], 16)
            % 2147483647
            for k in counts.index
        }
        for k, c in counts.items():
            for d, salt in enumerate(_CMS_SALTS):
                b = int(_h(np.array([codes[k]]), salt)[0])
                mat[d, b] += int(c)
        state.update(([int(v) for v in mat.reshape(-1)],))
        # emit per seen key: estimate vs exact-in-state is not
        # recoverable (state holds no per-key truth) — emit exact
        # IN-BATCH count and the CM estimate of the TOTAL so far
        out = []
        for k, c in counts.items():
            est = min(
                int(mat[d, int(_h(np.array([codes[k]]), salt)[0])])
                for d, salt in enumerate(_CMS_SALTS)
            )
            out.append((k, int(c), est))
        df = pd.DataFrame(out, columns=["event_type", "exact_in_batch", "cms_est"])
        df["overcount"] = df["cms_est"] - df["exact_in_batch"]
        yield df

    keyed = stream.select(F.lit("").alias("_g"), "event_type")
    return keyed.groupBy("_g").applyInPandasWithState(
        fn,
        outputStructType=CMS_SCHEMA,
        stateStructType=_CMS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
