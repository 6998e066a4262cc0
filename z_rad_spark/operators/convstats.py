"""Per-conversation sufficient statistics: one table row per member
operator, one plan-building function.

The conversation-level operators that reduce a conversation to exact
integer sufficient statistics and then to a fixed chain of single IEEE
ops (``profile.signal_trend``, ``temporal_profile``,
``response_latency``, ``pair_signal_correlation``, ``changepoint``, the
gap side of ``arrival_stats``, ``theil_sen_trend``, and
``sessionize.role_transitions`` / ``autocorr_features``) each have ONE
row here, and :func:`build` is the only code that turns rows into a
plan. A member operator is :func:`build` over its own row;
``profile.conversation_features`` is :func:`build` over all of them, so
every formula is spelled once and the fused table cannot drift from
its members.

A row (:class:`Member`) is SQL text, parsed once in the JVM (the
Column-API construction of the fused table cost seconds of py4j
round-trips):

* ``turn`` — the turn-level columns the member reads, over the one
  ``PARTITION BY conv_id ORDER BY ts, turn_idx`` window. Members that
  read the same column spell it through the same helper below, so the
  fused projection computes it once; a name bound to two different
  texts is an error.
* ``aggs`` — its member-prefixed ``groupBy(conv_id)`` aggregates: exact
  longs, counts, min/max, a struct max or a sorted collect — all
  aggregation-order-insensitive, so any partitioning gives the same
  bits (identical aggregates of two members are computed once by the
  planner).
* ``post`` — per-conversation steps between the aggregate and the
  outputs, only where a later step reads an earlier non-trivial one
  (Theil-Sen's sorted slope array feeds two medians).
* ``out`` — its output expressions over the aggregates.

The window and the groupBy share conv_id, so one hash exchange serves
the whole build. The DuckDB oracles replay every chain bit-for-bit.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .exprs import _sql_literal, sorted_median_sql

W = "PARTITION BY conv_id ORDER BY ts, turn_idx"  # skew.conv_window as SQL
CUM = f"{W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
TS_US = "unix_micros(CAST(ts AS TIMESTAMP))"
HOUR_BUCKET = f"CAST(({TS_US} - {TS_US} % 3600000000) / 3600000000 AS BIGINT)"
ROLES = ("assistant", "system", "tool", "user")


class Member(NamedTuple):
    """One table row: (name, SQL) pairs for each stage (module doc)."""

    turn: tuple
    aggs: tuple
    out: tuple
    post: tuple = ()

    def pick(self, *keep: str, **rename: str) -> "Member":
        """This row emitting only the outputs named: ``keep`` as they
        are, ``rename`` as old=new."""
        out = dict(self.out)
        names = {**{k: k for k in keep}, **rename}
        return self._replace(out=tuple((new, out[old]) for old, new in names.items()))


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _as(pairs) -> list:
    return [f"{sql} AS {_q(name)}" for name, sql in pairs]


def build(df: DataFrame, *members: Member) -> DataFrame:
    """One selectExpr of the members' turn columns, one
    ``groupBy("conv_id").agg`` of their aggregates, their post steps,
    and one selectExpr of their outputs: (conv_id, *outputs)."""
    turn: dict = {}
    for m in members:
        for name, sql in m.turn:
            if turn.setdefault(name, sql) != sql:
                raise ValueError(f"turn column {name} bound to {turn[name]!r} and {sql!r}")
    p = df.selectExpr("conv_id", *_as(turn.items()))
    g = p.groupBy("conv_id").agg(*map(F.expr, _as(a for m in members for a in m.aggs)))
    for m in members:
        for name, sql in m.post:
            g = g.withColumn(name, F.expr(sql))
    return g.selectExpr("conv_id", *_as(o for m in members for o in m.out))


# --- shared turn-level columns (one spelling each) ---------------------

def _x(sig: str):
    return ("_x", f"CAST({_q(sig)} AS BIGINT)")


def _lag_x(sig: str, k: int):
    return (f"_l{k}".replace("-", "m"), f"lag(CAST({_q(sig)} AS BIGINT), {int(k)}) OVER ({W})")


_TO = ("_to", "role")
_FROM = ("_from", f"lag(role) OVER ({W})")
_TS = ("_ts", TS_US)
_PREV = ("_prev", f"lag({TS_US}) OVER ({W})")


def _d(col: str) -> str:
    return f"CAST({col} AS DOUBLE)"


def _entropy_term(cnt: str, total: str) -> str:
    """-p * log2(p) of an exact count, exactly 0 for a zero count."""
    p = f"({_d(cnt)} / {total})"
    return f"CASE WHEN {_d(cnt)} > 0 THEN (-({p})) * LOG2({p}) ELSE 0.0D END"


# --- the table ----------------------------------------------------------

def trend(sig: str = "signal") -> Member:
    """profile.signal_trend: OLS of the signal on the turn ordinal."""
    n, si, sii, sx, sxx, six = (_d(f"_st_{c}") for c in ("n", "si", "sii", "sx", "sxx", "six"))
    num = f"({n} * {six} - {si} * {sx})"
    den = f"({n} * {sii} - {si} * {si})"
    varx = f"({n} * {sxx} - {sx} * {sx})"
    slope = f"({num} / {den})"
    ok = f"(_st_n > 1 AND {den} != 0.0D)"
    return Member(
        turn=(_x(sig), ("_i", f"CAST(row_number() OVER ({W}) - 1 AS BIGINT)")),
        aggs=(
            ("_st_n", "count(_x)"),
            ("_st_si", "sum(CASE WHEN _x IS NOT NULL THEN _i END)"),
            ("_st_sii", "sum(CASE WHEN _x IS NOT NULL THEN _i * _i END)"),
            ("_st_sx", "sum(_x)"),
            ("_st_sxx", "sum(_x * _x)"),
            ("_st_six", "sum(_i * _x)"),
        ),
        out=(
            ("n", "CAST(_st_n AS BIGINT)"),
            ("slope", f"CASE WHEN {ok} THEN {slope} END"),
            ("intercept", f"CASE WHEN {ok} THEN ({sx} - {slope} * {si}) / {n} END"),
            ("r", f"CASE WHEN ({ok} AND {varx} > 0) THEN {num} / (SQRT({den}) * SQRT({varx})) END"),
        ),
    )


def hours() -> Member:
    """profile.temporal_profile: hour-of-day histogram, night/weekend."""
    n = _d("_tp_n")
    peak_c = "greatest(" + ", ".join(f"_tp_h{h}" for h in range(24)) + ")"
    peak_h = "coalesce(" + ", ".join(
        f"CASE WHEN _tp_h{h} = {peak_c} THEN {h} END" for h in range(24)
    ) + ")"
    return Member(
        turn=(
            ("_hr", "hour(CAST(ts AS TIMESTAMP))"),
            ("_dw", "dayofweek(CAST(ts AS TIMESTAMP))"),  # 1=Sun .. 7=Sat
        ),
        aggs=(
            ("_tp_n", "count(1)"),
            ("_tp_night", "count(CASE WHEN _hr <= 5 THEN 1 END)"),
            ("_tp_wkend", "count(CASE WHEN _dw IN (1, 7) THEN 1 END)"),
            *((f"_tp_h{h}", f"count(CASE WHEN _hr = {h} THEN 1 END)") for h in range(24)),
        ),
        out=(
            ("n", "CAST(_tp_n AS BIGINT)"),
            ("peak_hour", f"CAST({peak_h} AS INT)"),
            ("peak_frac", f"{_d(peak_c)} / {n}"),
            ("hour_entropy", " + ".join(_entropy_term(f"_tp_h{h}", n) for h in range(24))),
            ("night_frac", f"{_d('_tp_night')} / {n}"),
            ("weekend_frac", f"{_d('_tp_wkend')} / {n}"),
        ),
    )


def _pair(from_role: str, to_role: str) -> str:
    return (
        f"(_to = {_sql_literal(to_role, 'STRING')} "
        f"AND _from = {_sql_literal(from_role, 'STRING')})"
    )


def latency(from_role: str = "user", to_role: str = "assistant") -> Member:
    """profile.response_latency: to_role turns right after from_role."""
    pair, gap = _pair(from_role, to_role), "(_ts - _prev)"
    return Member(
        turn=(_TO, _FROM, _TS, _PREV),
        aggs=(
            ("_rl_n", f"CAST(count(CASE WHEN {pair} THEN {gap} END) AS BIGINT)"),
            ("_rl_sum", f"sum(CASE WHEN {pair} THEN {gap} END)"),
            ("_rl_min", f"min(CASE WHEN {pair} THEN {gap} END)"),
            ("_rl_max", f"max(CASE WHEN {pair} THEN {gap} END)"),
        ),
        out=(
            ("n_resp", "CASE WHEN _rl_n > 0 THEN _rl_n END"),
            ("mean_us", f"CASE WHEN _rl_n > 0 THEN {_d('_rl_sum')} / {_d('_rl_n')} END"),
            ("min_us", "_rl_min"),
            ("max_us", "_rl_max"),
        ),
    )


def coupling(prompt_role: str = "user", response_role: str = "assistant",
             sig: str = "signal") -> Member:
    """profile.pair_signal_correlation: Pearson r of adjacent
    (prompt, response) signals."""
    pc = f"({_pair(prompt_role, response_role)} AND _l1 IS NOT NULL AND _x IS NOT NULL)"
    n, sx, sy, sxy, sxx, syy = (_d(f"_pc_{c}") for c in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    num = f"({n} * {sxy} - {sx} * {sy})"
    vx = f"({n} * {sxx} - {sx} * {sx})"
    vy = f"({n} * {syy} - {sy} * {sy})"
    return Member(
        turn=(_x(sig), _lag_x(sig, 1), _TO, _FROM),
        aggs=(
            ("_pc_n", f"CAST(count(CASE WHEN {pc} THEN 1 END) AS BIGINT)"),
            ("_pc_sx", f"sum(CASE WHEN {pc} THEN _l1 END)"),
            ("_pc_sy", f"sum(CASE WHEN {pc} THEN _x END)"),
            ("_pc_sxy", f"sum(CASE WHEN {pc} THEN _l1 * _x END)"),
            ("_pc_sxx", f"sum(CASE WHEN {pc} THEN _l1 * _l1 END)"),
            ("_pc_syy", f"sum(CASE WHEN {pc} THEN _x * _x END)"),
        ),
        out=(
            ("n_pairs", "CASE WHEN _pc_n > 0 THEN _pc_n END"),
            ("mean_prompt", f"{sx} / {n}"),
            ("mean_response", f"{sy} / {n}"),
            ("r", f"CASE WHEN (_pc_n > 1 AND {vx} > 0 AND {vy} > 0) THEN {num} / SQRT({vx} * {vy}) END"),
        ),
    )


def changepoint(sig: str = "signal") -> Member:
    """profile.changepoint: argmax over t < n of the exact long
    G_t = |n * S_t - t * S_n| (ties to the earliest t), NULL when n < 2."""
    xl = f"CAST({_q(sig)} AS BIGINT)"
    cand = (
        "named_struct('g', abs(_cp_nn * _cs - _ct * _cp_sn), 'negt', -_ct, 't', _ct, "
        "'ts', _ts, 'st', _cs, 'sn', _cp_sn, 'n', _cp_nn)"
    )
    t, n = _d("_cp_b.t"), _d("_cp_b.n")
    ml = f"({_d('_cp_b.st')} / {t})"
    mr = f"({_d('(_cp_b.sn - _cp_b.st)')} / ({n} - {t}))"
    return Member(
        turn=(
            _TS,
            ("_cs", f"sum({xl}) OVER ({CUM})"),
            ("_ct", f"count(*) OVER ({CUM})"),
            ("_cp_sn", f"sum({xl}) OVER (PARTITION BY conv_id)"),
            ("_cp_nn", "count(*) OVER (PARTITION BY conv_id)"),
        ),
        aggs=(
            ("_cp_n", "count(1)"),
            ("_cp_b", f"max(CASE WHEN _ct < _cp_nn THEN {cand} END)"),
        ),
        out=(
            ("n_turns", "CAST(_cp_n AS BIGINT)"),
            ("cp_turn", "CAST(_cp_b.t - 1 AS BIGINT)"),
            ("cp_ts_us", "CAST(_cp_b.ts AS BIGINT)"),
            ("mean_left", ml),
            ("mean_right", mr),
            ("mean_gap", f"{mr} - {ml}"),
            ("g_stat", f"{_d('_cp_b.g')} / ({n} * {n})"),
        ),
    )


def gaps() -> Member:
    """The gap side of profile.arrival_stats: whole-second inter-arrival
    mean, CV and Goh-Barabási burstiness."""
    gap_s = (
        "CAST(CASE WHEN _prev IS NOT NULL THEN "
        "(((_ts - _prev) - (_ts - _prev) % 1000000) / 1000000) END AS BIGINT)"
    )
    ng, sg, sgg = _d("_ar_ng"), _d("_ar_sg"), _d("_ar_sgg")
    mu = f"({sg} / CASE WHEN {ng} > 0 THEN {ng} END)"
    sd = f"SQRT((({ng} * {sgg} - {sg} * {sg}) / CASE WHEN {ng} > 0 THEN {ng} * {ng} END))"
    span = "(_ar_last - _ar_first)"
    return Member(
        turn=(_TS, _PREV),
        aggs=(
            ("_ar_n", "count(1)"),
            ("_ar_first", "min(_ts)"),
            ("_ar_last", "max(_ts)"),
            ("_ar_ng", f"CAST(count({gap_s}) AS BIGINT)"),
            ("_ar_sg", f"coalesce(sum({gap_s}), 0)"),
            ("_ar_sgg", f"coalesce(sum({gap_s} * {gap_s}), 0)"),
        ),
        out=(
            ("n_turns", "CAST(_ar_n AS BIGINT)"),
            ("span_s", f"CAST(({span} - {span} % 1000000) / 1000000 AS BIGINT)"),
            ("mean_gap_s", f"CASE WHEN _ar_ng > 0 THEN {mu} END"),
            ("cv_gap", f"CASE WHEN (_ar_ng > 0 AND {mu} > 0) THEN {sd} / {mu} END"),
            ("burstiness",
             f"CASE WHEN (_ar_ng > 0 AND ({sd} + {mu}) > 0) THEN ({sd} - {mu}) / ({sd} + {mu}) END"),
        ),
    )


def transitions(roles: tuple = ROLES) -> Member:
    """sessionize.role_transitions: the |roles|^2 lag-1 role counts and
    their entropy chains, in the fixed (prev, next) grid order."""
    lit = [_sql_literal(r, "STRING") for r in roles]
    k = range(len(roles))
    c = [[f"_rt_c{i}_{j}" for j in k] for i in k]
    n = _d("_rt_n")
    ent = " + ".join(_entropy_term(c[i][j], n) for i in k for j in k)
    prev_ent = " + ".join(_entropy_term(f"({' + '.join(c[i])})", n) for i in k)
    nz = " + ".join(f"CASE WHEN {c[i][j]} > 0 THEN 1 ELSE 0 END" for i in k for j in k)
    has = "_rt_n > 0"
    return Member(
        turn=(_TO, _FROM),
        aggs=(
            ("_rt_n", "count(_from)"),
            *((c[i][j], f"count(CASE WHEN (_from = {lit[i]} AND _to = {lit[j]}) THEN 1 END)")
              for i in k for j in k),
        ),
        out=(
            ("n_trans", "CAST(_rt_n AS BIGINT)"),
            ("n_distinct_trans", f"CAST(CASE WHEN {has} THEN {nz} END AS BIGINT)"),
            ("self_loop_ratio",
             f"CASE WHEN {has} THEN {_d(' + '.join(c[i][i] for i in k))} / {n} END"),
            ("trans_entropy", f"CASE WHEN {has} THEN {ent} END"),
            ("prev_entropy", f"CASE WHEN {has} THEN {prev_ent} END"),
            # H(next | prev) = H(pair) - H(prev): the Markov predictability
            ("cond_entropy", f"CASE WHEN {has} THEN ({ent}) - ({prev_ent}) END"),
        ),
    )


def autocorr(sig: str = "signal", lags: tuple = (1, 2, 3)) -> Member:
    """sessionize.autocorr_features: lag-k autocorrelation from exact
    long pair sums, num_k = P_k - m*A_k - m*B_k + m_k*m*m."""
    n = _d("_ac_n")
    mean = f"({_d('_ac_s1')} / {n})"
    den = f"({_d('_ac_s2')} - {n} * {mean} * {mean})"
    turn, aggs, out = [_x(sig)], [
        ("_ac_n", "count(_x)"), ("_ac_s1", "sum(_x)"), ("_ac_s2", "sum(_x * _x)")
    ], [("n", "CAST(_ac_n AS BIGINT)")]
    for j, k in enumerate(lags):
        lk = _lag_x(sig, k)
        turn.append(lk)
        both = f"(_x IS NOT NULL AND {lk[0]} IS NOT NULL)"
        aggs += [
            (f"_ac_m{j}", f"count(CASE WHEN {both} THEN 1 END)"),
            (f"_ac_p{j}", f"sum(_x * {lk[0]})"),
            (f"_ac_a{j}", f"sum(CASE WHEN {both} THEN _x END)"),
            (f"_ac_b{j}", f"sum(CASE WHEN {both} THEN {lk[0]} END)"),
        ]
        num = (
            f"({_d(f'_ac_p{j}')} - {mean} * {_d(f'_ac_a{j}')} - {mean} * {_d(f'_ac_b{j}')}"
            f" + {_d(f'_ac_m{j}')} * {mean} * {mean})"
        )
        out.append((f"ac_{k}", f"CASE WHEN (_ac_m{j} > 0 AND {den} != 0.0D) THEN {num} / {den} END"))
    return Member(turn=tuple(turn), aggs=tuple(aggs), out=tuple(out))


def theil_sen(sig: str = "signal", carry: tuple = ()) -> Member:
    """profile.theil_sen_trend: median pairwise slope and median
    residual over the (ts, turn_idx)-sorted signal array ``_sen_a``;
    ``carry`` adds (name, SQL) turn columns to its elements."""
    fields = (("ts", "ts"), ("turn_idx", "turn_idx"), ("_y", f"CAST({_q(sig)} AS DOUBLE)")) + carry
    struct = ", ".join(f"'{name}', {name}" for name, _ in fields)
    n = "size(_sen_ys)"
    slopes = (
        f"array_sort(flatten(transform(sequence(0, {n} - 2), "
        f"i -> transform(sequence(i + 1, {n} - 1), "
        f"j -> (get(_sen_ys, j) - get(_sen_ys, i)) / CAST(j - i AS DOUBLE)))))"
    )
    resid = (
        f"CASE WHEN {n} >= 2 THEN array_sort(transform(sequence(0, {n} - 1), "
        f"i -> get(_sen_ys, i) - _sen_slope * CAST(i AS DOUBLE))) END"
    )
    return Member(
        turn=fields,
        aggs=(
            ("_sen_a", f"sort_array(collect_list(named_struct({struct})))"),
            ("_sen_n", "count(1)"),
        ),
        post=(
            ("_sen_ys", "transform(_sen_a, s -> s._y)"),
            ("_sen_s", f"CASE WHEN {n} >= 2 THEN {slopes} END"),
            ("_sen_slope", f"CASE WHEN {n} >= 2 THEN {sorted_median_sql('_sen_s')} END"),
            ("_sen_icpt", f"CASE WHEN {n} >= 2 THEN {sorted_median_sql(f'({resid})')} END"),
        ),
        out=(
            ("n_turns", "CAST(_sen_n AS BIGINT)"),
            ("sen_slope", "_sen_slope"),
            ("sen_intercept", "_sen_icpt"),
        ),
    )
