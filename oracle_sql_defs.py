"""DuckDB oracle SQL for every SQL-expressible query in __spark_entry__.

Each oracle embeds the SAME deterministic events->transcripts derivation
the Spark engine uses (z_rad_spark/transcripts.py from_events; ``T``
below, the same SQL as __spark_entry__.DUCK_T), so both engines compute
over identical rows. Output conventions mirror the Spark side exactly:
ROUND(x, 6) + 0 for doubles (the +0 normalizes -0.0), BIGINT epoch
micros for timestamps, explicit casts for counts.

Dialect notes vs Spark SQL (why these strings differ from the engine's
expressions): DuckDB needs the 'g' flag on regexp_replace, CAST rounds
double->int (so FLOOR first), '/' on integers is float division (so
FLOOR + CAST), and quantile_cont replaces percentile.
"""

import math

T = """
  SELECT 'c' || CAST(user_id AS STRING) AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
         CASE WHEN event_type IN ('click','view') THEN 'user'
              WHEN event_type = 'error' THEN 'system'
              WHEN event_type = 'purchase' THEN 'tool'
              ELSE 'assistant' END AS role,
         TRIM(REPEAT(event_type || ' ', CAST(1 + ABS(CAST(FLOOR(value) AS INT)) % 9 AS INT))) AS text,
         CASE WHEN event_type = 'purchase' THEN 'checkout'
              WHEN event_type = 'signup' THEN 'register'
              ELSE CAST(NULL AS STRING) END AS tool,
         ts,
         CAST(1 + ABS(CAST(FLOOR(value) AS INT)) % 9 AS DOUBLE) AS signal
  FROM events
"""

CUTOFFS = ["2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-22 00:00:00"]
GRID = "(VALUES " + ", ".join(f"(TIMESTAMP '{c}')" for c in CUTOFFS) + ")"
GAP = 1800
N_BINS = 5

NORM_DOC = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
TOKS_DOC = f"string_split({NORM_DOC}, ' ')"
TOKS_RAW = "string_split_regex(lower(trim(text)), '\\s+')"

_STOPWORDS = (
    "'the','and','of','to','is',"
    "'der','die','und','nicht','ist',"
    "'le','la','et','les','est',"
    "'el','que','de','es'"
)
# NOTE: 'la' appears in both fr and es marker lists; the flat stopword set
# dedups it exactly like Spark's isin over the flattened list.


def r6x(expr: str) -> str:
    """Spark-parity 6dp rounding. Spark's round() HALF_UPs the SHORTEST
    DECIMAL REPR of the double (BigDecimal.valueOf); DuckDB's ROUND on
    DOUBLE follows the exact binary expansion — the two disagree exactly
    when the shortest repr ends in ...5 at the 7th digit and the binary
    value sits on the other side of the boundary (found at sf0.1 group
    counts: cm_energy 0.0634375 et al). The VARCHAR -> DECIMAL round-trip
    reproduces Spark bit-for-bit; NaN/inf pass through unrounded (the
    driver compare already treats Spark-NULL == oracle-NaN as equal).
    Scale 18 matters: a double's shortest repr has <= 17 significant
    digits, so pre-rounding at scale 18 can never flip the 7th decimal
    (scale 15 could — double-rounding through digits 7..15).

    Magnitude guard: DECIMAL(38,18) holds only 20 integer digits, so a
    finite |x| >= 1e20 would make the CAST error out (gate breaks with a
    cast error instead of a value mismatch). Above 1e12 the double's ulp
    spacing already exceeds 1e-4 > 1e-6, so 6dp rounding is the identity
    in BOTH engines — plain ROUND is exact there and the decimal
    round-trip is only applied where it matters (|x| < 1e12)."""
    d = f"CAST({expr} AS DOUBLE)"
    return (
        f"CASE WHEN isfinite({d}) AND ABS({d}) < 1e12 THEN "
        f"CAST(ROUND(CAST(CAST({d} AS VARCHAR) AS DECIMAL(38,18)), 6) AS DOUBLE) + 0 "
        f"WHEN isfinite({d}) THEN ROUND({d}, 6) + 0 "
        f"ELSE {d} END"
    )


def r6(expr: str, alias: str) -> str:
    return f"{r6x(expr)} AS {alias}"


# ---------------------------------------------------------------------------
# deterministic first-order value algebra (mirror of
# z_rad_spark/kernels/firstorder._det_stats — see its docstring): every
# statistic is ONE fixed expression tree over exact aggregates, so DuckDB
# produces bit-identical doubles to NumPy/Spark for integer-valued
# signals regardless of scan order or thread count. quantile_cont /
# var_pop / AVG(POW(x-mean,k)) are all order- or algorithm-dependent at
# the last ulp, which flips the 6th decimal exactly when the true value
# is dyadic (e.g. 279/128) — common for integer data.
# ---------------------------------------------------------------------------

_QFRACS = (("10", "0.1"), ("25", "0.25"), ("50", "0.5"), ("75", "0.75"), ("90", "0.9"))


def _lerp6(qf: str, a: str, b: str, n: str = "n") -> str:
    """NumPy-convention linear-interp percentile (same tree as
    kernels/firstorder._pct_sorted): h=(n-1)*qf, t=h-floor(h);
    t=0 -> a; t>=0.5 -> b-(b-a)*(1-t); else a+(b-a)*t."""
    h = f"(CAST({n} - 1 AS DOUBLE) * CAST({qf} AS DOUBLE))"
    t = f"({h} - FLOOR({h}))"
    return (
        f"CASE WHEN {t} = 0 THEN {a} "
        f"WHEN {t} >= 0.5 THEN {b} - ({b} - {a}) * (1.0 - {t}) "
        f"ELSE {a} + ({b} - {a}) * {t} END"
    )


def det_stats_ctes(src: str, keys: list, p: str = "ds_") -> str:
    """CTE chain over ``src``(keys..., x) ending in ``{p}stats`` with the
    18 first-order statistics under the deterministic value algebra.
    Embed inside a WITH list (the caller supplies the leading comma)."""
    K = ", ".join(keys)
    rank_cols = []
    for nm, qf in _QFRACS:
        j = f"CAST(FLOOR(CAST(n - 1 AS DOUBLE) * CAST({qf} AS DOUBLE)) AS BIGINT)"
        rank_cols.append(f"MAX(CASE WHEN rn = {j} + 1 THEN x END) AS a{nm}")
        rank_cols.append(f"MAX(CASE WHEN rn = {j} + 2 THEN x END) AS b{nm}")
    ranks = ",\n         ".join(rank_cols)
    t10 = (
        "(CAST(n - 1 AS DOUBLE) * CAST(0.1 AS DOUBLE))"
        " - FLOOR(CAST(n - 1 AS DOUBLE) * CAST(0.1 AS DOUBLE))"
    )
    pcts = ",\n         ".join(
        f"{_lerp6(qf, 'a' + nm, 'b' + nm)} AS p{nm}" for nm, qf in _QFRACS
    )
    trim = "r.x >= p.lo_b AND r.x <= p.hi_b"
    return f"""{p}rnk AS MATERIALIZED (
  SELECT {K}, x,
         ROW_NUMBER() OVER (PARTITION BY {K} ORDER BY x) AS rn,
         COUNT(*) OVER (PARTITION BY {K}) AS n
  FROM {src}
),
{p}bas AS MATERIALIZED (
  SELECT {K}, MAX(n) AS n,
         SUM(x) AS s1, SUM(x * x) AS s2, SUM(x * (x * x)) AS s3,
         SUM((x * x) * (x * x)) AS s4,
         MIN(x) AS mn, MAX(x) AS mx,
         {ranks}
  FROM {p}rnk GROUP BY {K}
),
{p}pct AS MATERIALIZED (
  SELECT {K}, n, s1, s2, s3, s4, mn, mx,
         s1 / n AS mean,
         GREATEST(s2 / n - (s1 / n) * (s1 / n), 0.0) AS var,
         {pcts},
         CASE WHEN {t10} > 0 AND b10 > a10 THEN b10 ELSE a10 END AS lo_b,
         a90 AS hi_b
  FROM {p}bas
),
{p}dev AS MATERIALIZED (
  SELECT {K},
         SUM(ABS(r.n * r.x - p.s1)) AS sad1,
         SUM(ABS(r.x - p.p50)) AS sadmed,
         COUNT(CASE WHEN {trim} THEN 1 END) AS m,
         SUM(CASE WHEN {trim} THEN r.x END) AS st
  FROM {p}rnk r JOIN {p}pct p USING ({K})
  GROUP BY {K}
),
{p}rm AS MATERIALIZED (
  SELECT {K},
         SUM(CASE WHEN {trim} THEN ABS(d.m * r.x - d.st) END) AS sadt
  FROM {p}rnk r JOIN {p}pct p USING ({K}) JOIN {p}dev d USING ({K})
  GROUP BY {K}
),
{p}stats AS (
  SELECT {K}, n, mean, var,
         CASE WHEN var = 0 THEN 0.0
              ELSE (s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean)
                   / (var * SQRT(var)) END AS skew,
         CASE WHEN var = 0 THEN 0.0
              ELSE (s4 / n - 4.0 * mean * (s3 / n) + 6.0 * (mean * mean) * (s2 / n)
                    - 3.0 * ((mean * mean) * (mean * mean))) / (var * var) - 3.0 END AS kurt,
         p50 AS med, mn, p10, p25, p75, p90, mx,
         p75 - p25 AS iqr, mx - mn AS rng,
         sad1 / (n * n) AS mad,
         sadt / (m * m) AS rmad,
         sadmed / n AS medad,
         CASE WHEN mean = 0 THEN 1000000.0 ELSE SQRT(var) / mean END AS cov,
         CASE WHEN p75 + p25 = 0 THEN 1000000.0 ELSE (p75 - p25) / (p75 + p25) END AS qcod,
         s2 AS energy, SQRT(s2 / n) AS rms
  FROM {p}pct JOIN {p}dev USING ({K}) JOIN {p}rm USING ({K})
)"""


def det_hist_ctes(counts: str, keys: list, p: str = "dh_") -> str:
    """CTE chain over ``counts``(keys..., grey, c) ending in ``{p}hmom``
    with the deterministic histogram moments (mean/var/median/min/max/
    uniformity) — exact integer sums + order-statistic median, mirroring
    kernels/firstorder and operators/firstorder_sql.hist_asof."""
    K = ", ".join(keys)
    j50 = "CAST(FLOOR(CAST(n - 1 AS DOUBLE) * CAST(0.5 AS DOUBLE)) AS BIGINT)"
    return f"""{p}cnt AS MATERIALIZED (
  SELECT {K}, grey, CAST(c AS BIGINT) AS ci,
         SUM(CAST(c AS BIGINT)) OVER (PARTITION BY {K}) AS n,
         SUM(CAST(c AS BIGINT)) OVER (PARTITION BY {K} ORDER BY grey ROWS UNBOUNDED PRECEDING) AS cum
  FROM {counts}
),
{p}mom AS MATERIALIZED (
  SELECT {K}, MAX(n) AS n,
         SUM(ci * grey) AS s1, SUM(ci * (grey * grey)) AS s2,
         MIN(grey) AS mn_g, MAX(grey) AS mx_g,
         SUM(ci * ci) AS sc2,
         MAX(CASE WHEN cum - ci < {j50} + 1 AND {j50} + 1 <= cum THEN grey END) AS a50,
         MAX(CASE WHEN cum - ci < {j50} + 2 AND {j50} + 2 <= cum THEN grey END) AS b50
  FROM {p}cnt GROUP BY {K}
),
{p}hmom AS (
  SELECT {K}, n, s1 / n AS ih_mean,
         GREATEST(s2 / n - (s1 / n) * (s1 / n), 0.0) AS ih_var,
         {_lerp6('0.5', 'a50', 'b50')} AS ih_median,
         mn_g AS ih_min, mx_g AS ih_max,
         sc2 / (n * n) AS ih_uniformity
  FROM {p}mom
)"""


ORACLES: dict[str, str] = {}

ORACLES["q_transcripts"] = f"""
WITH t AS ({T})
SELECT conv_id, turn_idx, role, text, tool,
       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
       signal AS token_count
FROM t
"""

ORACLES["q_sessionize"] = f"""
WITH t AS ({T}),
g AS (
  SELECT conv_id, turn_idx,
         CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS DOUBLE) / 1e6 AS gap_sec
  FROM t
)
SELECT conv_id, turn_idx,
       CAST(SUM(CASE WHEN gap_sec > {GAP} THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT) AS session_id,
       {r6('gap_sec', 'gap_sec')}
FROM g
"""

ORACLES["q_lag_lead"] = f"""
WITH t AS ({T})
SELECT conv_id, turn_idx,
       signal AS tok,
       LAG(signal, 1) OVER w AS tok_lag1,
       LEAD(signal, 1) OVER w AS tok_lead1,
       LAG(signal, 2) OVER w AS tok_lag2,
       LEAD(signal, 2) OVER w AS tok_lead2,
       signal - LAG(signal, 1) OVER w AS tok_delta
FROM t
WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
"""

ORACLES["q_rolling_1h"] = f"""
WITH t AS ({T})
SELECT conv_id, turn_idx,
       {r6('SUM(signal) OVER w', 'roll_sum')},
       CAST(COUNT(signal) OVER w AS BIGINT) AS roll_n,
       {r6('(SUM(signal) OVER w) / (COUNT(signal) OVER w)', 'roll_mean')}
FROM t
WINDOW w AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

ORACLES["q_decay_sum"] = f"""
WITH t AS ({T}),
o AS (
  SELECT conv_id, turn_idx, signal, CAST(epoch_us(ts) AS DOUBLE) AS tu,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM t
)
SELECT a.conv_id, a.turn_idx,
       {r6('SUM(b.signal * EXP(-(a.tu - b.tu) / 3600000000.0))', 'decay_sum')}
FROM o a JOIN o b ON a.conv_id = b.conv_id AND b.rn <= a.rn
GROUP BY a.conv_id, a.turn_idx
"""

ORACLES["q_vocab"] = f"""
WITH t AS ({T})
SELECT conv_id,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_vocab,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM (SELECT conv_id, UNNEST(string_split(text, ' ')) AS tok FROM t)
GROUP BY conv_id
"""

ORACLES["q_asof_state"] = f"""
WITH t AS ({T}),
convs AS (SELECT DISTINCT conv_id FROM t),
probes AS (SELECT c.conv_id, g.as_of FROM convs c CROSS JOIN {GRID} g(as_of)),
j AS (
  SELECT p.conv_id, p.as_of, t.signal, t.role, t.turn_idx,
         ROW_NUMBER() OVER (PARTITION BY p.conv_id, p.as_of ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM probes p LEFT JOIN t ON t.conv_id = p.conv_id AND t.ts <= p.as_of
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us,
       signal AS last_tok, role AS last_role, CAST(turn_idx AS INT) AS last_turn_idx
FROM j WHERE rn = 1
"""

ORACLES["q_asof_enrich"] = f"""
WITH t AS ({T}),
probes AS (
  SELECT 'c' || CAST(o_custkey % 150 AS STRING) AS conv_id,
         CAST(1704067200000000 + (o_orderkey % 720) * 3600000000 AS BIGINT) AS as_of_us,
         CAST(o_orderkey AS BIGINT) AS o_orderkey,
         o_totalprice
  FROM orders
),
j AS (
  SELECT p.conv_id, p.as_of_us, p.o_orderkey, p.o_totalprice, t.signal, t.turn_idx,
         ROW_NUMBER() OVER (PARTITION BY p.o_orderkey ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM probes p LEFT JOIN t ON t.conv_id = p.conv_id AND epoch_us(t.ts) <= p.as_of_us
)
SELECT conv_id, as_of_us, o_orderkey,
       {r6('o_totalprice', 'o_totalprice')},
       {r6('signal', 'last_tok')},
       CAST(turn_idx AS INT) AS last_turn_idx
FROM j WHERE rn = 1
"""

_GRID_DAYS = f"""
span AS (SELECT conv_id, date_trunc('minute', MIN(ts)) AS t0, MAX(ts) AS t1 FROM t GROUP BY conv_id),
grid AS (SELECT conv_id, UNNEST(generate_series(t0, t1, INTERVAL 1 DAY)) AS grid_ts FROM span)
"""

ORACLES["q_backfill_nn"] = f"""
WITH t AS ({T}),
{_GRID_DAYS},
j AS (
  SELECT g.conv_id, g.grid_ts, t.signal,
         ROW_NUMBER() OVER (PARTITION BY g.conv_id, g.grid_ts ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM grid g LEFT JOIN t ON t.conv_id = g.conv_id AND t.ts <= g.grid_ts
)
SELECT conv_id, CAST(epoch_us(grid_ts) AS BIGINT) AS grid_us, signal AS tok_locf
FROM j WHERE rn = 1
"""

ORACLES["q_backfill_linear"] = f"""
WITH t AS ({T}),
{_GRID_DAYS},
prev AS (
  SELECT conv_id, grid_ts, signal AS pv, ts AS pt FROM (
    SELECT g.conv_id, g.grid_ts, t.signal, t.ts,
           ROW_NUMBER() OVER (PARTITION BY g.conv_id, g.grid_ts ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
    FROM grid g LEFT JOIN t ON t.conv_id = g.conv_id AND t.ts <= g.grid_ts
  ) WHERE rn = 1
),
nxt AS (
  SELECT conv_id, grid_ts, signal AS nv, ts AS nt FROM (
    SELECT g.conv_id, g.grid_ts, t.signal, t.ts,
           ROW_NUMBER() OVER (PARTITION BY g.conv_id, g.grid_ts ORDER BY t.ts ASC, t.turn_idx ASC) AS rn
    FROM grid g LEFT JOIN t ON t.conv_id = g.conv_id AND t.ts > g.grid_ts
  ) WHERE rn = 1
),
lin AS (
  SELECT p.conv_id, p.grid_ts,
         CASE WHEN p.pv IS NULL THEN n.nv
              WHEN n.nv IS NULL THEN p.pv
              WHEN epoch_us(n.nt) = epoch_us(p.pt) THEN p.pv
              ELSE p.pv + (n.nv - p.pv) * CAST(epoch_us(p.grid_ts) - epoch_us(p.pt) AS DOUBLE)
                                          / CAST(epoch_us(n.nt) - epoch_us(p.pt) AS DOUBLE)
         END AS v
  FROM prev p LEFT JOIN nxt n ON p.conv_id = n.conv_id AND p.grid_ts = n.grid_ts
)
SELECT conv_id, CAST(epoch_us(grid_ts) AS BIGINT) AS grid_us, {r6('v', 'tok_lin')}
FROM lin
"""

# cubic: same prev/next scans as linear plus the rn=2 (second bracketing)
# rows; the Hermite algebra below textually mirrors the Spark expression
# tree (same literal forms, same left-associative order) so both engines
# execute the identical double-op sequence
ORACLES["q_backfill_cubic"] = f"""
WITH t AS ({T}),
{_GRID_DAYS},
pr AS (
  SELECT g.conv_id, g.grid_ts, t.signal, t.ts,
         ROW_NUMBER() OVER (PARTITION BY g.conv_id, g.grid_ts ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM grid g LEFT JOIN t ON t.conv_id = g.conv_id AND t.ts <= g.grid_ts
),
nx AS (
  SELECT g.conv_id, g.grid_ts, t.signal, t.ts,
         ROW_NUMBER() OVER (PARTITION BY g.conv_id, g.grid_ts ORDER BY t.ts ASC, t.turn_idx ASC) AS rn
  FROM grid g LEFT JOIN t ON t.conv_id = g.conv_id AND t.ts > g.grid_ts
),
w0 AS (
  SELECT p1.conv_id, p1.grid_ts,
         p1.signal AS v1, p1.ts AS pt1,
         p2.signal AS v0, p2.ts AS pt0,
         n1.signal AS v2, n1.ts AS nt1,
         n2.signal AS v3, n2.ts AS nt2
  FROM (SELECT * FROM pr WHERE rn = 1) p1
  LEFT JOIN (SELECT * FROM pr WHERE rn = 2) p2 USING (conv_id, grid_ts)
  LEFT JOIN (SELECT * FROM nx WHERE rn = 1) n1 USING (conv_id, grid_ts)
  LEFT JOIN (SELECT * FROM nx WHERE rn = 2) n2 USING (conv_id, grid_ts)
),
w1 AS (
  SELECT *,
         CAST(epoch_us(pt0) AS DOUBLE) / 1000000.0 AS t0s,
         CAST(epoch_us(pt1) AS DOUBLE) / 1000000.0 AS t1s,
         CAST(epoch_us(nt1) AS DOUBLE) / 1000000.0 AS t2s,
         CAST(epoch_us(nt2) AS DOUBLE) / 1000000.0 AS t3s,
         CAST(epoch_us(grid_ts) AS DOUBLE) / 1000000.0 AS tgs,
         epoch_us(nt1) - epoch_us(pt1) AS dt_us
  FROM w0
),
w2 AS (
  SELECT *,
         t2s - t1s AS h,
         CASE WHEN v0 IS NOT NULL AND t2s - t0s <> 0 THEN (v2 - v0) / (t2s - t0s)
              ELSE CASE WHEN t2s - t1s <> 0 THEN (v2 - v1) / (t2s - t1s) END END AS m1,
         CASE WHEN v3 IS NOT NULL AND t3s - t1s <> 0 THEN (v3 - v1) / (t3s - t1s)
              ELSE CASE WHEN t2s - t1s <> 0 THEN (v2 - v1) / (t2s - t1s) END END AS m2,
         CASE WHEN t2s - t1s <> 0 THEN (tgs - t1s) / (t2s - t1s) END AS s
  FROM w1
),
w3 AS (SELECT *, s * s AS s2, s * s * s AS s3 FROM w2),
cu AS (
  SELECT conv_id, grid_ts,
         CASE WHEN v1 IS NULL THEN v2
              WHEN v2 IS NULL THEN v1
              WHEN dt_us = 0 THEN v1
              ELSE (2 * s3 - 3 * s2 + 1) * v1 + (s3 - 2 * s2 + s) * h * m1
                   + (-2 * s3 + 3 * s2) * v2 + (s3 - s2) * h * m2
         END AS v
  FROM w3
)
SELECT conv_id, CAST(epoch_us(grid_ts) AS BIGINT) AS grid_us, {r6('v', 'tok_cubic')}
FROM cu
"""

ORACLES["q_backfill_gauss"] = f"""
WITH t AS ({T}),
{_GRID_DAYS},
j AS (
  SELECT g.conv_id, g.grid_ts,
         EXP(-0.5 * (CAST(epoch_us(g.grid_ts) - epoch_us(t.ts) AS DOUBLE) / 1000000.0 / 43200.0)
                  * (CAST(epoch_us(g.grid_ts) - epoch_us(t.ts) AS DOUBLE) / 1000000.0 / 43200.0)) AS w,
         t.signal AS v
  FROM grid g JOIN t ON t.conv_id = g.conv_id
       AND ABS(epoch_us(g.grid_ts) - epoch_us(t.ts)) <= 129600000000
),
a AS (
  SELECT conv_id, grid_ts, SUM(w * v) / SUM(w) AS v
  FROM j GROUP BY conv_id, grid_ts
)
SELECT g.conv_id, CAST(epoch_us(g.grid_ts) AS BIGINT) AS grid_us, {r6('a.v', 'tok_gauss')}
FROM grid g LEFT JOIN a ON a.conv_id = g.conv_id AND a.grid_ts = g.grid_ts
"""

ORACLES["q_backfill_mask"] = f"""
WITH t AS ({T})
SELECT conv_id,
       CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) * 86400000000 AS grid_us,
       {r6("AVG(CASE WHEN role IN ('user','assistant') THEN 1.0 ELSE 0.0 END)", 'eligible_frac')},
       AVG(CASE WHEN role IN ('user','assistant') THEN 1.0 ELSE 0.0 END) >= 0.5 AS eligible_bin
FROM t GROUP BY conv_id, FLOOR(epoch_us(ts) / 86400000000)
"""

ORACLES["q_decay_norm"] = f"""
WITH t AS ({T}),
t0 AS (SELECT conv_id, MIN(epoch_us(ts)) AS t0 FROM t GROUP BY conv_id)
SELECT t.conv_id, t.turn_idx,
       {r6('t.signal * EXP(-0.6931471805599453 * ((epoch_us(t.ts) - t0.t0) / 1e6) / 6586.2)', 'suv')}
FROM t JOIN t0 ON t.conv_id = t0.conv_id
"""

# SUV normalization factors (pet_suv.py:58-206 parity): the attribute
# frame replays synth_patient_attrs' numeric-suffix parse; every factor
# textually mirrors the Spark expression tree (left-assoc double ops)
ORACLES["q_suv_norm"] = f"""
WITH t AS ({T}),
ids AS (
  SELECT DISTINCT conv_id,
         ABS(CAST(regexp_replace(conv_id, '[^0-9]', '', 'g') AS BIGINT)) AS uid
  FROM t
),
attrs AS (
  SELECT conv_id,
         50.0 + CAST(uid % 50 AS DOUBLE) AS weight_kg,
         150.0 + CAST(uid % 40 AS DOUBLE) AS height_cm,
         CASE CAST(uid % 3 AS INT) WHEN 0 THEN 'M' WHEN 1 THEN 'F' ELSE 'O' END AS sex
  FROM ids
),
f0 AS (
  SELECT *,
         POW(weight_kg / height_cm, 2.0) AS woh2,
         weight_kg / POW(height_cm * 0.01, 2.0) AS bmi
  FROM attrs
),
fac AS (
  SELECT conv_id, sex, weight_kg, height_cm,
         weight_kg AS f_bw,
         0.007184 * POW(height_cm, 0.725) * POW(weight_kg, 0.425) AS f_bsa,
         CASE WHEN sex = 'M' THEN 1.10 * weight_kg - 120.0 * woh2
              WHEN sex = 'F' THEN 1.07 * weight_kg - 148.0 * woh2
              ELSE 0.5 * ((1.10 * weight_kg - 120.0 * woh2) + (1.07 * weight_kg - 148.0 * woh2)) END AS f_lbm,
         CASE WHEN sex = 'M' THEN 1.10 * weight_kg - 128.0 * woh2
              WHEN sex = 'F' THEN 1.07 * weight_kg - 148.0 * woh2
              ELSE 0.5 * ((1.10 * weight_kg - 128.0 * woh2) + (1.07 * weight_kg - 148.0 * woh2)) END AS f_lbm128,
         CASE WHEN sex = 'M' THEN 9270.0 * weight_kg / (6680.0 + 216.0 * bmi)
              WHEN sex = 'F' THEN 9270.0 * weight_kg / (8780.0 + 244.0 * bmi)
              ELSE 0.5 * ((9270.0 * weight_kg / (6680.0 + 216.0 * bmi)) + (9270.0 * weight_kg / (8780.0 + 244.0 * bmi))) END AS f_janma,
         CASE WHEN sex = 'M' THEN 48.0 + 1.06 * (height_cm - 152.0)
              WHEN sex = 'F' THEN 45.5 + 0.91 * (height_cm - 152.0)
              ELSE 0.5 * ((48.0 + 1.06 * (height_cm - 152.0)) + (45.5 + 0.91 * (height_cm - 152.0))) END AS f_ibw
  FROM f0
),
sig AS (SELECT conv_id, AVG(signal) AS s FROM t GROUP BY conv_id)
SELECT fac.conv_id, fac.sex,
       {r6('fac.weight_kg', 'weight_kg')},
       {r6('fac.height_cm', 'height_cm')},
       {r6('fac.f_bw', 'f_bw')},
       {r6('fac.f_bsa', 'f_bsa')},
       {r6('fac.f_lbm', 'f_lbm')},
       {r6('fac.f_lbm128', 'f_lbm128')},
       {r6('fac.f_janma', 'f_janma')},
       {r6('fac.f_ibw', 'f_ibw')},
       {r6('sig.s / fac.f_bw', 'sig_per_bw')}
FROM fac JOIN sig USING (conv_id)
"""

ORACLES["q_tool_names"] = f"""
WITH t AS ({T})
SELECT DISTINCT tool FROM t WHERE tool IS NOT NULL
"""

ORACLES["q_mask_union"] = f"""
WITH t AS ({T})
SELECT conv_id, CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
       BOOL_OR(tool IS NOT NULL) AS any_tool,
       BOOL_OR(role = 'system') AS any_system
FROM t GROUP BY conv_id, date_trunc('day', ts)
"""

ORACLES["q_dedup_turns"] = f"""
WITH t AS ({T})
SELECT DISTINCT conv_id, turn_idx, text FROM t
"""

ORACLES["q_json_props"] = f"""
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(k) AS BIGINT) AS n_k,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       {r6('AVG(k)', 'k_avg')},
       CAST(MAX(k) AS BIGINT) AS k_max
FROM (SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
GROUP BY user_id
"""

ORACLES["q_rollup"] = f"""
WITH t AS ({T})
SELECT role, CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       {r6('SUM(signal)', 'tok_sum')},
       {r6('AVG(signal)', 'tok_avg')}
FROM t GROUP BY role, date_trunc('day', ts)
"""

ORACLES["q_stats_asof"] = f"""
WITH t AS ({T}),
rows_ AS (SELECT t.conv_id, g.as_of, t.signal AS x FROM t JOIN {GRID} g(as_of) ON t.ts <= g.as_of),
{det_stats_ctes('rows_', ['conv_id', 'as_of'])}
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us, CAST(n AS BIGINT) AS n_turns,
       {r6('mean', 'stat_mean')},
       {r6('var', 'stat_var')},
       {r6('skew', 'stat_skew')},
       {r6('kurt', 'stat_kurt')},
       {r6('med', 'stat_median')},
       {r6('mn', 'stat_min')},
       {r6('p10', 'stat_p10')},
       {r6('p90', 'stat_p90')},
       {r6('mx', 'stat_max')},
       {r6('iqr', 'stat_iqr')},
       {r6('rng', 'stat_range')},
       {r6('mad', 'stat_mad')},
       {r6('rmad', 'stat_rmad')},
       {r6('medad', 'stat_medad')},
       {r6('cov', 'stat_cov')},
       {r6('qcod', 'stat_qcod')},
       {r6('energy', 'stat_energy')},
       {r6('rms', 'stat_rms')}
FROM ds_stats
"""

# daily-grid sweep: same stats oracle over a 29-cutoff VALUES grid
_GRID_DAILY = (
    "(VALUES "
    + ", ".join(f"(TIMESTAMP '2024-01-{d:02d} 00:00:00')" for d in range(2, 31))
    + ")"
)
ORACLES["q_stats_daily"] = ORACLES["q_stats_asof"].replace(GRID, _GRID_DAILY)

ORACLES["q_hist_asof"] = f"""
WITH t AS ({T}),
rows_ AS (SELECT t.conv_id, g.as_of, t.signal AS x FROM t JOIN {GRID} g(as_of) ON t.ts <= g.as_of),
rng AS (
  SELECT conv_id, as_of, x,
         MIN(x) OVER w AS mn, MAX(x) OVER w AS mx
  FROM rows_ WINDOW w AS (PARTITION BY conv_id, as_of)
),
g_ AS (
  SELECT conv_id, as_of,
         CASE WHEN mx = mn THEN 1.0
              WHEN x = mx THEN {N_BINS}.0
              ELSE FLOOR({N_BINS} * (x - mn) / (mx - mn)) + 1 END AS grey
  FROM rng
),
counts AS (
  SELECT conv_id, as_of, grey, CAST(COUNT(*) AS DOUBLE) AS c
  FROM g_ GROUP BY conv_id, as_of, grey
),
enriched AS (
  SELECT conv_id, as_of, grey, c,
         c / SUM(c) OVER wk AS p,
         COUNT(*) OVER wk AS n_levels,
         CASE WHEN LAG(c) OVER wl IS NULL AND LEAD(c) OVER wl IS NULL THEN NULL
              WHEN LAG(c) OVER wl IS NULL THEN LEAD(c) OVER wl - c
              WHEN LEAD(c) OVER wl IS NULL THEN c - LAG(c) OVER wl
              ELSE (LEAD(c) OVER wl - LAG(c) OVER wl) / 2 END AS grad
  FROM counts
  WINDOW wk AS (PARTITION BY conv_id, as_of),
         wl AS (PARTITION BY conv_id, as_of ORDER BY grey)
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY conv_id, as_of ORDER BY c DESC, grey ASC) AS rn_mode,
         ROW_NUMBER() OVER (PARTITION BY conv_id, as_of ORDER BY grad DESC, grey ASC) AS rn_maxg,
         ROW_NUMBER() OVER (PARTITION BY conv_id, as_of ORDER BY grad ASC, grey ASC) AS rn_ming
  FROM enriched
),
agg AS (
  SELECT conv_id, as_of,
         -SUM(p * LOG2(p)) AS ih_entropy,
         MAX(CASE WHEN rn_mode = 1 THEN grey END) AS ih_mode,
         MAX(CASE WHEN rn_maxg = 1 AND n_levels > 1 THEN grad END) AS ih_max_grad,
         MAX(CASE WHEN rn_maxg = 1 AND n_levels > 1 THEN grey END) AS ih_max_grad_g,
         MAX(CASE WHEN rn_ming = 1 AND n_levels > 1 THEN grad END) AS ih_min_grad,
         MAX(CASE WHEN rn_ming = 1 AND n_levels > 1 THEN grey END) AS ih_min_grad_g
  FROM ranked GROUP BY conv_id, as_of
),
{det_hist_ctes('counts', ['conv_id', 'as_of'])}
SELECT m.conv_id, CAST(epoch_us(m.as_of) AS BIGINT) AS as_of_us,
       {r6('m.ih_mean', 'ih_mean')},
       {r6('m.ih_var', 'ih_var')},
       {r6('m.ih_median', 'ih_median')},
       {r6('m.ih_min', 'ih_min')},
       {r6('m.ih_max', 'ih_max')},
       {r6('a.ih_entropy', 'ih_entropy')},
       {r6('m.ih_uniformity', 'ih_uniformity')},
       {r6('a.ih_mode', 'ih_mode')},
       {r6('a.ih_max_grad', 'ih_max_grad')},
       {r6('a.ih_max_grad_g', 'ih_max_grad_g')},
       {r6('a.ih_min_grad', 'ih_min_grad')},
       {r6('a.ih_min_grad_g', 'ih_min_grad_g')}
FROM dh_hmom m JOIN agg a USING (conv_id, as_of)
"""

# --- texture families over the whole conversation (3D aggregation) --------

_ORD = """
ord AS (
  SELECT conv_id, CAST(signal AS INT) AS g,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM t
),
vox AS (SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS vc, MAX(CAST(signal AS INT)) AS gmax FROM t GROUP BY conv_id)
"""

_GLCM_FEATS = [
    ("cm_joint_max", "b.joint_max"),
    ("cm_joint_avg", "b.joint_avg"),
    ("cm_joint_var", "b2.joint_var"),
    ("cm_joint_entr", "b.joint_entr"),
    ("cm_diff_avg", "pa.diff_avg"),
    ("cm_diff_var", "ps.diff_var"),
    ("cm_diff_entr", "ps.diff_entr"),
    ("cm_sum_avg", "qa.sum_avg"),
    ("cm_sum_var", "qs.sum_var"),
    ("cm_sum_entr", "qs.sum_entr"),
    ("cm_energy", "b.energy"),
    ("cm_contrast", "b.contrast"),
    ("cm_dissimilarity", "b.dissim"),
    ("cm_inv_diff", "b.inv_diff"),
    ("cm_inv_diff_norm", "b2.inv_diff_norm"),
    ("cm_inv_diff_mom", "ps.inv_diff_mom"),
    ("cm_inv_diff_mom_norm", "pn.inv_diff_mom_norm"),
    ("cm_inv_var", "ps.inv_var"),
    ("cm_corr", "CASE WHEN sg.sigma2 = 0 THEN NULL ELSE (b.auto_corr - u.mu_i * u.mu_i) / sg.sigma2 END"),
    ("cm_auto_corr", "b.auto_corr"),
    ("cm_clust_tend", "b2.clust_tend"),
    ("cm_clust_shade", "b2.clust_shade"),
    ("cm_clust_prom", "b2.clust_prom"),
    ("cm_info_corr1", "CASE WHEN h.hx = 0 THEN NULL ELSE (b.joint_entr - h1.hxy1) / h.hx END"),
    ("cm_info_corr2", "CASE WHEN 1 - EXP(-2 * (h2.hxy2 - b.joint_entr)) < 0 THEN NULL ELSE SQRT(1 - EXP(-2 * (h2.hxy2 - b.joint_entr))) END"),
]


def _glcm_sql(
    lags=(1,),
    session_bounded: bool = False,
    per_session_matrix: bool = False,
    per_lag_matrix: bool = False,
    weighted: bool = False,
) -> str:
    """GLCM feature SQL covering the full aggregation-strategy matrix
    (reference glcm.py:437-509 semantics; lag set = "directions"):

    * matrix grouping key = conv_id (+ sid if per_session_matrix)
      (+ lag if per_lag_matrix) — "merge" sums pair counts across any key
      NOT in the group BEFORE normalizing; "average" computes features per
      matrix then (weighted) NaN-propagating-means them per conversation
    * session_bounded — pairs may not cross session borders (2D/2.5D)
    * 3D MERG = defaults; 3D AVER = per_lag; 2D AVER = session_bounded +
      per_session (+ per_lag when multi-lag); 2D SLICE_MERG =
      session_bounded + per_session; 2.5D MERG = session_bounded;
      2.5D DIR_MERG = session_bounded + per_lag

    All share the exact formula CTEs; only pair extraction and the matrix
    grouping key differ. The grey-level normalizers (gmax = conversation-
    level max, matching lvl in the kernel) stay conversation-level in all."""
    keys = ["conv_id"]
    if per_session_matrix:
        keys.append("sid")
    if per_lag_matrix:
        keys.append("lag")
    pair_keys = ["conv_id", "sid"] if session_bounded else ["conv_id"]
    K = ", ".join(keys)
    averaged = keys != ["conv_id"]

    def on(a, b):
        return " AND ".join(f"{a}.{k} = {b}.{k}" for k in keys)

    if session_bounded:
        ordg = f"""
g0 AS (
  SELECT conv_id, CAST(signal AS INT) AS g, ts, turn_idx,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
                   > {GAP} * 1000000 THEN 1 ELSE 0 END AS brk
  FROM t
),
ordg AS (
  SELECT conv_id, g,
         SUM(brk) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS sid,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM g0
),"""
    else:
        ordg = """
ordg AS (
  SELECT conv_id, CAST(signal AS INT) AS g,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM t
),"""

    PK = ", ".join(pair_keys)
    lag_selects = "\n  UNION ALL\n".join(
        f"  SELECT {PK}, {k} AS lag, g AS a,"
        f" LEAD(g, {k}) OVER (PARTITION BY {PK} ORDER BY rn) AS b FROM ordg"
        for k in lags
    )
    body = f"""
WITH t AS ({T}),
{ordg}
vox AS (SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS vc, MAX(CAST(signal AS INT)) AS gmax FROM t GROUP BY conv_id),
pairs0 AS (
{lag_selects}
),
pairs AS (
  SELECT {K}, a, b FROM pairs0 WHERE b IS NOT NULL
  UNION ALL
  SELECT {K}, b, a FROM pairs0 WHERE b IS NOT NULL
),
cells AS (
  SELECT {K}, a AS i, b AS j, CAST(COUNT(*) AS DOUBLE) AS c
  FROM pairs GROUP BY {K}, a, b
),
tot AS (SELECT {K}, SUM(c) AS s FROM cells GROUP BY {K}),
p AS (
  SELECT {K}, i, j, c, s, c / s AS p
  FROM cells JOIN tot USING ({K})
),
marg AS (SELECT {K}, j AS k, SUM(c) AS ck, MAX(s) AS ms, SUM(p) AS pk FROM p GROUP BY {K}, j),
mu AS (SELECT {K}, SUM(ck * k) / MAX(ms) AS mu_i FROM marg GROUP BY {K}),
sig AS (
  SELECT {K}, SUM(POW(k - mu_i, 2) * pk) AS sigma2
  FROM marg JOIN mu USING ({K}) GROUP BY {K}
),
hx AS (
  SELECT {K}, -SUM(CASE WHEN pk > 0 THEN pk * LOG2(pk) END) AS hx
  FROM marg GROUP BY {K}
),
pm AS (SELECT {K}, ABS(i - j) AS k, SUM(c) AS ck, MAX(s) AS ms, SUM(p) AS pk FROM p GROUP BY {K}, ABS(i - j)),
pp AS (SELECT {K}, i + j AS k, SUM(c) AS ck, MAX(s) AS ms, SUM(p) AS pk FROM p GROUP BY {K}, i + j),
pm_avg AS (SELECT {K}, SUM(ck * k) / MAX(ms) AS diff_avg FROM pm GROUP BY {K}),
pp_avg AS (SELECT {K}, SUM(ck * k) / MAX(ms) AS sum_avg FROM pp GROUP BY {K}),
pm_stats AS (
  SELECT {K},
         SUM(pk * POW(k - diff_avg, 2)) AS diff_var,
         -SUM(CASE WHEN pk > 0 THEN pk * LOG2(pk) END) AS diff_entr,
         SUM(pk / (1 + k * k)) AS inv_diff_mom,
         -- ordered fold, k ascending, exact-numerator terms (ck/ms ==
         -- the kernel's p_minus[k] bit-for-bit): matches _seq_sum in
         -- kernels/texture.py so both engines run the same add sequence
         list_reduce([0.0] || COALESCE(list((ck / ms) / (k * k) ORDER BY k) FILTER (WHERE k > 0), []),
                     (acc, x) -> acc + x) AS inv_var
  FROM pm JOIN pm_avg USING ({K}) GROUP BY {K}
),
pm_norm AS (
  SELECT {K}, SUM(pk / (1 + POW(k / gmax, 2))) AS inv_diff_mom_norm
  FROM pm JOIN vox USING (conv_id) GROUP BY {K}
),
pp_stats AS (
  SELECT {K},
         SUM(pk * POW(k - sum_avg, 2)) AS sum_var,
         -SUM(CASE WHEN pk > 0 THEN pk * LOG2(pk) END) AS sum_entr
  FROM pp JOIN pp_avg USING ({K}) GROUP BY {K}
),
base AS (
  SELECT {K},
         MAX(c) / MAX(s) AS joint_max,
         SUM(c * i) / MAX(s) AS joint_avg,
         -SUM(CASE WHEN p > 0 THEN p * LOG2(p) END) AS joint_entr,
         SUM(c * c) / (MAX(s) * MAX(s)) AS energy,
         SUM(c * POW(i - j, 2)) / MAX(s) AS contrast,
         SUM(c * ABS(i - j)) / MAX(s) AS dissim,
         SUM(p / (1 + ABS(i - j))) AS inv_diff,
         SUM(c * i * j) / MAX(s) AS auto_corr
  FROM p GROUP BY {K}
),
base2 AS (
  SELECT {K},
         SUM(p * POW(i - joint_avg, 2)) AS joint_var,
         SUM(p / (1 + ABS(i - j) / gmax)) AS inv_diff_norm,
         SUM(POW(i + j - 2 * mu_i, 2) * p) AS clust_tend,
         SUM(POW(i + j - 2 * mu_i, 3) * p) AS clust_shade,
         SUM(POW(i + j - 2 * mu_i, 4) * p) AS clust_prom
  FROM p
  JOIN base USING ({K})
  JOIN mu USING ({K})
  JOIN vox USING (conv_id)
  GROUP BY {K}
),
hxy1 AS (
  SELECT {Kq('p', keys)}, -SUM(p.p * LOG2(mi.pk * mj.pk)) AS hxy1
  FROM p
  JOIN marg mi ON {on('p', 'mi')} AND p.i = mi.k
  JOIN marg mj ON {on('p', 'mj')} AND p.j = mj.k
  WHERE mi.pk > 0 AND mj.pk > 0
  GROUP BY {Kq('p', keys)}
),
hxy2 AS (
  SELECT {Kq('mi', keys)}, -SUM(mi.pk * mj.pk * LOG2(mi.pk * mj.pk)) AS hxy2
  FROM marg mi JOIN marg mj ON {on('mi', 'mj')}
  WHERE mi.pk > 0 AND mj.pk > 0
  GROUP BY {Kq('mi', keys)}
),
feat AS (
  SELECT {Kq('b', keys)},
         {', '.join(f'{expr} AS {name}' for name, expr in _GLCM_FEATS)}
  FROM base b
  JOIN base2 b2 ON {on('b', 'b2')}
  JOIN pm_avg pa ON {on('b', 'pa')}
  JOIN pm_stats ps ON {on('b', 'ps')}
  JOIN pm_norm pn ON {on('b', 'pn')}
  JOIN pp_avg qa ON {on('b', 'qa')}
  JOIN pp_stats qs ON {on('b', 'qs')}
  JOIN mu u ON {on('b', 'u')}
  JOIN sig sg ON {on('b', 'sg')}
  JOIN hx h ON {on('b', 'h')}
  JOIN hxy1 h1 ON {on('b', 'h1')}
  JOIN hxy2 h2 ON {on('b', 'h2')}
)"""
    if not averaged:
        sel = ",\n       ".join(r6(name, name) for name, _ in _GLCM_FEATS)
        if not session_bounded:
            return f"{body}\nSELECT conv_id,\n       {sel}\nFROM feat"
        # session-bounded pairs: a conversation of singleton sessions has
        # no pairs at all — the kernel still emits an all-NULL row for it
        sel_null = ",\n       ".join(r6(f"feat.{name}", name) for name, _ in _GLCM_FEATS)
        return (
            f"{body},\nconvs AS (SELECT DISTINCT conv_id FROM t)\n"
            f"SELECT convs.conv_id,\n       {sel_null}\n"
            f"FROM convs LEFT JOIN feat USING (conv_id)"
        )
    # averaged methods: features per matrix, then a (weighted) mean per
    # conversation, NaN-propagating like np.average over dicts containing
    # NaN (kernels/texture.py _average); conversations with no
    # pair-bearing matrix still emit an all-NULL row. Weighted: session
    # turn count / conversation turn count, normalized by the sum of
    # participating weights exactly like np.average.
    if weighted:
        agg = "CASE WHEN COUNT(*) <> COUNT({n}) THEN NULL ELSE SUM({n} * fw.w) / SUM(fw.w) END"
    else:
        agg = "CASE WHEN COUNT(*) <> COUNT({n}) THEN NULL ELSE AVG({n}) END"
    sel = ",\n       ".join(r6(agg.format(n=name), name) for name, _ in _GLCM_FEATS)
    wjoin = """,
ssize AS (SELECT conv_id, sid, CAST(COUNT(*) AS DOUBLE) AS sn FROM ordg GROUP BY conv_id, sid),
totn AS (SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS tn FROM ordg GROUP BY conv_id),
fw AS (
  SELECT feat.*, s.sn / tt.tn AS w
  FROM feat JOIN ssize s ON feat.conv_id = s.conv_id AND feat.sid = s.sid
            JOIN totn tt ON feat.conv_id = tt.conv_id
)"""
    if weighted:
        return (
            f"{body}{wjoin},\nconvs AS (SELECT DISTINCT conv_id FROM t)\n"
            f"SELECT convs.conv_id,\n       {sel}\n"
            f"FROM convs LEFT JOIN fw USING (conv_id) GROUP BY convs.conv_id"
        )
    return (
        f"{body},\nconvs AS (SELECT DISTINCT conv_id FROM t)\n"
        f"SELECT convs.conv_id,\n       {sel}\n"
        f"FROM convs LEFT JOIN feat USING (conv_id) GROUP BY convs.conv_id"
    )


def Kq(tbl: str, keys: list) -> str:
    return ", ".join(f"{tbl}.{k}" for k in keys)


ORACLES["q_glcm"] = _glcm_sql()
ORACLES["q_glcm_2d_avg"] = _glcm_sql(session_bounded=True, per_session_matrix=True)
ORACLES["q_glcm_25d_merg"] = _glcm_sql(session_bounded=True)
ORACLES["q_glcm_2d_wavg"] = _glcm_sql(session_bounded=True, per_session_matrix=True, weighted=True)
ORACLES["q_glcm_3d_aver"] = _glcm_sql(lags=(1, 2, 3), per_lag_matrix=True)
ORACLES["q_glcm_2d_slice_merg"] = _glcm_sql(lags=(1, 2), session_bounded=True, per_session_matrix=True)
ORACLES["q_glcm_25d_dirmerg"] = _glcm_sql(lags=(1, 2), session_bounded=True, per_lag_matrix=True)

# shared gaps-and-islands run decomposition (keeps start/end positions for
# the distance-zone family); runs == zones in 1-D
_RUNS = """
marked AS (
  SELECT conv_id, g, rn,
         CASE WHEN LAG(g) OVER (PARTITION BY conv_id ORDER BY rn) IS DISTINCT FROM g THEN 1 ELSE 0 END AS brk
  FROM ord
),
runs0 AS (
  SELECT conv_id, g, rn, SUM(brk) OVER (PARTITION BY conv_id ORDER BY rn) AS run_id
  FROM marked
),
runs AS (
  SELECT conv_id, run_id, CAST(MIN(g) AS DOUBLE) AS lvl, CAST(COUNT(*) AS DOUBLE) AS len,
         MIN(rn) AS srn, MAX(rn) AS ern
  FROM runs0 GROUP BY conv_id, run_id
)
"""


def _runs16_sql(
    names: list[str], width_expr: str | None = None, ordered_recip: bool = False
) -> str:
    """MIRROR CONTRACT: the 16 formula expressions here, in
    _runs16_session_sql, and in _flagship_runs16 must stay identical —
    a change to any one (e.g. an exact-form rewrite) must be replicated
    in all three or the corresponding gates drift apart silently.

    Shared 16-formula reducer SQL (texture_base.py:40-214 analogue) over
    the run decomposition. ``names`` gives the 16 output aliases in
    TEXTURE_ATTRS order. ``width_expr`` replaces the run length as the
    matrix column key (GLDZM passes the min border distance); the
    default (None) uses run length (GLRLM / 1-D GLSZM).

    ``ordered_recip`` (the DZM instantiations): compute sde/sdhge with
    the ordered per-CELL fold — list((lvl asc, jl asc)) + list_reduce —
    mirroring kernels/texture._seq_sum so the two engines execute the
    identical double-add sequence (BASELINE.md round-3 update 2)."""
    j = width_expr or "r.len"
    osum_cte = """
osum AS (
  SELECT b.conv_id,
         list_reduce([0.0] || COALESCE(list(b.c / (b.jl * b.jl) ORDER BY b.lvl, b.jl), []),
                     (acc, x) -> acc + x) AS sde_num,
         list_reduce([0.0] || COALESCE(list(b.lvl * b.lvl * b.c / (b.jl * b.jl) ORDER BY b.lvl, b.jl), []),
                     (acc, x) -> acc + x) AS sdhge_num
  FROM bycell b GROUP BY b.conv_id
),""" if ordered_recip else ""
    sre_sel = "o.sde_num / n.n_s" if ordered_recip else "s.sre"
    srhge_sel = "o.sdhge_num / n.n_s" if ordered_recip else "s.srhge"
    osum_join = "\nJOIN osum o ON s.conv_id = o.conv_id" if ordered_recip else ""
    return f"""
WITH t AS ({T}),
{_ORD},
{_RUNS},
dz AS (
  SELECT r.conv_id, r.lvl, CAST({j} AS DOUBLE) AS jl
  FROM runs r JOIN vox v ON r.conv_id = v.conv_id
),
ns AS (SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS n_s,
              AVG(lvl) AS mu_i, AVG(jl - 1) AS mu_j FROM dz GROUP BY conv_id),
simple AS (
  SELECT r.conv_id,
         AVG(1.0 / (r.jl * r.jl)) AS sre,
         AVG(r.jl * r.jl) AS lre,
         AVG(1.0 / (r.lvl * r.lvl)) AS lgre,
         AVG(r.lvl * r.lvl) AS hgre,
         AVG(1.0 / (r.lvl * r.lvl * r.jl * r.jl)) AS srlge,
         AVG(r.lvl * r.lvl / (r.jl * r.jl)) AS srhge,
         AVG(r.jl * r.jl / (r.lvl * r.lvl)) AS lrlge,
         AVG(r.lvl * r.lvl * r.jl * r.jl) AS lrhge,
         AVG(POW(r.lvl - n.mu_i, 2)) AS gl_var,
         AVG(POW((r.jl - 1) - n.mu_j, 2)) AS rl_var
  FROM dz r JOIN ns n ON r.conv_id = n.conv_id GROUP BY r.conv_id
),
bylvl AS (
  SELECT conv_id, lvl, CAST(COUNT(*) AS DOUBLE) AS c FROM dz GROUP BY conv_id, lvl
),
bylen AS (
  SELECT conv_id, jl, CAST(COUNT(*) AS DOUBLE) AS c FROM dz GROUP BY conv_id, jl
),
bycell AS (
  SELECT conv_id, lvl, jl, CAST(COUNT(*) AS DOUBLE) AS c FROM dz GROUP BY conv_id, lvl, jl
),{osum_cte}
glnu AS (SELECT conv_id, SUM(c * c) AS v FROM bylvl GROUP BY conv_id),
rlnu AS (SELECT conv_id, SUM(c * c) AS v FROM bylen GROUP BY conv_id),
entr AS (
  SELECT b.conv_id, -SUM((b.c / n.n_s) * LOG2(b.c / n.n_s)) AS v
  FROM bycell b JOIN ns n ON b.conv_id = n.conv_id GROUP BY b.conv_id
)
SELECT s.conv_id,
       {r6(sre_sel, names[0])},
       {r6('s.lre', names[1])},
       {r6('s.lgre', names[2])},
       {r6('s.hgre', names[3])},
       {r6('s.srlge', names[4])},
       {r6(srhge_sel, names[5])},
       {r6('s.lrlge', names[6])},
       {r6('s.lrhge', names[7])},
       {r6('g.v / n.n_s', names[8])},
       {r6('g.v / (n.n_s * n.n_s)', names[9])},
       {r6('rl.v / n.n_s', names[10])},
       {r6('rl.v / (n.n_s * n.n_s)', names[11])},
       {r6('n.n_s / v.vc', names[12])},
       {r6('s.gl_var', names[13])},
       {r6('s.rl_var', names[14])},
       {r6('e.v', names[15])}
FROM simple s
JOIN ns n ON s.conv_id = n.conv_id
JOIN vox v ON s.conv_id = v.conv_id
JOIN glnu g ON s.conv_id = g.conv_id
JOIN rlnu rl ON s.conv_id = rl.conv_id
JOIN entr e ON s.conv_id = e.conv_id{osum_join}
"""


def _runs16_session_sql(
    names: list[str], merge: bool, dzm_dist: bool = False, ordered_recip: bool = False
) -> str:
    """MIRROR CONTRACT: keep the 16 formulas in lockstep with
    _runs16_sql and _flagship_runs16 (see _runs16_sql docstring).

    Run-family SQL with session-bounded runs (runs break at gap
    boundaries like slices): merge=True pools run counts across sessions
    before the formulas (2.5D MERG); merge=False computes the 16 formulas
    per session (voxel count = session size) then means them per
    conversation (2D AVER, kernels/texture.py texture_features).
    ``dzm_dist`` replaces the run length with the zone's min taxicab
    distance to its SESSION border (GLDZM 2.5D: kernels/prep.py
    border_distance with session boundaries as the per-slice border)."""
    K = "conv_id" if merge else "conv_id, sid"
    vc = "v.vc" if merge else "sz.sn"
    if dzm_dist:
        runs_final = """
sext AS (SELECT conv_id, sid, MIN(rn) AS s0, MAX(rn) AS s1 FROM ord2 GROUP BY conv_id, sid),
runs AS (
  SELECT r0.conv_id, r0.sid, r0.lvl,
         CAST(GREATEST(LEAST(r0.srn - x.s0 + 1, x.s1 - r0.srn + 1,
                             r0.ern - x.s0 + 1, x.s1 - r0.ern + 1), 1) AS DOUBLE) AS jl
  FROM runs0 r0 JOIN sext x ON r0.conv_id = x.conv_id AND r0.sid = x.sid
),"""
    else:
        runs_final = """
runs AS (SELECT conv_id, sid, lvl, CAST(jl0 AS DOUBLE) AS jl FROM runs0),"""
    sql = f"""
WITH t AS ({T}),
g0 AS (
  SELECT conv_id, CAST(signal AS INT) AS g, ts, turn_idx,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
                   > {GAP} * 1000000 THEN 1 ELSE 0 END AS brk_s
  FROM t
),
ord2 AS (
  SELECT conv_id, g,
         SUM(brk_s) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS sid,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM g0
),
vox AS (SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS vc FROM t GROUP BY conv_id),
ssz AS (SELECT conv_id, sid, CAST(COUNT(*) AS DOUBLE) AS sn FROM ord2 GROUP BY conv_id, sid),
marked AS (
  SELECT conv_id, sid, g, rn,
         CASE WHEN LAG(g) OVER w IS DISTINCT FROM g
                   OR LAG(sid) OVER w IS DISTINCT FROM sid THEN 1 ELSE 0 END AS brk
  FROM ord2 WINDOW w AS (PARTITION BY conv_id ORDER BY rn)
),
runs0 AS (
  SELECT conv_id, MIN(sid) AS sid, CAST(MIN(g) AS DOUBLE) AS lvl,
         COUNT(*) AS jl0, MIN(rn) AS srn, MAX(rn) AS ern
  FROM (SELECT *, SUM(brk) OVER (PARTITION BY conv_id ORDER BY rn) AS run_id FROM marked)
  GROUP BY conv_id, run_id
),{runs_final}
ns AS (SELECT {K}, CAST(COUNT(*) AS DOUBLE) AS n_s,
              AVG(lvl) AS mu_i, AVG(jl - 1) AS mu_j FROM runs GROUP BY {K}),
simple AS (
  SELECT {K},
         AVG(1.0 / (jl * jl)) AS sre,
         AVG(jl * jl) AS lre,
         AVG(1.0 / (lvl * lvl)) AS lgre,
         AVG(lvl * lvl) AS hgre,
         AVG(1.0 / (lvl * lvl * jl * jl)) AS srlge,
         AVG(lvl * lvl / (jl * jl)) AS srhge,
         AVG(jl * jl / (lvl * lvl)) AS lrlge,
         AVG(lvl * lvl * jl * jl) AS lrhge,
         AVG(POW(lvl - mu_i, 2)) AS gl_var,
         AVG(POW((jl - 1) - mu_j, 2)) AS rl_var
  FROM runs JOIN ns USING ({K}) GROUP BY {K}
),
glnu AS (
  SELECT {K}, SUM(c * c) AS v FROM (
    SELECT {K}, lvl, CAST(COUNT(*) AS DOUBLE) AS c FROM runs GROUP BY {K}, lvl
  ) GROUP BY {K}
),
rlnu AS (
  SELECT {K}, SUM(c * c) AS v FROM (
    SELECT {K}, jl, CAST(COUNT(*) AS DOUBLE) AS c FROM runs GROUP BY {K}, jl
  ) GROUP BY {K}
),
entr AS (
  SELECT {K}, -SUM((c / n_s) * LOG2(c / n_s)) AS v FROM (
    SELECT {K}, lvl, jl, CAST(COUNT(*) AS DOUBLE) AS c FROM runs GROUP BY {K}, lvl, jl
  ) JOIN ns USING ({K}) GROUP BY {K}
),{'''
osum AS (
  SELECT ''' + K + ''',
         list_reduce([0.0] || COALESCE(list(c / (jl * jl) ORDER BY lvl, jl), []),
                     (acc, x) -> acc + x) AS sde_num,
         list_reduce([0.0] || COALESCE(list(lvl * lvl * c / (jl * jl) ORDER BY lvl, jl), []),
                     (acc, x) -> acc + x) AS sdhge_num
  FROM (SELECT ''' + K + ''', lvl, jl, CAST(COUNT(*) AS DOUBLE) AS c FROM runs GROUP BY ''' + K + ''', lvl, jl)
  GROUP BY ''' + K + '''
),''' if ordered_recip else ''}
feat AS (
  SELECT {', '.join('s.' + k for k in K.split(', '))},
         {'o.sde_num / n.n_s AS sre' if ordered_recip else 's.sre'}, s.lre, s.lgre, s.hgre, s.srlge,
         {'o.sdhge_num / n.n_s AS srhge' if ordered_recip else 's.srhge'}, s.lrlge, s.lrhge,
         g.v / n.n_s AS glnu_v, g.v / (n.n_s * n.n_s) AS glnu_n,
         rl.v / n.n_s AS rlnu_v, rl.v / (n.n_s * n.n_s) AS rlnu_n,
         n.n_s / {vc} AS perc, s.gl_var, s.rl_var, e.v AS entr_v
  FROM simple s
  JOIN ns n USING ({K})
  JOIN glnu g USING ({K})
  JOIN rlnu rl USING ({K})
  JOIN entr e USING ({K})
  JOIN vox v ON s.conv_id = v.conv_id
  {f'JOIN osum o USING ({K})' if ordered_recip else ''}
  {'JOIN ssz sz ON s.conv_id = sz.conv_id AND s.sid = sz.sid' if not merge else ''}
)
"""
    raw = ["sre", "lre", "lgre", "hgre", "srlge", "srhge", "lrlge", "lrhge",
           "glnu_v", "glnu_n", "rlnu_v", "rlnu_n", "perc", "gl_var", "rl_var", "entr_v"]
    if merge:
        sel = ",\n       ".join(r6(rc, n) for rc, n in zip(raw, names))
        return sql + f"SELECT conv_id,\n       {sel}\nFROM feat"
    sel = ",\n       ".join(r6(f"AVG({rc})", n) for rc, n in zip(raw, names))
    return sql + f"SELECT conv_id,\n       {sel}\nFROM feat GROUP BY conv_id"


_RLM16 = ["rlm_sre", "rlm_lre", "rlm_lgre", "rlm_hgre", "rlm_srlge", "rlm_srhge",
          "rlm_lrlge", "rlm_lrhge", "rlm_glnu", "rlm_glnu_norm", "rlm_rlnu",
          "rlm_rlnu_norm", "rlm_r_perc", "rlm_gl_var", "rlm_rl_var", "rlm_rl_entr"]
ORACLES["q_glrlm_25d"] = _runs16_session_sql(_RLM16, merge=True)
ORACLES["q_glrlm_2d_avg"] = _runs16_session_sql(_RLM16, merge=False)

_SZM16 = ["szm_sze", "szm_lze", "szm_lgze", "szm_hgze", "szm_szlge", "szm_szhge",
          "szm_lzlge", "szm_lzhge", "szm_glnu", "szm_glnu_norm", "szm_zsnu",
          "szm_zsnu_norm", "szm_z_perc", "szm_gl_var", "szm_zs_var", "szm_zs_entr"]
_DZM16 = ["dzm_sde", "dzm_lde", "dzm_lgze", "dzm_hgze", "dzm_sdlge", "dzm_sdhge",
          "dzm_ldlge", "dzm_ldhge", "dzm_glnu", "dzm_glnu_norm", "dzm_zdnu",
          "dzm_zdnu_norm", "dzm_z_perc", "dzm_gl_var", "dzm_zd_var", "dzm_zd_entr"]
# 2.5D zone families: zones bounded by session borders, matrices pooled
# across sessions before the formulas; GLDZM keys zones by distance to
# the SESSION border
ORACLES["q_glszm_25d"] = _runs16_session_sql(_SZM16, merge=True)
ORACLES["q_gldzm_25d"] = _runs16_session_sql(
    _DZM16, merge=True, dzm_dist=True, ordered_recip=True
)

ORACLES["q_glrlm"] = _runs16_sql(
    ["rlm_sre", "rlm_lre", "rlm_lgre", "rlm_hgre", "rlm_srlge", "rlm_srhge",
     "rlm_lrlge", "rlm_lrhge", "rlm_glnu", "rlm_glnu_norm", "rlm_rlnu",
     "rlm_rlnu_norm", "rlm_r_perc", "rlm_gl_var", "rlm_rl_var", "rlm_rl_entr"]
)

# 1-D GLSZM: zones are runs (26-connectivity degenerates to run adjacency),
# so the matrix equals GLRLM's — kernels/texture.py FAMILIES 'glszm'
ORACLES["q_glszm"] = _runs16_sql(
    ["szm_sze", "szm_lze", "szm_lgze", "szm_hgze", "szm_szlge", "szm_szhge",
     "szm_lzlge", "szm_lzhge", "szm_glnu", "szm_glnu_norm", "szm_zsnu",
     "szm_zsnu_norm", "szm_z_perc", "szm_gl_var", "szm_zs_var", "szm_zs_entr"]
)

# GLDZM: zone -> min taxicab distance to the conversation border; for a
# contiguous run that is min over the run's two endpoints, each scored
# min(position, n - position + 1) in 1-based positions (kernels/prep.py
# border_distance + kernels/texture.py dzm_matrix)
ORACLES["q_gldzm"] = _runs16_sql(
    ["dzm_sde", "dzm_lde", "dzm_lgze", "dzm_hgze", "dzm_sdlge", "dzm_sdhge",
     "dzm_ldlge", "dzm_ldhge", "dzm_glnu", "dzm_glnu_norm", "dzm_zdnu",
     "dzm_zdnu_norm", "dzm_z_perc", "dzm_gl_var", "dzm_zd_var", "dzm_zd_entr"],
    width_expr=(
        "GREATEST(LEAST(LEAST(r.srn, v.vc - r.srn + 1), LEAST(r.ern, v.vc - r.ern + 1)), 1)"
    ),
    ordered_recip=True,
)

def _ngldm_sql(session_bounded: bool = False, avg_2d: bool = False) -> str:
    """NGLDM SQL; session_bounded computes dependence counts within gap
    sessions (2.5D: per-session matrices summed before the formulas);
    avg_2d additionally computes the 17 formulas PER SESSION (voxel
    count = session size) and plain-means them per conversation (2D
    AVER, kernels/texture.texture_features)."""
    if session_bounded or avg_2d:
        src = f"""
g0 AS (
  SELECT conv_id, CAST(signal AS INT) AS g, ts, turn_idx,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
                   > {GAP} * 1000000 THEN 1 ELSE 0 END AS brk
  FROM t
),
ord2 AS (
  SELECT conv_id, g,
         SUM(brk) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS sid,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM g0
),
ssz AS (SELECT conv_id, sid, CAST(COUNT(*) AS DOUBLE) AS sn FROM ord2 GROUP BY conv_id, sid),
vox AS (SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS vc, MAX(CAST(signal AS INT)) AS gmax FROM t GROUP BY conv_id)"""
        win = "PARTITION BY conv_id, sid ORDER BY rn"
        ord_name = "ord2"
    else:
        src = _ORD
        win = "PARTITION BY conv_id ORDER BY rn"
        ord_name = "ord"
    K = "conv_id, sid" if avg_2d else "conv_id"
    sid_sel = ", sid" if avg_2d else ""
    vc = "sz.sn" if avg_2d else "v.vc"
    vc_join = (
        "JOIN ssz sz ON s.conv_id = sz.conv_id AND s.sid = sz.sid"
        if avg_2d
        else "JOIN vox v ON s.conv_id = v.conv_id"
    )
    sql = f"""
WITH t AS ({T}),
{src},
deps AS (
  SELECT conv_id{sid_sel}, CAST(g AS DOUBLE) AS lvl,
         CAST(CASE WHEN LAG(g) OVER w = g THEN 1 ELSE 0 END
            + CASE WHEN LEAD(g) OVER w = g THEN 1 ELSE 0 END AS DOUBLE) AS dep
  FROM {ord_name}
  WINDOW w AS ({win})
),
ns AS (SELECT {K}, CAST(COUNT(*) AS DOUBLE) AS n_s,
              AVG(lvl) AS mu_i, AVG(dep) AS mu_j FROM deps GROUP BY {K}),
simple AS (
  SELECT {K},
         AVG(1.0 / POW(dep + 1, 2)) AS lde,
         AVG(POW(dep + 1, 2)) AS hde,
         AVG(1.0 / (lvl * lvl)) AS lgce,
         AVG(lvl * lvl) AS hgce,
         AVG(1.0 / (lvl * lvl * POW(dep + 1, 2))) AS ldlge,
         AVG(lvl * lvl / POW(dep + 1, 2)) AS ldhge,
         AVG(POW(dep + 1, 2) / (lvl * lvl)) AS hdlge,
         AVG(POW(dep + 1, 2) * lvl * lvl) AS hdhge,
         AVG(POW(lvl - mu_i, 2)) AS gl_var,
         AVG(POW(dep - mu_j, 2)) AS dc_var
  FROM deps JOIN ns USING ({K}) GROUP BY {K}
),
bylvl AS (SELECT {K}, lvl, CAST(COUNT(*) AS DOUBLE) AS c FROM deps GROUP BY {K}, lvl),
bydep AS (SELECT {K}, dep, CAST(COUNT(*) AS DOUBLE) AS c FROM deps GROUP BY {K}, dep),
bycell AS (SELECT {K}, lvl, dep, CAST(COUNT(*) AS DOUBLE) AS c FROM deps GROUP BY {K}, lvl, dep),
glnu AS (SELECT {K}, SUM(c * c) AS v FROM bylvl GROUP BY {K}),
dcnu AS (SELECT {K}, SUM(c * c) AS v FROM bydep GROUP BY {K}),
entr AS (
  SELECT {K}, -SUM((c / n_s) * LOG2(c / n_s)) AS e,
         SUM(c * c) / (MAX(n_s) * MAX(n_s)) AS energy
  FROM bycell JOIN ns USING ({K}) GROUP BY {K}
),
feat AS (
  SELECT {', '.join('s.' + k for k in K.split(', '))},
         s.lde, s.hde, s.lgce, s.hgce, s.ldlge, s.ldhge, s.hdlge, s.hdhge,
         g.v / n.n_s AS glnu_v, g.v / (n.n_s * n.n_s) AS glnu_n,
         dc.v / n.n_s AS dcnu_v, dc.v / (n.n_s * n.n_s) AS dcnu_n,
         n.n_s / {vc} AS perc, s.gl_var, s.dc_var, e.e AS entr_v, e.energy AS energy_v
  FROM simple s
  JOIN ns n USING ({K})
  JOIN glnu g USING ({K})
  JOIN dcnu dc USING ({K})
  JOIN entr e USING ({K})
  {vc_join}
)
"""
    raw = ["lde", "hde", "lgce", "hgce", "ldlge", "ldhge", "hdlge", "hdhge",
           "glnu_v", "glnu_n", "dcnu_v", "dcnu_n", "perc", "gl_var", "dc_var",
           "entr_v", "energy_v"]
    names = ["ngl_lde", "ngl_hde", "ngl_lgce", "ngl_hgce", "ngl_ldlge", "ngl_ldhge",
             "ngl_hdlge", "ngl_hdhge", "ngl_glnu", "ngl_glnu_norm", "ngl_dcnu",
             "ngl_dcnu_norm", "ngl_dc_perc", "ngl_gl_var", "ngl_dc_var",
             "ngl_dc_entr", "ngl_dc_energy"]
    if avg_2d:
        sel = ",\n       ".join(r6(f"AVG({rc})", n) for rc, n in zip(raw, names))
        return sql + f"SELECT conv_id,\n       {sel}\nFROM feat GROUP BY conv_id"
    sel = ",\n       ".join(r6(rc, n) for rc, n in zip(raw, names))
    return sql + f"SELECT conv_id,\n       {sel}\nFROM feat"


ORACLES["q_ngldm"] = _ngldm_sql()
ORACLES["q_ngldm_25d"] = _ngldm_sql(session_bounded=True)
ORACLES["q_ngldm_2d_avg"] = _ngldm_sql(avg_2d=True)

def _ngtdm_sql(session_bounded: bool = False, avg_2d: bool = False) -> str:
    """NGTDM SQL; session_bounded restricts the neighbourhood to the gap
    session (2.5D: per-session [n_i, s_i] matrices summed); avg_2d
    computes the 5 formulas per session and plain-means them per
    conversation, excluding neighbourless (single-turn) sessions — the
    kernel's 2D AVER path (kernels/texture.texture_features)."""
    if session_bounded or avg_2d:
        src = f"""
g0 AS (
  SELECT conv_id, CAST(signal AS INT) AS g, ts, turn_idx,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
                   > {GAP} * 1000000 THEN 1 ELSE 0 END AS brk
  FROM t
),
ord2 AS (
  SELECT conv_id, g,
         SUM(brk) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS sid,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM g0
),
vox AS (SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS vc, MAX(CAST(signal AS INT)) AS gmax FROM t GROUP BY conv_id)"""
        win = "PARTITION BY conv_id, sid ORDER BY rn"
        ord_name = "ord2"
    else:
        src = _ORD
        win = "PARTITION BY conv_id ORDER BY rn"
        ord_name = "ord"
    K = "conv_id, sid" if avg_2d else "conv_id"
    sid_sel = ", sid" if avg_2d else ""
    pair_k = (
        "a.conv_id = b.conv_id AND a.sid = b.sid" if avg_2d else "a.conv_id = b.conv_id"
    )
    sql = f"""
WITH t AS ({T}),
{src},
nbr AS (
  SELECT conv_id{sid_sel}, g,
         COALESCE(CAST(LAG(g) OVER w AS DOUBLE), 0) + COALESCE(CAST(LEAD(g) OVER w AS DOUBLE), 0) AS nb_sum,
         (CASE WHEN LAG(g) OVER w IS NULL THEN 0 ELSE 1 END
        + CASE WHEN LEAD(g) OVER w IS NULL THEN 0 ELSE 1 END) AS nb_cnt
  FROM {ord_name}
  WINDOW w AS ({win})
),
lvl AS (
  SELECT {K}, CAST(g AS DOUBLE) AS i,
         CAST(COUNT(*) AS DOUBLE) AS n_i,
         SUM(ABS(g - nb_sum / nb_cnt)) AS s_i
  FROM nbr WHERE nb_cnt > 0
  GROUP BY {K}, g
),
tots AS (
  SELECT {K}, SUM(n_i) AS n, CAST(COUNT(*) AS DOUBLE) AS n_g,
         SUM(s_i) AS s2, SUM(n_i * s_i) AS ns
  FROM lvl GROUP BY {K}
),
pairs AS (
  SELECT {', '.join('a.' + k for k in K.split(', '))},
         SUM(a.n_i * b.n_i * POW(a.i - b.i, 2)) AS q_contrast,
         SUM(ABS(a.i * a.n_i - b.i * b.n_i)) AS q_busy,
         SUM((a.n_i * a.s_i + b.n_i * b.s_i) * ABS(a.i - b.i) / ((a.n_i + b.n_i))) AS q_compl,
         SUM((a.n_i + b.n_i) * POW(a.i - b.i, 2)) AS q_strength
  FROM lvl a JOIN lvl b ON {pair_k}
  GROUP BY {', '.join('a.' + k for k in K.split(', '))}
),
feat AS (
  SELECT {', '.join('t2.' + k for k in K.split(', '))},
         CASE WHEN t2.ns = 0 THEN 1000000.0 ELSE t2.n / t2.ns END AS coarseness,
         CASE WHEN t2.n_g * (t2.n_g - 1) * t2.n = 0 THEN 0.0 ELSE (p.q_contrast / (t2.n * t2.n)) * t2.s2 / (t2.n_g * (t2.n_g - 1) * t2.n) END AS contrast,
         CASE WHEN p.q_busy = 0 THEN 0.0 ELSE (t2.ns / t2.n) / (p.q_busy / t2.n) END AS busyness,
         (p.q_compl / t2.n) AS complexity,
         CASE WHEN t2.s2 = 0 THEN 0.0 ELSE (p.q_strength / t2.n) / t2.s2 END AS strength
  FROM tots t2 JOIN pairs p USING ({K})
)
"""
    raw = ["coarseness", "contrast", "busyness", "complexity", "strength"]
    names = ["ngt_coarseness", "ngt_contrast", "ngt_busyness", "ngt_complexity", "ngt_strength"]
    if avg_2d:
        # scaffold over ALL conversations: one whose sessions are all
        # single-turn has no neighbourful session at all — the kernel
        # still emits its row with NULL features (skip-not-raise contract)
        sel = ",\n       ".join(r6(f"AVG({rc})", n) for rc, n in zip(raw, names))
        return sql + (
            ",\nfeatagg AS (SELECT conv_id,\n       "
            + sel
            + "\nFROM feat GROUP BY conv_id)\n"
            "SELECT c.conv_id, "
            + ", ".join(f"f.{n}" for n in names)
            + "\nFROM (SELECT DISTINCT conv_id FROM t) c LEFT JOIN featagg f USING (conv_id)"
        )
    sel = ",\n       ".join(r6(rc, n) for rc, n in zip(raw, names))
    return sql + f"SELECT conv_id,\n       {sel}\nFROM feat"


ORACLES["q_ngtdm"] = _ngtdm_sql()
ORACLES["q_ngtdm_2d_avg"] = _ngtdm_sql(avg_2d=True)
# session-bounded: a conversation whose sessions are all singletons has no
# valid neighbourhood anywhere — the kernel still emits an all-NULL row
ORACLES["q_ngtdm_25d"] = f"""
WITH q AS (
{_ngtdm_sql(session_bounded=True)}
),
convs AS (SELECT DISTINCT 'c' || CAST(user_id AS STRING) AS conv_id FROM events)
SELECT convs.conv_id, q.ngt_coarseness, q.ngt_contrast, q.ngt_busyness,
       q.ngt_complexity, q.ngt_strength
FROM convs LEFT JOIN q USING (conv_id)
"""

ORACLES["q_shape"] = f"""
WITH t AS ({T}),
gaps AS (
  SELECT conv_id,
         CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS DOUBLE) / 1e6 AS gap
  FROM t
),
base AS (
  SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS n_turns,
         CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE) / 1e6 AS dur,
         AVG(CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END) AS tool_frac
  FROM t GROUP BY conv_id
),
gs AS (
  SELECT conv_id, stddev_pop(gap) AS gap_std, MAX(gap) AS gap_max,
         1 + SUM(CASE WHEN gap > {GAP} THEN 1 ELSE 0 END) AS n_sessions
  FROM gaps GROUP BY conv_id
),
gm AS (
  SELECT conv_id,
         CASE WHEN COUNT(*) > 1 THEN
           CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE) / (COUNT(*) - 1) / 1e6
         END AS gap_mean
  FROM t GROUP BY conv_id
),
re AS (
  SELECT conv_id, -SUM(p * LOG2(p)) AS role_entropy FROM (
    SELECT conv_id, CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY conv_id) AS p
    FROM t GROUP BY conv_id, role
  ) GROUP BY conv_id
)
SELECT b.conv_id,
       {r6('b.n_turns', 'shape_n_turns')},
       {r6('b.dur', 'shape_duration_sec')},
       {r6('gm.gap_mean', 'shape_gap_mean')},
       {r6('g.gap_std', 'shape_gap_std')},
       {r6('g.gap_max', 'shape_gap_max')},
       {r6('g.n_sessions', 'shape_n_sessions')},
       {r6('r.role_entropy', 'shape_role_entropy')},
       {r6('b.tool_frac', 'shape_tool_frac')}
FROM base b JOIN gs g ON b.conv_id = g.conv_id JOIN gm ON b.conv_id = gm.conv_id JOIN re r ON b.conv_id = r.conv_id
"""

# --- documents / embeddings ------------------------------------------------

ORACLES["q_dedup_exact"] = f"""
SELECT md5({NORM_DOC}) AS text_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS dup_count
FROM documents GROUP BY 1
"""

_SHINGLES3 = f"""
toks AS (SELECT doc_id, {TOKS_DOC} AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(generate_series(1, len(tk) - 2),
                               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingle
  FROM toks WHERE len(tk) >= 3
)
"""

# deliberate mirror of z_rad_spark.operators.dedup.minhash_perm_constants
# (kept inline so the oracle SQL stays importable without pyspark)
def _minhash_ab(n_hashes: int) -> list:
    out = []
    x = 20240116
    p = 2_147_483_647
    for _ in range(n_hashes):
        x = (1103515245 * x + 12345) % p
        a = x or 1
        x = (1103515245 * x + 12345) % p
        out.append((a, x))
    return out


_MH_AB = "(VALUES " + ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_minhash_ab(8))
) + ") ab(p, a, b)"

ORACLES["q_minhash_pairs"] = f"""
WITH {_SHINGLES3},
mh AS (
  SELECT doc_id, ab.p AS perm,
         MIN((ab.a * hh.h + ab.b) % 2147483647) AS minhash
  FROM (SELECT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h
        FROM sh) hh
  JOIN {_MH_AB} ON TRUE
  GROUP BY doc_id, ab.p
),
banded AS (
  SELECT doc_id, CAST(FLOOR(perm / 4) AS INT) AS band,
         MAX(CASE WHEN perm % 4 = 0 THEN minhash END) || ',' ||
         MAX(CASE WHEN perm % 4 = 1 THEN minhash END) || ',' ||
         MAX(CASE WHEN perm % 4 = 2 THEN minhash END) || ',' ||
         MAX(CASE WHEN perm % 4 = 3 THEN minhash END) AS band_key
  FROM mh GROUP BY doc_id, CAST(FLOOR(perm / 4) AS INT)
),
sizes AS (SELECT band, band_key, COUNT(*) AS c FROM banded GROUP BY band, band_key),
small AS (
  SELECT banded.* FROM banded JOIN sizes USING (band, band_key) WHERE sizes.c <= 64
)
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b
FROM small a JOIN small b USING (band, band_key)
WHERE a.doc_id < b.doc_id
"""

# transitive closure of the candidate pairs (recursive CTE), then
# cluster id = min reachable id — the oracle for min-label propagation
ORACLES["q_dup_clusters"] = f"""
WITH RECURSIVE pairs AS (
  {{PAIRS}}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach (id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())

ORACLES["q_ngram_jaccard"] = f"""
WITH {_SHINGLES3},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS DOUBLE) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       {r6('n_common / (sa.n_sh + sb.n_sh - n_common)', 'jaccard')}
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
"""

_SIMHASH_BITS = " + ".join(
    f"CASE WHEN SUM((((h >> {15 - b}) & 1) * 2 - 1)) > 0 THEN {1 << b} ELSE 0 END"
    for b in range(16)
)
ORACLES["q_simhash"] = f"""
WITH toks AS (
  SELECT doc_id, CAST('0x' || substr(md5(UNNEST({TOKS_DOC})), 1, 4) AS BIGINT) AS h
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST({_SIMHASH_BITS} AS BIGINT) AS simhash
FROM toks GROUP BY doc_id
"""

_SAMPLE_THR = format(int(0.3 * 16**8), "08x")
ORACLES["q_hash_sample"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id
FROM documents
WHERE substr(md5('s1|' || CAST(doc_id AS STRING)), 1, 8) < '{_SAMPLE_THR}'
"""

ORACLES["q_corpus_clean"] = f"""
WITH sw AS (
  SELECT doc_id,
         CAST(len(list_filter({TOKS_RAW}, x -> x IN ({_STOPWORDS}))) AS DOUBLE)
           / GREATEST(len({TOKS_RAW}), 1) AS stopword_ratio,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens_ws
  FROM documents
),
lang AS (
  SELECT doc_id,
         CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
              WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
              WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
              WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM (
    SELECT doc_id,
           len(list_filter({TOKS_RAW}, x -> x IN ('der','die','und','nicht','ist'))) AS s_de,
           len(list_filter({TOKS_RAW}, x -> x IN ('the','and','of','to','is'))) AS s_en,
           len(list_filter({TOKS_RAW}, x -> x IN ('el','la','que','de','es'))) AS s_es,
           len(list_filter({TOKS_RAW}, x -> x IN ('le','la','et','les','est'))) AS s_fr
    FROM documents
  )
),
keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({NORM_DOC}))
SELECT CAST(sw.doc_id AS BIGINT) AS doc_id, lang.lang_pred
FROM sw
JOIN keep ON sw.doc_id = keep.doc_id
JOIN lang ON sw.doc_id = lang.doc_id
WHERE sw.n_tokens_ws >= 5 AND sw.stopword_ratio >= 0.05 AND lang.lang_pred <> 'und'
"""

ORACLES["q_text_quality"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_q,
       {r6("length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / CAST(GREATEST(length(text), 1) AS DOUBLE)", 'punct_ratio')},
       {r6("length(regexp_replace(text, '[^0-9]', '', 'g')) / CAST(GREATEST(length(text), 1) AS DOUBLE)", 'digit_ratio')},
       {r6("length(regexp_replace(text, '[^A-Z]', '', 'g')) / CAST(GREATEST(length(text), 1) AS DOUBLE)", 'upper_ratio')},
       {r6(f"CAST(list_sum(list_transform({TOKS_RAW}, x -> length(x))) AS DOUBLE) / GREATEST(len({TOKS_RAW}), 1)", 'mean_word_len')},
       {r6(f"CAST(len(list_filter({TOKS_RAW}, x -> x IN ({_STOPWORDS}))) AS DOUBLE) / GREATEST(len({TOKS_RAW}), 1)", 'stopword_ratio')}
FROM documents
"""

ORACLES["q_lang_id"] = f"""
WITH s AS (
  SELECT doc_id,
         len(list_filter({TOKS_RAW}, x -> x IN ('der','die','und','nicht','ist'))) AS s_de,
         len(list_filter({TOKS_RAW}, x -> x IN ('the','and','of','to','is'))) AS s_en,
         len(list_filter({TOKS_RAW}, x -> x IN ('el','la','que','de','es'))) AS s_es,
         len(list_filter({TOKS_RAW}, x -> x IN ('le','la','et','les','est'))) AS s_fr
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
            WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
            WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
            WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM s
"""

ORACLES["q_token_stats"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe
FROM documents
"""

ORACLES["q_fingerprint"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN len({TOKS_RAW}) >= 4 THEN
         list_min(list_transform(generate_series(1, len({TOKS_RAW}) - 3),
                  i -> md5(array_to_string(list_slice({TOKS_RAW}, i, i + 3), ' '))))
       ELSE md5(lower(trim(text))) END AS fingerprint
FROM documents
"""

ORACLES["q_cosine_topk"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
s AS (
  SELECT q.query_id, v.vec_id,
         list_dot_product(v.ev, q.qv)
           / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM v CROSS JOIN q
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       {r6('cos', 'cosine')}, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""

ORACLES["q_ivf_topk"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
cents AS (SELECT vec_id AS cent_id, ev AS cv FROM v
          ORDER BY md5('ivf|' || CAST(vec_id AS STRING)) LIMIT 16),
q AS (SELECT vec_id AS query_id, ev AS qv FROM v WHERE vec_id < 5),
assign_s AS (
  SELECT v.vec_id, v.ev, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_dot_product(v.ev, c.cv)
                    / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                    c.cent_id ASC
         ) AS rn
  FROM v CROSS JOIN cents c
),
assigned AS (SELECT vec_id, ev, cent_id FROM assign_s WHERE rn = 1),
probe_s AS (
  SELECT q.query_id, q.qv, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_dot_product(q.qv, c.cv)
                    / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                    c.cent_id ASC
         ) AS rn
  FROM q CROSS JOIN cents c
),
probes AS (SELECT query_id, qv, cent_id FROM probe_s WHERE rn <= 4),
s AS (
  SELECT p.query_id, a.vec_id,
         list_dot_product(a.ev, p.qv)
           / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(p.qv, p.qv))) AS cos
  FROM assigned a JOIN probes p USING (cent_id)
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       {r6('cos', 'cosine')}, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""

ORACLES["q_filter_mean"] = f"""
WITH t AS ({T})
SELECT conv_id, turn_idx,
       {r6('SUM(signal) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) / 5.0', 'signal_filt')}
FROM t
"""

ORACLES["q_ivh"] = f"""
WITH t AS ({T}),
rng AS (
  SELECT conv_id, MIN(signal) AS lo, MAX(signal) AS hi, CAST(COUNT(*) AS DOUBLE) AS n
  FROM t GROUP BY conv_id
),
thr AS (
  SELECT conv_id, lo, hi, n,
         CAST(UNNEST(generate_series(CAST(lo AS BIGINT), CAST(hi AS BIGINT), 1)) AS DOUBLE) AS tv
  FROM rng WHERE hi > lo
),
fv AS (
  SELECT th.conv_id, th.tv, th.lo, th.hi,
         1.0 - SUM(CASE WHEN t.signal < th.tv THEN 1 ELSE 0 END) / th.n AS f,
         (th.tv - th.lo) / (th.hi - th.lo) AS intfrac
  FROM thr th JOIN t ON t.conv_id = th.conv_id
  GROUP BY th.conv_id, th.tv, th.lo, th.hi, th.n
),
agg AS (
  SELECT conv_id,
         MAX(CASE WHEN intfrac > 0.10 THEN f END) AS v10,
         MAX(CASE WHEN intfrac > 0.90 THEN f END) AS v90,
         MIN(CASE WHEN f <= 0.10 THEN tv END) AS i10,
         MIN(CASE WHEN f <= 0.90 THEN tv END) AS i90
  FROM fv GROUP BY conv_id
)
SELECT r.conv_id,
       {r6('a.v10', 'ivh_v10')},
       {r6('a.v90', 'ivh_v90')},
       {r6('a.i10', 'ivh_i10')},
       {r6('a.i90', 'ivh_i90')},
       {r6('a.v10 - a.v90', 'ivh_diff_v10_v90')},
       {r6('a.i10 - a.i90', 'ivh_diff_i10_i90')}
FROM rng r LEFT JOIN agg a ON r.conv_id = a.conv_id
"""

ORACLES["q_local_peaks"] = f"""
WITH t AS ({T}),
roll AS (
  SELECT conv_id, signal,
         SUM(signal) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) / 7.0 AS rmean,
         MAX(signal) OVER (PARTITION BY conv_id) AS smax
  FROM t
)
SELECT conv_id,
       {r6('MAX(CASE WHEN signal = smax THEN rmean END)', 'loc_peak_loc')},
       {r6('MAX(rmean)', 'loc_peak_glob')}
FROM roll GROUP BY conv_id
"""

# --- resegmentation / discretization variants ------------------------------

# Range reseg on the RAW signal first, then mean±2σ outlier filter whose
# stats come from the POST-RANGE population (order contract:
# zrad/preprocessing/resegmentation.py:230-231); guard: <3 surviving turns
# -> NULL features (masks.py:57-59 analogue)
ORACLES["q_reseg_stats"] = f"""
WITH t AS ({T}),
r1 AS (SELECT conv_id, signal AS x FROM t WHERE signal >= 2 AND signal <= 8),
st AS (
  SELECT conv_id, SUM(x) / COUNT(*) AS m,
         SQRT(GREATEST(SUM(x * x) / COUNT(*) - (SUM(x) / COUNT(*)) * (SUM(x) / COUNT(*)), 0.0)) AS s
  FROM r1 GROUP BY conv_id
),
r2 AS (
  SELECT r1.conv_id, x FROM r1 JOIN st USING (conv_id)
  WHERE x >= m - 2.0 * s AND x <= m + 2.0 * s
),
{det_stats_ctes('r2', ['conv_id'])},
convs AS (SELECT DISTINCT conv_id FROM t)
SELECT c.conv_id, COALESCE(a.n, 0) AS n_eligible,
       {r6('CASE WHEN a.n >= 3 THEN a.mean END', 'stat_mean')},
       {r6('CASE WHEN a.n >= 3 THEN a.var END', 'stat_var')},
       {r6('CASE WHEN a.n >= 3 THEN a.med END', 'stat_median')},
       {r6('CASE WHEN a.n >= 3 THEN a.mn END', 'stat_min')},
       {r6('CASE WHEN a.n >= 3 THEN a.mx END', 'stat_max')},
       {r6('CASE WHEN a.n >= 3 THEN a.cov END', 'stat_cov')},
       {r6('CASE WHEN a.n >= 3 THEN a.energy END', 'stat_energy')}
FROM convs c LEFT JOIN ds_stats a USING (conv_id)
"""

# FBS discretization (floor((x - min)/w) + 1, observed-min anchor,
# discretization.py:62-69) feeding the histogram family, whole conversation
ORACLES["q_fbs_hist"] = f"""
WITH t AS ({T}),
rng AS (
  SELECT conv_id, signal AS x, MIN(signal) OVER (PARTITION BY conv_id) AS mn
  FROM t
),
g_ AS (
  SELECT conv_id, FLOOR((x - mn) / 2.0) + 1 AS grey
  FROM rng
),
counts AS (
  SELECT conv_id, grey, CAST(COUNT(*) AS DOUBLE) AS c
  FROM g_ GROUP BY conv_id, grey
),
enriched AS (
  SELECT conv_id, grey, c,
         c / SUM(c) OVER wk AS p,
         COUNT(*) OVER wk AS n_levels,
         CASE WHEN LAG(c) OVER wl IS NULL AND LEAD(c) OVER wl IS NULL THEN NULL
              WHEN LAG(c) OVER wl IS NULL THEN LEAD(c) OVER wl - c
              WHEN LEAD(c) OVER wl IS NULL THEN c - LAG(c) OVER wl
              ELSE (LEAD(c) OVER wl - LAG(c) OVER wl) / 2 END AS grad
  FROM counts
  WINDOW wk AS (PARTITION BY conv_id),
         wl AS (PARTITION BY conv_id ORDER BY grey)
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY c DESC, grey ASC) AS rn_mode,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY grad DESC, grey ASC) AS rn_maxg,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY grad ASC, grey ASC) AS rn_ming
  FROM enriched
),
agg AS (
  SELECT conv_id,
         -SUM(p * LOG2(p)) AS ih_entropy,
         MAX(CASE WHEN rn_mode = 1 THEN grey END) AS ih_mode,
         MAX(CASE WHEN rn_maxg = 1 AND n_levels > 1 THEN grad END) AS ih_max_grad,
         MAX(CASE WHEN rn_maxg = 1 AND n_levels > 1 THEN grey END) AS ih_max_grad_g,
         MAX(CASE WHEN rn_ming = 1 AND n_levels > 1 THEN grad END) AS ih_min_grad,
         MAX(CASE WHEN rn_ming = 1 AND n_levels > 1 THEN grey END) AS ih_min_grad_g
  FROM ranked GROUP BY conv_id
),
{det_hist_ctes('counts', ['conv_id'])}
SELECT m.conv_id,
       {r6('m.ih_mean', 'ih_mean')},
       {r6('m.ih_var', 'ih_var')},
       {r6('m.ih_median', 'ih_median')},
       {r6('m.ih_min', 'ih_min')},
       {r6('m.ih_max', 'ih_max')},
       {r6('a.ih_entropy', 'ih_entropy')},
       {r6('m.ih_uniformity', 'ih_uniformity')},
       {r6('a.ih_mode', 'ih_mode')},
       {r6('a.ih_max_grad', 'ih_max_grad')},
       {r6('a.ih_max_grad_g', 'ih_max_grad_g')},
       {r6('a.ih_min_grad', 'ih_min_grad')},
       {r6('a.ih_min_grad_g', 'ih_min_grad_g')}
FROM dh_hmom m JOIN agg a USING (conv_id)
"""

# IVH on fixed_bin_size intensities: bin centers anchor+(g-0.5)*w, sweep
# step w (discretization.py:359-444 + extraction_preparation.py:89-117)
ORACLES["q_ivh_fbs"] = f"""
WITH t AS ({T}),
a0 AS (SELECT conv_id, signal AS x FROM t),
anch AS (SELECT conv_id, MIN(x) AS anchor FROM a0 GROUP BY conv_id),
arr AS (
  SELECT a0.conv_id, anchor + (FLOOR((x - anchor) / 2.0) + 0.5) * 2.0 AS v
  FROM a0 JOIN anch USING (conv_id)
),
rng AS (SELECT conv_id, MIN(v) AS lo, MAX(v) AS hi, CAST(COUNT(*) AS DOUBLE) AS n FROM arr GROUP BY conv_id),
thr AS (
  SELECT conv_id, lo, hi, n,
         lo + UNNEST(generate_series(0, CAST((hi - lo) / 2.0 AS BIGINT))) * 2.0 AS tv
  FROM rng WHERE hi > lo
),
fv AS (
  SELECT th.conv_id, th.tv,
         1.0 - SUM(CASE WHEN arr.v < th.tv THEN 1 ELSE 0 END) / th.n AS f,
         (th.tv - th.lo) / (th.hi - th.lo) AS intfrac
  FROM thr th JOIN arr ON arr.conv_id = th.conv_id
  GROUP BY th.conv_id, th.tv, th.lo, th.hi, th.n
),
agg AS (
  SELECT conv_id,
         MAX(CASE WHEN intfrac > 0.10 THEN f END) AS v10,
         MAX(CASE WHEN intfrac > 0.90 THEN f END) AS v90,
         MIN(CASE WHEN f <= 0.10 THEN tv END) AS i10,
         MIN(CASE WHEN f <= 0.90 THEN tv END) AS i90
  FROM fv GROUP BY conv_id
)
SELECT r.conv_id,
       {r6('a.v10', 'ivh_v10')},
       {r6('a.v90', 'ivh_v90')},
       {r6('a.i10', 'ivh_i10')},
       {r6('a.i90', 'ivh_i90')},
       {r6('a.v10 - a.v90', 'ivh_diff_v10_v90')},
       {r6('a.i10 - a.i90', 'ivh_diff_i10_i90')}
FROM rng r LEFT JOIN agg a ON r.conv_id = a.conv_id
"""

# Moran's I / Geary's C with 1/|dt|-second weights over all pairs
# (morphology.py:283-395 analogue; kernels/shape.py moran_geary)
ORACLES["q_moran"] = f"""
WITH t AS ({T}),
o AS (
  SELECT conv_id, signal AS x, CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS tsec,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM t
),
m AS (SELECT conv_id, AVG(x) AS mean, CAST(COUNT(*) AS DOUBLE) AS n FROM o GROUP BY conv_id),
den AS (
  SELECT o.conv_id, SUM(POW(o.x - m.mean, 2)) AS denom
  FROM o JOIN m USING (conv_id) GROUP BY o.conv_id
),
pr AS (
  SELECT a.conv_id,
         SUM(CASE WHEN a.tsec <> b.tsec THEN 1.0 / ABS(a.tsec - b.tsec) ELSE 0 END) AS s0,
         SUM(CASE WHEN a.tsec <> b.tsec THEN (a.x - m.mean) * (b.x - m.mean) / ABS(a.tsec - b.tsec) ELSE 0 END) AS crossp,
         SUM(CASE WHEN a.tsec <> b.tsec THEN POW(a.x - b.x, 2) / ABS(a.tsec - b.tsec) ELSE 0 END) AS sqd
  FROM o a
  JOIN o b ON a.conv_id = b.conv_id AND a.rn <> b.rn
  JOIN m ON m.conv_id = a.conv_id
  GROUP BY a.conv_id
)
SELECT m.conv_id,
       {r6('CASE WHEN m.n < 3 OR m.n > 2000 OR pr.s0 = 0 OR den.denom = 0 THEN NULL ELSE (m.n / pr.s0) * pr.crossp / den.denom END', 'shape_moran_i')},
       {r6('CASE WHEN m.n < 3 OR m.n > 2000 OR pr.s0 = 0 OR den.denom = 0 THEN NULL ELSE ((m.n - 1) / (2 * pr.s0)) * pr.sqd / den.denom END', 'shape_geary_c')}
FROM m
LEFT JOIN pr ON m.conv_id = pr.conv_id
LEFT JOIN den ON m.conv_id = den.conv_id
"""

# full 12-feature conversation-shape block (kernels/shape.py SHAPE_NAMES)
ORACLES["q_shape_full"] = f"""
WITH t AS ({T}),
o AS (
  SELECT conv_id, signal AS x, tool, role, ts, turn_idx,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) - 1 AS pos,
         CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS DOUBLE) / 1e6 AS gap
  FROM t
),
base AS (
  SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS n_turns,
         CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE) / 1e6 AS dur,
         AVG(CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END) AS tool_frac,
         AVG(CAST(pos AS DOUBLE)) AS com_geom,
         SUM(pos * x) / SUM(x) AS com_int
  FROM o GROUP BY conv_id
),
gs AS (
  SELECT conv_id, stddev_pop(gap) AS gap_std, MAX(gap) AS gap_max,
         1 + SUM(CASE WHEN gap > {GAP} THEN 1 ELSE 0 END) AS n_sessions
  FROM o GROUP BY conv_id
),
gm AS (
  SELECT conv_id,
         CASE WHEN COUNT(*) > 1 THEN
           CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE) / (COUNT(*) - 1) / 1e6
         END AS gap_mean
  FROM o GROUP BY conv_id
),
re AS (
  SELECT conv_id, -SUM(p * LOG2(p)) AS role_entropy FROM (
    SELECT conv_id, CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY conv_id) AS p
    FROM o GROUP BY conv_id, role
  ) GROUP BY conv_id
)
SELECT b.conv_id,
       {r6('b.n_turns', 'shape_n_turns')},
       {r6('b.n_turns', 'shape_n_eligible')},
       {r6('b.dur', 'shape_duration_sec')},
       {r6('CASE WHEN b.dur > 0 THEN b.n_turns / b.dur END', 'shape_turn_rate')},
       {r6('gm.gap_mean', 'shape_gap_mean')},
       {r6('g.gap_std', 'shape_gap_std')},
       {r6('g.gap_max', 'shape_gap_max')},
       {r6('g.n_sessions', 'shape_n_sessions')},
       {r6('b.n_turns / g.n_sessions', 'shape_session_len_mean')},
       {r6('r.role_entropy', 'shape_role_entropy')},
       {r6('b.tool_frac', 'shape_tool_frac')},
       {r6('ABS(b.com_geom - b.com_int)', 'shape_intensity_com_shift')}
FROM base b JOIN gs g ON b.conv_id = g.conv_id JOIN gm ON b.conv_id = gm.conv_id JOIN re r ON b.conv_id = r.conv_id
"""

# --- convolutional filter oracles ------------------------------------------
# Taps are re-derived here with plain Python math (independent of the
# engine's NumPy implementation) and embedded as SQL literals; the
# convolution is a positional self-join with zero padding (COALESCE).


def _py_log_taps(sigma=1.5, cutoff=4.0):
    r = math.ceil(cutoff * sigma)
    t = list(range(-r, r + 1))
    g = [math.exp(-(x * x) / (2 * sigma * sigma)) for x in t]
    s = sum(g)
    g = [v / s for v in g]
    lap = [g[i] * (t[i] * t[i] - sigma * sigma) / sigma**4 for i in range(len(t))]
    mean = sum(lap) / len(lap)
    return [v - mean for v in lap]


def _py_gabor_taps(sigma=2.0, wavelength=4.0, cutoff=3.0):
    r = math.ceil(cutoff * sigma)
    t = list(range(-r, r + 1))
    env = [math.exp(-(x * x) / (2 * sigma * sigma)) for x in t]
    re = [env[i] * math.cos(2 * math.pi * t[i] / wavelength) for i in range(len(t))]
    im = [env[i] * math.sin(2 * math.pi * t[i] / wavelength) for i in range(len(t))]
    return re, im


_S5 = [v / math.sqrt(6.0) for v in (-1.0, 0.0, 2.0, 0.0, -1.0)]
_DB2_HI = [-0.48296291314469025, 0.836516303737469, -0.22414386804185735, -0.12940952255092145]
_DB2_HI_AVG = [(a + b) / 2.0 for a, b in zip(_DB2_HI, reversed(_DB2_HI))]


def _taps_values(taps) -> str:
    lpad = len(taps) // 2
    rows = ", ".join(f"({j - lpad}, {w!r})" for j, w in enumerate(taps))
    return f"(VALUES {rows}) k(o, w)"


def _conv_sql(taps) -> str:
    """Zero-padded 'same' correlation: out[i] = sum_o w_o * x[i+o]."""
    return f"""
WITH t AS ({T}),
ordf AS (
  SELECT conv_id, turn_idx, signal,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM t
)
SELECT a.conv_id, a.turn_idx,
       {r6('SUM(k.w * COALESCE(b.signal, 0))', 'signal_filt')}
FROM ordf a
CROSS JOIN {_taps_values(taps)}
LEFT JOIN ordf b ON b.conv_id = a.conv_id AND b.rn = a.rn + k.o
GROUP BY a.conv_id, a.turn_idx
"""


ORACLES["q_filter_log"] = _conv_sql(_py_log_taps())
ORACLES["q_filter_wavelet"] = _conv_sql(_DB2_HI_AVG)

# db4 detail taps derived independently from the published dec_lo via the
# orthogonal QMF relation dec_hi[k] = (-1)^(k+1) * dec_lo[n-1-k]
_DB4_LO = [
    -0.010597401784997278, 0.032883011666982945, 0.030841381835986965,
    -0.18703481171888114, -0.02798376941698385, 0.6308807679295904,
    0.7148465705525415, 0.23037781330885523,
]
_DB4_HI = [((-1.0) ** (k + 1)) * _DB4_LO[len(_DB4_LO) - 1 - k] for k in range(len(_DB4_LO))]
_DB4_HI_AVG = [(a + b) / 2.0 for a, b in zip(_DB4_HI, reversed(_DB4_HI))]
ORACLES["q_filter_wavelet_db4"] = _conv_sql(_DB4_HI_AVG)

# Laws S5 (symmetric -> avg invariance == forward) + energy map: rolling
# mean of |response|, support 5, zero-padded
ORACLES["q_filter_laws"] = f"""
WITH t AS ({T}),
ordf AS (
  SELECT conv_id, turn_idx, signal,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM t
),
resp AS (
  SELECT a.conv_id, a.turn_idx, a.rn, SUM(k.w * COALESCE(b.signal, 0)) AS r
  FROM ordf a
  CROSS JOIN {_taps_values(_S5)}
  LEFT JOIN ordf b ON b.conv_id = a.conv_id AND b.rn = a.rn + k.o
  GROUP BY a.conv_id, a.turn_idx, a.rn
)
SELECT conv_id, turn_idx,
       {r6("SUM(ABS(r)) OVER (PARTITION BY conv_id ORDER BY rn ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) / 5.0", 'signal_filt')}
FROM resp
"""


def _gabor_sql() -> str:
    re, im = _py_gabor_taps()
    lpad = len(re) // 2
    rows = ", ".join(f"({j - lpad}, {re[j]!r}, {im[j]!r})" for j in range(len(re)))
    return f"""
WITH t AS ({T}),
ordf AS (
  SELECT conv_id, turn_idx, signal,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM t
)
SELECT a.conv_id, a.turn_idx,
       {r6('SQRT(POW(SUM(k.wre * COALESCE(b.signal, 0)), 2) + POW(SUM(k.wim * COALESCE(b.signal, 0)), 2))', 'signal_filt')}
FROM ordf a
CROSS JOIN (VALUES {rows}) k(o, wre, wim)
LEFT JOIN ordf b ON b.conv_id = a.conv_id AND b.rn = a.rn + k.o
GROUP BY a.conv_id, a.turn_idx
"""


ORACLES["q_filter_gabor"] = _gabor_sql()

# Flagship filtered extraction: LoG filter per (conv, as_of) PREFIX (the
# filter window never reads past the cutoff), 18 stats on the filtered
# signal, FBN(8) grey levels from per-(conv, as_of) min/max (leakage-safe),
# full 23 histogram features, min-turn guard (<3 -> NULL features, n_bins 0)
ORACLES["q_extract_filtered"] = f"""
WITH t AS ({T}),
rows0 AS (
  SELECT t.conv_id, g.as_of, t.signal,
         ROW_NUMBER() OVER (PARTITION BY t.conv_id, g.as_of ORDER BY t.ts, t.turn_idx) AS rn
  FROM t JOIN {GRID} g(as_of) ON t.ts <= g.as_of
),
filt AS MATERIALIZED (
  -- MATERIALIZED: float SUM order must be fixed once; re-evaluating this
  -- CTE per reference can flip the last ulp of x, breaking the exact
  -- x = max(x) comparison in the FBN bin assignment below
  SELECT a.conv_id, a.as_of, a.rn, SUM(k.w * COALESCE(b.signal, 0)) AS x
  FROM rows0 a
  CROSS JOIN {{LOGTAPS}}
  LEFT JOIN rows0 b ON b.conv_id = a.conv_id AND b.as_of = a.as_of AND b.rn = a.rn + k.o
  GROUP BY a.conv_id, a.as_of, a.rn
),
{det_stats_ctes('filt', ['conv_id', 'as_of'])},
xrng AS (
  SELECT conv_id, as_of, MIN(x) AS mn, MAX(x) AS mx
  FROM filt GROUP BY conv_id, as_of
),
g_ AS (
  SELECT f.conv_id, f.as_of,
         CASE WHEN b.mx = b.mn THEN 1.0
              WHEN f.x = b.mx THEN 8.0
              ELSE FLOOR(8 * (f.x - b.mn) / (b.mx - b.mn)) + 1 END AS grey
  FROM filt f JOIN xrng b USING (conv_id, as_of)
),
gx AS (SELECT conv_id, as_of, grey AS x FROM g_),
{det_stats_ctes('gx', ['conv_id', 'as_of'], p='hs_')},
nb AS (
  SELECT conv_id, as_of, CAST(COUNT(DISTINCT grey) AS BIGINT) AS n_bins
  FROM g_ GROUP BY conv_id, as_of
),
counts AS (
  SELECT conv_id, as_of, grey, CAST(COUNT(*) AS DOUBLE) AS c
  FROM g_ GROUP BY conv_id, as_of, grey
),
{det_hist_ctes('counts', ['conv_id', 'as_of'])},
enriched AS (
  SELECT conv_id, as_of, grey, c,
         c / SUM(c) OVER wk AS p,
         COUNT(*) OVER wk AS n_levels,
         CASE WHEN LAG(c) OVER wl IS NULL AND LEAD(c) OVER wl IS NULL THEN NULL
              WHEN LAG(c) OVER wl IS NULL THEN LEAD(c) OVER wl - c
              WHEN LEAD(c) OVER wl IS NULL THEN c - LAG(c) OVER wl
              ELSE (LEAD(c) OVER wl - LAG(c) OVER wl) / 2 END AS grad
  FROM counts
  WINDOW wk AS (PARTITION BY conv_id, as_of),
         wl AS (PARTITION BY conv_id, as_of ORDER BY grey)
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY conv_id, as_of ORDER BY c DESC, grey ASC) AS rn_mode,
         ROW_NUMBER() OVER (PARTITION BY conv_id, as_of ORDER BY grad DESC, grey ASC) AS rn_maxg,
         ROW_NUMBER() OVER (PARTITION BY conv_id, as_of ORDER BY grad ASC, grey ASC) AS rn_ming
  FROM enriched
),
hagg AS (
  SELECT conv_id, as_of,
         -SUM(p * LOG2(p)) AS entropy,
         SUM(p * p) AS uniformity,
         MAX(CASE WHEN rn_mode = 1 THEN grey END) AS mode,
         MAX(CASE WHEN rn_maxg = 1 AND n_levels > 1 THEN grad END) AS max_grad,
         MAX(CASE WHEN rn_maxg = 1 AND n_levels > 1 THEN grey END) AS max_grad_g,
         MAX(CASE WHEN rn_ming = 1 AND n_levels > 1 THEN grad END) AS min_grad,
         MAX(CASE WHEN rn_ming = 1 AND n_levels > 1 THEN grey END) AS min_grad_g
  FROM ranked GROUP BY conv_id, as_of
),
probes AS (
  SELECT c.conv_id, g.as_of
  FROM (SELECT DISTINCT conv_id FROM t) c CROSS JOIN {GRID} g(as_of)
)
SELECT pr.conv_id, CAST(epoch_us(pr.as_of) AS BIGINT) AS as_of_us,
       COALESCE(b.n, 0) AS n_turns,
       COALESCE(b.n, 0) AS n_eligible,
       CASE WHEN b.n >= 3 THEN nb.n_bins ELSE 0 END AS n_bins,
       {r6('CASE WHEN b.n >= 3 THEN b.mean END', 'stat_mean')},
       {r6('CASE WHEN b.n >= 3 THEN b.var END', 'stat_var')},
       {r6('CASE WHEN b.n >= 3 THEN b.skew END', 'stat_skew')},
       {r6('CASE WHEN b.n >= 3 THEN b.kurt END', 'stat_kurt')},
       {r6('CASE WHEN b.n >= 3 THEN b.med END', 'stat_median')},
       {r6('CASE WHEN b.n >= 3 THEN b.mn END', 'stat_min')},
       {r6('CASE WHEN b.n >= 3 THEN b.p10 END', 'stat_p10')},
       {r6('CASE WHEN b.n >= 3 THEN b.p90 END', 'stat_p90')},
       {r6('CASE WHEN b.n >= 3 THEN b.mx END', 'stat_max')},
       {r6('CASE WHEN b.n >= 3 THEN b.iqr END', 'stat_iqr')},
       {r6('CASE WHEN b.n >= 3 THEN b.rng END', 'stat_range')},
       {r6('CASE WHEN b.n >= 3 THEN b.mad END', 'stat_mad')},
       {r6('CASE WHEN b.n >= 3 THEN b.rmad END', 'stat_rmad')},
       {r6('CASE WHEN b.n >= 3 THEN b.medad END', 'stat_medad')},
       {r6('CASE WHEN b.n >= 3 THEN b.cov END', 'stat_cov')},
       {r6('CASE WHEN b.n >= 3 THEN b.qcod END', 'stat_qcod')},
       {r6('CASE WHEN b.n >= 3 THEN b.energy END', 'stat_energy')},
       {r6('CASE WHEN b.n >= 3 THEN b.rms END', 'stat_rms')},
       {r6('CASE WHEN b.n >= 3 THEN hs.mean END', 'ih_mean')},
       {r6('CASE WHEN b.n >= 3 THEN hs.var END', 'ih_var')},
       {r6('CASE WHEN b.n >= 3 THEN hs.skew END', 'ih_skew')},
       {r6('CASE WHEN b.n >= 3 THEN hs.kurt END', 'ih_kurt')},
       {r6('CASE WHEN b.n >= 3 THEN hs.med END', 'ih_median')},
       {r6('CASE WHEN b.n >= 3 THEN hs.mn END', 'ih_min')},
       {r6('CASE WHEN b.n >= 3 THEN hs.p10 END', 'ih_p10')},
       {r6('CASE WHEN b.n >= 3 THEN hs.p90 END', 'ih_p90')},
       {r6('CASE WHEN b.n >= 3 THEN hs.mx END', 'ih_max')},
       {r6('CASE WHEN b.n >= 3 THEN ha.mode END', 'ih_mode')},
       {r6('CASE WHEN b.n >= 3 THEN hs.iqr END', 'ih_iqr')},
       {r6('CASE WHEN b.n >= 3 THEN hs.rng END', 'ih_range')},
       {r6('CASE WHEN b.n >= 3 THEN hs.mad END', 'ih_mad')},
       {r6('CASE WHEN b.n >= 3 THEN hs.rmad END', 'ih_rmad')},
       {r6('CASE WHEN b.n >= 3 THEN hs.medad END', 'ih_medad')},
       {r6('CASE WHEN b.n >= 3 THEN hs.cov END', 'ih_cov')},
       {r6('CASE WHEN b.n >= 3 THEN hs.qcod END', 'ih_qcod')},
       {r6('CASE WHEN b.n >= 3 THEN ha.entropy END', 'ih_entropy')},
       {r6('CASE WHEN b.n >= 3 THEN hm.ih_uniformity END', 'ih_uniformity')},
       {r6('CASE WHEN b.n >= 3 THEN ha.max_grad END', 'ih_max_grad')},
       {r6('CASE WHEN b.n >= 3 THEN ha.max_grad_g END', 'ih_max_grad_g')},
       {r6('CASE WHEN b.n >= 3 THEN ha.min_grad END', 'ih_min_grad')},
       {r6('CASE WHEN b.n >= 3 THEN ha.min_grad_g END', 'ih_min_grad_g')}
FROM probes pr
LEFT JOIN ds_stats b ON pr.conv_id = b.conv_id AND pr.as_of = b.as_of
LEFT JOIN nb ON pr.conv_id = nb.conv_id AND pr.as_of = nb.as_of
LEFT JOIN hs_stats hs ON pr.conv_id = hs.conv_id AND pr.as_of = hs.as_of
LEFT JOIN dh_hmom hm ON pr.conv_id = hm.conv_id AND pr.as_of = hm.as_of
LEFT JOIN hagg ha ON pr.conv_id = ha.conv_id AND pr.as_of = ha.as_of
""".replace("{LOGTAPS}", _taps_values(_py_log_taps()))

# Flagship ROI semantics: system turns are masked (eligibility holes) —
# stats/hist see only eligible values, GLCM pairs (lags 1..4, matrices
# summed before normalizing) require BOTH endpoints eligible at original
# index distance, runs break at holes, sessions/roles still see all turns
ORACLES["q_flagship_slice"] = f"""
WITH t AS ({T}),
rows0 AS (
  SELECT t.conv_id, g.as_of, t.signal, t.role, t.ts,
         t.role IN ('user', 'assistant', 'tool') AS elig,
         CAST(t.signal AS INT) AS gi,
         ROW_NUMBER() OVER (PARTITION BY t.conv_id, g.as_of ORDER BY t.ts, t.turn_idx) AS rn
  FROM t JOIN {GRID} g(as_of) ON t.ts <= g.as_of
),
nel AS (
  SELECT conv_id, as_of, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(CASE WHEN elig THEN 1 END) AS BIGINT) AS ne
  FROM rows0 GROUP BY conv_id, as_of
),
st AS (
  SELECT conv_id, as_of, AVG(signal) AS mean, CAST(SUM(signal * signal) AS DOUBLE) AS energy
  FROM rows0 WHERE elig GROUP BY conv_id, as_of
),
hc AS (
  SELECT conv_id, as_of, gi, CAST(COUNT(*) AS DOUBLE) AS c
  FROM rows0 WHERE elig GROUP BY conv_id, as_of, gi
),
hist AS (
  SELECT conv_id, as_of,
         -SUM(p * LOG2(p)) AS entropy,
         MAX(CASE WHEN rn_mode = 1 THEN gi END) AS mode
  FROM (
    SELECT conv_id, as_of, gi,
           c / SUM(c) OVER (PARTITION BY conv_id, as_of) AS p,
           ROW_NUMBER() OVER (PARTITION BY conv_id, as_of ORDER BY c DESC, gi ASC) AS rn_mode
    FROM hc
  )
  GROUP BY conv_id, as_of
),
gaps AS (
  SELECT conv_id, as_of,
         CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY conv_id, as_of ORDER BY rn) AS DOUBLE) / 1e6 AS gap
  FROM rows0
),
sess AS (
  SELECT conv_id, as_of, 1 + SUM(CASE WHEN gap > {GAP} THEN 1 ELSE 0 END) AS n_sessions
  FROM gaps GROUP BY conv_id, as_of
),
re AS (
  SELECT conv_id, as_of, -SUM(p * LOG2(p)) AS role_entropy FROM (
    SELECT conv_id, as_of,
           CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY conv_id, as_of) AS p
    FROM rows0 GROUP BY conv_id, as_of, role
  ) GROUP BY conv_id, as_of
),
pairs0 AS (
  SELECT a.conv_id, a.as_of, a.gi AS x, b.gi AS y
  FROM rows0 a
  JOIN (VALUES (1), (2), (3), (4)) lagv(k) ON TRUE
  JOIN rows0 b ON b.conv_id = a.conv_id AND b.as_of = a.as_of AND b.rn = a.rn + lagv.k
  WHERE a.elig AND b.elig
),
pairs AS (
  SELECT conv_id, as_of, x AS i, y AS j FROM pairs0
  UNION ALL
  SELECT conv_id, as_of, y AS i, x AS j FROM pairs0
),
cells AS (
  SELECT conv_id, as_of, i, j, CAST(COUNT(*) AS DOUBLE) AS c
  FROM pairs GROUP BY conv_id, as_of, i, j
),
glcm AS (
  SELECT conv_id, as_of,
         SUM(c * POW(i - j, 2)) / MAX(tot) AS contrast,
         -SUM((c / tot) * LOG2(c / tot)) AS joint_entr
  FROM (SELECT *, SUM(c) OVER (PARTITION BY conv_id, as_of) AS tot FROM cells)
  GROUP BY conv_id, as_of
),
erows AS (
  SELECT conv_id, as_of, gi, rn,
         CASE WHEN LAG(rn) OVER w IS NULL OR rn - LAG(rn) OVER w > 1
                   OR LAG(gi) OVER w IS DISTINCT FROM gi THEN 1 ELSE 0 END AS brk
  FROM rows0 WHERE elig
  WINDOW w AS (PARTITION BY conv_id, as_of ORDER BY rn)
),
runs AS (
  SELECT conv_id, as_of, run_id, CAST(MIN(gi) AS DOUBLE) AS lvl, CAST(COUNT(*) AS DOUBLE) AS len
  FROM (
    SELECT *, SUM(brk) OVER (PARTITION BY conv_id, as_of ORDER BY rn) AS run_id FROM erows
  ) GROUP BY conv_id, as_of, run_id
),
rl AS (
  SELECT conv_id, as_of,
         AVG(1.0 / (len * len)) AS sre,
         CAST(COUNT(*) AS DOUBLE) AS n_s
  FROM runs GROUP BY conv_id, as_of
),
rle AS (
  SELECT r.conv_id, r.as_of, -SUM((cc.c / r.n_s) * LOG2(cc.c / r.n_s)) AS rl_entr
  FROM (
    SELECT conv_id, as_of, lvl, len, CAST(COUNT(*) AS DOUBLE) AS c
    FROM runs GROUP BY conv_id, as_of, lvl, len
  ) cc JOIN rl r ON cc.conv_id = r.conv_id AND cc.as_of = r.as_of
  GROUP BY r.conv_id, r.as_of
),
probes AS (
  SELECT c.conv_id, g.as_of
  FROM (SELECT DISTINCT conv_id FROM t) c CROSS JOIN {GRID} g(as_of)
)
SELECT pr.conv_id, CAST(epoch_us(pr.as_of) AS BIGINT) AS as_of_us,
       COALESCE(nel.n, 0) AS n_turns,
       COALESCE(nel.ne, 0) AS n_eligible,
       {r6('CASE WHEN nel.ne >= 3 THEN st.mean END', 'stat_mean')},
       {r6('CASE WHEN nel.ne >= 3 THEN st.energy END', 'stat_energy')},
       {r6('CASE WHEN nel.ne >= 3 THEN hist.entropy END', 'ih_entropy')},
       {r6('CASE WHEN nel.ne >= 3 THEN hist.mode END', 'ih_mode')},
       {r6('CASE WHEN nel.ne >= 3 THEN sess.n_sessions END', 'shape_n_sessions')},
       {r6('CASE WHEN nel.ne >= 3 THEN re.role_entropy END', 'shape_role_entropy')},
       {r6('CASE WHEN nel.ne >= 3 THEN glcm.contrast END', 'cm_contrast')},
       {r6('CASE WHEN nel.ne >= 3 THEN glcm.joint_entr END', 'cm_joint_entr')},
       {r6('CASE WHEN nel.ne >= 3 THEN rl.sre END', 'rlm_sre')},
       {r6('CASE WHEN nel.ne >= 3 THEN rle.rl_entr END', 'rlm_rl_entr')}
FROM probes pr
LEFT JOIN nel ON pr.conv_id = nel.conv_id AND pr.as_of = nel.as_of
LEFT JOIN st ON pr.conv_id = st.conv_id AND pr.as_of = st.as_of
LEFT JOIN hist ON pr.conv_id = hist.conv_id AND pr.as_of = hist.as_of
LEFT JOIN sess ON pr.conv_id = sess.conv_id AND pr.as_of = sess.as_of
LEFT JOIN re ON pr.conv_id = re.conv_id AND pr.as_of = re.as_of
LEFT JOIN glcm ON pr.conv_id = glcm.conv_id AND pr.as_of = glcm.as_of
LEFT JOIN rl ON pr.conv_id = rl.conv_id AND pr.as_of = rl.as_of
LEFT JOIN rle ON pr.conv_id = rle.conv_id AND pr.as_of = rle.as_of
"""

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
_PII_PHONE = "\\+[0-9][0-9 ()-]{7,}[0-9]"
ORACLES["q_pii_redact"] = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact u' || CAST(doc_id AS STRING) || '@ex.io at 10.0.0.'
                   || CAST(doc_id % 250 AS STRING) || ' or +1 415 555 00'
                   || CAST(doc_id % 89 + 10 AS STRING)
              ELSE text END AS t0
  FROM documents
),
s1 AS (
  SELECT doc_id, CAST(len(regexp_extract_all(t0, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
         regexp_replace(t0, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM aug
),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t1, '{_PII_IP}')) AS BIGINT) AS n_ipv4,
         regexp_replace(t1, '{_PII_IP}', '<IP>', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n_email, n_ipv4,
         CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
         regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS t3
  FROM s2
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_email, n_ipv4, n_phone,
       md5(t3) AS redacted_md5
FROM s3
"""

ORACLES["q_embed_dups"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       {r6('list_dot_product(a.ev, b.ev) / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev)))', 'cosine')}
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.ev, b.ev)
      / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))) >= 0.3
"""

ORACLES["q_semi_eligible"] = f"""
WITH t AS ({T})
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(COUNT(CASE WHEN tool IS NOT NULL THEN 1 END) AS BIGINT) AS n_tool,
       {r6('SUM(signal)', 'tok_sum')}
FROM t
WHERE conv_id IN (SELECT DISTINCT conv_id FROM t WHERE tool IS NOT NULL)
GROUP BY conv_id
"""

ORACLES["q_anti_eligible"] = f"""
WITH t AS ({T})
SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
       {r6('SUM(signal)', 'tok_sum')}
FROM t
WHERE conv_id NOT IN (SELECT DISTINCT conv_id FROM t
                      WHERE role = 'system' AND ts >= TIMESTAMP '2024-01-30 00:00:00')
GROUP BY conv_id
"""

# IVH on FBN(1000) grey levels: fixed range [1, 1000], sweep step 1
# (discretization.py:140-215; IBSI config E, tests/test_ibsi_1.py:338-367)
ORACLES["q_ivh_fbn"] = f"""
WITH t AS ({T}),
rng0 AS (SELECT conv_id, MIN(signal) AS mn, MAX(signal) AS mx FROM t GROUP BY conv_id),
arr AS (
  SELECT t.conv_id,
         CASE WHEN r.mx = r.mn THEN 1.0
              WHEN t.signal = r.mx THEN 1000.0
              ELSE FLOOR(1000 * (t.signal - r.mn) / (r.mx - r.mn)) + 1 END AS v
  FROM t JOIN rng0 r USING (conv_id)
),
nn AS (SELECT conv_id, CAST(COUNT(*) AS DOUBLE) AS n FROM arr GROUP BY conv_id),
thr AS (
  SELECT conv_id, n, CAST(UNNEST(generate_series(1, 1000, 1)) AS DOUBLE) AS tv
  FROM nn
),
fv AS (
  SELECT th.conv_id, th.tv,
         1.0 - SUM(CASE WHEN a.v < th.tv THEN 1 ELSE 0 END) / th.n AS f,
         (th.tv - 1.0) / (1000.0 - 1.0) AS intfrac
  FROM thr th JOIN arr a ON a.conv_id = th.conv_id
  GROUP BY th.conv_id, th.tv, th.n
),
agg AS (
  SELECT conv_id,
         MAX(CASE WHEN intfrac > 0.10 THEN f END) AS v10,
         MAX(CASE WHEN intfrac > 0.90 THEN f END) AS v90,
         MIN(CASE WHEN f <= 0.10 THEN tv END) AS i10,
         MIN(CASE WHEN f <= 0.90 THEN tv END) AS i90
  FROM fv GROUP BY conv_id
)
SELECT n0.conv_id,
       {r6('a.v10', 'ivh_v10')},
       {r6('a.v90', 'ivh_v90')},
       {r6('a.i10', 'ivh_i10')},
       {r6('a.i90', 'ivh_i90')},
       {r6('a.v10 - a.v90', 'ivh_diff_v10_v90')},
       {r6('a.i10 - a.i90', 'ivh_diff_i10_i90')}
FROM nn n0 LEFT JOIN agg a ON n0.conv_id = a.conv_id
"""

# distributed texture variants share the single-path oracles exactly
ORACLES["q_glcm_dist"] = ORACLES["q_glcm"]
ORACLES["q_glrlm_dist"] = ORACLES["q_glrlm"]
ORACLES["q_ngldm_dist"] = ORACLES["q_ngldm"]
ORACLES["q_glcm_salted"] = ORACLES["q_glcm"]
ORACLES["q_glrlm_salted"] = ORACLES["q_glrlm"]
ORACLES["q_ngldm_salted"] = ORACLES["q_ngldm"]
ORACLES["q_ngtdm_dist"] = ORACLES["q_ngtdm"]
ORACLES["q_gldzm_dist"] = ORACLES["q_gldzm"]
ORACLES["q_gldzm_salted"] = ORACLES["q_gldzm"]
ORACLES["q_ngtdm_salted"] = ORACLES["q_ngtdm"]

# ---------------------------------------------------------------------------
# corpus analytics additions: TF-IDF / stratified sampling / heavy hitters
# ---------------------------------------------------------------------------

ORACLES["q_tfidf"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_DOC}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM toks GROUP BY doc_id, token
),
dfreq AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df_t FROM tf GROUP BY token),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
idf AS (
  SELECT token, ln((n_docs + 1.0) / (df_t + 1.0)) + 1.0 AS idf
  FROM dfreq CROSS JOIN n
),
scored AS (
  SELECT tf.doc_id, tf.token, ROUND(tf.tf * idf.idf, 6) AS tfidf
  FROM tf JOIN idf USING (token)
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, token,
       {r6('tfidf', 'tfidf')},
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""

# thresholds are the same 8-hex-digit literals the Spark plan embeds
# (format(int(rate * 16**8), '08x'); 'gggggggg' sorts above all hex = keep-all)
ORACLES["q_stratified_sample"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM documents
WHERE substr(md5('strat1|' || CAST(doc_id AS STRING)), 1, 8) <
      CASE lang WHEN 'de' THEN '99999999'
                WHEN 'en' THEN '40000000'
                WHEN 'fr' THEN 'gggggggg'
                ELSE '19999999' END
"""

ORACLES["q_top_tokens"] = f"""
WITH toks AS (
  SELECT lang, unnest({TOKS_DOC}) AS token FROM documents
),
counts AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n
  FROM toks GROUP BY lang, token
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
  FROM counts
)
SELECT lang, token, n, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# corpus curation / clustering / streaming block (round 2)
# ---------------------------------------------------------------------------

# word n-gram array over TOKS_RAW: space-joined, empty when < n tokens
def _duck_grams(n: int, tk: str = "tk") -> str:
    return (
        f"list_transform(generate_series(1, greatest(len({tk}) - {n - 1}, 0)), "
        f"i -> array_to_string(list_slice({tk}, i, i + {n - 1}), ' '))"
    )


ORACLES["q_quality_rules"] = f"""
WITH m AS (
  SELECT doc_id,
         len({TOKS_RAW}) AS n_words,
         CAST(list_sum(list_transform({TOKS_RAW}, x -> length(x))) AS DOUBLE)
           / CAST(GREATEST(len({TOKS_RAW}), 1) AS DOUBLE) AS mwl,
         CAST(len(list_filter({TOKS_RAW}, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
           / CAST(GREATEST(len({TOKS_RAW}), 1) AS DOUBLE) AS af,
         len(list_distinct(list_filter({TOKS_RAW},
             x -> x IN ('the','and','of','to','is')))) AS sh
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       {r6('mwl', 'mean_word_len')},
       {r6('af', 'alpha_frac')},
       CAST(sh AS BIGINT) AS stop_hits,
       CAST(CASE WHEN n_words >= 10 AND n_words <= 100000
                  AND mwl >= 2.0 AND mwl <= 12.0
                  AND af >= 0.8 AND sh >= 2 THEN 1 ELSE 0 END AS INT) AS pass_gopher
FROM m
"""

ORACLES["q_decontaminate"] = f"""
WITH toks AS (SELECT doc_id, {TOKS_RAW} AS tk FROM documents),
grams AS (
  SELECT doc_id, unnest(list_distinct({_duck_grams(3)})) AS gram FROM toks
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
ov AS (
  SELECT doc_id, COUNT(*) AS n
  FROM grams JOIN bench USING (gram)
  WHERE doc_id % 97 <> 0 GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap_grams,
       CAST(CASE WHEN COALESCE(ov.n, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
WHERE d.doc_id % 97 <> 0
"""

ORACLES["q_repetition"] = f"""
WITH g AS (
  SELECT doc_id, {_duck_grams(2, TOKS_RAW)} AS g2, {_duck_grams(3, TOKS_RAW)} AS g3
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {r6("CASE WHEN len(g2) > 0 THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE) ELSE 0.0 END", 'dup_2gram_frac')},
       {r6("CASE WHEN len(g3) > 0 THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE) ELSE 0.0 END", 'dup_3gram_frac')}
FROM g
"""

ORACLES["q_rare_tokens"] = f"""
WITH tk AS (SELECT doc_id, unnest({TOKS_RAW}) AS token FROM documents),
freq AS (
  SELECT token, COUNT(*) AS ctf, COUNT(DISTINCT doc_id) AS cdf
  FROM tk GROUP BY token
),
pd AS (
  SELECT doc_id,
         COUNT(*) AS n_tokens,
         COUNT(DISTINCT token) AS n_distinct,
         SUM(ctf) AS stf, SUM(cdf) AS sdf,
         SUM(CASE WHEN ctf <= 3 THEN 1 ELSE 0 END) AS nrare
  FROM tk JOIN freq USING (token) GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       {r6('CAST(stf AS DOUBLE) / CAST(n_tokens AS DOUBLE)', 'mean_tf')},
       {r6('CAST(sdf AS DOUBLE) / CAST(n_tokens AS DOUBLE)', 'mean_df')},
       {r6('CAST(nrare AS DOUBLE) / CAST(n_tokens AS DOUBLE)', 'rare_frac')}
FROM pd
"""

ORACLES["q_unigram_lm"] = f"""
WITH d AS (SELECT doc_id, {TOKS_RAW} AS tk FROM documents),
tok AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS token FROM d
),
freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM freq),
lp AS (
  SELECT tok.doc_id, tok.pos,
         ln((CAST(f.tf AS DOUBLE) + 1.0) / (t.n + 1.0 * t.v)) AS l
  FROM tok JOIN freq f USING (token), tot t
),
pd AS (
  SELECT doc_id, COUNT(*) AS n,
         list_reduce([0.0] || list(l ORDER BY pos), (acc, x) -> acc + x) AS s
  FROM lp GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       {r6('-s / CAST(n AS DOUBLE)', 'nll')},
       {r6('exp(-s / CAST(n AS DOUBLE))', 'ppl')}
FROM pd
"""

ORACLES["q_source_reputation"] = f"""
WITH ps AS (
  SELECT source,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT md5({NORM_DOC})) AS nuniq,
         SUM(length(text)) AS schars
  FROM documents GROUP BY source
),
m AS (
  SELECT source, n_docs,
         CAST(1 AS DOUBLE) - CAST(nuniq AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
         CAST(schars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars
  FROM ps
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source,
       CAST(m.n_docs AS BIGINT) AS n_docs,
       {r6('m.dup_rate', 'dup_rate')},
       {r6('m.mean_chars', 'mean_chars')},
       CAST(CASE WHEN m.dup_rate > 0.05 THEN 1 ELSE 0 END AS INT) AS bad_source
FROM documents d JOIN m ON d.source = m.source
"""

ORACLES["q_kmeans_assign"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
cents AS (SELECT vec_id AS cent_id, ev AS cv FROM v
          ORDER BY md5('km|' || CAST(vec_id AS STRING)) LIMIT 8),
s AS (
  SELECT v.vec_id, c.cent_id,
         list_dot_product(v.ev, c.cv)
           / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_dot_product(v.ev, c.cv)
                    / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                    c.cent_id ASC
         ) AS rn
  FROM v CROSS JOIN cents c
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cent_id AS BIGINT) AS cluster_id,
       {r6('cos', 'cosine')}
FROM s WHERE rn = 1
"""

ORACLES["q_semdedup"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
cents AS (SELECT vec_id AS cent_id, ev AS cv FROM v
          ORDER BY md5('km|' || CAST(vec_id AS STRING)) LIMIT 8),
s AS (
  SELECT v.vec_id, v.ev, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_dot_product(v.ev, c.cv)
                    / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                    c.cent_id ASC
         ) AS rn
  FROM v CROSS JOIN cents c
),
asg AS (SELECT vec_id, cent_id AS cluster_id, ev FROM s WHERE rn = 1),
p AS (
  SELECT b.vec_id AS bid, MIN(a.vec_id) AS dup_of,
         arg_min(list_dot_product(a.ev, b.ev)
                 / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))),
                 a.vec_id) AS dup_cos
  FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.ev, b.ev)
        / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))) >= 0.3
  GROUP BY b.vec_id
)
SELECT CAST(g.vec_id AS BIGINT) AS vec_id,
       CAST(g.cluster_id AS BIGINT) AS cluster_id,
       CAST(CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS keep,
       CAST(p.dup_of AS BIGINT) AS dup_of,
       {r6('p.dup_cos', 'dup_cosine')}
FROM asg g LEFT JOIN p ON g.vec_id = p.bid
"""

# the gate query re-segments the corpus into deterministic 8-token lines
# (the synthetic documents carry no newlines); the oracle replays the same
# construction, then the RefinedWeb boilerplate rule: a line occurring in
# >1 distinct documents is dropped, survivors re-joined in original order
ORACLES["q_line_dedup"] = f"""
WITH d AS (SELECT doc_id, {TOKS_RAW} AS tk FROM documents),
tok AS (SELECT doc_id, generate_subscripts(tk, 1) - 1 AS i, unnest(tk) AS token FROM d),
lines AS (
  SELECT doc_id, i // 8 AS lno, string_agg(token, ' ' ORDER BY i) AS line
  FROM tok GROUP BY doc_id, i // 8
),
dfq AS (
  SELECT md5(line) AS lkey, COUNT(DISTINCT doc_id) AS ddf
  FROM lines GROUP BY md5(line)
),
m AS (
  SELECT l.doc_id, l.lno, l.line, (q.ddf > 1) AS rm
  FROM lines l JOIN dfq q ON md5(l.line) = q.lkey
),
agg AS (
  SELECT doc_id,
         COUNT(*) AS n_lines,
         SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS n_removed,
         COALESCE(string_agg(CASE WHEN NOT rm THEN line END, chr(10) ORDER BY lno), '') AS clean_text
  FROM m GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       md5(clean_text) AS clean_md5,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_removed AS BIGINT) AS n_removed
FROM agg
"""

# DSIR replay: same md5 bucketing (15 hex chars -> BIGINT mod 1024), the
# same add-one-smoothed per-bucket log densities as ONE ln of a quotient
# (not ln-minus-ln), and the same ordered positional fold per document
ORACLES["q_dsir"] = f"""
WITH d AS (SELECT doc_id, source, {TOKS_RAW} AS tk FROM documents),
tok AS (SELECT doc_id, source, generate_subscripts(tk, 1) AS pos, unnest(tk) AS token FROM d),
bt AS (
  SELECT doc_id, source, pos,
         ('0x' || substring(md5(token), 1, 15))::BIGINT % 1024 AS b
  FROM tok
),
rc AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS c FROM bt GROUP BY b),
rn AS (SELECT SUM(c) AS n FROM rc),
tc AS (SELECT b, CAST(COUNT(*) AS DOUBLE) AS c FROM bt WHERE source IN ('src0', 'src1') GROUP BY b),
tn AS (SELECT SUM(c) AS n FROM tc),
lr AS (
  SELECT COALESCE(rc.b, tc.b) AS b,
         COALESCE(ln((tc.c + 1.0) / (tn.n + 1024.0)), ln(1.0 / (tn.n + 1024.0)))
         - COALESCE(ln((rc.c + 1.0) / (rn.n + 1024.0)), ln(1.0 / (rn.n + 1024.0))) AS lr
  FROM rc FULL OUTER JOIN tc ON rc.b = tc.b, rn, tn
),
pd AS (
  SELECT bt.doc_id, COUNT(*) AS n,
         list_reduce([0.0] || list(lr.lr ORDER BY bt.pos), (acc, x) -> acc + x) AS s
  FROM bt JOIN lr ON bt.b = lr.b GROUP BY bt.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       {r6('s', 'logw')}
FROM pd
"""

# duplicate 8-gram span coverage: gram hashes replayed as md5 of the
# space-joined token slice; covered tokens = n + sum(min(n, delta)) over
# the sorted duplicated starts, expressed as a window lag (the starts are
# strictly increasing per document, so lag(start) + n - 1 IS the furthest
# previous interval end — no fold needed)
ORACLES["q_dup_spans"] = f"""
WITH d AS (SELECT doc_id, {TOKS_RAW} AS tk FROM documents),
g AS (
  SELECT doc_id, i, md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS gkey
  FROM d, unnest(generate_series(1, len(tk) - 7)) AS t(i)
),
dup AS (SELECT gkey FROM g GROUP BY gkey HAVING COUNT(DISTINCT doc_id) >= 2),
p AS (
  SELECT g.doc_id, g.i,
         g.i - lag(g.i) OVER (PARTITION BY g.doc_id ORDER BY g.i) AS delta
  FROM g JOIN dup USING (gkey)
),
s AS (
  SELECT doc_id, COUNT(*) AS n_dup_grams,
         SUM(CASE WHEN delta IS NULL THEN 8 ELSE LEAST(8, delta) END) AS covered
  FROM p GROUP BY doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(len(d.tk) AS BIGINT) AS n_tokens,
       CAST(COALESCE(s.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CAST(COALESCE(s.covered, 0) AS BIGINT) AS covered_tokens,
       {r6('CAST(COALESCE(s.covered, 0) AS DOUBLE) / CAST(len(d.tk) AS DOUBLE)', 'dup_frac')},
       CAST(CASE WHEN CAST(COALESCE(s.covered, 0) AS DOUBLE) / CAST(len(d.tk) AS DOUBLE) >= 0.2
                 THEN 1 ELSE 0 END AS INT) AS drop_doc
FROM d LEFT JOIN s ON d.doc_id = s.doc_id
"""

# domain-mixture constants shared with the q_domain_mix gate query: the
# entry file imports these, so both engines parse the IDENTICAL double
# coefficients (budget * normalized weight, folded in Python)
MIX_WEIGHTS = {
    **{f"src{i}": 3.0 for i in range(4)},
    **{f"src{i}": 1.0 for i in range(4, 10)},
    **{f"src{i}": 0.25 for i in range(10, 20)},
}
MIX_BUDGET = 0.5
_mix_wsum = float(sum(MIX_WEIGHTS.values()))
_MIX_CASE = (
    "CASE c.source "
    + " ".join(
        f"WHEN '{s}' THEN {MIX_BUDGET * (float(w) / _mix_wsum)!r}"
        for s, w in sorted(MIX_WEIGHTS.items())
    )
    + " ELSE 0.0 END"
)

ORACLES["q_domain_mix"] = f"""
WITH c AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_src FROM documents GROUP BY source),
t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_tot FROM documents),
r AS (
  SELECT c.source, LEAST(1.0, {_MIX_CASE} * t.n_tot / c.n_src) AS rate
  FROM c, t
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       d.source,
       {r6('r.rate', 'rate')},
       CAST(CASE WHEN ('0x' || substring(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                 < CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT) THEN 1 ELSE 0 END AS INT) AS kept
FROM documents d JOIN r ON d.source = r.source
"""

# batch replica of the streaming append-mode contract: tumbling 1h windows
# (epoch-aligned integer bucketing, same as Spark's window()), emitted iff
# window_end <= final watermark = max event time (delay 0s)
ORACLES["q_stream_window_stats"] = """
WITH b AS (
  SELECT 'c' || CAST(user_id AS STRING) AS conv_id, ts,
         CAST(1 + ABS(CAST(FLOOR(value) AS INT)) % 9 AS DOUBLE) AS signal
  FROM events
),
mx AS (SELECT MAX(epoch_us(ts)) AS m FROM b),
agg AS (
  SELECT conv_id,
         epoch_us(ts) - epoch_us(ts) % 3600000000 AS ws,
         COUNT(*) AS n, SUM(signal) AS ssum, MIN(signal) AS smin, MAX(signal) AS smax
  FROM b GROUP BY conv_id, ws
)
SELECT conv_id,
       CAST(ws AS BIGINT) AS window_start_us,
       CAST(ws + 3600000000 AS BIGINT) AS window_end_us,
       CAST(n AS BIGINT) AS n_turns,
       ROUND(CAST(ssum AS DOUBLE), 6) + 0 AS signal_sum,
       ROUND(CAST(smin AS DOUBLE), 6) + 0 AS signal_min,
       ROUND(CAST(smax AS DOUBLE), 6) + 0 AS signal_max
FROM agg, mx
WHERE ws + 3600000000 <= mx.m
"""


ORACLES["q_interval_join"] = f"""
WITH t AS ({T}),
iv AS (
  SELECT conv_id, ts AS start_ts, ts + INTERVAL 30 MINUTE AS end_ts
  FROM t WHERE role = 'system'
),
hits AS (
  SELECT p.conv_id, p.turn_idx, COUNT(*) AS n
  FROM t p JOIN iv
    ON p.conv_id = iv.conv_id AND p.ts >= iv.start_ts AND p.ts <= iv.end_ts
  GROUP BY p.conv_id, p.turn_idx
)
SELECT t.conv_id, CAST(t.turn_idx AS INT) AS turn_idx,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_err_windows
FROM t LEFT JOIN hits h ON t.conv_id = h.conv_id AND t.turn_idx = h.turn_idx
"""

ORACLES["q_shard_pack"] = f"""
WITH d AS (
  SELECT doc_id,
         len({TOKS_RAW}) AS n_tokens,
         md5('shard1|' || CAST(doc_id AS STRING)) AS h
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
  FROM d
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_before AS BIGINT) AS cum_before,
       CAST(FLOOR(cum_before / 2000) AS BIGINT) AS shard_id
FROM c
"""


# hash_split thresholds: identical integer math to dedup.hash_split
_SPLIT_T1 = format(int(0.8 * 16**8), "08x")
_SPLIT_T2 = format(int((0.8 + 0.1) * 16**8), "08x")

ORACLES["q_hash_split"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN substring(md5('split1|' || CAST(doc_id AS STRING)), 1, 8) < '{{t1}}' THEN 'train'
            WHEN substring(md5('split1|' || CAST(doc_id AS STRING)), 1, 8) < '{{t2}}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
""".format(t1=_SPLIT_T1, t2=_SPLIT_T2)

ORACLES["q_source_cap"] = """
WITH r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('cap1|' || CAST(doc_id AS STRING)), doc_id
         ) AS rk
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM r WHERE rk <= 20
"""


ORACLES["q_hashed_embed"] = """
WITH tk AS (
  SELECT doc_id,
         ('0x' || substring(md5(token), 1, 4))::BIGINT % 16 AS b
  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents)
),
c AS (
  SELECT doc_id,
         SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS c0,
         SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS c2,
         SUM(CASE WHEN b = 3 THEN 1 ELSE 0 END) AS c3,
         SUM(CASE WHEN b = 4 THEN 1 ELSE 0 END) AS c4,
         SUM(CASE WHEN b = 5 THEN 1 ELSE 0 END) AS c5,
         SUM(CASE WHEN b = 6 THEN 1 ELSE 0 END) AS c6,
         SUM(CASE WHEN b = 7 THEN 1 ELSE 0 END) AS c7,
         SUM(CASE WHEN b = 8 THEN 1 ELSE 0 END) AS c8,
         SUM(CASE WHEN b = 9 THEN 1 ELSE 0 END) AS c9,
         SUM(CASE WHEN b = 10 THEN 1 ELSE 0 END) AS c10,
         SUM(CASE WHEN b = 11 THEN 1 ELSE 0 END) AS c11,
         SUM(CASE WHEN b = 12 THEN 1 ELSE 0 END) AS c12,
         SUM(CASE WHEN b = 13 THEN 1 ELSE 0 END) AS c13,
         SUM(CASE WHEN b = 14 THEN 1 ELSE 0 END) AS c14,
         SUM(CASE WHEN b = 15 THEN 1 ELSE 0 END) AS c15
  FROM tk GROUP BY doc_id
),
n AS (SELECT *, sqrt(CAST(c0 * c0 + c1 * c1 + c2 * c2 + c3 * c3 + c4 * c4 + c5 * c5 + c6 * c6 + c7 * c7 + c8 * c8 + c9 * c9 + c10 * c10 + c11 * c11 + c12 * c12 + c13 * c13 + c14 * c14 + c15 * c15 AS DOUBLE)) AS nrm FROM c)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c0 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e00,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c1 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e01,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c2 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e02,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c3 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e03,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c4 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e04,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c5 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e05,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c6 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e06,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c7 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e07,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c8 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e08,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c9 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e09,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c10 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e10,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c11 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e11,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c12 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e12,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c13 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e13,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c14 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e14,
       ROUND(CASE WHEN nrm > 0 THEN CAST(c15 AS DOUBLE) / nrm ELSE 0.0 END, 6) + 0 AS e15
FROM n
"""


# batch replica of the stateful streaming sessionizer's append contract:
# sessions closed by an in-data gap (every session but the conversation's
# last), plus last sessions whose event-time timeout (end_ms + gap_ms)
# fell strictly below the final watermark (max event ms, delay 0s —
# Spark fires EventTimeTimeout when the watermark advances BEYOND the
# set timestamp; both sides truncate to ms exactly as GroupState does)
ORACLES["q_stream_sessionize"] = f"""
WITH t AS ({T}),
s AS (
  SELECT conv_id, turn_idx, ts, signal,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {GAP * 1000000} THEN 1 ELSE 0 END AS brk
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
g AS (
  SELECT conv_id, ts, signal,
         SUM(brk) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
),
agg AS (
  SELECT conv_id, sid,
         MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
         COUNT(*) AS n, SUM(signal) AS ssum
  FROM g GROUP BY conv_id, sid
),
mx AS (SELECT MAX(epoch_us(ts)) AS m FROM t),
last AS (SELECT conv_id, MAX(sid) AS last_sid FROM agg GROUP BY conv_id)
SELECT agg.conv_id,
       CAST(start_us AS BIGINT) AS session_start_us,
       CAST(end_us AS BIGINT) AS session_end_us,
       CAST(n AS BIGINT) AS n_turns,
       ROUND(CAST(ssum AS DOUBLE), 6) + 0 AS signal_sum
FROM agg
JOIN last ON agg.conv_id = last.conv_id, mx
WHERE agg.sid < last.last_sid
   OR (end_us // 1000 + {GAP * 1000}) < (mx.m // 1000)
"""


ORACLES["q_chunk_docs"] = f"""
WITH d AS (SELECT doc_id, {TOKS_RAW} AS tk FROM documents),
s AS (
  SELECT doc_id, tk,
         1 + CAST(FLOOR((GREATEST(len(tk) - 20, 0) + 14) / 15.0) AS INT) AS n_starts
  FROM d
),
c AS (
  SELECT doc_id, unnest(generate_series(1, n_starts)) AS i, tk
  FROM s
),
c2 AS (
  SELECT doc_id, i - 1 AS chunk_idx,
         array_to_string(list_slice(tk, (i - 1) * 15 + 1, (i - 1) * 15 + 20), ' ') AS chunk_text
  FROM c
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       chunk_text,
       CAST(len(string_split_regex(chunk_text, '\\s+')) AS BIGINT) AS n_chunk_tokens
FROM c2
"""

ORACLES["q_turn_pairs"] = f"""
WITH t AS ({T}),
l AS (
  SELECT conv_id, turn_idx, ts, role, text,
         lag(role) OVER w AS pr, lag(text) OVER w AS pt
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       epoch_us(ts) AS ts_us,
       pt AS prompt, text AS response
FROM l
WHERE role = 'assistant' AND pr = 'user'
"""


ORACLES["q_conv_dedup"] = f"""
WITH t AS ({T}),
pc AS (
  SELECT conv_id,
         md5(string_agg(text, '|' ORDER BY ts, turn_idx, text)) AS conv_hash,
         COUNT(*) AS n_turns
  FROM t GROUP BY conv_id
),
k AS (SELECT conv_hash, MIN(conv_id) AS keep_id FROM pc GROUP BY conv_hash)
SELECT pc.conv_id, CAST(pc.n_turns AS BIGINT) AS n_turns,
       CAST(CASE WHEN pc.conv_id = k.keep_id THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM pc JOIN k ON pc.conv_hash = k.conv_hash
"""

ORACLES["q_conv_quality"] = f"""
WITH t AS ({T}),
a AS (
  SELECT conv_id,
         COUNT(*) AS n_turns,
         SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS n_user,
         SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS n_assistant,
         SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS n_tool,
         SUM(CASE WHEN role = 'assistant' THEN signal ELSE 0.0 END) AS asst_tok
  FROM t GROUP BY conv_id
)
SELECT conv_id,
       CAST(n_turns AS BIGINT) AS n_turns,
       CAST(n_user AS BIGINT) AS n_user,
       CAST(n_assistant AS BIGINT) AS n_assistant,
       {r6('CAST(n_tool AS DOUBLE) / CAST(n_turns AS DOUBLE)', 'tool_rate')},
       {r6("CASE WHEN n_assistant > 0 THEN CAST(asst_tok AS DOUBLE) / CAST(n_assistant AS DOUBLE) ELSE 0.0 END", 'mean_assistant_tokens')},
       {r6("CASE WHEN n_assistant > 0 THEN CAST(n_user AS DOUBLE) / CAST(n_assistant AS DOUBLE) ELSE 0.0 END", 'user_assistant_ratio')}
FROM a
"""


# Catalyst session_window semantics: event windows [ts, ts+gap) merge on
# OVERLAP, so a gap exactly equal to the 30-min limit STARTS a new session
# (>= break) — unlike the engine's gap sessionizer (> break). Session end =
# last event + gap.
ORACLES["q_session_window"] = f"""
WITH t AS ({T}),
s AS (
  SELECT conv_id, turn_idx, ts, signal,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {GAP * 1000000} THEN 1 ELSE 0 END AS brk
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
g AS (
  SELECT conv_id, ts, signal,
         SUM(brk) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT conv_id,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS session_start_us,
       CAST(MAX(epoch_us(ts)) + {GAP * 1000000} AS BIGINT) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       ROUND(CAST(SUM(signal) AS DOUBLE), 6) + 0 AS signal_sum
FROM g GROUP BY conv_id, sid
"""


# as-of with staleness tolerance (per-VALUE-COLUMN staleness — stronger
# than pandas merge_asof's row-level rule; see asof.asof_join docstring):
# matches older than 3 days null out
# per-COLUMN staleness, replicating the engine exactly: each value column
# forward-fills past NULLs independently, so the match it is judged
# against is the latest turn where THAT column is non-null (a row-level
# rn=1 oracle coincides only while the data has no NULL value columns)
ORACLES["q_asof_tolerance"] = f"""
WITH t AS ({T}),
convs AS (SELECT DISTINCT conv_id FROM t),
probes AS (SELECT c.conv_id, g.as_of FROM convs c CROSS JOIN {GRID} g(as_of)),
sig_m AS (
  SELECT p.conv_id, p.as_of, t.ts, t.signal,
         ROW_NUMBER() OVER (PARTITION BY p.conv_id, p.as_of ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM probes p LEFT JOIN t
    ON t.conv_id = p.conv_id AND t.ts <= p.as_of AND t.signal IS NOT NULL
),
role_m AS (
  SELECT p.conv_id, p.as_of, t.ts, t.role,
         ROW_NUMBER() OVER (PARTITION BY p.conv_id, p.as_of ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM probes p LEFT JOIN t
    ON t.conv_id = p.conv_id AND t.ts <= p.as_of AND t.role IS NOT NULL
)
SELECT p.conv_id, CAST(epoch_us(p.as_of) AS BIGINT) AS as_of_us,
       CASE WHEN epoch_us(p.as_of) - epoch_us(s.ts) <= 259200000000 THEN s.signal END AS last_tok,
       CASE WHEN epoch_us(p.as_of) - epoch_us(r.ts) <= 259200000000 THEN r.role END AS last_role
FROM probes p
LEFT JOIN sig_m s ON s.conv_id = p.conv_id AND s.as_of = p.as_of AND s.rn = 1
LEFT JOIN role_m r ON r.conv_id = p.conv_id AND r.as_of = p.as_of AND r.rn = 1
"""

# forward as-of: the EARLIEST turn at-or-after each cutoff — smallest
# (ts, turn_idx), inclusive (mirror of q_asof_state's greatest-(ts,tie))
ORACLES["q_asof_forward"] = f"""
WITH t AS ({T}),
convs AS (SELECT DISTINCT conv_id FROM t),
probes AS (SELECT c.conv_id, g.as_of FROM convs c CROSS JOIN {GRID} g(as_of)),
j AS (
  SELECT p.conv_id, p.as_of, t.signal, t.role, t.turn_idx,
         ROW_NUMBER() OVER (PARTITION BY p.conv_id, p.as_of ORDER BY t.ts, t.turn_idx) AS rn
  FROM probes p LEFT JOIN t ON t.conv_id = p.conv_id AND t.ts >= p.as_of
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us,
       signal AS next_tok, role AS next_role, CAST(turn_idx AS INT) AS next_turn_idx
FROM j WHERE rn = 1
"""

# nearest as-of with tolerance, judged PER VALUE COLUMN (each column's
# candidates restricted to turns where that column is non-null — the
# engine's running-last-ignorenulls semantics); ties go backward
ORACLES["q_asof_nearest"] = f"""
WITH t AS ({T}),
convs AS (SELECT DISTINCT conv_id FROM t),
probes AS (SELECT c.conv_id, g.as_of FROM convs c CROSS JOIN {GRID} g(as_of)),
sig_b AS (
  SELECT p.conv_id, p.as_of, t.signal AS v, epoch_us(t.ts) AS mt,
         ROW_NUMBER() OVER (PARTITION BY p.conv_id, p.as_of ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM probes p LEFT JOIN t
    ON t.conv_id = p.conv_id AND t.ts <= p.as_of AND t.signal IS NOT NULL
),
sig_f AS (
  SELECT p.conv_id, p.as_of, t.signal AS v, epoch_us(t.ts) AS mt,
         ROW_NUMBER() OVER (PARTITION BY p.conv_id, p.as_of ORDER BY t.ts, t.turn_idx) AS rn
  FROM probes p LEFT JOIN t
    ON t.conv_id = p.conv_id AND t.ts >= p.as_of AND t.signal IS NOT NULL
),
tool_b AS (
  SELECT p.conv_id, p.as_of, t.tool AS v, epoch_us(t.ts) AS mt,
         ROW_NUMBER() OVER (PARTITION BY p.conv_id, p.as_of ORDER BY t.ts DESC, t.turn_idx DESC) AS rn
  FROM probes p LEFT JOIN t
    ON t.conv_id = p.conv_id AND t.ts <= p.as_of AND t.tool IS NOT NULL
),
tool_f AS (
  SELECT p.conv_id, p.as_of, t.tool AS v, epoch_us(t.ts) AS mt,
         ROW_NUMBER() OVER (PARTITION BY p.conv_id, p.as_of ORDER BY t.ts, t.turn_idx) AS rn
  FROM probes p LEFT JOIN t
    ON t.conv_id = p.conv_id AND t.ts >= p.as_of AND t.tool IS NOT NULL
)
SELECT p.conv_id, CAST(epoch_us(p.as_of) AS BIGINT) AS as_of_us,
       CASE WHEN sb.mt IS NOT NULL
              AND (sf.mt IS NULL OR epoch_us(p.as_of) - sb.mt <= sf.mt - epoch_us(p.as_of))
            THEN CASE WHEN epoch_us(p.as_of) - sb.mt <= 172800000000 THEN sb.v END
            ELSE CASE WHEN sf.mt - epoch_us(p.as_of) <= 172800000000 THEN sf.v END
       END AS near_tok,
       CASE WHEN tb.mt IS NOT NULL
              AND (tf.mt IS NULL OR epoch_us(p.as_of) - tb.mt <= tf.mt - epoch_us(p.as_of))
            THEN CASE WHEN epoch_us(p.as_of) - tb.mt <= 172800000000 THEN tb.v END
            ELSE CASE WHEN tf.mt - epoch_us(p.as_of) <= 172800000000 THEN tf.v END
       END AS near_tool
FROM probes p
LEFT JOIN sig_b sb ON sb.conv_id = p.conv_id AND sb.as_of = p.as_of AND sb.rn = 1
LEFT JOIN sig_f sf ON sf.conv_id = p.conv_id AND sf.as_of = p.as_of AND sf.rn = 1
LEFT JOIN tool_b tb ON tb.conv_id = p.conv_id AND tb.as_of = p.as_of AND tb.rn = 1
LEFT JOIN tool_f tf ON tf.conv_id = p.conv_id AND tf.as_of = p.as_of AND tf.rn = 1
"""


# streaming dedup (dropDuplicatesWithinWatermark) over the replay: with
# availableNow's single data batch every duplicate is inside the state
# window, so the emitted set is exactly the distinct tuples
ORACLES["q_stream_dedup"] = """
SELECT DISTINCT 'c' || CAST(user_id AS STRING) AS conv_id,
       epoch_us(ts) AS ts_us,
       ROUND(CAST(CAST(1 + ABS(CAST(FLOOR(value) AS INT)) % 9 AS DOUBLE) AS DOUBLE), 6) + 0 AS signal
FROM events
"""


# media decode stub: feature byte d of the sha256 of the UTF-8 payload,
# stored as float32 Spark-side — replayed via a REAL round-trip so the
# 6dp rounding sees the identical IEEE value
ORACLES["q_media_features"] = """
WITH m AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
         sha256(text) AS h,
         octet_length(encode(text)) AS n_bytes
  FROM documents WHERE doc_id < 96
)
SELECT CAST(media_id AS BIGINT) AS media_id, kind,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(d.dim_idx AS BIGINT) AS dim_idx,
       round(CAST(CAST(CAST('0x' || substr(h, 2 * d.dim_idx + 1, 2) AS INT) / 255.0 AS REAL) AS DOUBLE), 6) AS value
FROM m, (SELECT unnest(range(8)) AS dim_idx) d
"""


# REAL-decode gate: the engine builds genuine BMP/WAV binaries (even/odd
# media_id) and parses them back with stdlib struct codecs; this oracle
# replays the documented pixel/sample GENERATING RULE (multimodal.
# synth_codec_media) via generate_series and never touches the bytes —
# so the value hash verifies the decoder itself (row padding, BGR order,
# bottom-up flip, RIFF chunk walk, sample endianness)
ORACLES["q_media_decode"] = f"""
WITH ids AS (
  SELECT CAST(doc_id AS BIGINT) AS mid FROM documents WHERE doc_id < 48
),
bmp_px AS (
  -- fixed-size series + bound filter (this DuckDB's generate_series has
  -- no lateral column parameters); max h = 6, max w = 8
  SELECT i.mid,
         (5 + i.mid % 4) * (4 + i.mid % 3) AS n_units,
         y.y, x.x, c.c,
         (i.mid*37 + y.y*11 + x.x*7 + c.c*13) % 251 AS v
  FROM ids i,
       generate_series(0, 5) AS y(y),
       generate_series(0, 7) AS x(x),
       generate_series(0, 2) AS c(c)
  WHERE i.mid % 2 = 0
    AND y.y < 4 + i.mid % 3 AND x.x < 5 + i.mid % 4
),
bmp_g AS (
  SELECT mid, 'bmp' AS fmt,
         CAST(MIN(n_units) AS BIGINT) AS n_units,
         CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS s3,
         CAST(SUM(v * (x + 1)) AS BIGINT) AS s4,
         CAST(SUM(v * (y + 1)) AS BIGINT) AS s5
  FROM bmp_px GROUP BY mid
),
wav_s AS (
  -- max n_units = 48
  SELECT i.mid,
         32 + i.mid % 17 AS n_units,
         8000 + 100 * (i.mid % 5) AS rate,
         s.i,
         ((i.mid*73 + s.i*129) % 4001) - 2000 AS s
  FROM ids i,
       generate_series(0, 47) AS s(i)
  WHERE i.mid % 2 = 1 AND s.i < 32 + i.mid % 17
),
wav_l AS (
  SELECT *, LAG(s) OVER (PARTITION BY mid ORDER BY i) AS sp FROM wav_s
),
wav_g AS (
  SELECT mid, 'wav' AS fmt,
         CAST(MIN(n_units) AS BIGINT) AS n_units,
         CAST(SUM(s) AS BIGINT) AS s1,
         CAST(SUM(s * s) AS BIGINT) AS s2,
         CAST(COALESCE(SUM(CASE WHEN sp * s < 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS s3,
         CAST(MAX(ABS(s)) AS BIGINT) AS s4,
         CAST(MIN(rate) AS BIGINT) AS s5
  FROM wav_l GROUP BY mid
),
u AS (SELECT * FROM bmp_g UNION ALL SELECT * FROM wav_g)
SELECT mid AS media_id, fmt, n_units, s1, s2, s3, s4, s5,
       {r6('CAST(s1 AS DOUBLE) / CAST(n_units AS DOUBLE)', 'mean1')}
FROM u
"""


# daily-grid histogram sweep: same hist oracle over the 29-cutoff grid
ORACLES["q_hist_daily"] = ORACLES["q_hist_asof"].replace(GRID, _GRID_DAILY)


# ---------------------------------------------------------------------------
# flagship full-extract oracle: ALL families at the 3-cutoff grid with the
# flagship config (system turns ineligible, direct discretization, 3D MERG,
# lags 1-4, min_turns=3). Mirrors kernels/{firstorder,shape,texture}.py per
# (conv_id, as_of) including eligibility-hole semantics: pairs form on
# absolute positions and require both ends eligible; runs/zones break at
# holes; GLDZM border distance restarts at holes and slice ends; NGTDM/NGLDM
# neighbourhoods are positional with ineligible neighbours contributing
# nothing. The min-turn guard nulls every feature (n_bins -> 0).
# ---------------------------------------------------------------------------


def _flagship_runs16(runsrc: str, jl: str, pfx: str, ordered_recip: bool = False) -> str:
    """MIRROR CONTRACT: keep the 16 formulas in lockstep with
    _runs16_sql and _runs16_session_sql (see _runs16_sql docstring).

    16-formula reducer over ``runsrc``(conv_id, as_of, lvl, {jl}) keyed
    (conv_id, as_of), ending in ``{pfx}feat`` with the raw column names
    sre..entr_v (texture_base.py:40-214 under the 1-D run degeneracy).
    ``ordered_recip`` (DZM block): ordered per-cell folds for sde/sdhge,
    same contract as _runs16_sql."""
    K = "conv_id, as_of"
    osum_cte = f"""
{pfx}osum AS (
  SELECT {K},
         list_reduce([0.0] || COALESCE(list(c / (jlv * jlv) ORDER BY lvl, jlv), []),
                     (acc, x) -> acc + x) AS sde_num,
         list_reduce([0.0] || COALESCE(list(lvl * lvl * c / (jlv * jlv) ORDER BY lvl, jlv), []),
                     (acc, x) -> acc + x) AS sdhge_num
  FROM (SELECT {K}, lvl, {jl} AS jlv, CAST(COUNT(*) AS DOUBLE) AS c FROM {runsrc} GROUP BY {K}, lvl, {jl})
  GROUP BY {K}
),""" if ordered_recip else ""
    sre_sel = f"o.sde_num / n.n_s" if ordered_recip else "s.sre"
    srhge_sel = f"o.sdhge_num / n.n_s" if ordered_recip else "s.srhge"
    osum_join = f"\n  JOIN {pfx}osum o USING ({K})" if ordered_recip else ""
    return f"""{osum_cte}
{pfx}ns AS (SELECT {K}, CAST(COUNT(*) AS DOUBLE) AS n_s,
              AVG(lvl) AS mu_i, AVG({jl} - 1) AS mu_j FROM {runsrc} GROUP BY {K}),
{pfx}simple AS (
  SELECT {K},
         AVG(1.0 / ({jl} * {jl})) AS sre,
         AVG({jl} * {jl}) AS lre,
         AVG(1.0 / (lvl * lvl)) AS lgre,
         AVG(lvl * lvl) AS hgre,
         AVG(1.0 / (lvl * lvl * {jl} * {jl})) AS srlge,
         AVG(lvl * lvl / ({jl} * {jl})) AS srhge,
         AVG({jl} * {jl} / (lvl * lvl)) AS lrlge,
         AVG(lvl * lvl * {jl} * {jl}) AS lrhge,
         AVG(POW(lvl - mu_i, 2)) AS gl_var,
         AVG(POW(({jl} - 1) - mu_j, 2)) AS rl_var
  FROM {runsrc} JOIN {pfx}ns USING ({K}) GROUP BY {K}
),
{pfx}glnu AS (
  SELECT {K}, SUM(c * c) AS v FROM (
    SELECT {K}, lvl, CAST(COUNT(*) AS DOUBLE) AS c FROM {runsrc} GROUP BY {K}, lvl
  ) GROUP BY {K}
),
{pfx}rlnu AS (
  SELECT {K}, SUM(c * c) AS v FROM (
    SELECT {K}, {jl} AS jlv, CAST(COUNT(*) AS DOUBLE) AS c FROM {runsrc} GROUP BY {K}, {jl}
  ) GROUP BY {K}
),
{pfx}entr AS (
  SELECT {K}, -SUM((c / n_s) * LOG2(c / n_s)) AS v FROM (
    SELECT {K}, lvl, {jl} AS jlv, CAST(COUNT(*) AS DOUBLE) AS c FROM {runsrc} GROUP BY {K}, lvl, {jl}
  ) JOIN {pfx}ns USING ({K}) GROUP BY {K}
),
{pfx}feat AS (
  SELECT s.conv_id, s.as_of,
         {sre_sel} AS sre, s.lre, s.lgre, s.hgre, s.srlge, {srhge_sel} AS srhge, s.lrlge, s.lrhge,
         g.v / n.n_s AS glnu_v, g.v / (n.n_s * n.n_s) AS glnu_n,
         rl.v / n.n_s AS rlnu_v, rl.v / (n.n_s * n.n_s) AS rlnu_n,
         n.n_s / m.vc AS perc, s.gl_var, s.rl_var, e.v AS entr_v
  FROM {pfx}simple s
  JOIN {pfx}ns n USING ({K})
  JOIN {pfx}glnu g USING ({K})
  JOIN {pfx}rlnu rl USING ({K})
  JOIN {pfx}entr e USING ({K})
  JOIN fmeta m USING ({K}){osum_join}
)"""


_RUNS16_RAW = ["sre", "lre", "lgre", "hgre", "srlge", "srhge", "lrlge", "lrhge",
               "glnu_v", "glnu_n", "rlnu_v", "rlnu_n", "perc", "gl_var", "rl_var",
               "entr_v"]


def flagship_full_sql() -> str:
    K = "conv_id, as_of"

    def on(a, b):
        return f"{a}.conv_id = {b}.conv_id AND {a}.as_of = {b}.as_of"

    # ---- source + meta ----------------------------------------------------
    src = f"""
WITH t AS ({T}),
fr AS MATERIALIZED (
  SELECT t.conv_id, gg.as_of, t.ts, t.role, t.tool, t.signal,
         t.role IN ('user', 'assistant', 'tool') AS elig,
         CAST(t.signal AS INT) AS g,
         ROW_NUMBER() OVER (PARTITION BY t.conv_id, gg.as_of ORDER BY t.ts, t.turn_idx) AS rn
  FROM t JOIN {GRID} gg(as_of) ON t.ts <= gg.as_of
),
scaffold AS (
  SELECT c.conv_id, gg.as_of
  FROM (SELECT DISTINCT conv_id FROM t) c CROSS JOIN {GRID} gg(as_of)
),
fmeta AS MATERIALIZED (
  SELECT {K}, CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(COUNT(CASE WHEN elig THEN 1 END) AS BIGINT) AS n_eligible,
         CAST(COUNT(DISTINCT CASE WHEN elig THEN g END) AS BIGINT) AS nb,
         MAX(CASE WHEN elig THEN g END) AS gmax,
         CAST(COUNT(CASE WHEN elig THEN 1 END) AS DOUBLE) AS vc
  FROM fr GROUP BY {K}
),
ev AS MATERIALIZED (
  SELECT {K}, CAST(signal AS DOUBLE) AS x, rn FROM fr WHERE elig
),
{det_stats_ctes('ev', ['conv_id', 'as_of'], p='fx_')},"""

    # ---- histogram extras (mode / entropy / uniformity / gradients) -------
    hist = f"""
hcnt AS MATERIALIZED (
  SELECT {K}, x AS gy, CAST(COUNT(*) AS BIGINT) AS ci FROM ev GROUP BY {K}, x
),
hgrad0 AS (
  SELECT {K}, gy, ci,
         CAST(ci AS DOUBLE) AS c,
         CAST(LAG(ci) OVER w AS DOUBLE) AS pc,
         CAST(LEAD(ci) OVER w AS DOUBLE) AS nc,
         SUM(ci) OVER (PARTITION BY {K}) AS n,
         COUNT(*) OVER (PARTITION BY {K}) AS n_levels
  FROM hcnt WINDOW w AS (PARTITION BY {K} ORDER BY gy)
),
hgrad AS (
  SELECT {K}, gy, ci, c, n, n_levels,
         CASE WHEN pc IS NULL AND nc IS NULL THEN NULL
              WHEN pc IS NULL THEN nc - c
              WHEN nc IS NULL THEN c - pc
              ELSE (nc - pc) / 2 END AS grad
  FROM hgrad0
),
hrank AS (
  SELECT {K}, gy, ci, c, n, n_levels, grad,
         ROW_NUMBER() OVER (PARTITION BY {K} ORDER BY c DESC, gy ASC) AS rn_mode,
         ROW_NUMBER() OVER (PARTITION BY {K} ORDER BY grad DESC, gy ASC) AS rn_maxg,
         ROW_NUMBER() OVER (PARTITION BY {K} ORDER BY grad ASC, gy ASC) AS rn_ming
  FROM hgrad
),
hx2 AS (
  SELECT {K},
         MAX(CASE WHEN rn_mode = 1 THEN gy END) AS mode,
         -SUM((c / n) * LOG2(c / n)) AS entropy,
         SUM(ci * ci) / (MAX(n) * MAX(n)) AS uniformity,
         MAX(CASE WHEN rn_maxg = 1 AND n_levels > 1 THEN grad END) AS max_grad,
         MAX(CASE WHEN rn_maxg = 1 AND n_levels > 1 THEN gy END) AS max_grad_g,
         MAX(CASE WHEN rn_ming = 1 AND n_levels > 1 THEN grad END) AS min_grad,
         MAX(CASE WHEN rn_ming = 1 AND n_levels > 1 THEN gy END) AS min_grad_g
  FROM hrank GROUP BY {K}
),"""

    # ---- IVH (direct: integer thresholds lo..hi, step 1) ------------------
    # signal is 1 + |...| % 9 by the T derivation, so thresholds live in
    # [1, 9]; the BETWEEN keeps only lo..hi per group
    ivh = f"""
ivh_rng AS (
  SELECT {K}, MIN(gy) AS lo, MAX(gy) AS hi, MAX(n) AS n
  FROM hgrad0 GROUP BY {K}
),
ivh_srs AS (SELECT UNNEST(range(1, 10)) AS tr),
ivh_fv AS (
  SELECT r.conv_id, r.as_of, s.tr,
         1.0 - CAST(COALESCE(SUM(CASE WHEN h.gy < s.tr THEN h.ci END), 0) AS DOUBLE) / MAX(r.n) AS fv,
         CAST(s.tr - MAX(r.lo) AS DOUBLE) / (MAX(r.hi) - MAX(r.lo)) AS ifr
  FROM ivh_rng r
  JOIN ivh_srs s ON s.tr >= r.lo AND s.tr <= r.hi
  LEFT JOIN hcnt h ON {on('h', 'r')}
  WHERE r.hi > r.lo
  GROUP BY r.conv_id, r.as_of, s.tr
),
ivh_feat AS (
  SELECT {K},
         MAX(CASE WHEN ifr > 0.1 THEN fv END) AS v10,
         MAX(CASE WHEN ifr > 0.9 THEN fv END) AS v90,
         CAST(MIN(CASE WHEN fv <= 0.1 THEN tr END) AS DOUBLE) AS i10,
         CAST(MIN(CASE WHEN fv <= 0.9 THEN tr END) AS DOUBLE) AS i90
  FROM ivh_fv GROUP BY {K}
),"""

    # ---- local peaks (rolling radius 3, zero-padded, fixed window 7) ------
    loc = f"""
loc_roll AS (
  SELECT {K}, rn, elig, CAST(signal AS DOUBLE) AS sig,
         SUM(CAST(signal AS DOUBLE)) OVER (
           PARTITION BY {K} ORDER BY rn ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
         ) / 7.0 AS roll
  FROM fr
),
loc_mx AS (
  SELECT {K}, MAX(CASE WHEN elig THEN CAST(signal AS DOUBLE) END) AS smax
  FROM fr GROUP BY {K}
),
loc_feat AS (
  SELECT l.conv_id, l.as_of,
         MAX(CASE WHEN l.elig AND l.sig = x.smax THEN l.roll END) AS peak_loc,
         MAX(CASE WHEN l.elig THEN l.roll END) AS peak_glob
  FROM loc_roll l JOIN loc_mx x ON {on('l', 'x')}
  GROUP BY l.conv_id, l.as_of
),"""

    # ---- shape ------------------------------------------------------------
    shp = f"""
shp_base AS (
  SELECT {K},
         CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE) / 1e6 AS dur,
         AVG(CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END) AS tool_frac
  FROM fr GROUP BY {K}
),
shp_gaps AS (
  SELECT {K},
         CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY {K} ORDER BY rn) AS DOUBLE) / 1e6 AS gap
  FROM fr
),
shp_gs AS (
  SELECT {K}, stddev_pop(gap) AS gap_std, MAX(gap) AS gap_max,
         1 + SUM(CASE WHEN gap > {GAP} THEN 1 ELSE 0 END) AS n_sessions
  FROM shp_gaps GROUP BY {K}
),
shp_gm AS (
  SELECT {K},
         CASE WHEN COUNT(*) > 1 THEN
           CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE) / (COUNT(*) - 1) / 1e6
         END AS gap_mean
  FROM fr GROUP BY {K}
),
shp_re AS (
  SELECT {K}, -SUM(p * LOG2(p)) AS role_entropy FROM (
    SELECT {K}, CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY {K}) AS p
    FROM fr GROUP BY {K}, role
  ) GROUP BY {K}
),
shp_com AS (
  SELECT {K},
         AVG(CASE WHEN elig THEN CAST(rn - 1 AS DOUBLE) END) AS com_geom,
         SUM(CASE WHEN elig THEN CAST(rn - 1 AS DOUBLE) * CAST(signal AS DOUBLE) ELSE 0 END)
           / SUM(CASE WHEN elig THEN CAST(signal AS DOUBLE) ELSE 0 END) AS com_int
  FROM fr GROUP BY {K}
),"""

    # ---- GLCM (3D MERG, lags 1-4, both ends eligible) ---------------------
    glcm = f"""
cm_pairs0 AS (
  SELECT a.conv_id, a.as_of, a.g AS x, b.g AS y
  FROM fr a
  JOIN (VALUES (1), (2), (3), (4)) lagv(k) ON TRUE
  JOIN fr b ON {on('b', 'a')} AND b.rn = a.rn + lagv.k
  WHERE a.elig AND b.elig
),
cm_pairs AS (
  SELECT {K}, x AS i, y AS j FROM cm_pairs0
  UNION ALL
  SELECT {K}, y AS i, x AS j FROM cm_pairs0
),
cm_cells AS (
  SELECT {K}, i, j, CAST(COUNT(*) AS DOUBLE) AS c FROM cm_pairs GROUP BY {K}, i, j
),
cm_tot AS (SELECT {K}, SUM(c) AS s FROM cm_cells GROUP BY {K}),
cm_p AS MATERIALIZED (
  SELECT {K}, i, j, c, s, c / s AS p FROM cm_cells JOIN cm_tot USING ({K})
),
cm_marg AS MATERIALIZED (SELECT {K}, j AS k, SUM(c) AS ck, MAX(s) AS ms, SUM(p) AS pk FROM cm_p GROUP BY {K}, j),
cm_mu AS (SELECT {K}, SUM(ck * k) / MAX(ms) AS mu_i FROM cm_marg GROUP BY {K}),
cm_sig AS (
  SELECT {K}, SUM(POW(k - mu_i, 2) * pk) AS sigma2
  FROM cm_marg JOIN cm_mu USING ({K}) GROUP BY {K}
),
cm_hx AS (
  SELECT {K}, -SUM(CASE WHEN pk > 0 THEN pk * LOG2(pk) END) AS hx
  FROM cm_marg GROUP BY {K}
),
cm_pm AS (SELECT {K}, ABS(i - j) AS k, SUM(c) AS ck, MAX(s) AS ms, SUM(p) AS pk FROM cm_p GROUP BY {K}, ABS(i - j)),
cm_pp AS (SELECT {K}, i + j AS k, SUM(c) AS ck, MAX(s) AS ms, SUM(p) AS pk FROM cm_p GROUP BY {K}, i + j),
cm_pm_avg AS (SELECT {K}, SUM(ck * k) / MAX(ms) AS diff_avg FROM cm_pm GROUP BY {K}),
cm_pp_avg AS (SELECT {K}, SUM(ck * k) / MAX(ms) AS sum_avg FROM cm_pp GROUP BY {K}),
cm_pm_stats AS (
  SELECT {K},
         SUM(pk * POW(k - diff_avg, 2)) AS diff_var,
         -SUM(CASE WHEN pk > 0 THEN pk * LOG2(pk) END) AS diff_entr,
         SUM(pk / (1 + k * k)) AS inv_diff_mom,
         -- ordered fold, k ascending, exact-numerator terms (ck/ms ==
         -- the kernel's p_minus[k] bit-for-bit): matches _seq_sum in
         -- kernels/texture.py so both engines run the same add sequence
         list_reduce([0.0] || COALESCE(list((ck / ms) / (k * k) ORDER BY k) FILTER (WHERE k > 0), []),
                     (acc, x) -> acc + x) AS inv_var
  FROM cm_pm JOIN cm_pm_avg USING ({K}) GROUP BY {K}
),
cm_pm_norm AS (
  SELECT {K}, SUM(pk / (1 + POW(k / gmax, 2))) AS inv_diff_mom_norm
  FROM cm_pm JOIN fmeta USING ({K}) GROUP BY {K}
),
cm_pp_stats AS (
  SELECT {K},
         SUM(pk * POW(k - sum_avg, 2)) AS sum_var,
         -SUM(CASE WHEN pk > 0 THEN pk * LOG2(pk) END) AS sum_entr
  FROM cm_pp JOIN cm_pp_avg USING ({K}) GROUP BY {K}
),
cm_base AS (
  SELECT {K},
         MAX(c) / MAX(s) AS joint_max,
         SUM(c * i) / MAX(s) AS joint_avg,
         -SUM(CASE WHEN p > 0 THEN p * LOG2(p) END) AS joint_entr,
         SUM(c * c) / (MAX(s) * MAX(s)) AS energy,
         SUM(c * POW(i - j, 2)) / MAX(s) AS contrast,
         SUM(c * ABS(i - j)) / MAX(s) AS dissim,
         SUM(p / (1 + ABS(i - j))) AS inv_diff,
         SUM(c * i * j) / MAX(s) AS auto_corr
  FROM cm_p GROUP BY {K}
),
cm_base2 AS (
  SELECT {K},
         SUM(p * POW(i - joint_avg, 2)) AS joint_var,
         SUM(p / (1 + ABS(i - j) / gmax)) AS inv_diff_norm,
         SUM(POW(i + j - 2 * mu_i, 2) * p) AS clust_tend,
         SUM(POW(i + j - 2 * mu_i, 3) * p) AS clust_shade,
         SUM(POW(i + j - 2 * mu_i, 4) * p) AS clust_prom
  FROM cm_p
  JOIN cm_base USING ({K})
  JOIN cm_mu USING ({K})
  JOIN fmeta USING ({K})
  GROUP BY {K}
),
cm_hxy1 AS (
  SELECT p.conv_id, p.as_of, -SUM(p.p * LOG2(mi.pk * mj.pk)) AS hxy1
  FROM cm_p p
  JOIN cm_marg mi ON {on('p', 'mi')} AND p.i = mi.k
  JOIN cm_marg mj ON {on('p', 'mj')} AND p.j = mj.k
  WHERE mi.pk > 0 AND mj.pk > 0
  GROUP BY p.conv_id, p.as_of
),
cm_hxy2 AS (
  SELECT mi.conv_id, mi.as_of, -SUM(mi.pk * mj.pk * LOG2(mi.pk * mj.pk)) AS hxy2
  FROM cm_marg mi JOIN cm_marg mj ON {on('mi', 'mj')}
  WHERE mi.pk > 0 AND mj.pk > 0
  GROUP BY mi.conv_id, mi.as_of
),
cm_feat AS (
  SELECT b.conv_id, b.as_of,
         {', '.join(f'{expr} AS {name}' for name, expr in _GLCM_FEATS)}
  FROM cm_base b
  JOIN cm_base2 b2 ON {on('b', 'b2')}
  JOIN cm_pm_avg pa ON {on('b', 'pa')}
  JOIN cm_pm_stats ps ON {on('b', 'ps')}
  JOIN cm_pm_norm pn ON {on('b', 'pn')}
  JOIN cm_pp_avg qa ON {on('b', 'qa')}
  JOIN cm_pp_stats qs ON {on('b', 'qs')}
  JOIN cm_mu u ON {on('b', 'u')}
  JOIN cm_sig sg ON {on('b', 'sg')}
  JOIN cm_hx h ON {on('b', 'h')}
  JOIN cm_hxy1 h1 ON {on('b', 'h1')}
  JOIN cm_hxy2 h2 ON {on('b', 'h2')}
),"""

    # ---- runs / zones (holes break runs; islands give border distance) ----
    runs = f"""
rz_isl AS (
  SELECT {K}, rn, g,
         rn - ROW_NUMBER() OVER (PARTITION BY {K} ORDER BY rn) AS isl
  FROM fr WHERE elig
),
rz_ext AS (
  SELECT {K}, isl, MIN(rn) AS s0, MAX(rn) AS s1 FROM rz_isl GROUP BY {K}, isl
),
rz_marked AS (
  SELECT {K}, g, rn, isl,
         CASE WHEN LAG(rn) OVER w IS NULL OR rn - LAG(rn) OVER w > 1
                   OR LAG(g) OVER w IS DISTINCT FROM g THEN 1 ELSE 0 END AS brk
  FROM rz_isl WINDOW w AS (PARTITION BY {K} ORDER BY rn)
),
rz_runs0 AS (
  SELECT {K}, MIN(isl) AS isl, CAST(MIN(g) AS DOUBLE) AS lvl,
         CAST(COUNT(*) AS DOUBLE) AS rlen, MIN(rn) AS srn, MAX(rn) AS ern
  FROM (SELECT *, SUM(brk) OVER (PARTITION BY {K} ORDER BY rn) AS run_id FROM rz_marked)
  GROUP BY {K}, run_id
),
rz AS MATERIALIZED (
  SELECT r.conv_id, r.as_of, r.lvl, r.rlen,
         CAST(GREATEST(LEAST(r.srn - x.s0 + 1, x.s1 - r.srn + 1,
                             r.ern - x.s0 + 1, x.s1 - r.ern + 1), 1) AS DOUBLE) AS dd
  FROM rz_runs0 r JOIN rz_ext x ON {on('r', 'x')} AND r.isl = x.isl
),
{_flagship_runs16('rz', 'rlen', 'rl_')},
{_flagship_runs16('rz', 'dd', 'dz_', ordered_recip=True)},"""

    # ---- NGTDM (positional neighbourhood, ineligible contribute nothing) --
    ngt = f"""
ngt_nbr0 AS (
  SELECT {K}, g, elig,
         COALESCE(CASE WHEN LAG(elig) OVER w THEN CAST(LAG(g) OVER w AS DOUBLE) END, 0)
       + COALESCE(CASE WHEN LEAD(elig) OVER w THEN CAST(LEAD(g) OVER w AS DOUBLE) END, 0) AS nb_sum,
         (CASE WHEN LAG(elig) OVER w THEN 1 ELSE 0 END
        + CASE WHEN LEAD(elig) OVER w THEN 1 ELSE 0 END) AS nb_cnt
  FROM fr WINDOW w AS (PARTITION BY {K} ORDER BY rn)
),
ngt_lvl AS (
  SELECT {K}, CAST(g AS DOUBLE) AS i,
         CAST(COUNT(*) AS DOUBLE) AS n_i,
         SUM(ABS(g - nb_sum / nb_cnt)) AS s_i
  FROM ngt_nbr0 WHERE elig AND nb_cnt > 0
  GROUP BY {K}, g
),
ngt_tots AS (
  SELECT {K}, SUM(n_i) AS n, CAST(COUNT(*) AS DOUBLE) AS n_g,
         SUM(s_i) AS s2, SUM(n_i * s_i) AS ns
  FROM ngt_lvl GROUP BY {K}
),
ngt_prs AS (
  SELECT a.conv_id, a.as_of,
         SUM(a.n_i * b.n_i * POW(a.i - b.i, 2)) AS q_contrast,
         SUM(ABS(a.i * a.n_i - b.i * b.n_i)) AS q_busy,
         SUM((a.n_i * a.s_i + b.n_i * b.s_i) * ABS(a.i - b.i) / ((a.n_i + b.n_i))) AS q_compl,
         SUM((a.n_i + b.n_i) * POW(a.i - b.i, 2)) AS q_strength
  FROM ngt_lvl a JOIN ngt_lvl b ON {on('a', 'b')}
  GROUP BY a.conv_id, a.as_of
),
ngt_feat AS (
  SELECT t2.conv_id, t2.as_of,
         CASE WHEN t2.ns = 0 THEN 1000000.0 ELSE t2.n / t2.ns END AS coarseness,
         CASE WHEN t2.n_g * (t2.n_g - 1) * t2.n = 0 THEN 0.0
              ELSE (p.q_contrast / (t2.n * t2.n)) * t2.s2 / (t2.n_g * (t2.n_g - 1) * t2.n) END AS contrast,
         CASE WHEN p.q_busy = 0 THEN 0.0 ELSE (t2.ns / t2.n) / (p.q_busy / t2.n) END AS busyness,
         (p.q_compl / t2.n) AS complexity,
         CASE WHEN t2.s2 = 0 THEN 0.0 ELSE (p.q_strength / t2.n) / t2.s2 END AS strength
  FROM ngt_tots t2 JOIN ngt_prs p USING ({K})
),"""

    # ---- NGLDM (positional equal-neighbour dependence) --------------------
    ngl = f"""
ngl_deps0 AS (
  SELECT {K}, elig, CAST(g AS DOUBLE) AS lvl,
         CAST(CASE WHEN LAG(elig) OVER w AND LAG(g) OVER w = g THEN 1 ELSE 0 END
            + CASE WHEN LEAD(elig) OVER w AND LEAD(g) OVER w = g THEN 1 ELSE 0 END AS DOUBLE) AS dep
  FROM fr WINDOW w AS (PARTITION BY {K} ORDER BY rn)
),
ngl_deps AS MATERIALIZED (SELECT {K}, lvl, dep FROM ngl_deps0 WHERE elig),
ngl_ns AS (SELECT {K}, CAST(COUNT(*) AS DOUBLE) AS n_s,
              AVG(lvl) AS mu_i, AVG(dep) AS mu_j FROM ngl_deps GROUP BY {K}),
ngl_simple AS (
  SELECT {K},
         AVG(1.0 / POW(dep + 1, 2)) AS lde,
         AVG(POW(dep + 1, 2)) AS hde,
         AVG(1.0 / (lvl * lvl)) AS lgce,
         AVG(lvl * lvl) AS hgce,
         AVG(1.0 / (lvl * lvl * POW(dep + 1, 2))) AS ldlge,
         AVG(lvl * lvl / POW(dep + 1, 2)) AS ldhge,
         AVG(POW(dep + 1, 2) / (lvl * lvl)) AS hdlge,
         AVG(POW(dep + 1, 2) * lvl * lvl) AS hdhge,
         AVG(POW(lvl - mu_i, 2)) AS gl_var,
         AVG(POW(dep - mu_j, 2)) AS dc_var
  FROM ngl_deps JOIN ngl_ns USING ({K}) GROUP BY {K}
),
ngl_glnu AS (
  SELECT {K}, SUM(c * c) AS v FROM (
    SELECT {K}, lvl, CAST(COUNT(*) AS DOUBLE) AS c FROM ngl_deps GROUP BY {K}, lvl
  ) GROUP BY {K}
),
ngl_dcnu AS (
  SELECT {K}, SUM(c * c) AS v FROM (
    SELECT {K}, dep, CAST(COUNT(*) AS DOUBLE) AS c FROM ngl_deps GROUP BY {K}, dep
  ) GROUP BY {K}
),
ngl_entr AS (
  SELECT {K}, -SUM((c / n_s) * LOG2(c / n_s)) AS e,
         SUM(c * c) / (MAX(n_s) * MAX(n_s)) AS energy
  FROM (
    SELECT {K}, lvl, dep, CAST(COUNT(*) AS DOUBLE) AS c FROM ngl_deps GROUP BY {K}, lvl, dep
  ) JOIN ngl_ns USING ({K}) GROUP BY {K}
),
ngl_feat AS (
  SELECT s.conv_id, s.as_of,
         s.lde, s.hde, s.lgce, s.hgce, s.ldlge, s.ldhge, s.hdlge, s.hdhge,
         g.v / n.n_s AS glnu_v, g.v / (n.n_s * n.n_s) AS glnu_n,
         dc.v / n.n_s AS dcnu_v, dc.v / (n.n_s * n.n_s) AS dcnu_n,
         n.n_s / m.vc AS perc, s.gl_var, s.dc_var, e.e AS entr_v, e.energy AS energy_v
  FROM ngl_simple s
  JOIN ngl_ns n USING ({K})
  JOIN ngl_glnu g USING ({K})
  JOIN ngl_dcnu dc USING ({K})
  JOIN ngl_entr e USING ({K})
  JOIN fmeta m USING ({K})
)"""

    # ---- final assembly ---------------------------------------------------
    def G(expr, alias):
        return r6(f"CASE WHEN m.n_eligible >= 3 THEN {expr} END", alias)

    stats_map = [
        ("stat_mean", "st.mean"), ("stat_var", "st.var"), ("stat_skew", "st.skew"),
        ("stat_kurt", "st.kurt"), ("stat_median", "st.med"), ("stat_min", "st.mn"),
        ("stat_p10", "st.p10"), ("stat_p90", "st.p90"), ("stat_max", "st.mx"),
        ("stat_iqr", "st.iqr"), ("stat_range", "st.rng"), ("stat_mad", "st.mad"),
        ("stat_rmad", "st.rmad"), ("stat_medad", "st.medad"), ("stat_cov", "st.cov"),
        ("stat_qcod", "st.qcod"), ("stat_energy", "st.energy"), ("stat_rms", "st.rms"),
    ]
    # direct discretization: grey == signal, so the ih det-stat block equals
    # the stat block value-for-value (kernels/firstorder.hist_features
    # reuses _det_stats on the same sorted array)
    hist_map = [
        ("ih_mean", "st.mean"), ("ih_var", "st.var"), ("ih_skew", "st.skew"),
        ("ih_kurt", "st.kurt"), ("ih_median", "st.med"), ("ih_min", "st.mn"),
        ("ih_p10", "st.p10"), ("ih_p90", "st.p90"), ("ih_max", "st.mx"),
        ("ih_mode", "hx.mode"), ("ih_iqr", "st.iqr"), ("ih_range", "st.rng"),
        ("ih_mad", "st.mad"), ("ih_rmad", "st.rmad"), ("ih_medad", "st.medad"),
        ("ih_cov", "st.cov"), ("ih_qcod", "st.qcod"), ("ih_entropy", "hx.entropy"),
        ("ih_uniformity", "hx.uniformity"), ("ih_max_grad", "hx.max_grad"),
        ("ih_max_grad_g", "hx.max_grad_g"), ("ih_min_grad", "hx.min_grad"),
        ("ih_min_grad_g", "hx.min_grad_g"),
    ]
    ivh_map = [
        ("ivh_v10", "iv.v10"), ("ivh_v90", "iv.v90"), ("ivh_i10", "iv.i10"),
        ("ivh_i90", "iv.i90"), ("ivh_diff_v10_v90", "iv.v10 - iv.v90"),
        ("ivh_diff_i10_i90", "iv.i10 - iv.i90"),
    ]
    loc_map = [("loc_peak_loc", "lc.peak_loc"), ("loc_peak_glob", "lc.peak_glob")]
    shape_map = [
        ("shape_n_turns", "CAST(m.n_turns AS DOUBLE)"),
        ("shape_n_eligible", "CAST(m.n_eligible AS DOUBLE)"),
        ("shape_duration_sec", "sb.dur"),
        ("shape_turn_rate", "CASE WHEN sb.dur > 0 THEN CAST(m.n_turns AS DOUBLE) / sb.dur END"),
        ("shape_gap_mean", "gm2.gap_mean"),
        ("shape_gap_std", "sg2.gap_std"),
        ("shape_gap_max", "sg2.gap_max"),
        ("shape_n_sessions", "CAST(sg2.n_sessions AS DOUBLE)"),
        ("shape_session_len_mean", "CAST(m.n_turns AS DOUBLE) / sg2.n_sessions"),
        ("shape_role_entropy", "sr.role_entropy"),
        ("shape_tool_frac", "sb.tool_frac"),
        ("shape_intensity_com_shift", "ABS(sc.com_geom - sc.com_int)"),
    ]
    cm_map = [(f"{n}_3D_comb", f"cf.{n}") for n, _ in _GLCM_FEATS]
    rlm_names = ["rlm_sre", "rlm_lre", "rlm_lgre", "rlm_hgre", "rlm_srlge",
                 "rlm_srhge", "rlm_lrlge", "rlm_lrhge", "rlm_glnu", "rlm_glnu_norm",
                 "rlm_rlnu", "rlm_rlnu_norm", "rlm_r_perc", "rlm_gl_var",
                 "rlm_rl_var", "rlm_rl_entr"]
    szm_names = ["szm_sze", "szm_lze", "szm_lgze", "szm_hgze", "szm_szlge",
                 "szm_szhge", "szm_lzlge", "szm_lzhge", "szm_glnu", "szm_glnu_norm",
                 "szm_zsnu", "szm_zsnu_norm", "szm_z_perc", "szm_gl_var",
                 "szm_zs_var", "szm_zs_entr"]
    dzm_names = ["dzm_sde", "dzm_lde", "dzm_lgze", "dzm_hgze", "dzm_sdlge",
                 "dzm_sdhge", "dzm_ldlge", "dzm_ldhge", "dzm_glnu", "dzm_glnu_norm",
                 "dzm_zdnu", "dzm_zdnu_norm", "dzm_z_perc", "dzm_gl_var",
                 "dzm_zd_var", "dzm_zd_entr"]
    rlm_map = [(f"{n}_3D_comb", f"rf.{raw}") for n, raw in zip(rlm_names, _RUNS16_RAW)]
    szm_map = [(f"{n}_3D", f"rf.{raw}") for n, raw in zip(szm_names, _RUNS16_RAW)]
    dzm_map = [(f"{n}_3D", f"df.{raw}") for n, raw in zip(dzm_names, _RUNS16_RAW)]
    ngt_map = [(f"{n}_3D", f"nt.{raw}") for n, raw in zip(
        ["ngt_coarseness", "ngt_contrast", "ngt_busyness", "ngt_complexity", "ngt_strength"],
        ["coarseness", "contrast", "busyness", "complexity", "strength"])]
    ngl_names = ["ngl_lde", "ngl_hde", "ngl_lgce", "ngl_hgce", "ngl_ldlge",
                 "ngl_ldhge", "ngl_hdlge", "ngl_hdhge", "ngl_glnu", "ngl_glnu_norm",
                 "ngl_dcnu", "ngl_dcnu_norm", "ngl_dc_perc", "ngl_gl_var",
                 "ngl_dc_var", "ngl_dc_entr", "ngl_dc_energy"]
    ngl_raw = ["lde", "hde", "lgce", "hgce", "ldlge", "ldhge", "hdlge", "hdhge",
               "glnu_v", "glnu_n", "dcnu_v", "dcnu_n", "perc", "gl_var", "dc_var",
               "entr_v", "energy_v"]
    ngl_map = [(f"{n}_3D", f"nl.{raw}") for n, raw in zip(ngl_names, ngl_raw)]

    all_feats = (stats_map + hist_map + ivh_map + loc_map + shape_map
                 + cm_map + rlm_map + szm_map + dzm_map + ngt_map + ngl_map)
    sel = ",\n       ".join(G(expr, alias) for alias, expr in all_feats)

    return f"""{src}
{hist}
{ivh}
{loc}
{shp}
{glcm}
{runs}
{ngt}
{ngl}
SELECT s0.conv_id,
       CAST(epoch_us(s0.as_of) AS BIGINT) AS as_of_us,
       COALESCE(m.n_turns, 0) AS n_turns,
       COALESCE(m.n_eligible, 0) AS n_eligible,
       CASE WHEN m.n_eligible >= 3 THEN m.nb ELSE 0 END AS n_bins,
       {sel}
FROM scaffold s0
LEFT JOIN fmeta m USING (conv_id, as_of)
LEFT JOIN fx_stats st USING (conv_id, as_of)
LEFT JOIN hx2 hx USING (conv_id, as_of)
LEFT JOIN ivh_feat iv USING (conv_id, as_of)
LEFT JOIN loc_feat lc USING (conv_id, as_of)
LEFT JOIN shp_base sb USING (conv_id, as_of)
LEFT JOIN shp_gs sg2 USING (conv_id, as_of)
LEFT JOIN shp_gm gm2 USING (conv_id, as_of)
LEFT JOIN shp_re sr USING (conv_id, as_of)
LEFT JOIN shp_com sc USING (conv_id, as_of)
LEFT JOIN cm_feat cf USING (conv_id, as_of)
LEFT JOIN rl_feat rf USING (conv_id, as_of)
LEFT JOIN dz_feat df USING (conv_id, as_of)
LEFT JOIN ngt_feat nt USING (conv_id, as_of)
LEFT JOIN ngl_feat nl USING (conv_id, as_of)
"""


ORACLES["q_extract_full"] = flagship_full_sql()


# winnowing fingerprints: windowed rightmost-min (list_reduce folds left
# with the first element as init and <= keeps later ties — identical to
# the engine's aggregate fold); picks encoded pos*2^31+fp for the
# distinct (struct list_distinct is unsupported), decoded on unnest
ORACLES["q_winnow"] = f"""
WITH toks AS (SELECT doc_id, {TOKS_DOC} AS tk FROM documents),
g0 AS (
  SELECT doc_id,
         list_transform({_duck_grams(3)},
           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483647) AS g
  FROM toks WHERE len(tk) >= 6
),
picks AS (
  SELECT doc_id,
         list_distinct(list_transform(
           list_transform(generate_series(1, len(g) - 3),
             j -> list_reduce(list_transform(generate_series(j, j + 3),
                    i -> {{'pos': i, 'fp': g[i]}}),
                  (a, b) -> CASE WHEN b.fp <= a.fp THEN b ELSE a END)),
           s -> s['pos'] * 2147483648 + s['fp'])) AS ps
  FROM g0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(e // 2147483648 AS INT) AS pos,
       CAST(e % 2147483648 AS BIGINT) AS fp
FROM (SELECT doc_id, UNNEST(ps) AS e FROM picks)
"""


# sketch stats, value-gated via the IBSI tolerance pattern (reference
# tests/test_ibsi_1.py:19-41): the EXACT distinct count is hash-verified
# cross-engine; the within-error-bound booleans are computed Spark-side
# against exact aggregates, so the literal TRUEs here turn any bound
# violation into a hash mismatch
ORACLES["q_sketch_stats"] = """
WITH toks AS (
  SELECT source, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
),
d AS (SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct
      FROM toks GROUP BY source),
n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY source)
SELECT d.source, d.exact_distinct, n.n_rows,
       TRUE AS distinct_ok, TRUE AS p50_ok, TRUE AS p90_ok
FROM d JOIN n USING (source)
"""


def _lsh_plane_values(dim: int = 64, n_planes: int = 8, seed: int = 17) -> str:
    """Literal hyperplane rows replaying similarity._hyperplanes exactly:
    same seeded PCG64 draw (platform-independent), each double rendered
    via repr() (shortest round-trip repr -> DuckDB parses back the
    identical double)."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((n_planes, dim))
    return ",\n    ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(x)) for x in planes[i]) + "])"
        for i in range(n_planes)
    )


# LSH-bucketed ANN: recall < 1 is irrelevant to correctness because the
# oracle replays the SAME seeded-hyperplane bucket assignment (literal
# planes above) and the same per-bucket exact-cosine top-k
ORACLES["q_lsh_topk"] = f"""
WITH planes(pi, pv) AS (VALUES
    {_lsh_plane_values()}
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
b AS (
  SELECT v.vec_id,
         CAST(SUM(CASE WHEN list_dot_product(v.ev, CAST(p.pv AS DOUBLE[])) > 0
                  THEN CAST(POW(2.0, p.pi) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM v CROSS JOIN planes p GROUP BY v.vec_id
),
vv AS (SELECT v.vec_id, v.ev, b.bucket FROM v JOIN b USING (vec_id)),
q AS (SELECT vec_id AS query_id, ev AS qv, bucket FROM vv WHERE vec_id < 5),
s AS (
  SELECT q.query_id, vv.vec_id,
         list_dot_product(vv.ev, q.qv)
           / (sqrt(list_dot_product(vv.ev, vv.ev)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM vv JOIN q ON vv.bucket = q.bucket
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       {r6('cos', 'cosine')}, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


# --- product quantization (pq_codes / pq_adc_topk replay) ------------------
# codebooks: rank in md5('pq|'||id) order = codeword index; distances are
# the same strict sequential squared-L2 left folds the engine evaluates
# (list_reduce with a prepended 0.0 = Catalyst aggregate's zero init).

_PQ_DIST = (
    "list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(generate_series(1, 16), "
    "i -> ({a}[{off} + i] - {b}[{off} + i]) * ({a}[{off} + i] - {b}[{off} + i])), "
    "(acc, x) -> acc + x)"
)

_PQ_BASE = f"""
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
cb AS (SELECT ROW_NUMBER() OVER (ORDER BY md5('pq|' || CAST(vec_id AS STRING))) - 1 AS cw,
              ev AS cv
       FROM v ORDER BY md5('pq|' || CAST(vec_id AS STRING)) LIMIT 16),
sub AS (SELECT UNNEST([0, 1, 2, 3]) AS s),
d AS (
  SELECT v.vec_id, sub.s, cb.cw,
         {_PQ_DIST.format(a='v.ev', b='cb.cv', off='sub.s * 16')} AS d
  FROM v CROSS JOIN sub CROSS JOIN cb
),
m AS (
  SELECT vec_id, s, cw, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d ASC, cw ASC) AS rn
  FROM d
),
p AS (
  SELECT vec_id,
         MAX(CASE WHEN s = 0 THEN cw END) AS code0,
         MAX(CASE WHEN s = 1 THEN cw END) AS code1,
         MAX(CASE WHEN s = 2 THEN cw END) AS code2,
         MAX(CASE WHEN s = 3 THEN cw END) AS code3,
         MAX(CASE WHEN s = 0 THEN d END) AS d0,
         MAX(CASE WHEN s = 1 THEN d END) AS d1,
         MAX(CASE WHEN s = 2 THEN d END) AS d2,
         MAX(CASE WHEN s = 3 THEN d END) AS d3
  FROM m WHERE rn = 1 GROUP BY vec_id
)"""

ORACLES["q_pq_codes"] = f"""
WITH {_PQ_BASE}
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(code0 AS INT) AS code0, CAST(code1 AS INT) AS code1,
       CAST(code2 AS INT) AS code2, CAST(code3 AS INT) AS code3,
       {r6('((d0 + d1) + d2) + d3', 'recon_err')}
FROM p
"""

ORACLES["q_pq_topk"] = f"""
WITH {_PQ_BASE},
qt AS (
  SELECT q.vec_id AS query_id, sub.s, cb.cw,
         {_PQ_DIST.format(a='q.ev', b='cb.cv', off='sub.s * 16')} AS qd
  FROM v q CROSS JOIN sub CROSS JOIN cb
  WHERE q.vec_id < 5
),
a AS (
  SELECT q0.query_id, p.vec_id,
         ((q0.qd + q1.qd) + q2.qd) + q3.qd AS ad
  FROM p
  JOIN qt q0 ON q0.s = 0 AND q0.cw = p.code0
  JOIN qt q1 ON q1.s = 1 AND q1.cw = p.code1 AND q1.query_id = q0.query_id
  JOIN qt q2 ON q2.s = 2 AND q2.cw = p.code2 AND q2.query_id = q0.query_id
  JOIN qt q3 ON q3.s = 3 AND q3.cw = p.code3 AND q3.query_id = q0.query_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ad ASC, vec_id ASC) AS rank
  FROM a
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       {r6('ad', 'approx_dist')}, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


# --- hashed linear quality classifier ---------------------------------------
# weight vector: the documented deterministic recipe (np.random.default_rng
# seed 41 standard normals, 6dp-rounded) regenerated here INDEPENDENTLY of
# the engine — both sides parse the same short decimal literals.

def _classifier_w_sql(dims: int = 64, seed: int = 41) -> str:
    import numpy as np

    rng = np.random.default_rng(seed)
    vals = [round(float(x), 6) for x in rng.standard_normal(dims)]
    return "[" + ", ".join(f"CAST('{repr(v)}' AS DOUBLE)" for v in vals) + "]"


ORACLES["q_quality_classifier"] = f"""
WITH s AS (
  SELECT doc_id,
         len({TOKS_RAW}) AS n,
         list_reduce([CAST(0.0 AS DOUBLE)] || list_transform({TOKS_RAW},
             t -> ({_classifier_w_sql()})[CAST(('0x' || substring(md5(t), 1, 4))::BIGINT % 64 AS INT) + 1]),
             (acc, x) -> acc + x) AS wsum
  FROM documents
),
sc AS (
  SELECT doc_id, n, wsum / CAST(n AS DOUBLE) + 0 AS score
  FROM s
),
pr AS (
  SELECT doc_id, n, score, 1.0 / (1.0 + exp(-score)) AS prob
  FROM sc
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       {r6('score', 'score')},
       {r6('prob', 'prob')},
       CASE WHEN prob >= 0.5 THEN 'keep' ELSE 'drop' END AS label
FROM pr
"""


ORACLES["q_bigram_lm"] = f"""
WITH d AS (SELECT doc_id, {TOKS_RAW} AS tk FROM documents),
tok AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS token,
         unnest(list_prepend(CAST(NULL AS VARCHAR), list_slice(tk, 1, len(tk) - 1))) AS prev
  FROM d
),
freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM freq),
big AS (
  SELECT prev, token, COUNT(*) AS bc FROM tok WHERE prev IS NOT NULL GROUP BY prev, token
),
lp AS (
  SELECT tok.doc_id, tok.pos,
         CASE WHEN tok.prev IS NULL
              THEN ln((CAST(f.tf AS DOUBLE) + 1.0) / (t.n + 1.0 * t.v))
              ELSE ln((CAST(b.bc AS DOUBLE) + 1.0) / (CAST(fp.tf AS DOUBLE) + 1.0 * t.v))
         END AS l
  FROM tok
  JOIN freq f USING (token)
  LEFT JOIN freq fp ON fp.token = tok.prev
  LEFT JOIN big b ON b.prev = tok.prev AND b.token = tok.token,
  tot t
),
pd AS (
  SELECT doc_id, COUNT(*) AS n,
         list_reduce([0.0] || list(l ORDER BY pos), (acc, x) -> acc + x) AS s
  FROM lp GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       {r6('-s / CAST(n AS DOUBLE)', 'nll')},
       {r6('exp(-s / CAST(n AS DOUBLE))', 'ppl')}
FROM pd
"""


# CCNet head/middle/tail: the q_bigram_lm chain, then per-language VALUE
# cutoffs on the r6-rounded nll computed over a compacted (lang, nll6)
# histogram — cumulative count >= n * frac picks the cutoff score, ties
# share a bucket. Fraction literals are repr(1/3) / repr(1/3 + 1/3) so
# both engines multiply by the identical IEEE double.
ORACLES["q_ppl_buckets"] = f"""
WITH d AS (SELECT doc_id, lang, {TOKS_RAW} AS tk FROM documents),
tok AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS token,
         unnest(list_prepend(CAST(NULL AS VARCHAR), list_slice(tk, 1, len(tk) - 1))) AS prev
  FROM d
),
freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM freq),
big AS (
  SELECT prev, token, COUNT(*) AS bc FROM tok WHERE prev IS NOT NULL GROUP BY prev, token
),
lp AS (
  SELECT tok.doc_id, tok.pos,
         CASE WHEN tok.prev IS NULL
              THEN ln((CAST(f.tf AS DOUBLE) + 1.0) / (t.n + 1.0 * t.v))
              ELSE ln((CAST(b.bc AS DOUBLE) + 1.0) / (CAST(fp.tf AS DOUBLE) + 1.0 * t.v))
         END AS l
  FROM tok
  JOIN freq f USING (token)
  LEFT JOIN freq fp ON fp.token = tok.prev
  LEFT JOIN big b ON b.prev = tok.prev AND b.token = tok.token,
  tot t
),
pd AS (
  SELECT doc_id, COUNT(*) AS n,
         list_reduce([0.0] || list(l ORDER BY pos), (acc, x) -> acc + x) AS s
  FROM lp GROUP BY doc_id
),
scored AS (
  SELECT pd.doc_id, d0.lang, pd.n AS n_tokens,
         -pd.s / CAST(pd.n AS DOUBLE) AS nll,
         {r6x('-pd.s / CAST(pd.n AS DOUBLE)')} AS nll6
  FROM pd JOIN (SELECT doc_id, lang FROM documents) d0 USING (doc_id)
),
hist AS (
  SELECT lang, nll6, COUNT(*) AS c FROM scored GROUP BY lang, nll6
),
cum AS (
  SELECT lang, nll6,
         SUM(c) OVER (PARTITION BY lang ORDER BY nll6) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
cuts AS (
  SELECT lang,
         MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n AS DOUBLE) * {1.0 / 3.0!r}
                  THEN nll6 END) AS head_cut,
         MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n AS DOUBLE) * {1.0 / 3.0 + 1.0 / 3.0!r}
                  THEN nll6 END) AS mid_cut
  FROM cum GROUP BY lang
)
SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
       s.lang,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       {r6('s.nll', 'nll')},
       {r6('exp(s.nll)', 'ppl')},
       CASE WHEN s.nll6 <= c.head_cut THEN 'head'
            WHEN s.nll6 <= c.mid_cut THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN cuts c USING (lang)
"""


ORACLES["q_ivfpq_topk"] = f"""
WITH {_PQ_BASE},
cents AS (SELECT vec_id AS cent_id, ev AS cv FROM v
          ORDER BY md5('ivf|' || CAST(vec_id AS STRING)) LIMIT 16),
assign_s AS (
  SELECT v.vec_id, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY list_dot_product(v.ev, c.cv)
                    / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                    c.cent_id ASC
         ) AS rn
  FROM v CROSS JOIN cents c
),
assigned AS (SELECT vec_id, cent_id FROM assign_s WHERE rn = 1),
q AS (SELECT vec_id AS query_id, ev FROM v WHERE vec_id < 5),
probe_s AS (
  SELECT q.query_id, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_dot_product(q.ev, c.cv)
                    / (sqrt(list_dot_product(q.ev, q.ev)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                    c.cent_id ASC
         ) AS rn
  FROM q CROSS JOIN cents c
),
probes AS (SELECT query_id, cent_id FROM probe_s WHERE rn <= 4),
qt AS (
  SELECT q.query_id, sub.s, cb.cw,
         {_PQ_DIST.format(a='q.ev', b='cb.cv', off='sub.s * 16')} AS qd
  FROM q CROSS JOIN sub CROSS JOIN cb
),
a AS (
  SELECT q0.query_id, p.vec_id,
         ((q0.qd + q1.qd) + q2.qd) + q3.qd AS ad
  FROM p
  JOIN qt q0 ON q0.s = 0 AND q0.cw = p.code0
  JOIN qt q1 ON q1.s = 1 AND q1.cw = p.code1 AND q1.query_id = q0.query_id
  JOIN qt q2 ON q2.s = 2 AND q2.cw = p.code2 AND q2.query_id = q0.query_id
  JOIN qt q3 ON q3.s = 3 AND q3.cw = p.code3 AND q3.query_id = q0.query_id
),
cand AS (
  SELECT a.query_id, a.vec_id, a.ad
  FROM a
  JOIN assigned ON assigned.vec_id = a.vec_id
  JOIN probes ON probes.query_id = a.query_id AND probes.cent_id = assigned.cent_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ad ASC, vec_id ASC) AS rank
  FROM cand
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       {r6('ad', 'approx_dist')}, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


# BM25 gate queries — same literal term bags as __spark_entry__._BM25_QUERIES
_BM25_Q_VALUES = (
    "(0, 'hash'), (0, 'join'), "
    "(1, 'filter'), (1, 'scan'), (1, 'spark'), "
    "(2, 'customer'), (2, 'merge'), (2, 'window')"
)
_BM25_TERMS = "'customer', 'filter', 'hash', 'join', 'merge', 'scan', 'spark', 'window'"

ORACLES["q_bm25"] = f"""
WITH base AS (SELECT doc_id, {TOKS_DOC} AS tk FROM documents),
d AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl FROM base),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM d
),
tok AS (SELECT doc_id, dl, unnest(tk) AS token FROM d),
tf AS (
  SELECT doc_id, dl, token, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM tok WHERE token IN ({_BM25_TERMS})
  GROUP BY doc_id, dl, token
),
dfreq AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY token),
q(query_id, token) AS (VALUES {_BM25_Q_VALUES}),
c AS (
  SELECT q.query_id, tf.doc_id, tf.token,
         (ln(1.0 + (s.n - f.dft + 0.5) / (f.dft + 0.5)) * (tf.tf * 2.2))
         / (tf.tf + 1.2 * (0.25 + (0.75 * CAST(tf.dl AS DOUBLE)) / s.avgdl)) AS c
  FROM tf
  JOIN q USING (token)
  JOIN dfreq f USING (token), stats s
),
sc AS (
  SELECT query_id, doc_id,
         ROUND(list_reduce([0.0] || list(c ORDER BY token), (acc, x) -> acc + x), 6) AS score
  FROM c GROUP BY query_id, doc_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       {r6('score', 'score')}, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 10
"""


ORACLES["q_hybrid_rrf"] = f"""
WITH base AS (SELECT doc_id, {TOKS_DOC} AS tk FROM documents),
d AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl FROM base),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM d
),
tok AS (SELECT doc_id, dl, unnest(tk) AS token FROM d),
tf AS (
  SELECT doc_id, dl, token, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM tok WHERE token IN ({_BM25_TERMS})
  GROUP BY doc_id, dl, token
),
dfreq AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY token),
q(query_id, token) AS (VALUES {_BM25_Q_VALUES}),
c AS (
  SELECT q.query_id, tf.doc_id, tf.token,
         (ln(1.0 + (s.n - f.dft + 0.5) / (f.dft + 0.5)) * (tf.tf * 2.2))
         / (tf.tf + 1.2 * (0.25 + (0.75 * CAST(tf.dl AS DOUBLE)) / s.avgdl)) AS c
  FROM tf
  JOIN q USING (token)
  JOIN dfreq f USING (token), stats s
),
sc AS (
  SELECT query_id, doc_id,
         ROUND(list_reduce([0.0] || list(c ORDER BY token), (acc, x) -> acc + x), 6) AS score
  FROM c GROUP BY query_id, doc_id
),
lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc QUALIFY rank <= 10
),
eq AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 3
),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
es AS (
  SELECT eq.query_id, ev.vec_id,
         list_dot_product(ev.ev, eq.qv)
           / (sqrt(list_dot_product(ev.ev, ev.ev)) * sqrt(list_dot_product(eq.qv, eq.qv))) AS cos
  FROM ev CROSS JOIN eq
),
dense AS (
  SELECT query_id, vec_id AS doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM es QUALIFY rank <= 10
),
-- fixed-order two-term sum, list order (lex, dense) — matches rrf_fuse
f AS (
  SELECT COALESCE(l.query_id, dn.query_id) AS query_id,
         COALESCE(l.doc_id, dn.doc_id) AS doc_id,
         COALESCE(1.0 / (60.0 + CAST(l.rank AS DOUBLE)), 0.0)
         + COALESCE(1.0 / (60.0 + CAST(dn.rank AS DOUBLE)), 0.0) AS s
  FROM lex l FULL OUTER JOIN dense dn
    ON l.query_id = dn.query_id AND l.doc_id = dn.doc_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
  FROM f
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       {r6('s', 'rrf_score')}, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 10
"""


ORACLES["q_chat_template"] = f"""
WITH t AS ({T})
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(length(string_agg(
         '<|im_start|>' || COALESCE(role, '') || chr(10) || COALESCE(text, '') || '<|im_end|>',
         chr(10) ORDER BY ts, turn_idx)) AS BIGINT) AS n_chars,
       string_agg(
         '<|im_start|>' || COALESCE(role, '') || chr(10) || COALESCE(text, '') || '<|im_end|>',
         chr(10) ORDER BY ts, turn_idx) AS rendered
FROM t
GROUP BY conv_id
"""


ORACLES["q_cdc_chunk"] = f"""
WITH d AS (SELECT doc_id, {TOKS_RAW} AS tk FROM documents),
tok AS (
  SELECT doc_id, unnest(tk) AS token, generate_subscripts(tk, 1) AS i
  FROM d
),
b AS (
  SELECT doc_id, token, i,
         CASE WHEN substring(md5(token), 1, 1) < '2' THEN 1 ELSE 0 END AS is_b
  FROM tok
),
-- chunk id = number of boundaries strictly BEFORE this token (prefix
-- count), the same partition cdc_chunk's edges/slice construction makes
c AS (
  SELECT doc_id, token, i,
         CAST(COALESCE(SUM(is_b) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS chunk_idx
  FROM b
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       chunk_idx,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       string_agg(token, ' ' ORDER BY i) AS chunk
FROM c
GROUP BY doc_id, chunk_idx
"""


ORACLES["q_pack_sequences"] = f"""
WITH d AS (
  SELECT doc_id,
         len({TOKS_RAW}) AS n_tokens,
         md5('pack1|' || CAST(doc_id AS STRING)) AS h
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS s
  FROM d
),
e AS (
  SELECT doc_id, s, n_tokens,
         unnest(generate_series(CAST(FLOOR(s / 512) AS BIGINT),
                                CAST(FLOOR((s + n_tokens - 1) / 512) AS BIGINT))) AS pack_id
  FROM c WHERE n_tokens > 0
)
SELECT CAST(pack_id AS BIGINT) AS pack_id,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(GREATEST(s, pack_id * 512) - s AS BIGINT) AS doc_offset,
       CAST(GREATEST(s, pack_id * 512) - pack_id * 512 AS BIGINT) AS pack_offset,
       CAST(LEAST(s + n_tokens, (pack_id + 1) * 512)
            - GREATEST(s, pack_id * 512) AS BIGINT) AS n_toks
FROM e
"""


# ANN recall/MRR: composes the already-verified IVF and exact-cosine
# oracle rankings as subqueries — the metric layer adds only exact
# small-integer ratios on top.
ORACLES["q_ann_recall"] = f"""
WITH res AS ({{ivf}}),
tru AS ({{cos}}),
j AS (
  SELECT t.query_id, t.vec_id, t.rank AS tr, r.rank AS rr
  FROM tru t LEFT JOIN res r ON r.query_id = t.query_id AND r.vec_id = t.vec_id
  WHERE t.rank <= 5
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(rr) AS BIGINT) AS n_hit,
       ROUND(CAST(COUNT(rr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS recall_at_k,
       ROUND(MAX(CASE WHEN tr = 1 AND rr IS NOT NULL
                      THEN 1.0 / CAST(rr AS DOUBLE) ELSE 0.0 END), 6) AS rr_at_k
FROM j
GROUP BY query_id
""".format(ivf=ORACLES["q_ivf_topk"], cos=ORACLES["q_cosine_topk"])


# ---------------------------------------------------------------------------
# round-4 session-2 additions: point-in-time normalization, CUSUM drift,
# binary-quantized ANN, one-pass covariance, stateful streaming running
# stats. Each mirrors the engine's fixed expression tree (docstrings on
# the operators note where exactness comes from).
# ---------------------------------------------------------------------------

# expanding z-score: same one-pass identity (s2 - s*s/n)/n with the
# GREATEST clamp, same operation order -> bit-identical for the
# integer-valued signal
ORACLES["q_expanding_zscore"] = f"""
WITH t AS ({T}),
e AS (
  SELECT conv_id, turn_idx, epoch_us(ts) AS ts_us, signal,
         CAST(COUNT(signal) OVER w AS DOUBLE) AS n,
         SUM(signal) OVER w AS s,
         SUM(signal * signal) OVER w AS s2
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, ts_us,
       CAST(n AS BIGINT) AS n_so_far,
       {r6('s / n', 'mean_so_far')},
       {r6("CASE WHEN SQRT(GREATEST((s2 - s * s / n) / n, 0.0)) > 0.0 "
           "THEN (signal - s / n) / SQRT(GREATEST((s2 - s * s / n) / n, 0.0)) END", 'z')}
FROM e
"""


# CUSUM closed form: s_t = P_t - LEAST(0, running-min P) — exact for
# integer signals minus the dyadic 5.5 reference
ORACLES["q_cusum"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, turn_idx, epoch_us(ts) AS ts_us,
         SUM(signal - 5.5) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv
  FROM t
),
s AS (
  SELECT conv_id, ts_us,
         pv - LEAST(0.0, MIN(pv) OVER (PARTITION BY conv_id ORDER BY ts_us, turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cus
  FROM p
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN cus > 8.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       {r6('MAX(cus)', 'max_cusum')},
       CAST(MIN(CASE WHEN cus > 8.0 THEN ts_us END) AS BIGINT) AS first_alarm_us
FROM s
GROUP BY conv_id
"""


# binary sign codes: little-endian bits within each 32-dim half —
# integer-exact end to end (XOR + popcount), so ranks replay exactly
_BQ_CODES = """
x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
c AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN v > 0 AND i < 32 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS lo,
         CAST(SUM(CASE WHEN v > 0 AND i >= 32 THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS hi
  FROM x GROUP BY vec_id
)"""

ORACLES["q_hamming_topk"] = f"""
WITH {_BQ_CODES},
d AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         bit_count(xor(c.lo, q.lo)) + bit_count(xor(c.hi, q.hi)) AS hd
  FROM c CROSS JOIN (SELECT * FROM c WHERE vec_id < 5) q
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hd ASC, vec_id ASC) AS rank
  FROM d
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(hd AS INT) AS hamming, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


# one-pass covariance: the oracle is the didactic unnest self-join the
# engine deliberately avoids; cov expression shape matches the engine
# (sxy/n - (sx/n)*(sy/n))
ORACLES["q_pca_cov"] = """
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
p AS (
  SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
         SUM(a.v * b.v) AS sxy, SUM(a.v) AS sx, SUM(b.v) AS sy
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, CAST(n AS BIGINT) AS n,
       ROUND(sxy / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)), 6) + 0 AS cov
FROM p
"""


# streaming running stats: cumulative per distinct (conv_id, ts) over the
# replayed events-derived stream — per-ts groups then cumulative, the
# same summation grouping as the stateful operator (exact for the
# integer-valued signal)
ORACLES["q_stream_running_stats"] = """
WITH s AS (
  SELECT 'c' || CAST(user_id AS STRING) AS conv_id, ts,
         CAST(1 + ABS(CAST(FLOOR(value) AS INT)) % 9 AS DOUBLE) AS signal
  FROM events
),
g AS (
  SELECT conv_id, ts, COUNT(*) AS c, SUM(signal) AS sm, MAX(signal) AS mx
  FROM s GROUP BY conv_id, ts
)
SELECT conv_id, epoch_us(ts) AS ts_us,
       CAST(SUM(c) OVER w AS BIGINT) AS n_so_far,
       ROUND(SUM(sm) OVER w, 6) + 0 AS signal_sum,
       ROUND(MAX(mx) OVER w, 6) + 0 AS signal_max
FROM g
WINDOW w AS (PARTITION BY conv_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# PSI drift: fixed-order term sum over the 9 integer bins, add-one
# smoothing; expression shape matches drift.psi_drift exactly
def _psi_sql() -> str:
    terms = []
    for b in range(1, 10):
        p = f"(CAST(r{b} + 1 AS DOUBLE) / CAST(n_ref + 9 AS DOUBLE))"
        q = f"(CAST(c{b} + 1 AS DOUBLE) / CAST(n_cur + 9 AS DOUBLE))"
        terms.append(f"(({p} - {q}) * ln({p} / {q}))")
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    return acc


_PSI_COUNTS = ",\n         ".join(
    f"COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' AND CAST(signal AS INT) = {b} THEN 1 END) AS r{b},\n"
    f"         COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') AND CAST(signal AS INT) = {b} THEN 1 END) AS c{b}"
    for b in range(1, 10)
)

ORACLES["q_psi_drift"] = f"""
WITH t AS ({T}),
g AS (
  SELECT role,
         COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS n_ref,
         COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN 1 END) AS n_cur,
         {_PSI_COUNTS}
  FROM t GROUP BY role
),
s AS (SELECT role, n_ref, n_cur, {_psi_sql()} AS psi_raw FROM g)
SELECT role, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       {r6('psi_raw', 'psi')},
       CASE WHEN psi_raw < 0.1 THEN 'stable'
            WHEN psi_raw < 0.25 THEN 'drifting'
            ELSE 'shifted' END AS drift_band
FROM s
"""


# purged walk-forward split: exact integer-microsecond predicates
ORACLES["q_temporal_split"] = f"""
WITH t AS ({T})
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us,
       CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 'test'
            WHEN epoch_us(ts) + 86400000000 > epoch_us(TIMESTAMP '2024-01-15 00:00:00') THEN 'purged'
            WHEN epoch_us(ts) + 129600000000 > epoch_us(TIMESTAMP '2024-01-15 00:00:00') THEN 'embargo'
            ELSE 'train' END AS fold
FROM t
"""


# two-sample KS: exact integer ECDF counts; the only float ops are two
# divisions, abs, max — expression shape matches drift.ks_drift exactly
ORACLES["q_ks_drift"] = f"""
WITH t AS ({T}),
pv AS (
  SELECT role, CAST(signal AS DOUBLE) AS val,
         COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS r,
         COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN 1 END) AS c
  FROM t WHERE signal IS NOT NULL
  GROUP BY role, CAST(signal AS DOUBLE)
),
cum AS (
  SELECT role,
         SUM(r) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
         SUM(c) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(r) OVER (PARTITION BY role) AS nr,
         SUM(c) OVER (PARTITION BY role) AS nc
  FROM pv
)
SELECT role,
       CAST(MAX(nr) AS BIGINT) AS n_ref,
       CAST(MAX(nc) AS BIGINT) AS n_cur,
       {r6("MAX(CASE WHEN nr > 0 AND nc > 0 THEN ABS(CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE) - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE)) END)", "ks")}
FROM cum GROUP BY role
"""


# MI + chi2 over the 4x9 (role, bin) grid per pre/post window:
# fixed-order left-fold chains matching drift.mi_association exactly
_MI_ROLES = ("assistant", "system", "tool", "user")


def _fold(terms: list[str]) -> str:
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    return acc


_MI_COUNTS = ",\n         ".join(
    f"COUNT(CASE WHEN role = '{r}' AND CAST(signal AS INT) = {b} THEN 1 END) AS n_{r}_{b}"
    for r in _MI_ROLES
    for b in range(1, 10)
)


def _mi_chi_sql() -> tuple[str, str, str]:
    n_tot = _fold([f"n_{r}_{b}" for r in _MI_ROLES for b in range(1, 10)])
    marg_r = {r: _fold([f"n_{r}_{b}" for b in range(1, 10)]) for r in _MI_ROLES}
    marg_b = {b: _fold([f"n_{r}_{b}" for r in _MI_ROLES]) for b in range(1, 10)}
    big_n = f"CAST({n_tot} AS DOUBLE)"
    mi_terms, chi_terms = [], []
    for r in _MI_ROLES:
        for b in range(1, 10):
            c = f"CAST(n_{r}_{b} AS DOUBLE)"
            nr = f"CAST({marg_r[r]} AS DOUBLE)"
            nb = f"CAST({marg_b[b]} AS DOUBLE)"
            mi_terms.append(
                f"(CASE WHEN {c} > 0 THEN ({c} / {big_n}) * ln(({c} * {big_n}) / ({nr} * {nb})) ELSE 0.0 END)"
            )
            e = f"(({nr} * {nb}) / {big_n})"
            chi_terms.append(
                f"(CASE WHEN {e} > 0 THEN ({c} - {e}) * ({c} - {e}) / {e} ELSE 0.0 END)"
            )
    return n_tot, _fold(mi_terms), _fold(chi_terms)


_MI_N, _MI_SUM, _CHI_SUM = _mi_chi_sql()

ORACLES["q_mi_assoc"] = f"""
WITH t AS ({T}),
g AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'ref' ELSE 'cur' END AS win,
         {_MI_COUNTS}
  FROM t GROUP BY 1
)
SELECT win, CAST({_MI_N} AS BIGINT) AS n,
       {r6(_MI_SUM, "mi")},
       {r6(_CHI_SUM, "chi2")}
FROM g
"""


# per-conversation role-transition Markov features: lag-1 co-occurrence
# counts + fixed-order entropy chain matching sessionize.role_transitions
def _trans_sql() -> tuple[str, str, str, str, str]:
    counts = ",\n         ".join(
        f"COUNT(CASE WHEN _from = '{a}' AND _to = '{b}' THEN 1 END) AS c_{a}_{b}"
        for a in _MI_ROLES
        for b in _MI_ROLES
    )
    n = "CAST(n AS DOUBLE)"
    ent_terms, nz_terms = [], []
    for a in _MI_ROLES:
        for b in _MI_ROLES:
            c = f"CAST(c_{a}_{b} AS DOUBLE)"
            p = f"({c} / {n})"
            ent_terms.append(
                f"(CASE WHEN {c} > 0 THEN (-{p}) * log2({p}) ELSE 0.0 END)"
            )
            nz_terms.append(f"(CASE WHEN {c} > 0 THEN 1 ELSE 0 END)")
    diag = _fold([f"c_{a}_{a}" for a in _MI_ROLES])
    marg_terms = []
    for a in _MI_ROLES:
        ra = "CAST(" + _fold([f"c_{a}_{b}" for b in _MI_ROLES]) + " AS DOUBLE)"
        pa = f"({ra} / {n})"
        marg_terms.append(
            f"(CASE WHEN {ra} > 0 THEN (-{pa}) * log2({pa}) ELSE 0.0 END)"
        )
    return counts, _fold(ent_terms), _fold(nz_terms), diag, _fold(marg_terms)


_TR_COUNTS, _TR_ENT, _TR_NZ, _TR_DIAG, _TR_MARG = _trans_sql()

ORACLES["q_role_transitions"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, role AS _to,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS _from
  FROM t
),
g AS (
  SELECT conv_id, COUNT(_from) AS n,
         {_TR_COUNTS}
  FROM p GROUP BY conv_id
)
SELECT conv_id,
       CAST(n AS BIGINT) AS n_trans,
       CAST(CASE WHEN n > 0 THEN {_TR_NZ} END AS BIGINT) AS n_distinct_trans,
       {r6(f"CASE WHEN n > 0 THEN CAST({_TR_DIAG} AS DOUBLE) / CAST(n AS DOUBLE) END", "self_loop_ratio")},
       {r6(f"CASE WHEN n > 0 THEN {_TR_ENT} END", "trans_entropy")},
       {r6(f"CASE WHEN n > 0 THEN {_TR_MARG} END", "prev_entropy")},
       {r6(f"CASE WHEN n > 0 THEN ({_TR_ENT} - {_TR_MARG}) END", "cond_entropy")}
FROM g
"""


# leakage-safe expanding target encoding: past-only frame, frame-order
# running sum (the q_expanding_zscore cross-engine contract)
ORACLES["q_target_encode"] = f"""
WITH t AS ({T}),
w AS (
  SELECT conv_id, turn_idx, ts, role,
         COUNT(signal) OVER win AS np,
         SUM(CAST(signal AS DOUBLE)) OVER win AS sp
  FROM t
  WINDOW win AS (PARTITION BY conv_id, role ORDER BY ts, turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us, role,
       CAST(COALESCE(np, 0) AS BIGINT) AS n_prior,
       {r6("CASE WHEN np > 0 THEN sp / CAST(np AS DOUBLE) END", "te")}
FROM w
"""


# Mann-Whitney U / AUC rank drift: midrank sums as exact doubled
# integers, U a multiple of 0.5 — expression shape matches drift.mw_drift
ORACLES["q_mw_drift"] = f"""
WITH t AS ({T}),
pv AS (
  SELECT role, CAST(signal AS DOUBLE) AS val,
         COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS r,
         COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN 1 END) AS c
  FROM t WHERE signal IS NOT NULL
  GROUP BY role, CAST(signal AS DOUBLE)
),
cb AS (
  SELECT role, r, c, (r + c) AS t,
         SUM(r + c) OVER (PARTITION BY role ORDER BY val
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (r + c) AS cbv
  FROM pv
),
g AS (
  SELECT role,
         CAST(SUM(r) AS BIGINT) AS n_ref,
         CAST(SUM(c) AS BIGINT) AS n_cur,
         CAST(SUM(r * (2 * cbv + t + 1)) AS BIGINT) AS two_r
  FROM cb GROUP BY role
)
SELECT role, n_ref, n_cur,
       {r6("CASE WHEN n_ref > 0 AND n_cur > 0 THEN (CAST(two_r AS DOUBLE) - CAST(n_ref AS DOUBLE) * (CAST(n_ref AS DOUBLE) + 1.0)) / 2.0 END", "u")},
       {r6("CASE WHEN n_ref > 0 AND n_cur > 0 THEN ((CAST(two_r AS DOUBLE) - CAST(n_ref AS DOUBLE) * (CAST(n_ref AS DOUBLE) + 1.0)) / 2.0) / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)) END", "auc")}
FROM g
"""


# per-conversation lag-k autocorrelation: exact long sufficient
# statistics + the fixed num/den chains of sessionize.autocorr_features
_AC_LAGS = (1, 2, 3)

_AC_LAGCOLS = ",\n         ".join(
    f"LAG(CAST(signal AS BIGINT), {k}) OVER "
    f"(PARTITION BY conv_id ORDER BY ts, turn_idx) AS l{k}"
    for k in _AC_LAGS
)
_AC_AGGS = ",\n         ".join(
    f"COUNT(CASE WHEN x IS NOT NULL AND l{k} IS NOT NULL THEN 1 END) AS m{k},\n"
    f"         SUM(x * l{k}) AS p{k},\n"
    f"         SUM(CASE WHEN x IS NOT NULL AND l{k} IS NOT NULL THEN x END) AS a{k},\n"
    f"         SUM(CASE WHEN x IS NOT NULL AND l{k} IS NOT NULL THEN l{k} END) AS b{k}"
    for k in _AC_LAGS
)
_AC_MEAN = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_AC_DEN = f"(CAST(s2 AS DOUBLE) - CAST(n AS DOUBLE) * {_AC_MEAN} * {_AC_MEAN})"
_AC_OUT = ",\n       ".join(
    r6(
        f"CASE WHEN m{k} > 0 AND {_AC_DEN} <> 0.0 THEN "
        f"(CAST(p{k} AS DOUBLE) - {_AC_MEAN} * CAST(a{k} AS DOUBLE) "
        f"- {_AC_MEAN} * CAST(b{k} AS DOUBLE) "
        f"+ CAST(m{k} AS DOUBLE) * {_AC_MEAN} * {_AC_MEAN}) / {_AC_DEN} END",
        f"ac_{k}",
    )
    for k in _AC_LAGS
)

ORACLES["q_autocorr"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS x,
         {_AC_LAGCOLS}
  FROM t
),
g AS (
  SELECT conv_id, COUNT(x) AS n, SUM(x) AS s1, SUM(x * x) AS s2,
         {_AC_AGGS}
  FROM p GROUP BY conv_id
)
SELECT conv_id, CAST(n AS BIGINT) AS n,
       {_AC_OUT}
FROM g
"""


# leave-one-out + m-estimate target encoding: two exact-integer
# aggregates joined back — matches encoding.with_loo_target_encoding
ORACLES["q_loo_encode"] = f"""
WITH t AS ({T}),
s AS (
  SELECT role, COUNT(CAST(signal AS BIGINT)) AS nk,
         SUM(CAST(signal AS BIGINT)) AS sk
  FROM t GROUP BY role
),
gl AS (SELECT SUM(nk) AS na, SUM(sk) AS sa FROM s),
j AS (
  SELECT t.conv_id, t.turn_idx, t.ts, t.role,
         CAST(t.signal AS BIGINT) AS xl,
         s.nk, s.sk, gl.na, gl.sa
  FROM t LEFT JOIN s ON t.role = s.role CROSS JOIN gl
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us, role,
       CAST(COALESCE(nk - CASE WHEN xl IS NOT NULL THEN 1 ELSE 0 END, 0) AS BIGINT) AS n_other,
       {r6("CASE WHEN (nk - CASE WHEN xl IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN CAST(sk - COALESCE(xl, 0) AS DOUBLE) / CAST(nk - CASE WHEN xl IS NOT NULL THEN 1 ELSE 0 END AS DOUBLE) END", "te_loo")},
       {r6("CASE WHEN (CAST(nk - CASE WHEN xl IS NOT NULL THEN 1 ELSE 0 END AS DOUBLE) + 10.0) > 0 THEN (CAST(sk - COALESCE(xl, 0) AS DOUBLE) + 10.0 * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))) / (CAST(nk - CASE WHEN xl IS NOT NULL THEN 1 ELSE 0 END AS DOUBLE) + 10.0) END", "te_smooth")}
FROM j
"""


# weight of evidence + information value: fixed-order count folds and
# iv term chain over the known role list — matches encoding.woe_iv
_WOE_COUNTS = ",\n         ".join(
    f"COUNT(CASE WHEN role = '{k}' AND CAST(signal AS DOUBLE) >= 5.0 THEN 1 END) AS g_{k},\n"
    f"         COUNT(CASE WHEN role = '{k}' AND NOT (CAST(signal AS DOUBLE) >= 5.0) THEN 1 END) AS b_{k}"
    for k in _MI_ROLES
)
_WOE_G = "CAST(" + _fold([f"g_{k}" for k in _MI_ROLES]) + " AS DOUBLE)"
_WOE_B = "CAST(" + _fold([f"b_{k}" for k in _MI_ROLES]) + " AS DOUBLE)"
_WOE_IV_TERMS = []
_WOE_ROWS = []
for _k in _MI_ROLES:
    _gk = f"CAST(g_{_k} AS DOUBLE)"
    _bk = f"CAST(b_{_k} AS DOUBLE)"
    _both = f"{_gk} > 0 AND {_bk} > 0"
    _woe = f"ln(({_gk} / {_WOE_G}) / ({_bk} / {_WOE_B}))"
    _WOE_IV_TERMS.append(
        f"(CASE WHEN {_both} THEN ({_gk} / {_WOE_G} - {_bk} / {_WOE_B}) * {_woe} ELSE 0.0 END)"
    )
    _WOE_ROWS.append((_k, f"CASE WHEN {_both} THEN {_woe} END"))

_WOE_IV = _fold(_WOE_IV_TERMS)
_WOE_UNION = "\nUNION ALL\n".join(
    f"SELECT '{k}' AS role, CAST(g_{k} AS BIGINT) AS n_good,"
    f" CAST(b_{k} AS BIGINT) AS n_bad, {r6(w, 'woe')}, {r6(_WOE_IV, 'iv')} FROM g"
    for k, w in _WOE_ROWS
)

ORACLES["q_woe_iv"] = f"""
WITH t AS ({T}),
g AS (
  SELECT {_WOE_COUNTS}
  FROM t WHERE signal IS NOT NULL
)
{_WOE_UNION}
"""


# per-conversation OLS trend of signal vs turn ordinal: six exact-long
# sufficient statistics + the fixed double chains of profile.signal_trend
_TR_NUM = "(CAST(n AS DOUBLE) * CAST(six AS DOUBLE) - CAST(si AS DOUBLE) * CAST(sx AS DOUBLE))"
_TR_DEN = "(CAST(n AS DOUBLE) * CAST(sii AS DOUBLE) - CAST(si AS DOUBLE) * CAST(si AS DOUBLE))"
_TR_VARX = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
_TR_OK = f"n > 1 AND {_TR_DEN} <> 0.0"

ORACLES["q_signal_trend"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) - 1 AS BIGINT) AS i,
         CAST(signal AS BIGINT) AS x
  FROM t
),
g AS (
  SELECT conv_id, COUNT(x) AS n,
         SUM(CASE WHEN x IS NOT NULL THEN i END) AS si,
         SUM(CASE WHEN x IS NOT NULL THEN i * i END) AS sii,
         SUM(x) AS sx, SUM(x * x) AS sxx, SUM(i * x) AS six
  FROM p GROUP BY conv_id
)
SELECT conv_id, CAST(n AS BIGINT) AS n,
       {r6(f"CASE WHEN {_TR_OK} THEN {_TR_NUM} / {_TR_DEN} END", "slope")},
       {r6(f"CASE WHEN {_TR_OK} THEN (CAST(sx AS DOUBLE) - ({_TR_NUM} / {_TR_DEN}) * CAST(si AS DOUBLE)) / CAST(n AS DOUBLE) END", "intercept")},
       {r6(f"CASE WHEN {_TR_OK} AND {_TR_VARX} > 0 THEN {_TR_NUM} / (sqrt({_TR_DEN}) * sqrt({_TR_VARX})) END", "r")}
FROM g
"""


# per-conversation hour-of-day activity profile: 24 exact counts,
# greatest + earliest-wins COALESCE peak, fixed entropy chain —
# matches profile.temporal_profile (DuckDB dayofweek: 0=Sun..6=Sat;
# Spark dayofweek: 1=Sun..7=Sat — weekend mapped semantically)
_TP_COUNTS = ",\n         ".join(
    f"COUNT(CASE WHEN hour(ts) = {h} THEN 1 END) AS h{h}" for h in range(24)
)
_TP_PEAK = "GREATEST(" + ", ".join(f"h{h}" for h in range(24)) + ")"
_TP_PEAKH = "COALESCE(" + ", ".join(
    f"CASE WHEN h{h} = {_TP_PEAK} THEN {h} END" for h in range(24)
) + ")"
_TP_ENT = _fold(
    [
        f"(CASE WHEN h{h} > 0 THEN (-(CAST(h{h} AS DOUBLE) / CAST(n AS DOUBLE))) * log2(CAST(h{h} AS DOUBLE) / CAST(n AS DOUBLE)) ELSE 0.0 END)"
        for h in range(24)
    ]
)

ORACLES["q_temporal_profile"] = f"""
WITH t AS ({T}),
g AS (
  SELECT conv_id, COUNT(*) AS n,
         COUNT(CASE WHEN hour(ts) <= 5 THEN 1 END) AS night,
         COUNT(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 END) AS wkend,
         {_TP_COUNTS}
  FROM t GROUP BY conv_id
)
SELECT conv_id, CAST(n AS BIGINT) AS n,
       CAST({_TP_PEAKH} AS INT) AS peak_hour,
       {r6(f"CAST({_TP_PEAK} AS DOUBLE) / CAST(n AS DOUBLE)", "peak_frac")},
       {r6(_TP_ENT, "hour_entropy")},
       {r6("CAST(night AS DOUBLE) / CAST(n AS DOUBLE)", "night_frac")},
       {r6("CAST(wkend AS DOUBLE) / CAST(n AS DOUBLE)", "weekend_frac")}
FROM g
"""


# per-conversation user->assistant response latency: exact microsecond
# gaps from one lag window — matches profile.response_latency
ORACLES["q_latency"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, role AS _to, epoch_us(ts) AS _ts,
         LAG(role) OVER w AS _from,
         LAG(epoch_us(ts)) OVER w AS _prev
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
pairs AS (
  SELECT conv_id, _ts - _prev AS gap
  FROM p WHERE _to = 'assistant' AND _from = 'user'
)
SELECT conv_id,
       CAST(COUNT(gap) AS BIGINT) AS n_resp,
       {r6("(CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(gap) AS DOUBLE)) / 1000000.0", "mean_sec")},
       CAST(MIN(gap) AS BIGINT) AS min_us,
       CAST(MAX(gap) AS BIGINT) AS max_us
FROM pairs GROUP BY conv_id
"""


# deterministic equal-frequency binning on the compacted value
# histogram: exact integer floor division — matches
# curation.equal_frequency_bins (bin type: Spark `div` on longs ->
# long; DuckDB // on bigints matches after the BIGINT cast)
ORACLES["q_freq_bins"] = """
WITH h AS (
  SELECT CAST(n_chars AS BIGINT) AS v, COUNT(*) AS c
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT v,
         SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS cb
  FROM h
),
tot AS (SELECT SUM(c) AS n FROM h),
bins AS (
  SELECT v, CAST(LEAST((cb * 10) // n, 9) AS BIGINT) AS bin
  FROM cum CROSS JOIN tot
)
SELECT d.doc_id, d.n_chars, b.bin
FROM documents d LEFT JOIN bins b ON CAST(d.n_chars AS BIGINT) = b.v
"""


# Welch t + Cohen's d mean-shift drift: six exact-long sufficient
# statistics, fixed single-op chains — matches drift.welch_drift
_W_MR = "(CAST(COALESCE(sr, 0) AS DOUBLE) / NULLIF(CAST(nr AS DOUBLE), 0.0))"
_W_MC = "(CAST(COALESCE(sc, 0) AS DOUBLE) / NULLIF(CAST(nc AS DOUBLE), 0.0))"
_W_VR = (
    "((CAST(nr AS DOUBLE) * CAST(COALESCE(qr, 0) AS DOUBLE)"
    " - CAST(COALESCE(sr, 0) AS DOUBLE) * CAST(COALESCE(sr, 0) AS DOUBLE))"
    " / NULLIF(CAST(nr AS DOUBLE) * (CAST(nr AS DOUBLE) - 1.0), 0.0))"
)
_W_VC = (
    "((CAST(nc AS DOUBLE) * CAST(COALESCE(qc, 0) AS DOUBLE)"
    " - CAST(COALESCE(sc, 0) AS DOUBLE) * CAST(COALESCE(sc, 0) AS DOUBLE))"
    " / NULLIF(CAST(nc AS DOUBLE) * (CAST(nc AS DOUBLE) - 1.0), 0.0))"
)
_W_SE2 = f"({_W_VR} / NULLIF(CAST(nr AS DOUBLE), 0.0) + {_W_VC} / NULLIF(CAST(nc AS DOUBLE), 0.0))"
_W_POOL = (
    f"(((CAST(nr AS DOUBLE) - 1.0) * {_W_VR} + (CAST(nc AS DOUBLE) - 1.0) * {_W_VC})"
    " / NULLIF(CAST(nr AS DOUBLE) + CAST(nc AS DOUBLE) - 2.0, 0.0))"
)

ORACLES["q_welch_drift"] = f"""
WITH t AS ({T}),
g AS (
  SELECT role,
         COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS nr,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN CAST(signal AS BIGINT) END) AS sr,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN CAST(signal AS BIGINT) * CAST(signal AS BIGINT) END) AS qr,
         COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN 1 END) AS nc,
         SUM(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN CAST(signal AS BIGINT) END) AS sc,
         SUM(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN CAST(signal AS BIGINT) * CAST(signal AS BIGINT) END) AS qc
  FROM t WHERE signal IS NOT NULL
  GROUP BY role
)
SELECT role,
       CAST(nr AS BIGINT) AS n_ref,
       CAST(nc AS BIGINT) AS n_cur,
       {r6(f"CASE WHEN nr > 0 THEN {_W_MR} END", "mean_ref")},
       {r6(f"CASE WHEN nc > 0 THEN {_W_MC} END", "mean_cur")},
       {r6(f"CASE WHEN nr > 1 AND nc > 1 AND {_W_SE2} > 0 THEN ({_W_MR} - {_W_MC}) / sqrt({_W_SE2}) END", "t")},
       {r6(f"CASE WHEN nr > 1 AND nc > 1 AND {_W_POOL} > 0 THEN ({_W_MR} - {_W_MC}) / sqrt({_W_POOL}) END", "d")}
FROM g
"""


# Jensen-Shannon: same 2x9 exact-count grid as PSI, fixed-order term
# chain with the identical parenthesization drift.js_drift builds
def _jsd_sql() -> str:
    terms = []
    for b in range(1, 10):
        p = f"(CAST(r{b} + 1 AS DOUBLE) / CAST(n_ref + 9 AS DOUBLE))"
        q = f"(CAST(c{b} + 1 AS DOUBLE) / CAST(n_cur + 9 AS DOUBLE))"
        m = f"(({p} + {q}) / 2.0)"
        terms.append(f"(((0.5 * {p}) * ln({p} / {m})) + ((0.5 * {q}) * ln({q} / {m})))")
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    return acc


ORACLES["q_js_drift"] = f"""
WITH t AS ({T}),
g AS (
  SELECT role,
         COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS n_ref,
         COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN 1 END) AS n_cur,
         {_PSI_COUNTS}
  FROM t GROUP BY role
),
s AS (SELECT role, n_ref, n_cur, {_jsd_sql()} AS jsd_raw FROM g)
SELECT role, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       {r6('jsd_raw', 'jsd')},
       {r6('sqrt(jsd_raw / 0.6931471805599453)', 'js_dist')}
FROM s
"""


# Wasserstein-1: compacted (role, value) histogram; the moved-mass sum
# runs on exact common-denominator BIGINTs |CR*NC - CC*NR| * gap, so it
# is aggregation-order free in BOTH engines; one final division
ORACLES["q_w1_drift"] = f"""
WITH t AS ({T}),
pv AS (
  SELECT role, CAST(signal AS BIGINT) AS val,
         COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS r,
         COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN 1 END) AS c
  FROM t WHERE signal IS NOT NULL
  GROUP BY role, CAST(signal AS BIGINT)
),
cum AS (
  SELECT role,
         SUM(r) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
         SUM(c) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(r) OVER (PARTITION BY role) AS nr,
         SUM(c) OVER (PARTITION BY role) AS nc,
         LEAD(val) OVER (PARTITION BY role ORDER BY val) - val AS gap
  FROM pv
)
SELECT role,
       CAST(MAX(nr) AS BIGINT) AS n_ref,
       CAST(MAX(nc) AS BIGINT) AS n_cur,
       {r6("CASE WHEN MAX(nr) > 0 AND MAX(nc) > 0 THEN CAST(SUM(ABS(CAST(cr AS HUGEINT) * CAST(nc AS HUGEINT) - CAST(cc AS HUGEINT) * CAST(nr AS HUGEINT)) * CAST(gap AS HUGEINT)) AS DOUBLE) / (CAST(MAX(nr) AS DOUBLE) * CAST(MAX(nc) AS DOUBLE)) END", "w1")}
FROM cum GROUP BY role
"""


# Page-Hinkley: the running mean rides exact integer prefix sums (any
# aggregation order), but the prefix sum of float deviations is
# order-sensitive — so the oracle folds it EXPLICITLY in (ts, turn_idx)
# order via list_reduce over the per-conversation deviation list,
# matching Spark's sequential running-frame accumulation (bounded-turn
# conversations make the O(n^2) oracle fold cheap; the engine itself
# stays O(n) windowed)
ORACLES["q_page_hinkley"] = f"""
WITH t AS ({T}),
b AS (
  SELECT conv_id, turn_idx, ts, epoch_us(ts) AS ts_us,
         (CAST(signal AS DOUBLE)
          - (CAST(SUM(CAST(signal AS BIGINT)) OVER w AS DOUBLE)
             / CAST(COUNT(*) OVER w AS DOUBLE))) - 0.25 AS dev
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
l AS (
  SELECT conv_id,
         list(dev ORDER BY ts, turn_idx) AS devs,
         list(ts_us ORDER BY ts, turn_idx) AS tss
  FROM b GROUP BY conv_id
),
u AS (
  SELECT conv_id, devs, generate_subscripts(devs, 1) AS i, unnest(tss) AS ts_us
  FROM l
),
p AS (
  SELECT conv_id, i, ts_us,
         list_reduce([0.0] || devs[1:i], (a, x) -> a + x) AS pv
  FROM u
),
s AS (
  SELECT conv_id, ts_us,
         pv - MIN(pv) OVER (PARTITION BY conv_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
  FROM p
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN ph > 12.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       {r6('MAX(ph)', 'max_ph')},
       CAST(MIN(CASE WHEN ph > 12.0 THEN ts_us END) AS BIGINT) AS first_alarm_us
FROM s
GROUP BY conv_id
"""


# streaming CUSUM: batch replay of the distinct-ts closed form —
# matches streaming.streaming_cusum (target 5.0 + slack 0.5 -> dyadic
# reference 5.5; every deviation a dyadic rational, exact in float64)
ORACLES["q_stream_cusum"] = f"""
WITH t AS ({T}),
g AS (
  SELECT conv_id, ts, COUNT(*) AS c, SUM(CAST(signal AS BIGINT)) AS s
  FROM t GROUP BY conv_id, ts
),
w AS (
  SELECT conv_id, epoch_us(ts) AS ts_us, c,
         SUM(CAST(s AS DOUBLE) - CAST(c AS DOUBLE) * 5.5)
           OVER (PARTITION BY conv_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM g
),
m AS (
  SELECT conv_id, ts_us, c, p,
         LEAST(MIN(p) OVER (PARTITION BY conv_id ORDER BY ts_us
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               0.0) AS mn
  FROM w
)
SELECT conv_id, ts_us, CAST(c AS BIGINT) AS n_at_ts,
       {r6("p - mn", "cusum")},
       (p - mn) > 8.0 AS cusum_alarm
FROM m
"""


# hard-negative mining: exact broadcast baseline — matches
# similarity.mine_hard_negatives (same fixed-order cosine fold and
# id-ascending tie-break as q_cosine_topk)
ORACLES["q_hard_negatives"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < 5
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev, label FROM embeddings),
s AS (
  SELECT q.query_id, v.vec_id, v.label AS neg_label,
         list_dot_product(v.ev, q.qv)
           / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM v CROSS JOIN q
  WHERE v.label <> q.qlabel AND v.vec_id <> q.query_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(vec_id AS BIGINT) AS vec_id,
       CAST(neg_label AS INT) AS neg_label,
       {r6("cos", "cosine")}, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


# streaming PSI: batch replay of the closed 1-day tumbling windows —
# matches streaming.streaming_psi (reference = pre-cutoff counts, same
# add-one smoothing, same fixed-order term chain as q_psi_drift)
def _spsi_terms() -> str:
    terms = []
    for b in range(1, 10):
        p = f"(CAST(r{b} + 1 AS DOUBLE) / CAST(rt + 9 AS DOUBLE))"
        q = f"(CAST(c{b} + 1 AS DOUBLE) / CAST(n + 9 AS DOUBLE))"
        terms.append(f"(({p} - {q}) * ln({p} / {q}))")
    return _fold(terms)


_SPSI_WCOUNTS = ",\n         ".join(
    f"COUNT(CASE WHEN CAST(signal AS INT) = {b} THEN 1 END) AS c{b}"
    for b in range(1, 10)
)
_SPSI_RCOUNTS = ",\n         ".join(
    f"COUNT(CASE WHEN CAST(signal AS INT) = {b} THEN 1 END) AS r{b}"
    for b in range(1, 10)
)

ORACLES["q_stream_psi"] = f"""
WITH t AS ({T}),
ref AS (
  SELECT COUNT(*) AS rt,
         {_SPSI_RCOUNTS}
  FROM t WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
),
mx AS (SELECT MAX(epoch_us(ts)) AS m FROM t),
w AS (
  SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS ws,
         COUNT(*) AS n,
         {_SPSI_WCOUNTS}
  FROM t GROUP BY 1
),
s AS (
  SELECT ws, n, {_spsi_terms()} AS psi
  FROM w CROSS JOIN ref CROSS JOIN mx
  WHERE ws + 86400000000 <= mx.m
)
SELECT CAST(ws AS BIGINT) AS window_start_us,
       CAST(ws + 86400000000 AS BIGINT) AS window_end_us,
       CAST(n AS BIGINT) AS n,
       {r6("psi", "psi")},
       CASE WHEN psi < 0.1 THEN 'stable'
            WHEN psi < 0.25 THEN 'drifting'
            ELSE 'shifted' END AS drift_band
FROM s
"""


# JL random projection: literal seeded Gaussian matrix regenerated here
# (PCG64 is platform-independent; repr round-trips each double exactly),
# fixed left-assoc chains matching similarity._projection_expr
def _rand_project_cols(dim: int = 64, out_dim: int = 8, seed: int = 29) -> str:
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((out_dim, dim))
    s = 1.0 / float(np.sqrt(out_dim))
    cols = []
    for j in range(out_dim):
        terms = [
            f"ev[{i + 1}] * {float(planes[j][i])!r}" for i in range(dim)
        ]
        chain = terms[0]
        for t in terms[1:]:
            chain = f"({chain} + {t})"
        cols.append(r6(f"(({chain}) * {s!r})", f"p{j + 1}"))
    return ",\n       ".join(cols)


ORACLES["q_rand_project"] = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       {_rand_project_cols()}
FROM v
"""


# per-turn echo score: lag-1 distinct-token Jaccard — matches
# sessionize.with_echo_score (|A∪B| derived from distinct counts, so no
# reliance on cross-engine union-dedup semantics)
ORACLES["q_echo_score"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, turn_idx, ts,
         list_distinct({TOKS_RAW}) AS tk,
         LAG(list_distinct({TOKS_RAW}))
           OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS pk
  FROM t
),
s AS (
  SELECT conv_id, turn_idx, ts, pk,
         CAST(length(list_intersect(tk, pk)) AS BIGINT) AS i,
         CAST(length(tk) + length(pk) - length(list_intersect(tk, pk)) AS BIGINT) AS u
  FROM p
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us,
       CASE WHEN pk IS NOT NULL THEN i END AS n_common,
       CASE WHEN pk IS NOT NULL THEN u END AS n_union,
       {r6("CASE WHEN pk IS NOT NULL AND u > 0 THEN CAST(i AS DOUBLE) / CAST(u AS DOUBLE) END", "echo")}
FROM s
"""


# same-role run structure: difference-of-row_numbers islands — matches
# sessionize.role_run_stats
ORACLES["q_role_runs"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, role,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
           - ROW_NUMBER() OVER (PARTITION BY conv_id, role ORDER BY ts, turn_idx) AS isl
  FROM t
),
runs AS (
  SELECT conv_id, role, isl, COUNT(*) AS len
  FROM p GROUP BY conv_id, role, isl
)
SELECT conv_id,
       CAST(SUM(len) AS BIGINT) AS n_turns,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(len) AS BIGINT) AS max_run,
       {r6("CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", "mean_run")}
FROM runs GROUP BY conv_id
"""


# midrank quantile normalization: doubled-midrank exact integers —
# matches sessionize.with_rank_normalize
ORACLES["q_rank_norm"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, turn_idx, ts, CAST(signal AS DOUBLE) AS x
  FROM t
),
w AS (
  SELECT conv_id, turn_idx, ts, x,
         COUNT(x) OVER (PARTITION BY conv_id, x) AS tt,
         COUNT(x) OVER (PARTITION BY conv_id ORDER BY x ASC NULLS LAST
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS upto,
         COUNT(x) OVER (PARTITION BY conv_id) AS n
  FROM p
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us,
       {r6("x", "signal")},
       {r6("CASE WHEN x IS NOT NULL THEN (CAST(2 * (upto - tt) + tt + 1 AS DOUBLE) / 2.0 - 0.5) / CAST(n AS DOUBLE) END", "rank_u")}
FROM w
"""


# Spearman rho of signal vs turn ordinal: Pearson on doubled midranks —
# matches sessionize.spearman_trend (same chains as q_signal_trend)
_SP_NUM = "(CAST(n AS DOUBLE) * CAST(sir AS DOUBLE) - CAST(si AS DOUBLE) * CAST(sr AS DOUBLE))"
_SP_DENI = "(CAST(n AS DOUBLE) * CAST(sii AS DOUBLE) - CAST(si AS DOUBLE) * CAST(si AS DOUBLE))"
_SP_DENR = "(CAST(n AS DOUBLE) * CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))"

ORACLES["q_spearman_trend"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, CAST(signal AS DOUBLE) AS x, ts, turn_idx
  FROM t
),
w AS (
  SELECT conv_id, x,
         CAST(2 * (COUNT(x) OVER (PARTITION BY conv_id ORDER BY x ASC NULLS LAST
                                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - COUNT(x) OVER (PARTITION BY conv_id, x))
              + COUNT(x) OVER (PARTITION BY conv_id, x) + 1 AS BIGINT) AS r2,
         CAST(COUNT(x) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              AS BIGINT) AS i
  FROM p
),
g AS (
  SELECT conv_id, COUNT(*) AS n,
         SUM(i) AS si, SUM(i * i) AS sii,
         SUM(r2) AS sr, SUM(r2 * r2) AS srr, SUM(i * r2) AS sir
  FROM w WHERE x IS NOT NULL GROUP BY conv_id
)
SELECT conv_id, CAST(n AS BIGINT) AS n,
       {r6(f"CASE WHEN n > 1 AND {_SP_DENI} > 0 AND {_SP_DENR} > 0 THEN {_SP_NUM} / (sqrt({_SP_DENI}) * sqrt({_SP_DENR})) END", "rho")}
FROM g
"""


# vocabulary-growth curve: first-occurrence flags over (conv, token) —
# matches sessionize.with_vocab_growth (pure exact integers)
ORACLES["q_vocab_growth"] = f"""
WITH t AS ({T}),
ex AS (
  SELECT conv_id, turn_idx, ts, UNNEST(list_distinct({TOKS_RAW})) AS tok
  FROM t
),
fl AS (
  SELECT conv_id, turn_idx, ts,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY conv_id, tok ORDER BY ts, turn_idx) = 1
              THEN 1 ELSE 0 END AS neu
  FROM ex
),
pt AS (
  SELECT conv_id, turn_idx, ts,
         COUNT(*) AS nd, SUM(neu) AS nn
  FROM fl GROUP BY conv_id, turn_idx, ts
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us,
       CAST(nd AS BIGINT) AS n_distinct,
       CAST(nn AS BIGINT) AS n_new,
       CAST(SUM(nn) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
FROM pt
"""


# composed per-conversation feature table: the component oracles (each
# hash-green standalone) joined on conv_id — matches
# profile.conversation_features + the q_conv_features gate projection.
# Re-rounding already-6dp values is the identity, so reusing the
# component oracles verbatim is exact.
ORACLES["q_conv_features"] = f"""
WITH st AS ({ORACLES["q_signal_trend"]}),
rt AS ({ORACLES["q_role_transitions"]}),
rr AS ({ORACLES["q_role_runs"]}),
ac AS ({ORACLES["q_autocorr"]}),
sp AS ({ORACLES["q_spearman_trend"]}),
tp AS ({ORACLES["q_temporal_profile"]}),
rl AS ({ORACLES["q_latency"]}),
ar AS ({{AR}}),
cp AS ({{CP}}),
sen AS ({{SEN}}),
pc AS ({{PC}})
SELECT st.conv_id, st.n, st.slope, st.intercept, st.r,
       rt.n_trans, rt.n_distinct_trans, rt.self_loop_ratio, rt.trans_entropy,
       rt.prev_entropy, rt.cond_entropy,
       rr.n_runs, rr.max_run, rr.mean_run,
       ac.ac_1, ac.ac_2, ac.ac_3,
       sp.rho,
       tp.peak_hour, tp.peak_frac, tp.hour_entropy, tp.night_frac, tp.weekend_frac,
       ar.span_s, ar.mean_gap_s, ar.cv_gap, ar.burstiness, ar.fano_hourly,
       cp.cp_turn, cp.mean_gap AS cp_gap, cp.g_stat AS cp_stat,
       sen.sen_slope, sen.sen_intercept,
       pc.n_pairs, pc.r AS pair_r,
       rl.n_resp AS n_responses, rl.min_us, rl.max_us,
       rl.mean_sec
FROM st
JOIN rt USING (conv_id)
JOIN rr USING (conv_id)
JOIN ac USING (conv_id)
JOIN sp USING (conv_id)
JOIN tp USING (conv_id)
JOIN ar USING (conv_id)
JOIN cp USING (conv_id)
JOIN sen USING (conv_id)
LEFT JOIN pc USING (conv_id)
LEFT JOIN rl USING (conv_id)
"""


# embedding data-quality screen: fixed-order norm fold — matches
# similarity.embedding_stats (DuckDB list folds evaluate in order; NaN
# check via isnan, Inf via abs() = 'infinity')
ORACLES["q_embed_stats"] = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
s AS (
  SELECT vec_id,
         CAST(length(ev) AS INT) AS dim,
         CAST(length(list_filter(ev, x -> x IS NULL OR isnan(x) OR abs(x) = 'infinity'::DOUBLE)) AS INT) AS n_nonfinite,
         sqrt(list_aggregate(list_transform(ev, x -> x * x), 'sum')) AS rawnorm,
         CAST(length(list_filter(ev, x -> x = 0.0)) AS INT) AS n_zero
  FROM v
),
t AS (
  SELECT vec_id, dim,
         CASE WHEN n_nonfinite = 0 THEN rawnorm END AS norm,
         n_zero, n_nonfinite
  FROM s
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, dim,
       {r6("norm", "norm")},
       n_zero, n_nonfinite,
       (n_nonfinite = 0 AND norm IS NOT NULL AND norm > 0 AND dim = 64) AS ok
FROM t
"""


# daily trending tokens: document-frequency top-k with the
# (count desc, token asc) tie-break — matches text.trending_tokens
ORACLES["q_trending_tokens"] = f"""
WITH t AS ({T}),
ex AS (
  SELECT CAST(ts AS DATE) AS day, UNNEST(list_distinct({TOKS_RAW})) AS token
  FROM t
),
c AS (
  SELECT day, token, COUNT(*) AS n_docs FROM ex GROUP BY day, token
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY day ORDER BY n_docs DESC, token ASC) AS rank
  FROM c
)
SELECT CAST(day AS VARCHAR) AS day, token,
       CAST(n_docs AS BIGINT) AS n_docs, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


# daily activity rollup: distinct (conv, day) grid + min-day firsts +
# day+1 self-join — matches profile.daily_activity
ORACLES["q_daily_activity"] = f"""
WITH t AS ({T}),
grid AS (SELECT DISTINCT conv_id, CAST(ts AS DATE) AS day FROM t),
firsts AS (SELECT conv_id, MIN(day) AS fday FROM grid GROUP BY conv_id),
nxt AS (SELECT conv_id, day - 1 AS day, 1 AS m FROM grid),
j AS (
  SELECT g.day, f.fday = g.day AS is_new, n.m
  FROM grid g
  JOIN firsts f USING (conv_id)
  LEFT JOIN nxt n ON n.conv_id = g.conv_id AND n.day = g.day
),
o AS (
  SELECT day,
         COUNT(*) AS n_active,
         COUNT(CASE WHEN is_new THEN 1 END) AS n_new,
         COUNT(m) AS n_retained
  FROM j GROUP BY day
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(n_active AS BIGINT) AS n_active,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(n_retained AS BIGINT) AS n_retained,
       {r6("CAST(n_retained AS DOUBLE) / CAST(n_active AS DOUBLE)", "retention")}
FROM o
"""


# per-language source concentration: one (lang, source) count, exact
# long sum-of-squares, one division per float — matches
# curation.source_concentration
ORACLES["q_source_concentration"] = f"""
WITH per AS (
  SELECT lang AS g, source AS s, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY lang, source
),
a AS (
  SELECT g,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_sources,
         CAST(SUM(c * c) AS BIGINT) AS ssq,
         CAST(MAX(c) AS BIGINT) AS cmax
  FROM per GROUP BY g
)
SELECT g AS lang, n_docs, n_sources,
       {r6("CAST(ssq AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))", "hhi")},
       {r6("(CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(ssq AS DOUBLE)", "eff_sources")},
       {r6("CAST(cmax AS DOUBLE) / CAST(n_docs AS DOUBLE)", "top_share")}
FROM a
"""


# per-conversation median/MAD robust z: both medians replayed with the
# NumPy lerp convention over sorted per-conversation lists (frac is 0 or
# 0.5, so med = a or a + 0.5*(b-a) — the same IEEE chain as the Spark
# at-rank windows) — matches sessionize.with_robust_scale
_MED_LIST = (
    "CASE WHEN (n - 1) % 2 = 0 THEN arr[(n - 1) // 2 + 1] "
    "ELSE arr[(n - 1) // 2 + 1] "
    "+ 0.5 * (arr[(n - 1) // 2 + 2] - arr[(n - 1) // 2 + 1]) END"
)

ORACLES["q_robust_scale"] = f"""
WITH t AS ({T}),
m1 AS (
  SELECT conv_id, list_sort(list(signal)) AS arr, COUNT(signal) AS n
  FROM t WHERE signal IS NOT NULL GROUP BY conv_id
),
med AS (SELECT conv_id, {_MED_LIST} AS med FROM m1),
d AS (
  SELECT t.conv_id, ABS(t.signal - med.med) AS dev
  FROM t JOIN med USING (conv_id) WHERE t.signal IS NOT NULL
),
m2 AS (
  SELECT conv_id, list_sort(list(dev)) AS arr, COUNT(dev) AS n
  FROM d GROUP BY conv_id
),
mad AS (SELECT conv_id, {_MED_LIST} AS mad FROM m2)
SELECT t.conv_id, CAST(t.turn_idx AS INT) AS turn_idx, epoch_us(t.ts) AS ts_us,
       t.signal,
       {r6("med.med", "med")},
       {r6("mad.mad", "mad")},
       {r6("CASE WHEN t.signal IS NOT NULL AND mad.mad > 0 "
           "THEN (t.signal - med.med) / (1.4826 * mad.mad) END", "robust_z")}
FROM t
LEFT JOIN med USING (conv_id)
LEFT JOIN mad USING (conv_id)
"""


# truncated EWMA: the same literal-weight fixed-order fold over 8 LAG
# reads — matches sessionize.with_ewm_smooth(alpha=0.5, lookback=8)
def _ewm_sql() -> str:
    terms_num, terms_den, terms_cnt = [], [], []
    for j in range(8):
        v = "signal" if j == 0 else f"LAG(signal, {j}) OVER w"
        wt = repr(0.5 ** j)
        terms_num.append(f"CASE WHEN {v} IS NOT NULL THEN {wt} * {v} ELSE 0.0 END")
        terms_den.append(f"CASE WHEN {v} IS NOT NULL THEN {wt} ELSE 0.0 END")
        terms_cnt.append(f"CASE WHEN {v} IS NOT NULL THEN 1 ELSE 0 END")
    num = " + ".join(["0.0"] + terms_num)
    den = " + ".join(["0.0"] + terms_den)
    cnt = " + ".join(["0"] + terms_cnt)
    return f"""
WITH t AS ({T}),
e AS (
  SELECT conv_id, turn_idx, ts, signal,
         {num} AS num, {den} AS den, {cnt} AS cnt
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us,
       signal,
       {r6("CASE WHEN den > 0 THEN num / den END", "ewm")},
       CAST(cnt AS BIGINT) AS ewm_n
FROM e
"""


ORACLES["q_ewm_smooth"] = _ewm_sql()


# per-language PMI collocations: bigram/unigram exact-long counts over
# the normalized token stream; pmi = log2((c_xy*M*M)/((c_x*c_y)*N)) in
# the engine's exact operation order — matches text.pmi_collocations
# (k=20, min_count=2). Bigram strings re-split losslessly (normalized
# tokens contain no spaces).
ORACLES["q_pmi"] = f"""
WITH base AS (
  SELECT lang AS g, {TOKS_DOC} AS tk FROM documents
),
uc AS (
  SELECT g, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT g, UNNEST(tk) AS tok FROM base
  ) GROUP BY g, tok
),
bc AS (
  SELECT g, bigram, CAST(COUNT(*) AS BIGINT) AS c_xy FROM (
    SELECT g, UNNEST(list_transform(generate_series(1, len(tk) - 1),
                     i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS bigram
    FROM base WHERE len(tk) >= 2
  ) GROUP BY g, bigram HAVING COUNT(*) >= 2
),
tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS m_uni FROM uc GROUP BY g),
nb AS (
  SELECT g, CAST(SUM(GREATEST(len(tk) - 1, 0)) AS BIGINT) AS n_bi
  FROM base GROUP BY g
),
s AS (
  SELECT bc.g, bc.bigram, bc.c_xy AS n,
         LOG2(((CAST(bc.c_xy AS DOUBLE) * CAST(tot.m_uni AS DOUBLE)) * CAST(tot.m_uni AS DOUBLE))
              / ((CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) * CAST(nb.n_bi AS DOUBLE))) AS pmi
  FROM bc
  JOIN uc u1 ON u1.g = bc.g AND u1.tok = string_split(bc.bigram, ' ')[1]
  JOIN uc u2 ON u2.g = bc.g AND u2.tok = string_split(bc.bigram, ' ')[2]
  JOIN tot ON tot.g = bc.g
  JOIN nb ON nb.g = bc.g
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY pmi DESC, bigram ASC) AS rank
  FROM s
)
SELECT g AS lang, bigram, n, {r6("pmi", "pmi")}, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 20
"""


# daily bigram novelty: distinct (day, gram) grid + per-gram first-seen
# day + exact counts — matches text.ngram_novelty(n=2)
ORACLES["q_ngram_novelty"] = f"""
WITH t AS ({T}),
dg AS (
  SELECT DISTINCT day, gram FROM (
    SELECT CAST(ts AS DATE) AS day,
           UNNEST(list_distinct(list_transform(
             generate_series(1, GREATEST(len(tk) - 1, 0)),
             i -> array_to_string(list_slice(tk, i, i + 1), ' ')))) AS gram
    FROM (SELECT ts, {TOKS_RAW} AS tk FROM t)
  )
),
first AS (SELECT gram, MIN(day) AS first_day FROM dg GROUP BY gram),
o AS (
  SELECT dg.day,
         COUNT(*) AS n_grams,
         COUNT(CASE WHEN dg.day = first.first_day THEN 1 END) AS n_new
  FROM dg JOIN first USING (gram) GROUP BY dg.day
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_new AS BIGINT) AS n_new,
       {r6("CAST(n_new AS DOUBLE) / CAST(n_grams AS DOUBLE)", "novelty")}
FROM o
"""


# arrival-process fingerprint: exact integer whole-second gap sums, the
# (n*Sxx - Sx^2)/n^2 variance form, and the hourly Fano fold
# (B*Sum(c^2) - n^2)/(B*n) — every intermediate an exact integer in
# double range, every float one IEEE op; parenthesization mirrors
# profile.arrival_stats
ORACLES["q_arrival_stats"] = f"""
WITH t AS ({T}),
g0 AS (
  SELECT conv_id, epoch_us(ts) AS ts_us,
         LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
  FROM t
),
g1 AS (
  SELECT conv_id, ts_us,
         CASE WHEN prev IS NOT NULL
              THEN ((ts_us - prev) - (ts_us - prev) % 1000000) // 1000000 END AS gap_s
  FROM g0
),
g AS (
  SELECT conv_id, COUNT(*) AS n, MIN(ts_us) AS f, MAX(ts_us) AS l,
         COUNT(gap_s) AS ng,
         COALESCE(SUM(gap_s), 0) AS sg,
         COALESCE(SUM(gap_s * gap_s), 0) AS sgg
  FROM g1 GROUP BY conv_id
),
ph AS (
  SELECT conv_id,
         (epoch_us(ts) - epoch_us(ts) % 3600000000) // 3600000000 AS hb,
         COUNT(*) AS c
  FROM t GROUP BY conv_id, (epoch_us(ts) - epoch_us(ts) % 3600000000) // 3600000000
),
h AS (
  SELECT conv_id, MIN(hb) AS hb0, MAX(hb) AS hb1,
         SUM(c * c) AS scc, SUM(c) AS nh
  FROM ph GROUP BY conv_id
),
s AS (
  SELECT g.conv_id, g.n, g.f, g.l, g.ng,
         CAST(g.sg AS DOUBLE) / NULLIF(CAST(g.ng AS DOUBLE), 0.0) AS mu,
         sqrt((CAST(g.ng AS DOUBLE) * CAST(g.sgg AS DOUBLE)
               - CAST(g.sg AS DOUBLE) * CAST(g.sg AS DOUBLE))
              / NULLIF(CAST(g.ng AS DOUBLE) * CAST(g.ng AS DOUBLE), 0.0)) AS sd,
         CAST((h.hb1 - h.hb0 + 1) * h.scc - h.nh * h.nh AS DOUBLE)
           / CAST((h.hb1 - h.hb0 + 1) * h.nh AS DOUBLE) AS fano
  FROM g JOIN h USING (conv_id)
)
SELECT conv_id,
       CAST(n AS BIGINT) AS n_turns,
       CAST(((l - f) - (l - f) % 1000000) // 1000000 AS BIGINT) AS span_s,
       {r6('CASE WHEN ng > 0 THEN mu END', 'mean_gap_s')},
       {r6('CASE WHEN ng > 0 AND mu > 0 THEN sd / mu END', 'cv_gap')},
       {r6('CASE WHEN ng > 0 AND (sd + mu) > 0 THEN (sd - mu) / (sd + mu) END', 'burstiness')},
       {r6('fano', 'fano_hourly')}
FROM s
"""


# count/frequency encoding: the category frame is the only place a rank
# window runs; ties rank by name so the assignment is engine-order free
ORACLES["q_count_encode"] = f"""
WITH c AS (SELECT source, COUNT(*) AS cat_count FROM documents GROUP BY source),
tot AS (SELECT SUM(cat_count) AS n FROM c),
e AS (
  SELECT source, cat_count,
         CAST(cat_count AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE) AS cat_freq,
         ln(1.0 + CAST(cat_count AS DOUBLE)) AS cat_logc,
         CAST(DENSE_RANK() OVER (ORDER BY cat_count DESC, source ASC) AS INT) AS cat_rank,
         cat_count < 20 AS is_rare
  FROM c
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       d.source,
       CAST(e.cat_count AS BIGINT) AS cat_count,
       {r6('e.cat_freq', 'cat_freq')},
       {r6('e.cat_logc', 'cat_logc')},
       e.cat_rank,
       e.is_rare
FROM documents d JOIN e USING (source)
"""


# asymmetric containment: the jaccard chain with per-direction
# denominators; the threshold predicate replays Spark's exact
# double-division compare
ORACLES["q_containment"] = f"""
WITH {_SHINGLES3},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       {r6('CAST(n_common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE)', 'contain_a')},
       {r6('CAST(n_common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE)', 'contain_b')},
       {r6('CAST(n_common AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE)', 'containment')}
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.8
"""


# survivor selection: the dup_clusters recursive closure, singletons
# self-clustered via LEFT JOIN, then the (n_toks DESC, doc_id ASC)
# rank-1 pick per cluster — deterministic pure-integer ordering
ORACLES["q_dup_survivors"] = f"""
WITH RECURSIVE pairs AS (
  {{PAIRS}}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach (id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
),
clus AS (
  SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
  FROM reach GROUP BY id
),
nt AS (SELECT doc_id, CAST(len({TOKS_DOC}) AS BIGINT) AS n_toks FROM documents),
assigned AS (
  SELECT nt.doc_id, COALESCE(c.cluster_id, nt.doc_id) AS cluster_id, nt.n_toks
  FROM nt LEFT JOIN clus c ON c.doc_id = nt.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id, n_toks,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_toks DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS nm
  FROM assigned
)
SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
       CAST(a.cluster_id AS BIGINT) AS cluster_id,
       a.n_toks,
       CAST(p.survivor AS BIGINT) AS survivor_doc_id,
       a.doc_id = p.survivor AS is_survivor,
       CAST(p.nm AS BIGINT) AS n_members
FROM assigned a
JOIN (SELECT cluster_id, doc_id AS survivor, nm FROM ranked WHERE rn = 1) p
  USING (cluster_id)
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


def _mmr_sql(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """Unrolled greedy MMR replay: step i picks argmax of
    (lam*rel - (1-lam)*max-sim-to-selected) over the remaining pool,
    ties on the smaller vec_id. Every cosine is the list_dot_product
    chain (the sequential-fold parity idiom); the first step scores
    with max-sim 0.0 exactly as the kernel does. (1-lam) is embedded as
    the IEEE repr so both engines multiply by the identical double."""

    def cos(a, b):
        return (
            f"(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
        )

    mu = 1.0 - lam
    ctes = [
        f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
q AS (SELECT vec_id AS query_id, ev AS qv FROM v WHERE vec_id < 5),
pool AS (
  SELECT query_id, vec_id, cos, ev FROM (
    SELECT q.query_id, v.vec_id, {cos('v.ev', 'q.qv')} AS cos, v.ev,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {cos('v.ev', 'q.qv')} DESC, v.vec_id ASC) AS rn
    FROM v CROSS JOIN q)
  WHERE rn <= {pool}
),
out1 AS (
  SELECT query_id, vec_id, cos, ev, 0.0 AS ms FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY ({lam!r} * cos) - ({mu!r} * 0.0) DESC,
                                          vec_id ASC) AS rn
    FROM pool)
  WHERE rn = 1
)"""
    ]
    for i in range(2, k + 1):
        prev_ids = " UNION ALL ".join(
            f"SELECT query_id, vec_id FROM out{j}" for j in range(1, i)
        )
        prev_vecs = " UNION ALL ".join(
            f"SELECT query_id, ev FROM out{j}" for j in range(1, i)
        )
        ctes.append(
            f"""rem{i} AS (
  SELECT p.query_id, p.vec_id, p.cos, p.ev FROM pool p
  LEFT JOIN ({prev_ids}) s
    ON s.query_id = p.query_id AND s.vec_id = p.vec_id
  WHERE s.vec_id IS NULL
),
ms{i} AS (
  SELECT r.query_id, r.vec_id, r.cos, MAX({cos('r.ev', 's.ev')}) AS ms
  FROM rem{i} r JOIN ({prev_vecs}) s ON s.query_id = r.query_id
  GROUP BY r.query_id, r.vec_id, r.cos
),
out{i} AS (
  SELECT m.query_id, m.vec_id, m.cos, p.ev, m.ms FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY ({lam!r} * cos) - ({mu!r} * ms) DESC,
                                          vec_id ASC) AS rn
    FROM ms{i}) m
  JOIN pool p ON p.query_id = m.query_id AND p.vec_id = m.vec_id
  WHERE m.rn = 1
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT query_id, vec_id, {i} AS mmr_rank, cos, "
        f"({lam!r} * cos) - ({mu!r} * ms) AS score FROM out{i}"
        for i in range(1, k + 1)
    )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(vec_id AS BIGINT) AS vec_id,
       CAST(mmr_rank AS INT) AS mmr_rank,
       {r6('cos', 'rel')},
       {r6('score', 'score')}
FROM ({finals})
"""


ORACLES["q_mmr"] = _mmr_sql(k=5, pool=20, lam=0.7)


# lexical diversity: integer (N, V, sum f^2, hapax) + two ordered float
# folds over the token-sorted per-doc frequency list — list_reduce
# mirrors F.aggregate's strict left fold; the per-row n comes from an
# (order-free) integer window sum
ORACLES["q_lexical_diversity"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_RAW}) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
),
tfn AS (
  SELECT doc_id, tok, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tf
),
per AS (
  SELECT doc_id,
         CAST(MAX(n) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c * c) AS BIGINT) AS sff,
         CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS hapax,
         list_reduce(
           [0.0] || list((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                          * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                         ORDER BY tok),
           (a, x) -> a + x) AS ent_acc,
         list_reduce(
           [0.0] || list((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                         ORDER BY tok),
           (a, x) -> a + x) AS simpson_raw
  FROM tfn GROUP BY doc_id
),
lens AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS nch,
         CAST(strlen(text) AS BIGINT) AS nby
  FROM documents
)
SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
       p.n_tokens, p.n_types,
       {r6('CAST(p.n_types AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)', 'ttr')},
       {r6('CAST(p.hapax AS DOUBLE) / CAST(p.n_types AS DOUBLE)', 'hapax_ratio')},
       {r6('-p.ent_acc', 'entropy_bits')},
       {r6('p.simpson_raw', 'simpson')},
       {r6('10000.0 * CAST(p.sff - p.n_tokens AS DOUBLE) / (CAST(p.n_tokens AS DOUBLE) * CAST(p.n_tokens AS DOUBLE))', 'yule_k')},
       {r6('CAST(l.nch AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)', 'chars_per_token')},
       {r6('CAST(l.nby AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)', 'bytes_per_token')}
FROM per p JOIN lens l USING (doc_id)
"""


def _ndcg_sql(k: int = 5) -> str:
    """nDCG@k replay: the discount weights are the SAME Python-computed
    literals the Spark plan embeds — fixed-order add chains, no SQL
    transcendental anywhere."""
    import math

    w = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]

    def _fold(terms):
        acc = terms[0]
        for t in terms[1:]:
            acc = f"({acc} + {t})"
        return acc

    dcg_cols = ",\n       ".join(
        f"MAX(CASE WHEN rr = {i + 1} AND hit = 1 THEN {w[i]!r} END) AS d{i}"
        for i in range(k)
    )
    dcg = _fold([f"COALESCE(d{i}, 0.0)" for i in range(k)])
    idcg = _fold(
        [f"(CASE WHEN n_truth >= {i + 1} THEN {w[i]!r} ELSE 0.0 END)" for i in range(k)]
    )
    return f"""
WITH res AS ({{ivf}}),
tru AS ({{cos}}),
nt AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth FROM tru WHERE rank <= {k} GROUP BY query_id),
j AS (
  SELECT r.query_id, r.rank AS rr,
         CASE WHEN t.vec_id IS NOT NULL THEN 1 END AS hit
  FROM res r LEFT JOIN (SELECT query_id, vec_id FROM tru WHERE rank <= {k}) t
    ON t.query_id = r.query_id AND t.vec_id = r.vec_id
  WHERE r.rank <= {k}
),
g AS (
  SELECT query_id,
       {dcg_cols}
  FROM j GROUP BY query_id
),
s AS (
  SELECT g.query_id, nt.n_truth, {dcg} AS dcg_raw, {idcg} AS idcg_raw
  FROM g JOIN nt USING (query_id)
)
SELECT CAST(query_id AS BIGINT) AS query_id, n_truth,
       {r6('dcg_raw', 'dcg')},
       {r6('idcg_raw', 'idcg')},
       {r6('dcg_raw / idcg_raw', 'ndcg')}
FROM s
""".format(ivf=ORACLES["q_ivf_topk"], cos=ORACLES["q_cosine_topk"])


ORACLES["q_ndcg"] = _ndcg_sql(5)


# per-group quantiles + winsorization: the compacted-histogram value
# cutoff (cum >= n * p with literal probabilities) — the hist_asof /
# ppl_buckets convention
_QCUT = """h AS (
  SELECT role, CAST(signal AS DOUBLE) AS val, COUNT(*) AS c
  FROM t WHERE signal IS NOT NULL GROUP BY role, CAST(signal AS DOUBLE)
),
cum AS (
  SELECT role, val,
         SUM(c) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY role) AS n
  FROM h
)"""

ORACLES["q_quantiles"] = f"""
WITH t AS ({T}),
{_QCUT}
SELECT role, CAST(MAX(n) AS BIGINT) AS n,
       {r6("MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n AS DOUBLE) * 0.1 THEN val END)", "q_1")},
       {r6("MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n AS DOUBLE) * 0.25 THEN val END)", "q_25")},
       {r6("MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n AS DOUBLE) * 0.5 THEN val END)", "q_5")},
       {r6("MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n AS DOUBLE) * 0.75 THEN val END)", "q_75")},
       {r6("MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n AS DOUBLE) * 0.9 THEN val END)", "q_9")}
FROM cum GROUP BY role
"""

ORACLES["q_winsorize"] = f"""
WITH t AS ({T}),
{_QCUT},
cuts AS (
  SELECT role,
         MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n AS DOUBLE) * 0.05 THEN val END) AS lo,
         MIN(CASE WHEN CAST(cum AS DOUBLE) >= CAST(n AS DOUBLE) * 0.95 THEN val END) AS hi
  FROM cum GROUP BY role
)
SELECT t.conv_id, CAST(t.turn_idx AS INT) AS turn_idx, epoch_us(t.ts) AS ts_us,
       t.role,
       {r6('CAST(t.signal AS DOUBLE)', 'signal')},
       {r6('c.lo', 'lo')},
       {r6('c.hi', 'hi')},
       {r6('LEAST(GREATEST(CAST(t.signal AS DOUBLE), c.lo), c.hi)', 'signal_w')}
FROM t JOIN cuts c USING (role)
"""


# streaming Page-Hinkley: batch replay of the distinct-ts semantics —
# exact integer cumulative (n, s) via windows (order-free), the float
# deviation prefix folded EXPLICITLY in ts order with the zero seed
# prepended (matching the kernel's seed-prepended cumsum)
ORACLES["q_stream_page_hinkley"] = f"""
WITH t AS ({T}),
g AS (
  SELECT conv_id, ts, COUNT(*) AS c, SUM(CAST(signal AS BIGINT)) AS sx
  FROM t GROUP BY conv_id, ts
),
w AS (
  SELECT conv_id, ts, epoch_us(ts) AS ts_us, c, sx,
         SUM(c) OVER win AS cn, SUM(sx) OVER win AS cs
  FROM g
  WINDOW win AS (PARTITION BY conv_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
b AS (
  SELECT conv_id, ts_us, c,
         (CAST(sx AS DOUBLE)
          - CAST(c AS DOUBLE) * (CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE)))
         - CAST(c AS DOUBLE) * 0.25 AS dev
  FROM w
),
l AS (
  SELECT conv_id,
         list(dev ORDER BY ts_us) AS devs,
         list(ts_us ORDER BY ts_us) AS tss,
         list(c ORDER BY ts_us) AS cc
  FROM b GROUP BY conv_id
),
u AS (
  SELECT conv_id, devs, generate_subscripts(devs, 1) AS i,
         unnest(tss) AS ts_us, unnest(cc) AS c
  FROM l
),
p AS (
  SELECT conv_id, i, ts_us, c,
         list_reduce([0.0] || devs[1:i], (a, x) -> a + x) AS pv
  FROM u
),
s AS (
  SELECT conv_id, ts_us, c,
         pv - MIN(pv) OVER (PARTITION BY conv_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
  FROM p
)
SELECT conv_id, ts_us, CAST(c AS BIGINT) AS n_at_ts,
       {r6('ph', 'ph')},
       ph > 12.0 AS ph_alarm
FROM s
"""


# hashing-trick feature cross: the hash_sample md5 convention —
# first-8-hex integer modulo bucket count, NULLs folded to '<null>'
ORACLES["q_feature_cross"] = f"""
WITH t AS ({T})
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us,
       role, tool,
       CAST(CAST(('0x' || substring(md5('x1' || '|' ||
              concat_ws('|', coalesce(role, '<null>'), coalesce(tool, '<null>'))),
            1, 8)) AS BIGINT) % 256 AS INT) AS cross_bucket
FROM t
"""


# calibration / ECE: the quality-classifier chain (raw prob), Spark-parity
# 6dp rounding for the bin key, per-bin confidence folded over the sorted
# compacted histogram, ECE folded in bin order — all ordered-fold idioms
ORACLES["q_calibration"] = f"""
WITH s AS (
  SELECT doc_id,
         len({TOKS_RAW}) AS n,
         list_reduce([CAST(0.0 AS DOUBLE)] || list_transform({TOKS_RAW},
             t -> ({_classifier_w_sql()})[CAST(('0x' || substring(md5(t), 1, 4))::BIGINT % 64 AS INT) + 1]),
             (acc, x) -> acc + x) AS wsum
  FROM documents
),
sc AS (SELECT doc_id, n, wsum / CAST(n AS DOUBLE) + 0 AS score FROM s),
pr AS (SELECT doc_id, 1.0 / (1.0 + exp(-score)) AS prob FROM sc),
lab AS (
  SELECT {r6x('pr.prob')} AS p6, (d.lang = 'en') AS y
  FROM pr JOIN documents d USING (doc_id)
),
binned AS (
  SELECT LEAST(CAST(FLOOR(p6 * 10.0) AS INT), 9) AS bin, p6,
         COUNT(*) AS c, COUNT(CASE WHEN y THEN 1 END) AS pos
  FROM lab GROUP BY LEAST(CAST(FLOOR(p6 * 10.0) AS INT), 9), p6
),
per AS (
  SELECT bin, SUM(c) AS n, SUM(pos) AS n_pos,
         list_reduce([0.0] || list(CAST(c AS DOUBLE) * p6 ORDER BY p6),
                     (a, x) -> a + x) AS conf_sum
  FROM binned GROUP BY bin
),
g AS (
  SELECT bin, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
         CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
         conf_sum / CAST(n AS DOUBLE) AS conf,
         ABS(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
             - conf_sum / CAST(n AS DOUBLE)) AS gap
  FROM per
),
e AS (
  SELECT list_reduce(
           [0.0] || list((CAST(n AS DOUBLE) / CAST(Nt AS DOUBLE)) * gap
                         ORDER BY bin),
           (a, x) -> a + x) AS ece
  FROM (SELECT bin, n, gap, SUM(n) OVER () AS Nt FROM g)
)
SELECT g.bin, g.n, g.n_pos,
       {r6('g.acc', 'acc')},
       {r6('g.conf', 'conf')},
       {r6('g.gap', 'gap')},
       {r6('e.ece', 'ece')}
FROM g, e
"""


# prompt->response signal coupling: exact integer pair statistics, the
# integer-numerator Pearson closed form — parenthesization mirrors
# profile.pair_signal_correlation
ORACLES["q_pair_corr"] = f"""
WITH t AS ({T}),
p0 AS (
  SELECT conv_id, role, CAST(signal AS BIGINT) AS y,
         LAG(role) OVER w AS pr,
         LAG(CAST(signal AS BIGINT)) OVER w AS x
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
pairs AS (
  SELECT conv_id, x, y FROM p0
  WHERE role = 'assistant' AND pr = 'user' AND x IS NOT NULL AND y IS NOT NULL
),
g AS (
  SELECT conv_id, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pairs GROUP BY conv_id
),
s AS (
  SELECT conv_id, n,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
  FROM g
)
SELECT conv_id, CAST(n AS BIGINT) AS n_pairs,
       {r6('mx', 'mean_prompt')},
       {r6('my', 'mean_response')},
       {r6('CASE WHEN n > 1 AND vx > 0 AND vy > 0 THEN num / sqrt(vx * vy) END', 'r')}
FROM s
"""


# Theil-Sen: the same nested pairwise-slope list build, sort, and
# median picks (1-based list indexing mirrors Spark's 0-based F.get)
_TS_MED = (
    "CASE WHEN len({a}) % 2 = 1 THEN ({a})[len({a}) // 2 + 1] "
    "ELSE ((({a})[len({a}) // 2]) + (({a})[len({a}) // 2 + 1])) / 2.0 END"
)

ORACLES["q_theil_sen"] = f"""
WITH t AS ({T}),
l AS (
  SELECT conv_id,
         list(CAST(signal AS DOUBLE) ORDER BY ts, turn_idx) AS ys,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM t GROUP BY conv_id
),
sl AS (
  SELECT conv_id, n, ys,
         CASE WHEN n >= 2 THEN list_sort(flatten(
           list_transform(generate_series(1, CAST(n AS INT) - 1), i ->
             list_transform(generate_series(i + 1, CAST(n AS INT)), j ->
               (ys[j] - ys[i]) / CAST(j - i AS DOUBLE))))) END AS s
  FROM l
),
sp AS (
  SELECT conv_id, n, ys,
         CASE WHEN n >= 2 THEN {_TS_MED.format(a='s')} END AS slope
  FROM sl
),
ic AS (
  SELECT conv_id, n, slope,
         CASE WHEN n >= 2 THEN {_TS_MED.format(a="list_sort(list_transform(generate_series(1, CAST(n AS INT)), i -> ys[i] - slope * CAST(i - 1 AS DOUBLE)))")} END AS icept
  FROM sp
)
SELECT conv_id, n AS n_turns,
       {r6('slope', 'sen_slope')},
       {r6('icept', 'sen_intercept')}
FROM ic
"""


# retry flags: gaps-and-islands head detection on (conv, content-hash)
# with exact integer microsecond gaps
ORACLES["q_flag_retries"] = f"""
WITH t AS ({T}),
g AS (
  SELECT conv_id, turn_idx, ts, text,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY conv_id, md5({NORM_DOC})
           ORDER BY ts, turn_idx) AS gap
  FROM t
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us, text,
       COALESCE(gap <= 300000000, FALSE) AS is_retry
FROM g
"""


# TextTiling boundaries: k-row window list frames, distinct-set Jaccard
# (integer sizes, order-free), one division
ORACLES["q_topic_boundaries"] = f"""
WITH t AS ({T}),
b AS (
  SELECT conv_id, turn_idx, ts,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS tk
  FROM t
),
w AS (
  SELECT conv_id, turn_idx, ts,
         list_distinct(flatten(list(tk) OVER lf)) AS l,
         list_distinct(flatten(list(tk) OVER rf)) AS r,
         COUNT(*) OVER lf AS nl,
         COUNT(*) OVER rf AS nr
  FROM b
  WINDOW lf AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         rf AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
),
s AS (
  SELECT conv_id, turn_idx, ts, nl, nr,
         len(list_filter(l, x -> list_contains(r, x))) AS inter,
         len(list_distinct(l || r)) AS un
  FROM w
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us,
       {r6("CASE WHEN nl = 3 AND nr = 3 AND un > 0 THEN CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) END", "cohesion")},
       COALESCE(CASE WHEN nl = 3 AND nr = 3 AND un > 0
                     THEN CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) END < 0.15,
                FALSE) AS is_boundary
FROM s
"""


# changepoint: exact-integer argmax of |n*S_t - t*S_n| with earliest-t
# tie-break, means/gap computed only at the winning split
ORACLES["q_changepoint"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, epoch_us(ts) AS ts_us,
         SUM(CAST(signal AS BIGINT)) OVER w AS st,
         COUNT(*) OVER w AS tt,
         SUM(CAST(signal AS BIGINT)) OVER (PARTITION BY conv_id) AS sn,
         COUNT(*) OVER (PARTITION BY conv_id) AS n
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cand AS (
  SELECT conv_id, ts_us, st, tt, sn, n,
         ABS(n * st - tt * sn) AS g,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY ABS(n * st - tt * sn) DESC, tt ASC) AS rn
  FROM p WHERE tt < n
),
sizes AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns FROM t GROUP BY conv_id),
best AS (SELECT * FROM cand WHERE rn = 1)
SELECT s.conv_id, s.n_turns,
       CAST(b.tt - 1 AS BIGINT) AS cp_turn,
       CAST(b.ts_us AS BIGINT) AS cp_ts_us,
       {r6('CAST(b.st AS DOUBLE) / CAST(b.tt AS DOUBLE)', 'mean_left')},
       {r6('CAST(b.sn - b.st AS DOUBLE) / (CAST(b.n AS DOUBLE) - CAST(b.tt AS DOUBLE))', 'mean_right')},
       {r6('CAST(b.sn - b.st AS DOUBLE) / (CAST(b.n AS DOUBLE) - CAST(b.tt AS DOUBLE)) - CAST(b.st AS DOUBLE) / CAST(b.tt AS DOUBLE)', 'mean_gap')},
       {r6('CAST(b.g AS DOUBLE) / (CAST(b.n AS DOUBLE) * CAST(b.n AS DOUBLE))', 'g_stat')}
FROM sizes s LEFT JOIN best b USING (conv_id)
"""


# rolling median/MAD: bounded k-row frame list, sorted element picks —
# the SAME element-pick macro as _TS_MED (one engine-wide convention,
# mirrored by operators/exprs.sorted_median)
_RM_MED = _TS_MED

ORACLES["q_rolling_median"] = f"""
WITH t AS ({T}),
w AS (
  SELECT conv_id, turn_idx, ts,
         list_sort(list(CAST(signal AS DOUBLE)) OVER fr) AS fr
  FROM t
  WINDOW fr AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
),
m AS (
  SELECT conv_id, turn_idx, ts, fr,
         {_RM_MED.format(a='fr')} AS med
  FROM w
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us,
       CAST(len(fr) AS BIGINT) AS n_in_frame,
       {r6('med', 'roll_median')},
       {r6(_RM_MED.format(a='list_sort(list_transform(fr, v -> ABS(v - med)))'), 'roll_mad')}
FROM m
"""


# bucketed co-located join: the VALUE contract is layout-independent —
# a plain join replay (the zero-Exchange plan shape is pytest-pinned)
ORACLES["q_bucketed_join"] = f"""
WITH t AS ({T}),
f AS (
  SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, epoch_us(ts) AS ts_us,
         CAST(signal AS DOUBLE) AS signal
  FROM t
),
d AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(SUM(CAST(signal AS BIGINT)) AS BIGINT) AS sum_signal
  FROM f GROUP BY conv_id
)
SELECT f.conv_id, f.turn_idx, f.ts_us,
       {r6('f.signal', 'signal')},
       d.n_turns, d.sum_signal
FROM f JOIN d USING (conv_id)
"""


# the composed conversation_features oracle references four component
# oracles defined later in this module — substitute them now that every
# ORACLES entry exists
ORACLES["q_conv_features"] = (
    ORACLES["q_conv_features"]
    .replace("{AR}", ORACLES["q_arrival_stats"].strip())
    .replace("{CP}", ORACLES["q_changepoint"].strip())
    .replace("{SEN}", ORACLES["q_theil_sen"].strip())
    .replace("{PC}", ORACLES["q_pair_corr"].strip())
)


# Zipf fit: the top_tokens rank table bounded at k=100, four OLS sums
# as rank-ordered list folds, slope/intercept with the identical
# parenthesization text.zipf_fit builds
ORACLES["q_zipf"] = f"""
WITH toks AS (
  SELECT lang, unnest({TOKS_DOC}) AS token FROM documents
),
counts AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n
  FROM toks GROUP BY lang, token
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
  FROM counts
),
top AS (SELECT lang, rank, n FROM r WHERE rank <= 100),
per AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS k_used,
         list_reduce([0.0] || list(ln(CAST(rank AS DOUBLE)) ORDER BY rank),
                     (a, x) -> a + x) AS sx,
         list_reduce([0.0] || list(ln(CAST(n AS DOUBLE)) ORDER BY rank),
                     (a, x) -> a + x) AS sy,
         list_reduce([0.0] || list(ln(CAST(rank AS DOUBLE)) * ln(CAST(n AS DOUBLE)) ORDER BY rank),
                     (a, x) -> a + x) AS sxy,
         list_reduce([0.0] || list(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)) ORDER BY rank),
                     (a, x) -> a + x) AS sxx
  FROM top GROUP BY lang
),
s AS (
  SELECT lang, k_used,
         CAST(k_used AS DOUBLE) * sxx - sx * sx AS den,
         (CAST(k_used AS DOUBLE) * sxy - sx * sy)
           / (CAST(k_used AS DOUBLE) * sxx - sx * sx) AS slope,
         sx, sy
  FROM per
)
SELECT lang, k_used,
       {r6('CASE WHEN k_used > 1 AND den <> 0 THEN slope END', 'zipf_slope')},
       {r6('CASE WHEN k_used > 1 AND den <> 0 THEN (sy - slope * sx) / CAST(k_used AS DOUBLE) END', 'zipf_intercept')}
FROM s
"""


# markup density: shared RE2-safe patterns, counts + one division
_URL_CNT = "len(regexp_extract_all(text, 'https?://[^\\s]+'))"
_EMAIL_CNT = (
    "len(regexp_extract_all(text,"
    " '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'))"
)
_HTML_CNT = "len(regexp_extract_all(text, '<[A-Za-z][^>]*>'))"
_SAFE_LEN = "CAST(GREATEST(length(text), 1) AS DOUBLE)"

ORACLES["q_markup_density"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST({_URL_CNT} AS BIGINT) AS n_urls,
       CAST({_EMAIL_CNT} AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '```')) AS BIGINT) AS n_fences,
       CAST({_HTML_CNT} AS BIGINT) AS n_html,
       {r6(f"CAST({_URL_CNT} AS DOUBLE) / {_SAFE_LEN}", "url_density")},
       {r6(f"CAST({_HTML_CNT} AS DOUBLE) / {_SAFE_LEN}", "html_density")}
FROM documents
"""


# loss-mask spans: integer offset arithmetic replayed with window sums;
# the render is the q_chat_template string_agg form
ORACLES["q_loss_spans"] = f"""
WITH t AS ({T}),
seg AS (
  SELECT conv_id, ts, turn_idx,
         COALESCE(role, '') AS role, COALESCE(text, '') AS text,
         12 + length(COALESCE(role, '')) + 1
            + length(COALESCE(text, '')) + 10 AS L
  FROM t
),
o AS (
  SELECT conv_id, ts, turn_idx, role, text, L,
         COALESCE(SUM(L + 1) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM seg
),
sp AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(COUNT(CASE WHEN role = 'assistant' THEN 1 END) AS BIGINT) AS n_mask_spans,
         CAST(COALESCE(SUM(CASE WHEN role = 'assistant' THEN length(text) END), 0) AS BIGINT) AS mask_chars,
         COALESCE(string_agg(CASE WHEN role = 'assistant' THEN
             CAST(off + 12 + length(role) + 1 AS VARCHAR) || '-' ||
             CAST(off + 12 + length(role) + 1 + length(text) AS VARCHAR) END,
             ',' ORDER BY ts, turn_idx), '') AS spans,
         string_agg('<|im_start|>' || role || chr(10) || text || '<|im_end|>',
                    chr(10) ORDER BY ts, turn_idx) AS rendered
  FROM o GROUP BY conv_id
)
SELECT conv_id, n_turns,
       CAST(length(rendered) AS BIGINT) AS n_chars,
       n_mask_spans, mask_chars, spans, rendered
FROM sp
"""


# snapshot diff: full-outer id join + normalized-md5 content compare
# over the same deterministic synthetic snapshots the gate builds
ORACLES["q_snapshot_diff"] = f"""
WITH o AS (
  SELECT doc_id, md5({NORM_DOC}) AS old_hash
  FROM documents WHERE doc_id % 11 <> 0
),
n0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
),
n AS (SELECT doc_id, md5({NORM_DOC}) AS new_hash FROM n0)
SELECT CAST(COALESCE(o.doc_id, n.doc_id) AS BIGINT) AS doc_id,
       CASE WHEN o.old_hash IS NULL THEN 'added'
            WHEN n.new_hash IS NULL THEN 'removed'
            WHEN o.old_hash = n.new_hash THEN 'unchanged'
            ELSE 'changed' END AS status,
       o.old_hash, n.new_hash
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


# incremental dedup: the q_minhash_pairs machinery over the UNION of
# corpus (side 0) and the synthetic delta (side 1, ids + 1e6, text with
# the appended marker); buckets must hold both sides; pairs cross-side
ORACLES["q_incremental_dedup"] = f"""
WITH src AS (
  SELECT doc_id, text, 0 AS side FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' tail marker' AS text, 1 AS side
  FROM documents WHERE doc_id % 10 = 0
),
toks AS (SELECT doc_id, side, {TOKS_DOC} AS tk FROM src),
sh AS (
  SELECT doc_id, side,
         UNNEST(list_transform(generate_series(1, len(tk) - 2),
                               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingle
  FROM toks WHERE len(tk) >= 3
),
mh AS (
  SELECT doc_id, side, ab.p AS perm,
         MIN((ab.a * hh.h + ab.b) % 2147483647) AS minhash
  FROM (SELECT doc_id, side,
               CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h
        FROM sh) hh
  JOIN {_MH_AB} ON TRUE
  GROUP BY doc_id, side, ab.p
),
banded AS (
  SELECT doc_id, side, CAST(FLOOR(perm / 4) AS INT) AS band,
         MAX(CASE WHEN perm % 4 = 0 THEN minhash END) || ',' ||
         MAX(CASE WHEN perm % 4 = 1 THEN minhash END) || ',' ||
         MAX(CASE WHEN perm % 4 = 2 THEN minhash END) || ',' ||
         MAX(CASE WHEN perm % 4 = 3 THEN minhash END) AS band_key
  FROM mh GROUP BY doc_id, side, CAST(FLOOR(perm / 4) AS INT)
),
sizes AS (
  SELECT band, band_key, COUNT(*) AS c, SUM(side) AS nn
  FROM banded GROUP BY band, band_key
),
small AS (
  SELECT banded.* FROM banded JOIN sizes USING (band, band_key)
  WHERE sizes.c <= 64 AND sizes.nn >= 1 AND sizes.c > sizes.nn
)
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS new_id,
                CAST(b.doc_id AS BIGINT) AS corpus_id
FROM small a JOIN small b USING (band, band_key)
WHERE a.side = 1 AND b.side = 0
"""


# langid eval: the q_lang_id predictor joined to the labeled lang,
# |langs|^2 cells, exact integer ratios
ORACLES["q_langid_eval"] = f"""
WITH p AS ({ORACLES["q_lang_id"]}),
j AS (
  SELECT d.lang, p.lang_pred FROM documents d JOIN p USING (doc_id)
),
cells AS (
  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM j GROUP BY lang, lang_pred
)
SELECT lang, lang_pred, n,
       {r6('CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE)', 'row_frac')},
       {r6("CAST(SUM(CASE WHEN lang = lang_pred THEN n END) OVER () AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)", 'accuracy')}
FROM cells
"""


# stream-stream range join: batch replay — the same signal split and
# two-sided range predicate as streaming_range_join (events-derived
# stream frame, NOT the transcripts derivation: no turn_idx exists on
# the stream)
ORACLES["q_stream_range_join"] = f"""
WITH s AS (
  SELECT 'c' || CAST(user_id AS STRING) AS conv_id,
         ts,
         CAST(1 + ABS(CAST(FLOOR(value) AS INT)) % 9 AS DOUBLE) AS signal
  FROM events
),
lo AS (SELECT conv_id, ts, signal FROM s WHERE signal < 8.0),
hi AS (SELECT conv_id AS s_conv_id, ts AS state_ts, signal AS state_val
       FROM s WHERE signal >= 8.0)
SELECT lo.conv_id,
       epoch_us(lo.ts) AS ts_us,
       {r6('lo.signal', 'signal')},
       epoch_us(hi.state_ts) AS state_ts_us,
       {r6('hi.state_val', 'state_val')}
FROM lo JOIN hi
  ON hi.s_conv_id = lo.conv_id
 AND hi.state_ts <= lo.ts
 AND hi.state_ts >= lo.ts - INTERVAL 3600 SECONDS
"""


# loop detection: NON-distinct shingles (occurrence counts), per-doc
# argmax by (count desc, gram asc); short docs emit the zero row
ORACLES["q_loop_detection"] = f"""
WITH toks AS (SELECT doc_id, {TOKS_DOC} AS tk FROM documents),
sh AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(tk) - 2),
                               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingle
  FROM toks WHERE len(tk) >= 3
),
counts AS (
  SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS c
  FROM sh GROUP BY doc_id, shingle
),
tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams FROM counts GROUP BY doc_id),
best AS (
  SELECT doc_id, shingle, c FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY c DESC, shingle ASC) AS rn
    FROM counts) WHERE rn = 1
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       COALESCE(t.n_grams, 0) AS n_grams,
       COALESCE(b.c, 0) AS max_repeat,
       b.shingle AS top_gram,
       {r6('CAST(b.c AS DOUBLE) / CAST(t.n_grams AS DOUBLE)', 'loop_frac')}
FROM documents d
LEFT JOIN tot t ON t.doc_id = d.doc_id
LEFT JOIN best b ON b.doc_id = d.doc_id
"""


# daily volume anomaly: sorted-pick median/MAD over the per-group day
# counts (the _TS_MED element-pick form), modified z with the 0.6745
# literal, mirrored parenthesization
ORACLES["q_volume_anomaly"] = f"""
WITH t AS ({T}),
counts AS (
  SELECT role, strftime(ts, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM t GROUP BY role, strftime(ts, '%Y-%m-%d')
),
l AS (
  SELECT role, list_sort(list(CAST(n AS DOUBLE))) AS ns FROM counts GROUP BY role
),
m AS (
  SELECT role, ns, {_TS_MED.format(a='ns')} AS med FROM l
),
mm AS (
  SELECT role, med,
         {_TS_MED.format(a='list_sort(list_transform(ns, v -> ABS(v - med)))')} AS mad
  FROM m
)
SELECT c.role, c.day, c.n,
       {r6('p.med', 'med')},
       {r6('p.mad', 'mad')},
       {r6('CASE WHEN p.mad > 0 THEN 0.6745 * (CAST(c.n AS DOUBLE) - p.med) / p.mad END', 'mz')},
       COALESCE(CASE WHEN p.mad > 0
                     THEN ABS(0.6745 * (CAST(c.n AS DOUBLE) - p.med) / p.mad) > 3.5 END,
                FALSE) AS is_anomaly
FROM counts c JOIN mm p USING (role)
"""


# TF-IDF hashed embedding: exact tf/df, token-ordered per-bucket weight
# folds, fixed-chain norm — mirrors text.tfidf_hashed_embedding
def _tfidf_embed_sql(dims: int = 16) -> str:
    vcols = ",\n         ".join(
        f"COALESCE(MAX(CASE WHEN b = {d} THEN v END), 0.0) AS v{d}"
        for d in range(dims)
    )
    norm_terms = " + ".join(f"(v{d} * v{d})" for d in range(dims))
    # left-nested chain to match the Spark fold order exactly
    acc = f"(v0 * v0)"
    for d in range(1, dims):
        acc = f"({acc} + (v{d} * v{d}))"
    ecols = ",\n       ".join(
        f"CASE WHEN nrm > 0 THEN v{d} / nrm ELSE 0.0 END AS raw_e{d:02d}"
        for d in range(dims)
    )
    final = ",\n       ".join(
        r6(f"raw_e{d:02d}", f"e{d:02d}") for d in range(dims)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_RAW}) AS token FROM documents
),
tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, token),
dfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS dfq FROM tf GROUP BY token),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         CAST(('0x' || substring(md5(tf.token), 1, 4)) AS BIGINT) % {dims} AS b,
         CAST(tf.tf AS DOUBLE)
           * (ln(CAST(nd.N + 1 AS DOUBLE) / CAST(dfc.dfq + 1 AS DOUBLE)) + 1.0) AS w
  FROM tf JOIN dfc USING (token), nd
),
pb AS (
  SELECT doc_id, b,
         list_reduce([0.0] || list(w ORDER BY token), (a, x) -> a + x) AS v
  FROM scored GROUP BY doc_id, b
),
wide AS (
  SELECT doc_id,
         {vcols}
  FROM pb GROUP BY doc_id
),
nrm AS (SELECT *, sqrt({acc}) AS nrm FROM wide),
raw AS (
  SELECT doc_id,
       {ecols}
  FROM nrm
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {final}
FROM raw
"""


ORACLES["q_tfidf_embed"] = _tfidf_embed_sql(16)


# k-fold OOF target encoding: conversation-grouped md5 fold, exact
# (key, fold) integer sums, same float chains as the LOO encoder
ORACLES["q_kfold_encode"] = f"""
WITH t AS ({T}),
b AS (
  SELECT conv_id, turn_idx, ts, role, signal,
         CAST(CAST(('0x' || substring(md5('f1' || '|' || conv_id), 1, 8)) AS BIGINT) % 5 AS INT) AS fold
  FROM t
),
pkf AS (
  SELECT role, fold, COUNT(CAST(signal AS BIGINT)) AS nkf,
         COALESCE(SUM(CAST(signal AS BIGINT)), 0) AS skf
  FROM b GROUP BY role, fold
),
pk AS (SELECT role, SUM(nkf) AS nk, SUM(skf) AS sk FROM pkf GROUP BY role),
g AS (SELECT SUM(nk) AS na, SUM(sk) AS sa FROM pk)
SELECT b.conv_id, CAST(b.turn_idx AS INT) AS turn_idx, epoch_us(b.ts) AS ts_us,
       b.role, b.fold,
       CAST(COALESCE(pk.nk - pkf.nkf, 0) AS BIGINT) AS n_oof,
       {r6("CASE WHEN pk.nk - pkf.nkf > 0 THEN CAST(pk.sk - pkf.skf AS DOUBLE) / CAST(pk.nk - pkf.nkf AS DOUBLE) END", "te_oof")},
       {r6("CASE WHEN CAST(pk.nk - pkf.nkf AS DOUBLE) + 10.0 > 0 THEN (CAST(pk.sk - pkf.skf AS DOUBLE) + 10.0 * (CAST(g.sa AS DOUBLE) / CAST(g.na AS DOUBLE))) / (CAST(pk.nk - pkf.nkf AS DOUBLE) + 10.0) END", "te_oof_smooth")}
FROM b
LEFT JOIN pkf ON pkf.role = b.role AND pkf.fold = b.fold
LEFT JOIN pk ON pk.role = b.role, g
"""


# midrank ECDF quantile transform on the compacted value histogram
ORACLES["q_quantile_transform"] = f"""
WITH t AS ({T}),
h AS (
  SELECT role, CAST(signal AS DOUBLE) AS val, COUNT(*) AS c
  FROM t WHERE signal IS NOT NULL GROUP BY role, CAST(signal AS DOUBLE)
),
e AS (
  SELECT role, val,
         CAST(2 * SUM(c) OVER (PARTITION BY role ORDER BY val
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS DOUBLE)
         / CAST(2 * SUM(c) OVER (PARTITION BY role) AS DOUBLE) AS u
  FROM h
)
SELECT t.conv_id, CAST(t.turn_idx AS INT) AS turn_idx, epoch_us(t.ts) AS ts_us,
       t.role,
       {r6('CAST(t.signal AS DOUBLE)', 'signal')},
       {r6('e.u', 'u')}
FROM t LEFT JOIN e ON e.role = t.role AND e.val = CAST(t.signal AS DOUBLE)
"""


# weekly vocabulary turnover: top-k heavy hitters per (group, epoch
# week), lagged set Jaccard — integer set sizes, one division
ORACLES["q_vocab_turnover"] = f"""
WITH t AS ({T}),
toks AS (
  SELECT role, (epoch_us(ts) // 86400000000) // 7 AS week,
         unnest({TOKS_RAW}) AS token
  FROM t
),
counts AS (
  SELECT role, week, token, COUNT(*) AS n FROM toks GROUP BY role, week, token
),
top AS (
  SELECT role, week, list_sort(list(token)) AS s FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY role, week
                                 ORDER BY n DESC, token ASC) AS r
    FROM counts) WHERE r <= 20
  GROUP BY role, week
),
lagd AS (
  SELECT role, week, s,
         LAG(s) OVER (PARTITION BY role ORDER BY week) AS p
  FROM top
)
SELECT role, CAST(week AS BIGINT) AS week,
       CAST(len(s) AS BIGINT) AS n_top,
       CASE WHEN p IS NOT NULL
            THEN CAST(len(list_filter(s, x -> list_contains(p, x))) AS BIGINT) END AS n_common,
       {r6("CASE WHEN p IS NOT NULL AND len(list_distinct(s || p)) > 0 THEN 1.0 - CAST(len(list_filter(s, x -> list_contains(p, x))) AS DOUBLE) / CAST(len(list_distinct(s || p)) AS DOUBLE) END", "turnover")}
FROM lagd
"""


# dialog acts: the same literal word lists and regexp, exact rollup
_DA_INTERROG = ("'what','why','how','when','where','who','which',"
                "'is','are','can','could','do','does','did','will','would'")
_DA_IMPER = ("'do','make','write','show','give','list','explain','find',"
             "'create','run','stop','add','remove','fix','update'")

ORACLES["q_dialog_acts"] = f"""
WITH t AS ({T}),
tagged AS (
  SELECT conv_id,
         CASE WHEN regexp_matches(text, '\\?\\s*$')
                   OR ({TOKS_RAW})[1] IN ({_DA_INTERROG}) THEN 'question'
              WHEN ({TOKS_RAW})[1] IN ({_DA_IMPER}) THEN 'command'
              ELSE 'statement' END AS act
  FROM t
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(COUNT(CASE WHEN act = 'question' THEN 1 END) AS BIGINT) AS n_question,
       CAST(COUNT(CASE WHEN act = 'command' THEN 1 END) AS BIGINT) AS n_command,
       {r6("CAST(COUNT(CASE WHEN act = 'question' THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", "question_rate")},
       {r6("CAST(COUNT(CASE WHEN act = 'command' THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", "command_rate")}
FROM tagged GROUP BY conv_id
"""


# length buckets: the same fixed CASE chain over powers of two
def _lb_case(n_expr: str, lo: int = 16, hi: int = 4096) -> str:
    ceilings = []
    b = lo
    while b < hi:
        ceilings.append(b)
        b *= 2
    ceilings.append(hi)
    parts = " ".join(f"WHEN {n_expr} <= {c} THEN {c}" for c in ceilings)
    return f"CASE {parts} ELSE {hi} END"


ORACLES["q_length_buckets"] = f"""
WITH n AS (
  SELECT doc_id, CAST(len({TOKS_RAW}) AS BIGINT) AS n_tokens FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens,
       CAST({_lb_case('n_tokens')} AS BIGINT) AS bucket_ceil,
       {r6(f"1.0 - CAST(n_tokens AS DOUBLE) / CAST({_lb_case('n_tokens')} AS DOUBLE)", "pad_frac")}
FROM n
"""


# corpus datasheet: one aggregation pass, exact integers + divisions
ORACLES["q_corpus_report"] = f"""
WITH g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({TOKS_RAW})) AS BIGINT) AS n_tokens,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT md5({NORM_DOC})) AS BIGINT) AS n_unique_texts
  FROM documents
)
SELECT n_docs, n_tokens, n_chars, n_langs, n_sources, n_unique_texts,
       {r6('1.0 - CAST(n_unique_texts AS DOUBLE) / CAST(n_docs AS DOUBLE)', 'dup_rate')},
       {r6('CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)', 'mean_tokens')},
       {r6('CAST(n_chars AS DOUBLE) / CAST(n_docs AS DOUBLE)', 'mean_chars')}
FROM g
"""


# readability proxy: same regexp counts, min-1 clamps, fixed formula
ORACLES["q_readability"] = f"""
WITH s AS (
  SELECT doc_id,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
         GREATEST(len({TOKS_RAW}), 1) AS words,
         GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syls
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(sents AS BIGINT) AS n_sentences,
       CAST(words AS BIGINT) AS n_words,
       {r6('CAST(words AS DOUBLE) / CAST(sents AS DOUBLE)', 'words_per_sentence')},
       {r6('CAST(syls AS DOUBLE) / CAST(words AS DOUBLE)', 'syllables_per_word')},
       {r6('206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE)) - 84.6 * (CAST(syls AS DOUBLE) / CAST(words AS DOUBLE))', 'flesch')}
FROM s
"""


# event uplift: (ts, turn_idx) struct-min anchor, strict before/after
# tuple comparison, exact integer window sums
ORACLES["q_event_uplift"] = f"""
WITH t AS ({T}),
a AS (
  SELECT conv_id,
         MIN(CASE WHEN role = 'system'
                  THEN ROW(epoch_us(ts), CAST(turn_idx AS BIGINT)) END) AS ev
  FROM t GROUP BY conv_id
),
j AS (
  SELECT t.conv_id, CAST(t.signal AS BIGINT) AS x,
         ROW(epoch_us(t.ts), CAST(t.turn_idx AS BIGINT)) AS k, a.ev
  FROM t JOIN a USING (conv_id)
),
g AS (
  SELECT conv_id,
         BOOL_OR(ev IS NOT NULL) AS has_event,
         CAST(COUNT(CASE WHEN k < ev THEN x END) AS BIGINT) AS n_before,
         CAST(COUNT(CASE WHEN k > ev THEN x END) AS BIGINT) AS n_after,
         SUM(CASE WHEN k < ev THEN x END) AS sb,
         SUM(CASE WHEN k > ev THEN x END) AS sa
  FROM j GROUP BY conv_id
)
SELECT conv_id, has_event, n_before, n_after,
       {r6('CASE WHEN n_before > 0 THEN CAST(sb AS DOUBLE) / CAST(n_before AS DOUBLE) END', 'mean_before')},
       {r6('CASE WHEN n_after > 0 THEN CAST(sa AS DOUBLE) / CAST(n_after AS DOUBLE) END', 'mean_after')},
       {r6('CASE WHEN n_after > 0 THEN CAST(sa AS DOUBLE) / CAST(n_after AS DOUBLE) END - CASE WHEN n_before > 0 THEN CAST(sb AS DOUBLE) / CAST(n_before AS DOUBLE) END', 'uplift')}
FROM g
"""


# role style distance: 64-bucket hashed profiles, exact-integer cosine;
# the SQL builds the per-(role, bucket) counts then the fixed 64-term
# chains per pair — parenthesization matches the left-fold
def _style_sql(dims: int = 64) -> str:
    def fold(fmt):
        acc = fmt.format(d=0)
        for d in range(1, dims):
            acc = f"({acc} + {fmt.format(d=d)})"
        return acc

    dot = fold("(CAST(a.c{d} AS DOUBLE) * CAST(b.c{d} AS DOUBLE))")
    na = fold("(CAST(a.c{d} AS DOUBLE) * CAST(a.c{d} AS DOUBLE))")
    nb = fold("(CAST(b.c{d} AS DOUBLE) * CAST(b.c{d} AS DOUBLE))")
    ccols = ",\n         ".join(
        f"SUM(CASE WHEN b = {d} THEN 1 ELSE 0 END) AS c{d}" for d in range(dims)
    )
    return f"""
WITH t AS ({T}),
toks AS (
  SELECT role,
         CAST(('0x' || substring(md5(tok), 1, 4)) AS BIGINT) % {dims} AS b
  FROM (SELECT role, unnest({TOKS_RAW}) AS tok FROM t)
),
prof AS (
  SELECT role,
         {ccols}
  FROM toks GROUP BY role
)
SELECT a.role AS role_a, b.role AS role_b,
       {r6(f"CASE WHEN sqrt({na}) > 0 AND sqrt({nb}) > 0 THEN ({dot}) / (sqrt({na}) * sqrt({nb})) END", "cosine")},
       {r6(f"1.0 - CASE WHEN sqrt({na}) > 0 AND sqrt({nb}) > 0 THEN ({dot}) / (sqrt({na}) * sqrt({nb})) END", "dist")}
FROM prof a JOIN prof b ON a.role < b.role
"""


ORACLES["q_role_style"] = _style_sql(64)


# weighted Bernoulli sampling: the classifier chain's raw prob as the
# keep rate, salted-md5 uniform, raw-double compare
ORACLES["q_weighted_sample"] = f"""
WITH s AS (
  SELECT doc_id,
         len({TOKS_RAW}) AS n,
         list_reduce([CAST(0.0 AS DOUBLE)] || list_transform({TOKS_RAW},
             t -> ({_classifier_w_sql()})[CAST(('0x' || substring(md5(t), 1, 4))::BIGINT % 64 AS INT) + 1]),
             (acc, x) -> acc + x) AS wsum
  FROM documents
),
pr AS (
  SELECT doc_id, 1.0 / (1.0 + exp(-(wsum / CAST(n AS DOUBLE) + 0))) AS prob
  FROM s
),
d AS (
  SELECT doc_id, prob,
         CAST(CAST(('0x' || substring(md5('w1' || '|' || CAST(doc_id AS STRING)), 1, 8)) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
  FROM pr
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {r6('prob', 'prob')},
       {r6('u', 'u')},
       u < LEAST(GREATEST(prob, 0.0), 1.0) AS keep
FROM d
"""


# time-weighted mean: lead-gap hold weights, exact integer products
ORACLES["q_time_weighted_mean"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS x,
         LEAD(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
           - epoch_us(ts) AS h
  FROM t
),
g AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n_held,
         CAST(SUM(h) AS BIGINT) AS held_us,
         SUM(x * h) AS sxh,
         SUM(x) AS sx
  FROM p WHERE h IS NOT NULL AND x IS NOT NULL
  GROUP BY conv_id
)
SELECT conv_id, n_held, held_us,
       {r6('CASE WHEN held_us > 0 THEN CAST(sxh AS DOUBLE) / CAST(held_us AS DOUBLE) END', 'twm')},
       {r6('CAST(sx AS DOUBLE) / CAST(n_held AS DOUBLE)', 'plain_mean')}
FROM g
"""


# oscillation: exact integer move signs, flips between consecutive
# nonzero moves (lag over the nonzero-only frame)
ORACLES["q_oscillation"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, ts, turn_idx,
         CASE WHEN CAST(signal AS BIGINT)
                   - LAG(CAST(signal AS BIGINT)) OVER w > 0 THEN 1
              WHEN CAST(signal AS BIGINT)
                   - LAG(CAST(signal AS BIGINT)) OVER w < 0 THEN -1 END AS s
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
m AS (
  SELECT conv_id, s,
         LAG(s) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
  FROM p WHERE s IS NOT NULL
),
g AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_moves,
         CAST(COUNT(CASE WHEN prev IS NOT NULL AND s <> prev THEN 1 END) AS BIGINT) AS n_flips
  FROM m GROUP BY conv_id
),
sizes AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns FROM t GROUP BY conv_id)
SELECT sizes.conv_id, sizes.n_turns,
       COALESCE(g.n_moves, 0) AS n_moves,
       COALESCE(g.n_flips, 0) AS n_flips,
       {r6('CASE WHEN COALESCE(g.n_moves, 0) > 1 THEN CAST(COALESCE(g.n_flips, 0) AS DOUBLE) / CAST(COALESCE(g.n_moves, 0) - 1 AS DOUBLE) END', 'flip_rate')}
FROM sizes LEFT JOIN g USING (conv_id)
"""


# code switching: the same fixed-priority marker tagging, adjacent-tag
# switches over the ordered tagged list
_CS_TAG = (
    "CASE WHEN x IN ('the','and','of','to','is') THEN 'en' "
    "WHEN x IN ('der','die','und','nicht','ist') THEN 'de' "
    "WHEN x IN ('le','la','et','les','est') THEN 'fr' "
    "WHEN x IN ('el','la','que','de','es') THEN 'es' END"
)

ORACLES["q_code_switching"] = f"""
WITH s AS (
  SELECT doc_id,
         list_filter(list_transform({TOKS_RAW}, x -> {_CS_TAG}),
                     t -> t IS NOT NULL) AS tags
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(tags) AS BIGINT) AS n_tagged,
       CAST(len(list_distinct(tags)) AS INT) AS n_langs,
       CAST(CASE WHEN len(tags) >= 2
                 THEN len(list_filter(generate_series(2, len(tags)),
                                      i -> tags[i] <> tags[i - 1]))
                 ELSE 0 END AS BIGINT) AS n_switches,
       {r6("CASE WHEN len(tags) >= 2 THEN CAST(CASE WHEN len(tags) >= 2 THEN len(list_filter(generate_series(2, len(tags)), i -> tags[i] <> tags[i - 1])) ELSE 0 END AS DOUBLE) / CAST(len(tags) - 1 AS DOUBLE) END", "switch_rate")}
FROM s
"""


# signal transition entropies: ordered folds over the sorted compacted
# (prev, cur) cell lists; same term shape as the Spark HOFs
ORACLES["q_signal_transitions"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS cur,
         LAG(CAST(signal AS BIGINT)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
  FROM t
),
q AS (SELECT * FROM p WHERE prev IS NOT NULL AND cur IS NOT NULL),
cells AS (
  SELECT conv_id, prev, cur, CAST(COUNT(*) AS BIGINT) AS c
  FROM q GROUP BY conv_id, prev, cur
),
tot AS (SELECT conv_id, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY conv_id),
per AS (
  SELECT cells.conv_id,
         MAX(tot.n) AS n_trans,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         list_reduce([0.0] || list((CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                                   * log2(CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                                   ORDER BY prev, cur),
                     (a, x) -> a + x) AS jacc
  FROM cells JOIN tot USING (conv_id) GROUP BY cells.conv_id
),
marg AS (
  SELECT conv_id, prev, CAST(COUNT(*) AS BIGINT) AS c
  FROM q GROUP BY conv_id, prev
),
perm AS (
  SELECT marg.conv_id,
         list_reduce([0.0] || list((CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                                   * log2(CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                                   ORDER BY prev),
                     (a, x) -> a + x) AS pacc
  FROM marg JOIN tot USING (conv_id) GROUP BY marg.conv_id
)
SELECT per.conv_id, per.n_trans, per.n_cells,
       {r6('-per.jacc', 'joint_entropy')},
       {r6('-perm.pacc', 'prev_entropy')},
       {r6('(-per.jacc) - (-perm.pacc)', 'cond_entropy')}
FROM per JOIN perm USING (conv_id)
"""


# middle-drop truncation: the same head/tail slices and marker join
ORACLES["q_truncate_middle"] = f"""
WITH s AS (
  SELECT doc_id, {TOKS_RAW} AS tk FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       len(tk) > 64 AS was_truncated,
       CASE WHEN len(tk) > 64
            THEN array_to_string(list_slice(tk, 1, 47), ' ') || ' ' || '...' || ' '
                 || array_to_string(list_slice(tk, len(tk) - 15, len(tk)), ' ')
            ELSE array_to_string(tk, ' ') END AS text_trunc,
       CAST(CASE WHEN len(tk) > 64 THEN 64 ELSE len(tk) END AS BIGINT) AS n_tokens_out
FROM s
"""


# role token balance: conditional integer token sums, one division
ORACLES["q_role_token_ratios"] = f"""
WITH t AS ({T}),
g AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(COALESCE(SUM(CASE WHEN role = 'assistant' THEN len({TOKS_RAW}) END), 0) AS BIGINT) AS tokens_num,
         CAST(COALESCE(SUM(CASE WHEN role = 'user' THEN len({TOKS_RAW}) END), 0) AS BIGINT) AS tokens_den
  FROM t GROUP BY conv_id
)
SELECT conv_id, n_turns, tokens_num, tokens_den,
       {r6('CASE WHEN tokens_den > 0 THEN CAST(tokens_num AS DOUBLE) / CAST(tokens_den AS DOUBLE) END', 'token_ratio')}
FROM g
"""


# template detection: (source, 8-token normalized-prefix md5) counts
ORACLES["q_template_groups"] = f"""
WITH b AS (
  SELECT doc_id, source,
         md5(array_to_string(list_slice({TOKS_DOC}, 1, 8), ' ')) AS pfx
  FROM documents
),
c AS (
  SELECT source, pfx, CAST(COUNT(*) AS BIGINT) AS template_size
  FROM b GROUP BY source, pfx
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id, b.source,
       c.template_size,
       c.template_size >= 3 AS is_templated
FROM b JOIN c USING (source, pfx)
"""


# max drawdown: running-peak window, integer (dd, -ordinal, peak) argmax
ORACLES["q_max_drawdown"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS x,
         MAX(CAST(signal AS BIGINT)) OVER w AS peak,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS i
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
d AS (SELECT conv_id, peak - x AS dd, i, peak FROM p),
best AS (
  SELECT conv_id, dd, peak FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id
                                 ORDER BY dd DESC, i ASC) AS rn
    FROM d) WHERE rn = 1
),
sizes AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MAX(CAST(signal AS BIGINT)) AS BIGINT) AS peak_all
  FROM t GROUP BY conv_id
)
SELECT s.conv_id, s.n, s.peak_all AS peak,
       CAST(b.dd AS BIGINT) AS max_dd,
       {r6('CASE WHEN b.peak > 0 THEN CAST(b.dd AS DOUBLE) / CAST(b.peak AS DOUBLE) END', 'dd_frac')}
FROM sizes s JOIN best b USING (conv_id)
"""


# OOV rate: two-pass TF, (count desc, token asc) top-k vocab, membership
ORACLES["q_oov_rate"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_RAW}) AS token FROM documents
),
counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
vocab AS (
  SELECT token FROM (
    SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS r
    FROM counts) WHERE r <= 200
),
g AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(CASE WHEN v.token IS NULL THEN 1 END) AS BIGINT) AS n_oov
  FROM toks t LEFT JOIN vocab v USING (token)
  GROUP BY t.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, n_oov,
       {r6('CASE WHEN n_tokens > 0 THEN CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) END', 'oov_frac')}
FROM g
"""


# von Neumann ratio: exact integer MSSD/variance sufficient statistics
ORACLES["q_von_neumann"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS x,
         CAST(signal AS BIGINT)
           - LAG(CAST(signal AS BIGINT)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS d
  FROM t
),
g AS (
  SELECT conv_id,
         CAST(COUNT(x) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(x * x) AS sxx,
         COALESCE(SUM(d * d), 0) AS sdd
  FROM p GROUP BY conv_id
),
s AS (
  SELECT conv_id, n,
         CAST(sdd AS DOUBLE) / CASE WHEN n > 1 THEN CAST(n AS DOUBLE) - 1.0 END AS mssd,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / CASE WHEN n > 1 THEN CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) END AS variance
  FROM g
)
SELECT conv_id, n,
       {r6('mssd', 'mssd')},
       {r6('variance', 'variance')},
       {r6('CASE WHEN variance > 0 THEN mssd / variance END', 'vn')}
FROM s
"""


# Cohen's kappa for langid: single-row diagonal + marginals, fixed
# chains over the literal label grid
def _kappa_sql() -> str:
    labels = ("en", "de", "es", "fr", "und")
    rcols = ",\n         ".join(
        f"CAST(COUNT(CASE WHEN d.lang = '{l}' THEN 1 END) AS BIGINT) AS r_{l},\n"
        f"         CAST(COUNT(CASE WHEN p.lang_pred = '{l}' THEN 1 END) AS BIGINT) AS c_{l}"
        for l in labels
    )
    pe_terms = [
        f"((CAST(r_{l} AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(c_{l} AS DOUBLE) / CAST(n AS DOUBLE)))"
        for l in labels
    ]
    pe = pe_terms[0]
    for t in pe_terms[1:]:
        pe = f"({pe} + {t})"
    return f"""
WITH pr AS ({ORACLES["q_lang_id"]}),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {rcols},
         CAST(COUNT(CASE WHEN d.lang = p.lang_pred THEN 1 END) AS BIGINT) AS diag
  FROM documents d JOIN pr p USING (doc_id)
),
s AS (
  SELECT n, CAST(diag AS DOUBLE) / CAST(n AS DOUBLE) AS po, {pe} AS pe
  FROM g
)
SELECT n,
       {r6('po', 'accuracy')},
       {r6('pe', 'p_e')},
       {r6('CASE WHEN pe <> 1.0 THEN (po - pe) / (1.0 - pe) END', 'kappa')}
FROM s
"""


ORACLES["q_langid_kappa"] = _kappa_sql()


# R/S Hurst: exact integer prefix sums, fixed per-row deviation chains,
# max/min over deterministic doubles, exact-integer variance numerator
ORACLES["q_hurst_rs"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS x,
         SUM(CAST(signal AS BIGINT)) OVER w AS prefix,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n,
         SUM(CAST(signal AS BIGINT)) OVER (PARTITION BY conv_id) AS sx
  FROM t WHERE signal IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
d AS (
  SELECT conv_id, x, n,
         CAST(prefix AS DOUBLE)
           - CAST(i AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS dev
  FROM p
),
g AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         MAX(dev) AS dmax, MIN(dev) AS dmin,
         SUM(x) AS sxg, SUM(x * x) AS sxx
  FROM d GROUP BY conv_id
),
s AS (
  SELECT conv_id, n,
         dmax - dmin AS rng,
         SQRT(CAST(n * sxx - sxg * sxg AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sdev
  FROM g
),
f AS (
  SELECT conv_id, n, rng, sdev,
         CASE WHEN n > 1 AND sdev > 0 THEN rng / sdev END AS rs
  FROM s
)
SELECT conv_id, n,
       {r6('rng', 'rng')},
       {r6('sdev', 'sdev')},
       {r6('rs', 'rs')},
       {r6('CASE WHEN n > 1 AND rs > 0 THEN LN(rs) / LN(CAST(n AS DOUBLE)) END', 'hurst')}
FROM f
"""


# SAX word: integer PAA segments, fixed standardization chain, literal
# Gaussian-quartile breakpoints, word assembled in explicit seg order
ORACLES["q_sax_word"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS BIGINT) - 1 AS i0,
         CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n,
         SUM(CAST(signal AS BIGINT)) OVER (PARTITION BY conv_id) AS sx,
         SUM(CAST(signal AS BIGINT) * CAST(signal AS BIGINT)) OVER (PARTITION BY conv_id) AS sxx
  FROM t WHERE signal IS NOT NULL
),
segd AS (
  SELECT conv_id, x, n, sx, sxx,
         CAST(FLOOR(CAST(i0 * 4 AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS seg
  FROM p
),
segg AS (
  SELECT conv_id, seg,
         SUM(x) AS ssum, CAST(COUNT(*) AS BIGINT) AS scnt,
         MIN(n) AS n, MIN(sx) AS sxg, MIN(sxx) AS sxx
  FROM segd GROUP BY conv_id, seg
),
z AS (
  SELECT conv_id, seg, n,
         CASE WHEN SQRT(CAST(n * sxx - sxg * sxg AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) > 0
              THEN (CAST(ssum AS DOUBLE) / CAST(scnt AS DOUBLE)
                    - CAST(sxg AS DOUBLE) / CAST(n AS DOUBLE))
                   / SQRT(CAST(n * sxx - sxg * sxg AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              ELSE 0.0 END AS zval
  FROM segg
),
sym AS (
  SELECT conv_id, seg, n,
         CASE WHEN zval < -0.6745 THEN 'a'
              WHEN zval < 0.0 THEN 'b'
              WHEN zval < 0.6745 THEN 'c'
              ELSE 'd' END AS s
  FROM z
)
SELECT conv_id,
       CAST(MIN(n) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       string_agg(s, '' ORDER BY seg) AS word
FROM sym GROUP BY conv_id
"""


# CUPED: exact integer half-split sums, global moments, fixed
# theta / mean-pre / adjusted chains
ORACLES["q_cuped"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS BIGINT) - 1 AS i0,
         CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n
  FROM t WHERE signal IS NOT NULL
),
conv AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN i0 * 2 < n THEN x END), 0) AS BIGINT) AS pre,
         CAST(COALESCE(SUM(CASE WHEN i0 * 2 >= n THEN x END), 0) AS BIGINT) AS post
  FROM p GROUP BY conv_id
),
gmom AS (
  -- per-row products ride HUGEINT (mirrors the engine's DECIMAL(38,0)
  -- products) so pre ~3e9 cannot overflow the BIGINT multiply
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         SUM(pre) AS sp, SUM(CAST(pre AS HUGEINT) * pre) AS spp,
         SUM(post) AS sq, SUM(CAST(pre AS HUGEINT) * post) AS spq
  FROM conv
),
j AS (
  SELECT c.conv_id, c.n, c.pre, c.post,
         CASE WHEN g.m > 1
                   AND CAST(g.m AS HUGEINT) * g.spp - CAST(g.sp AS HUGEINT) * g.sp <> 0
              THEN CAST(CAST(g.m AS HUGEINT) * g.spq - CAST(g.sp AS HUGEINT) * g.sq AS DOUBLE)
                   / CAST(CAST(g.m AS HUGEINT) * g.spp - CAST(g.sp AS HUGEINT) * g.sp AS DOUBLE) END AS theta,
         CAST(g.sp AS DOUBLE) / CAST(g.m AS DOUBLE) AS mean_pre
  FROM conv c CROSS JOIN gmom g
)
SELECT conv_id, n, pre, post,
       {r6('theta', 'theta')},
       {r6('CAST(post AS DOUBLE) - theta * (CAST(pre AS DOUBLE) - mean_pre)', 'adjusted')}
FROM j
"""


# Per-turn Levenshtein to the previous turn: DuckDB's levenshtein is the
# same unit-cost DP Spark's built-in implements — exact integers
ORACLES["q_edit_sim"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, turn_idx, ts, text,
         LAG(text) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
  FROM t
),
d AS (
  SELECT conv_id, turn_idx, ts,
         CASE WHEN prev IS NOT NULL
              THEN CAST(levenshtein(prev, text) AS BIGINT) END AS lev,
         GREATEST(LENGTH(prev), LENGTH(text)) AS maxlen
  FROM p
)
SELECT conv_id,
       CAST(turn_idx AS INT) AS turn_idx,
       epoch_us(ts) AS ts_us,
       lev,
       {r6('CASE WHEN lev IS NOT NULL AND maxlen > 0 THEN 1.0 - CAST(lev AS DOUBLE) / CAST(maxlen AS DOUBLE) END', 'edit_sim')}
FROM d
"""


# Gini: tie-stable (value, id) rank, exact integer rank-sum identity
ORACLES["q_gini"] = f"""
WITH p AS (
  SELECT source,
         CAST(n_chars AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS i
  FROM documents
),
g AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS total,
         SUM(i * x) AS ix
  FROM p GROUP BY source
)
SELECT source, n, CAST(total AS BIGINT) AS total,
       {r6('CASE WHEN n * total > 0 THEN CAST(2 * ix - (n + 1) * total AS DOUBLE) / CAST(n * total AS DOUBLE) END', 'gini')}
FROM g
"""


# Mann-Kendall: exact-integer pairwise self-join for S, run-length tie
# table for the variance correction; var_s/z/tau are the same fixed
# IEEE chains the engine emits over exact BIGINTs
ORACLES["q_mann_kendall"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS y,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS i
  FROM t WHERE signal IS NOT NULL
),
base AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY conv_id
),
pr AS (
  SELECT a.conv_id,
         CAST(SUM(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM p a JOIN p b ON a.conv_id = b.conv_id AND b.i > a.i
  GROUP BY a.conv_id
),
tg AS (SELECT conv_id, y, CAST(COUNT(*) AS BIGINT) AS t FROM p GROUP BY conv_id, y),
ta AS (
  SELECT conv_id,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS tie_pairs
  FROM tg GROUP BY conv_id
),
j AS (
  SELECT base.conv_id, base.n,
         COALESCE(pr.s, 0) AS s,
         COALESCE(ta.tie_pairs, 0) AS tie_pairs,
         COALESCE(ta.tie_term, 0) AS tie_term
  FROM base LEFT JOIN pr USING (conv_id) LEFT JOIN ta USING (conv_id)
),
c AS (
  SELECT conv_id, n, s, tie_pairs,
         CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0 AS vs,
         (n * (n - 1)) // 2 AS d
  FROM j
)
SELECT conv_id, n, s, tie_pairs,
       {r6('CASE WHEN n >= 2 THEN vs END', 'var_s')},
       {r6('''CASE WHEN n >= 2 AND vs > 0 THEN
            CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / SQRT(vs)
                 WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / SQRT(vs)
                 ELSE 0.0 END END''', 'z')},
       {r6('''CASE WHEN n >= 2 AND d * (d - tie_pairs) > 0 THEN
            CAST(s AS DOUBLE) / SQRT(CAST(d * (d - tie_pairs) AS DOUBLE)) END''', 'tau_b')}
FROM c
"""


# Rank-biased overlap between the BM25 lexical top-10 and the dense
# cosine top-10: rebuilds both rankings with the same CTEs as
# q_hybrid_rrf, then replays the fixed left-associated weight chain
# with the identical plan-time Python float literals (0.9 ** (d-1))
def _rbo_sql(p: float = 0.9, k: int = 10) -> str:
    xs = ",\n         ".join(
        f"CAST(len(list_intersect(aa[1:{d}], bb[1:{d}])) AS BIGINT) AS x{d}"
        for d in range(1, k + 1)
    )
    chain = None
    for d in range(1, k + 1):
        term = f"({(p ** (d - 1))!r} * CAST(x{d} AS DOUBLE) / {float(d)!r})"
        chain = term if chain is None else f"({chain} + {term})"
    rbo = f"{(1.0 - p)!r} * {chain}"
    return f"""
WITH base AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS tk FROM documents),
d AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl FROM base),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM d
),
tok AS (SELECT doc_id, dl, unnest(tk) AS token FROM d),
tf AS (
  SELECT doc_id, dl, token, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM tok WHERE token IN ({_BM25_TERMS})
  GROUP BY doc_id, dl, token
),
dfreq AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY token),
q(query_id, token) AS (VALUES {_BM25_Q_VALUES}),
c AS (
  SELECT q.query_id, tf.doc_id, tf.token,
         (ln(1.0 + (s.n - f.dft + 0.5) / (f.dft + 0.5)) * (tf.tf * 2.2))
         / (tf.tf + 1.2 * (0.25 + (0.75 * CAST(tf.dl AS DOUBLE)) / s.avgdl)) AS c
  FROM tf
  JOIN q USING (token)
  JOIN dfreq f USING (token), stats s
),
sc AS (
  SELECT query_id, doc_id,
         ROUND(list_reduce([0.0] || list(c ORDER BY token), (acc, x) -> acc + x), 6) AS score
  FROM c GROUP BY query_id, doc_id
),
lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc QUALIFY rank <= 10
),
eq AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 3
),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
es AS (
  SELECT eq.query_id, ev.vec_id,
         list_dot_product(ev.ev, eq.qv)
           / (sqrt(list_dot_product(ev.ev, ev.ev)) * sqrt(list_dot_product(eq.qv, eq.qv))) AS cos
  FROM ev CROSS JOIN eq
),
dense AS (
  SELECT query_id, vec_id AS doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM es QUALIFY rank <= 10
),
la AS (
  SELECT CAST(query_id AS BIGINT) AS query_id,
         list(CAST(doc_id AS BIGINT) ORDER BY rank) AS aa
  FROM lex GROUP BY query_id
),
lb AS (
  SELECT CAST(query_id AS BIGINT) AS query_id,
         list(CAST(doc_id AS BIGINT) ORDER BY rank) AS bb
  FROM dense GROUP BY query_id
),
j AS (SELECT la.query_id, aa, bb FROM la JOIN lb USING (query_id)),
x AS (
  SELECT query_id,
         CAST(len(aa) AS BIGINT) AS n_a,
         CAST(len(bb) AS BIGINT) AS n_b,
         {xs}
  FROM j
)
SELECT query_id, n_a, n_b, x{k} AS x_k,
       {{overlap}},
       {{rbo}}
FROM x
""".format(
        overlap=r6(f"CAST(x{k} AS DOUBLE) / {float(k)!r}", "overlap_k"),
        rbo=r6(rbo, "rbo"),
    )


ORACLES["q_rbo"] = _rbo_sql()


# Ordered role funnel: exact integer ordinals and sequential
# conditional MINs — pure integer output, nothing to round
ORACLES["q_funnel"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, role,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS BIGINT) AS i
  FROM t
),
s1 AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(MIN(CASE WHEN role = 'user' THEN i END) AS BIGINT) AS i_1
  FROM p GROUP BY conv_id
),
s2 AS (
  SELECT p.conv_id, MAX(s1.n_turns) AS n_turns, MAX(s1.i_1) AS i_1,
         CAST(MIN(CASE WHEN p.role = 'assistant' AND p.i > s1.i_1 THEN p.i END) AS BIGINT) AS i_2
  FROM p JOIN s1 USING (conv_id) GROUP BY p.conv_id
),
s3 AS (
  SELECT p.conv_id, MAX(s2.n_turns) AS n_turns, MAX(s2.i_1) AS i_1, MAX(s2.i_2) AS i_2,
         CAST(MIN(CASE WHEN p.role = 'tool' AND p.i > s2.i_2 THEN p.i END) AS BIGINT) AS i_3
  FROM p JOIN s2 USING (conv_id) GROUP BY p.conv_id
)
SELECT conv_id, n_turns, i_1, i_2, i_3,
       CAST((CASE WHEN i_1 IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN i_2 IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN i_3 IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS reached
FROM s3
"""


# Weekly cohort retention: Monday-start weeks, exact (user, week)
# distinct pairs, integer counts, one division
ORACLES["q_cohort_retention"] = f"""
WITH uw AS (
  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
),
first AS (SELECT u, MIN(wk) AS cohort_week FROM uw GROUP BY u),
sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
  FROM first GROUP BY cohort_week
),
act AS (
  SELECT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, uw.wk) // 7 AS INT) AS week_offset,
         uw.u
  FROM uw JOIN first f USING (u)
),
cells AS (
  SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
  FROM act GROUP BY cohort_week, week_offset
)
SELECT CAST(c.cohort_week AS VARCHAR) AS cohort_week,
       c.week_offset, s.n_cohort, c.n_active,
       {r6('CAST(c.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE)', 'retention')}
FROM cells c JOIN sizes s USING (cohort_week)
"""


# Kaplan-Meier: exact integer durations/risk sets; the survival fold is
# list_reduce over the same factor list the engine folds, same order
ORACLES["q_kaplan_meier"] = f"""
WITH t AS ({T}),
pc AS (
  SELECT conv_id,
         MIN(epoch_us(ts)) AS t0,
         MIN(CASE WHEN role = 'tool' THEN epoch_us(ts) END) AS tev,
         MAX(epoch_us(ts)) AS tend
  FROM t GROUP BY conv_id
),
d0 AS (
  SELECT conv_id, (tev IS NOT NULL) AS e,
         CAST(FLOOR(CAST(CASE WHEN tev IS NOT NULL THEN tev - t0
                              ELSE tend - t0 END AS DOUBLE) / 60000000.0) AS BIGINT) AS tb
  FROM pc
),
pt AS (
  SELECT tb AS t_bucket,
         CAST(COUNT(CASE WHEN e THEN 1 END) AS BIGINT) AS d,
         CAST(COUNT(CASE WHEN NOT e THEN 1 END) AS BIGINT) AS c
  FROM d0 GROUP BY tb
),
o AS (
  SELECT t_bucket, d, c,
         SUM(d + c) OVER (ORDER BY t_bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_,
         SUM(d + c) OVER () AS total
  FROM pt
),
nr AS (
  SELECT t_bucket, d, c,
         CAST(total - COALESCE(before_, 0) AS BIGINT) AS n_risk
  FROM o
),
arr AS (
  SELECT list(struct_pack(tb := t_bucket, d := d, c := c, n := n_risk)
              ORDER BY t_bucket) AS a
  FROM nr
),
ex AS (
  SELECT a, unnest(range(1, len(a) + 1)) AS i FROM arr
),
rowed AS (
  SELECT a[i].tb AS t_bucket,
         a[i].tb * 60 AS t_start_s,
         a[i].n AS n_risk, a[i].d AS d, a[i].c AS c,
         list_reduce(
           [1.0] || [1.0 - CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE)
                     FOR x IN a[1:i]],
           (p, q) -> p * q
         ) AS s
  FROM ex
)
SELECT t_bucket, t_start_s, n_risk, d, c,
       {r6('s', 's_km')}
FROM rowed
"""


# Log-rank: exact integer risk sets via window prefix sums on the
# bucket grid; the two totals are list_reduce left folds over the
# bucket-ordered term lists — same order as the engine's aggregate fold
ORACLES["q_log_rank"] = f"""
WITH t AS ({T}),
r AS (
  SELECT conv_id, role, epoch_us(ts) AS tus,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn,
         (dayofweek(ts) IN (0, 6)) AS g1
  FROM t
),
pc AS (
  SELECT conv_id,
         MAX(CASE WHEN rn = 1 THEN g1 END) AS grp1,
         MIN(tus) AS t0,
         MIN(CASE WHEN role = 'tool' THEN tus END) AS tev,
         MAX(tus) AS tend
  FROM r GROUP BY conv_id
),
d0 AS (
  SELECT grp1, (tev IS NOT NULL) AS e,
         CAST(FLOOR(CAST(CASE WHEN tev IS NOT NULL THEN tev - t0
                              ELSE tend - t0 END AS DOUBLE) / 60000000.0) AS BIGINT) AS tb
  FROM pc
),
pt AS (
  SELECT tb,
         CAST(COUNT(CASE WHEN grp1 AND e THEN 1 END) AS BIGINT) AS d1,
         CAST(COUNT(CASE WHEN grp1 AND NOT e THEN 1 END) AS BIGINT) AS c1,
         CAST(COUNT(CASE WHEN NOT grp1 AND e THEN 1 END) AS BIGINT) AS d2,
         CAST(COUNT(CASE WHEN NOT grp1 AND NOT e THEN 1 END) AS BIGINT) AS c2
  FROM d0 GROUP BY tb
),
o AS (
  SELECT tb, d1, d2,
         CAST(SUM(d1 + c1) OVER () - COALESCE(SUM(d1 + c1) OVER (ORDER BY tb
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1,
         CAST(SUM(d2 + c2) OVER () - COALESCE(SUM(d2 + c2) OVER (ORDER BY tb
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n2
  FROM pt
),
terms AS (
  SELECT tb, d1, d2, n1, n2,
         CASE WHEN d1 + d2 > 0 AND n1 + n2 > 1
              THEN CAST(d1 AS DOUBLE)
                   - CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
                     / CAST(n1 + n2 AS DOUBLE)
              ELSE 0.0 END AS numt,
         CASE WHEN d1 + d2 > 0 AND n1 + n2 > 1
              THEN CAST(d1 + d2 AS DOUBLE)
                   * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                   * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                   * (CAST(n1 + n2 - d1 - d2 AS DOUBLE)
                      / CAST(n1 + n2 - 1 AS DOUBLE))
              ELSE 0.0 END AS vart
  FROM o
),
g AS (
  SELECT CAST(MAX(n1) AS BIGINT) AS n1,
         CAST(MAX(n2) AS BIGINT) AS n2,
         CAST(SUM(d1) AS BIGINT) AS d1,
         CAST(SUM(d2) AS BIGINT) AS d2,
         list_reduce([0.0] || list(numt ORDER BY tb), (p, q) -> p + q) AS num,
         list_reduce([0.0] || list(vart ORDER BY tb), (p, q) -> p + q) AS var
  FROM terms
)
SELECT n1, n2, d1, d2,
       {r6('num', 'o_minus_e')},
       {r6('var', 'var_lr')},
       {r6('CASE WHEN var > 0 THEN num / SQRT(var) END', 'z')},
       {r6('CASE WHEN var > 0 THEN num * num / var END', 'chi2')}
FROM g
"""


# RFM: exact longs throughout (integer cents; day-floor of exact
# microsecond difference); one convenience division
ORACLES["q_rfm"] = f"""
WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
u AS (
  SELECT user_id,
         MAX(epoch_us(ts)) AS last_,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100.0) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
)
SELECT user_id,
       CAST(FLOOR(CAST(mx.m - u.last_ AS DOUBLE) / 86400000000.0) AS BIGINT) AS recency_days,
       frequency, monetary_cents,
       {r6('CAST(monetary_cents AS DOUBLE) / 100.0', 'monetary')}
FROM u, mx
"""


# Count-min sketch: pure integer universal-hash arithmetic — the sketch
# estimates themselves are hash-gateable (mirrors
# operators/sketches.count_min_heavy_hitters exactly: same (a, b) pairs,
# p = 2^31 - 1, width 512, depth 4, top-20 by (est DESC, key ASC))
ORACLES["q_heavy_hitters"] = """
WITH hp AS (
  SELECT * FROM (VALUES (0, 1299721, 104729), (1, 15485863, 32452843),
                        (2, 49979687, 67867967), (3, 86028121, 98765431)) AS t(row_i, a, b)
),
sk AS (
  SELECT hp.row_i,
         ((hp.a * (ABS(e.user_id) % 2147483647) + hp.b) % 2147483647) % 512 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events e CROSS JOIN hp
  GROUP BY 1, 2
),
truth AS (
  SELECT CAST(user_id AS BIGINT) AS key, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM events GROUP BY 1
),
est AS (
  SELECT t.key, t.true_count, MIN(sk.cnt) AS est_count
  FROM truth t
  JOIN hp ON TRUE
  JOIN sk ON sk.row_i = hp.row_i
         AND sk.bucket = ((hp.a * (ABS(t.key) % 2147483647) + hp.b) % 2147483647) % 512
  GROUP BY t.key, t.true_count
),
rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY est_count DESC, key ASC) AS rn FROM est)
SELECT key, est_count, true_count, est_count - true_count AS overcount
FROM rk WHERE rn <= 20
"""


# Linear counting: est computed UNROUNDED in the CTE (err_pct divides the
# unrounded est, exactly as the engine does), 6dp-rounded only at output
ORACLES["q_linear_count"] = f"""
WITH g AS (
  SELECT event_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
         CAST(COUNT(DISTINCT ((1299721 * (ABS(user_id) % 2147483647) + 104729)
                              % 2147483647) % 4096) AS BIGINT) AS occupied
  FROM events GROUP BY event_type
),
e AS (
  SELECT event_type, exact_distinct, occupied,
         CASE WHEN occupied < 4096
              THEN (-4096.0) * ln((4096.0 - CAST(occupied AS DOUBLE)) / 4096.0)
              ELSE 4096.0 * ln(4096.0) END AS est
  FROM g
)
SELECT event_type, exact_distinct, occupied,
       {r6('est', 'est_distinct')},
       {r6('(est - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE) * 100.0', 'err_pct')}
FROM e
"""


# Poisson bootstrap: square-mod mixing hash (the squaring decorrelates
# adjacent ids/replicates — see profile.poisson_bootstrap_ci) -> uniform
# -> fixed inverse-CDF thresholds; replicate means are one division of
# exact integer sums; CI bounds are 1-based sorted-list elements 2 / 63
# (= 0-based floor(0.025*64) / ceil(0.975*64)-1)
ORACLES["q_bootstrap_ci"] = f"""
WITH base AS (
  SELECT event_type AS grp, CAST(event_id AS BIGINT) AS id,
         CAST(FLOOR(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS cents
  FROM events
),
reps AS (SELECT CAST(b AS BIGINT) AS b FROM generate_series(0, 63) t(b)),
w AS (
  SELECT grp, b, cents,
         CASE WHEN u < 0.367879441171442 THEN 0
              WHEN u < 0.735758882342884 THEN 1
              WHEN u < 0.919698602928606 THEN 2
              WHEN u < 0.981011843123846 THEN 3
              WHEN u < 0.996340153172656 THEN 4
              ELSE 5 END AS wgt
  FROM (SELECT grp, cents, b,
               CAST((((x * x + x) % 2147483647) * 48271) % 2147483647 AS DOUBLE)
               / 2147483647.0 AS u
        FROM (SELECT grp, cents, b,
                     (id * 48271 + b * 69621 + 12345) % 2147483647 AS x
              FROM base CROSS JOIN reps) xb) ub
),
means AS (
  SELECT grp, b,
         CAST(SUM(wgt * cents) AS DOUBLE) / (100.0 * CAST(SUM(wgt) AS DOUBLE)) AS mean_b
  FROM w GROUP BY grp, b HAVING SUM(wgt) > 0
),
ci AS (SELECT grp, list_sort(list(mean_b)) AS ms FROM means GROUP BY grp),
pt AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, SUM(cents) AS sc FROM base GROUP BY grp)
SELECT pt.grp AS event_type, pt.n,
       {r6('CAST(pt.sc AS DOUBLE) / (100.0 * CAST(pt.n AS DOUBLE))', 'mean_hat')},
       {r6('ci.ms[2]', 'ci_lo')},
       {r6('ci.ms[63]', 'ci_hi')}
FROM pt JOIN ci ON pt.grp = ci.grp
"""


# Cross-split near-dup contamination: the LSH pair oracle composed with
# the q_hash_split CASE re-derived inline on each pair endpoint
ORACLES["q_split_contamination"] = """
WITH pairs AS (
  {PAIRS}
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, split_a, split_b
FROM (
  SELECT id_a, id_b,
         CASE WHEN substring(md5('split1|' || CAST(id_a AS STRING)), 1, 8) < '{t1}' THEN 'train'
              WHEN substring(md5('split1|' || CAST(id_a AS STRING)), 1, 8) < '{t2}' THEN 'val'
              ELSE 'test' END AS split_a,
         CASE WHEN substring(md5('split1|' || CAST(id_b AS STRING)), 1, 8) < '{t1}' THEN 'train'
              WHEN substring(md5('split1|' || CAST(id_b AS STRING)), 1, 8) < '{t2}' THEN 'val'
              ELSE 'test' END AS split_b
  FROM pairs
) sp
WHERE split_a <> split_b
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip()).replace(
    "{t1}", _SPLIT_T1
).replace("{t2}", _SPLIT_T2)


# Exact tie-corrected ROC AUC per source: Mann-Whitney doubled-midrank
# algebra over the compacted (source, n_chars) histogram (mirror of
# drift.auc_binary; label = lang='en' — the Gopher pass flag is
# degenerate on the synthetic corpus, stop_hits never reaches 2)
ORACLES["q_auc"] = f"""
WITH lbl AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS val,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l
  FROM documents
),
pv AS (
  SELECT source, val,
         COUNT(CASE WHEN l = 1 THEN 1 END) AS p,
         COUNT(CASE WHEN l <> 1 THEN 1 END) AS q
  FROM lbl GROUP BY source, val
),
cb AS (
  SELECT source, p, q, (p + q) AS t,
         SUM(p + q) OVER (PARTITION BY source ORDER BY val
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (p + q) AS cbv
  FROM pv
),
g AS (
  SELECT source,
         CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(q) AS BIGINT) AS n_neg,
         CAST(SUM(p * (2 * cbv + t + 1)) AS BIGINT) AS two_r
  FROM cb GROUP BY source
)
SELECT source, n_pos, n_neg,
       {r6("CASE WHEN n_pos > 0 AND n_neg > 0 THEN ((CAST(two_r AS DOUBLE) - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0)) / 2.0) / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END", "auc")}
FROM g
"""


# LSH calibration: the banded-minhash candidate list vs exact 3-gram
# Jaccard >= 0.5 ground truth (both CTEs are the existing oracles
# verbatim), one full-outer pair join, exact longs + two divisions
ORACLES["q_lsh_recall"] = f"""
WITH cand AS (
  {{PAIRS}}
),
tru AS (
  SELECT id_a, id_b FROM ({{JACC}}) jq
),
j AS (
  SELECT (t.id_a IS NOT NULL) AS in_t, (c.id_a IS NOT NULL) AS in_c
  FROM cand c FULL OUTER JOIN tru t ON c.id_a = t.id_a AND c.id_b = t.id_b
)
SELECT CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       CAST(SUM(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       {r6("CASE WHEN SUM(CASE WHEN in_t THEN 1 ELSE 0 END) > 0 THEN CAST(SUM(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS DOUBLE) / CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS DOUBLE) END", "recall")},
       {r6("CASE WHEN SUM(CASE WHEN in_c THEN 1 ELSE 0 END) > 0 THEN CAST(SUM(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS DOUBLE) / CAST(SUM(CASE WHEN in_c THEN 1 ELSE 0 END) AS DOUBLE) END", "precision")}
FROM j
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip()).replace(
    "{JACC}", ORACLES["q_ngram_jaccard"].strip()
)


# Delete-one-cluster jackknife: per-user exact integer sums, leave-one-
# out means as single divisions, both cluster reductions as ordered
# left folds (the log_rank list_reduce idiom, ordered by cluster id —
# Spark's sort_array(collect_list(struct(c, ...))) sorts by the same
# leading key)
ORACLES["q_jackknife"] = f"""
WITH base AS (
  SELECT event_type AS grp, user_id AS c,
         CAST(FLOOR(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS cents
  FROM events
),
pc AS (
  SELECT grp, c, CAST(SUM(cents) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM base GROUP BY grp, c
),
pm AS (
  SELECT grp, c, s, n,
         CAST(SUM(s) OVER (PARTITION BY grp) AS BIGINT) AS st,
         CAST(SUM(n) OVER (PARTITION BY grp) AS BIGINT) AS nt,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS gc
  FROM pc
),
pm2 AS (
  SELECT grp, c, st, nt, gc,
         CASE WHEN nt > n
              THEN CAST(st - s AS DOUBLE) / (100.0 * CAST(nt - n AS DOUBLE))
              ELSE 0.0 END AS m
  FROM pm
),
g AS (
  SELECT grp, gc, st, nt,
         list_reduce([0.0] || list(m ORDER BY c), (p, q) -> p + q) AS sum_m
  FROM pm2 GROUP BY grp, gc, st, nt
),
g2 AS (
  SELECT p.grp, g.gc, g.st, g.nt,
         list_reduce([0.0] || list(
             (p.m - g.sum_m / CAST(g.gc AS DOUBLE))
             * (p.m - g.sum_m / CAST(g.gc AS DOUBLE)) ORDER BY p.c),
           (x, y) -> x + y) AS ss
  FROM pm2 p JOIN g ON p.grp = g.grp
  GROUP BY p.grp, g.gc, g.st, g.nt, g.sum_m
),
fin AS (
  SELECT grp, gc, nt,
         CAST(st AS DOUBLE) / (100.0 * CAST(nt AS DOUBLE)) AS mh,
         CASE WHEN gc >= 2 THEN SQRT((CAST(gc AS DOUBLE) - 1.0)
                                     / CAST(gc AS DOUBLE) * ss) END AS se
  FROM g2
)
SELECT grp AS event_type, nt AS n, gc AS n_clusters,
       {r6('mh', 'mean_hat')},
       {r6('se', 'jk_se')},
       {r6('mh - 1.96 * se', 'ci_lo')},
       {r6('mh + 1.96 * se', 'ci_hi')}
FROM fin
"""


# SRM guard: the q_hash_split CASE re-derived inline, conditional counts,
# chi-square as a FIXED 3-slot expression (mirror of curation.srm_check)
ORACLES["q_srm"] = """
WITH sp AS (
  SELECT CASE WHEN substring(md5('split1|' || CAST(doc_id AS STRING)), 1, 8) < '{t1}' THEN 'train'
              WHEN substring(md5('split1|' || CAST(doc_id AS STRING)), 1, 8) < '{t2}' THEN 'val'
              ELSE 'test' END AS s
  FROM documents
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(COUNT(CASE WHEN s = 'train' THEN 1 END) AS BIGINT) AS n_train,
         CAST(COUNT(CASE WHEN s = 'val' THEN 1 END) AS BIGINT) AS n_val,
         CAST(COUNT(CASE WHEN s = 'test' THEN 1 END) AS BIGINT) AS n_test
  FROM sp
)
SELECT n_total, n_train, n_val, n_test,
       {chi}
FROM g
""".replace("{t1}", _SPLIT_T1).replace("{t2}", _SPLIT_T2).replace(
    "{chi}",
    r6(
        "(CAST(n_train AS DOUBLE) - 0.8 * CAST(n_total AS DOUBLE))"
        " * (CAST(n_train AS DOUBLE) - 0.8 * CAST(n_total AS DOUBLE))"
        " / (0.8 * CAST(n_total AS DOUBLE))"
        " + (CAST(n_val AS DOUBLE) - 0.1 * CAST(n_total AS DOUBLE))"
        " * (CAST(n_val AS DOUBLE) - 0.1 * CAST(n_total AS DOUBLE))"
        " / (0.1 * CAST(n_total AS DOUBLE))"
        " + (CAST(n_test AS DOUBLE) - 0.1 * CAST(n_total AS DOUBLE))"
        " * (CAST(n_test AS DOUBLE) - 0.1 * CAST(n_total AS DOUBLE))"
        " / (0.1 * CAST(n_total AS DOUBLE))",
        "chi2",
    ),
)


# Randomization test: epoch-day DOW arithmetic (engine-portable),
# square-mod hash side flips (profile.permutation_test), integer-cents
# sums, |diff| tail comparisons as identical IEEE ops
ORACLES["q_perm_test"] = f"""
WITH base AS (
  SELECT event_type AS grp, CAST(event_id AS BIGINT) AS id,
         CAST(FLOOR(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS cents,
         ((CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0) AS BIGINT) + 4) % 7)
           IN (0, 6) AS we
  FROM events
),
obs AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CASE WHEN we THEN cents END) AS s1,
         CAST(COUNT(CASE WHEN we THEN 1 END) AS BIGINT) AS n1,
         SUM(CASE WHEN NOT we THEN cents END) AS s0,
         CAST(COUNT(CASE WHEN NOT we THEN 1 END) AS BIGINT) AS n0
  FROM base GROUP BY grp
),
obs2 AS (
  SELECT grp, n,
         CASE WHEN n1 > 0 AND n0 > 0 THEN
           CAST(s1 AS DOUBLE) / (100.0 * CAST(n1 AS DOUBLE))
           - CAST(s0 AS DOUBLE) / (100.0 * CAST(n0 AS DOUBLE)) END AS obs_diff
  FROM obs
),
reps AS (SELECT CAST(b AS BIGINT) AS b FROM generate_series(0, 63) t(b)),
rl AS (
  SELECT grp, b, cents,
         (CAST((((x * x + x) % 2147483647) * 48271) % 2147483647 AS DOUBLE)
          / 2147483647.0) < 0.5 AS side
  FROM (SELECT grp, cents, b, (id * 48271 + b * 69621 + 12345) % 2147483647 AS x
        FROM base CROSS JOIN reps) xb
),
d AS (
  SELECT grp, b,
         SUM(CASE WHEN side THEN cents END) AS s1,
         COUNT(CASE WHEN side THEN 1 END) AS n1,
         SUM(CASE WHEN NOT side THEN cents END) AS s0,
         COUNT(CASE WHEN NOT side THEN 1 END) AS n0
  FROM rl GROUP BY grp, b
  HAVING COUNT(CASE WHEN side THEN 1 END) > 0
     AND COUNT(CASE WHEN NOT side THEN 1 END) > 0
),
dd AS (
  SELECT grp,
         CAST(s1 AS DOUBLE) / (100.0 * CAST(n1 AS DOUBLE))
         - CAST(s0 AS DOUBLE) / (100.0 * CAST(n0 AS DOUBLE)) AS diff
  FROM d
),
tl AS (
  SELECT dd.grp,
         CAST(COUNT(*) AS BIGINT) AS n_valid,
         CAST(COUNT(CASE WHEN ABS(diff) >= ABS(o.obs_diff) THEN 1 END) AS BIGINT) AS n_ge
  FROM dd JOIN obs2 o ON dd.grp = o.grp
  GROUP BY dd.grp
)
SELECT o.grp AS event_type, o.n,
       {r6('o.obs_diff', 'obs_diff')},
       CAST(COALESCE(t.n_ge, 0) AS BIGINT) AS n_ge,
       CAST(COALESCE(t.n_valid, 0) AS BIGINT) AS n_valid,
       {r6("CASE WHEN o.obs_diff IS NOT NULL THEN (CAST(COALESCE(t.n_ge, 0) AS DOUBLE) + 1.0) / (CAST(COALESCE(t.n_valid, 0) AS DOUBLE) + 1.0) END", 'p_hat')}
FROM obs2 o LEFT JOIN tl t ON o.grp = t.grp
"""


# Kruskal-Wallis H: the mw_drift doubled-rank algebra globalized — ranks
# over the compacted (value -> per-group count) histogram, exact long
# 2R_g per group, ordered left fold over groups for the H sum, fixed
# tie-correction expression (mirror of drift.kruskal_wallis)
ORACLES["q_kruskal"] = f"""
WITH p AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
),
pg AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY g, v),
pv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM pg GROUP BY v),
pv2 AS (
  SELECT v, t,
         CAST(SUM(t) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - t AS BIGINT) AS cb
  FROM pv
),
sg AS (
  SELECT g, CAST(SUM(pg.c) AS BIGINT) AS n_g,
         CAST(SUM(pg.c * (2 * pv2.cb + pv2.t + 1)) AS BIGINT) AS two_r
  FROM pg JOIN pv2 USING (v) GROUP BY g
),
tie AS (SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie FROM pv),
agg AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         list_reduce([0.0] || list(
             (CAST(two_r AS DOUBLE) / 2.0) * (CAST(two_r AS DOUBLE) / 2.0)
             / CAST(n_g AS DOUBLE) ORDER BY g),
           (a, b) -> a + b) AS st
  FROM sg
),
fin AS (
  SELECT n, k, st, tie, CAST(n AS DOUBLE) AS nd FROM agg, tie
),
f2 AS (
  SELECT n, k, nd,
         12.0 / (nd * (nd + 1.0)) * st - 3.0 * (nd + 1.0) AS h,
         1.0 - CAST(tie AS DOUBLE) / (nd * nd * nd - nd) AS c
  FROM fin
)
SELECT n, k, CAST(k - 1 AS BIGINT) AS df,
       {r6('CASE WHEN n >= 2 THEN h END', 'h')},
       {r6('CASE WHEN n >= 2 AND c > 0 THEN h / c END', 'h_corr')}
FROM f2
"""


# Brown-Forsythe: per-group sorted-median pick (_TS_MED), exact long
# doubled/quadrupled deviation sums, ordered left folds over groups for
# the between/within sums (mirror of drift.brown_forsythe)
ORACLES["q_brown_forsythe"] = f"""
WITH p AS (
  SELECT source AS g, CAST(n_chars AS DOUBLE) AS x
  FROM documents WHERE n_chars IS NOT NULL
),
med AS (
  SELECT g, {_TS_MED.format(a='list_sort(list(x))')} AS med
  FROM p GROUP BY g
),
zt AS (SELECT p.g, ABS(p.x - med.med) AS z FROM p JOIN med ON p.g = med.g),
pg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CAST(z * 2.0 AS BIGINT)) AS BIGINT) AS sz2,
         CAST(SUM(CAST(z * z * 4.0 AS BIGINT)) AS BIGINT) AS sz4
  FROM zt GROUP BY g
),
agg AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(sz2) AS BIGINT) AS szt,
         list(struct_pack(g := g, n_g := n_g, sz2 := sz2, sz4 := sz4)
              ORDER BY g) AS gs
  FROM pg
),
fin AS (
  SELECT n, k, gs, CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
         CAST(szt AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)) AS zbar
  FROM agg
),
f2 AS (
  SELECT n, k, nd, kd,
         list_reduce([0.0] || list_transform(gs, e ->
             CAST(e.n_g AS DOUBLE)
             * (CAST(e.sz2 AS DOUBLE) / (2.0 * CAST(e.n_g AS DOUBLE)) - zbar)
             * (CAST(e.sz2 AS DOUBLE) / (2.0 * CAST(e.n_g AS DOUBLE)) - zbar)),
           (a, b) -> a + b) AS ssb,
         list_reduce([0.0] || list_transform(gs, e ->
             CAST(e.sz4 AS DOUBLE) / 4.0
             - (CAST(e.sz2 AS DOUBLE) * CAST(e.sz2 AS DOUBLE))
               / (4.0 * CAST(e.n_g AS DOUBLE))),
           (a, b) -> a + b) AS ssw
  FROM fin
)
SELECT n, k, CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
       {r6('''CASE WHEN k >= 2 AND n > k AND ssw > 0
              THEN (nd - kd) / (kd - 1.0) * ssb / ssw END''', 'w_stat')}
FROM f2
"""


# Wald-Wolfowitz runs test: turn-ordered sign list about the sorted-
# median pick, ties dropped before adjacency, exact integer run count,
# fixed mu/var/z chain (mirror of profile.runs_test)
ORACLES["q_runs_test"] = f"""
WITH t AS ({T}),
l AS (
  SELECT conv_id,
         list(CAST(signal AS BIGINT) ORDER BY ts, turn_idx) AS xs,
         list_sort(list(CAST(signal AS DOUBLE))) AS vals
  FROM t WHERE signal IS NOT NULL GROUP BY conv_id
),
m AS (SELECT conv_id, xs, {_TS_MED.format(a='vals')} AS med FROM l),
s AS (
  SELECT conv_id,
         list_filter(list_transform(xs, v ->
             CASE WHEN CAST(v AS DOUBLE) > med THEN 1
                  WHEN CAST(v AS DOUBLE) < med THEN -1 ELSE 0 END),
           v -> v <> 0) AS ss
  FROM m
),
c AS (
  SELECT conv_id,
         CAST(len(list_filter(ss, v -> v = 1)) AS BIGINT) AS n_above,
         CAST(len(list_filter(ss, v -> v = -1)) AS BIGINT) AS n_below,
         CAST(CASE WHEN len(ss) > 0 THEN 1 + len(list_filter(
                 list_transform(generate_series(2, len(ss)),
                                i -> ss[i] <> ss[i - 1]),
                 v -> v))
              ELSE 0 END AS BIGINT) AS n_runs
  FROM s
),
f AS (
  SELECT conv_id, n_above, n_below, n_runs,
         CAST(n_above AS DOUBLE) AS n1, CAST(n_below AS DOUBLE) AS n2
  FROM c
),
f2 AS (
  SELECT conv_id, n_above, n_below, n_runs, n1, n2,
         n1 + n2 AS n, 2.0 * n1 * n2 AS two_p
  FROM f
)
SELECT conv_id, n_above, n_below, n_runs,
       {r6('''CASE WHEN n_above > 0 AND n_below > 0 AND n > 1 THEN
              CASE WHEN two_p * (two_p - n) / (n * n * (n - 1.0)) > 0
                   THEN (CAST(n_runs AS DOUBLE) - (two_p / n + 1.0))
                        / SQRT(two_p * (two_p - n) / (n * n * (n - 1.0)))
              END END''', 'z')}
FROM f2
"""


# Average precision: distinct-score-level step AP per source (mirror of
# drift.average_precision — compacted levels, desc-ordered fold)
ORACLES["q_avg_precision"] = f"""
WITH lbl AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l
  FROM documents
),
pv AS (
  SELECT source, s,
         CAST(COUNT(CASE WHEN l = 1 THEN 1 END) AS BIGINT) AS p,
         CAST(COUNT(*) AS BIGINT) AS t
  FROM lbl GROUP BY source, s
),
lv AS (
  SELECT source, s, p,
         CAST(SUM(p) OVER (PARTITION BY source ORDER BY s DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cp,
         CAST(SUM(t) OVER (PARTITION BY source ORDER BY s DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cn
  FROM pv
),
g AS (
  SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos, CAST(MAX(cn) AS BIGINT) AS n,
         list(struct_pack(p := p, cp := cp, cn := cn) ORDER BY s DESC) AS ls
  FROM lv GROUP BY source
)
SELECT source, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg,
       {r6('''CASE WHEN n_pos > 0 THEN
              list_reduce([0.0] || list_transform(ls, e ->
                  (CAST(e.p AS DOUBLE) / CAST(n_pos AS DOUBLE))
                  * (CAST(e.cp AS DOUBLE) / CAST(e.cn AS DOUBLE))),
                (a, b) -> a + b) END''', 'ap')}
FROM g
"""


# Cramér's V: epoch-day dow x event_type full-grid chi-square, ordered
# cell fold (mirror of drift.cramers_v; dow idiom = permutation_test's)
ORACLES["q_cramers_v"] = f"""
WITH b AS (
  SELECT CAST((CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
               AS BIGINT) + 4) % 7 AS BIGINT) AS r,
         event_type AS c
  FROM events
),
cells AS (SELECT r, c, CAST(COUNT(*) AS BIGINT) AS o FROM b GROUP BY r, c),
marked AS (
  SELECT r, c, o,
         CAST(SUM(o) OVER (PARTITION BY r) AS BIGINT) AS rt,
         CAST(SUM(o) OVER (PARTITION BY c) AS BIGINT) AS ct
  FROM cells
),
g AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT r) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT c) AS BIGINT) AS n_cols,
         list(struct_pack(o := o, rt := rt, ct := ct) ORDER BY r, c) AS cs
  FROM marked
),
f AS (
  SELECT n, n_rows, n_cols, CAST(n AS DOUBLE) AS nd,
         CAST(LEAST(n_rows - 1, n_cols - 1) AS BIGINT) AS kmin,
         list_reduce([0.0] || list_transform(cs, e ->
             (CAST(e.o AS DOUBLE)
              - CAST(e.rt AS DOUBLE) * CAST(e.ct AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(e.o AS DOUBLE)
                - CAST(e.rt AS DOUBLE) * CAST(e.ct AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(e.rt AS DOUBLE) * CAST(e.ct AS DOUBLE) / CAST(n AS DOUBLE))
             - CAST(e.rt AS DOUBLE) * CAST(e.ct AS DOUBLE) / CAST(n AS DOUBLE)),
           (a, b) -> a + b) + CAST(n AS DOUBLE) AS chi2
  FROM g
)
SELECT n, n_rows, n_cols,
       CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS df,
       {r6('CASE WHEN n > 0 THEN chi2 END', 'chi2')},
       {r6('CASE WHEN kmin > 0 AND n > 0 THEN SQRT(chi2 / (nd * CAST(kmin AS DOUBLE))) END', 'v')}
FROM f
"""


# Burstiness: occupied-hour Fano + inter-arrival CV + Goh-Barabási B
# (mirror of profile.burstiness; gap square sum rides HUGEINT like the
# engine's DECIMAL(38,0))
ORACLES["q_burstiness"] = f"""
WITH b AS (SELECT event_type AS g, epoch_us(ts) AS us, event_id FROM events),
ph AS (
  SELECT g, CAST(FLOOR(CAST(us AS DOUBLE) / 3600000000.0) AS BIGINT) AS hb,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM b GROUP BY g, hb
),
hrs AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM ph GROUP BY g
),
gp AS (
  SELECT g, us - LAG(us) OVER (PARTITION BY g ORDER BY us, event_id) AS gap
  FROM b
),
pg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap) AS BIGINT) AS sg,
         SUM(CAST(gap AS HUGEINT) * gap) AS sgg
  FROM gp WHERE gap IS NOT NULL GROUP BY g
),
j AS (
  SELECT hrs.g, hrs.n_events, hrs.n_hours, hrs.scc,
         COALESCE(pg.n_gaps, 0) AS n_gaps, pg.sg, pg.sgg,
         CAST(hrs.n_events AS DOUBLE) AS nd, CAST(hrs.n_hours AS DOUBLE) AS bd
  FROM hrs LEFT JOIN pg ON hrs.g = pg.g
),
f AS (
  SELECT g, n_events, n_hours, n_gaps,
         (CAST(scc AS DOUBLE) / bd - (nd / bd) * (nd / bd)) / (nd / bd) AS fano,
         CASE WHEN n_gaps > 0 AND sg > 0 THEN
           CASE WHEN CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                     - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                       * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) >= 0
                THEN SQRT(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                          - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                            * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                     / (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
           END END AS cv
  FROM j
)
SELECT g AS event_type, n_events, n_hours,
       {r6('fano', 'fano')},
       CAST(n_gaps AS BIGINT) AS n_gaps,
       {r6('cv', 'cv_gap')},
       {r6('(cv - 1.0) / (cv + 1.0)', 'burstiness')}
FROM f
"""


# HyperLogLog: explicit-hash 256-register HLL with the integer CASE-
# ladder rank and bucket-ordered dyadic fold (mirror of
# sketches.hyperloglog_by; hash = the square-mod MIXING hash — the
# affine CMS hash leaves the high bits HLL ranks read structured)
_HLL_W = 23
_HLL_LADDER = (
    "CASE "
    + " ".join(f"WHEN rest >= {1 << (_HLL_W - r)} THEN {r}" for r in range(1, _HLL_W + 1))
    + f" ELSE {_HLL_W + 1} END"
)

ORACLES["q_hll"] = f"""
WITH b0 AS (
  SELECT event_type AS g,
         ((ABS(user_id) % 2147483647) * 48271 + 12345) % 2147483647 AS x
  FROM events
),
b1 AS (SELECT g, (x * x + x) % 2147483647 AS y FROM b0),
b AS (SELECT g, (y * 48271) % 2147483647 AS h FROM b1),
hb AS (
  SELECT g, CAST(h % 256 AS INT) AS bkt,
         CAST(FLOOR(CAST(h AS DOUBLE) / 256.0) AS BIGINT) AS rest
  FROM b
),
hr AS (SELECT g, bkt, {_HLL_LADDER} AS rnk FROM hb),
regs AS (SELECT g, bkt, CAST(MAX(rnk) AS INT) AS reg FROM hr GROUP BY g, bkt),
folds AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS occupied,
         list_reduce([0.0] || list(POWER(2.0, -CAST(reg AS DOUBLE)) ORDER BY bkt),
           (x, y) -> x + y) AS z_occ
  FROM regs GROUP BY g
),
ex AS (
  SELECT event_type AS g, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
),
j AS (
  SELECT ex.g, exact_distinct, occupied,
         CAST(256 - occupied AS BIGINT) AS v,
         z_occ + CAST(CAST(256 - occupied AS BIGINT) AS DOUBLE) AS zsum
  FROM ex JOIN folds ON ex.g = folds.g
),
f AS (
  SELECT g, exact_distinct, occupied, v,
         CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 / zsum
                   <= 2.5 * 256.0 AND v > 0
              THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
              ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 / zsum
         END AS est
  FROM j
)
SELECT g AS event_type, exact_distinct, occupied, v AS v_zero,
       {r6('est', 'est_distinct')},
       {r6('(est - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE) * 100.0', 'err_pct')}
FROM f
"""


# Chao1 + Good-Turing: exact long (D, N, f1, f2) over the normalized
# whitespace tokens, fixed estimate chains (mirror of
# text.chao1_richness; tokenization = the q_vocab NORM_DOC idiom)
ORACLES["q_chao1"] = f"""
WITH toks AS (
  SELECT source AS g, UNNEST({TOKS_DOC}) AS tok FROM documents
),
pt AS (SELECT g, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY g, tok),
gg AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_vocab,
         CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS f1,
         CAST(COUNT(CASE WHEN c = 2 THEN 1 END) AS BIGINT) AS f2
  FROM pt GROUP BY g
)
SELECT g AS source, n_tokens, n_vocab, f1, f2,
       {r6('''CASE WHEN n_tokens > 0 THEN CAST(n_vocab AS DOUBLE)
              + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
                / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)) END''', 'chao1')},
       {r6('CASE WHEN n_tokens > 0 THEN CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) END', 'gt_unseen')},
       {r6('CASE WHEN n_tokens > 0 THEN 1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) END', 'coverage')}
FROM gg
"""


# PageRank: the identical 4 unrolled iterations over the bipartite
# user x (event_type:dow) graph — init 1/N, per-iteration src-ordered
# contribution folds, (pr desc, node asc) top-20 (mirror of
# graph.pagerank_bipartite via q_pagerank)
_PR_ITERS = "".join(
    f""",
sh{i} AS (
  SELECT p.node AS src, p.pr / CAST(d.od AS DOUBLE) AS sh
  FROM pr{i} p JOIN deg d ON p.node = d.src
),
pr{i + 1} AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / nd
         + 0.85 * list_reduce([0.0] || list(s.sh ORDER BY e.src),
                              (a, b) -> a + b) AS pr
  FROM nn CROSS JOIN edges e JOIN sh{i} s ON e.src = s.src
  GROUP BY e.dst, nd
)"""
    for i in range(4)
)

ORACLES["q_pagerank"] = f"""
WITH p0 AS (
  SELECT DISTINCT
         'u:' || CAST(user_id AS STRING) AS u,
         't:' || event_type || ':' ||
           CAST((CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
                 AS BIGINT) + 4) % 7 AS STRING) AS t
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
edges AS (
  SELECT u AS src, t AS dst FROM p0
  UNION ALL
  SELECT t AS src, u AS dst FROM p0
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM deg),
pr0 AS (SELECT src AS node, 1.0 / nd AS pr FROM deg CROSS JOIN nn){_PR_ITERS}
SELECT node, {r6('pr4.pr * nd', 'pr_scaled')}
FROM pr4 CROSS JOIN nn
ORDER BY pr4.pr DESC, node ASC
LIMIT 20
"""


# Two-sample Anderson-Darling (Scholz-Stephens tie-adjusted, k=2):
# the mw_drift compaction + exact long block/below counts, midblock
# halves, guarded per-block terms, value-ordered folds per sample
# (mirror of drift.ad_drift)
ORACLES["q_ad_drift"] = f"""
WITH t AS ({T}),
pv AS (
  SELECT role, CAST(signal AS DOUBLE) AS v,
         CAST(COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END)
              AS BIGINT) AS r,
         CAST(COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 END)
              AS BIGINT) AS c
  FROM t WHERE signal IS NOT NULL GROUP BY role, v
),
lv AS (
  SELECT role, v, r, c, r + c AS l,
         CAST(SUM(r + c) OVER (PARTITION BY role ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (r + c)
              AS BIGINT) AS lb,
         CAST(SUM(r) OVER (PARTITION BY role ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - r
              AS BIGINT) AS rb
  FROM pv
),
g AS (
  SELECT role, CAST(SUM(r) AS BIGINT) AS n_ref, CAST(SUM(c) AS BIGINT) AS n_cur,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         list(struct_pack(v := v, r := r, c := c, l := l, lb := lb, rb := rb)
              ORDER BY v) AS bs
  FROM lv GROUP BY role
),
f AS (
  SELECT role, n_ref, n_cur, n_blocks,
         CAST(n_ref AS DOUBLE) AS n1, CAST(n_cur AS DOUBLE) AS n2,
         CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE) AS nd, bs
  FROM g
),
f2 AS (
  SELECT role, n_ref, n_cur, n_blocks, n1, n2, nd,
         list_reduce([0.0] || list_transform(bs, e ->
           CASE WHEN (CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0)
                     * (nd - (CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0))
                     - nd * CAST(e.l AS DOUBLE) / 4.0 > 0
                THEN (CAST(e.l AS DOUBLE) / nd)
                     * ((nd * (CAST(e.rb AS DOUBLE) + CAST(e.r AS DOUBLE) / 2.0)
                         - n1 * (CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0))
                        * (nd * (CAST(e.rb AS DOUBLE) + CAST(e.r AS DOUBLE) / 2.0)
                           - n1 * (CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0)))
                     / ((CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0)
                        * (nd - (CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0))
                        - nd * CAST(e.l AS DOUBLE) / 4.0)
                ELSE 0.0 END),
           (a, b) -> a + b) AS inner1,
         list_reduce([0.0] || list_transform(bs, e ->
           CASE WHEN (CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0)
                     * (nd - (CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0))
                     - nd * CAST(e.l AS DOUBLE) / 4.0 > 0
                THEN (CAST(e.l AS DOUBLE) / nd)
                     * ((nd * (CAST(e.lb - e.rb AS DOUBLE) + CAST(e.l - e.r AS DOUBLE) / 2.0)
                         - n2 * (CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0))
                        * (nd * (CAST(e.lb - e.rb AS DOUBLE) + CAST(e.l - e.r AS DOUBLE) / 2.0)
                           - n2 * (CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0)))
                     / ((CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0)
                        * (nd - (CAST(e.lb AS DOUBLE) + CAST(e.l AS DOUBLE) / 2.0))
                        - nd * CAST(e.l AS DOUBLE) / 4.0)
                ELSE 0.0 END),
           (a, b) -> a + b) AS inner2
  FROM f
)
SELECT role, n_ref, n_cur, n_blocks,
       {r6('''CASE WHEN n_ref > 0 AND n_cur > 0 AND n_blocks > 1
              THEN (nd - 1.0) / nd * (inner1 / n1 + inner2 / n2) END''', 'a2')}
FROM f2
"""


# One-way ANOVA F: integer-cents sufficient statistics (square sums on
# HUGEINT mirroring the engine's DECIMAL(38,0)), group-name-ordered
# between/within folds (mirror of drift.f_oneway)
ORACLES["q_f_oneway"] = f"""
WITH p AS (
  SELECT event_type AS g,
         CAST(FLOOR(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL
),
pg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g, CAST(SUM(x) AS BIGINT) AS sx,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM p GROUP BY g
),
agg AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(sx) AS BIGINT) AS sxt,
         list(struct_pack(g := g, n_g := n_g, sx := sx, sxx := sxx)
              ORDER BY g) AS gs
  FROM pg
),
fin AS (
  SELECT n, k, gs, CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
         CAST(sxt AS DOUBLE) / CAST(n AS DOUBLE) AS gmean
  FROM agg
),
f2 AS (
  SELECT n, k, nd, kd,
         list_reduce([0.0] || list_transform(gs, e ->
             CAST(e.n_g AS DOUBLE)
             * (CAST(e.sx AS DOUBLE) / CAST(e.n_g AS DOUBLE) - gmean)
             * (CAST(e.sx AS DOUBLE) / CAST(e.n_g AS DOUBLE) - gmean)),
           (a, b) -> a + b) AS ssb,
         list_reduce([0.0] || list_transform(gs, e ->
             CAST(e.sxx AS DOUBLE)
             - CAST(e.sx AS DOUBLE) * CAST(e.sx AS DOUBLE)
               / CAST(e.n_g AS DOUBLE)),
           (a, b) -> a + b) AS ssw
  FROM fin
)
SELECT n, k, CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
       {r6('''CASE WHEN k >= 2 AND n > k AND ssw > 0
              THEN (ssb / (kd - 1.0)) / (ssw / (nd - kd)) END''', 'f_stat')}
FROM f2
"""


# McNemar: per-entity paired pre/post purchase flags, discordant-cell
# chi-square with continuity correction (mirror of drift.mcnemar)
ORACLES["q_mcnemar"] = f"""
WITH pe AS (
  SELECT user_id,
         COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                    AND event_type = 'purchase' THEN 1 END) > 0 AS pre,
         COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                    AND event_type = 'purchase' THEN 1 END) > 0 AS post
  FROM events GROUP BY user_id
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_entities,
         CAST(COUNT(CASE WHEN pre AND post THEN 1 END) AS BIGINT) AS n_both,
         CAST(COUNT(CASE WHEN pre AND NOT post THEN 1 END) AS BIGINT) AS n_pre_only,
         CAST(COUNT(CASE WHEN NOT pre AND post THEN 1 END) AS BIGINT) AS n_post_only,
         CAST(COUNT(CASE WHEN NOT pre AND NOT post THEN 1 END) AS BIGINT) AS n_neither
  FROM pe
)
SELECT n_entities, n_both, n_pre_only, n_post_only, n_neither,
       {r6('''CASE WHEN n_pre_only + n_post_only > 0 THEN
              CAST(ABS(n_pre_only - n_post_only) - 1 AS DOUBLE)
              * CAST(ABS(n_pre_only - n_post_only) - 1 AS DOUBLE)
              / CAST(n_pre_only + n_post_only AS DOUBLE) END''', 'chi2')}
FROM g
"""


# Triangle census over the LSH candidate-pair graph: degree-oriented
# wedge enumeration closed against the undirected edge set (mirror of
# graph.triangle_stats; the edge CTE is the q_minhash_pairs oracle
# verbatim)
ORACLES["q_triangles"] = f"""
WITH und AS (
  SELECT CAST(LEAST(id_a, id_b) AS BIGINT) AS a,
         CAST(GREATEST(id_a, id_b) AS BIGINT) AS b
  FROM ({{PAIRS}}) pq WHERE id_a <> id_b
),
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und) x
  GROUP BY n
),
e AS (
  SELECT und.a, und.b, da.d AS dda, db.d AS ddb
  FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b
),
o AS (
  SELECT CASE WHEN dda < ddb OR (dda = ddb AND a < b) THEN a ELSE b END AS u,
         CASE WHEN dda < ddb OR (dda = ddb AND a < b) THEN b ELSE a END AS v
  FROM e
),
w AS (
  SELECT o1.v AS v1, o2.v AS v2
  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM w WHERE EXISTS (SELECT 1 FROM und WHERE und.a = w.v1 AND und.b = w.v2)
),
gd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
  FROM deg
),
ge AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       {r6('''CASE WHEN n_wedges > 0 THEN
              3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
              END''', 'transitivity')}
FROM gd, ge, tri
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Jarque-Bera: exact long power sums per role, fixed central-moment
# chains (mirror of drift.jarque_bera)
ORACLES["q_jarque_bera"] = f"""
WITH t AS ({T}),
g AS (
  SELECT role, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(signal AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(signal AS BIGINT) * CAST(signal AS BIGINT)) AS BIGINT) AS s2,
         CAST(SUM(CAST(signal AS BIGINT) * CAST(signal AS BIGINT)
                  * CAST(signal AS BIGINT)) AS BIGINT) AS s3,
         CAST(SUM(CAST(signal AS BIGINT) * CAST(signal AS BIGINT)
                  * CAST(signal AS BIGINT) * CAST(signal AS BIGINT)) AS BIGINT) AS s4
  FROM t WHERE signal IS NOT NULL GROUP BY role
),
f AS (
  SELECT role, n, CAST(n AS DOUBLE) AS nd,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
         s2, s3, s4
  FROM g
),
f2 AS (
  SELECT role, n, nd, m,
         CAST(s2 AS DOUBLE) / nd - m * m AS m2,
         CAST(s3 AS DOUBLE) / nd - 3.0 * m * (CAST(s2 AS DOUBLE) / nd)
           + 2.0 * m * m * m AS m3,
         CAST(s4 AS DOUBLE) / nd - 4.0 * m * (CAST(s3 AS DOUBLE) / nd)
           + 6.0 * m * m * (CAST(s2 AS DOUBLE) / nd)
           - 3.0 * m * m * m * m AS m4
  FROM f
),
f3 AS (
  SELECT role, n, nd, m2,
         m3 / SQRT(m2 * m2 * m2) AS skew,
         m4 / (m2 * m2) AS kurt
  FROM f2
)
SELECT role, n,
       {r6('CASE WHEN n >= 2 AND m2 > 0 THEN skew END', 'skewness')},
       {r6('CASE WHEN n >= 2 AND m2 > 0 THEN kurt END', 'kurtosis')},
       {r6('''CASE WHEN n >= 2 AND m2 > 0 THEN
              nd / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
              END''', 'jb')}
FROM f3
"""


# Lexical concentration: Yule's K / Simpson repeat probability /
# Herfindahl from exact (N, D, sum c^2) longs over the q_vocab
# tokenization (mirror of text.lexical_concentration)
ORACLES["q_yule_k"] = f"""
WITH toks AS (
  SELECT source AS g, UNNEST({TOKS_DOC}) AS tok FROM documents
),
pt AS (SELECT g, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY g, tok),
gg AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_vocab,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM pt GROUP BY g
)
SELECT g AS source, n_tokens, n_vocab,
       {r6('''CASE WHEN n_tokens > 0 THEN 10000.0
              * (CAST(scc AS DOUBLE) - CAST(n_tokens AS DOUBLE))
              / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) END''', 'yule_k')},
       {r6('''CASE WHEN n_tokens >= 2 THEN
              (CAST(scc AS DOUBLE) - CAST(n_tokens AS DOUBLE))
              / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0)) END''', 'simpson_d')},
       {r6('''CASE WHEN n_tokens > 0 THEN CAST(scc AS DOUBLE)
              / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) END''', 'herfindahl')}
FROM gg
"""


# Nelson-Aalen: the kaplan_meier bucket machinery with SUM folds for
# the cumulative hazard and its Poisson variance, exp(-H) Fleming-
# Harrington survival (mirror of profile.nelson_aalen)
ORACLES["q_nelson_aalen"] = f"""
WITH t AS ({T}),
pc AS (
  SELECT conv_id,
         MIN(epoch_us(ts)) AS t0,
         MIN(CASE WHEN role = 'tool' THEN epoch_us(ts) END) AS tev,
         MAX(epoch_us(ts)) AS tend
  FROM t GROUP BY conv_id
),
d0 AS (
  SELECT conv_id, (tev IS NOT NULL) AS e,
         CAST(FLOOR(CAST(CASE WHEN tev IS NOT NULL THEN tev - t0
                              ELSE tend - t0 END AS DOUBLE) / 60000000.0) AS BIGINT) AS tb
  FROM pc
),
pt AS (
  SELECT tb AS t_bucket,
         CAST(COUNT(CASE WHEN e THEN 1 END) AS BIGINT) AS d,
         CAST(COUNT(CASE WHEN NOT e THEN 1 END) AS BIGINT) AS c
  FROM d0 GROUP BY tb
),
o AS (
  SELECT t_bucket, d, c,
         SUM(d + c) OVER (ORDER BY t_bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_,
         SUM(d + c) OVER () AS total
  FROM pt
),
nr AS (
  SELECT t_bucket, d, c,
         CAST(total - COALESCE(before_, 0) AS BIGINT) AS n_risk
  FROM o
),
arr AS (
  SELECT list(struct_pack(tb := t_bucket, d := d, c := c, n := n_risk)
              ORDER BY t_bucket) AS a
  FROM nr
),
ex AS (
  SELECT a, unnest(range(1, len(a) + 1)) AS i FROM arr
),
rowed AS (
  SELECT a[i].tb AS t_bucket,
         a[i].tb * 60 AS t_start_s,
         a[i].n AS n_risk, a[i].d AS d, a[i].c AS c,
         list_reduce(
           [0.0] || [CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE)
                     FOR x IN a[1:i]],
           (p, q) -> p + q
         ) AS h,
         list_reduce(
           [0.0] || [CAST(x.d AS DOUBLE)
                     / (CAST(x.n AS DOUBLE) * CAST(x.n AS DOUBLE))
                     FOR x IN a[1:i]],
           (p, q) -> p + q
         ) AS vh
  FROM ex
)
SELECT t_bucket, t_start_s, n_risk, d, c,
       {r6('h', 'h_na')},
       {r6('vh', 'var_h')},
       {r6('EXP(-h)', 's_fh')}
FROM rowed
"""


# HITS: 3 unrolled hub/authority iterations with neighbor-ordered
# folds and node-ordered L2 normalization folds (mirror of
# graph.hits_bipartite via q_hits)
_HITS_ITERS = "".join(
    f""",
ar{i} AS (
  SELECT p.t, list_reduce([0.0] || list(h.h ORDER BY p.u), (x, y) -> x + y) AS a
  FROM p JOIN h{i} h ON p.u = h.u GROUP BY p.t
),
an{i} AS (
  SELECT SQRT(list_reduce([0.0] || list(a * a ORDER BY t), (x, y) -> x + y)) AS nrm
  FROM ar{i}
),
a{i + 1} AS (SELECT t, a / nrm AS a FROM ar{i}, an{i}),
hr{i} AS (
  SELECT p.u, list_reduce([0.0] || list(a.a ORDER BY p.t), (x, y) -> x + y) AS h
  FROM p JOIN a{i + 1} a ON p.t = a.t GROUP BY p.u
),
hn{i} AS (
  SELECT SQRT(list_reduce([0.0] || list(h * h ORDER BY u), (x, y) -> x + y)) AS nrm
  FROM hr{i}
),
h{i + 1} AS (SELECT u, h / nrm AS h FROM hr{i}, hn{i})"""
    for i in range(3)
)

ORACLES["q_hits"] = f"""
WITH p AS (
  SELECT DISTINCT CAST(user_id AS STRING) AS u,
         event_type || ':' ||
           CAST((CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
                 AS BIGINT) + 4) % 7 AS STRING) AS t
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
h0 AS (SELECT DISTINCT u, CAST(1.0 AS DOUBLE) AS h FROM p){_HITS_ITERS}
SELECT * FROM (
  SELECT 'hub' AS kind, u AS node, {r6('h', 'score')}
  FROM h3 ORDER BY h DESC, u ASC LIMIT 10
)
UNION ALL
SELECT * FROM (
  SELECT 'authority' AS kind, t AS node, {r6('a', 'score')}
  FROM a3 ORDER BY a DESC, t ASC LIMIT 10
)
"""


# Label propagation: 3 unrolled synchronous iterations, per-node
# (count desc, label asc) argmax picks (mirror of
# graph.label_propagation over the LSH candidate-pair graph)
_LPA_ITERS = "".join(
    f""",
cnt{i} AS (
  SELECT e.dst AS node, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
  FROM dir_e e JOIN lab{i} l ON e.src = l.node
  GROUP BY e.dst, l.lbl
),
lab{i + 1} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl ASC) AS rn
    FROM cnt{i}
  ) q WHERE rn = 1
)"""
    for i in range(3)
)

ORACLES["q_label_prop"] = f"""
WITH und AS (
  SELECT CAST(LEAST(id_a, id_b) AS BIGINT) AS a,
         CAST(GREATEST(id_a, id_b) AS BIGINT) AS b
  FROM ({{PAIRS}}) pq WHERE id_a <> id_b
),
dir_e AS (
  SELECT a AS src, b AS dst FROM und
  UNION ALL
  SELECT b AS src, a AS dst FROM und
),
lab0 AS (SELECT DISTINCT src AS node, src AS lbl FROM dir_e){_LPA_ITERS},
sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz FROM lab3 GROUP BY lbl),
g AS (
  SELECT CAST(SUM(sz) AS BIGINT) AS n_nodes,
         CAST(COUNT(*) AS BIGINT) AS n_communities,
         CAST(MAX(sz) AS BIGINT) AS max_size
  FROM sizes
)
SELECT n_nodes, n_communities, max_size,
       {r6('CAST(n_nodes AS DOUBLE) / CAST(n_communities AS DOUBLE)', 'mean_size')}
FROM g
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Streaming HLL: the q_hll register replay without the exact-distinct
# columns — the stream's final state equals the batch registers
# (mirror of streaming.streaming_hll via q_stream_hll)
ORACLES["q_stream_hll"] = f"""
WITH b0 AS (
  SELECT event_type AS g,
         ((ABS(user_id) % 2147483647) * 48271 + 12345) % 2147483647 AS x
  FROM events WHERE user_id IS NOT NULL
),
b1 AS (SELECT g, (x * x + x) % 2147483647 AS y FROM b0),
b AS (SELECT g, (y * 48271) % 2147483647 AS h FROM b1),
hb AS (
  SELECT g, CAST(h % 256 AS INT) AS bkt,
         CAST(FLOOR(CAST(h AS DOUBLE) / 256.0) AS BIGINT) AS rest
  FROM b
),
hr AS (SELECT g, bkt, {_HLL_LADDER} AS rnk FROM hb),
regs AS (SELECT g, bkt, CAST(MAX(rnk) AS INT) AS reg FROM hr GROUP BY g, bkt),
folds AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS occupied,
         list_reduce([0.0] || list(POWER(2.0, -CAST(reg AS DOUBLE)) ORDER BY bkt),
           (x, y) -> x + y) AS z_occ
  FROM regs GROUP BY g
),
j AS (
  SELECT g, occupied,
         CAST(256 - occupied AS BIGINT) AS v,
         z_occ + CAST(CAST(256 - occupied AS BIGINT) AS DOUBLE) AS zsum
  FROM folds
),
f AS (
  SELECT g, occupied, v,
         CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 / zsum
                   <= 2.5 * 256.0 AND v > 0
              THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
              ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 / zsum
         END AS est
  FROM j
)
SELECT g AS event_type, occupied, v AS v_zero,
       {r6('est', 'est_distinct')}
FROM f
"""


# Fisher-z correlation drift: exact long correlation sufficient
# statistics per window from one aggregate, fixed r / atanh / z chains
# (mirror of drift.corr_drift; y = second-of-day)
ORACLES["q_corr_drift"] = f"""
WITH t AS ({T}),
b AS (
  SELECT role, CAST(signal AS BIGINT) AS x,
         CAST(FLOOR(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0) AS BIGINT) % 86400 AS y,
         (ts < TIMESTAMP '2024-01-15 00:00:00') AS r
  FROM t WHERE signal IS NOT NULL
),
g AS (
  SELECT role,
         CAST(COUNT(CASE WHEN r THEN 1 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN r THEN x END) AS BIGINT) AS sxr,
         CAST(SUM(CASE WHEN r THEN y END) AS BIGINT) AS syr,
         CAST(SUM(CASE WHEN r THEN x * x END) AS BIGINT) AS sxxr,
         CAST(SUM(CASE WHEN r THEN y * y END) AS BIGINT) AS syyr,
         CAST(SUM(CASE WHEN r THEN x * y END) AS BIGINT) AS sxyr,
         CAST(COUNT(CASE WHEN NOT r THEN 1 END) AS BIGINT) AS n_cur,
         CAST(SUM(CASE WHEN NOT r THEN x END) AS BIGINT) AS sxc,
         CAST(SUM(CASE WHEN NOT r THEN y END) AS BIGINT) AS syc,
         CAST(SUM(CASE WHEN NOT r THEN x * x END) AS BIGINT) AS sxxc,
         CAST(SUM(CASE WHEN NOT r THEN y * y END) AS BIGINT) AS syyc,
         CAST(SUM(CASE WHEN NOT r THEN x * y END) AS BIGINT) AS sxyc
  FROM b GROUP BY role
),
f AS (
  SELECT role, n_ref, n_cur,
         CAST(n_ref AS DOUBLE) AS n1, CAST(n_cur AS DOUBLE) AS n2,
         CAST(n_ref AS DOUBLE) * CAST(sxyr AS DOUBLE)
           - CAST(sxr AS DOUBLE) * CAST(syr AS DOUBLE) AS numr,
         CAST(n_ref AS DOUBLE) * CAST(sxxr AS DOUBLE)
           - CAST(sxr AS DOUBLE) * CAST(sxr AS DOUBLE) AS vxr,
         CAST(n_ref AS DOUBLE) * CAST(syyr AS DOUBLE)
           - CAST(syr AS DOUBLE) * CAST(syr AS DOUBLE) AS vyr,
         CAST(n_cur AS DOUBLE) * CAST(sxyc AS DOUBLE)
           - CAST(sxc AS DOUBLE) * CAST(syc AS DOUBLE) AS numc,
         CAST(n_cur AS DOUBLE) * CAST(sxxc AS DOUBLE)
           - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE) AS vxc,
         CAST(n_cur AS DOUBLE) * CAST(syyc AS DOUBLE)
           - CAST(syc AS DOUBLE) * CAST(syc AS DOUBLE) AS vyc
  FROM g
),
f2 AS (
  SELECT role, n_ref, n_cur, n1, n2,
         CASE WHEN n_ref > 3 AND vxr > 0 AND vyr > 0
              THEN numr / SQRT(vxr * vyr) END AS r_ref,
         CASE WHEN n_cur > 3 AND vxc > 0 AND vyc > 0
              THEN numc / SQRT(vxc * vyc) END AS r_cur
  FROM f
)
SELECT role, n_ref, n_cur,
       {r6('r_ref', 'r_ref')},
       {r6('r_cur', 'r_cur')},
       {r6('''CASE WHEN r_ref IS NOT NULL AND r_cur IS NOT NULL
                   AND ABS(r_ref) < 1.0 AND ABS(r_cur) < 1.0 THEN
              (0.5 * LN((1.0 + r_ref) / (1.0 - r_ref))
               - 0.5 * LN((1.0 + r_cur) / (1.0 - r_cur)))
              / SQRT(1.0 / (n1 - 3.0) + 1.0 / (n2 - 3.0)) END''', 'z')}
FROM f2
"""


# Two-sample energy distance: exact long pair-grid numerators over the
# compacted histogram, three divisions + one combination (mirror of
# drift.energy_drift)
ORACLES["q_energy_drift"] = f"""
WITH t AS ({T}),
pv AS (
  SELECT role, CAST(signal AS BIGINT) AS v,
         CAST(COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END)
              AS BIGINT) AS r,
         CAST(COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 END)
              AS BIGINT) AS c
  FROM t WHERE signal IS NOT NULL GROUP BY role, v
),
grid AS (
  SELECT a.role,
         CAST(SUM(a.r * b.c * ABS(a.v - b.v)) AS BIGINT) AS nxy,
         CAST(SUM(a.r * b.r * ABS(a.v - b.v)) AS BIGINT) AS nxx,
         CAST(SUM(a.c * b.c * ABS(a.v - b.v)) AS BIGINT) AS nyy
  FROM pv a JOIN pv b ON a.role = b.role
  GROUP BY a.role
),
tot AS (
  SELECT role, CAST(SUM(r) AS BIGINT) AS n_ref, CAST(SUM(c) AS BIGINT) AS n_cur
  FROM pv GROUP BY role
),
f AS (
  SELECT tot.role, n_ref, n_cur,
         CAST(n_ref AS DOUBLE) AS n1, CAST(n_cur AS DOUBLE) AS n2,
         CAST(nxy AS DOUBLE) AS dxy, CAST(nxx AS DOUBLE) AS dxx,
         CAST(nyy AS DOUBLE) AS dyy
  FROM tot JOIN grid ON tot.role = grid.role
)
SELECT role, n_ref, n_cur,
       {r6('CASE WHEN n_ref > 0 AND n_cur > 0 THEN dxy / (n1 * n2) END', 'e_xy')},
       {r6('CASE WHEN n_ref > 0 AND n_cur > 0 THEN dxx / (n1 * n1) END', 'e_xx')},
       {r6('CASE WHEN n_ref > 0 AND n_cur > 0 THEN dyy / (n2 * n2) END', 'e_yy')},
       {r6('''CASE WHEN n_ref > 0 AND n_cur > 0 THEN
              2.0 * (dxy / (n1 * n2)) - dxx / (n1 * n1) - dyy / (n2 * n2)
              END''', 'energy')}
FROM f
"""


# k-core peeling summary: 4 unrolled peel rounds over the LSH
# candidate-pair graph (mirror of graph.kcore_peel, k=2) — exact longs,
# converged = node count unchanged vs the previous round (0 for round 0)
_KCORE_ROUNDS = []
for _r in range(1, 5):
    # AS MATERIALIZED: each round is referenced 3x (degree pass, filter
    # pass, stats row); without the hint DuckDB re-inlines the whole
    # upstream LSH replay per reference — 3^rounds evaluations (the SQL
    # twin of the engine's localCheckpoint lineage truncation)
    _KCORE_ROUNDS.append(f"""
d{_r} AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS n FROM e{_r - 1} UNION ALL SELECT b FROM e{_r - 1}) x
  GROUP BY n
),
e{_r} AS MATERIALIZED (
  SELECT a, b FROM e{_r - 1}
  WHERE a IN (SELECT n FROM d{_r} WHERE d >= 2)
    AND b IN (SELECT n FROM d{_r} WHERE d >= 2)
)""")
_KCORE_STATS = "\nUNION ALL\n".join(
    f"""SELECT {_r} AS round,
       CAST(COUNT(DISTINCT n) AS BIGINT) AS n_nodes,
       CAST(COUNT(*) // 2 AS BIGINT) AS n_edges
FROM (SELECT a AS n FROM e{_r} UNION ALL SELECT b FROM e{_r}) x"""
    for _r in range(0, 5)
)
ORACLES["q_kcore"] = (
    """
WITH e0 AS MATERIALIZED (
  SELECT CAST(LEAST(id_a, id_b) AS BIGINT) AS a,
         CAST(GREATEST(id_a, id_b) AS BIGINT) AS b
  FROM ({PAIRS}) pq WHERE id_a <> id_b
  GROUP BY 1, 2
),"""
    + ",".join(_KCORE_ROUNDS)
    + f""",
s AS (
{_KCORE_STATS}
)
SELECT CAST(round AS INT) AS round, n_nodes, n_edges,
       CAST(CASE WHEN round > 0
                  AND n_nodes = LAG(n_nodes) OVER (ORDER BY round)
             THEN 1 ELSE 0 END AS BIGINT) AS converged
FROM s
"""
).replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Degree assortativity (Newman 2002) over the symmetric directed edge
# set — exact HUGEINT sufficient statistics mirroring the engine's
# DECIMAL(38,0) products, one final division
ORACLES["q_assortativity"] = f"""
WITH und AS MATERIALIZED (
  SELECT CAST(LEAST(id_a, id_b) AS BIGINT) AS a,
         CAST(GREATEST(id_a, id_b) AS BIGINT) AS b
  FROM ({{PAIRS}}) pq WHERE id_a <> id_b
  GROUP BY 1, 2
),
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und) x
  GROUP BY n
),
sym AS (
  SELECT a AS s, b AS t FROM und UNION ALL SELECT b AS s, a AS t FROM und
),
e AS (
  SELECT dj.d AS dj, dk.d AS dk
  FROM sym JOIN deg dj ON dj.n = sym.s JOIN deg dk ON dk.n = sym.t
),
g AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
         CAST(COUNT(*) // 2 AS BIGINT) AS n_edges,
         SUM(CAST(dj AS HUGEINT)) AS sj,
         SUM(CAST(dj AS HUGEINT) * CAST(dk AS HUGEINT)) AS sjk,
         SUM(CAST(dj AS HUGEINT) * CAST(dj AS HUGEINT)) AS sjj
  FROM e
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT n_nodes, n_edges,
       CAST(sj AS BIGINT) AS s_j,
       CAST(sjk AS BIGINT) AS s_jk,
       CAST(sjj AS BIGINT) AS s_jj,
       {r6('''CASE WHEN m * sjj - sj * sj <> 0 THEN
              CAST(m * sjk - sj * sj AS DOUBLE)
              / CAST(m * sjj - sj * sj AS DOUBLE)
              END''', 'assortativity')}
FROM nn, g
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Interpolated Kneser-Ney bigram perplexity (mirror of
# curation.kneser_ney_logprob): absolute discount 0.75, history mass
# from the bigram table's own row sums, continuation-count unigram
# backoff; the probability chain's parenthesization is pinned to the
# engine's ((max(bc-D,0) + (D*n1f)*(n1b/B)) / ctx)
ORACLES["q_kn_ppl"] = f"""
WITH d AS (SELECT doc_id, {TOKS_RAW} AS tk FROM documents),
tok AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS token,
         unnest(list_prepend(CAST(NULL AS VARCHAR), list_slice(tk, 1, len(tk) - 1))) AS prev
  FROM d
),
freq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY token),
tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n FROM freq),
big AS (
  SELECT prev, token, CAST(COUNT(*) AS BIGINT) AS bc
  FROM tok WHERE prev IS NOT NULL GROUP BY prev, token
),
ctx AS (
  SELECT prev, CAST(SUM(bc) AS BIGINT) AS cs, CAST(COUNT(*) AS BIGINT) AS n1f
  FROM big GROUP BY prev
),
bwd AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n1b FROM big GROUP BY token),
btot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS bt FROM big),
lp AS (
  SELECT tok.doc_id, tok.pos,
         CASE WHEN tok.prev IS NULL
              THEN ln(CAST(f.tf AS DOUBLE) / t.n)
              ELSE ln((GREATEST(CAST(b.bc AS DOUBLE) - 0.75, 0.0)
                       + (0.75 * CAST(c.n1f AS DOUBLE))
                       * (CAST(w.n1b AS DOUBLE) / bt.bt))
                      / CAST(c.cs AS DOUBLE))
         END AS l
  FROM tok
  JOIN freq f USING (token)
  LEFT JOIN ctx c ON c.prev = tok.prev
  LEFT JOIN big b ON b.prev = tok.prev AND b.token = tok.token
  LEFT JOIN bwd w ON w.token = tok.token,
  tot t, btot bt
),
pd AS (
  SELECT doc_id, COUNT(*) AS n,
         list_reduce([0.0] || list(l ORDER BY pos), (acc, x) -> acc + x) AS s
  FROM lp GROUP BY doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       {r6('-s / CAST(n AS DOUBLE)', 'nll')},
       {r6('exp(-s / CAST(n AS DOUBLE))', 'ppl')}
FROM pd
"""


# Isotonic (PAVA) fit via the Ayer et al. (1955) min-max closed form:
# fit_i = max_{j<=i} min_{k>=i} mean(x_j..x_k) over exact prefix sums.
# Monotone IEEE division makes double min/max == rational min/max ==
# the engine's pooled-block mean (see encoding.isotonic_fit docstring).
# O(n^2) per conversation — gate-scale oracle only.
ORACLES["q_isotonic"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, turn_idx, ts, CAST(signal AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
         SUM(CAST(signal AS BIGINT)) OVER (
           PARTITION BY conv_id ORDER BY ts, turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
  FROM t WHERE signal IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
pj AS (SELECT conv_id, i AS j, pre - x AS pre0 FROM p),
pk AS (SELECT conv_id, i AS k, pre FROM p),
g AS (
  SELECT pj.conv_id, pj.j, pk.k,
         CAST(pk.pre - pj.pre0 AS DOUBLE)
         / CAST(pk.k - pj.j + 1 AS DOUBLE) AS mean
  FROM pj JOIN pk ON pj.conv_id = pk.conv_id AND pj.j <= pk.k
),
m AS (
  SELECT conv_id, j, k,
         MIN(mean) OVER (PARTITION BY conv_id, j ORDER BY k DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
  FROM g
),
f AS (
  SELECT conv_id, k AS i, MAX(mn) AS fit
  FROM m GROUP BY conv_id, k
)
SELECT p.conv_id,
       CAST(p.turn_idx AS INT) AS turn_idx,
       CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
       p.x,
       {r6('f.fit', 'iso_fit')}
FROM p JOIN f ON p.conv_id = f.conv_id AND p.i = f.i
"""


# k-anonymity audit over (lang, source, length-bucket): equivalence
# class size distribution, cumulative at-risk share (mirror of
# curation.k_anonymity, k=5)
ORACLES["q_k_anon"] = f"""
WITH cls AS (
  SELECT lang, source, n_chars // 200 AS len_bucket,
         CAST(COUNT(*) AS BIGINT) AS sz
  FROM documents GROUP BY 1, 2, 3
),
dist AS (
  SELECT sz AS class_size, CAST(COUNT(*) AS BIGINT) AS n_classes
  FROM cls GROUP BY sz
),
w AS (
  SELECT class_size, n_classes,
         CAST(class_size * n_classes AS BIGINT) AS n_rows,
         CAST(SUM(class_size * n_classes) OVER (
           ORDER BY class_size
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rows,
         CAST(SUM(class_size * n_classes) OVER () AS BIGINT) AS tot
  FROM dist
)
SELECT class_size, n_classes, n_rows, cum_rows,
       {r6('CAST(cum_rows AS DOUBLE) / CAST(tot AS DOUBLE)', 'risk_share')},
       CAST(CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS BIGINT) AS below_k
FROM w
"""


# One BPE merge step: adjacent symbol pairs weighted by word frequency
# over the normalized-vocab table (mirror of text.bpe_top_pairs, k=15)
ORACLES["q_bpe_step"] = f"""
WITH toks AS (SELECT UNNEST({TOKS_DOC}) AS token FROM documents),
vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY token),
pairs AS (
  SELECT UNNEST(list_transform(range(1, length(token)),
                i -> substr(token, CAST(i AS INT), 1) || ' '
                     || substr(token, CAST(i AS INT) + 1, 1))) AS pair,
         c
  FROM vocab WHERE length(token) >= 2
),
agg AS (SELECT pair, CAST(SUM(c) AS BIGINT) AS n FROM pairs GROUP BY pair),
r AS (
  SELECT pair, n,
         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS BIGINT) AS rank
  FROM agg
)
SELECT pair, replace(pair, ' ', '') AS merged, n, rank
FROM r WHERE rank <= 15
"""


def _lsh_plane_values_multi(
    dim: int = 64, n_planes: int = 8, seeds: tuple = (17, 18, 19, 20)
) -> str:
    """Multi-table variant of _lsh_plane_values: literal (tbl, pi, pv)
    rows replaying similarity.embedding_near_dup_pairs' per-table seeded
    hyperplanes (seeds 17..17+n_tables-1) exactly."""
    import numpy as np

    rows = []
    for t, seed in enumerate(seeds):
        planes = np.random.default_rng(seed).standard_normal((n_planes, dim))
        for i in range(n_planes):
            rows.append(
                "(" + str(t) + ", " + str(i) + ", ["
                + ", ".join(repr(float(x)) for x in planes[i]) + "])"
            )
    return ",\n    ".join(rows)


# DBSCAN-style density labels over the multi-table LSH candidate graph
# (mirror of similarity.dbscan_labels, tau=0.3, minPts=4): all four
# seeded hyperplane tables replayed literally; every multiply-referenced
# stage is AS MATERIALIZED (the q_kcore lesson)
ORACLES["q_dbscan"] = f"""
WITH planes(tbl, pi, pv) AS (VALUES
    {_lsh_plane_values_multi()}
),
v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
b AS MATERIALIZED (
  SELECT p.tbl, v.vec_id,
         CAST(SUM(CASE WHEN list_dot_product(v.ev, CAST(p.pv AS DOUBLE[])) > 0
                  THEN CAST(POW(2.0, p.pi) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM v CROSS JOIN planes p GROUP BY p.tbl, v.vec_id
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS ia, c.vec_id AS ib
  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
),
pr AS MATERIALIZED (
  SELECT cand.ia, cand.ib
  FROM cand
  JOIN v va ON va.vec_id = cand.ia
  JOIN v vb ON vb.vec_id = cand.ib
  WHERE list_dot_product(va.ev, vb.ev)
        / (sqrt(list_dot_product(va.ev, va.ev)) * sqrt(list_dot_product(vb.ev, vb.ev)))
        >= 0.3
),
sym AS MATERIALIZED (
  SELECT ia AS v_, ib AS n_ FROM pr UNION ALL SELECT ib AS v_, ia AS n_ FROM pr
),
deg AS (SELECT v_, CAST(COUNT(*) AS BIGINT) AS n FROM sym GROUP BY v_),
base AS MATERIALIZED (
  SELECT v.vec_id, CAST(COALESCE(deg.n, 0) AS BIGINT) AS n_neighbors
  FROM v LEFT JOIN deg ON deg.v_ = v.vec_id
),
core AS MATERIALIZED (SELECT vec_id FROM base WHERE n_neighbors >= 4),
tc AS (SELECT DISTINCT sym.v_ AS vec_id FROM sym JOIN core ON core.vec_id = sym.n_)
SELECT CAST(base.vec_id AS BIGINT) AS vec_id,
       base.n_neighbors,
       CASE WHEN base.n_neighbors >= 4 THEN 'core'
            WHEN tc.vec_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS label
FROM base LEFT JOIN tc ON tc.vec_id = base.vec_id
"""


# Weisfeiler-Lehman structural templates (mirror of
# graph.wl_conversation_fingerprint, 2 rounds): SHA-256 colors over the
# role-transition multigraph — both engines implement standard SHA-256,
# so refinement replays bit-for-bit; multiply-referenced rounds are
# AS MATERIALIZED (the q_kcore lesson)
_WL_ROUNDS = []
for _r in range(1, 3):
    _p = _r - 1
    _WL_ROUNDS.append(f"""
i{_r} AS (
  SELECT e.conv_id, e.dst AS node,
         string_agg('i' || c.color || 'x' || CAST(e.cnt AS VARCHAR), ','
                    ORDER BY 'i' || c.color || 'x' || CAST(e.cnt AS VARCHAR)) AS s
  FROM e JOIN c{_p} c ON c.conv_id = e.conv_id AND c.node = e.src
  GROUP BY e.conv_id, e.dst
),
o{_r} AS (
  SELECT e.conv_id, e.src AS node,
         string_agg('o' || c.color || 'x' || CAST(e.cnt AS VARCHAR), ','
                    ORDER BY 'o' || c.color || 'x' || CAST(e.cnt AS VARCHAR)) AS s
  FROM e JOIN c{_p} c ON c.conv_id = e.conv_id AND c.node = e.dst
  GROUP BY e.conv_id, e.src
),
c{_r} AS MATERIALIZED (
  SELECT c.conv_id, c.node,
         sha256(c.color || '|' || COALESCE(i.s, '') || '|' || COALESCE(o.s, '')) AS color
  FROM c{_p} c
  LEFT JOIN i{_r} i ON i.conv_id = c.conv_id AND i.node = c.node
  LEFT JOIN o{_r} o ON o.conv_id = c.conv_id AND o.node = c.node
)""")
ORACLES["q_wl_templates"] = (
    f"""
WITH t AS ({T}),
ord AS (
  SELECT conv_id, role,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
  FROM t
),
e AS MATERIALIZED (
  SELECT conv_id, prev AS src, role AS dst, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ord WHERE prev IS NOT NULL GROUP BY 1, 2, 3
),
c0 AS MATERIALIZED (SELECT DISTINCT conv_id, role AS node, role AS color FROM t),"""
    + ",".join(_WL_ROUNDS)
    + """,
fp AS (
  SELECT conv_id,
         sha256(string_agg(color, ',' ORDER BY color)) AS wl_fingerprint
  FROM c2 GROUP BY conv_id
)
SELECT wl_fingerprint, CAST(COUNT(*) AS BIGINT) AS n_convs,
       MIN(conv_id) AS rep_conv
FROM fp GROUP BY wl_fingerprint
"""
)


# Pairwise association rules over per-user event baskets (mirror of
# profile.assoc_rules): N = ALL distinct users (itemless included)
ORACLES["q_assoc_rules"] = f"""
WITH b AS (
  SELECT DISTINCT user_id AS g, CAST(event_type AS VARCHAR) AS i
  FROM events WHERE event_type IS NOT NULL
),
nt AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n FROM events),
m AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY i),
p AS (
  SELECT a.i AS item_a, c.i AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM b a JOIN b c ON a.g = c.g AND a.i < c.i GROUP BY 1, 2
),
j AS (
  SELECT p.item_a, p.item_b, ma.c AS n_a, mb.c AS n_b, p.n_ab, nt.n
  FROM p JOIN m ma ON ma.i = p.item_a JOIN m mb ON mb.i = p.item_b, nt
)
SELECT item_a, item_b, n_a, n_b, n_ab,
       {r6('CAST(n_ab AS DOUBLE) / n', 'support')},
       {r6('CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE)', 'conf_ab')},
       {r6('CAST(n_ab AS DOUBLE) / CAST(n_b AS DOUBLE)', 'conf_ba')},
       {r6('(n * CAST(n_ab AS DOUBLE)) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))', 'lift')}
FROM j
ORDER BY (n * CAST(n_ab AS DOUBLE)) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) DESC,
         item_a, item_b
LIMIT 20
"""


# Split-conformal interval per role (mirror of drift.conformal_interval,
# level 90): integer rank threshold k = ceil(90*(n_ref+1)/100) capped at
# n_ref, value-ordered compacted residual histogram
ORACLES["q_conformal"] = f"""
WITH t AS ({T}),
base AS (
  SELECT role AS g, CAST(signal AS BIGINT) AS x,
         (ts < TIMESTAMP '2024-01-15 00:00:00') AS is_ref
  FROM t WHERE signal IS NOT NULL
),
rs AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_ref, CAST(SUM(x) AS BIGINT) AS s
  FROM base WHERE is_ref GROUP BY g
),
rs2 AS (
  SELECT g, n_ref, CAST(s AS DOUBLE) / CAST(n_ref AS DOUBLE) AS mean_ref FROM rs
),
rh AS (
  SELECT b.g, rs2.n_ref, ABS(CAST(b.x AS DOUBLE) - rs2.mean_ref) AS r,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM base b JOIN rs2 ON rs2.g = b.g WHERE b.is_ref GROUP BY 1, 2, 3
),
cum AS (
  SELECT g, n_ref, r,
         SUM(c) OVER (PARTITION BY g ORDER BY r
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
  FROM rh
),
rad AS (
  SELECT g, MIN(r) AS radius FROM cum
  WHERE cumc >= LEAST((90 * (n_ref + 1) + 99) // 100, n_ref)
  GROUP BY g
),
cur AS (
  SELECT b.g, CAST(COUNT(*) AS BIGINT) AS n_cur,
         CAST(SUM(CASE WHEN ABS(CAST(b.x AS DOUBLE) - rs2.mean_ref) <= rad.radius
                  THEN 1 ELSE 0 END) AS BIGINT) AS cov
  FROM base b JOIN rs2 ON rs2.g = b.g LEFT JOIN rad ON rad.g = b.g
  WHERE NOT b.is_ref GROUP BY b.g
)
SELECT rs2.g AS role, rs2.n_ref,
       CAST(COALESCE(cur.n_cur, 0) AS BIGINT) AS n_cur,
       {r6('rs2.mean_ref', 'mean_ref')},
       {r6('rad.radius', 'radius')},
       {r6('CAST(cur.cov AS DOUBLE) / CAST(cur.n_cur AS DOUBLE)', 'coverage')}
FROM rs2 LEFT JOIN rad ON rad.g = rs2.g LEFT JOIN cur ON cur.g = rs2.g
"""


# Confident-learning label noise (mirror of
# encoding.confident_learning_noise over the q_quality_classifier
# replay): class-conditional thresholds by sorted compacted-histogram
# folds; scores are injective per class (p and 1-p over distinct 6dp
# probs), so the ORDER BY score fold has no tie ambiguity
ORACLES["q_label_noise"] = f"""
WITH s AS (
  SELECT doc_id,
         len({TOKS_RAW}) AS n,
         list_reduce([CAST(0.0 AS DOUBLE)] || list_transform({TOKS_RAW},
             t -> ({_classifier_w_sql()})[CAST(('0x' || substring(md5(t), 1, 4))::BIGINT % 64 AS INT) + 1]),
             (acc, x) -> acc + x) AS wsum
  FROM documents
),
sc AS (SELECT doc_id, n, wsum / CAST(n AS DOUBLE) + 0 AS score FROM s),
pr AS (SELECT doc_id, 1.0 / (1.0 + exp(-score)) AS prob FROM sc),
lab AS (
  SELECT {r6x('pr.prob')} AS p, (d.lang = 'en') AS y
  FROM pr JOIN documents d USING (doc_id)
),
hist AS MATERIALIZED (
  SELECT y, p, CAST(COUNT(*) AS BIGINT) AS c FROM lab GROUP BY y, p
),
th AS (
  SELECT y, CAST(SUM(c) AS BIGINT) AS n,
         list_reduce([0.0] || list(CAST(c AS DOUBLE)
                                   * (CASE WHEN y THEN p ELSE 1.0 - p END)
                                   ORDER BY (CASE WHEN y THEN p ELSE 1.0 - p END)),
                     (a, x) -> a + x) AS ssum
  FROM hist GROUP BY y
),
tr AS (
  SELECT MAX(CASE WHEN y THEN ssum / CAST(n AS DOUBLE) END) AS t_pos,
         MAX(CASE WHEN NOT y THEN ssum / CAST(n AS DOUBLE) END) AS t_neg
  FROM th
),
cells AS (
  SELECT CASE WHEN h.y THEN 1 ELSE 0 END AS l,
         CASE WHEN h.p >= tr.t_pos AND ((1.0 - h.p) < tr.t_neg OR h.p >= 0.5)
              THEN 1
              WHEN (1.0 - h.p) >= tr.t_neg AND (h.p < tr.t_pos OR h.p < 0.5)
              THEN 0
              ELSE NULL END AS h2,
         h.c, tr.t_pos, tr.t_neg
  FROM hist h, tr
)
SELECT CAST(SUM(c) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN h2 IS NOT NULL THEN c ELSE 0 END) AS BIGINT) AS n_confident,
       {r6('MAX(t_pos)', 't_pos')},
       {r6('MAX(t_neg)', 't_neg')},
       CAST(SUM(CASE WHEN l = 0 AND h2 = 0 THEN c ELSE 0 END) AS BIGINT) AS c00,
       CAST(SUM(CASE WHEN l = 0 AND h2 = 1 THEN c ELSE 0 END) AS BIGINT) AS c01,
       CAST(SUM(CASE WHEN l = 1 AND h2 = 0 THEN c ELSE 0 END) AS BIGINT) AS c10,
       CAST(SUM(CASE WHEN l = 1 AND h2 = 1 THEN c ELSE 0 END) AS BIGINT) AS c11,
       {r6('''CASE WHEN SUM(CASE WHEN h2 IS NOT NULL THEN c ELSE 0 END) > 0
              THEN CAST(SUM(CASE WHEN l = 0 AND h2 = 1 THEN c ELSE 0 END)
                        + SUM(CASE WHEN l = 1 AND h2 = 0 THEN c ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(CASE WHEN h2 IS NOT NULL THEN c ELSE 0 END) AS DOUBLE)
              END''', 'noise_rate')}
FROM cells
"""


# Adamic-Adar link prediction over the LSH pair graph (mirror of
# graph.adamic_adar): wedge self-join on the centre node, existing
# edges anti-joined out, aa folded in sorted centre-node order —
# identical term order to the engine's sorted-struct F.aggregate
ORACLES["q_adamic_adar"] = """
WITH und AS MATERIALIZED (
  SELECT CAST(LEAST(id_a, id_b) AS BIGINT) AS a,
         CAST(GREATEST(id_a, id_b) AS BIGINT) AS b
  FROM ({PAIRS}) pq WHERE id_a <> id_b
  GROUP BY 1, 2
),
sym AS (
  SELECT a AS s, b AS t FROM und UNION ALL SELECT b AS s, a AS t FROM und
),
deg AS (
  SELECT s AS n, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY s
),
wg AS (
  SELECT e1.t AS u, e2.t AS v, e1.s AS wc, dg.d
  FROM sym e1 JOIN sym e2 ON e1.s = e2.s AND e1.t < e2.t
  JOIN deg dg ON dg.n = e1.s
),
pr AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(1.0 / ln(CAST(d AS DOUBLE)) ORDER BY wc)),
             (acc, x) -> acc + x) AS aa
  FROM wg
  GROUP BY u, v
),
topk AS (
  SELECT pr.u, pr.v, pr.cn, du.d AS deg_u, dv.d AS deg_v, pr.aa,
         CAST(CASE WHEN EXISTS (SELECT 1 FROM und
                                WHERE und.a = pr.u AND und.b = pr.v)
              THEN 1 ELSE 0 END AS BIGINT) AS is_edge,
         CAST(pr.cn AS DOUBLE) / CAST(du.d + dv.d - pr.cn AS DOUBLE) AS jac
  FROM pr JOIN deg du ON du.n = pr.u JOIN deg dv ON dv.n = pr.v
  ORDER BY pr.aa DESC, pr.u, pr.v LIMIT 20
)
SELECT u, v, cn, deg_u, deg_v, is_edge,
       {R6AA},
       {R6JAC}
FROM topk
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip()).replace(
    "{R6AA}", r6("aa", "aa")
).replace("{R6JAC}", r6("jac", "jaccard"))


# KMV distinct estimator (mirror of sketches.kmv_distinct_by): the
# q_hll square-mod mixing hash, k-th minimum as an exact integer order
# statistic, one fixed multiply-divide estimate chain
ORACLES["q_kmv"] = f"""
WITH dk AS (SELECT DISTINCT event_type AS g, user_id AS k FROM events),
b1 AS (
  SELECT g, ((ABS(k) % 2147483647) * 48271 + 12345) % 2147483647 AS x
  FROM dk
),
b2 AS (SELECT g, (x * x + x) % 2147483647 AS y FROM b1),
b3 AS (SELECT g, (y * 48271) % 2147483647 AS h FROM b2),
hs AS (
  SELECT g, h, CAST(COUNT(*) AS BIGINT) AS ck FROM b3 GROUP BY g, h
),
rk AS (
  SELECT g, h, ck,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
  FROM hs
),
agg AS (
  SELECT g, CAST(SUM(ck) AS BIGINT) AS exact_distinct,
         CAST(COUNT(*) AS BIGINT) AS v_hashes,
         CAST(MAX(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS kth_hash
  FROM rk GROUP BY g
),
est AS (
  SELECT g, exact_distinct, v_hashes, kth_hash,
         CASE WHEN v_hashes < 64 THEN CAST(v_hashes AS DOUBLE)
              ELSE 63.0 * 2147483647.0 / (CAST(kth_hash AS DOUBLE) + 1.0)
         END AS e
  FROM agg
)
SELECT g AS event_type, exact_distinct, v_hashes, kth_hash,
       {r6('e', 'est_distinct')},
       {r6('(e - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE) * 100.0', 'err_pct')}
FROM est
"""


# AR(2) Yule-Walker fit (mirror of sessionize.ar2_yule_walker): the
# q_autocorr sufficient statistics and r_k chains for lags 1-2, then
# fixed phi / sigma / forecast chains; forecast reads the last two
# non-NULL signals in stable (ts, turn_idx) order
_AR2_MEAN = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_AR2_DEN = f"(CAST(s2 AS DOUBLE) - CAST(n AS DOUBLE) * {_AR2_MEAN} * {_AR2_MEAN})"


def _ar2_r(k: int) -> str:
    return (
        f"(CAST(p{k} AS DOUBLE) - {_AR2_MEAN} * CAST(a{k} AS DOUBLE) "
        f"- {_AR2_MEAN} * CAST(b{k} AS DOUBLE) "
        f"+ CAST(m{k} AS DOUBLE) * {_AR2_MEAN} * {_AR2_MEAN}) / {_AR2_DEN}"
    )


ORACLES["q_ar2"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS x,
         LAG(CAST(signal AS BIGINT), 1) OVER
           (PARTITION BY conv_id ORDER BY ts, turn_idx) AS l1,
         LAG(CAST(signal AS BIGINT), 2) OVER
           (PARTITION BY conv_id ORDER BY ts, turn_idx) AS l2
  FROM t
),
g AS (
  SELECT conv_id, COUNT(x) AS n, SUM(x) AS s1, SUM(x * x) AS s2,
         COUNT(CASE WHEN x IS NOT NULL AND l1 IS NOT NULL THEN 1 END) AS m1,
         SUM(x * l1) AS p1,
         SUM(CASE WHEN x IS NOT NULL AND l1 IS NOT NULL THEN x END) AS a1,
         SUM(CASE WHEN x IS NOT NULL AND l1 IS NOT NULL THEN l1 END) AS b1,
         COUNT(CASE WHEN x IS NOT NULL AND l2 IS NOT NULL THEN 1 END) AS m2,
         SUM(x * l2) AS p2,
         SUM(CASE WHEN x IS NOT NULL AND l2 IS NOT NULL THEN x END) AS a2,
         SUM(CASE WHEN x IS NOT NULL AND l2 IS NOT NULL THEN l2 END) AS b2
  FROM p GROUP BY conv_id
),
nn AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS x,
         ROW_NUMBER() OVER
           (PARTITION BY conv_id ORDER BY ts DESC, turn_idx DESC) AS rn
  FROM t WHERE signal IS NOT NULL
),
last2 AS (
  SELECT conv_id,
         MAX(CASE WHEN rn = 1 THEN x END) AS xn,
         MAX(CASE WHEN rn = 2 THEN x END) AS xn1
  FROM nn WHERE rn <= 2 GROUP BY conv_id
),
rr AS (
  SELECT g.conv_id, g.n, last2.xn, last2.xn1,
         (n >= 3 AND {_AR2_DEN} <> 0.0 AND m2 > 0) AS ok,
         {_AR2_MEAN} AS mu,
         CASE WHEN n >= 3 AND {_AR2_DEN} <> 0.0 AND m2 > 0
              THEN {_ar2_r(1)} END AS r1,
         CASE WHEN n >= 3 AND {_AR2_DEN} <> 0.0 AND m2 > 0
              THEN {_ar2_r(2)} END AS r2
  FROM g LEFT JOIN last2 ON g.conv_id = last2.conv_id
),
ph AS (
  SELECT conv_id, n, xn, xn1, mu, r1, r2,
         (ok AND (1.0 - r1 * r1) <> 0.0) AS ok2,
         r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
  FROM rr
)
SELECT conv_id, CAST(n AS BIGINT) AS n,
       {r6('r1', 'r1')},
       {r6('r2', 'r2')},
       {r6('CASE WHEN ok2 THEN phi1 END', 'phi1')},
       {r6('CASE WHEN ok2 THEN phi2 END', 'phi2')},
       {r6('CASE WHEN ok2 THEN 1.0 - phi1 * r1 - phi2 * r2 END', 'sigma_ratio')},
       {r6('''CASE WHEN ok2 THEN
              mu + phi1 * (CAST(xn AS DOUBLE) - mu)
                 + phi2 * (CAST(xn1 AS DOUBLE) - mu) END''', 'forecast')}
FROM ph
"""


# l-diversity audit (mirror of curation.l_diversity over (lang,
# len_bucket) with source sensitive, l=3): distinct-sensitive count per
# equivalence class, then the q_k_anon distribution/cumulative shape
ORACLES["q_l_diversity"] = f"""
WITH inn AS (
  SELECT lang, n_chars // 200 AS len_bucket, source,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2, 3
),
cls AS (
  SELECT lang, len_bucket,
         CAST(COUNT(*) AS BIGINT) AS l,
         CAST(SUM(n) AS BIGINT) AS sz
  FROM inn GROUP BY 1, 2
),
dist AS (
  SELECT l, CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(SUM(sz) AS BIGINT) AS n_rows
  FROM cls GROUP BY l
),
w AS (
  SELECT l, n_classes, n_rows,
         CAST(SUM(n_rows) OVER (
           ORDER BY l
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rows,
         CAST(SUM(n_rows) OVER () AS BIGINT) AS tot
  FROM dist
)
SELECT l AS l_value, n_classes, n_rows, cum_rows,
       {r6('CAST(cum_rows AS DOUBLE) / CAST(tot AS DOUBLE)', 'risk_share')},
       CAST(CASE WHEN l < 3 THEN 1 ELSE 0 END AS BIGINT) AS below_l
FROM w
"""


# Optimal Gini decision stump (mirror of encoding.gini_stump over
# n_chars vs lang=='en'): exact long cumulative counts over the
# value-sorted per-value histogram, fixed impurity chains replayed
# parenthesis-for-parenthesis, (split ASC, threshold ASC) argmin
def _stump_gini(n1: str, n: str) -> str:
    p1 = f"(CAST({n1} AS DOUBLE) / CAST({n} AS DOUBLE))"
    p0 = f"(CAST(({n}) - ({n1}) AS DOUBLE) / CAST({n} AS DOUBLE))"
    return f"((1.0 - ({p1} * {p1})) - ({p0} * {p0}))"


_STUMP_SPLIT = (
    f"(((CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE)) * {_stump_gini('n1l', 'nl')})"
    f" + ((CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE))"
    f" * {_stump_gini('(n1t - n1l)', '(nt - nl)')}))"
)

ORACLES["q_stump"] = f"""
WITH h AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1
),
c AS (
  SELECT x,
         CAST(SUM(n) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
         CAST(SUM(n1) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1l,
         CAST(SUM(n) OVER () AS BIGINT) AS nt,
         CAST(SUM(n1) OVER () AS BIGINT) AS n1t,
         MAX(x) OVER () AS xmax
  FROM h
),
cand AS (
  SELECT x AS threshold, nt AS n, n1t AS n_pos,
         nl AS n_left, n1l AS n1_left,
         CAST(nt - nl AS BIGINT) AS n_right,
         CAST(n1t - n1l AS BIGINT) AS n1_right,
         {_stump_gini('n1t', 'nt')} AS gini_root_raw,
         {_STUMP_SPLIT} AS gini_split_raw
  FROM c WHERE x < xmax
),
best AS (
  SELECT * FROM cand ORDER BY gini_split_raw ASC, threshold ASC LIMIT 1
)
SELECT threshold, n, n_pos, n_left, n1_left, n_right, n1_right,
       {r6('gini_root_raw', 'gini_root')},
       {r6('gini_split_raw', 'gini_split')},
       {r6('gini_root_raw - gini_split_raw', 'gain')}
FROM best
"""


def _err_sql(k: int = 5) -> str:
    """ERR@k replay (mirror of similarity.err_at_k): the graded stop
    probabilities are the SAME Python-computed literals the Spark plan
    embeds ((2^(k+1-r)-1)/2^k), and the cascade sum is the identical
    left-associated add/multiply chain with explicit cumulative
    continuation products — no transcendentals in either engine."""
    lits = {r: float(2 ** (k + 1 - r) - 1) / float(2**k) for r in range(1, k + 1)}
    rel = "0.0"
    for r in range(k, 0, -1):
        rel = f"CASE WHEN tr = {r} THEN {lits[r]!r} ELSE {rel} END"
    piv_cols = ",\n       ".join(
        f"COALESCE(MAX(CASE WHEN rr = {i} THEN rel END), 0.0) AS r{i}"
        for i in range(1, k + 1)
    )
    err = "(r1 * 1.0)"
    cont = "(1.0 - r1)"
    for i in range(2, k + 1):
        err = f"({err} + (({cont} * r{i}) * {1.0 / float(i)!r}))"
        cont = f"({cont} * (1.0 - r{i}))"
    return f"""
WITH res AS ({{ivf}}),
tru AS ({{cos}}),
j AS (
  SELECT r.query_id, r.rank AS rr, t.rank AS tr
  FROM (SELECT query_id, vec_id, rank FROM res WHERE rank <= {k}) r
  LEFT JOIN (SELECT query_id, vec_id, rank FROM tru WHERE rank <= {k}) t
    ON t.query_id = r.query_id AND t.vec_id = r.vec_id
),
rl AS (SELECT query_id, rr, tr, {rel} AS rel FROM j),
piv AS (
  SELECT query_id,
       CAST(COUNT(CASE WHEN tr IS NOT NULL THEN 1 END) AS BIGINT) AS n_hits,
       {piv_cols}
  FROM rl GROUP BY query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, n_hits,
       {r6(err, 'err')}
FROM piv
""".format(ivf=ORACLES["q_ivf_topk"], cos=ORACLES["q_cosine_topk"])


ORACLES["q_err"] = _err_sql(5)


# Cliff's delta (mirror of drift.cliffs_delta, en vs rest on n_chars):
# exact long pair classes from the compacted value histogram
ORACLES["q_cliffs_delta"] = f"""
WITH pv AS (
  SELECT CAST(n_chars AS BIGINT) AS v,
         CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS a,
         CAST(COUNT(CASE WHEN NOT (lang = 'en') THEN 1 END) AS BIGINT) AS b
  FROM documents
  WHERE n_chars IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1
),
c AS (
  SELECT a, b,
         CAST(SUM(b) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - b AS BIGINT) AS blo,
         CAST(SUM(b) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ble,
         CAST(SUM(b) OVER () AS BIGINT) AS nb
  FROM pv
),
g AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n_a,
         CAST(MAX(nb) AS BIGINT) AS n_b,
         CAST(SUM(a * blo) AS BIGINT) AS gt,
         CAST(SUM(a * (nb - ble)) AS BIGINT) AS lt,
         CAST(SUM(a * b) AS BIGINT) AS tie
  FROM c
)
SELECT n_a, n_b, gt, lt, tie,
       {r6('CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(gt - lt AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END', 'delta')},
       {r6('CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(gt AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END', 'p_gt')},
       {r6('CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(lt AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END', 'p_lt')},
       {r6('CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(tie AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END', 'p_tie')}
FROM g
"""


# Ordinal association battery (mirror of drift.ordinal_assoc over
# char-length bucket x token-count bucket): exact long C/D from the
# cell-pair join, tie terms from the marginals, fixed ratio chains
ORACLES["q_ordinal_assoc"] = f"""
WITH base AS (
  SELECT CAST(n_chars // 100 AS BIGINT) AS x,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) // 20 AS BIGINT) AS y
  FROM documents
),
cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n
  FROM base WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1, 2
),
cd AS (
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END) AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END) AS BIGINT) AS disc
  FROM cells a JOIN cells b ON b.x > a.x AND b.y <> a.y
),
tx AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS ties_x
  FROM (SELECT SUM(n) AS t FROM cells GROUP BY x)
),
ty AS (
  SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS ties_y
  FROM (SELECT SUM(n) AS t FROM cells GROUP BY y)
),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS cells FROM cells),
g AS (
  SELECT cd.conc, cd.disc, tx.n, tx.ties_x, ty.ties_y, nc.cells,
         CAST(CAST(n AS BIGINT) * (CAST(n AS BIGINT) - 1) / 2 AS BIGINT) AS n0,
         CAST(conc - disc AS DOUBLE) AS s
  FROM cd, tx, ty, nc
)
SELECT n, cells, conc, disc, ties_x, ties_y,
       {r6('CASE WHEN CAST(conc + disc AS DOUBLE) > 0 THEN s / CAST(conc + disc AS DOUBLE) END', 'gamma')},
       {r6('CASE WHEN CAST(n0 - ties_x AS DOUBLE) > 0 THEN s / CAST(n0 - ties_x AS DOUBLE) END', 'somers_dyx')},
       {r6('CASE WHEN CAST(n0 - ties_y AS DOUBLE) > 0 THEN s / CAST(n0 - ties_y AS DOUBLE) END', 'somers_dxy')},
       {r6('CASE WHEN CAST(n0 - ties_x AS DOUBLE) > 0 AND CAST(n0 - ties_y AS DOUBLE) > 0 THEN s / SQRT(CAST(n0 - ties_x AS DOUBLE) * CAST(n0 - ties_y AS DOUBLE)) END', 'tau_b')}
FROM g
"""


# Friedman rank test + Kendall's W (mirror of drift.friedman_test,
# roles user/assistant/tool as treatments, conversations as complete
# blocks): doubled within-block midranks, exact long rank-sum squares
# and tie cubes, fixed rational chi2 chains
_FRIED_CHI2 = (
    "((12.0 / ((bd * 3.0) * 4.0)) * (CAST(sum4r2 AS DOUBLE) / 4.0)"
    " - ((3.0 * bd) * 4.0))"
)

ORACLES["q_friedman"] = f"""
WITH t AS ({T}),
per AS (
  SELECT conv_id, role,
         CAST(SUM(CAST(signal AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS mean
  FROM t
  WHERE signal IS NOT NULL AND role IN ('user', 'assistant', 'tool')
  GROUP BY conv_id, role
),
complete AS (
  SELECT conv_id FROM per GROUP BY conv_id HAVING COUNT(*) = 3
),
blk AS (SELECT per.* FROM per JOIN complete USING (conv_id)),
pm AS (
  SELECT conv_id, mean, CAST(COUNT(*) AS BIGINT) AS tt
  FROM blk GROUP BY conv_id, mean
),
rk AS (
  SELECT conv_id, mean, tt,
         CAST(SUM(tt) OVER (PARTITION BY conv_id ORDER BY mean
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tt AS BIGINT) AS cb
  FROM pm
),
ranked AS (
  SELECT b.conv_id, b.role,
         CAST(2 * rk.cb + rk.tt + 1 AS BIGINT) AS r2
  FROM blk b JOIN rk ON b.conv_id = rk.conv_id AND b.mean = rk.mean
),
rj AS (SELECT role, CAST(SUM(r2) AS BIGINT) AS r2j FROM ranked GROUP BY role),
ss AS (SELECT CAST(SUM(r2j * r2j) AS BIGINT) AS sum4r2 FROM rj),
tg AS (
  SELECT conv_id, r2, CAST(COUNT(*) AS BIGINT) AS gt FROM ranked GROUP BY conv_id, r2
),
tie AS (
  SELECT CAST(SUM(gt * gt * gt - gt) AS BIGINT) AS tie3,
         CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS b
  FROM tg
),
g AS (
  SELECT ss.sum4r2, tie.tie3, tie.b, CAST(tie.b AS DOUBLE) AS bd
  FROM ss, tie
)
SELECT b, CAST(3 AS BIGINT) AS k,
       {r6('CASE WHEN b > 0 THEN ' + _FRIED_CHI2 + ' END', 'chi2')},
       {r6('CASE WHEN b > 0 AND (1.0 - CAST(tie3 AS DOUBLE) / ((bd * 3.0) * 24.0)) > 0 THEN ' + _FRIED_CHI2 + ' / (1.0 - CAST(tie3 AS DOUBLE) / ((bd * 3.0) * 24.0)) END', 'chi2_corrected')},
       {r6('CASE WHEN b > 0 THEN ' + _FRIED_CHI2 + ' / (bd * 2.0) END', 'kendalls_w')}
FROM g
"""


# Bartlett variance homogeneity across roles: exact long (n, S, SS) per
# role, ordered group-name list_reduce folds for the pooled / log /
# inverse reductions — matches drift.bartlett_test's F.aggregate chains
ORACLES["q_bartlett"] = f"""
WITH t AS ({T}),
per AS (
  SELECT role AS g,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(signal AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(signal AS BIGINT) * CAST(signal AS BIGINT)) AS BIGINT) AS ss
  FROM t WHERE signal IS NOT NULL
  GROUP BY role HAVING COUNT(*) >= 2
),
v AS (
  SELECT g, n,
         CAST(n - 1 AS DOUBLE) AS nm1,
         CAST(n * ss - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS var
  FROM per
),
g AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         list_reduce([0.0] || list(nm1 * var ORDER BY g), (acc, x) -> acc + x) AS pooled_num,
         list_reduce([0.0] || list(nm1 * LN(var) ORDER BY g), (acc, x) -> acc + x) AS sum_ln,
         list_reduce([0.0] || list(1.0 / nm1 ORDER BY g), (acc, x) -> acc + x) AS sum_inv,
         MIN(var) AS min_var
  FROM v
),
s AS (
  SELECT n, k,
         CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
         pooled_num, sum_ln, sum_inv, min_var
  FROM g
),
f AS (
  SELECT n, k, nd, kd, min_var, sum_ln,
         pooled_num / (nd - kd) AS sp2,
         1.0 + (sum_inv - 1.0 / (nd - kd)) / (3.0 * (kd - 1.0)) AS c
  FROM s
)
SELECT n, k, CAST(k - 1 AS BIGINT) AS df,
       {r6('CASE WHEN k >= 2 AND min_var > 0 THEN sp2 END', 'sp2')},
       {r6('CASE WHEN k >= 2 AND min_var > 0 THEN ((nd - kd) * LN(sp2) - sum_ln) / c END', 'stat')}
FROM f
"""


# Wilcoxon signed-rank over the conversation pre/post split: exact long
# differences, doubled midranks on the compacted |d| histogram, exact
# long 2W+/mu2/v48 — matches drift.wilcoxon_signed_rank bit-for-bit
ORACLES["q_wilcoxon"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS BIGINT) - 1 AS i0,
         CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n
  FROM t WHERE signal IS NOT NULL
),
conv AS (
  SELECT conv_id,
         CAST(COALESCE(SUM(CASE WHEN i0 * 2 >= n THEN x END), 0)
              - COALESCE(SUM(CASE WHEN i0 * 2 < n THEN x END), 0) AS BIGINT) AS d
  FROM p GROUP BY conv_id
),
nz AS (
  SELECT CAST(ABS(d) AS BIGINT) AS ad, d > 0 AS pos FROM conv WHERE d <> 0
),
per_v AS (
  SELECT ad, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(COALESCE(SUM(CASE WHEN pos THEN 1 END), 0) AS BIGINT) AS tpos
  FROM nz GROUP BY ad
),
lv AS (
  SELECT t, tpos,
         CAST(SUM(t) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - t AS BIGINT) AS cb
  FROM per_v
),
g0 AS (
  SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS m,
         CAST(COALESCE(SUM(tpos * (2 * cb + t + 1)), 0) AS BIGINT) AS two_w_pos,
         CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS tie3
  FROM lv
),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM conv),
g AS (
  SELECT np.n_pairs, g0.m, g0.two_w_pos, g0.tie3,
         CAST(g0.m * (g0.m + 1) / 2 AS BIGINT) AS mu2,
         CAST(2 * g0.m * (g0.m + 1) * (2 * g0.m + 1) - g0.tie3 AS BIGINT) AS v48
  FROM np, g0
)
SELECT n_pairs, m, two_w_pos, tie3,
       {r6('CAST(two_w_pos AS DOUBLE) / 2.0', 'w_plus')},
       {r6('CASE WHEN m > 0 AND v48 > 0 THEN CAST(two_w_pos - mu2 AS DOUBLE) / SQRT(CAST(v48 AS DOUBLE) / 12.0) END', 'z')}
FROM g
"""


# Cochran's Q across the three role success indicators: all-integer
# quadratic forms, one long-ratio division — matches drift.cochran_q
ORACLES["q_cochran_q"] = f"""
WITH t AS ({T}),
conv AS (
  SELECT conv_id,
         CAST(COALESCE(MAX(CASE WHEN role = 'user' AND CAST(signal AS BIGINT) >= 5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS x0,
         CAST(COALESCE(MAX(CASE WHEN role = 'assistant' AND CAST(signal AS BIGINT) >= 5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS x1,
         CAST(COALESCE(MAX(CASE WHEN role = 'tool' AND CAST(signal AS BIGINT) >= 5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS x2
  FROM t GROUP BY conv_id
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS b,
         CAST(SUM(x0) AS BIGINT) AS c0,
         CAST(SUM(x1) AS BIGINT) AS c1,
         CAST(SUM(x2) AS BIGINT) AS c2,
         CAST(SUM((x0 + x1 + x2) * (x0 + x1 + x2)) AS BIGINT) AS r2
  FROM conv
)
SELECT b, CAST(3 AS BIGINT) AS k,
       CAST(c0 + c1 + c2 AS BIGINT) AS t,
       {r6('CASE WHEN 3 * (c0 + c1 + c2) - r2 > 0 THEN CAST(2 * (3 * (c0 * c0 + c1 * c1 + c2 * c2) - (c0 + c1 + c2) * (c0 + c1 + c2)) AS DOUBLE) / CAST(3 * (c0 + c1 + c2) - r2 AS DOUBLE) END', 'q')}
FROM g
"""


# One-way random-effects ICC(1,1): exact long sufficient statistics,
# ordered conv_id fold for sum S_i^2/n_i — matches drift.icc_oneway
ORACLES["q_icc"] = f"""
WITH t AS ({T}),
per AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(signal AS BIGINT)) AS BIGINT) AS s
  FROM t WHERE signal IS NOT NULL GROUP BY conv_id
),
tot AS (
  SELECT CAST(SUM(CAST(signal AS BIGINT) * CAST(signal AS BIGINT)) AS BIGINT) AS ss
  FROM t WHERE signal IS NOT NULL
),
g0 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS sg,
         CAST(SUM(n * n) AS BIGINT) AS n2,
         list_reduce([0.0] || list(CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY conv_id),
                     (acc, x) -> acc + x) AS sum_s2n
  FROM per
),
s AS (
  SELECT g0.k, g0.n, CAST(g0.n AS DOUBLE) AS nd, CAST(g0.k AS DOUBLE) AS kd,
         g0.sum_s2n, CAST(g0.sg AS DOUBLE) AS sgd, g0.n2, tot.ss
  FROM g0, tot
),
f AS (
  SELECT k, n,
         (sum_s2n - sgd * sgd / nd) / (kd - 1.0) AS msb,
         (CAST(ss AS DOUBLE) - sum_s2n) / (nd - kd) AS msw,
         (nd - CAST(n2 AS DOUBLE) / nd) / (kd - 1.0) AS n0
  FROM s
)
SELECT k, n,
       {r6('CASE WHEN k >= 2 AND n > k THEN msb END', 'msb')},
       {r6('CASE WHEN k >= 2 AND n > k THEN msw END', 'msw')},
       {r6('CASE WHEN k >= 2 AND n > k THEN n0 END', 'n0')},
       {r6('CASE WHEN k >= 2 AND n > k THEN (msb - msw) / (msb + (n0 - 1.0) * msw) END', 'icc')}
FROM f
"""


# Order-3 permutation entropy: tie-coded 3-bit ordinal patterns, exact
# counts, ordered <=8-term entropy fold — matches
# profile.permutation_entropy (literal log2(6) normalizer)
_LOG2_6 = repr(math.log2(6.0))
ORACLES["q_perm_entropy"] = f"""
WITH t AS ({T}),
trip AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS x0,
         LEAD(CAST(signal AS BIGINT), 1) OVER w AS x1,
         LEAD(CAST(signal AS BIGINT), 2) OVER w AS x2
  FROM t WHERE signal IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
coded AS (
  SELECT conv_id,
         CAST(CASE WHEN x0 > x1 THEN 4 ELSE 0 END
              + CASE WHEN x0 > x2 THEN 2 ELSE 0 END
              + CASE WHEN x1 > x2 THEN 1 ELSE 0 END AS BIGINT) AS code
  FROM trip WHERE x1 IS NOT NULL AND x2 IS NOT NULL
),
per_code AS (
  SELECT conv_id, code, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(COUNT(*)) OVER (PARTITION BY conv_id) AS BIGINT) AS nw
  FROM coded GROUP BY conv_id, code
),
g AS (
  SELECT conv_id,
         CAST(MIN(nw) AS BIGINT) AS n_windows,
         CAST(COUNT(*) AS BIGINT) AS n_patterns,
         -(list_reduce(
             [0.0] || list((CAST(c AS DOUBLE) / CAST(nw AS DOUBLE))
                           * LOG2(CAST(c AS DOUBLE) / CAST(nw AS DOUBLE))
                           ORDER BY code),
             (acc, x) -> acc + x)) AS h
  FROM per_code GROUP BY conv_id
)
SELECT conv_id, n_windows, n_patterns,
       {r6('CASE WHEN n_windows > 0 THEN h END', 'h')},
       {r6('CASE WHEN n_windows > 0 THEN h / ' + _LOG2_6 + ' END', 'h_norm')}
FROM g
"""


# Turning-points randomness test: exact long strict-extremum counts,
# one-division E/Var chains — matches profile.turning_points
ORACLES["q_turning_points"] = f"""
WITH t AS ({T}),
lagged AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS x,
         LAG(CAST(signal AS BIGINT), 1) OVER w AS p,
         LEAD(CAST(signal AS BIGINT), 1) OVER w AS f
  FROM t WHERE signal IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
g AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN p IS NOT NULL AND f IS NOT NULL
                                     AND ((x > p AND x > f) OR (x < p AND x < f))
                                THEN 1 END), 0) AS BIGINT) AS t_points
  FROM lagged GROUP BY conv_id
)
SELECT conv_id, n, t_points,
       {r6('CASE WHEN n >= 3 THEN CAST(2 * (n - 2) AS DOUBLE) / 3.0 END', 'expected')},
       {r6('CASE WHEN n >= 3 THEN (CAST(t_points AS DOUBLE) - CAST(2 * (n - 2) AS DOUBLE) / 3.0) / SQRT(CAST(16 * n - 29 AS DOUBLE) / 90.0) END', 'z')}
FROM g
"""


def _ljung_box_sql(lags: int = 5) -> str:
    lag_cols = ",\n         ".join(
        f"LAG(CAST(signal AS BIGINT), {k}) OVER w AS l{k}" for k in range(1, lags + 1)
    )
    aggs = []
    for k in range(1, lags + 1):
        aggs += [
            f"CAST(COALESCE(SUM(CASE WHEN l{k} IS NOT NULL THEN x * l{k} END), 0) AS BIGINT) AS sxy{k}",
            f"CAST(COALESCE(SUM(CASE WHEN l{k} IS NOT NULL THEN l{k} END), 0) AS BIGINT) AS sh{k}",
            f"CAST(COALESCE(SUM(CASE WHEN l{k} IS NOT NULL THEN x END), 0) AS BIGINT) AS st{k}",
        ]
    agg_sql = ",\n         ".join(aggs)
    rk = {
        k: (
            f"(CAST(n * n * sxy{k} - n * s * (sh{k} + st{k}) + (n - {k}) * s * s AS DOUBLE)"
            f" / CAST(n * (n * ss - s * s) AS DOUBLE))"
        )
        for k in range(1, lags + 1)
    }
    q_terms = " + ".join(
        f"{rk[k]} * {rk[k]} / (CAST(n AS DOUBLE) - {float(k)!r})"
        for k in range(1, lags + 1)
    )
    ok = f"n > {lags} AND n * (n * ss - s * s) > 0"
    r_cols = ",\n       ".join(
        r6(f"CASE WHEN {ok} THEN {rk[k]} END", f"r{k}") for k in range(1, lags + 1)
    )
    return f"""
WITH t AS ({T}),
lagged AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS x,
         {lag_cols}
  FROM t WHERE signal IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
g AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS ss,
         {agg_sql}
  FROM lagged GROUP BY conv_id
)
SELECT conv_id, n,
       {r_cols},
       {r6(f'CASE WHEN {ok} THEN CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * ({q_terms}) END', 'q_lb')},
       CAST({lags} AS BIGINT) AS df
FROM g
"""


ORACLES["q_ljung_box"] = _ljung_box_sql(5)


# Season-3 naive MASE: exact long absolute-deviation sums, three-op
# chain — matches profile.seasonal_naive_mase
ORACLES["q_mase"] = f"""
WITH t AS ({T}),
lagged AS (
  SELECT conv_id,
         CAST(signal AS BIGINT) AS x,
         LAG(CAST(signal AS BIGINT), 1) OVER w AS l1,
         LAG(CAST(signal AS BIGINT), 3) OVER w AS lm
  FROM t WHERE signal IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
g AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(ABS(x - l1)), 0) AS BIGINT) AS sad_1,
         CAST(COALESCE(SUM(ABS(x - lm)), 0) AS BIGINT) AS sad_m
  FROM lagged GROUP BY conv_id
)
SELECT conv_id, n, sad_1, sad_m,
       {r6('CASE WHEN n > 1 THEN CAST(sad_1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END', 'mae_naive')},
       {r6('CASE WHEN n > 3 THEN CAST(sad_m AS DOUBLE) / CAST(n - 3 AS DOUBLE) END', 'mae_season')},
       {r6('CASE WHEN n > 3 AND sad_1 > 0 THEN (CAST(sad_m AS DOUBLE) / CAST(n - 3 AS DOUBLE)) / (CAST(sad_1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)) END', 'mase')}
FROM g
"""


# Difference-in-differences on the md5 conv split x literal cutoff:
# exact long cell moments, fixed did/se/t chains — matches
# drift.diff_in_diff (split_expr salt 'did1', threshold '80000000')
ORACLES["q_did"] = f"""
WITH t AS ({T}),
base AS (
  SELECT CAST(signal AS BIGINT) AS x,
         substring(md5('did1|' || conv_id), 1, 8) < '80000000' AS treat,
         ts >= TIMESTAMP '2024-01-15 00:00:00' AS post
  FROM t WHERE signal IS NOT NULL
),
g AS (
  SELECT
    CAST(COALESCE(COUNT(*) FILTER (WHERE NOT treat AND NOT post), 0) AS BIGINT) AS n_cp,
    CAST(COALESCE(SUM(x) FILTER (WHERE NOT treat AND NOT post), 0) AS BIGINT) AS s_cp,
    CAST(COALESCE(SUM(x * x) FILTER (WHERE NOT treat AND NOT post), 0) AS BIGINT) AS ss_cp,
    CAST(COALESCE(COUNT(*) FILTER (WHERE NOT treat AND post), 0) AS BIGINT) AS n_ct,
    CAST(COALESCE(SUM(x) FILTER (WHERE NOT treat AND post), 0) AS BIGINT) AS s_ct,
    CAST(COALESCE(SUM(x * x) FILTER (WHERE NOT treat AND post), 0) AS BIGINT) AS ss_ct,
    CAST(COALESCE(COUNT(*) FILTER (WHERE treat AND NOT post), 0) AS BIGINT) AS n_tp,
    CAST(COALESCE(SUM(x) FILTER (WHERE treat AND NOT post), 0) AS BIGINT) AS s_tp,
    CAST(COALESCE(SUM(x * x) FILTER (WHERE treat AND NOT post), 0) AS BIGINT) AS ss_tp,
    CAST(COALESCE(COUNT(*) FILTER (WHERE treat AND post), 0) AS BIGINT) AS n_tt,
    CAST(COALESCE(SUM(x) FILTER (WHERE treat AND post), 0) AS BIGINT) AS s_tt,
    CAST(COALESCE(SUM(x * x) FILTER (WHERE treat AND post), 0) AS BIGINT) AS ss_tt
  FROM base
),
m AS (
  SELECT *,
         CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE) AS m_cp,
         CAST(s_ct AS DOUBLE) / CAST(n_ct AS DOUBLE) AS m_ct,
         CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE) AS m_tp,
         CAST(s_tt AS DOUBLE) / CAST(n_tt AS DOUBLE) AS m_tt,
         CAST(n_cp * ss_cp - s_cp * s_cp AS DOUBLE) / CAST(n_cp * (n_cp - 1) AS DOUBLE) AS v_cp,
         CAST(n_ct * ss_ct - s_ct * s_ct AS DOUBLE) / CAST(n_ct * (n_ct - 1) AS DOUBLE) AS v_ct,
         CAST(n_tp * ss_tp - s_tp * s_tp AS DOUBLE) / CAST(n_tp * (n_tp - 1) AS DOUBLE) AS v_tp,
         CAST(n_tt * ss_tt - s_tt * s_tt AS DOUBLE) / CAST(n_tt * (n_tt - 1) AS DOUBLE) AS v_tt
  FROM g
),
f AS (
  SELECT *,
         (m_tt - m_tp) - (m_ct - m_cp) AS did,
         SQRT(v_cp / CAST(n_cp AS DOUBLE) + v_ct / CAST(n_ct AS DOUBLE)
              + v_tp / CAST(n_tp AS DOUBLE) + v_tt / CAST(n_tt AS DOUBLE)) AS se,
         n_cp >= 2 AND n_ct >= 2 AND n_tp >= 2 AND n_tt >= 2 AS all2,
         n_cp > 0 AND n_ct > 0 AND n_tp > 0 AND n_tt > 0 AS any0
  FROM m
)
SELECT n_cp, n_ct, n_tp, n_tt,
       {r6('CASE WHEN n_cp > 0 THEN m_cp END', 'm_cp')},
       {r6('CASE WHEN n_ct > 0 THEN m_ct END', 'm_ct')},
       {r6('CASE WHEN n_tp > 0 THEN m_tp END', 'm_tp')},
       {r6('CASE WHEN n_tt > 0 THEN m_tt END', 'm_tt')},
       {r6('CASE WHEN any0 THEN did END', 'did')},
       {r6('CASE WHEN all2 THEN se END', 'se')},
       {r6('CASE WHEN all2 AND se > 0 THEN did / se END', 't_stat')}
FROM f
"""


# Delta-method CI for the user-turn-share ratio metric: exact long
# per-conversation pairs and cross-moments — matches drift.delta_ratio_ci
ORACLES["q_delta_ratio"] = f"""
WITH t AS ({T}),
per AS (
  SELECT conv_id,
         CAST(COALESCE(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END), 0) AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM t GROUP BY conv_id
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM per
),
f AS (
  SELECT m, sx, sy,
         CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
         CAST(sy AS DOUBLE) / CAST(m AS DOUBLE) AS ybar,
         CAST(m * sxx - sx * sx AS DOUBLE) / CAST(m * (m - 1) AS DOUBLE) AS var_x,
         CAST(m * syy - sy * sy AS DOUBLE) / CAST(m * (m - 1) AS DOUBLE) AS var_y,
         CAST(m * sxy - sx * sy AS DOUBLE) / CAST(m * (m - 1) AS DOUBLE) AS cov,
         CAST(m AS DOUBLE) AS md
  FROM g
),
s AS (
  SELECT m, sx, sy, r,
         SQRT((var_x + r * r * var_y - 2.0 * r * cov) / (md * (ybar * ybar))) AS se
  FROM f
)
SELECT m, sx, sy,
       {r6('CASE WHEN sy > 0 THEN r END', 'ratio')},
       {r6('CASE WHEN m >= 2 AND sy > 0 THEN se END', 'se')},
       {r6('CASE WHEN m >= 2 AND sy > 0 THEN r - 1.959963984540054 * se END', 'lo')},
       {r6('CASE WHEN m >= 2 AND sy > 0 THEN r + 1.959963984540054 * se END', 'hi')}
FROM s
"""


# Wald SPRT per conversation: exact long expanding counts, plan-time
# log literals — matches drift.sprt_bernoulli (p0=0.4, p1=0.6,
# alpha=beta=0.05; llr_final recomputed from (n, k) — identical
# expression to the engine's max_by of the per-row chain)
_SPRT_L1 = repr(math.log(0.6 / 0.4))
_SPRT_L0 = repr(math.log(0.4 / 0.6))
_SPRT_UP = repr(math.log(0.95 / 0.05))
_SPRT_DN = repr(math.log(0.05 / 0.95))
ORACLES["q_sprt"] = f"""
WITH t AS ({T}),
p AS (
  SELECT conv_id,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS tt,
         CAST(SUM(CASE WHEN CAST(signal AS BIGINT) >= 5 THEN 1 ELSE 0 END)
              OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS k
  FROM t WHERE signal IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
s AS (
  SELECT conv_id, tt, k,
         CAST(k AS DOUBLE) * {_SPRT_L1} + CAST(tt - k AS DOUBLE) * {_SPRT_L0} AS llr
  FROM p
),
g AS (
  SELECT conv_id,
         CAST(MAX(tt) AS BIGINT) AS n,
         CAST(MAX(k) AS BIGINT) AS k,
         MIN(CASE WHEN llr >= {_SPRT_UP} THEN tt END) AS t_up,
         MIN(CASE WHEN llr <= {_SPRT_DN} THEN tt END) AS t_dn
  FROM s GROUP BY conv_id
)
SELECT conv_id, n, k,
       {r6('CAST(k AS DOUBLE) * ' + _SPRT_L1 + ' + CAST(n - k AS DOUBLE) * ' + _SPRT_L0, 'llr_final')},
       CASE WHEN t_up IS NOT NULL AND (t_dn IS NULL OR t_up < t_dn) THEN 'h1'
            WHEN t_dn IS NOT NULL THEN 'h0'
            ELSE 'continue' END AS decision,
       CAST(CASE WHEN t_up IS NULL AND t_dn IS NULL THEN NULL
                 ELSE LEAST(COALESCE(t_up, 4611686018427387904), COALESCE(t_dn, 4611686018427387904)) END AS BIGINT) AS n_decision
FROM g
"""


# Harrell's C-index for time-to-first-tool vs the mean-signal score:
# exact integer cross-product comparisons over the opt-in O(k^2) pair
# join — matches profile.concordance_index
ORACLES["q_cindex"] = f"""
WITH t AS ({T}),
per AS (
  SELECT conv_id,
         MIN(epoch_us(ts)) AS t0,
         MIN(CASE WHEN role = 'tool' THEN epoch_us(ts) END) AS tev,
         MAX(epoch_us(ts)) AS tend,
         CAST(COALESCE(SUM(CAST(signal AS BIGINT)), 0) AS BIGINT) AS s,
         CAST(COUNT(signal) AS BIGINT) AS n
  FROM t GROUP BY conv_id
),
base AS (
  SELECT conv_id,
         CAST(CASE WHEN tev IS NOT NULL THEN tev - t0 ELSE tend - t0 END AS BIGINT) AS dur,
         tev IS NOT NULL AS e, s, n
  FROM per WHERE n > 0
),
pg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS comparable,
         CAST(COALESCE(SUM(CASE WHEN a.s * b.n > b.s * a.n THEN 1 END), 0) AS BIGINT) AS concordant,
         CAST(COALESCE(SUM(CASE WHEN a.s * b.n = b.s * a.n THEN 1 END), 0) AS BIGINT) AS tied
  FROM base a JOIN base b ON a.dur < b.dur
  WHERE a.e
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_conv,
         CAST(COALESCE(SUM(CASE WHEN e THEN 1 END), 0) AS BIGINT) AS n_events
  FROM base
)
SELECT tot.n_conv, tot.n_events, pg.comparable, pg.concordant, pg.tied,
       {r6('CASE WHEN pg.comparable > 0 THEN (CAST(pg.concordant AS DOUBLE) + 0.5 * CAST(pg.tied AS DOUBLE)) / CAST(pg.comparable AS DOUBLE) END', 'c_index')}
FROM tot, pg
"""


# Good-Turing counts-of-counts: exact long N_r table over the
# normalized token stream — matches text.good_turing (max_r=5)
ORACLES["q_good_turing"] = f"""
WITH base AS (
  SELECT {TOKS_DOC} AS tk FROM documents
),
toks AS (
  SELECT UNNEST(list_transform(generate_series(1, len(tk) - 2),
                i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS tok
  FROM base WHERE len(tk) >= 3
),
counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
),
cc AS (
  SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM counts GROUP BY c
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM toks),
body AS (
  SELECT a.r, a.n_r, b.n_r AS n_next, tot.n_total
  FROM cc a LEFT JOIN cc b ON b.r = a.r + 1 CROSS JOIN tot
  WHERE a.r >= 1 AND a.r <= 5
),
zero AS (
  SELECT CAST(0 AS BIGINT) AS r,
         CAST(COALESCE((SELECT n_r FROM cc WHERE r = 1), 0) AS BIGINT) AS n_r,
         CAST(NULL AS BIGINT) AS n_next_raw,
         tot.n_total
  FROM tot
)
SELECT CAST(r AS BIGINT) AS r, n_r,
       CAST(0 AS BIGINT) AS n_next,
       CAST(NULL AS DOUBLE) AS r_star,
       {r6('CAST(n_r AS DOUBLE) / CAST(n_total AS DOUBLE)', 'p_r')}
FROM zero
UNION ALL
SELECT CAST(r AS BIGINT) AS r, n_r,
       CAST(COALESCE(n_next, 0) AS BIGINT) AS n_next,
       {r6('CASE WHEN n_next IS NOT NULL THEN CAST((r + 1) * n_next AS DOUBLE) / CAST(n_r AS DOUBLE) END', 'r_star')},
       {r6('CASE WHEN n_next IS NOT NULL THEN (CAST((r + 1) * n_next AS DOUBLE) / CAST(n_r AS DOUBLE)) / CAST(n_total AS DOUBLE) END', 'p_r')}
FROM body
"""


# Monroe log-odds keyness with informative Dirichlet prior (en vs
# rest, a0=10, min_count=5, top-20 by |z| desc / token asc) — matches
# text.log_odds_keyness
ORACLES["q_log_odds"] = f"""
WITH toks AS (
  SELECT lang = 'en' AS is_a, UNNEST({TOKS_DOC}) AS tok FROM documents
),
per AS (
  SELECT tok,
         CAST(COALESCE(SUM(CASE WHEN is_a THEN 1 END), 0) AS BIGINT) AS y_a,
         CAST(COALESCE(SUM(CASE WHEN NOT is_a THEN 1 END), 0) AS BIGINT) AS y_b
  FROM toks GROUP BY tok
),
tot AS (
  SELECT CAST(SUM(y_a) AS BIGINT) AS na, CAST(SUM(y_b) AS BIGINT) AS nb FROM per
),
sc AS (
  SELECT tok, y_a, y_b,
         CAST(y_a AS DOUBLE) AS ya, CAST(y_b AS DOUBLE) AS yb,
         CAST(tot.na AS DOUBLE) AS nad, CAST(tot.nb AS DOUBLE) AS nbd,
         10.0 * CAST(y_a + y_b AS DOUBLE) / CAST(tot.na + tot.nb AS DOUBLE) AS aw
  FROM per CROSS JOIN tot
  WHERE y_a + y_b >= 5
),
d AS (
  SELECT tok, y_a, y_b,
         LN((ya + aw) / (nad + 10.0 - ya - aw)) - LN((yb + aw) / (nbd + 10.0 - yb - aw)) AS delta,
         (LN((ya + aw) / (nad + 10.0 - ya - aw)) - LN((yb + aw) / (nbd + 10.0 - yb - aw)))
           / SQRT(1.0 / (ya + aw) + 1.0 / (yb + aw)) AS z
  FROM sc
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(z) DESC, tok ASC) AS rank FROM d
)
SELECT tok AS token, y_a, y_b,
       {r6('delta', 'delta')},
       {r6('z', 'z')},
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 20
"""


# Chi-squared token-vs-label selection on document frequency (en vs
# rest, min_df=3, top-20 by chi2 desc / token asc) — matches
# text.chi2_token_selection (det squared in double, like the engine)
ORACLES["q_chi2_tokens"] = f"""
WITH pairs AS (
  SELECT DISTINCT doc_id, lang = 'en' AS is_a, tok
  FROM (SELECT doc_id, lang, UNNEST({TOKS_DOC}) AS tok FROM documents)
),
per AS (
  SELECT tok,
         CAST(COALESCE(SUM(CASE WHEN is_a THEN 1 END), 0) AS BIGINT) AS df_pos,
         CAST(COALESCE(SUM(CASE WHEN NOT is_a THEN 1 END), 0) AS BIGINT) AS df_neg
  FROM pairs GROUP BY tok
),
tot AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 END), 0) AS BIGINT) AS p,
         CAST(COALESCE(SUM(CASE WHEN NOT (lang = 'en') THEN 1 END), 0) AS BIGINT) AS q
  FROM documents
),
sc AS (
  SELECT tok, df_pos, df_neg,
         df_pos AS a, df_neg AS b, tot.p - df_pos AS c, tot.q - df_neg AS d,
         tot.p, tot.q
  FROM per CROSS JOIN tot
  WHERE df_pos + df_neg >= 3
),
d AS (
  SELECT tok, df_pos, df_neg,
         CASE WHEN a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0 THEN
           CAST(p + q AS DOUBLE) * (CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE))
             / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
         END AS chi2
  FROM sc
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY chi2 DESC NULLS LAST, tok ASC) AS rank FROM d
)
SELECT tok AS token, df_pos, df_neg,
       {r6('chi2', 'chi2')},
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 20
"""


# Per-node local clustering on the LSH candidate graph: the
# q_triangles orientation with per-corner triangle credits — matches
# graph.local_clustering over dedup.minhash_lsh_pairs
ORACLES["q_local_clustering"] = f"""
WITH und AS (
  SELECT CAST(LEAST(id_a, id_b) AS BIGINT) AS a,
         CAST(GREATEST(id_a, id_b) AS BIGINT) AS b
  FROM ({{PAIRS}}) pq WHERE id_a <> id_b
),
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und) x
  GROUP BY n
),
e AS (
  SELECT und.a, und.b, da.d AS dda, db.d AS ddb
  FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b
),
o AS (
  SELECT CASE WHEN dda < ddb OR (dda = ddb AND a < b) THEN a ELSE b END AS u,
         CASE WHEN dda < ddb OR (dda = ddb AND a < b) THEN b ELSE a END AS v
  FROM e
),
w AS (
  SELECT o1.u, o1.v AS v1, o2.v AS v2
  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v
),
tri AS (
  SELECT u, v1, v2 FROM w
  WHERE EXISTS (SELECT 1 FROM und WHERE und.a = w.v1 AND und.b = w.v2)
),
credits AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT u AS n FROM tri UNION ALL SELECT v1 AS n FROM tri UNION ALL SELECT v2 AS n FROM tri) x
  GROUP BY n
)
SELECT deg.n AS node, deg.d AS degree,
       CAST(COALESCE(credits.t, 0) AS BIGINT) AS triangles,
       {r6('CAST(2 * COALESCE(credits.t, 0) AS DOUBLE) / CAST(deg.d * (deg.d - 1) AS DOUBLE)', 'clustering')}
FROM deg LEFT JOIN credits ON credits.n = deg.n
WHERE deg.d >= 2
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Brier score + Murphy decomposition: the q_calibration probability
# chain, then ordered folds over the compacted (bin, p6) histogram —
# matches encoding.brier_decomposition
ORACLES["q_brier"] = f"""
WITH s AS (
  SELECT doc_id,
         len({TOKS_RAW}) AS n,
         list_reduce([CAST(0.0 AS DOUBLE)] || list_transform({TOKS_RAW},
             t -> ({_classifier_w_sql()})[CAST(('0x' || substring(md5(t), 1, 4))::BIGINT % 64 AS INT) + 1]),
             (acc, x) -> acc + x) AS wsum
  FROM documents
),
sc AS (SELECT doc_id, n, wsum / CAST(n AS DOUBLE) + 0 AS score FROM s),
pr AS (SELECT doc_id, 1.0 / (1.0 + exp(-score)) AS prob FROM sc),
lab AS (
  SELECT {r6x('pr.prob')} AS p6, (d.lang = 'en') AS y
  FROM pr JOIN documents d USING (doc_id)
),
hist AS (
  SELECT LEAST(CAST(FLOOR(p6 * 10.0) AS INT), 9) AS bin, p6,
         CAST(COUNT(*) AS BIGINT) AS c,
         CAST(COALESCE(SUM(CASE WHEN y THEN 1 END), 0) AS BIGINT) AS pos
  FROM lab GROUP BY 1, 2
),
per_bin AS (
  SELECT bin,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS npos,
         list_reduce([0.0] || list(CAST(c AS DOUBLE) * p6 ORDER BY p6), (a, x) -> a + x) AS conf_sum,
         list_reduce([0.0] || list(CAST(c AS DOUBLE) * (p6 * p6) ORDER BY p6), (a, x) -> a + x) AS sum_p2,
         list_reduce([0.0] || list(CAST(pos AS DOUBLE) * p6 ORDER BY p6), (a, x) -> a + x) AS sum_py
  FROM hist GROUP BY bin
),
bb AS (
  SELECT bin, n, npos, sum_p2, sum_py,
         conf_sum / CAST(n AS DOUBLE) AS conf,
         CAST(npos AS DOUBLE) / CAST(n AS DOUBLE) AS acc
  FROM per_bin
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(npos) AS BIGINT) AS npt FROM bb
),
g AS (
  SELECT tot.nt AS n,
         tot.npt AS n_pos,
         list_reduce([0.0] || list(sum_p2 ORDER BY bin), (a, x) -> a + x) AS sum_p2,
         list_reduce([0.0] || list(sum_py ORDER BY bin), (a, x) -> a + x) AS sum_py,
         list_reduce([0.0] || list((CAST(bb.n AS DOUBLE) / CAST(tot.nt AS DOUBLE))
                                   * ((conf - acc) * (conf - acc)) ORDER BY bin),
                     (a, x) -> a + x) AS rel,
         list_reduce([0.0] || list((CAST(bb.n AS DOUBLE) / CAST(tot.nt AS DOUBLE))
                                   * ((acc - CAST(tot.npt AS DOUBLE) / CAST(tot.nt AS DOUBLE))
                                      * (acc - CAST(tot.npt AS DOUBLE) / CAST(tot.nt AS DOUBLE)))
                                   ORDER BY bin),
                     (a, x) -> a + x) AS res
  FROM bb CROSS JOIN tot
  GROUP BY tot.nt, tot.npt
),
f AS (
  SELECT n, n_pos, rel, res,
         (sum_p2 - 2.0 * sum_py + CAST(n_pos AS DOUBLE)) / CAST(n AS DOUBLE) AS brier,
         (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
           * (1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS unc
  FROM g
)
SELECT n, n_pos,
       {r6('CASE WHEN n > 0 THEN brier END', 'brier')},
       {r6('CASE WHEN n > 0 THEN rel END', 'rel')},
       {r6('CASE WHEN n > 0 THEN res END', 'res')},
       {r6('CASE WHEN n > 0 THEN unc END', 'unc')},
       {r6('CASE WHEN n > 0 THEN rel - res + unc END', 'brier_binned')}
FROM f
"""


# Fleiss' kappa over the first-3-scored-turn panels: exact long panel
# counts, fixed rational chains — matches drift.fleiss_kappa
ORACLES["q_fleiss_kappa"] = f"""
WITH t AS ({T}),
fn AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS cat,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM t WHERE signal IS NOT NULL
),
panel AS (
  SELECT conv_id, cat FROM fn
  WHERE rn <= 3 AND conv_id IN (
    SELECT conv_id FROM fn WHERE rn <= 3 GROUP BY conv_id HAVING COUNT(*) = 3
  )
),
per_ic AS (
  SELECT conv_id, cat, CAST(COUNT(*) AS BIGINT) AS nic FROM panel GROUP BY conv_id, cat
),
per_item AS (
  SELECT conv_id, CAST(SUM(nic * nic) AS BIGINT) AS s_i FROM per_ic GROUP BY conv_id
),
per_cat AS (
  SELECT cat, CAST(SUM(nic) AS BIGINT) AS cc FROM per_ic GROUP BY cat
),
g AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per_item) AS m_items,
         (SELECT CAST(SUM(s_i) AS BIGINT) FROM per_item) AS s,
         (SELECT CAST(SUM(cc * cc) AS BIGINT) FROM per_cat) AS sum_c2
),
f AS (
  SELECT m_items, s, sum_c2,
         CAST(s - m_items * 3 AS DOUBLE) / CAST(m_items * 3 * 2 AS DOUBLE) AS pbar,
         CAST(sum_c2 AS DOUBLE) / CAST((m_items * 3) * (m_items * 3) AS DOUBLE) AS pe
  FROM g
)
SELECT m_items, CAST(3 AS BIGINT) AS n_raters, s, sum_c2,
       {r6('CASE WHEN m_items > 0 THEN pbar END', 'pbar')},
       {r6('CASE WHEN m_items > 0 THEN pe END', 'pe')},
       {r6('CASE WHEN m_items > 0 AND pe <> 1.0 THEN (pbar - pe) / (1.0 - pe) END', 'kappa')}
FROM f
"""


# Sample entropy m=2 r=1: exact integer template-match counts over the
# per-conversation pair join — matches profile.sample_entropy
ORACLES["q_sample_entropy"] = f"""
WITH t AS ({T}),
tpl AS (
  SELECT conv_id,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
         CAST(signal AS BIGINT) AS x0,
         LEAD(CAST(signal AS BIGINT), 1) OVER w AS x1,
         LEAD(CAST(signal AS BIGINT), 2) OVER w AS x2
  FROM t WHERE signal IS NOT NULL
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
tp AS (SELECT * FROM tpl WHERE x2 IS NOT NULL),
pg AS (
  SELECT a.conv_id,
         CAST(COALESCE(SUM(CASE WHEN ABS(a.x0 - b.x0) <= 1 AND ABS(a.x1 - b.x1) <= 1 THEN 1 END), 0) AS BIGINT) AS b_count,
         CAST(COALESCE(SUM(CASE WHEN ABS(a.x0 - b.x0) <= 1 AND ABS(a.x1 - b.x1) <= 1
                                     AND ABS(a.x2 - b.x2) <= 1 THEN 1 END), 0) AS BIGINT) AS a_count
  FROM tp a JOIN tp b ON a.conv_id = b.conv_id AND a.i < b.i
  GROUP BY a.conv_id
),
np AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM t WHERE signal IS NOT NULL GROUP BY conv_id
)
SELECT np.conv_id, np.n,
       CAST(COALESCE(pg.b_count, 0) AS BIGINT) AS b_count,
       CAST(COALESCE(pg.a_count, 0) AS BIGINT) AS a_count,
       {r6('CASE WHEN COALESCE(pg.a_count, 0) > 0 AND COALESCE(pg.b_count, 0) > 0 THEN -LN(CAST(pg.a_count AS DOUBLE) / CAST(pg.b_count AS DOUBLE)) END', 'sampen')}
FROM np LEFT JOIN pg ON pg.conv_id = np.conv_id
"""


# Multinomial naive-Bayes language self-scoring: exact long counts,
# position-ordered per-doc log folds, lang-asc argmax — matches
# text.naive_bayes_lang
ORACLES["q_naive_bayes"] = f"""
WITH d AS (SELECT doc_id, lang, {TOKS_DOC} AS tk FROM documents),
tok AS (
  SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS token FROM d
),
cnt AS (
  SELECT d.lang, tok.token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok JOIN d USING (doc_id) GROUP BY d.lang, tok.token
),
n_lang AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS nl FROM cnt GROUP BY lang),
vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM cnt),
prior AS (
  SELECT lang,
         LN(CAST(COUNT(*) AS DOUBLE) / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)) AS ln_prior
  FROM documents GROUP BY lang
),
st AS (
  SELECT tok.doc_id, nl.lang, tok.pos,
         LN(CAST(COALESCE(cnt.c, 0) + 1 AS DOUBLE) / CAST(nl.nl + vocab.v AS DOUBLE)) AS lp
  FROM tok CROSS JOIN n_lang nl
  LEFT JOIN cnt ON cnt.lang = nl.lang AND cnt.token = tok.token
  CROSS JOIN vocab
),
per AS (
  SELECT doc_id, lang,
         list_reduce([0.0] || list(lp ORDER BY pos), (a, x) -> a + x) AS s
  FROM st GROUP BY doc_id, lang
),
scored AS (
  SELECT per.doc_id, per.lang, prior.ln_prior + per.s AS score
  FROM per JOIN prior USING (lang)
),
ranked AS (
  SELECT doc_id, lang, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rk,
         LEAD(score) OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS runner
  FROM scored
)
SELECT CAST(r.doc_id AS BIGINT) AS doc_id,
       d2.lang AS actual,
       r.lang AS pred,
       {r6('r.score', 'logprob')},
       r.lang = d2.lang AS correct,
       {r6('r.score - r.runner', 'margin')}
FROM ranked r JOIN documents d2 ON d2.doc_id = r.doc_id
WHERE r.rk = 1
"""


# Krippendorff's nominal alpha over variable-size first-5-turn panels:
# exact long coincidence counts, conv-ordered unit fold +
# category-ordered marginal fold — matches drift.krippendorff_alpha
ORACLES["q_kripp_alpha"] = f"""
WITH t AS ({T}),
fn AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS cat,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM t WHERE signal IS NOT NULL
),
vals AS (SELECT conv_id, cat FROM fn WHERE rn <= 5),
per_ic AS (
  SELECT conv_id, cat, CAST(COUNT(*) AS BIGINT) AS nic FROM vals GROUP BY conv_id, cat
),
per_unit AS (
  SELECT conv_id, CAST(SUM(nic) AS BIGINT) AS m, CAST(SUM(nic * nic) AS BIGINT) AS s2
  FROM per_ic GROUP BY conv_id HAVING CAST(SUM(nic) AS BIGINT) >= 2
),
units AS (
  SELECT conv_id, m,
         CAST(m * m - s2 AS DOUBLE) / CAST(m - 1 AS DOUBLE) AS d_i
  FROM per_unit
),
gu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(m) AS BIGINT) AS n,
         list_reduce([0.0] || list(d_i ORDER BY conv_id), (a, x) -> a + x) AS d_o_sum
  FROM units
),
marg AS (
  SELECT cat, CAST(COUNT(*) AS BIGINT) AS nc
  FROM vals JOIN per_unit USING (conv_id) GROUP BY cat
),
margt AS (
  SELECT cat,
         CAST(nc * (gu.n - nc) AS DOUBLE) / CAST(gu.n * (gu.n - 1) AS DOUBLE) AS term
  FROM marg CROSS JOIN gu
),
gm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_values,
         list_reduce([0.0] || list(term ORDER BY cat), (a, x) -> a + x) AS d_e
  FROM margt
),
f AS (
  SELECT gu.n_units, gm.n_values,
         d_o_sum / CAST(gu.n AS DOUBLE) AS d_o,
         gm.d_e AS d_e
  FROM gu CROSS JOIN gm
)
SELECT n_units, n_values,
       {r6('CASE WHEN n_units > 0 THEN d_o END', 'd_o')},
       {r6('CASE WHEN n_units > 0 THEN d_e END', 'd_e')},
       {r6('CASE WHEN n_units > 0 AND d_e > 0 THEN 1.0 - d_o / d_e END', 'alpha')}
FROM f
"""


# Hedges' g user-vs-assistant effect size: exact long group moments,
# fixed pooled-SD/d/J chains — matches drift.hedges_g
ORACLES["q_hedges_g"] = f"""
WITH t AS ({T}),
f AS (
  SELECT role, CAST(signal AS BIGINT) AS x FROM t
  WHERE signal IS NOT NULL AND role IN ('user', 'assistant')
),
g0 AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN role = 'user' THEN 1 END), 0) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN role = 'user' THEN x END) AS BIGINT) AS sa,
         CAST(SUM(CASE WHEN role = 'user' THEN x * x END) AS BIGINT) AS ssa,
         CAST(COALESCE(SUM(CASE WHEN role = 'assistant' THEN 1 END), 0) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN role = 'assistant' THEN x END) AS BIGINT) AS sb,
         CAST(SUM(CASE WHEN role = 'assistant' THEN x * x END) AS BIGINT) AS ssb
  FROM f
),
c AS (
  SELECT na, nb,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
         CAST(na * ssa - sa * sa AS DOUBLE) / CAST(na * (na - 1) AS DOUBLE) AS var_a,
         CAST(nb * ssb - sb * sb AS DOUBLE) / CAST(nb * (nb - 1) AS DOUBLE) AS var_b,
         CAST(na + nb - 2 AS DOUBLE) AS dfree
  FROM g0
),
s AS (
  SELECT na, nb, ma, mb, dfree,
         SQRT((CAST(na - 1 AS DOUBLE) * var_a + CAST(nb - 1 AS DOUBLE) * var_b) / dfree) AS sp
  FROM c
)
SELECT na AS n_a, nb AS n_b,
       {r6('CASE WHEN na > 0 THEN ma END', 'mean_a')},
       {r6('CASE WHEN nb > 0 THEN mb END', 'mean_b')},
       {r6('CASE WHEN na >= 2 AND nb >= 2 AND sp > 0 THEN sp END', 'sp')},
       {r6('CASE WHEN na >= 2 AND nb >= 2 AND sp > 0 THEN (ma - mb) / sp END', 'd')},
       {r6('CASE WHEN na >= 2 AND nb >= 2 AND sp > 0 THEN (1.0 - 3.0 / (4.0 * dfree - 1.0)) * ((ma - mb) / sp) END', 'g')}
FROM s
"""


# Grubbs' max-deviation statistic per role: exact-integer |n*x - S|
# argmax over the compacted value histogram, fixed G chain — matches
# drift.grubbs_max
ORACLES["q_grubbs"] = f"""
WITH t AS ({T}),
hist AS (
  SELECT role AS grp, CAST(signal AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM t WHERE signal IS NOT NULL GROUP BY role, CAST(signal AS BIGINT)
),
lv AS (
  SELECT grp, v,
         CAST(SUM(c) OVER w AS BIGINT) AS n,
         CAST(SUM(c * v) OVER w AS BIGINT) AS s,
         CAST(SUM(c * v * v) OVER w AS BIGINT) AS ss
  FROM hist
  WINDOW w AS (PARTITION BY grp)
),
top AS (
  SELECT grp, v, n, s, ss,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY ABS(n * v - s) DESC, v ASC) AS rk
  FROM lv
),
c AS (
  SELECT grp, n, v,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
         SQRT(CAST(n * ss - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) AS sd
  FROM top WHERE rk = 1
)
SELECT grp AS "group", n, v AS x_star,
       {r6("CASE WHEN n >= 3 AND sd > 0 THEN ABS(CAST(v AS DOUBLE) - xbar) / sd END", 'g')}
FROM c
"""


# Cumulative gains / lift deciles for the hashed quality classifier vs
# lang='en': deterministic (p6 desc, doc_id asc) rank, exact cumulative
# counts, fixed lift/capture chains — matches encoding.lift_curve over
# curation.quality_classifier
ORACLES["q_lift_curve"] = f"""
WITH s AS (
  SELECT doc_id,
         len({TOKS_RAW}) AS n,
         list_reduce([CAST(0.0 AS DOUBLE)] || list_transform({TOKS_RAW},
             t -> ({_classifier_w_sql()})[CAST(('0x' || substring(md5(t), 1, 4))::BIGINT % 64 AS INT) + 1]),
             (acc, x) -> acc + x) AS wsum
  FROM documents
),
sc AS (SELECT doc_id, wsum / CAST(n AS DOUBLE) + 0 AS score FROM s),
pr AS (SELECT doc_id, {r6x('1.0 / (1.0 + exp(-score))')} AS p6 FROM sc),
lab AS (
  SELECT pr.doc_id, pr.p6, (d.lang = 'en') AS y
  FROM pr JOIN documents d USING (doc_id)
),
rk AS (
  SELECT doc_id, p6, y,
         CAST(ROW_NUMBER() OVER (ORDER BY p6 DESC, doc_id ASC) AS BIGINT) AS rk
  FROM lab
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nt,
         CAST(COALESCE(SUM(CASE WHEN y THEN 1 END), 0) AS BIGINT) AS pt
  FROM lab
),
dec AS (
  SELECT CAST(FLOOR(CAST((rk.rk - 1) * 10 AS DOUBLE) / CAST(tot.nt AS DOUBLE)) AS BIGINT) AS decile, y
  FROM rk CROSS JOIN tot
),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN y THEN 1 END), 0) AS BIGINT) AS n_pos
  FROM dec GROUP BY decile
),
cum AS (
  SELECT decile, n, n_pos,
         CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
         CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos
  FROM per
  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, n, n_pos, cum_n, cum_pos,
       {r6('CASE WHEN tot.pt > 0 THEN (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)) / (CAST(tot.pt AS DOUBLE) / CAST(tot.nt AS DOUBLE)) END', 'lift')},
       {r6('CASE WHEN tot.pt > 0 THEN CAST(cum_pos AS DOUBLE) / CAST(tot.pt AS DOUBLE) END', 'capture')}
FROM cum CROSS JOIN tot
"""


# Cohen's kappa between the first two scored turns per conversation:
# exact contingency longs, double-square pe — matches drift.cohen_kappa
ORACLES["q_cohen_kappa"] = f"""
WITH t AS ({T}),
fn AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS cat,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM t WHERE signal IS NOT NULL
),
pairs AS (
  SELECT conv_id,
         MAX(CASE WHEN rn = 1 THEN cat END) AS a,
         MAX(CASE WHEN rn = 2 THEN cat END) AS b,
         COUNT(*) AS k
  FROM fn WHERE rn <= 2 GROUP BY conv_id HAVING COUNT(*) = 2
),
cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY a, b),
row_m AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ra FROM cells GROUP BY a),
col_m AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM cells GROUP BY b),
sp AS (
  SELECT CAST(SUM(ra * cb) AS BIGINT) AS s
  FROM row_m JOIN col_m ON row_m.a = col_m.b
),
g AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_items,
         CAST(COALESCE(SUM(CASE WHEN a = b THEN c ELSE 0 END), 0) AS BIGINT) AS n_agree
  FROM cells
),
f AS (
  SELECT g.n_items, g.n_agree,
         CAST(g.n_agree AS DOUBLE) / CAST(g.n_items AS DOUBLE) AS po,
         CAST(sp.s AS DOUBLE) / (CAST(g.n_items AS DOUBLE) * CAST(g.n_items AS DOUBLE)) AS pe
  FROM g CROSS JOIN sp
)
SELECT n_items, n_agree,
       {r6('CASE WHEN n_items > 0 THEN po END', 'po')},
       {r6('CASE WHEN n_items > 0 THEN pe END', 'pe')},
       {r6('CASE WHEN n_items > 0 AND pe <> 1.0 THEN (po - pe) / (1.0 - pe) END', 'kappa')}
FROM f
"""


# Theil's uncertainty coefficient U(tool-bucket | role): exact cell
# longs, category-ordered entropy folds — matches drift.theil_u
ORACLES["q_theil_u"] = f"""
WITH t AS ({T}),
s AS (SELECT role AS x, COALESCE(tool, 'none') AS y FROM t),
cell AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY x, y),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cell),
ym AS (
  SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM cell GROUP BY y
),
yterm AS (
  SELECT y, (CAST(cy AS DOUBLE) / CAST(tot.n AS DOUBLE))
            * LN(CAST(cy AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS term
  FROM ym CROSS JOIN tot
),
gy AS (
  SELECT -list_reduce([0.0] || list(term ORDER BY y), (a, e) -> a + e) AS h_y
  FROM yterm
),
xm AS (SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM cell GROUP BY x),
xyterm AS (
  SELECT cell.x, cell.y,
         (CAST(cell.c AS DOUBLE) / CAST(tot.n AS DOUBLE))
         * LN(CAST(cell.c AS DOUBLE) / CAST(xm.cx AS DOUBLE)) AS term
  FROM cell JOIN xm USING (x) CROSS JOIN tot
),
gxy AS (
  SELECT -list_reduce([0.0] || list(term ORDER BY x, y), (a, e) -> a + e) AS h_yx
  FROM xyterm
)
SELECT tot.n AS n,
       {r6('gy.h_y', 'h_y')},
       {r6('gxy.h_yx', 'h_y_given_x')},
       {r6('CASE WHEN gy.h_y > 0 THEN (gy.h_y - gxy.h_yx) / gy.h_y END', 'u')}
FROM tot CROSS JOIN gy CROSS JOIN gxy
"""


# Goodman-Kruskal lambda(tool-bucket | role): exact-long modal counts,
# one division — matches drift.gk_lambda
ORACLES["q_gk_lambda"] = f"""
WITH t AS ({T}),
s AS (SELECT role AS x, COALESCE(tool, 'none') AS y FROM t),
cell AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY x, y),
a AS (
  SELECT CAST(SUM(mx) AS BIGINT) AS sum_modal
  FROM (SELECT x, CAST(MAX(c) AS BIGINT) AS mx FROM cell GROUP BY x)
),
b AS (
  SELECT CAST(MAX(cy) AS BIGINT) AS modal_marginal, CAST(SUM(cy) AS BIGINT) AS n
  FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM cell GROUP BY y)
)
SELECT b.n, a.sum_modal, b.modal_marginal,
       {r6('CASE WHEN b.n > b.modal_marginal THEN CAST(a.sum_modal - b.modal_marginal AS DOUBLE) / CAST(b.n - b.modal_marginal AS DOUBLE) END', 'lam')}
FROM b CROSS JOIN a
"""


# t-closeness of each lang class's doc-length-level distribution vs the
# corpus: exact cumulative longs, level-ordered EMD fold — matches
# curation.t_closeness with sensitive = min(n_chars div 64, 7)
ORACLES["q_t_closeness"] = f"""
WITH d AS (
  SELECT lang, CAST(LEAST(FLOOR(n_chars / 64), 7) AS BIGINT) AS sv FROM documents
),
cell AS (SELECT lang, sv, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY lang, sv),
gl AS (SELECT sv, CAST(SUM(c) AS BIGINT) AS g FROM cell GROUP BY sv),
levels AS (
  SELECT sv,
         CAST(SUM(g) OVER (ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumg,
         CAST(SUM(g) OVER () AS BIGINT) AS nn,
         CAST(COUNT(*) OVER () AS BIGINT) AS k
  FROM gl
),
classes AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_rows FROM cell GROUP BY lang),
grid AS (
  SELECT classes.lang, classes.n_rows, levels.sv, levels.cumg, levels.nn, levels.k,
         CAST(COALESCE(cell.c, 0) AS BIGINT) AS c0
  FROM classes CROSS JOIN levels
  LEFT JOIN cell ON cell.lang = classes.lang AND cell.sv = levels.sv
),
dense AS (
  SELECT lang, n_rows, sv, k,
         ABS(CAST(SUM(c0) OVER (PARTITION BY lang ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(n_rows AS DOUBLE)
             - CAST(cumg AS DOUBLE) / CAST(nn AS DOUBLE)) AS term
  FROM grid
),
per AS (
  SELECT lang, CAST(MAX(n_rows) AS BIGINT) AS n_rows, CAST(MAX(k) AS BIGINT) AS k,
         list_reduce([0.0] || list(term ORDER BY sv), (a, e) -> a + e) AS tsum
  FROM dense GROUP BY lang
)
SELECT lang, n_rows,
       {r6('CASE WHEN k >= 2 THEN tsum / CAST(k - 1 AS DOUBLE) END', 't')}
FROM per
"""


# Kendall's W over first-3-turn panels: integer doubled ranks,
# tie-corrected, one division — matches drift.kendall_w
ORACLES["q_kendall_w"] = f"""
WITH t AS ({T}),
fn AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS cat,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS j
  FROM t WHERE signal IS NOT NULL
),
panel AS (
  SELECT conv_id, j, cat FROM fn
  WHERE j <= 3 AND conv_id IN (
    SELECT conv_id FROM fn WHERE j <= 3 GROUP BY conv_id HAVING COUNT(*) = 3
  )
),
ranked AS (
  SELECT conv_id, j, cat,
         CAST(2 * RANK() OVER (PARTITION BY conv_id ORDER BY cat)
              + COUNT(*) OVER (PARTITION BY conv_id, cat) - 1 AS BIGINT) AS r2
  FROM panel
),
m AS (SELECT CAST(COUNT(*) / 3 AS BIGINT) AS m FROM ranked),
cols AS (SELECT j, CAST(SUM(r2) AS BIGINT) AS R2 FROM ranked GROUP BY j),
sn AS (
  SELECT CAST(SUM((R2 - m.m * 4) * (R2 - m.m * 4)) AS BIGINT) AS s_num
  FROM cols CROSS JOIN m
),
ties AS (
  SELECT CAST(SUM(c * c * c - c) AS BIGINT) AS tie_sum
  FROM (SELECT conv_id, cat, CAST(COUNT(*) AS BIGINT) AS c FROM ranked GROUP BY conv_id, cat)
)
SELECT m.m, CAST(3 AS BIGINT) AS k, sn.s_num, ties.tie_sum,
       {r6('CASE WHEN m.m > 0 AND (m.m * m.m * 24 - m.m * ties.tie_sum) > 0 THEN 3.0 * CAST(sn.s_num AS DOUBLE) / CAST(m.m * m.m * 24 - m.m * ties.tie_sum AS DOUBLE) END', 'w')}
FROM m CROSS JOIN sn CROSS JOIN ties
"""


# Cronbach's alpha over first-3-turn panels: exact long moments,
# item-ordered variance fold — matches drift.cronbach_alpha
ORACLES["q_cronbach"] = f"""
WITH t AS ({T}),
fn AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS x,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS j
  FROM t WHERE signal IS NOT NULL
),
panel AS (
  SELECT conv_id, j, x FROM fn
  WHERE j <= 3 AND conv_id IN (
    SELECT conv_id FROM fn WHERE j <= 3 GROUP BY conv_id HAVING COUNT(*) = 3
  )
),
items AS (
  SELECT j, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS ss
  FROM panel GROUP BY j
),
iv AS (
  SELECT j, CAST(n * ss - s * s AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) AS v
  FROM items
),
gi AS (
  SELECT list_reduce([0.0] || list(v ORDER BY j), (a, e) -> a + e) AS sum_var
  FROM iv
),
tot AS (SELECT conv_id, CAST(SUM(x) AS BIGINT) AS tt FROM panel GROUP BY conv_id),
gt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(tt) AS BIGINT) AS st,
         CAST(SUM(tt * tt) AS BIGINT) AS sst
  FROM tot
),
f AS (
  SELECT gt.m, gi.sum_var,
         CAST(gt.m * gt.sst - gt.st * gt.st AS DOUBLE)
           / CAST(gt.m * (gt.m - 1) AS DOUBLE) AS var_t
  FROM gt CROSS JOIN gi
)
SELECT m, CAST(3 AS BIGINT) AS k,
       {r6('CASE WHEN m >= 2 THEN sum_var END', 'sum_item_var')},
       {r6('CASE WHEN m >= 2 THEN var_t END', 'var_total')},
       {r6('CASE WHEN m >= 2 AND var_t > 0 THEN 1.5 * (1.0 - sum_var / var_t) END', 'alpha')}
FROM f
"""


# Mood's median test across roles: integer-rank grand median over the
# compacted histogram, group-ordered chi2 fold — matches
# drift.mood_median
ORACLES["q_mood_median"] = f"""
WITH t AS ({T}),
hist AS (
  SELECT role AS g, CAST(signal AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM t WHERE signal IS NOT NULL GROUP BY role, CAST(signal AS BIGINT)
),
gl AS (SELECT v, CAST(SUM(c) AS BIGINT) AS gc FROM hist GROUP BY v),
lv AS (
  SELECT v,
         CAST(SUM(gc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(gc) OVER () AS BIGINT) AS n
  FROM gl
),
med AS (
  SELECT MIN(v) AS med, MAX(n) AS n FROM lv
  WHERE cum >= FLOOR((n + 1) / 2)
),
per_g AS (
  SELECT g,
         CAST(COALESCE(SUM(CASE WHEN v > med.med THEN c ELSE 0 END), 0) AS BIGINT) AS a,
         CAST(COALESCE(SUM(CASE WHEN v <= med.med THEN c ELSE 0 END), 0) AS BIGINT) AS l
  FROM hist CROSS JOIN med GROUP BY g
),
tots AS (
  SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(l) AS BIGINT) AS tl,
         CAST(COUNT(*) AS BIGINT) AS n_groups
  FROM per_g
),
terms AS (
  SELECT g,
         (CAST(a AS DOUBLE) - (CAST(a + l AS DOUBLE) * CAST(tots.ta AS DOUBLE) / CAST(med.n AS DOUBLE)))
         * (CAST(a AS DOUBLE) - (CAST(a + l AS DOUBLE) * CAST(tots.ta AS DOUBLE) / CAST(med.n AS DOUBLE)))
         / (CAST(a + l AS DOUBLE) * CAST(tots.ta AS DOUBLE) / CAST(med.n AS DOUBLE))
         + (CAST(l AS DOUBLE) - (CAST(a + l AS DOUBLE) * CAST(tots.tl AS DOUBLE) / CAST(med.n AS DOUBLE)))
         * (CAST(l AS DOUBLE) - (CAST(a + l AS DOUBLE) * CAST(tots.tl AS DOUBLE) / CAST(med.n AS DOUBLE)))
         / (CAST(a + l AS DOUBLE) * CAST(tots.tl AS DOUBLE) / CAST(med.n AS DOUBLE)) AS term
  FROM per_g CROSS JOIN tots CROSS JOIN med
),
g2 AS (
  SELECT list_reduce([0.0] || list(term ORDER BY g), (a, e) -> a + e) AS chi2
  FROM terms
)
SELECT med.n AS n, med.med AS median, tots.n_groups,
       {r6('CASE WHEN tots.ta > 0 AND tots.tl > 0 AND tots.n_groups >= 2 THEN g2.chi2 END', 'chi2')}
FROM med CROSS JOIN tots CROSS JOIN g2
"""


# Restricted mean time-to-first-tool at tau = 30 buckets: area under
# the exact KM fold, bucket-ordered interval fold + tail — matches
# profile.rmst over profile.kaplan_meier
ORACLES["q_rmst"] = f"""
WITH t AS ({T}),
pc AS (
  SELECT conv_id,
         MIN(epoch_us(ts)) AS t0,
         MIN(CASE WHEN role = 'tool' THEN epoch_us(ts) END) AS tev,
         MAX(epoch_us(ts)) AS tend
  FROM t GROUP BY conv_id
),
d0 AS (
  SELECT conv_id, (tev IS NOT NULL) AS e,
         CAST(FLOOR(CAST(CASE WHEN tev IS NOT NULL THEN tev - t0
                              ELSE tend - t0 END AS DOUBLE) / 60000000.0) AS BIGINT) AS tb
  FROM pc
),
pt AS (
  SELECT tb AS t_bucket,
         CAST(COUNT(CASE WHEN e THEN 1 END) AS BIGINT) AS d,
         CAST(COUNT(CASE WHEN NOT e THEN 1 END) AS BIGINT) AS c
  FROM d0 GROUP BY tb
),
o AS (
  SELECT t_bucket, d, c,
         SUM(d + c) OVER (ORDER BY t_bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_,
         SUM(d + c) OVER () AS total
  FROM pt
),
nr AS (
  SELECT t_bucket, d, c,
         CAST(total - COALESCE(before_, 0) AS BIGINT) AS n_risk
  FROM o
),
arr AS (
  SELECT list(struct_pack(tb := t_bucket, d := d, c := c, n := n_risk)
              ORDER BY t_bucket) AS a
  FROM nr
),
ex AS (
  SELECT a, unnest(range(1, len(a) + 1)) AS i FROM arr
),
rowed AS (
  SELECT a[i].tb AS t_bucket, a[i].n AS n_risk,
         list_reduce(
           [1.0] || [1.0 - CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE)
                     FOR x IN a[1:i]],
           (p, q) -> p * q
         ) AS s
  FROM ex
),
lagged AS (
  SELECT t_bucket, n_risk, s,
         COALESCE(LAG(t_bucket) OVER (ORDER BY t_bucket), 0) AS prev_tb,
         COALESCE(LAG(s) OVER (ORDER BY t_bucket), 1.0) AS s_before,
         ROW_NUMBER() OVER (ORDER BY t_bucket) AS rn,
         COUNT(*) OVER () AS m
  FROM rowed
),
terms AS (
  SELECT t_bucket,
         s_before * CAST(LEAST(t_bucket, 30) - LEAST(prev_tb, 30) AS DOUBLE)
         + CASE WHEN rn = m THEN s * CAST(30 - LEAST(t_bucket, 30) AS DOUBLE)
                ELSE 0.0 END AS term,
         CASE WHEN rn = 1 THEN n_risk END AS n0
  FROM lagged
),
g AS (
  SELECT list_reduce([0.0] || list(term ORDER BY t_bucket), (a, e) -> a + e) AS area,
         CAST(MAX(n0) AS BIGINT) AS n_conv
  FROM terms
)
SELECT CAST(1800 AS BIGINT) AS tau_s, n_conv,
       {r6('area * 60.0', 'rmst_s')}
FROM g
"""


# Bloom-filter FPR audit (en members vs non-en probes, m=4096, k=3):
# exact md5 bucket set algebra — matches sketches.bloom_fpr
ORACLES["q_bloom_fpr"] = f"""
WITH srcs AS (SELECT unnest(['src0','src1','src2','src3','src4','src5','src6','src7','src8','src9']) AS s),
toks AS (SELECT md5(text) AS t, source FROM documents),
mem AS (SELECT DISTINCT t FROM toks WHERE source IN (SELECT s FROM srcs)),
bits AS (
  SELECT DISTINCT ('0x' || substring(md5(mem.t || '#' || j), 1, 8))::BIGINT % 1024 AS b
  FROM mem CROSS JOIN (SELECT unnest(['0','1','2']) AS j)
),
probe AS (
  SELECT DISTINCT t FROM toks WHERE source NOT IN (SELECT s FROM srcs)
  AND t NOT IN (SELECT t FROM mem)
),
hits AS (
  SELECT p.t, CAST(COUNT(*) AS BIGINT) AS h
  FROM probe p CROSS JOIN (SELECT unnest(['0','1','2']) AS j)
  WHERE ('0x' || substring(md5(p.t || '#' || j), 1, 8))::BIGINT % 1024
        IN (SELECT b FROM bits)
  GROUP BY p.t
),
g AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM mem) AS n_members,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_test,
         (SELECT CAST(COALESCE(SUM(CASE WHEN h = 3 THEN 1 END), 0) AS BIGINT) FROM hits) AS n_fp
)
SELECT n_members, n_bits_set, n_test, n_fp,
       {r6('CASE WHEN n_test > 0 THEN CAST(n_fp AS DOUBLE) / CAST(n_test AS DOUBLE) END', 'fpr')},
       {r6('(CAST(n_bits_set AS DOUBLE) / 1024.0) * (CAST(n_bits_set AS DOUBLE) / 1024.0) * (CAST(n_bits_set AS DOUBLE) / 1024.0)', 'expected_fpr')}
FROM g
"""


# Intra-list diversity of the cosine top-5 lists: deterministic ranked
# lists, rank-ordered pair-distance fold — matches
# similarity.intra_list_diversity
ORACLES["q_ild"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
s AS (
  SELECT q.query_id, v.vec_id, v.ev,
         list_dot_product(v.ev, q.qv)
           / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM v CROSS JOIN q
),
r AS (
  SELECT query_id, vec_id, ev,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM s
),
topk AS (SELECT * FROM r WHERE rank <= 5),
pairs AS (
  SELECT a.query_id, a.rank AS ri, b.rank AS rj,
         1.0 - (list_dot_product(a.ev, b.ev)
           / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev)))) AS d
  FROM topk a JOIN topk b ON a.query_id = b.query_id AND a.rank < b.rank
),
per AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         list_reduce([0.0] || list(d ORDER BY ri, rj), (acc, e) -> acc + e) AS s
  FROM pairs GROUP BY query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, n_pairs,
       {r6('CASE WHEN n_pairs > 0 THEN s / CAST(n_pairs AS DOUBLE) END', 'ild')}
FROM per
"""


# Heaps'-law vocabulary-growth fit over doc_id order (<=64 curve
# checkpoints): exact cumulative longs, rank-ordered OLS folds —
# matches text.heaps_law
ORACLES["q_heaps"] = f"""
WITH d AS (SELECT doc_id AS doc, {TOKS_RAW} AS tk FROM documents),
per_doc AS (SELECT doc, CAST(len(tk) AS BIGINT) AS nt FROM d),
tok AS (SELECT doc, unnest(tk) AS t FROM d),
first_t AS (SELECT t, MIN(doc) AS fd FROM tok GROUP BY t),
new_types AS (SELECT fd AS doc, CAST(COUNT(*) AS BIGINT) AS nv FROM first_t GROUP BY fd),
curve AS (
  SELECT per_doc.doc,
         CAST(SUM(per_doc.nt) OVER w AS BIGINT) AS n,
         CAST(SUM(COALESCE(new_types.nv, 0)) OVER w AS BIGINT) AS v,
         CAST(ROW_NUMBER() OVER (ORDER BY per_doc.doc) AS BIGINT) AS rk,
         CAST(COUNT(*) OVER () AS BIGINT) AS nd
  FROM per_doc LEFT JOIN new_types ON new_types.doc = per_doc.doc
  WINDOW w AS (ORDER BY per_doc.doc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
pts AS (
  SELECT rk, nd, LN(CAST(n AS DOUBLE)) AS x, LN(CAST(v AS DOUBLE)) AS y
  FROM curve
  WHERE (rk % GREATEST(CAST(1 AS BIGINT), CAST(CEIL(CAST(nd AS DOUBLE) / 64.0) AS BIGINT))) = 0
    AND n > 0 AND v > 0
),
g AS (
  SELECT CAST(MAX(nd) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_points,
         list_reduce([0.0] || list(x ORDER BY rk), (a, e) -> a + e) AS sx,
         list_reduce([0.0] || list(y ORDER BY rk), (a, e) -> a + e) AS sy,
         list_reduce([0.0] || list(x * x ORDER BY rk), (a, e) -> a + e) AS sxx,
         list_reduce([0.0] || list(x * y ORDER BY rk), (a, e) -> a + e) AS sxy
  FROM pts
),
f AS (
  SELECT n_docs, n_points,
         (CAST(n_points AS DOUBLE) * sxy - sx * sy)
           / (CAST(n_points AS DOUBLE) * sxx - sx * sx) AS beta,
         CAST(n_points AS DOUBLE) * sxx - sx * sx AS denom,
         sx, sy
  FROM g
)
SELECT n_docs, n_points,
       {r6('CASE WHEN n_points >= 2 AND denom <> 0 THEN beta END', 'beta')},
       {r6('CASE WHEN n_points >= 2 AND denom <> 0 THEN EXP((sy - beta * sx) / CAST(n_points AS DOUBLE)) END', 'k')}
FROM f
"""


# Benford first-digit screen over documents.n_chars: exact digit
# counts, shared literal probabilities, digit-ordered folds — matches
# drift.benford_test
ORACLES["q_benford"] = f"""
WITH cnt AS (
  SELECT CAST(substring(CAST(CAST(n_chars AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
  GROUP BY 1
),
grid AS (SELECT unnest(range(1, 10)) AS d),
dense AS (
  SELECT grid.d, CAST(COALESCE(cnt.c, 0) AS BIGINT) AS c0,
         CASE WHEN grid.d = 1 THEN CAST('0.3010299956639812' AS DOUBLE) WHEN grid.d = 2 THEN CAST('0.17609125905568124' AS DOUBLE) WHEN grid.d = 3 THEN CAST('0.12493873660829992' AS DOUBLE) WHEN grid.d = 4 THEN CAST('0.09691001300805642' AS DOUBLE) WHEN grid.d = 5 THEN CAST('0.07918124604762482' AS DOUBLE) WHEN grid.d = 6 THEN CAST('0.06694678963061322' AS DOUBLE) WHEN grid.d = 7 THEN CAST('0.05799194697768673' AS DOUBLE) WHEN grid.d = 8 THEN CAST('0.05115252244738129' AS DOUBLE) WHEN grid.d = 9 THEN CAST('0.04575749056067514' AS DOUBLE) END AS p
  FROM grid LEFT JOIN cnt ON cnt.d = grid.d
),
dn AS (SELECT d, c0, p, CAST(SUM(c0) OVER () AS BIGINT) AS n FROM dense),
terms AS (
  SELECT d, n,
         (CAST(c0 AS DOUBLE) - CAST(n AS DOUBLE) * p)
           * (CAST(c0 AS DOUBLE) - CAST(n AS DOUBLE) * p)
           / (CAST(n AS DOUBLE) * p) AS t,
         ABS(CAST(c0 AS DOUBLE) / CAST(n AS DOUBLE) - p) AS a
  FROM dn
),
g AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         list_reduce([0.0] || list(t ORDER BY d), (acc, e) -> acc + e) AS chi2,
         list_reduce([0.0] || list(a ORDER BY d), (acc, e) -> acc + e) / 9.0 AS mad
  FROM terms
)
SELECT n,
       {r6('CASE WHEN n > 0 THEN chi2 END', 'chi2')},
       {r6('CASE WHEN n > 0 THEN mad END', 'mad')}
FROM g
"""


# Pooled within-conversation ACF at lags 1-3: exact per-lag pair
# moments, fixed Pearson chains — matches drift.acf_profile
ORACLES["q_acf_profile"] = f"""
WITH t AS ({T}),
b AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS x, ts, turn_idx
  FROM t WHERE signal IS NOT NULL
),
l AS (
  SELECT CAST(lag AS BIGINT) AS lag, x,
         CASE lag WHEN 1 THEN LEAD(x, 1) OVER w
                  WHEN 2 THEN LEAD(x, 2) OVER w
                  ELSE LEAD(x, 3) OVER w END AS y
  FROM b CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag)
  WINDOW w AS (PARTITION BY conv_id, lag ORDER BY ts, turn_idx)
),
p AS (SELECT lag, x, y FROM l WHERE y IS NOT NULL),
g AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM p GROUP BY lag
)
SELECT lag, n_pairs,
       {r6('CASE WHEN (n_pairs * sxx - sx * sx) > 0 AND (n_pairs * syy - sy * sy) > 0 THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE) / SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE) * CAST(n_pairs * syy - sy * sy AS DOUBLE)) END', 'r')}
FROM g
"""


# Lin's concordance of consecutive turn signals: exact pair moments,
# fixed population-moment chains — matches drift.lin_ccc
ORACLES["q_lin_ccc"] = f"""
WITH t AS ({T}),
b AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS x,
         LEAD(CAST(signal AS BIGINT), 1) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS y
  FROM t WHERE signal IS NOT NULL
),
p AS (SELECT x, y FROM b WHERE y IS NOT NULL),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM p
),
f AS (
  SELECT n_pairs,
         CAST(sx AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS mx,
         CAST(sy AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS my,
         CAST(n_pairs * sxy - sx * sy AS DOUBLE)
           / (CAST(n_pairs AS DOUBLE) * CAST(n_pairs AS DOUBLE)) AS sxy_p,
         CAST(n_pairs * sxx - sx * sx AS DOUBLE)
           / (CAST(n_pairs AS DOUBLE) * CAST(n_pairs AS DOUBLE)) AS sx2,
         CAST(n_pairs * syy - sy * sy AS DOUBLE)
           / (CAST(n_pairs AS DOUBLE) * CAST(n_pairs AS DOUBLE)) AS sy2
  FROM g
)
SELECT n_pairs,
       {r6('CASE WHEN n_pairs > 0 THEN mx END', 'mean_x')},
       {r6('CASE WHEN n_pairs > 0 THEN my END', 'mean_y')},
       {r6('CASE WHEN sx2 > 0 AND sy2 > 0 THEN sxy_p / SQRT(sx2 * sy2) END', 'r')},
       {r6('CASE WHEN sx2 > 0 AND sy2 > 0 THEN 2.0 * sxy_p / (sx2 + sy2 + (mx - my) * (mx - my)) END', 'ccc')}
FROM f
"""


# Page's L over first-3-turn panels: exact doubled-rank L2, no-tie z —
# matches drift.page_trend
ORACLES["q_page_trend"] = f"""
WITH t AS ({T}),
fn AS (
  SELECT conv_id, CAST(signal AS BIGINT) AS cat,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS j
  FROM t WHERE signal IS NOT NULL
),
panel AS (
  SELECT conv_id, j, cat FROM fn
  WHERE j <= 3 AND conv_id IN (
    SELECT conv_id FROM fn WHERE j <= 3 GROUP BY conv_id HAVING COUNT(*) = 3
  )
),
ranked AS (
  SELECT conv_id, j, cat,
         CAST(2 * RANK() OVER (PARTITION BY conv_id ORDER BY cat)
              + COUNT(*) OVER (PARTITION BY conv_id, cat) - 1 AS BIGINT) AS r2
  FROM panel
),
m AS (SELECT CAST(COUNT(*) / 3 AS BIGINT) AS m FROM ranked),
l AS (SELECT CAST(SUM(j * r2) AS BIGINT) AS l2 FROM ranked),
ties AS (
  SELECT CAST(SUM(c * c * c - c) AS BIGINT) AS tie_sum
  FROM (SELECT conv_id, cat, CAST(COUNT(*) AS BIGINT) AS c FROM ranked GROUP BY conv_id, cat)
),
f AS (
  SELECT m.m, l.l2, ties.tie_sum,
         CAST(l.l2 AS DOUBLE) / 2.0 AS l_stat,
         CAST(m.m AS DOUBLE) * 48.0 / 4.0 AS e_l,
         CAST(m.m AS DOUBLE) * 288.0 / 144.0 AS var_l
  FROM m CROSS JOIN l CROSS JOIN ties
)
SELECT m, CAST(3 AS BIGINT) AS k, l2, tie_sum,
       {r6('CASE WHEN m > 0 THEN l_stat END', 'l_stat')},
       {r6('CASE WHEN m > 0 THEN e_l END', 'e_l')},
       {r6('CASE WHEN m > 0 AND tie_sum = 0 AND var_l > 0 THEN (l_stat - e_l) / SQRT(var_l) END', 'z')}
FROM f
"""


# Bland-Altman limits of agreement, user turn vs next assistant turn:
# exact diff moments, shared 1.96 literal — matches drift.bland_altman
ORACLES["q_bland_altman"] = f"""
WITH t AS ({T}),
seq AS (
  SELECT conv_id, role, CAST(signal AS BIGINT) AS x,
         LEAD(role, 1) OVER w AS nr,
         LEAD(CAST(signal AS BIGINT), 1) OVER w AS y
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
),
p AS (
  SELECT CAST(y - x AS BIGINT) AS d FROM seq
  WHERE role = 'user' AND nr = 'assistant' AND x IS NOT NULL AND y IS NOT NULL
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(d * d) AS BIGINT) AS sdd
  FROM p
),
f AS (
  SELECT n_pairs,
         CAST(sd AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS mean_d,
         SQRT(CAST(n_pairs * sdd - sd * sd AS DOUBLE)
              / CAST(n_pairs * (n_pairs - 1) AS DOUBLE)) AS sdev
  FROM g
)
SELECT n_pairs,
       {r6('CASE WHEN n_pairs > 0 THEN mean_d END', 'mean_diff')},
       {r6('CASE WHEN n_pairs >= 2 THEN sdev END', 'sd_diff')},
       {r6('CASE WHEN n_pairs >= 2 THEN mean_d - 1.96 * sdev END', 'loa_low')},
       {r6('CASE WHEN n_pairs >= 2 THEN mean_d + 1.96 * sdev END', 'loa_high')}
FROM f
"""


# shared scored-classifier CTE fragment for confusion/score-KS (the
# q_brier scoring chain: fold in document token order, r6x prob)
_CLF_SCORED = f"""
s AS (
  SELECT doc_id,
         len({TOKS_RAW}) AS n,
         list_reduce([CAST(0.0 AS DOUBLE)] || list_transform({TOKS_RAW},
             t -> ({_classifier_w_sql()})[CAST(('0x' || substring(md5(t), 1, 4))::BIGINT % 64 AS INT) + 1]),
             (acc, x) -> acc + x) AS wsum
  FROM documents
),
sc AS (SELECT doc_id, wsum / CAST(n AS DOUBLE) + 0 AS score FROM s),
pr AS (SELECT doc_id, {r6x('1.0 / (1.0 + exp(-score))')} AS p6 FROM sc),
lab AS (
  SELECT pr.doc_id, pr.p6, (d.lang = 'en') AS y
  FROM pr JOIN documents d USING (doc_id)
)"""


# Thresholded confusion scorecard incl. MCC — matches
# encoding.confusion_stats over curation.quality_classifier
ORACLES["q_confusion"] = f"""
WITH {_CLF_SCORED},
g AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN p6 >= 0.5 AND y THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
         CAST(COALESCE(SUM(CASE WHEN p6 >= 0.5 AND NOT y THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
         CAST(COALESCE(SUM(CASE WHEN p6 < 0.5 AND y THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
         CAST(COALESCE(SUM(CASE WHEN p6 < 0.5 AND NOT y THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn
  FROM lab
),
f AS (
  SELECT tp, fp, fn, tn,
         CAST(tp AS DOUBLE) AS tpd, CAST(fp AS DOUBLE) AS fpd,
         CAST(fn AS DOUBLE) AS fnd, CAST(tn AS DOUBLE) AS tnd
  FROM g
)
SELECT tp, fp, fn, tn,
       {r6('CASE WHEN tp + fp > 0 THEN tpd / (tpd + fpd) END', 'precision')},
       {r6('CASE WHEN tp + fn > 0 THEN tpd / (tpd + fnd) END', 'recall')},
       {r6('CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tp > 0 THEN 2.0 * (tpd / (tpd + fpd)) * (tpd / (tpd + fnd)) / ((tpd / (tpd + fpd)) + (tpd / (tpd + fnd))) END', 'f1')},
       {r6('CASE WHEN tp + fp + fn + tn > 0 THEN (tpd + tnd) / (tpd + fpd + fnd + tnd) END', 'accuracy')},
       {r6('CASE WHEN SQRT((tpd + fpd) * (tpd + fnd) * (tnd + fpd) * (tnd + fnd)) > 0 THEN (tpd * tnd - fpd * fnd) / SQRT((tpd + fpd) * (tpd + fnd) * (tnd + fpd) * (tnd + fnd)) END', 'mcc')}
FROM f
"""


# KS separation of classifier scores — matches encoding.score_ks
ORACLES["q_score_ks"] = f"""
WITH {_CLF_SCORED},
hist AS (
  SELECT p6 AS s,
         CAST(COALESCE(SUM(CASE WHEN y THEN 1 ELSE 0 END), 0) AS BIGINT) AS p,
         CAST(COALESCE(SUM(CASE WHEN NOT y THEN 1 ELSE 0 END), 0) AS BIGINT) AS n
  FROM lab GROUP BY p6
),
cum AS (
  SELECT s,
         CAST(SUM(p) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp,
         CAST(SUM(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
         CAST(SUM(p) OVER () AS BIGINT) AS tp2,
         CAST(SUM(n) OVER () AS BIGINT) AS tn2
  FROM hist
),
top AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(cp * tn2 - cn * tp2) DESC, s ASC) AS rk
  FROM cum
)
SELECT tp2 AS n_pos, tn2 AS n_neg,
       {r6('CASE WHEN tp2 > 0 AND tn2 > 0 THEN CAST(ABS(cp * tn2 - cn * tp2) AS DOUBLE) / (CAST(tp2 AS DOUBLE) * CAST(tn2 AS DOUBLE)) END', 'ks')},
       {r6('CASE WHEN tp2 > 0 AND tn2 > 0 THEN s END', 'at_score')}
FROM top WHERE rk = 1
"""


# Pairwise source vocabulary Jaccard — matches curation.source_jaccard
ORACLES["q_source_jaccard"] = f"""
WITH inv AS (
  SELECT DISTINCT unnest({TOKS_RAW}) AS t, source AS s FROM documents
),
sizes AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS v FROM inv GROUP BY s),
inter AS (
  SELECT a.s AS sa, b.s AS sb, CAST(COUNT(*) AS BIGINT) AS inter
  FROM inv a JOIN inv b ON a.t = b.t AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT inter.sa AS src_a, inter.sb AS src_b,
       za.v AS v_a, zb.v AS v_b, inter.inter,
       {r6('CAST(inter.inter AS DOUBLE) / CAST(za.v + zb.v - inter.inter AS DOUBLE)', 'jaccard')}
FROM inter
JOIN sizes za ON za.s = inter.sa
JOIN sizes zb ON zb.s = inter.sb
"""


# Per-source KL from the corpus token mix (top-256 + OTHER bucket) —
# matches curation.source_kl
ORACLES["q_source_kl"] = f"""
WITH tok AS (SELECT unnest({TOKS_RAW}) AS t, source AS s FROM documents),
corpus AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cc FROM tok GROUP BY t),
ranked AS (
  SELECT t, ROW_NUMBER() OVER (ORDER BY cc DESC, t ASC) AS rk FROM corpus
),
keep AS (SELECT t, CASE WHEN rk <= 256 THEN t ELSE '<other>' END AS b FROM ranked),
tb AS (SELECT tok.s, keep.b FROM tok JOIN keep ON keep.t = tok.t),
cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cc FROM tb GROUP BY b),
corpus_b AS (SELECT b, cc, CAST(SUM(cc) OVER () AS BIGINT) AS nc FROM cb),
sb AS (SELECT s, b, CAST(COUNT(*) AS BIGINT) AS cs FROM tb GROUP BY s, b),
sbn AS (SELECT s, b, cs, CAST(SUM(cs) OVER (PARTITION BY s) AS BIGINT) AS ns FROM sb),
terms AS (
  SELECT sbn.s, sbn.b, sbn.ns,
         (CAST(sbn.cs AS DOUBLE) / CAST(sbn.ns AS DOUBLE))
         * LN((CAST(sbn.cs AS DOUBLE) / CAST(sbn.ns AS DOUBLE))
              / (CAST(corpus_b.cc AS DOUBLE) / CAST(corpus_b.nc AS DOUBLE))) AS k
  FROM sbn JOIN corpus_b USING (b)
),
per AS (
  SELECT s, CAST(MAX(ns) AS BIGINT) AS n_tokens,
         list_reduce([0.0] || list(k ORDER BY b), (a, e) -> a + e) AS kl
  FROM terms GROUP BY s
)
SELECT s AS source, n_tokens,
       {r6('CASE WHEN n_tokens > 0 THEN kl END', 'kl')}
FROM per
"""


# Pair-counting agreement (Rand / ARI / Fowlkes-Mallows) between lang
# and source — matches encoding.adjusted_rand
ORACLES["q_rand_ari"] = f"""
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source
),
x AS (
  SELECT CAST(COALESCE(SUM(CAST(n AS HUGEINT) * (n - 1)), 0) AS HUGEINT) AS x2,
         CAST(SUM(n) AS BIGINT) AS nn
  FROM cells
),
ra AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM cells GROUP BY a),
rb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY b),
a2 AS (SELECT CAST(COALESCE(SUM(CAST(na AS HUGEINT) * (na - 1)), 0) AS HUGEINT) AS a2 FROM ra),
b2 AS (SELECT CAST(COALESCE(SUM(CAST(nb AS HUGEINT) * (nb - 1)), 0) AS HUGEINT) AS b2 FROM rb),
f AS (
  SELECT x.nn,
         CAST(x.x2 AS DOUBLE) / 2.0 AS xd,
         CAST(a2.a2 AS DOUBLE) / 2.0 AS ad,
         CAST(b2.b2 AS DOUBLE) / 2.0 AS bd,
         CAST(CAST(x.nn AS HUGEINT) * (x.nn - 1) AS DOUBLE) / 2.0 AS cd
  FROM x, a2, b2
)
SELECT nn AS n,
       {r6('CASE WHEN nn >= 2 THEN (cd + 2.0 * xd - ad - bd) / cd END', 'rand')},
       {r6('CASE WHEN nn >= 2 AND ((ad + bd) / 2.0 - ad * bd / cd) <> 0 THEN (xd - ad * bd / cd) / ((ad + bd) / 2.0 - ad * bd / cd) END', 'ari')},
       {r6('CASE WHEN nn >= 2 AND ad > 0 AND bd > 0 THEN xd / SQRT(ad * bd) END', 'fm')}
FROM f
"""


# Entropy agreement (homogeneity / completeness / V / NMI) between
# lang and source — matches encoding.vmeasure
ORACLES["q_vmeasure"] = f"""
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
hj AS (
  SELECT -list_reduce([0.0] || list(
           (CAST(n AS DOUBLE) / CAST(tot.nn AS DOUBLE))
           * LN(CAST(n AS DOUBLE) / CAST(tot.nn AS DOUBLE))
           ORDER BY a, b), (acc, e) -> acc + e) AS hab
  FROM cells, tot GROUP BY tot.nn
),
ma AS (SELECT a, CAST(SUM(n) AS BIGINT) AS m FROM cells GROUP BY a),
hma AS (
  SELECT -list_reduce([0.0] || list(
           (CAST(m AS DOUBLE) / CAST(tot.nn AS DOUBLE))
           * LN(CAST(m AS DOUBLE) / CAST(tot.nn AS DOUBLE))
           ORDER BY a), (acc, e) -> acc + e) AS ha
  FROM ma, tot GROUP BY tot.nn
),
mb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS m FROM cells GROUP BY b),
hmb AS (
  SELECT -list_reduce([0.0] || list(
           (CAST(m AS DOUBLE) / CAST(tot.nn AS DOUBLE))
           * LN(CAST(m AS DOUBLE) / CAST(tot.nn AS DOUBLE))
           ORDER BY b), (acc, e) -> acc + e) AS hb
  FROM mb, tot GROUP BY tot.nn
),
f AS (
  SELECT tot.nn, hma.ha, hmb.hb, hj.hab,
         hma.ha + hmb.hb - hj.hab AS mi,
         CASE WHEN hma.ha = 0 THEN 1.0 ELSE 1.0 - (hj.hab - hmb.hb) / hma.ha END AS hom,
         CASE WHEN hmb.hb = 0 THEN 1.0 ELSE 1.0 - (hj.hab - hma.ha) / hmb.hb END AS com
  FROM tot, hma, hmb, hj
)
SELECT nn AS n,
       {r6('ha', 'h_a')}, {r6('hb', 'h_b')}, {r6('hab', 'h_ab')},
       {r6('mi', 'mi')},
       {r6('hom', 'homogeneity')},
       {r6('com', 'completeness')},
       {r6('CASE WHEN hom + com = 0 THEN 0.0 ELSE 2.0 * hom * com / (hom + com) END', 'v')},
       {r6('CASE WHEN ha > 0 AND hb > 0 THEN mi / SQRT(ha * hb) END', 'nmi')}
FROM f
"""


# Cluster purity / inverse purity / purity-F of source vs lang —
# matches encoding.label_purity
ORACLES["q_purity"] = f"""
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
pb AS (
  SELECT CAST(SUM(n) AS BIGINT) AS mx FROM (
    SELECT b, n, ROW_NUMBER() OVER (PARTITION BY b ORDER BY n DESC, a ASC) AS rk
    FROM cells
  ) WHERE rk = 1
),
pa AS (
  SELECT CAST(SUM(n) AS BIGINT) AS mx FROM (
    SELECT a, n, ROW_NUMBER() OVER (PARTITION BY a ORDER BY n DESC, b ASC) AS rk
    FROM cells
  ) WHERE rk = 1
),
f AS (
  SELECT tot.nn,
         CAST(pb.mx AS DOUBLE) / CAST(tot.nn AS DOUBLE) AS p,
         CAST(pa.mx AS DOUBLE) / CAST(tot.nn AS DOUBLE) AS q
  FROM tot, pb, pa
)
SELECT nn AS n,
       {r6('CASE WHEN nn > 0 THEN p END', 'purity')},
       {r6('CASE WHEN nn > 0 THEN q END', 'inv_purity')},
       {r6('CASE WHEN nn > 0 AND p + q > 0 THEN 2.0 * p * q / (p + q) END', 'f_purity')}
FROM f
"""


# Two-sample Kuiper V per role, pre/post 2024-01-15 — matches
# drift.kuiper_drift
ORACLES["q_kuiper"] = f"""
WITH t AS ({T}),
pv AS (
  SELECT role, CAST(signal AS DOUBLE) AS val,
         COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS r,
         COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN 1 END) AS c
  FROM t WHERE signal IS NOT NULL
  GROUP BY role, CAST(signal AS DOUBLE)
),
cum AS (
  SELECT role,
         SUM(r) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
         SUM(c) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(r) OVER (PARTITION BY role) AS nr,
         SUM(c) OVER (PARTITION BY role) AS nc
  FROM pv
),
agg AS (
  SELECT role,
         CAST(MAX(nr) AS BIGINT) AS n_ref,
         CAST(MAX(nc) AS BIGINT) AS n_cur,
         MAX(CASE WHEN nr > 0 AND nc > 0
             THEN CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE) - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE) END) AS dpr,
         MAX(CASE WHEN nr > 0 AND nc > 0
             THEN -(CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE) - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE)) END) AS dmr
  FROM cum GROUP BY role
)
SELECT role, n_ref, n_cur,
       {r6('CASE WHEN dpr IS NOT NULL THEN GREATEST(dpr, 0.0) END', 'd_plus')},
       {r6('CASE WHEN dmr IS NOT NULL THEN GREATEST(dmr, 0.0) END', 'd_minus')},
       {r6('CASE WHEN dpr IS NOT NULL THEN GREATEST(dpr, 0.0) + GREATEST(dmr, 0.0) END', 'v')}
FROM agg
"""


# Two-sample Cramér-von Mises T per role, Anderson tie-friendly form —
# matches drift.cvm_drift
ORACLES["q_cvm"] = f"""
WITH t AS ({T}),
pv AS (
  SELECT role, CAST(signal AS DOUBLE) AS val,
         COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS r,
         COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN 1 END) AS c
  FROM t WHERE signal IS NOT NULL
  GROUP BY role, CAST(signal AS DOUBLE)
),
cum AS (
  SELECT role, val, CAST(r + c AS BIGINT) AS w,
         SUM(r) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
         SUM(c) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(r) OVER (PARTITION BY role) AS nr,
         SUM(c) OVER (PARTITION BY role) AS nc
  FROM pv
),
per AS (
  SELECT role,
         CAST(MAX(nr) AS BIGINT) AS n_ref,
         CAST(MAX(nc) AS BIGINT) AS n_cur,
         list_reduce([0.0] || list(
           CAST(w AS DOUBLE)
           * (CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE) - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE))
           * (CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE) - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE))
           ORDER BY val), (a, e) -> a + e) AS s
  FROM cum GROUP BY role
)
SELECT role, n_ref, n_cur,
       {r6('CASE WHEN n_ref > 0 AND n_cur > 0 THEN CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) / ((CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE)) * (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE))) * s END', 't')}
FROM per
"""


# Per-role TVD / Bhattacharyya / Hellinger vs the pooled histogram —
# matches drift.hist_distance
ORACLES["q_hist_dist"] = f"""
WITH t AS ({T}),
cells AS (
  SELECT role, CAST(signal AS DOUBLE) AS val, CAST(COUNT(*) AS BIGINT) AS n
  FROM t WHERE signal IS NOT NULL
  GROUP BY role, CAST(signal AS DOUBLE)
),
pooled AS (
  SELECT val, CAST(SUM(n) AS BIGINT) AS m,
         CAST(SUM(SUM(n)) OVER () AS BIGINT) AS nn
  FROM cells GROUP BY val
),
g AS (
  SELECT cells.role, cells.val, cells.n,
         CAST(SUM(cells.n) OVER (PARTITION BY cells.role) AS BIGINT) AS ng,
         pooled.m, pooled.nn
  FROM cells JOIN pooled USING (val)
),
per AS (
  SELECT role,
         CAST(MAX(ng) AS BIGINT) AS n,
         list_reduce([0.0] || list(
           ABS(CAST(g.n AS DOUBLE) / CAST(ng AS DOUBLE) - CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
           ORDER BY val), (a, e) -> a + e) AS tvd_seen,
         list_reduce([0.0] || list(
           SQRT((CAST(g.n AS DOUBLE) / CAST(ng AS DOUBLE)) * (CAST(m AS DOUBLE) / CAST(nn AS DOUBLE)))
           ORDER BY val), (a, e) -> a + e) AS bc,
         list_reduce([0.0] || list(
           CAST(m AS DOUBLE) / CAST(nn AS DOUBLE)
           ORDER BY val), (a, e) -> a + e) AS q_cov
  FROM g GROUP BY role
)
SELECT role, n,
       {r6('(tvd_seen + (1.0 - q_cov)) / 2.0', 'tvd')},
       {r6('bc', 'bc')},
       {r6('SQRT(GREATEST(1.0 - bc, 0.0))', 'hellinger')}
FROM per
"""


# Periodogram harmonics 1..8 + spectral entropy of the hourly
# turn-count series — matches sessionize.spectral_profile
ORACLES["q_spectral"] = f"""
WITH t AS ({T}),
hh AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY date_trunc('hour', ts)
),
s AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS tt, c,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(SUM(c) OVER () AS BIGINT) AS sm
  FROM hh
),
ks AS (SELECT k FROM generate_series(1, 8) g(k)),
j AS (
  SELECT ks.k, s.tt, s.n,
         (CAST(c AS DOUBLE) - CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS x,
         2.0 * pi() * CAST(ks.k AS DOUBLE) * CAST(s.tt AS DOUBLE) / CAST(s.n AS DOUBLE) AS th
  FROM s, ks
),
per AS (
  SELECT k, CAST(MAX(n) AS BIGINT) AS n,
         list_reduce([0.0] || list(x * cos(th) ORDER BY tt), (a, e) -> a + e) AS sc,
         list_reduce([0.0] || list(x * sin(th) ORDER BY tt), (a, e) -> a + e) AS ss
  FROM j GROUP BY k
),
pw AS (SELECT k, n, sc * sc + ss * ss AS power FROM per),
tot AS (SELECT k, n, power, SUM(power) OVER () AS tp FROM pw),
normed AS (
  SELECT k, n, power, CASE WHEN tp > 0 THEN power / tp END AS norm_power
  FROM tot
),
ent AS (
  SELECT list_reduce([0.0] || list(
           CASE WHEN norm_power > 0 THEN -norm_power * LN(norm_power) ELSE 0.0 END
           ORDER BY k), (a, e) -> a + e) AS se
  FROM normed WHERE norm_power IS NOT NULL
)
SELECT CAST(k AS BIGINT) AS k, n,
       {r6('power', 'power')},
       {r6('norm_power', 'norm_power')},
       {r6('CASE WHEN norm_power IS NOT NULL THEN (SELECT se FROM ent) END', 'spec_entropy')}
FROM normed
"""


# Durbin-Levinson PACF lags 1..3 of the hourly turn-count series —
# matches sessionize.pacf_profile
ORACLES["q_pacf"] = f"""
WITH t AS ({T}),
hh AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY date_trunc('hour', ts)
),
led AS (
  SELECT c,
         LEAD(c, 1) OVER (ORDER BY h) AS c1,
         LEAD(c, 2) OVER (ORDER BY h) AS c2,
         LEAD(c, 3) OVER (ORDER BY h) AS c3
  FROM hh
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS s0,
         CAST(SUM(c * c1) AS BIGINT) AS p1,
         CAST(SUM(c * c2) AS BIGINT) AS p2,
         CAST(SUM(c * c3) AS BIGINT) AS p3,
         CAST(SUM(CASE WHEN c1 IS NOT NULL THEN c END) AS BIGINT) AS h1,
         CAST(SUM(CASE WHEN c2 IS NOT NULL THEN c END) AS BIGINT) AS h2,
         CAST(SUM(CASE WHEN c3 IS NOT NULL THEN c END) AS BIGINT) AS h3,
         CAST(SUM(c1) AS BIGINT) AS t1,
         CAST(SUM(c2) AS BIGINT) AS t2,
         CAST(SUM(c3) AS BIGINT) AS t3
  FROM led
),
m AS (
  SELECT *,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         (CAST(s0 AS DOUBLE) - 2.0 * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(s AS DOUBLE)
          + CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
         / CAST(n AS DOUBLE) AS c0
  FROM g
),
r AS (
  SELECT *,
         ((CAST(p1 AS DOUBLE) - mu * (CAST(h1 AS DOUBLE) + CAST(t1 AS DOUBLE)) + CAST(n - 1 AS DOUBLE) * mu * mu) / CAST(n AS DOUBLE)) / c0 AS r1,
         ((CAST(p2 AS DOUBLE) - mu * (CAST(h2 AS DOUBLE) + CAST(t2 AS DOUBLE)) + CAST(n - 2 AS DOUBLE) * mu * mu) / CAST(n AS DOUBLE)) / c0 AS r2,
         ((CAST(p3 AS DOUBLE) - mu * (CAST(h3 AS DOUBLE) + CAST(t3 AS DOUBLE)) + CAST(n - 3 AS DOUBLE) * mu * mu) / CAST(n AS DOUBLE)) / c0 AS r3
  FROM m
),
dl AS (
  SELECT *,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22,
         r1 * (1.0 - (r2 - r1 * r1) / (1.0 - r1 * r1)) AS a21
  FROM r
),
dl3 AS (
  SELECT *,
         1.0 - a21 * r1 - phi22 * r2 AS den3,
         n > 3 AND c0 > 0 AS ok
  FROM dl
)
SELECT CAST(1 AS BIGINT) AS lag, n,
       {r6('CASE WHEN ok THEN r1 END', 'r')},
       {r6('CASE WHEN ok THEN r1 END', 'pacf')}
FROM dl3
UNION ALL
SELECT CAST(2 AS BIGINT) AS lag, n,
       {r6('CASE WHEN ok THEN r2 END', 'r')},
       {r6('CASE WHEN ok AND ABS(1.0 - r1 * r1) > 0 THEN phi22 END', 'pacf')}
FROM dl3
UNION ALL
SELECT CAST(3 AS BIGINT) AS lag, n,
       {r6('CASE WHEN ok THEN r3 END', 'r')},
       {r6('CASE WHEN ok AND ABS(1.0 - r1 * r1) > 0 AND ABS(den3) > 0 THEN (r3 - a21 * r2 - phi22 * r1) / den3 END', 'pacf')}
FROM dl3
"""


# Holt double-exponential smoothing of the daily turn-count series —
# matches sessionize.holt_smooth (alpha=0.5, beta=0.3); the recursive
# CTE replays the engine's t-ordered fold step by step
ORACLES["q_holt"] = f"""
WITH RECURSIVE t AS ({T}),
dd AS (
  SELECT date_trunc('day', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY date_trunc('day', ts)
),
s AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS tt, CAST(c AS DOUBLE) AS x
  FROM dd
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
step AS (
  SELECT 1 AS i,
         (SELECT x FROM s WHERE tt = 0) AS l,
         (SELECT x FROM s WHERE tt = 1) - (SELECT x FROM s WHERE tt = 0) AS b,
         CAST(0.0 AS DOUBLE) AS sse
  WHERE (SELECT n FROM nn) >= 2
  UNION ALL
  SELECT i, lnew,
         0.3 * (lnew - l) + 0.7 * b,
         sse + (x - (l + b)) * (x - (l + b))
  FROM (
    SELECT step.i + 1 AS i, s.x, step.l, step.b, step.sse,
           0.5 * s.x + 0.5 * (step.l + step.b) AS lnew
    FROM step JOIN s ON s.tt = step.i
  )
),
fin AS (SELECT * FROM step ORDER BY i DESC LIMIT 1)
SELECT nn.n,
       {r6('fin.l', 'level')},
       {r6('fin.b', 'trend')},
       {r6('fin.l + fin.b', 'forecast')},
       {r6('fin.sse', 'sse')},
       {r6('SQRT(fin.sse / CAST(nn.n - 1 AS DOUBLE))', 'rmse')}
FROM nn LEFT JOIN fin ON TRUE
"""


# Mean pairwise cosine via the sum-vector identity — matches
# similarity.anisotropy
ORACLES["q_anisotropy"] = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
nm AS (
  SELECT vec_id, ev,
         SQRT(list_reduce([0.0] || list_transform(ev, x -> x * x), (a, e) -> a + e)) AS norm,
         length(list_filter(ev, x -> x IS NULL OR isnan(x) OR abs(x) = 'infinity'::DOUBLE)) > 0 AS nonfin
  FROM v
),
flagged AS (SELECT vec_id, ev, norm, (nonfin OR norm = 0) AS bad FROM nm),
ex AS (
  SELECT vec_id, unnest(ev) / norm AS u,
         unnest(range(1, length(ev) + 1)) AS d
  FROM flagged WHERE NOT bad
),
per_dim AS (
  SELECT d, list_reduce([0.0] || list(u ORDER BY vec_id), (a, e) -> a + e) AS s
  FROM ex GROUP BY d
),
tot AS (
  SELECT list_reduce([0.0] || list(s * s ORDER BY d), (a, e) -> a + e) AS sum_norm_sq
  FROM per_dim
),
counts AS (
  SELECT CAST(COUNT(CASE WHEN NOT bad THEN 1 END) AS BIGINT) AS n,
         CAST(COUNT(CASE WHEN bad THEN 1 END) AS BIGINT) AS n_dropped
  FROM flagged
)
SELECT n, n_dropped,
       {r6('sum_norm_sq', 'sum_norm_sq')},
       {r6('CASE WHEN n >= 2 THEN (sum_norm_sq - CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END', 'mean_cos')}
FROM counts, tot
"""


# Per-vector SQ8 reconstruction error — matches similarity.sq8_quantize
ORACLES["q_sq8"] = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
kept AS (
  SELECT vec_id, ev FROM v
  WHERE length(list_filter(ev, x -> x IS NULL OR isnan(x) OR abs(x) = 'infinity'::DOUBLE)) = 0
),
ex AS (
  SELECT vec_id, unnest(ev) AS x,
         unnest(range(1, length(ev) + 1)) AS d
  FROM kept
),
stats AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY d),
j AS (
  SELECT ex.vec_id, ex.d, ex.x, stats.mn, stats.mx,
         (stats.mx - stats.mn) / 255.0 AS sc
  FROM ex JOIN stats USING (d)
),
errs AS (
  SELECT vec_id, d,
         CASE WHEN mx = mn THEN 0.0
              ELSE x - (mn + LEAST(GREATEST(FLOOR((x - mn) / sc + 0.5), 0), 255) * sc)
         END AS e
  FROM j
),
per AS (
  SELECT vec_id,
         list_reduce([0.0] || list(e * e ORDER BY d), (a, x) -> a + x) AS sse,
         MAX(ABS(e)) AS mxe,
         CAST(COUNT(*) AS BIGINT) AS dim
  FROM errs GROUP BY vec_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       {r6('sse / CAST(dim AS DOUBLE)', 'mse')},
       {r6('mxe', 'max_abs_err')}
FROM per
"""


# Per-label centroid geometry — matches similarity.label_centroids
ORACLES["q_label_centroids"] = f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
kept AS (
  SELECT vec_id, label, ev FROM v
  WHERE length(list_filter(ev, x -> x IS NULL OR isnan(x) OR abs(x) = 'infinity'::DOUBLE)) = 0
),
ex AS (
  SELECT vec_id, label, unnest(ev) AS x,
         unnest(range(1, length(ev) + 1)) AS d
  FROM kept
),
lab_dim AS (
  SELECT label, d,
         list_reduce([0.0] || list(x ORDER BY vec_id), (a, e) -> a + e) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ex GROUP BY label, d
),
glob_dim AS (
  SELECT d, list_reduce([0.0] || list(s ORDER BY label), (a, e) -> a + e) AS g
  FROM lab_dim GROUP BY d
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn
  FROM (SELECT label, MAX(n) AS n FROM lab_dim GROUP BY label)
),
per AS (
  SELECT label, CAST(MAX(lab_dim.n) AS BIGINT) AS n,
         list_reduce([0.0] || list(
           (s / CAST(lab_dim.n AS DOUBLE)) * (s / CAST(lab_dim.n AS DOUBLE))
           ORDER BY d), (a, e) -> a + e) AS cn2,
         list_reduce([0.0] || list(
           (g / CAST(tot.tn AS DOUBLE)) * (g / CAST(tot.tn AS DOUBLE))
           ORDER BY d), (a, e) -> a + e) AS gn2,
         list_reduce([0.0] || list(
           (s / CAST(lab_dim.n AS DOUBLE)) * (g / CAST(tot.tn AS DOUBLE))
           ORDER BY d), (a, e) -> a + e) AS dot
  FROM lab_dim JOIN glob_dim USING (d), tot
  GROUP BY label
)
SELECT CAST(label AS INT) AS label, n,
       {r6('SQRT(cn2)', 'centroid_norm')},
       {r6('CASE WHEN cn2 > 0 AND gn2 > 0 THEN dot / (SQRT(cn2) * SQRT(gn2)) END', 'cos_global')}
FROM per
"""


# Ansari-Bradley dispersion test per role — matches
# drift.ansari_bradley (closed-form block score sums, HUGEINT exact)
ORACLES["q_ansari"] = f"""
WITH t AS ({T}),
pv AS (
  SELECT role, CAST(signal AS DOUBLE) AS val,
         CAST(COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS BIGINT) AS r,
         CAST(COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN 1 END) AS BIGINT) AS c
  FROM t WHERE signal IS NOT NULL
  GROUP BY role, CAST(signal AS DOUBLE)
),
cum AS (
  SELECT role, val, r, CAST(r + c AS BIGINT) AS w,
         CAST(SUM(r + c) OVER (PARTITION BY role ORDER BY val
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS b,
         CAST(SUM(r) OVER (PARTITION BY role) AS BIGINT) AS m,
         CAST(SUM(c) OVER (PARTITION BY role) AS BIGINT) AS nc
  FROM pv
),
blocks AS (
  SELECT role, val, r, w, b, m, nc, m + nc AS n,
         b - w + 1 AS a,
         CAST(FLOOR((m + nc + 1) / 2.0) AS BIGINT) AS h
  FROM cum
),
scored AS (
  SELECT role, val, r, w, m, nc, n,
         (CASE WHEN a <= LEAST(b, h)
               THEN CAST(LEAST(b, h) AS HUGEINT) * (LEAST(b, h) + 1) - CAST(a - 1 AS HUGEINT) * a
               ELSE CAST(0 AS HUGEINT) END
          + CASE WHEN GREATEST(a, h + 1) <= b
               THEN 2 * CAST(n + 1 AS HUGEINT) * (b - GREATEST(a, h + 1) + 1)
                    - (CAST(b AS HUGEINT) * (b + 1) - CAST(GREATEST(a, h + 1) - 1 AS HUGEINT) * GREATEST(a, h + 1))
               ELSE CAST(0 AS HUGEINT) END) AS t2
  FROM blocks
),
per AS (
  SELECT role,
         CAST(MAX(m) AS BIGINT) AS m,
         CAST(MAX(nc) AS BIGINT) AS nc,
         CAST(MAX(n) AS BIGINT) AS nn,
         list_reduce([0.0] || list(
           CAST(r AS DOUBLE) * ((CAST(t2 AS DOUBLE) / 2.0) / CAST(w AS DOUBLE))
           ORDER BY val), (acc, e) -> acc + e) AS ab,
         list_reduce([0.0] || list(
           CAST(t2 AS DOUBLE) / 2.0
           ORDER BY val), (acc, e) -> acc + e) AS sa,
         list_reduce([0.0] || list(
           ((CAST(t2 AS DOUBLE) / 2.0) / CAST(w AS DOUBLE))
           * ((CAST(t2 AS DOUBLE) / 2.0) / CAST(w AS DOUBLE)) * CAST(w AS DOUBLE)
           ORDER BY val), (acc, e) -> acc + e) AS sa2
  FROM scored GROUP BY role
),
f AS (
  SELECT role, m, nc, nn, ab, sa, sa2,
         CAST(m AS DOUBLE) * sa / CAST(nn AS DOUBLE) AS mu,
         CAST(m AS DOUBLE) * CAST(nc AS DOUBLE)
         * (CAST(nn AS DOUBLE) * sa2 - sa * sa)
         / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)) AS var
  FROM per
)
SELECT role, m AS n_ref, nc AS n_cur,
       {r6('CASE WHEN m > 0 AND nc > 0 THEN ab END', 'ab')},
       {r6('CASE WHEN m > 0 AND nc > 0 AND var > 0 THEN (ab - mu) / SQRT(var) END', 'z')}
FROM f
"""


# Jonckheere-Terpstra trend across calendar weeks — matches
# drift.jonckheere
ORACLES["q_jonckheere"] = f"""
WITH t AS ({T}),
cells AS (
  SELECT date_trunc('week', ts) AS g, CAST(signal AS DOUBLE) AS val,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM t WHERE signal IS NOT NULL
  GROUP BY date_trunc('week', ts), CAST(signal AS DOUBLE)
),
dense AS (
  SELECT gg.g, vv.val, CAST(COALESCE(cells.n, 0) AS BIGINT) AS n
  FROM (SELECT DISTINCT g FROM cells) gg
  CROSS JOIN (SELECT DISTINCT val FROM cells) vv
  LEFT JOIN cells ON cells.g = gg.g AND cells.val = vv.val
),
cgrid AS (
  SELECT g, val, n,
         CAST(COALESCE(SUM(n) OVER (PARTITION BY g ORDER BY val
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cex,
         CAST(SUM(n) OVER (PARTITION BY g) AS BIGINT) AS ng
  FROM dense
),
pairs AS (
  SELECT a.g AS gi, b.g AS gj, a.val,
         2 * CAST(b.n AS HUGEINT) * a.cex + CAST(b.n AS HUGEINT) * a.n AS u2
  FROM cgrid a JOIN cgrid b ON a.val = b.val AND a.g < b.g
),
tot AS (SELECT CAST(COALESCE(SUM(u2), 0) AS HUGEINT) AS jt2 FROM pairs),
sizes AS (SELECT g, CAST(MAX(ng) AS BIGINT) AS ngs FROM cgrid GROUP BY g),
s1 AS (
  SELECT CAST(COUNT(CASE WHEN ngs > 0 THEN 1 END) AS BIGINT) AS k,
         CAST(SUM(ngs) AS BIGINT) AS n,
         CAST(SUM(CAST(ngs AS HUGEINT)) AS HUGEINT) AS sn,
         CAST(SUM(CAST(ngs AS HUGEINT) * ngs) AS HUGEINT) AS sn2
  FROM sizes
),
f AS (
  SELECT k, n,
         CAST(jt2 AS DOUBLE) / 2.0 AS jt,
         CAST(sn * sn - sn2 AS DOUBLE) / 4.0 AS mean
  FROM s1, tot
)
SELECT k, n,
       {r6('CASE WHEN k >= 2 THEN jt END', 'jt')},
       {r6('CASE WHEN k >= 2 THEN mean END', 'jt_mean')},
       {r6('CASE WHEN k >= 2 AND mean > 0 THEN (jt - mean) / mean END', 'jt_norm')}
FROM f
"""


# Durbin-Watson on hourly-count OLS residuals — matches
# drift.durbin_watson
ORACLES["q_durbin_watson"] = f"""
WITH t AS ({T}),
hh AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY date_trunc('hour', ts)
),
ser AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS tt, c FROM hh
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(tt AS HUGEINT)) AS HUGEINT) AS st,
         CAST(SUM(CAST(tt AS HUGEINT) * tt) AS HUGEINT) AS stt,
         CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS sc,
         CAST(SUM(CAST(tt AS HUGEINT) * c) AS HUGEINT) AS stc
  FROM ser
),
fit AS (
  SELECT n,
         (CAST(n AS DOUBLE) * CAST(stc AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sc AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope,
         sc, st
  FROM g
),
fit2 AS (
  SELECT n, slope,
         (CAST(sc AS DOUBLE) - slope * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
  FROM fit
),
led AS (
  SELECT tt, c,
         LAG(c, 1) OVER (ORDER BY tt) AS cp,
         LAG(tt, 1) OVER (ORDER BY tt) AS tp
  FROM ser
),
folds AS (
  SELECT fit2.n, fit2.slope, fit2.intercept,
         list_reduce([0.0] || list(
           (CAST(c AS DOUBLE) - (intercept + slope * CAST(tt AS DOUBLE)))
           * (CAST(c AS DOUBLE) - (intercept + slope * CAST(tt AS DOUBLE)))
           ORDER BY tt), (a, e) -> a + e) AS se2,
         list_reduce([0.0] || list(
           CASE WHEN cp IS NULL THEN 0.0
                ELSE ((CAST(c AS DOUBLE) - (intercept + slope * CAST(tt AS DOUBLE)))
                      - (CAST(cp AS DOUBLE) - (intercept + slope * CAST(tp AS DOUBLE))))
                     * ((CAST(c AS DOUBLE) - (intercept + slope * CAST(tt AS DOUBLE)))
                        - (CAST(cp AS DOUBLE) - (intercept + slope * CAST(tp AS DOUBLE))))
           END ORDER BY tt), (a, e) -> a + e) AS sd2
  FROM led, fit2
  GROUP BY fit2.n, fit2.slope, fit2.intercept
)
SELECT n,
       {r6('CASE WHEN n >= 2 THEN slope END', 'slope')},
       {r6('CASE WHEN n >= 2 THEN intercept END', 'intercept')},
       {r6('CASE WHEN n >= 3 AND se2 > 0 THEN sd2 / se2 END', 'dw')}
FROM folds
"""


# CUSUM-of-squares variance screen on the hourly series — matches
# drift.cusum_squares
ORACLES["q_cusum_sq"] = f"""
WITH t AS ({T}),
hh AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY date_trunc('hour', ts)
),
ser AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h) AS tt,
         CAST(SUM(CAST(c AS HUGEINT) * c) OVER (ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS q,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM hh
),
ser2 AS (SELECT *, CAST(MAX(q) OVER () AS HUGEINT) AS qn FROM ser),
top AS (
  SELECT *, ROW_NUMBER() OVER (
           ORDER BY ABS(q * CAST(n AS HUGEINT) - CAST(tt AS HUGEINT) * qn) DESC,
                    tt ASC) AS rk
  FROM ser2
)
SELECT n,
       {r6('CASE WHEN n > 0 AND qn > 0 THEN CAST(ABS(q * CAST(n AS HUGEINT) - CAST(tt AS HUGEINT) * qn) AS DOUBLE) / (CAST(qn AS DOUBLE) * CAST(n AS DOUBLE)) END', 'stat')},
       CASE WHEN n > 0 AND qn > 0 THEN CAST(tt AS BIGINT) END AS at_t,
       {r6('CASE WHEN n > 0 AND qn > 0 THEN CAST(q AS DOUBLE) / CAST(qn AS DOUBLE) END', 'at_share')}
FROM top WHERE rk = 1
"""


# Rich-club profile of the LSH pair graph — matches graph.rich_club
ORACLES["q_rich_club"] = f"""
WITH und AS (
  SELECT DISTINCT CAST(LEAST(id_a, id_b) AS BIGINT) AS a,
         CAST(GREATEST(id_a, id_b) AS BIGINT) AS b
  FROM ({{PAIRS}}) pq WHERE id_a <> id_b
),
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und) x
  GROUP BY n
),
ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (1), (2), (4)) v(k)),
nk AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg, ks WHERE d > k GROUP BY k
),
ej AS (
  SELECT und.a, und.b, da.d AS dda, db.d AS ddb
  FROM und JOIN deg da ON da.n = und.a JOIN deg db ON db.n = und.b
),
ek AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM ej, ks WHERE dda > k AND ddb > k GROUP BY k
)
SELECT ks.k,
       CAST(COALESCE(nk.n_nodes, 0) AS BIGINT) AS n_nodes,
       CAST(COALESCE(ek.n_edges, 0) AS BIGINT) AS n_edges,
       {r6('''CASE WHEN COALESCE(nk.n_nodes, 0) >= 2 THEN
              2.0 * CAST(COALESCE(ek.n_edges, 0) AS DOUBLE)
              / (CAST(nk.n_nodes AS DOUBLE) * (CAST(nk.n_nodes AS DOUBLE) - 1.0))
              END''', 'phi')}
FROM ks LEFT JOIN nk ON nk.k = ks.k LEFT JOIN ek ON ek.k = ks.k
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Power-law degree exponent of the LSH pair graph — matches
# graph.powerlaw_alpha
ORACLES["q_powerlaw"] = f"""
WITH und AS (
  SELECT DISTINCT CAST(LEAST(id_a, id_b) AS BIGINT) AS a,
         CAST(GREATEST(id_a, id_b) AS BIGINT) AS b
  FROM ({{PAIRS}}) pq WHERE id_a <> id_b
),
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und) x
  GROUP BY n
),
hist AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS m
  FROM deg WHERE d >= 1 GROUP BY d
),
g AS (
  SELECT CAST(SUM(m) AS BIGINT) AS n,
         CAST(SUM(m * d) AS BIGINT) AS sumd,
         CAST(MAX(d) AS BIGINT) AS max_deg,
         list_reduce([0.0] || list(
           CAST(m AS DOUBLE) * LN(CAST(d AS DOUBLE) / 0.5)
           ORDER BY d), (a, e) -> a + e) AS ls
  FROM hist
)
SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n,
       CAST(1 AS BIGINT) AS d_min,
       {r6('CASE WHEN n > 0 AND ls <> 0 THEN 1.0 + CAST(n AS DOUBLE) / ls END', 'alpha')},
       {r6('CASE WHEN n > 0 THEN CAST(sumd AS DOUBLE) / CAST(n AS DOUBLE) END', 'mean_deg')},
       max_deg
FROM g
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Weighted reciprocity of the role-transition digraph — matches
# graph.role_reciprocity
ORACLES["q_reciprocity"] = f"""
WITH t AS ({T}),
seq AS (
  SELECT conv_id, role AS u,
         LEAD(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS v
  FROM t
),
trans AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w
  FROM seq WHERE v IS NOT NULL AND u <> v
  GROUP BY u, v
),
j AS (
  SELECT a.u, a.v, a.w, CAST(COALESCE(b.w, 0) AS BIGINT) AS wr
  FROM trans a LEFT JOIN trans b ON b.u = a.v AND b.v = a.u
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(COALESCE(SUM(w), 0) AS BIGINT) AS w_total,
         CAST(COALESCE(SUM(LEAST(w, wr)), 0) AS BIGINT) AS w_recip
  FROM j
)
SELECT n_edges, w_total, w_recip,
       {r6('CASE WHEN w_total > 0 THEN CAST(w_recip AS DOUBLE) / CAST(w_total AS DOUBLE) END', 'reciprocity')}
FROM g
"""


# Soft-dedup 1/cluster-size weights — matches curation.dup_weights
ORACLES["q_dup_weights"] = f"""
WITH RECURSIVE pairs AS (
  {{PAIRS}}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach (id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
),
clus AS (
  SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
  FROM reach GROUP BY id
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM clus GROUP BY cluster_id
),
assigned AS (
  SELECT d.doc_id,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         COALESCE(s.cluster_size, 1) AS cluster_size
  FROM documents d
  LEFT JOIN clus c ON c.doc_id = d.doc_id
  LEFT JOIN sizes s ON s.cluster_id = c.cluster_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       {r6('1.0 / CAST(cluster_size AS DOUBLE)', 'weight')}
FROM assigned
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Temperature-0.7 source mix over token mass — matches
# curation.source_temperature
ORACLES["q_source_temperature"] = f"""
WITH per AS (
  SELECT source AS s, CAST(SUM(len({TOKS_RAW})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
withn AS (
  SELECT s, n_tokens, CAST(SUM(n_tokens) OVER () AS BIGINT) AS nn FROM per
),
terms AS (
  SELECT s, n_tokens, nn,
         CAST(n_tokens AS DOUBLE) / CAST(nn AS DOUBLE) AS p,
         POW(CAST(n_tokens AS DOUBLE) / CAST(nn AS DOUBLE), 0.7) AS pa
  FROM withn
),
norm AS (
  SELECT list_reduce([0.0] || list(pa ORDER BY s), (a, e) -> a + e) AS z
  FROM terms
)
SELECT s AS source, n_tokens,
       {r6('CASE WHEN n_tokens > 0 AND z > 0 THEN p END', 'p')},
       {r6('CASE WHEN n_tokens > 0 AND z > 0 THEN pa / z END', 'w')},
       {r6('CASE WHEN n_tokens > 0 AND z > 0 THEN (pa / z) / p END', 'boost')}
FROM terms, norm
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Markov entropy rate of the role-transition chain — matches
# sessionize.entropy_rate
ORACLES["q_entropy_rate"] = f"""
WITH t AS ({T}),
seq AS (
  SELECT conv_id, role AS u,
         LEAD(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS v
  FROM t
),
trans AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE v IS NOT NULL GROUP BY u, v
),
cells AS (
  SELECT u, v, n,
         CAST(SUM(n) OVER (PARTITION BY u) AS BIGINT) AS nu,
         CAST(SUM(n) OVER () AS BIGINT) AS nn
  FROM trans
),
hr AS (
  SELECT CAST(MAX(nn) AS BIGINT) AS n_trans,
         -list_reduce([0.0] || list(
           (CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
           * LN(CAST(n AS DOUBLE) / CAST(nu AS DOUBLE))
           ORDER BY u, v), (a, e) -> a + e) AS h_rate
  FROM cells
),
marg AS (SELECT v, CAST(SUM(n) AS BIGINT) AS m FROM trans GROUP BY v),
margn AS (SELECT v, m, CAST(SUM(m) OVER () AS BIGINT) AS nn FROM marg),
hm AS (
  SELECT -list_reduce([0.0] || list(
           (CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
           * LN(CAST(m AS DOUBLE) / CAST(nn AS DOUBLE))
           ORDER BY v), (a, e) -> a + e) AS h_marg
  FROM margn
)
SELECT n_trans,
       {r6('h_rate', 'h_rate')},
       {r6('h_marg', 'h_marg')},
       {r6('h_marg - h_rate', 'gain')}
FROM hr, hm
"""


# Character unigram/bigram entropies per lang — matches
# text.char_bigram_entropy
ORACLES["q_char_entropy"] = f"""
WITH chars AS (
  SELECT lang AS g, unnest(list_transform(range(1, length(lower(text)) + 1),
         i -> substring(lower(text), CAST(i AS INT), 1))) AS c
  FROM documents
),
uni AS (
  SELECT g, c, CAST(COUNT(*) AS BIGINT) AS n
  FROM chars WHERE c <> '' GROUP BY g, c
),
unin AS (SELECT g, c, n, CAST(SUM(n) OVER (PARTITION BY g) AS BIGINT) AS nn FROM uni),
h1t AS (
  SELECT g, CAST(MAX(nn) AS BIGINT) AS n_chars,
         -list_reduce([0.0] || list(
           (CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
           * LN(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
           ORDER BY c), (a, e) -> a + e) AS h1
  FROM unin GROUP BY g
),
bigs AS (
  SELECT lang AS g, unnest(list_transform(range(1, GREATEST(length(lower(text)) - 1, 0) + 1),
         i -> substring(lower(text), CAST(i AS INT), 2))) AS b
  FROM documents
),
bi AS (
  SELECT g, b, CAST(COUNT(*) AS BIGINT) AS n
  FROM bigs WHERE length(b) = 2 GROUP BY g, b
),
bin_ AS (SELECT g, b, n, CAST(SUM(n) OVER (PARTITION BY g) AS BIGINT) AS nn FROM bi),
h2t AS (
  SELECT g, CAST(MAX(nn) AS BIGINT) AS n_bigrams,
         -list_reduce([0.0] || list(
           (CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
           * LN(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
           ORDER BY b), (a, e) -> a + e) AS h2
  FROM bin_ GROUP BY g
)
SELECT h1t.g AS lang,
       CAST(COALESCE(h1t.n_chars, 0) AS BIGINT) AS n_chars,
       CAST(COALESCE(h2t.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       {r6('h1t.h1', 'h1')},
       {r6('h2t.h2', 'h2')},
       {r6('CASE WHEN h2t.h2 IS NOT NULL THEN h2t.h2 - h1t.h1 END', 'h_cond')},
       {r6('CASE WHEN h2t.h2 IS NOT NULL THEN h1t.h1 - (h2t.h2 - h1t.h1) END', 'gain')}
FROM h1t LEFT JOIN h2t ON h2t.g = h1t.g
"""


# Anomalous-token-shape audit per source — matches text.token_audit
ORACLES["q_token_audit"] = f"""
WITH tok AS (
  SELECT source AS g, unnest({TOKS_RAW}) AS t FROM documents
),
kept AS (SELECT g, t FROM tok WHERE t <> ''),
g AS (
  SELECT g,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(CASE WHEN length(t) > 20 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o,
         CAST(COALESCE(SUM(CASE WHEN regexp_matches(t, '[0-9]') AND regexp_matches(t, '[a-z]') THEN 1 ELSE 0 END), 0) AS BIGINT) AS m,
         CAST(COALESCE(SUM(CASE WHEN regexp_matches(t, '[^\\x00-\\x7f]') THEN 1 ELSE 0 END), 0) AS BIGINT) AS na,
         CAST(COALESCE(SUM(CASE WHEN regexp_matches(t, '^[0-9a-f]{{8,}}$') THEN 1 ELSE 0 END), 0) AS BIGINT) AS h
  FROM kept GROUP BY g
)
SELECT g AS source, n_tokens,
       {r6('CASE WHEN n_tokens > 0 THEN CAST(o AS DOUBLE) / CAST(n_tokens AS DOUBLE) END', 'overlong_ratio')},
       {r6('CASE WHEN n_tokens > 0 THEN CAST(m AS DOUBLE) / CAST(n_tokens AS DOUBLE) END', 'mixed_ratio')},
       {r6('CASE WHEN n_tokens > 0 THEN CAST(na AS DOUBLE) / CAST(n_tokens AS DOUBLE) END', 'nonascii_ratio')},
       {r6('CASE WHEN n_tokens > 0 THEN CAST(h AS DOUBLE) / CAST(n_tokens AS DOUBLE) END', 'hexblob_ratio')}
FROM g
"""


# Multi-horizon point-in-time activity features — matches
# asof.horizon_features
ORACLES["q_horizon_feats"] = f"""
WITH t AS ({T}),
j AS (
  SELECT t.conv_id, g.as_of, t.signal,
         epoch_us(g.as_of) - epoch_us(t.ts) AS age
  FROM t JOIN (SELECT column0 AS as_of FROM {GRID} g(column0)) g
    ON t.ts <= g.as_of
),
agg AS (
  SELECT conv_id, as_of,
         CAST(COALESCE(SUM(CASE WHEN age < 3600000000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_1h,
         CAST(COALESCE(SUM(CASE WHEN age < 21600000000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_6h,
         CAST(COALESCE(SUM(CASE WHEN age < 86400000000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_24h,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN age < 86400000000 THEN CAST(signal AS BIGINT) END) AS BIGINT) AS s24
  FROM j GROUP BY conv_id, as_of
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us,
       n_1h, n_6h, n_24h, n_total,
       {r6('CASE WHEN n_24h > 0 THEN CAST(s24 AS DOUBLE) / CAST(n_24h AS DOUBLE) END', 'mean_sig_24h')},
       {r6('CASE WHEN n_24h > 0 THEN CAST(n_1h AS DOUBLE) / (CAST(n_24h AS DOUBLE) / 24.0) END', 'velocity')}
FROM agg
"""


# Per-role recency vectors at each cutoff — matches
# asof.recency_features
ORACLES["q_recency"] = f"""
WITH t AS ({T}),
j AS (
  SELECT t.conv_id, g.as_of, t.role, epoch_us(t.ts) AS ts_us
  FROM t JOIN (SELECT column0 AS as_of FROM {GRID} g(column0)) g
    ON t.ts <= g.as_of
),
agg AS (
  SELECT conv_id, as_of,
         CAST(MAX(ts_us) AS BIGINT) AS m_any,
         CAST(MAX(CASE WHEN role = 'user' THEN ts_us END) AS BIGINT) AS m_user,
         CAST(MAX(CASE WHEN role = 'assistant' THEN ts_us END) AS BIGINT) AS m_assistant,
         CAST(MAX(CASE WHEN role = 'tool' THEN ts_us END) AS BIGINT) AS m_tool,
         CAST(MAX(CASE WHEN role = 'system' THEN ts_us END) AS BIGINT) AS m_system
  FROM j GROUP BY conv_id, as_of
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us,
       {r6('CAST(epoch_us(as_of) - m_any AS DOUBLE) / 1e6', 'sec_since_any')},
       {r6('CASE WHEN m_user IS NOT NULL THEN CAST(epoch_us(as_of) - m_user AS DOUBLE) / 1e6 END', 'sec_since_user')},
       {r6('CASE WHEN m_assistant IS NOT NULL THEN CAST(epoch_us(as_of) - m_assistant AS DOUBLE) / 1e6 END', 'sec_since_assistant')},
       {r6('CASE WHEN m_tool IS NOT NULL THEN CAST(epoch_us(as_of) - m_tool AS DOUBLE) / 1e6 END', 'sec_since_tool')},
       {r6('CASE WHEN m_system IS NOT NULL THEN CAST(epoch_us(as_of) - m_system AS DOUBLE) / 1e6 END', 'sec_since_system')}
FROM agg
"""


# Streaming KMV final-state replay: the k smallest distinct hashes of
# the whole stream — matches streaming.streaming_kmv after the single
# availableNow batch (k = 64, same square-mod mixing hash as q_kmv)
ORACLES["q_stream_kmv"] = f"""
WITH dk AS (
  SELECT DISTINCT event_type AS g, CAST(user_id AS BIGINT) AS k FROM events
),
hs AS (
  SELECT DISTINCT g,
         ((((ABS(k) % 2147483647) * 48271 + 12345) % 2147483647)
          * (((ABS(k) % 2147483647) * 48271 + 12345) % 2147483647)
          + (((ABS(k) % 2147483647) * 48271 + 12345) % 2147483647)) % 2147483647 AS y
  FROM dk
),
hh AS (SELECT DISTINCT g, (y * 48271) % 2147483647 AS h FROM hs),
ranked AS (
  SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn FROM hh
),
agg AS (
  SELECT g,
         CAST(LEAST(COUNT(*), 64) AS BIGINT) AS v_hashes,
         CAST(MAX(CASE WHEN rn = 64 THEN h END) AS BIGINT) AS kth_hash,
         CAST(COUNT(*) AS BIGINT) AS total
  FROM ranked GROUP BY g
)
SELECT g AS event_type, v_hashes, kth_hash,
       {r6('CASE WHEN total < 64 THEN CAST(total AS DOUBLE) ELSE 63.0 * 2147483647.0 / (CAST(kth_hash AS DOUBLE) + 1.0) END', 'est_distinct')}
FROM agg
"""


# Top-k vocabulary coverage curve — matches text.coverage_curve
ORACLES["q_coverage_curve"] = f"""
WITH tok AS (
  SELECT unnest({TOKS_RAW}) AS t FROM documents
),
counts AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok WHERE t <> '' GROUP BY t
),
ranked AS (
  SELECT c,
         CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t ASC) AS BIGINT) AS rk,
         CAST(SUM(c) OVER () AS BIGINT) AS nn,
         CAST(COUNT(*) OVER () AS BIGINT) AS v
  FROM counts
),
cum AS (
  SELECT rk, nn, v,
         CAST(SUM(c) OVER (ORDER BY rk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cov
  FROM ranked
),
ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (10), (100), (1000)) val(k)),
meta AS (SELECT nn, v FROM cum WHERE rk = 1),
targets AS (SELECT ks.k, meta.nn, meta.v, LEAST(ks.k, meta.v) AS rkt FROM ks, meta)
SELECT targets.k,
       targets.v AS vocab_size,
       targets.nn AS n_tokens,
       CAST(COALESCE(cum.cov, 0) AS BIGINT) AS covered,
       {r6('CASE WHEN targets.nn > 0 THEN CAST(COALESCE(cum.cov, 0) AS DOUBLE) / CAST(targets.nn AS DOUBLE) END', 'coverage')}
FROM targets
LEFT JOIN cum ON cum.rk = targets.rkt
"""


# Near-dup component size histogram — matches
# dedup.component_size_stats
ORACLES["q_component_sizes"] = f"""
WITH RECURSIVE pairs AS (
  {{PAIRS}}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach (id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
),
clus AS (
  SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
  FROM reach GROUP BY id
),
assigned AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cc
  FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id
),
sizes AS (SELECT cc, CAST(COUNT(*) AS BIGINT) AS s FROM assigned GROUP BY cc),
hist AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_clusters FROM sizes GROUP BY s),
tot AS (
  SELECT CAST(SUM(s * n_clusters) AS BIGINT) AS t,
         CAST(MAX(s) AS BIGINT) AS gcc
  FROM hist
)
SELECT CAST(s AS BIGINT) AS size, n_clusters,
       CAST(s * n_clusters AS BIGINT) AS n_docs,
       {r6('CAST(s * n_clusters AS DOUBLE) / CAST(tot.t AS DOUBLE)', 'doc_share')},
       {r6('CAST(tot.gcc AS DOUBLE) / CAST(tot.t AS DOUBLE)', 'gcc_share')}
FROM hist, tot
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Diagonal Mahalanobis outlier score — matches
# similarity.mahalanobis_diag
ORACLES["q_mahalanobis"] = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
),
kept AS (
  SELECT vec_id, ev FROM v
  WHERE length(list_filter(ev, x -> x IS NULL OR isnan(x) OR abs(x) = 'infinity'::DOUBLE)) = 0
),
ex AS (
  SELECT vec_id, unnest(ev) AS x,
         unnest(range(1, length(ev) + 1)) AS d
  FROM kept
),
per_dim AS (
  SELECT d,
         list_reduce([0.0] || list(x ORDER BY vec_id), (a, e) -> a + e) AS s,
         list_reduce([0.0] || list(x * x ORDER BY vec_id), (a, e) -> a + e) AS s2,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ex GROUP BY d
),
stats AS (
  SELECT d,
         s / CAST(n AS DOUBLE) AS mu,
         s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)) AS var
  FROM per_dim
),
z AS (
  SELECT ex.vec_id, ex.d,
         CASE WHEN stats.var > 0
              THEN (ex.x - stats.mu) * (ex.x - stats.mu) / stats.var
              ELSE 0.0 END AS z2
  FROM ex JOIN stats USING (d)
),
per AS (
  SELECT vec_id,
         list_reduce([0.0] || list(z2 ORDER BY d), (a, e) -> a + e) AS s2,
         MAX(z2) AS mx
  FROM z GROUP BY vec_id
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       {r6('SQRT(s2)', 'score')},
       {r6('SQRT(mx)', 'max_dim_z')}
FROM per
"""


# Per-conversation OLS trend at each cutoff — matches asof.trend_asof
ORACLES["q_trend_asof"] = f"""
WITH t AS ({T}),
j AS (
  SELECT t.conv_id, g.as_of,
         CAST(t.turn_idx AS BIGINT) AS x, CAST(t.signal AS BIGINT) AS y
  FROM t JOIN (SELECT column0 AS as_of FROM {GRID} g(column0)) g
    ON t.ts <= g.as_of
  WHERE t.signal IS NOT NULL
),
g AS (
  SELECT conv_id, as_of,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM j GROUP BY conv_id, as_of
),
f AS (
  SELECT conv_id, as_of, n,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM g
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us, n,
       {r6('CASE WHEN n >= 2 AND vx > 0 THEN cov / vx END', 'slope')},
       {r6('CASE WHEN n >= 2 AND vx > 0 THEN (syd - (cov / vx) * sxd) / CAST(n AS DOUBLE) END', 'intercept')},
       {r6('CASE WHEN n >= 2 AND vx > 0 AND vy > 0 THEN (cov * cov) / (vx * vy) END', 'r2')}
FROM f
"""


# Gap-session state at each cutoff — matches asof.sessions_asof
ORACLES["q_sessions_asof"] = f"""
WITH t AS ({T}),
marked AS (
  SELECT conv_id, ts, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
  FROM t
),
b AS (
  SELECT conv_id, ts, us,
         (prev IS NULL OR us - prev > {GAP} * 1000000) AS boundary
  FROM marked
),
j AS (
  SELECT b.conv_id, g.as_of, b.us, b.boundary
  FROM b JOIN (SELECT column0 AS as_of FROM {GRID} g(column0)) g
    ON b.ts <= g.as_of
),
agg AS (
  SELECT conv_id, as_of,
         CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(COALESCE(SUM(CASE WHEN boundary THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_sessions,
         CAST(MAX(CASE WHEN boundary THEN us END) AS BIGINT) AS start_us
  FROM j GROUP BY conv_id, as_of
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us,
       n_turns, n_sessions,
       {r6('CASE WHEN start_us IS NOT NULL THEN CAST(epoch_us(as_of) - start_us AS DOUBLE) / 1e6 END', 'sec_in_session')}
FROM agg
"""


# Exact Gini + Lorenz deciles of doc token mass — matches
# curation.length_gini
ORACLES["q_length_gini"] = f"""
WITH lens AS (
  SELECT CAST(doc_id AS BIGINT) AS id, CAST(len({TOKS_RAW}) AS BIGINT) AS x
  FROM documents
),
ranked AS (
  SELECT x,
         CAST(ROW_NUMBER() OVER (ORDER BY x ASC, id ASC) AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(SUM(x) OVER () AS BIGINT) AS sx
  FROM lens
),
cum AS (
  SELECT i, n, sx,
         (2 * CAST(i AS HUGEINT) - n - 1) * x AS g,
         CAST(SUM(x) OVER (ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cx
  FROM ranked
),
gn AS (SELECT CAST(SUM(g) AS HUGEINT) AS gnum FROM cum),
ds AS (SELECT CAST(d AS BIGINT) AS decile FROM generate_series(1, 10) s(d)),
marks AS (
  SELECT ds.decile, cum.i, cum.n, cum.sx, cum.cx
  FROM cum JOIN ds
    ON cum.i = CAST(FLOOR(ds.decile * cum.n / 10.0) AS BIGINT)
)
SELECT decile, i AS n_docs,
       {r6('CASE WHEN sx > 0 THEN CAST(cx AS DOUBLE) / CAST(sx AS DOUBLE) END', 'mass_share')},
       {r6('CASE WHEN sx > 0 THEN CAST(gn.gnum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) END', 'gini')}
FROM marks, gn
"""


# Week-over-week active-user accounting — matches curation.wau_overlap
ORACLES["q_wau_overlap"] = f"""
WITH p AS (
  SELECT DISTINCT date_trunc('week', ts) AS w, CAST(user_id AS BIGINT) AS u
  FROM events
),
both_ AS (
  SELECT b.w AS w, CAST(COUNT(*) AS BIGINT) AS retained
  FROM p a JOIN p b ON a.u = b.u AND b.w = a.w + INTERVAL 7 DAY
  GROUP BY b.w
),
per_week AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY w),
adj AS (
  SELECT w, n,
         LAG(w) OVER (ORDER BY w) AS pw,
         LAG(n) OVER (ORDER BY w) AS pn
  FROM per_week
),
jj AS (
  SELECT adj.w AS week_start,
         CAST(adj.pn AS BIGINT) AS n_prev,
         CAST(adj.n AS BIGINT) AS n_curr,
         CAST(COALESCE(both_.retained, 0) AS BIGINT) AS retained
  FROM adj LEFT JOIN both_ ON both_.w = adj.w
  WHERE adj.pw IS NOT NULL AND adj.w = adj.pw + INTERVAL 7 DAY
)
SELECT CAST(epoch_us(week_start) AS BIGINT) AS week_us,
       n_prev, n_curr, retained,
       CAST(n_curr - retained AS BIGINT) AS new_users,
       CAST(n_prev - retained AS BIGINT) AS churned,
       {r6('CASE WHEN n_prev > 0 THEN CAST(retained AS DOUBLE) / CAST(n_prev AS DOUBLE) END', 'retention')},
       {r6('CASE WHEN n_prev + n_curr - retained > 0 THEN CAST(retained AS DOUBLE) / CAST(n_prev + n_curr - retained AS DOUBLE) END', 'jaccard')}
FROM jj
"""


# Hour-of-day / day-of-week ANOVA shares — matches
# sessionize.seasonality_strength
ORACLES["q_seasonality"] = f"""
WITH t AS ({T}),
hh AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY date_trunc('hour', ts)
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
  FROM hh
),
gh AS (
  SELECT EXTRACT(hour FROM h) AS g, CAST(SUM(c) AS BIGINT) AS sg,
         CAST(COUNT(*) AS BIGINT) AS ng
  FROM hh GROUP BY EXTRACT(hour FROM h)
),
bh AS (
  SELECT list_reduce([0.0] || list(
           CAST(CAST(sg AS HUGEINT) * sg AS DOUBLE) / CAST(ng AS DOUBLE)
           ORDER BY g), (a, e) -> a + e) AS v
  FROM gh
),
gd AS (
  SELECT dayofweek(h) + 1 AS g, CAST(SUM(c) AS BIGINT) AS sg,
         CAST(COUNT(*) AS BIGINT) AS ng
  FROM hh GROUP BY dayofweek(h) + 1
),
bd AS (
  SELECT list_reduce([0.0] || list(
           CAST(CAST(sg AS HUGEINT) * sg AS DOUBLE) / CAST(ng AS DOUBLE)
           ORDER BY g), (a, e) -> a + e) AS v
  FROM gd
),
f AS (
  SELECT tot.n,
         CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE) / CAST(tot.n AS DOUBLE) AS msq,
         CAST(tot.s2 AS DOUBLE) AS s2d, bh.v AS vbh, bd.v AS vbd
  FROM tot, bh, bd
)
SELECT n,
       {r6('CASE WHEN s2d - msq > 0 THEN (vbh - msq) / (s2d - msq) END', 'eta2_hour')},
       {r6('CASE WHEN s2d - msq > 0 THEN (vbd - msq) / (s2d - msq) END', 'eta2_dow')}
FROM f
"""


# conv_id shuffle-key skew profile — matches
# sessionize.key_skew_profile
ORACLES["q_key_skew"] = f"""
WITH t AS ({T}),
counts AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY conv_id),
hist AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM counts GROUP BY c),
cum AS (
  SELECT c,
         CAST(SUM(m) OVER (ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
         CAST(SUM(m) OVER () AS BIGINT) AS nk,
         CAST(SUM(c * m) OVER () AS BIGINT) AS nr,
         CAST(MAX(c) OVER () AS BIGINT) AS mx
  FROM hist
),
g AS (
  SELECT CAST(MAX(nk) AS BIGINT) AS n_keys,
         CAST(MAX(nr) AS BIGINT) AS n_rows,
         CAST(MIN(CASE WHEN cm >= CAST(CEIL(0.5 * nk) AS BIGINT) THEN c END) AS BIGINT) AS p50,
         CAST(MIN(CASE WHEN cm >= CAST(CEIL(0.9 * nk) AS BIGINT) THEN c END) AS BIGINT) AS p90,
         CAST(MIN(CASE WHEN cm >= CAST(CEIL(0.99 * nk) AS BIGINT) THEN c END) AS BIGINT) AS p99,
         CAST(MAX(mx) AS BIGINT) AS max_count
  FROM cum
)
SELECT n_keys, n_rows, p50, p90, p99, max_count,
       {r6('CAST(max_count AS DOUBLE) / CAST(n_rows AS DOUBLE)', 'top_share')},
       {r6('CASE WHEN p50 > 0 THEN CAST(max_count AS DOUBLE) / CAST(p50 AS DOUBLE) END', 'skew_ratio')}
FROM g
"""


# User/assistant hourly cross-correlation — matches profile.role_xcorr
_XCORR_LAG = """
  SELECT CAST({lag} AS BIGINT) AS lag,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM (
    SELECT COALESCE(a.ca, 0) AS x, COALESCE(b.cb, 0) AS y
    FROM (SELECT h, ca FROM hrs) a
    FULL JOIN (SELECT h - ({lag}) * INTERVAL 1 HOUR AS h, cb FROM hrs) b USING (h)
  )
"""

ORACLES["q_xcorr"] = f"""
WITH t AS ({T}),
hrs AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(COALESCE(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END), 0) AS BIGINT) AS ca,
         CAST(COALESCE(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END), 0) AS BIGINT) AS cb
  FROM t GROUP BY date_trunc('hour', ts)
),
moments AS (
  {" UNION ALL ".join(_XCORR_LAG.format(lag=lag) for lag in range(-3, 4))}
)
SELECT lag, n_pairs,
       {r6('''CASE WHEN (n_pairs * sxx - sx * sx) > 0 AND (n_pairs * syy - sy * sy) > 0
              THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                   / SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE) * CAST(n_pairs * syy - sy * sy AS DOUBLE))
              END''', 'r')}
FROM moments
"""


# Role-pair handoff latency matrix — matches
# profile.handoff_latency_matrix
ORACLES["q_handoff_matrix"] = f"""
WITH t AS ({T}),
seq AS (
  SELECT conv_id, role AS v, epoch_us(ts) AS us,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS u,
         LAG(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS pus
  FROM t
),
pairs AS (
  SELECT u, v, CAST(us - pus AS BIGINT) AS gap
  FROM seq WHERE u IS NOT NULL
),
hist AS (
  SELECT u, v, gap, CAST(COUNT(*) AS BIGINT) AS m FROM pairs GROUP BY u, v, gap
),
cum AS (
  SELECT u, v, gap,
         CAST(SUM(m) OVER (PARTITION BY u, v ORDER BY gap
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
         CAST(SUM(m) OVER (PARTITION BY u, v) AS BIGINT) AS n,
         CAST(SUM(gap * m) OVER (PARTITION BY u, v) AS BIGINT) AS sg
  FROM hist
),
g AS (
  SELECT u, v,
         CAST(MAX(n) AS BIGINT) AS n,
         CAST(MAX(sg) AS BIGINT) AS sgm,
         CAST(MIN(CASE WHEN cm >= CAST(CEIL(0.5 * n) AS BIGINT) THEN gap END) AS BIGINT) AS p50,
         CAST(MIN(CASE WHEN cm >= CAST(CEIL(0.9 * n) AS BIGINT) THEN gap END) AS BIGINT) AS p90
  FROM cum GROUP BY u, v
)
SELECT u AS from_role, v AS to_role, n,
       {r6('CAST(sgm AS DOUBLE) / CAST(n AS DOUBLE) / 1e6', 'mean_sec')},
       {r6('CAST(p50 AS DOUBLE) / 1e6', 'p50_sec')},
       {r6('CAST(p90 AS DOUBLE) / 1e6', 'p90_sec')}
FROM g
"""


# Top-k tool-call chains — matches profile.tool_chains
ORACLES["q_tool_chains"] = f"""
WITH t AS ({T}),
seq AS (
  SELECT conv_id, tool AS to_t,
         LAG(tool) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS from_t
  FROM t WHERE tool IS NOT NULL
),
pairs AS (
  SELECT from_t, to_t, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE from_t IS NOT NULL GROUP BY from_t, to_t
),
ranked AS (
  SELECT from_t, to_t, n,
         CAST(SUM(n) OVER () AS BIGINT) AS tot,
         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, from_t ASC, to_t ASC) AS BIGINT) AS rank
  FROM pairs
)
SELECT from_t AS from_tool, to_t AS to_tool, n,
       {r6('CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)', 'share')},
       rank
FROM ranked WHERE rank <= 10
"""


# Final-turn role distribution — matches profile.conv_endings
ORACLES["q_conv_endings"] = f"""
WITH t AS ({T}),
ordd AS (
  SELECT conv_id, epoch_us(ts) AS us, turn_idx,
         CASE role WHEN 'user' THEN 0 WHEN 'assistant' THEN 1
                   WHEN 'tool' THEN 2 ELSE 3 END AS r,
         CAST(signal AS BIGINT) AS s
  FROM t
),
last AS (
  SELECT conv_id, r, s FROM (
    SELECT conv_id, r, s,
           ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY us DESC, turn_idx DESC) AS rn
    FROM ordd
  ) WHERE rn = 1
),
per AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_convs, CAST(SUM(s) AS BIGINT) AS ss
  FROM last GROUP BY r
),
tot AS (SELECT *, CAST(SUM(n_convs) OVER () AS BIGINT) AS t FROM per)
SELECT CASE r WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              WHEN 2 THEN 'tool' ELSE 'system' END AS role,
       n_convs,
       {r6('CAST(n_convs AS DOUBLE) / CAST(t AS DOUBLE)', 'share')},
       {r6('CASE WHEN n_convs > 0 THEN CAST(ss AS DOUBLE) / CAST(n_convs AS DOUBLE) END', 'mean_last_signal')}
FROM tot
"""


# Daily cold-start decomposition — matches profile.cold_start_share
ORACLES["q_cold_start"] = f"""
WITH t AS ({T}),
births AS (
  SELECT conv_id, date_trunc('day', MIN(ts)) AS bday FROM t GROUP BY conv_id
),
j AS (
  SELECT t.conv_id, date_trunc('day', t.ts) AS day, births.bday
  FROM t JOIN births USING (conv_id)
),
g AS (
  SELECT day,
         CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(COALESCE(SUM(CASE WHEN day = bday THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_new_turns,
         CAST(COUNT(DISTINCT CASE WHEN day = bday THEN conv_id END) AS BIGINT) AS n_new_convs
  FROM j GROUP BY day
)
SELECT CAST(epoch_us(day) AS BIGINT) AS day_us,
       n_turns, n_new_turns, n_new_convs,
       {r6('CASE WHEN n_turns > 0 THEN CAST(n_new_turns AS DOUBLE) / CAST(n_turns AS DOUBLE) END', 'new_share')}
FROM g
"""


# Per-source near-dup membership rate — matches
# dedup.dup_rate_by_source
ORACLES["q_dup_rate_source"] = f"""
WITH RECURSIVE pairs AS (
  {{PAIRS}}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach (id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id
),
clus AS (
  SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
  FROM reach GROUP BY id
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz FROM clus GROUP BY cluster_id
),
duped AS (
  SELECT clus.doc_id FROM clus JOIN sizes USING (cluster_id) WHERE sizes.sz >= 2
),
g AS (
  SELECT d.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(CASE WHEN duped.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_duped
  FROM documents d LEFT JOIN duped ON duped.doc_id = d.doc_id
  GROUP BY d.source
)
SELECT source, n_docs, n_duped,
       {r6('CASE WHEN n_docs > 0 THEN CAST(n_duped AS DOUBLE) / CAST(n_docs AS DOUBLE) END', 'dup_rate')}
FROM g
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Within- vs cross-source dup pairs — matches dedup.cross_source_dup
ORACLES["q_dup_cross_source"] = f"""
WITH pairs AS (
  {{PAIRS}}
),
j AS (
  SELECT p.id_a, p.id_b, da.source AS sa, db.source AS sb
  FROM pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COALESCE(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_within
  FROM j
)
SELECT n_pairs, n_within,
       CAST(n_pairs - n_within AS BIGINT) AS n_cross,
       {r6('CASE WHEN n_pairs > 0 THEN CAST(n_pairs - n_within AS DOUBLE) / CAST(n_pairs AS DOUBLE) END', 'cross_share')}
FROM g
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Horvitz-Thompson token total from the md5 sample — matches
# curation.ht_estimate
ORACLES["q_ht_estimate"] = f"""
WITH base AS (
  SELECT CAST(len({TOKS_RAW}) AS BIGINT) AS n,
         substring(md5('ht1|' || CAST(doc_id AS VARCHAR)), 1, 8) < '19999999' AS inc
  FROM documents
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(CASE WHEN inc THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_sampled,
         CAST(SUM(n) AS BIGINT) AS exact_tokens,
         CAST(SUM(CASE WHEN inc THEN n END) AS BIGINT) AS st
  FROM base
)
SELECT n_docs, n_sampled, exact_tokens,
       {r6('CASE WHEN n_sampled > 0 THEN CAST(st AS DOUBLE) / (429496729.0 / 4294967296.0) END', 'ht_tokens')},
       {r6('CASE WHEN n_sampled > 0 AND exact_tokens > 0 THEN (CAST(st AS DOUBLE) / (429496729.0 / 4294967296.0) - CAST(exact_tokens AS DOUBLE)) / CAST(exact_tokens AS DOUBLE) * 100.0 END', 'err_pct')}
FROM g
"""


# BH-FDR over per-role KS drift — matches drift.bh_fdr
ORACLES["q_bh_fdr"] = f"""
WITH t AS ({T}),
pv AS (
  SELECT role, CAST(signal AS DOUBLE) AS val,
         COUNT(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 1 END) AS r,
         COUNT(CASE WHEN NOT (ts < TIMESTAMP '2024-01-15 00:00:00') THEN 1 END) AS c
  FROM t WHERE signal IS NOT NULL
  GROUP BY role, CAST(signal AS DOUBLE)
),
cum AS (
  SELECT role,
         SUM(r) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
         SUM(c) OVER (PARTITION BY role ORDER BY val
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(r) OVER (PARTITION BY role) AS nr,
         SUM(c) OVER (PARTITION BY role) AS nc
  FROM pv
),
ksr AS (
  SELECT role,
         CAST(MAX(nr) AS BIGINT) AS n_ref,
         CAST(MAX(nc) AS BIGINT) AS n_cur,
         MAX(CASE WHEN nr > 0 AND nc > 0
             THEN ABS(CAST(cr AS DOUBLE) / CAST(nr AS DOUBLE) - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE)) END) AS ks
  FROM cum GROUP BY role
),
withp AS (
  SELECT role, n_ref, n_cur, ks,
         LEAST(1.0, 2.0 * EXP(-2.0 * ks * ks * CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)
                              / (CAST(n_ref AS DOUBLE) + CAST(n_cur AS DOUBLE)))) AS p
  FROM ksr WHERE ks IS NOT NULL
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p ASC, role ASC) AS BIGINT) AS rank,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM withp
),
kstar AS (
  SELECT MAX(CASE WHEN p <= 0.05 * CAST(rank AS DOUBLE) / CAST(m AS DOUBLE)
                  THEN rank END) AS k
  FROM ranked
)
SELECT role, n_ref, n_cur,
       {r6('ks', 'ks')},
       {r6('p', 'p')},
       rank,
       (kstar.k IS NOT NULL AND rank <= kstar.k) AS reject
FROM ranked, kstar
"""


# Two-proportion A/B power plan — matches drift.ab_power
ORACLES["q_ab_power"] = f"""
WITH per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY event_type
),
withn AS (SELECT *, CAST(SUM(n_events) OVER () AS BIGINT) AS nn FROM per),
f AS (
  SELECT event_type, n_events,
         CAST(n_events AS DOUBLE) / CAST(nn AS DOUBLE) AS p1,
         CAST(n_events AS DOUBLE) / CAST(nn AS DOUBLE) * 1.1 AS p2
  FROM withn
)
SELECT event_type, n_events,
       {r6('CASE WHEN p1 > 0 AND p2 < 1 THEN p1 END', 'p1')},
       {r6('CASE WHEN p1 > 0 AND p2 < 1 THEN p2 END', 'p2')},
       {r6('''CASE WHEN p1 > 0 AND p2 < 1 THEN
              (1.959963984540054 * SQRT(2.0 * ((p1 + p2) / 2.0) * (1.0 - (p1 + p2) / 2.0))
               + 0.8416212335729143 * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
              * (1.959963984540054 * SQRT(2.0 * ((p1 + p2) / 2.0) * (1.0 - (p1 + p2) / 2.0))
                 + 0.8416212335729143 * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
              / ((p2 - p1) * (p2 - p1))
              END''', 'n_per_arm')}
FROM f
"""


# Per-role last-signal matrix at cutoffs — matches asof.state_matrix
ORACLES["q_state_matrix"] = f"""
WITH t AS ({T}),
j AS (
  SELECT t.conv_id, g.as_of, t.role, epoch_us(t.ts) AS us, t.turn_idx,
         CAST(t.signal AS BIGINT) AS s
  FROM t JOIN (SELECT column0 AS as_of FROM {GRID} g(column0)) g
    ON t.ts <= g.as_of
),
agg AS (
  SELECT conv_id, as_of,
         MAX(CASE WHEN role = 'user' THEN ROW(us, turn_idx, s) END) AS m_user,
         MAX(CASE WHEN role = 'assistant' THEN ROW(us, turn_idx, s) END) AS m_assistant,
         MAX(CASE WHEN role = 'tool' THEN ROW(us, turn_idx, s) END) AS m_tool,
         MAX(CASE WHEN role = 'system' THEN ROW(us, turn_idx, s) END) AS m_system
  FROM j GROUP BY conv_id, as_of
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us,
       {r6("CAST(m_user[3] AS DOUBLE)", 'last_sig_user')},
       {r6("CAST(m_assistant[3] AS DOUBLE)", 'last_sig_assistant')},
       {r6("CAST(m_tool[3] AS DOUBLE)", 'last_sig_tool')},
       {r6("CAST(m_system[3] AS DOUBLE)", 'last_sig_system')}
FROM agg
"""


# Distinct role/tool breadth at cutoffs — matches asof.distinct_asof
ORACLES["q_distinct_asof"] = f"""
WITH t AS ({T}),
j AS (
  SELECT t.conv_id, g.as_of, t.role, t.tool
  FROM t JOIN (SELECT column0 AS as_of FROM {GRID} g(column0)) g
    ON t.ts <= g.as_of
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(COUNT(DISTINCT role) AS BIGINT) AS n_roles,
       CAST(COUNT(DISTINCT tool) AS BIGINT) AS n_tools
FROM j GROUP BY conv_id, as_of
"""


# Per-lang tokenizer efficiency — matches text.bytes_per_token
ORACLES["q_bytes_per_token"] = f"""
WITH g AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         CAST(SUM(len({TOKS_RAW})) AS BIGINT) AS n_tokens,
         CAST(SUM(length(regexp_replace(text, '\\s', '', 'g'))) AS BIGINT) AS nw
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, n_chars, n_tokens,
       {r6('CASE WHEN n_tokens > 0 THEN CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END', 'chars_per_token')},
       {r6('CASE WHEN n_chars > 0 THEN CAST(nw AS DOUBLE) / CAST(n_chars AS DOUBLE) END', 'nonws_share')},
       {r6('CASE WHEN n_tokens > 0 THEN CAST(nw AS DOUBLE) / CAST(n_tokens AS DOUBLE) END', 'mean_token_len')}
FROM g
"""


# Dedup threshold sweep over the LSH candidate graph — matches
# dedup.dup_threshold_sweep
ORACLES["q_dup_threshold_sweep"] = f"""
WITH cand AS (
  SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b
  FROM ({{PAIRS}}) pq
),
toks AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(generate_series(1, len(tk) - 2),
                               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingle
  FROM toks WHERE len(tk) >= 3
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS DOUBLE) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT cand.id_a, cand.id_b,
         inter.n_common / (sa.n_sh + sb.n_sh - inter.n_common) AS j
  FROM cand
  JOIN inter ON inter.id_a = cand.id_a AND inter.id_b = cand.id_b
  JOIN sizes sa ON sa.doc_id = cand.id_a
  JOIN sizes sb ON sb.doc_id = cand.id_b
),
ths AS (SELECT CAST(th AS DOUBLE) AS threshold FROM (VALUES (0.5), (0.7), (0.9)) v(th)),
per AS (
  SELECT ths.threshold,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM ths LEFT JOIN scored ON scored.j >= ths.threshold
  GROUP BY ths.threshold
),
per_fix AS (
  SELECT threshold,
         CAST(COALESCE((SELECT COUNT(*) FROM scored WHERE scored.j >= per.threshold), 0) AS BIGINT) AS n_pairs,
         CAST(COALESCE((SELECT COUNT(DISTINCT d) FROM (
             SELECT id_a AS d FROM scored WHERE scored.j >= per.threshold
             UNION ALL
             SELECT id_b AS d FROM scored WHERE scored.j >= per.threshold
         )), 0) AS BIGINT) AS n_docs
  FROM per
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents)
SELECT threshold, n_pairs, n_docs,
       {r6('CASE WHEN tot.nd > 0 THEN CAST(n_docs AS DOUBLE) / CAST(tot.nd AS DOUBLE) END', 'doc_share')}
FROM per_fix, tot
""".replace("{PAIRS}", ORACLES["q_minhash_pairs"].strip())


# Streaming EWMA final-state replay: ts-ordered fold over
# distinct-ts mean steps — matches streaming.streaming_ewma
# (alpha = 0.5) after the single availableNow batch
ORACLES["q_stream_ewma"] = f"""
WITH src AS (
  SELECT 'c' || CAST(user_id AS STRING) AS conv_id, ts,
         CAST(1 + ABS(CAST(FLOOR(value) AS INT)) % 9 AS DOUBLE) AS signal
  FROM events
),
steps AS (
  SELECT conv_id, ts, SUM(signal) / COUNT(*) AS xbar
  FROM src WHERE signal IS NOT NULL
  GROUP BY conv_id, ts
),
per AS (
  SELECT conv_id,
         CAST(COUNT(*) AS BIGINT) AS n_steps,
         list_reduce(list(xbar ORDER BY ts), (acc, e) -> 0.5 * e + 0.5 * acc) AS level
  FROM steps GROUP BY conv_id
)
SELECT conv_id, n_steps, {r6('level', 'level')}
FROM per
"""


# GK approx_percentile audit: exact quantiles + bound booleans —
# matches sketches.approx_quantile_check (booleans replayed as the
# bound-holds literals, the q_sketch_stats pattern)
ORACLES["q_approx_quantiles"] = f"""
WITH t AS ({T}),
hist AS (
  SELECT CAST(signal AS DOUBLE) AS v, CAST(COUNT(*) AS BIGINT) AS m
  FROM t WHERE signal IS NOT NULL GROUP BY CAST(signal AS DOUBLE)
),
cum AS (
  SELECT v,
         CAST(SUM(m) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
         CAST(SUM(m) OVER () AS BIGINT) AS n
  FROM hist
),
g AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         CAST(MIN(CASE WHEN cm >= CAST(CEIL(0.5 * n) AS BIGINT) THEN v END) AS DOUBLE) AS e50,
         CAST(MIN(CASE WHEN cm >= CAST(CEIL(0.9 * n) AS BIGINT) THEN v END) AS DOUBLE) AS e90,
         CAST(MIN(CASE WHEN cm >= CAST(CEIL(0.99 * n) AS BIGINT) THEN v END) AS DOUBLE) AS e99
  FROM cum
)
SELECT n,
       {r6('e50', 'p50')}, {r6('e90', 'p90')}, {r6('e99', 'p99')},
       TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99
FROM g
"""


# Deequ-style event-log column profile — matches profile.column_profile
ORACLES["q_profile_events"] = f"""
WITH g AS (
  SELECT 'event_id' AS col, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_null,
         CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
         CAST(MIN(event_id) AS VARCHAR) AS min_str, CAST(MAX(event_id) AS VARCHAR) AS max_str
  FROM events
  UNION ALL
  SELECT 'ts', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
         CAST(COUNT(DISTINCT ts) AS BIGINT),
         strftime(MIN(ts), '%Y-%m-%d %H:%M:%S'), strftime(MAX(ts), '%Y-%m-%d %H:%M:%S')
  FROM events
  UNION ALL
  SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
         CAST(COUNT(DISTINCT user_id) AS BIGINT),
         CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
         CAST(COUNT(DISTINCT event_type) AS BIGINT),
         CAST(MIN(event_type) AS VARCHAR), CAST(MAX(event_type) AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'value', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
         CAST(COUNT(DISTINCT value) AS BIGINT),
         CAST({r6x('MIN(value)')} AS VARCHAR), CAST({r6x('MAX(value)')} AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'props', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
         CAST(COUNT(DISTINCT props) AS BIGINT),
         CAST(MIN(props) AS VARCHAR), CAST(MAX(props) AS VARCHAR)
  FROM events
)
SELECT col AS "column", n, n_null,
       {r6('CASE WHEN n > 0 THEN CAST(n_null AS DOUBLE) / CAST(n AS DOUBLE) END', 'null_share')},
       n_distinct, min_str, max_str
FROM g
"""


# Order-free content manifest — matches curation.content_manifest
ORACLES["q_content_manifest"] = f"""
WITH base AS (
  SELECT source AS s,
         CAST(len({TOKS_RAW}) AS BIGINT) AS n,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))::BIGINT
              % 2305843009213693951 AS BIGINT) AS h
  FROM documents
),
per AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS n_tokens,
         CAST(CAST(SUM(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS BIGINT) AS digest
  FROM base GROUP BY s
),
corpus AS (
  SELECT '<corpus>' AS s, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS n_tokens,
         CAST(CAST(SUM(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS BIGINT) AS digest
  FROM base
)
SELECT s AS source, n_docs, n_tokens, digest FROM per
UNION ALL
SELECT s AS source, n_docs, n_tokens, digest FROM corpus
"""


# Source-mix entropy + effective source count — matches
# curation.mix_entropy
ORACLES["q_mix_entropy"] = f"""
WITH per AS (
  SELECT source AS s, CAST(COUNT(*) AS BIGINT) AS d,
         CAST(SUM(len({TOKS_RAW})) AS BIGINT) AS t
  FROM documents GROUP BY source
),
withn AS (
  SELECT s, d, t,
         CAST(SUM(d) OVER () AS BIGINT) AS nd,
         CAST(SUM(t) OVER () AS BIGINT) AS nt
  FROM per
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
         -list_reduce([0.0] || list(
           CASE WHEN CAST(d AS DOUBLE) / CAST(nd AS DOUBLE) > 0
                THEN (CAST(d AS DOUBLE) / CAST(nd AS DOUBLE)) * LN(CAST(d AS DOUBLE) / CAST(nd AS DOUBLE))
                ELSE 0.0 END ORDER BY s), (a, e) -> a + e) AS hd,
         -list_reduce([0.0] || list(
           CASE WHEN CAST(t AS DOUBLE) / CAST(nt AS DOUBLE) > 0
                THEN (CAST(t AS DOUBLE) / CAST(nt AS DOUBLE)) * LN(CAST(t AS DOUBLE) / CAST(nt AS DOUBLE))
                ELSE 0.0 END ORDER BY s), (a, e) -> a + e) AS ht
  FROM withn
)
SELECT n_sources,
       {r6('hd', 'h_docs')},
       {r6('EXP(hd)', 'eff_docs')},
       {r6('ht', 'h_tokens')},
       {r6('EXP(ht)', 'eff_tokens')}
FROM g
"""


# Wilson + Agresti-Coull intervals per source — matches drift.wilson_ci
ORACLES["q_wilson"] = f"""
WITH g AS (
  SELECT source AS s, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 0) AS BIGINT) AS k
  FROM documents GROUP BY source
),
f AS (
  SELECT s, n, k,
         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         1.959963984540054 * 1.959963984540054 / CAST(n AS DOUBLE) AS z2n,
         CAST(n AS DOUBLE) AS nd
  FROM g
),
f2 AS (
  SELECT s, n, k, p, nd,
         (p + z2n / 2.0) / (1.0 + z2n) AS center,
         1.959963984540054 * SQRT(p * (1.0 - p) / nd
             + 1.959963984540054 * 1.959963984540054 / (4.0 * nd * nd)) / (1.0 + z2n) AS half,
         nd + 1.959963984540054 * 1.959963984540054 AS nt,
         (CAST(k AS DOUBLE) + 1.959963984540054 * 1.959963984540054 / 2.0)
           / (nd + 1.959963984540054 * 1.959963984540054) AS pt
  FROM f
)
SELECT s AS source, n, k,
       {r6('CASE WHEN n > 0 THEN p END', 'p')},
       {r6('CASE WHEN n > 0 THEN GREATEST(center - half, 0.0) END', 'wilson_lo')},
       {r6('CASE WHEN n > 0 THEN LEAST(center + half, 1.0) END', 'wilson_hi')},
       {r6('CASE WHEN n > 0 THEN GREATEST(pt - 1.959963984540054 * SQRT(pt * (1.0 - pt) / nt), 0.0) END', 'ac_lo')},
       {r6('CASE WHEN n > 0 THEN LEAST(pt + 1.959963984540054 * SQRT(pt * (1.0 - pt) / nt), 1.0) END', 'ac_hi')}
FROM f2
"""


# 3-iteration stationary role mix — matches
# sessionize.markov_stationary (unrolled, the q_hits pattern)
ORACLES["q_markov_stationary"] = f"""
WITH t AS ({T}),
seq AS (
  SELECT conv_id, role AS u,
         LEAD(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS v
  FROM t
),
trans AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE v IS NOT NULL GROUP BY u, v
),
cells AS (
  SELECT u, v,
         CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY u) AS BIGINT) AS p
  FROM trans
),
roles AS (SELECT DISTINCT u AS r FROM cells),
k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM roles),
pi0 AS (SELECT r, 1.0 / CAST(k.k AS DOUBLE) AS pi FROM roles, k),
pi1 AS (
  SELECT cells.v AS r,
         list_reduce([0.0] || list(pi0.pi * cells.p ORDER BY cells.u), (a, e) -> a + e) AS pi
  FROM cells JOIN pi0 ON pi0.r = cells.u
  GROUP BY cells.v
),
pi2 AS (
  SELECT cells.v AS r,
         list_reduce([0.0] || list(pi1.pi * cells.p ORDER BY cells.u), (a, e) -> a + e) AS pi
  FROM cells JOIN pi1 ON pi1.r = cells.u
  GROUP BY cells.v
),
pi3 AS (
  SELECT cells.v AS r,
         list_reduce([0.0] || list(pi2.pi * cells.p ORDER BY cells.u), (a, e) -> a + e) AS pi
  FROM cells JOIN pi2 ON pi2.r = cells.u
  GROUP BY cells.v
),
marg AS (SELECT v AS r, CAST(SUM(n) AS BIGINT) AS m FROM trans GROUP BY v),
margn AS (SELECT r, m, CAST(SUM(m) OVER () AS BIGINT) AS nn FROM marg)
SELECT pi3.r AS role,
       {r6('pi3.pi', 'pi')},
       {r6('CAST(margn.m AS DOUBLE) / CAST(margn.nn AS DOUBLE)', 'marginal')},
       {r6('pi3.pi - COALESCE(CAST(margn.m AS DOUBLE) / CAST(margn.nn AS DOUBLE), 0.0)', 'gap')}
FROM pi3 LEFT JOIN margn ON margn.r = pi3.r
"""


# Answered-rate state at cutoffs — matches asof.answer_rate_asof
ORACLES["q_answer_rate_asof"] = f"""
WITH t AS ({T}),
marked AS (
  SELECT conv_id, ts, role,
         LEAD(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS nrole,
         LEAD(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS nts
  FROM t
),
j AS (
  SELECT m.conv_id, g.as_of, m.role, m.nrole, m.nts
  FROM marked m JOIN (SELECT column0 AS as_of FROM {GRID} g(column0)) g
    ON m.ts <= g.as_of
),
agg AS (
  SELECT conv_id, as_of,
         CAST(COALESCE(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_user,
         CAST(COALESCE(SUM(CASE WHEN role = 'user' AND nrole = 'assistant' AND nts <= as_of THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_answered
  FROM j GROUP BY conv_id, as_of
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us,
       n_user, n_answered,
       {r6('CASE WHEN n_user > 0 THEN CAST(n_answered AS DOUBLE) / CAST(n_user AS DOUBLE) END', 'answer_rate')}
FROM agg
"""


# Streaming CMS final-state replay: declarative bucket sums — matches
# streaming.streaming_cms (d=4, w=64, literal salts) after the single
# availableNow batch
ORACLES["q_stream_cms"] = f"""
WITH per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(('0x' || substring(md5(event_type), 1, 15))::BIGINT % 2147483647 AS BIGINT) AS code
  FROM events WHERE event_type IS NOT NULL
  GROUP BY event_type
),
salts AS (SELECT CAST(s AS BIGINT) AS salt FROM (VALUES (11), (101), (1009), (10007)) v(s)),
hashed AS (
  SELECT per.event_type, per.c, salts.salt,
         ((((per.code * salts.salt + 12345) % 2147483647)
           * ((per.code * salts.salt + 12345) % 2147483647)
           + ((per.code * salts.salt + 12345) % 2147483647)) % 2147483647 * 48271 % 2147483647) % 64 AS b
  FROM per, salts
),
buckets AS (
  SELECT salt, b, CAST(SUM(c) AS BIGINT) AS tot FROM hashed GROUP BY salt, b
),
est AS (
  SELECT h.event_type, CAST(MAX(h.c) AS BIGINT) AS exact_in_batch,
         CAST(MIN(buckets.tot) AS BIGINT) AS cms_est
  FROM hashed h JOIN buckets ON buckets.salt = h.salt AND buckets.b = h.b
  GROUP BY h.event_type
)
SELECT event_type, exact_in_batch, cms_est,
       CAST(cms_est - exact_in_batch AS BIGINT) AS overcount
FROM est
"""


# Expanding rank-pick quartiles at cutoffs — matches
# asof.quantile_state_asof
ORACLES["q_quantiles_asof"] = f"""
WITH t AS ({T}),
j AS (
  SELECT t.conv_id, g.as_of, CAST(t.signal AS DOUBLE) AS v
  FROM t JOIN (SELECT column0 AS as_of FROM {GRID} g(column0)) g
    ON t.ts <= g.as_of
  WHERE t.signal IS NOT NULL
),
hist AS (
  SELECT conv_id, as_of, v, CAST(COUNT(*) AS BIGINT) AS m
  FROM j GROUP BY conv_id, as_of, v
),
cum AS (
  SELECT conv_id, as_of, v,
         CAST(SUM(m) OVER (PARTITION BY conv_id, as_of ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
         CAST(SUM(m) OVER (PARTITION BY conv_id, as_of) AS BIGINT) AS n
  FROM hist
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us,
       CAST(MAX(n) AS BIGINT) AS n,
       {r6('MIN(CASE WHEN cm >= CAST(CEIL(0.25 * n) AS BIGINT) THEN v END)', 'p25')},
       {r6('MIN(CASE WHEN cm >= CAST(CEIL(0.5 * n) AS BIGINT) THEN v END)', 'p50')},
       {r6('MIN(CASE WHEN cm >= CAST(CEIL(0.75 * n) AS BIGINT) THEN v END)', 'p75')}
FROM cum GROUP BY conv_id, as_of
"""


# Role-mix share vector at cutoffs — matches asof.role_mix_asof
ORACLES["q_role_mix_asof"] = f"""
WITH t AS ({T}),
j AS (
  SELECT t.conv_id, g.as_of, t.role
  FROM t JOIN (SELECT column0 AS as_of FROM {GRID} g(column0)) g
    ON t.ts <= g.as_of
),
agg AS (
  SELECT conv_id, as_of,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END), 0) AS BIGINT) AS cu,
         CAST(COALESCE(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END), 0) AS BIGINT) AS ca,
         CAST(COALESCE(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END), 0) AS BIGINT) AS ct,
         CAST(COALESCE(SUM(CASE WHEN role = 'system' THEN 1 ELSE 0 END), 0) AS BIGINT) AS cs
  FROM j GROUP BY conv_id, as_of
)
SELECT conv_id, CAST(epoch_us(as_of) AS BIGINT) AS as_of_us, n,
       {r6('CASE WHEN n > 0 THEN CAST(cu AS DOUBLE) / CAST(n AS DOUBLE) END', 'share_user')},
       {r6('CASE WHEN n > 0 THEN CAST(ca AS DOUBLE) / CAST(n AS DOUBLE) END', 'share_assistant')},
       {r6('CASE WHEN n > 0 THEN CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) END', 'share_tool')},
       {r6('CASE WHEN n > 0 THEN CAST(cs AS DOUBLE) / CAST(n AS DOUBLE) END', 'share_system')}
FROM agg
"""


# Week-over-week volume growth per event type — matches
# profile.wow_growth
ORACLES["q_wow_growth"] = f"""
WITH per AS (
  SELECT event_type, date_trunc('week', ts) AS w, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, date_trunc('week', ts)
),
adj AS (
  SELECT event_type, w, n,
         LAG(w) OVER (PARTITION BY event_type ORDER BY w) AS pw,
         LAG(n) OVER (PARTITION BY event_type ORDER BY w) AS pn
  FROM per
)
SELECT event_type, CAST(epoch_us(w) AS BIGINT) AS week_us,
       CAST(pn AS BIGINT) AS n_prev, CAST(n AS BIGINT) AS n_curr,
       {r6('CASE WHEN pn > 0 THEN CAST(n - pn AS DOUBLE) / CAST(pn AS DOUBLE) * 100.0 END', 'pct_change')}
FROM adj
WHERE pw IS NOT NULL AND w = pw + INTERVAL 7 DAY
"""


# Active-days engagement histogram — matches profile.engagement_depth
ORACLES["q_engagement_depth"] = f"""
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS days
  FROM (SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, date_trunc('day', ts) AS d FROM events)
  GROUP BY user_id
),
hist AS (SELECT days, CAST(COUNT(*) AS BIGINT) AS n_users FROM per_user GROUP BY days),
cum AS (
  SELECT days, n_users,
         CAST(SUM(n_users) OVER () AS BIGINT) AS tot,
         CAST(SUM(n_users) OVER (ORDER BY days
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS ge
  FROM hist
)
SELECT days AS active_days, n_users,
       {r6('CAST(n_users AS DOUBLE) / CAST(tot AS DOUBLE)', 'user_share')},
       {r6('CAST(ge AS DOUBLE) / CAST(tot AS DOUBLE)', 'cum_share_at_least')}
FROM cum
"""


# Time-to-first-response distribution — matches
# profile.first_response_stats
ORACLES["q_first_response"] = f"""
WITH t AS ({T}),
per AS (
  SELECT conv_id, MIN(CASE WHEN role = 'user' THEN epoch_us(ts) END) AS fu
  FROM t GROUP BY conv_id
),
fa AS (
  SELECT t.conv_id, MIN(epoch_us(t.ts)) AS fa
  FROM t JOIN per ON per.conv_id = t.conv_id
  WHERE t.role = 'assistant' AND epoch_us(t.ts) >= per.fu
  GROUP BY t.conv_id
),
base AS (
  SELECT {r6x('CAST(fa.fa - per.fu AS DOUBLE) / 1e6')} AS s
  FROM per LEFT JOIN fa ON fa.conv_id = per.conv_id
  WHERE per.fu IS NOT NULL
),
hist AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS m FROM base WHERE s IS NOT NULL GROUP BY s
),
cum AS (
  SELECT s,
         CAST(SUM(m) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
         CAST(SUM(m) OVER () AS BIGINT) AS n
  FROM hist
),
qs AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_answered,
         MIN(CASE WHEN cm >= CAST(CEIL(0.5 * n) AS BIGINT) THEN s END) AS p50,
         MIN(CASE WHEN cm >= CAST(CEIL(0.9 * n) AS BIGINT) THEN s END) AS p90,
         MIN(CASE WHEN cm >= CAST(CEIL(0.99 * n) AS BIGINT) THEN s END) AS p99
  FROM cum
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_convs FROM base)
SELECT tot.n_convs,
       CAST(COALESCE(qs.n_answered, 0) AS BIGINT) AS n_answered,
       {r6('CASE WHEN tot.n_convs > 0 THEN CAST(tot.n_convs - COALESCE(qs.n_answered, 0) AS DOUBLE) / CAST(tot.n_convs AS DOUBLE) END', 'unanswered_share')},
       {r6('qs.p50', 'p50_sec')},
       {r6('qs.p90', 'p90_sec')},
       {r6('qs.p99', 'p99_sec')}
FROM tot, qs
"""


# Context-budget overflow shares — matches profile.context_overflow
ORACLES["q_context_overflow"] = f"""
WITH t AS ({T}),
per AS (
  SELECT conv_id, CAST(SUM(CAST(signal AS BIGINT)) AS BIGINT) AS tk
  FROM t GROUP BY conv_id
),
bs AS (SELECT CAST(b AS BIGINT) AS budget FROM (VALUES (512), (2048), (8192)) v(b)),
g AS (
  SELECT bs.budget,
         CAST(COUNT(*) AS BIGINT) AS nc,
         CAST(COALESCE(SUM(CASE WHEN per.tk > bs.budget THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_over,
         CAST(SUM(per.tk) AS BIGINT) AS tt,
         CAST(SUM(CASE WHEN per.tk > bs.budget THEN per.tk END) AS BIGINT) AS toe
  FROM per, bs GROUP BY bs.budget
)
SELECT budget, n_over,
       {r6('CASE WHEN nc > 0 THEN CAST(n_over AS DOUBLE) / CAST(nc AS DOUBLE) END', 'conv_share')},
       {r6('CASE WHEN tt > 0 THEN CAST(COALESCE(toe, 0) AS DOUBLE) / CAST(tt AS DOUBLE) END', 'token_share')}
FROM g
"""


# Relative-position signal profile — matches profile.position_profile
ORACLES["q_position_profile"] = f"""
WITH t AS ({T}),
pos AS (
  SELECT CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) - 1 AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS len,
         CAST(signal AS BIGINT) AS x
  FROM t WHERE signal IS NOT NULL
),
g AS (
  SELECT LEAST(CAST(FLOOR(10 * i / len) AS BIGINT), 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s
  FROM pos GROUP BY LEAST(CAST(FLOOR(10 * i / len) AS BIGINT), 9)
)
SELECT bin, n,
       {r6('CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END', 'mean_signal')}
FROM g
"""


# User-activity Gini + top-share cuts — matches profile.user_gini
ORACLES["q_user_gini"] = f"""
WITH per AS (
  SELECT CAST(user_id AS BIGINT) AS u, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(user_id AS BIGINT)
),
ranked AS (
  SELECT x,
         CAST(ROW_NUMBER() OVER (ORDER BY x ASC, u ASC) AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(SUM(x) OVER () AS BIGINT) AS sx
  FROM per
),
g AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_users,
         CAST(MAX(sx) AS BIGINT) AS n_events,
         CAST(SUM((2 * CAST(i AS HUGEINT) - n - 1) * x) AS HUGEINT) AS gn,
         CAST(SUM(CASE WHEN i > n - GREATEST(CAST(FLOOR(n / 100) AS BIGINT), 1) THEN x END) AS BIGINT) AS t1,
         CAST(SUM(CASE WHEN i > n - GREATEST(CAST(FLOOR(n / 10) AS BIGINT), 1) THEN x END) AS BIGINT) AS t10
  FROM ranked
)
SELECT n_users, n_events,
       {r6('CASE WHEN n_events > 0 THEN CAST(gn AS DOUBLE) / (CAST(n_users AS DOUBLE) * CAST(n_events AS DOUBLE)) END', 'gini')},
       {r6('CASE WHEN n_events > 0 THEN CAST(COALESCE(t1, 0) AS DOUBLE) / CAST(n_events AS DOUBLE) END', 'top1_share')},
       {r6('CASE WHEN n_events > 0 THEN CAST(COALESCE(t10, 0) AS DOUBLE) / CAST(n_events AS DOUBLE) END', 'top10_share')}
FROM g
"""


# Trailing-24h rolling skewness — matches profile.rolling_skewness
ORACLES["q_rolling_skew"] = f"""
WITH t AS ({T}),
hh AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY date_trunc('hour', ts)
),
ser AS (
  SELECT h,
         CAST(COUNT(*) OVER wv AS BIGINT) AS n,
         CAST(SUM(c) OVER wv AS BIGINT) AS s1,
         CAST(SUM(CAST(c AS HUGEINT) * c) OVER wv AS HUGEINT) AS s2,
         CAST(SUM(CAST(c AS HUGEINT) * c * c) OVER wv AS HUGEINT) AS s3
  FROM hh
  WINDOW wv AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
),
f AS (
  SELECT h, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m2,
         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
           - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
           + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS m3
  FROM ser
)
SELECT CAST(epoch_us(h) AS BIGINT) AS hour_us, n,
       {r6('mean', 'mean')},
       {r6('CASE WHEN n >= 3 AND m2 > 0 THEN m3 / SQRT(m2 * m2 * m2) END', 'skew')}
FROM f
"""


# View->purchase conversion funnel — matches profile.view_to_purchase
ORACLES["q_view_to_purchase"] = f"""
WITH views AS (
  SELECT CAST(user_id AS BIGINT) AS u, CAST(event_id AS BIGINT) AS vid,
         epoch_us(ts) AS vt
  FROM events WHERE event_type = 'view'
),
buys AS (
  SELECT CAST(user_id AS BIGINT) AS u, epoch_us(ts) AS bt
  FROM events WHERE event_type = 'purchase'
),
per_view AS (
  SELECT views.vid, views.vt,
         MIN(CASE WHEN buys.bt > views.vt AND buys.bt <= views.vt + 3600000000
                  THEN buys.bt END) AS fb
  FROM views LEFT JOIN buys ON buys.u = views.u
  GROUP BY views.vid, views.vt
),
scored AS (
  SELECT {r6x('CAST(fb - vt AS DOUBLE) / 1e6')} AS d FROM per_view
),
hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS m FROM scored WHERE d IS NOT NULL GROUP BY d),
cum AS (
  SELECT d,
         CAST(SUM(m) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
         CAST(SUM(m) OVER () AS BIGINT) AS n
  FROM hist
),
qs AS (
  SELECT CAST(MAX(n) AS BIGINT) AS nconv,
         MIN(CASE WHEN cm >= CAST(CEIL(0.5 * n) AS BIGINT) THEN d END) AS p50,
         MIN(CASE WHEN cm >= CAST(CEIL(0.9 * n) AS BIGINT) THEN d END) AS p90
  FROM cum
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_views FROM scored)
SELECT tot.n_views,
       CAST(COALESCE(qs.nconv, 0) AS BIGINT) AS n_converted,
       {r6('CASE WHEN tot.n_views > 0 THEN CAST(COALESCE(qs.nconv, 0) AS DOUBLE) / CAST(tot.n_views AS DOUBLE) END', 'conv_rate')},
       {r6('qs.p50', 'p50_sec')},
       {r6('qs.p90', 'p90_sec')}
FROM tot, qs
"""


# 7x24 activity heatmap — matches profile.activity_heatmap
# (Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek: 0=Sunday)
ORACLES["q_activity_heatmap"] = f"""
WITH t AS ({T}),
g AS (
  SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
         CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM t GROUP BY dayofweek(ts) + 1, EXTRACT(hour FROM ts)
),
tot AS (SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS tt FROM g)
SELECT dow, hour, n,
       {r6('CAST(n AS DOUBLE) / CAST(tt AS DOUBLE)', 'share')}
FROM tot
"""


# Shingle df band profile — matches dedup.shingle_profile
ORACLES["q_shingle_profile"] = f"""
WITH toks AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS tk FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(generate_series(1, len(tk) - 2),
                               i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingle
  FROM toks WHERE len(tk) >= 3
),
dfc AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY shingle),
g AS (
  SELECT CASE WHEN df <= 1 THEN 'df=1' WHEN df <= 2 THEN 'df=2'
              WHEN df <= 10 THEN 'df=3-10' ELSE 'df>10' END AS band,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(df) AS BIGINT) AS n_occurrences
  FROM dfc GROUP BY CASE WHEN df <= 1 THEN 'df=1' WHEN df <= 2 THEN 'df=2'
                         WHEN df <= 10 THEN 'df=3-10' ELSE 'df>10' END
),
tot AS (
  SELECT *, CAST(SUM(n_shingles) OVER () AS BIGINT) AS ts2,
         CAST(SUM(n_occurrences) OVER () AS BIGINT) AS to2
  FROM g
)
SELECT band, n_shingles, n_occurrences,
       {r6('CAST(n_shingles AS DOUBLE) / CAST(ts2 AS DOUBLE)', 'shingle_share')},
       {r6('CAST(n_occurrences AS DOUBLE) / CAST(to2 AS DOUBLE)', 'occurrence_share')}
FROM tot
"""


# Token JS drift across the cutoff — matches drift.token_js_drift
ORACLES["q_token_js_drift"] = f"""
WITH t AS ({T}),
tok AS (
  SELECT unnest({TOKS_RAW}) AS tk,
         ts < TIMESTAMP '2024-01-15 00:00:00' AS r
  FROM t
),
kept AS (SELECT tk, r FROM tok WHERE tk <> ''),
pooled AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS cc FROM kept GROUP BY tk),
keep AS (
  SELECT tk, CASE WHEN rk <= 256 THEN tk ELSE '<other>' END AS b
  FROM (SELECT tk, ROW_NUMBER() OVER (ORDER BY cc DESC, tk ASC) AS rk FROM pooled)
),
tb AS (
  SELECT keep.b,
         CAST(COALESCE(SUM(CASE WHEN kept.r THEN 1 ELSE 0 END), 0) AS BIGINT) AS p,
         CAST(COALESCE(SUM(CASE WHEN NOT kept.r THEN 1 ELSE 0 END), 0) AS BIGINT) AS q
  FROM kept JOIN keep ON keep.tk = kept.tk
  GROUP BY keep.b
),
withn AS (
  SELECT b, p, q,
         CAST(SUM(p) OVER () AS BIGINT) AS np,
         CAST(SUM(q) OVER () AS BIGINT) AS nq
  FROM tb
),
folds AS (
  SELECT CAST(MAX(np) AS BIGINT) AS n_ref, CAST(MAX(nq) AS BIGINT) AS n_cur,
         list_reduce([0.0] || list(
           CASE WHEN p > 0 THEN (CAST(p AS DOUBLE) / CAST(np AS DOUBLE))
                * LN((CAST(p AS DOUBLE) / CAST(np AS DOUBLE))
                     / ((CAST(p AS DOUBLE) / CAST(np AS DOUBLE) + CAST(q AS DOUBLE) / CAST(nq AS DOUBLE)) / 2.0))
                ELSE 0.0 END ORDER BY b), (a, e) -> a + e) AS kl1,
         list_reduce([0.0] || list(
           CASE WHEN q > 0 THEN (CAST(q AS DOUBLE) / CAST(nq AS DOUBLE))
                * LN((CAST(q AS DOUBLE) / CAST(nq AS DOUBLE))
                     / ((CAST(p AS DOUBLE) / CAST(np AS DOUBLE) + CAST(q AS DOUBLE) / CAST(nq AS DOUBLE)) / 2.0))
                ELSE 0.0 END ORDER BY b), (a, e) -> a + e) AS kl2
  FROM withn
)
SELECT n_ref, n_cur,
       {r6('CASE WHEN n_ref > 0 AND n_cur > 0 THEN (kl1 + kl2) / 2.0 END', 'js')},
       {r6(f'CASE WHEN n_ref > 0 AND n_cur > 0 THEN ((kl1 + kl2) / 2.0) / {math.log(2.0)!r} END', 'js_norm')}
FROM folds
"""


# Consecutive duplicate-turn stutter rate — matches
# profile.stutter_rate
ORACLES["q_stutter"] = f"""
WITH t AS ({T}),
pairs AS (
  SELECT role AS r,
         LAG(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS pr,
         text AS x,
         LAG(text) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS px
  FROM t
),
g AS (
  SELECT r AS role,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COALESCE(SUM(CASE WHEN r = pr AND x = px THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_stutters
  FROM pairs WHERE pr IS NOT NULL GROUP BY r
),
tot AS (SELECT *, CAST(SUM(n_stutters) OVER () AS BIGINT) AS tt FROM g)
SELECT role, n_pairs, n_stutters,
       {r6('CASE WHEN n_pairs > 0 THEN CAST(n_stutters AS DOUBLE) / CAST(n_pairs AS DOUBLE) END', 'stutter_rate')},
       {r6('CASE WHEN tt > 0 THEN CAST(n_stutters AS DOUBLE) / CAST(tt AS DOUBLE) END', 'share_of_stutters')}
FROM tot
"""


# Tool-then-error adjacency — matches profile.tool_error_rate
ORACLES["q_tool_error_rate"] = f"""
WITH t AS ({T}),
seq AS (
  SELECT tool,
         LEAD(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS nr
  FROM t
),
g AS (
  SELECT tool,
         CAST(COUNT(*) AS BIGINT) AS n_calls,
         CAST(COALESCE(SUM(CASE WHEN nr = 'system' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_errors
  FROM seq WHERE tool IS NOT NULL GROUP BY tool
)
SELECT tool, n_calls, n_errors,
       {r6('CASE WHEN n_calls > 0 THEN CAST(n_errors AS DOUBLE) / CAST(n_calls AS DOUBLE) END', 'error_rate')}
FROM g
"""


# Vocabulary profile by n-gram order — matches text.ngram_orders
_NGRAM_ORDER = """
  SELECT CAST({n} AS INT) AS n,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS n_types,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM (
    SELECT UNNEST(list_transform(generate_series(1, len(tk) - {nm1}),
                  i -> array_to_string(list_slice(tk, i, i + {nm1}), ' '))) AS g
    FROM toks WHERE len(tk) >= {n}
  )
"""

ORACLES["q_ngram_orders"] = f"""
WITH toks AS (SELECT string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS tk FROM documents),
per AS (
  {" UNION ALL ".join(_NGRAM_ORDER.format(n=n, nm1=n - 1) for n in (1, 2, 3))}
)
SELECT n, n_types, n_tokens,
       {r6('CASE WHEN n_tokens > 0 THEN CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) END', 'type_token_ratio')}
FROM per
"""


# Weekend-vs-weekday Welch t per role — matches drift.weekend_effect
# (Spark dayofweek: 1=Sun..7=Sat -> weekend {1,7}; DuckDB dayofweek:
# 0=Sun..6=Sat -> weekend {0,6})
ORACLES["q_weekend_effect"] = f"""
WITH t AS ({T}),
g AS (
  SELECT role,
         CAST(COALESCE(SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_wd,
         CAST(COALESCE(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_we,
         CAST(SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN CAST(signal AS BIGINT) END) AS BIGINT) AS sd,
         CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN CAST(signal AS BIGINT) END) AS BIGINT) AS sw,
         CAST(SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN CAST(signal AS BIGINT) * CAST(signal AS BIGINT) END) AS BIGINT) AS sd2,
         CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN CAST(signal AS BIGINT) * CAST(signal AS BIGINT) END) AS BIGINT) AS sw2
  FROM t WHERE signal IS NOT NULL GROUP BY role
),
f AS (
  SELECT role, n_wd, n_we,
         CAST(sd AS DOUBLE) / CAST(n_wd AS DOUBLE) AS md,
         CAST(sw AS DOUBLE) / CAST(n_we AS DOUBLE) AS mw,
         (CAST(sd2 AS DOUBLE) - CAST(n_wd AS DOUBLE) * (CAST(sd AS DOUBLE) / CAST(n_wd AS DOUBLE)) * (CAST(sd AS DOUBLE) / CAST(n_wd AS DOUBLE))) / (CAST(n_wd AS DOUBLE) - 1.0) AS vd,
         (CAST(sw2 AS DOUBLE) - CAST(n_we AS DOUBLE) * (CAST(sw AS DOUBLE) / CAST(n_we AS DOUBLE)) * (CAST(sw AS DOUBLE) / CAST(n_we AS DOUBLE))) / (CAST(n_we AS DOUBLE) - 1.0) AS vw
  FROM g
)
SELECT role, n_wd, n_we,
       {r6('CASE WHEN n_wd > 0 THEN md END', 'mean_wd')},
       {r6('CASE WHEN n_we > 0 THEN mw END', 'mean_we')},
       {r6('CASE WHEN n_wd >= 2 AND n_we >= 2 AND SQRT(vw / CAST(n_we AS DOUBLE) + vd / CAST(n_wd AS DOUBLE)) > 0 THEN (mw - md) / SQRT(vw / CAST(n_we AS DOUBLE) + vd / CAST(n_wd AS DOUBLE)) END', 't')}
FROM f
"""


# Top-10 role trigram patterns — matches profile.role_trigrams
ORACLES["q_role_trigrams"] = f"""
WITH t AS ({T}),
tri AS (
  SELECT a || '>' || b || '>' || c AS pattern FROM (
    SELECT role AS a,
           LEAD(role, 1) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS b,
           LEAD(role, 2) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS c
    FROM t
  ) WHERE c IS NOT NULL
),
g AS (SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY pattern),
ranked AS (
  SELECT pattern, n,
         CAST(SUM(n) OVER () AS BIGINT) AS tot,
         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pattern ASC) AS BIGINT) AS rank
  FROM g
)
SELECT pattern, n,
       {r6('CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)', 'share')},
       rank
FROM ranked WHERE rank <= 10
"""
