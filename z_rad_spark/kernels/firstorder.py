"""First-order feature kernels (1-D temporal).

Faithful re-expressions of Z-Rad's first-order families over the
per-conversation signal vector:

* stats  — 18 features, zrad/radiomics/intensity.py:218-252
* hist   — 23 features, zrad/radiomics/intensity.py:284-324
* ivh    — 6 features,  zrad/radiomics/intensity.py:374-428
* local  — 2 features,  zrad/radiomics/intensity.py:48-77 (sphere -> rolling
  window of +-radius turns)

Conventions that are contractual for allclose parity with the reference:
biased (population) moments, linear-interpolation percentiles, and the
1e6 sentinel for zero denominators in CoV / QCoD.

Every family runs on the segment axis (see kernels/prep.py): one
``sort_segments`` — a single ``np.lexsort((value, segment))`` — feeds
every percentile, trim bound and level run of all segments at once (the
discretized levels reuse its order, ``sort_like``), and
each per-segment sum is an ``np.bincount`` fold. The batched functions
take segments with at least one finite value; the single-array
``*_features`` functions are one-segment calls into them.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

SENTINEL = 1_000_000.0

STATS_NAMES = (
    "stat_mean",
    "stat_var",
    "stat_skew",
    "stat_kurt",
    "stat_median",
    "stat_min",
    "stat_p10",
    "stat_p90",
    "stat_max",
    "stat_iqr",
    "stat_range",
    "stat_mad",
    "stat_rmad",
    "stat_medad",
    "stat_cov",
    "stat_qcod",
    "stat_energy",
    "stat_rms",
)

HIST_NAMES = (
    "ih_mean",
    "ih_var",
    "ih_skew",
    "ih_kurt",
    "ih_median",
    "ih_min",
    "ih_p10",
    "ih_p90",
    "ih_max",
    "ih_mode",
    "ih_iqr",
    "ih_range",
    "ih_mad",
    "ih_rmad",
    "ih_medad",
    "ih_cov",
    "ih_qcod",
    "ih_entropy",
    "ih_uniformity",
    "ih_max_grad",
    "ih_max_grad_g",
    "ih_min_grad",
    "ih_min_grad_g",
)

IVH_NAMES = (
    "ivh_v10",
    "ivh_v90",
    "ivh_i10",
    "ivh_i90",
    "ivh_diff_v10_v90",
    "ivh_diff_i10_i90",
)

LOCAL_NAMES = ("loc_peak_loc", "loc_peak_glob")



class Sorted(NamedTuple):
    """The finite values of ``n`` segments, sorted by (segment, value)."""

    xs: np.ndarray
    seg: np.ndarray
    start: np.ndarray  # per segment: offset of its first value
    cnt: np.ndarray  # per segment: number of values
    idx: np.ndarray  # position of each sorted value in the input


def sort_segments(x: np.ndarray, seg: np.ndarray, n: int) -> Sorted:
    fin = np.flatnonzero(~np.isnan(x))
    idx = fin[np.lexsort((x[fin], seg[fin]))]
    cnt = np.bincount(seg[fin], minlength=n)
    return Sorted(x[idx], seg[idx], np.cumsum(cnt) - cnt, cnt, idx)


def sort_like(S: Sorted, y: np.ndarray, seg: np.ndarray) -> Sorted:
    """``y`` — a nondecreasing map of the values ``S`` sorted, finite at
    the same positions (a discretization) — sorted by reusing S's order;
    a new sort only if the map broke the order somewhere."""
    ys = y[S.idx]
    same = S.seg[1:] == S.seg[:-1]
    if (ys[1:][same] < ys[:-1][same]).any():
        return sort_segments(y, seg, S.cnt.size)
    return S._replace(xs=ys)


def _one(x: np.ndarray) -> Sorted:
    return sort_segments(x, np.zeros(x.size, dtype=np.int64), 1)


def _segsum(seg: np.ndarray, w: np.ndarray, n: int) -> np.ndarray:
    """Per-segment strict left-to-right sum."""
    return np.bincount(seg, weights=w, minlength=n)


def seg_argmax(v: np.ndarray, seg: np.ndarray, start: np.ndarray) -> np.ndarray:
    """Index of the first maximum of ``v`` within each contiguous,
    non-empty group (np.argmax's tie rule)."""
    mx = np.maximum.reduceat(v, start)
    hit = np.flatnonzero(v == mx[seg])
    first = np.ones(hit.size, dtype=bool)
    first[1:] = seg[hit][1:] != seg[hit][:-1]
    return hit[first]


def _pct(S: Sorted, q: float) -> np.ndarray:
    """np.percentile('linear') of every segment — including NumPy's exact
    lerp convention (b-(b-a)*(1-t) when t >= 0.5), so values are
    bit-identical to np.percentile. One shared sort replaces the re-sort
    inside every percentile call."""
    h = (S.cnt - 1) * (q / 100.0)
    lo = h.astype(np.int64)
    t = h - lo
    a = S.xs[S.start + lo]
    b = S.xs[S.start + np.minimum(lo + 1, S.cnt - 1)]
    return np.where(t == 0.0, a, np.where(t >= 0.5, b - (b - a) * (1 - t), a + (b - a) * t))


def _pct_sorted(xs: np.ndarray, q: float) -> float:
    """_pct of one already-sorted array."""
    return float(_pct(_one(xs), q)[0])


def _trim_bounds(S: Sorted) -> tuple[np.ndarray, np.ndarray]:
    """[p10, p90] trim membership in RANK space: the data-value bounds
    equivalent to comparing against the exact-real lerp percentile. Using
    order-statistic bounds (never the float lerp value) makes trim
    membership identical across NumPy / Spark / DuckDB — the computed
    lerp can round onto a data value and flip membership by one row,
    which moves the trimmed mean far beyond the 6dp rounding the driver
    hashes (reference semantics: intensity.py:132-137)."""
    h10 = (S.cnt - 1) * 0.1
    j10 = h10.astype(np.int64)
    a10 = S.xs[S.start + j10]
    nxt = S.xs[S.start + np.minimum(j10 + 1, S.cnt - 1)]
    lo_b = np.where(((h10 - j10) == 0.0) | (nxt <= a10), a10, nxt)
    hi_b = S.xs[S.start + ((S.cnt - 1) * 0.9).astype(np.int64)]
    return lo_b, hi_b


def _det_stats(S: Sorted) -> dict:
    """Order-independent "value algebra" for the 18 first-order
    statistics, shared bit-for-bit with the SQL oracles and the
    declarative plans: every statistic is ONE fixed expression tree over
    exact aggregates (sums of integer-valued signals are exact in
    float64; order statistics are data values), so NumPy, Spark and
    DuckDB produce identical doubles regardless of row order,
    partitioning or thread count. This is what the driver's 6dp-rounded
    value hash requires: dyadic results like 279/128 = 2.1796875 sit
    exactly on a rounding boundary, where a 1-ulp Welford-vs-two-pass
    difference flips the 6th decimal.

    Every segment of ``S`` must hold at least one value.
    Reference formulas: zrad/radiomics/intensity.py:218-252.
    """
    xs, seg, n = S.xs, S.seg, S.cnt
    k = n.size
    x2 = xs * xs
    s1 = _segsum(seg, xs, k)
    s2 = _segsum(seg, x2, k)
    s3 = _segsum(seg, x2 * xs, k)
    s4 = _segsum(seg, x2 * x2, k)
    mean = s1 / n
    var = np.maximum(s2 / n - mean * mean, 0.0)
    p10, p25, med, p75, p90 = (_pct(S, q) for q in (10, 25, 50, 75, 90))
    lo_b, hi_b = _trim_bounds(S)
    tr = (xs >= lo_b[seg]) & (xs <= hi_b[seg])
    tseg, txs = seg[tr], xs[tr]
    m = np.bincount(tseg, minlength=k)
    st = _segsum(tseg, txs, k)
    # scaled-integer deviations: |n*x - S| = n*|x - S/n| with EXACT terms
    # for integer x (n*x and S are exact ints), so the sums are exact too
    sad1 = _segsum(seg, np.abs(n[seg] * xs - s1[seg]), k)
    sadmed = _segsum(seg, np.abs(xs - med[seg]), k)
    sadt = _segsum(tseg, np.abs(m[tseg] * txs - st[tseg]), k)
    lo, hi = xs[S.start], xs[S.start + n - 1]
    with np.errstate(invalid="ignore", divide="ignore"):
        skew = np.where(
            var == 0, 0.0,
            (s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean) / (var * np.sqrt(var)),
        )
        kurt = np.where(
            var == 0, 0.0,
            (
                s4 / n - 4.0 * mean * (s3 / n) + 6.0 * (mean * mean) * (s2 / n)
                - 3.0 * ((mean * mean) * (mean * mean))
            ) / (var * var) - 3.0,
        )
        return {
            "mean": mean,
            "var": var,
            "skew": skew,
            "kurt": kurt,
            "median": med,
            "min": lo,
            "p10": p10,
            "p90": p90,
            "max": hi,
            "iqr": p75 - p25,
            "range": hi - lo,
            "mad": sad1 / (n * n),
            "rmad": sadt / (m * m),
            "medad": sadmed / n,
            "cov": np.where(mean == 0, SENTINEL, np.sqrt(var) / mean),
            "qcod": np.where(p75 + p25 == 0, SENTINEL, (p75 - p25) / (p75 + p25)),
            "energy": s2,
            "rms": np.sqrt(s2 / n),
        }


_STAT_KEYS = ("mean", "var", "skew", "kurt", "median", "min", "p10", "p90", "max", "iqr",
              "range", "mad", "rmad", "medad", "cov", "qcod", "energy", "rms")


def stats_batch(S: Sorted) -> dict:
    """18 first-order statistics per segment of the sorted valid signal.

    Reference: IntensityStatisticsFeatures.calculate_features
    (zrad/radiomics/intensity.py:218-252).
    """
    d = _det_stats(S)
    return {name: d[key] for name, key in zip(STATS_NAMES, _STAT_KEYS)}


def level_runs(S: Sorted):
    """Equal-value runs of the sorted segments (== np.unique with counts
    per segment): (first index, segment, value, count) per run."""
    L = S.xs.size
    new = np.ones(L, dtype=bool)
    new[1:] = (S.xs[1:] != S.xs[:-1]) | (S.seg[1:] != S.seg[:-1])
    rs = np.flatnonzero(new)
    return rs, S.seg[rs], S.xs[rs], np.diff(np.append(rs, L))


def hist_batch(S: Sorted) -> dict:
    """23 histogram features per segment of the sorted discretized grey
    levels.

    Reference: IntensityHistogramFeatures.calculate_features
    (zrad/radiomics/intensity.py:284-324); gradient over per-level counts via
    np.gradient (intensity.py:179-185) requires >= 2 distinct levels.
    """
    k = S.cnt.size
    _, rseg, values, counts = level_runs(S)
    nr = np.bincount(rseg, minlength=k)
    rstart = np.cumsum(nr) - nr
    p = counts / S.cnt[rseg]
    d = _det_stats(S)
    out = {f"ih_{key}": d[key] for key in _STAT_KEYS[:9]}
    out["ih_mode"] = values[seg_argmax(counts, rseg, rstart)]
    out.update({f"ih_{key}": d[key] for key in _STAT_KEYS[9:16]})
    out["ih_entropy"] = -_segsum(rseg, p * np.log2(p), k)
    # exact form sum(c^2)/n^2 — counts are ints, so both the sum and
    # the one division are bit-identical to the SQL SUM(c*c)/(n*n)
    out["ih_uniformity"] = _segsum(rseg, counts * counts, k) / (S.cnt * S.cnt)
    # np.gradient per segment: one-sided at the ends, central inside
    c = counts.astype(float)
    q = np.arange(c.size) - rstart[rseg]
    last = nr[rseg] - 1
    nxt = c[np.minimum(np.arange(c.size) + 1, c.size - 1)]
    prv = c[np.maximum(np.arange(c.size) - 1, 0)]
    grad = np.where(q == 0, nxt - c, np.where(q == last, c - prv, (nxt - prv) / 2.0))
    imax = seg_argmax(grad, rseg, rstart)
    imin = seg_argmax(-grad, rseg, rstart)
    two = nr > 1
    out["ih_max_grad"] = np.where(two, grad[imax], np.nan)
    out["ih_max_grad_g"] = np.where(two, values[imax], np.nan)
    out["ih_min_grad"] = np.where(two, grad[imin], np.nan)
    out["ih_min_grad_g"] = np.where(two, values[imin], np.nan)
    return {name: out[name] for name in HIST_NAMES}


def _count_below(S: Sorted, t: np.ndarray, tseg: np.ndarray) -> np.ndarray:
    """Per threshold, the number of its segment's values < t
    (np.searchsorted side='left' inside each segment), by one merged
    lexsort: thresholds sort before equal values."""
    L = S.xs.size
    order = np.lexsort((
        np.concatenate((np.ones(L, np.int8), np.zeros(t.size, np.int8))),
        np.concatenate((S.xs, t)),
        np.concatenate((S.seg, tseg)),
    ))
    isx = order < L
    seen = np.cumsum(isx)[~isx]
    below = np.empty(t.size, dtype=np.int64)
    below[order[~isx] - L] = seen
    return below - S.start[tseg]


def ivh_batch(S: Sorted, lo: np.ndarray, hi: np.ndarray, step: float) -> dict:
    """6 intensity-volume-histogram features per segment.

    Reference: IntensityVolumeHistogramFeatures (intensity.py:374-428):
    thresholds arange(lo, hi+step, step); fractional volume
    1 - (#values < t)/n; V_x = max fractional volume where intensity
    fraction > x%; I_x = min threshold with fractional volume <= x%.
    The thresholds of every segment are built like np.arange builds
    them (start, start + step, then start + i*delta) and swept by one
    merged sort.
    """
    k = S.cnt.size
    ok = (S.cnt > 0) & (hi != lo)
    with np.errstate(invalid="ignore"):
        length = np.where(ok, np.ceil(((hi + step) - lo) / step), 0).astype(np.int64)
    tseg = np.repeat(np.arange(k), length)
    i = np.arange(tseg.size) - np.repeat(np.cumsum(length) - length, length)
    base = lo[tseg]
    t = np.where(i == 0, base, np.where(i == 1, base + step, base + i * ((base + step) - base)))
    frac_vol = 1.0 - _count_below(S, t, tseg) / S.cnt[tseg]
    int_frac = (t - base) / (hi - lo)[tseg]

    def seg_pick(ufunc, v, mask):
        out = np.full(k, np.nan)
        ufunc.at(out, tseg[mask], v[mask])
        return out

    v10, v90 = (seg_pick(np.fmax, frac_vol, int_frac > x / 100) for x in (10, 90))
    i10, i90 = (seg_pick(np.fmin, t, frac_vol <= x / 100) for x in (10, 90))
    return dict(zip(IVH_NAMES, (v10, v90, i10, i90, v10 - v90, i10 - i90)))


def local_batch(full, masked, seg, start, size, mx, radius: int) -> dict:
    """Local & global intensity peaks per segment.

    Reference: LocalIntensityFeatures (intensity.py:48-77). local peak = max
    over max-signal eligible turns of the mean signal within +-radius turns
    (the reference averages the *full* image inside the sphere, including
    turns outside the ROI); global peak = max rolling mean over eligible
    turns. The window is zero-padded at the segment's ends — the 1-D
    analogue of the spherical-kernel convolve with mode='constant'
    (intensity.py:74-75) — with the fixed size 2r+1 like the reference's
    fixed sphere volume n_s. ``mx`` is each segment's max valid value.
    """
    f = np.nan_to_num(full, nan=0.0)
    L = f.size
    pos = np.arange(L) - start[seg]
    room = size[seg] - 1 - pos
    acc = f.copy()
    for d in range(1, radius + 1):
        left = np.zeros(L)
        left[d:] = f[:-d]
        right = np.zeros(L)
        right[:-d] = f[d:]
        acc = acc + np.where(pos >= d, left, 0.0) + np.where(room >= d, right, 0.0)
    roll = acc / (2 * radius + 1)
    valid = ~np.isnan(masked)
    at_max = valid & (masked == mx[seg])
    out = {}
    for name, m in zip(LOCAL_NAMES, (at_max, valid)):
        peak = np.full(start.size, np.nan)
        np.fmax.at(peak, seg[m], roll[m])
        out[name] = peak
    return out


def _single(names, x, fn):
    if np.isnan(x).all():
        return dict.fromkeys(names, np.nan)
    return {k: float(v[0]) for k, v in fn(_one(x)).items()}


def stats_features(masked: np.ndarray) -> dict:
    """stats_batch of one segment."""
    return _single(STATS_NAMES, masked, stats_batch)


def hist_features(grey: np.ndarray) -> dict:
    """hist_batch of one segment."""
    return _single(HIST_NAMES, grey, hist_batch)


def ivh_features(ivh_arr: np.ndarray, lo: float, hi: float, step: float) -> dict:
    """ivh_batch of one segment."""
    return _single(IVH_NAMES, ivh_arr, lambda S: ivh_batch(S, np.array([lo]), np.array([hi]), step))
