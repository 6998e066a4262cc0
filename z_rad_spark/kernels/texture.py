"""Texture-matrix kernels — 1-D temporal analogues of Z-Rad's families.

The discretized grey-level vector of one conversation (stable (ts,
turn_idx) order, NaN holes for ineligible turns) plays the role of the
voxel volume; gap-delimited sessions play the role of slices; temporal
lags play the role of spatial directions:

* GLCM   — lag-k bigram co-occurrence (zrad/radiomics/glcm.py:36-509)
* GLRLM  — runs of equal grey level     (zrad/radiomics/glrlm.py:28-318)
* GLSZM  — zones == runs in 1-D         (zrad/radiomics/glszm.py:28-153)
* GLDZM  — zones + distance-to-border   (zrad/radiomics/gldzm.py:28-159)
* NGTDM  — neighbour grey-tone diff     (zrad/radiomics/ngtdm.py:17-257)
* NGLDM  — neighbour dependence counts  (zrad/radiomics/ngldm.py:30-223)

Everything runs over a whole bucket at once, on the segment axis of
kernels/prep.py (one segment per (conversation, cutoff) prefix):

* Units. ``texture_batch`` cuts the segments once into matrix units: the
  whole segment for 3D (lags and zones cross session borders, like 3-D
  directions cross slices), one session slice of a segment for 2D/2.5D.
  Lag pairs, runs, zones and neighbourhoods never cross a unit border.
* The matrix-id axis. Each family's builder emits entries keyed by
  unit (and, for GLCM, lag). The aggregation policy (glcm.py:437-509)
  is id arithmetic on that key: merging keys entries on the segment
  (3D/2.5D) or the unit (2D) BEFORE the reducer; a method that
  averages per lag adds the lag to the key. One stable sort turns the
  entries into ``Cells`` — the nonzero cells of every matrix, in
  row-major (matrix id, i, j) order. A matrix without cells is empty:
  it is NaN alone and skipped when averaging (GLCM with no pair, NGTDM
  with no neighboured turn).
* Batched reducers. Each family has ONE reducer over ``Cells``; per-id
  sums are ``np.bincount`` folds, a strict left-to-right add in cell
  order, so exact-integer numerators and the reciprocal-square folds
  (cm_inv_var, dzm_sde/sdhge) are bit-stable. "Average" reduces per
  matrix, then takes a (weighted) mean or median over each segment's
  ids — the order is contractual. The distributed plans
  (operators/texture_sql.py) call the same reducers once per bucket.

``FAMILIES`` is the family table: output names, entry builder, reducer
and whether the family is directional (one matrix per lag; only GLCM).
``texture_features`` and the ``*_matrix`` / ``*_feature_values``
functions are one-segment / one-matrix calls into the batched code.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, NamedTuple

import numpy as np

from .prep import border_distance

GLCM_NAMES = (
    "cm_joint_max",
    "cm_joint_avg",
    "cm_joint_var",
    "cm_joint_entr",
    "cm_diff_avg",
    "cm_diff_var",
    "cm_diff_entr",
    "cm_sum_avg",
    "cm_sum_var",
    "cm_sum_entr",
    "cm_energy",
    "cm_contrast",
    "cm_dissimilarity",
    "cm_inv_diff",
    "cm_inv_diff_norm",
    "cm_inv_diff_mom",
    "cm_inv_diff_mom_norm",
    "cm_inv_var",
    "cm_corr",
    "cm_auto_corr",
    "cm_clust_tend",
    "cm_clust_shade",
    "cm_clust_prom",
    "cm_info_corr1",
    "cm_info_corr2",
)

# shared 16-attribute reducer order (zrad/radiomics/texture_base.py:6-26)
TEXTURE_ATTRS = (
    "short_runs_emphasis",
    "long_runs_emphasis",
    "low_grey_level_run_emphasis",
    "high_gr_lvl_emphasis",
    "short_low_gr_lvl_emphasis",
    "short_high_gr_lvl_emphasis",
    "long_low_gr_lvl_emphasis",
    "long_high_gr_lvl_emphasis",
    "non_uniformity",
    "norm_non_uniformity",
    "length_non_uniformity",
    "norm_length_non_uniformity",
    "percentage",
    "gr_lvl_var",
    "length_var",
    "entropy",
)
NGLDM_ATTRS = TEXTURE_ATTRS + ("energy",)

GLRLM_NAMES = (
    "rlm_sre",
    "rlm_lre",
    "rlm_lgre",
    "rlm_hgre",
    "rlm_srlge",
    "rlm_srhge",
    "rlm_lrlge",
    "rlm_lrhge",
    "rlm_glnu",
    "rlm_glnu_norm",
    "rlm_rlnu",
    "rlm_rlnu_norm",
    "rlm_r_perc",
    "rlm_gl_var",
    "rlm_rl_var",
    "rlm_rl_entr",
)
GLSZM_NAMES = (
    "szm_sze",
    "szm_lze",
    "szm_lgze",
    "szm_hgze",
    "szm_szlge",
    "szm_szhge",
    "szm_lzlge",
    "szm_lzhge",
    "szm_glnu",
    "szm_glnu_norm",
    "szm_zsnu",
    "szm_zsnu_norm",
    "szm_z_perc",
    "szm_gl_var",
    "szm_zs_var",
    "szm_zs_entr",
)
GLDZM_NAMES = (
    "dzm_sde",
    "dzm_lde",
    "dzm_lgze",
    "dzm_hgze",
    "dzm_sdlge",
    "dzm_sdhge",
    "dzm_ldlge",
    "dzm_ldhge",
    "dzm_glnu",
    "dzm_glnu_norm",
    "dzm_zdnu",
    "dzm_zdnu_norm",
    "dzm_z_perc",
    "dzm_gl_var",
    "dzm_zd_var",
    "dzm_zd_entr",
)
NGTDM_NAMES = ("ngt_coarseness", "ngt_contrast", "ngt_busyness", "ngt_complexity", "ngt_strength")
NGLDM_NAMES = (
    "ngl_lde",
    "ngl_hde",
    "ngl_lgce",
    "ngl_hgce",
    "ngl_ldlge",
    "ngl_ldhge",
    "ngl_hdlge",
    "ngl_hdhge",
    "ngl_glnu",
    "ngl_glnu_norm",
    "ngl_dcnu",
    "ngl_dcnu_norm",
    "ngl_dc_perc",
    "ngl_gl_var",
    "ngl_dc_var",
    "ngl_dc_entr",
    "ngl_dc_energy",
)

SENTINEL = 1_000_000.0


class Units(NamedTuple):
    """Grey levels of a bucket cut into matrix units."""

    g: np.ndarray  # grey level per turn, NaN holes
    eligible: np.ndarray  # role eligibility per turn (the GLDZM borders)
    unit: np.ndarray  # nondecreasing unit id per turn


class Entries(NamedTuple):
    """A builder's matrix entries, before keying: one count (or, with
    ``w``, one weighted count) at (i, j) of the unit's matrix."""

    unit: np.ndarray
    lag: np.ndarray | None  # index into the lag tuple (GLCM only)
    i: np.ndarray
    j: np.ndarray
    w: np.ndarray | None = None


class Cells(NamedTuple):
    """Sparse count matrices: one row per nonzero cell, sorted row-major
    by (matrix id, i, j); every id 0..n-1 has at least one cell."""

    mid: np.ndarray
    i: np.ndarray
    j: np.ndarray
    c: np.ndarray  # entry count
    w: np.ndarray | None  # summed entry weights (NGTDM s_i)
    n: int
    lvl: np.ndarray  # per id: grey-level count (GLCM's N_g + 1)
    vox: np.ndarray  # per id: voxel count


def _sum(ids: np.ndarray, w: np.ndarray, n: int) -> np.ndarray:
    """Per-id strict left-to-right sum."""
    return np.bincount(ids, weights=w, minlength=n)


def _group(mid: np.ndarray, k: np.ndarray, w: np.ndarray):
    """Sum ``w`` over equal (mid, k): (mid, k, sum) per group, in (mid, k)
    order — a sparse per-matrix vector such as a marginal."""
    order = np.lexsort((k, mid))
    m, kk = mid[order], k[order]
    new = np.ones(m.size, dtype=bool)
    new[1:] = (m[1:] != m[:-1]) | (kk[1:] != kk[:-1])
    return m[new], kk[new], np.bincount(np.cumsum(new) - 1, weights=w[order])


def _outer_pairs(gid: np.ndarray, n: int):
    """Index pairs (a, b) of every two elements of the same contiguous
    group, row-major per group — the sparse np.outer."""
    size = np.bincount(gid, minlength=n)
    rep = size[gid]
    a = np.repeat(np.arange(gid.size), rep)
    first = np.repeat(np.cumsum(rep) - rep, rep)
    b = (np.cumsum(size) - size)[gid[a]] + np.arange(a.size) - first
    return a, b


def _to_cells(key: np.ndarray, e: Entries):
    """Cells of the entries under a matrix key (one per entry), and the
    key of each matrix id. The sort is stable, so weights add up in
    entry order."""
    order = np.lexsort((e.j, e.i, key))
    k, i, j = key[order], e.i[order], e.j[order]
    new = np.ones(k.size, dtype=bool)
    new[1:] = (k[1:] != k[:-1]) | (i[1:] != i[:-1]) | (j[1:] != j[:-1])
    cell = np.cumsum(new) - 1
    c = np.bincount(cell).astype(np.float64)
    w = None if e.w is None else np.bincount(cell, weights=e.w[order])
    k, i, j = k[new], i[new], j[new]
    first = np.ones(k.size, dtype=bool)
    first[1:] = k[1:] != k[:-1]
    return np.cumsum(first) - 1, i, j, c, w, k[first]


# --------------------------------------------------------------------------
# GLCM
# --------------------------------------------------------------------------


def _glcm_entries(u: Units, lags) -> Entries:
    """Symmetrized co-occurrence entries: pairs (g[p], g[p+lag]) inside one
    unit where both are finite, added in both directions (reference:
    glcm.py:163, 205-206), tagged with the lag's index."""
    g, unit = u.g, u.unit
    fin = ~np.isnan(g)
    un, lag, a, b = [], [], [], []
    for li, k in enumerate(lags):
        if g.size <= k:
            continue
        ok = fin[:-k] & fin[k:] & (unit[:-k] == unit[k:])
        un.append(unit[:-k][ok])
        lag.append(np.full(int(ok.sum()), li))
        a.append(g[:-k][ok])
        b.append(g[k:][ok])
    if not un:
        z = np.zeros(0, dtype=np.int64)
        return Entries(z, z, z, z)
    un, lag = np.concatenate(un), np.concatenate(lag)
    a, b = np.concatenate(a).astype(np.int64), np.concatenate(b).astype(np.int64)
    return Entries(
        np.concatenate((un, un)), np.concatenate((lag, lag)),
        np.concatenate((a, b)), np.concatenate((b, a)),
    )


def glcm_reduce(C: Cells) -> list:
    """All 25 GLCM scalar reductions of every matrix id (vectorized
    equivalents of zrad/radiomics/glcm.py:211-420 — including the
    O(lvl^2) info-corr loops, glcm.py:252-281). Sums run over nonzero
    cells only; zero cells contribute 0 to every weighted sum.

    Determinism contract (same as kernels/firstorder._det_stats): every
    reduction whose numerator is an INTEGER-weighted sum (max, averages,
    energy, contrast, dissimilarity, auto-correlation, the marginal mean)
    is computed as exact-integer-sum / total — one division at the end —
    so the bit-identical double comes out of any summation order,
    including SQL's. Summing pre-divided p-terms instead puts dyadic true
    values (e.g. sum p^2 = 0.0340625) exactly on the value hash's 6dp
    rounding boundary, where a 1-ulp order difference flips the hash.
    """
    n, mid, ii, jj, cs = C.n, C.mid, C.i, C.j, C.c
    s = _sum(mid, cs, n)
    ps = cs / s[mid]
    di = np.abs(ii - jj)
    dm, km, cm_minus = _group(mid, di, cs)
    pm_, kp, cm_plus = _group(mid, ii + jj, cs)
    im, idx, c_i = _group(mid, jj, cs)
    p_minus = cm_minus / s[dm]
    p_plus = cm_plus / s[pm_]
    p_i = c_i / s[im]

    joint_avg = _sum(mid, cs * ii, n) / s
    diff_avg = _sum(dm, cm_minus * km, n) / s
    sum_avg = _sum(pm_, cm_plus * kp, n) / s
    joint_entr = -_sum(mid, ps * np.log2(ps), n)

    mu_i = _sum(im, c_i * idx, n) / s
    sigma_i2 = _sum(im, (idx - mu_i[im]) ** 2 * p_i, n)
    auto_corr = _sum(mid, cs * ii * jj, n) / s
    n_g = C.lvl - 1

    # information correlations (glcm.py:252-281): every nonzero cell has
    # nonzero marginals, so hxy1 needs no masking; hxy2 runs over the
    # pairs of nonzero marginals
    width = int(idx.max()) + 1
    mkey = im * width + idx
    pi_a = p_i[np.searchsorted(mkey, mid * width + ii)]
    pi_b = p_i[np.searchsorted(mkey, mid * width + jj)]
    hx = -_sum(im, p_i * np.log2(p_i), n)
    hxy1 = -_sum(mid, ps * np.log2(pi_a * pi_b), n)
    a, b = _outer_pairs(im, n)
    q = p_i[a] * p_i[b]
    hxy2 = -_sum(im[a], q * np.log2(q), n)
    cdev = ii + jj - 2 * mu_i[mid]
    step = np.ones(mid.size, dtype=bool)
    step[1:] = mid[1:] != mid[:-1]
    k1 = km >= 1
    with np.errstate(divide="ignore", invalid="ignore"):
        return [
            np.maximum.reduceat(cs, np.flatnonzero(step)) / s,
            joint_avg,
            _sum(mid, ps * (ii - joint_avg[mid]) ** 2, n),
            joint_entr,
            diff_avg,
            _sum(dm, p_minus * (km - diff_avg[dm]) ** 2, n),
            -_sum(dm, p_minus * np.log2(p_minus), n),
            sum_avg,
            _sum(pm_, p_plus * (kp - sum_avg[pm_]) ** 2, n),
            -_sum(pm_, p_plus * np.log2(p_plus), n),
            _sum(mid, cs * cs, n) / (s * s),
            _sum(mid, cs * (ii - jj) ** 2, n) / s,
            _sum(mid, cs * di, n) / s,
            _sum(mid, ps / (1 + di), n),
            np.where(n_g == 0, np.nan, _sum(mid, ps / (1 + di / n_g[mid]), n)),
            _sum(dm, p_minus / (1 + km**2), n),
            np.where(n_g == 0, np.nan, _sum(dm, p_minus / (1 + (km / n_g[dm]) ** 2), n)),
            # ordered fold, k ascending: the SQL oracles fold the same terms
            # with an ORDER BY-ed list_reduce, so the doubles agree bit-for-bit
            _sum(dm[k1], p_minus[k1] / km[k1] ** 2, n),
            np.where(sigma_i2 == 0, np.nan, (auto_corr - mu_i**2) / sigma_i2),
            auto_corr,
            _sum(mid, cdev**2 * ps, n),
            _sum(mid, cdev**3 * ps, n),
            _sum(mid, cdev**4 * ps, n),
            np.where(hx == 0, np.nan, (joint_entr - hxy1) / hx),
            np.sqrt(1 - np.exp(-2 * (hxy2 - joint_entr))),
        ]


# --------------------------------------------------------------------------
# shared 16(+energy) reducer for the run/zone/dependence families
# --------------------------------------------------------------------------


def matrix_reduce(C: Cells, include_energy: bool = False) -> list:
    """Vectorized port of TextureFeatureBase._matrix_feature_values
    (zrad/radiomics/texture_base.py:40-214) for every matrix id. Cells
    hold raw counts at [grey_level, length-1]; zero-denominator cases
    yield NaN instead of the reference's DataStructureError (scale
    contract: null rows, not exceptions). Cells arrive (lvl asc, jl asc)
    per id — the order the ORDER BY-ed sde/sdhge folds of the DZM
    oracles use."""
    n, mid, ii, jj, cs = C.n, C.mid, C.i, C.j, C.c
    n_s = _sum(mid, cs, n)
    i_f = ii.astype(np.float64)
    jl = (jj + 1).astype(np.float64)
    j_f = jj.astype(np.float64)
    p = cs / n_s[mid]
    i2 = i_f * i_f
    jl2 = jl * jl
    nz = ii != 0
    rm, _, row2 = _group(mid, ii, cs)
    cm, _, col2 = _group(mid, jj, cs)
    mu_i = _sum(mid, p * i_f, n)
    mu_j = _sum(mid, p * j_f, n)
    glnu = _sum(rm, row2 * row2, n)
    rlnu = _sum(cm, col2 * col2, n)
    with np.errstate(divide="ignore", invalid="ignore"):
        vals = [
            _sum(mid, cs / jl2, n) / n_s,
            _sum(mid, cs * jl2, n) / n_s,
            _sum(mid[nz], cs[nz] / i2[nz], n) / n_s,
            _sum(mid, cs * i2, n) / n_s,
            _sum(mid[nz], cs[nz] / i2[nz] / jl2[nz], n) / n_s,
            _sum(mid, i2 * cs / jl2, n) / n_s,
            _sum(mid[nz], cs[nz] * jl2[nz] / i2[nz], n) / n_s,
            _sum(mid, cs * jl2 * i2, n) / n_s,
            glnu / n_s,
            glnu / n_s**2,
            rlnu / n_s,
            rlnu / n_s**2,
            n_s / C.vox,
            _sum(mid, (i_f - mu_i[mid]) ** 2 * p, n),
            _sum(mid, (j_f - mu_j[mid]) ** 2 * p, n),
            -_sum(mid, p * np.log2(p), n),
        ]
        if include_energy:
            # exact form sum(c^2)/n^2: counts are integers, so the sum and
            # the single division are bit-identical to the SQL SUM(c*c)/(n_s*n_s)
            # — sum(p^2) rounds each c/n term and its sum order flips dyadic
            # results (e.g. 0.1240625) across the 6dp rounding boundary
            vals.append(_sum(mid, cs * cs, n) / (n_s * n_s))
    bad = (n_s == 0) | (C.vox == 0)
    return [np.where(bad, np.nan, v) for v in vals]


# --------------------------------------------------------------------------
# runs (GLRLM + GLSZM zones + GLDZM zones)
# --------------------------------------------------------------------------


def find_runs(g: np.ndarray, session: np.ndarray | None = None):
    """Runs of consecutive equal finite grey levels; NaN holes and session
    or unit borders (changes of ``session`` when it is given) break runs. Vectorized
    change-point detection — the same diff/split algorithm as the
    reference's _rle_1d (zrad/radiomics/glrlm.py:82-102).

    Returns (levels, lengths, start_idx, end_idx) int64 arrays.
    """
    n = g.size
    valid = ~np.isnan(g)
    if not valid.any():
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    start = valid.copy()
    if n > 1:
        cont = valid[1:] & valid[:-1] & (g[1:] == g[:-1])
        if session is not None:
            cont &= session[1:] == session[:-1]
        start[1:] = valid[1:] & ~cont
    idx = np.arange(n)
    starts = idx[start]
    # end of run r = (start of run r+1 scanning only valid positions) - gap
    run_id = np.cumsum(start) - 1  # valid positions only meaningful
    lengths = np.bincount(run_id[valid], minlength=starts.size)
    ends = starts + lengths - 1
    levels = g[starts].astype(np.int64)
    return levels, lengths.astype(np.int64), starts, ends


def _run_entries(u: Units, lags) -> Entries:
    levels, lengths, starts, _ = find_runs(u.g, u.unit)
    return Entries(u.unit[starts], None, levels, lengths - 1)


def _zone_distance_entries(u: Units, lags) -> Entries:
    """GLDZM: zone -> (level, min border distance), the border being the
    unit's (the per-slice image border). In 1-D the min distance over a
    contiguous run is min(dist[start], dist[end]) because the in-unit
    distance profile is unimodal (cf. zrad/radiomics/texture_base.py:329-364)."""
    levels, _, starts, ends = find_runs(u.g, u.unit)
    dist = border_distance(u.eligible, u.unit)
    min_d = np.maximum(np.minimum(dist[starts], dist[ends]), 1)
    return Entries(u.unit[starts], None, levels, min_d - 1)


# --------------------------------------------------------------------------
# NGTDM
# --------------------------------------------------------------------------


def _ngtdm_entries(u: Units, lags) -> Entries:
    """One [n_i, s_i] entry per finite turn with a finite neighbour:
    |level - local mean| over the 1-D neighbourhood {p-1, p+1} inside the
    unit (reference 3x3(x3) kernel with center zeroed:
    zrad/radiomics/ngtdm.py:63-122). Neighbourless (single-turn)
    sessions: the reference raises a DataStructureError
    (ngtdm.py:133-134); at scale they are left out."""
    g, unit = u.g, u.unit
    n = g.size
    valid = ~np.isnan(g)
    f = np.where(valid, g, 0.0)
    nb_sum = np.zeros(n)
    nb_cnt = np.zeros(n)
    if n > 1:
        same = unit[1:] == unit[:-1]
        nb_sum[1:] += np.where(same, f[:-1], 0.0)
        nb_sum[:-1] += np.where(same, f[1:], 0.0)
        nb_cnt[1:] += valid[:-1] & same
        nb_cnt[:-1] += valid[1:] & same
    good = valid & (nb_cnt > 0)
    gi = g[good].astype(np.int64)
    w = np.abs(g[good] - nb_sum[good] / nb_cnt[good])
    return Entries(unit[good], None, gi, np.zeros_like(gi), w)


def ngtdm_reduce(C: Cells) -> list:
    """Vectorized NGTDM reductions of every matrix id over its levels
    with n_i > 0 (reference O(lvl^2) loops: zrad/radiomics/ngtdm.py:124-188)."""
    n_ids, mid = C.n, C.mid
    ncol, scol = C.c, C.w
    i = C.i.astype(np.float64)
    n = _sum(mid, ncol, n_ids)
    n_g = np.bincount(mid, minlength=n_ids).astype(np.float64)
    ns = ncol * scol
    denum_coarse = _sum(mid, ns, n_ids)
    a, b = _outer_pairs(mid, n_ids)
    pm = mid[a]
    d = i[a] - i[b]
    ini = i * ncol
    s1 = _sum(pm, ncol[a] * d**2 * ncol[b], n_ids) / n**2
    s2 = _sum(mid, scol, n_ids)
    denum_c = n_g * (n_g - 1) * n
    num_busy = denum_coarse / n
    denum_b = _sum(pm, np.abs(ini[a] - ini[b]), n_ids) / n
    pair_num = (ns[a] + ns[b]) * np.abs(d) / n[pm]
    pair_den = (ncol[a] + ncol[b]) / n[pm]
    num_str = _sum(pm, (ncol[a] + ncol[b]) * d**2, n_ids) / n
    with np.errstate(divide="ignore", invalid="ignore"):
        return [
            np.where(denum_coarse == 0, SENTINEL, n / denum_coarse),
            np.where(denum_c == 0, 0.0, s1 * s2 / denum_c),
            np.where(denum_b == 0, 0.0, num_busy / denum_b),
            _sum(pm, pair_num / pair_den, n_ids) / n,
            np.where(s2 == 0, 0.0, num_str / s2),
        ]


# --------------------------------------------------------------------------
# NGLDM
# --------------------------------------------------------------------------


def _ngldm_entries(u: Units, lags) -> Entries:
    """One (level, dependence) entry per finite turn: the number of
    {p-1, p+1} neighbours inside the unit with an equal grey level
    (reference 3x3(x3) equal-neighbour convolve: zrad/radiomics/ngldm.py:80-140)."""
    g, unit = u.g, u.unit
    n = g.size
    valid = ~np.isnan(g)
    dep = np.zeros(n, dtype=np.int64)
    if n > 1:
        eq = valid[1:] & valid[:-1] & (g[1:] == g[:-1]) & (unit[1:] == unit[:-1])
        dep[1:] += eq
        dep[:-1] += eq
    return Entries(unit[valid], None, g[valid].astype(np.int64), dep[valid])


# --------------------------------------------------------------------------
# the family table
# --------------------------------------------------------------------------


class Family(NamedTuple):
    names: tuple  # output names, in the order of the reducer's values
    suffix: str  # "cm": suffixed by dim + method (GLCM/GLRLM), "dim": by dim
    build: Callable  # (Units, lags) -> Entries
    reduce: Callable  # Cells -> one value array per name
    # one matrix per lag unless the method merges them
    directional: bool = False


FAMILIES = {
    "glcm": Family(GLCM_NAMES, "cm", _glcm_entries, glcm_reduce, directional=True),
    # 1-D zones are runs with the same voxel normalizer, so GLSZM shares
    # GLRLM's builder and reducer: one run decomposition serves both
    "glrlm": Family(GLRLM_NAMES, "cm", _run_entries, matrix_reduce),
    "glszm": Family(GLSZM_NAMES, "dim", _run_entries, matrix_reduce),
    "gldzm": Family(GLDZM_NAMES, "dim", _zone_distance_entries, matrix_reduce),
    "ngtdm": Family(NGTDM_NAMES, "dim", _ngtdm_entries, ngtdm_reduce),
    "ngldm": Family(NGLDM_NAMES, "dim", _ngldm_entries, partial(matrix_reduce, include_energy=True)),
}


# --------------------------------------------------------------------------
# the aggregation driver
# --------------------------------------------------------------------------


def texture_batch(
    families, g, eligible, session, seg, n, lags, aggr_dim, aggr_method,
    slice_weight=False, slice_median=False,
) -> dict:
    """``{family: {name: values per segment}}`` for every requested
    texture family of ``n`` segments laid end to end: grey levels ``g``
    (NaN holes), role ``eligible`` mask, 0-based ``session`` ids within
    each segment (prep.sessionize) and nondecreasing segment ids ``seg``.

    Reference dispatch: glcm.py:104-130. A weighted median is rejected
    by FeatureConfig; here the median wins.
    """
    fin = ~np.isnan(g)
    total = np.bincount(seg[fin], minlength=n)
    lvl = np.zeros(n, dtype=np.int64)
    np.maximum.at(lvl, seg[fin], g[fin].astype(np.int64) + 1)
    if aggr_dim == "3D":
        unit, unit_seg = seg, np.arange(n)
    else:
        brk = np.ones(g.size, dtype=bool)
        brk[1:] = (session[1:] != session[:-1]) | (seg[1:] != seg[:-1])
        unit, unit_seg = np.cumsum(brk) - 1, seg[brk]
    ctx = (Units(g, eligible, unit), unit_seg, np.bincount(unit[fin], minlength=unit_seg.size),
           total, lvl, n, tuple(lags), aggr_dim, aggr_method, slice_weight, slice_median)
    out, done = {}, {}
    for f in families:
        fam = FAMILIES[f]
        key = (fam.build, fam.reduce)  # GLSZM reuses GLRLM's values
        if key not in done:
            done[key] = _aggregate(fam, *ctx)
        out[f] = dict(zip(fam.names, done[key]))
    return out


def _aggregate(fam, u, unit_seg, unit_vox, total, lvl, n, lags, aggr_dim, aggr_method, sw, sm):
    """One family's value arrays over the segments, in ``fam.names`` order."""
    per_lag = fam.directional and aggr_method != ("SLICE_MERG" if aggr_dim == "2D" else "MERG")
    e = fam.build(u, lags)
    owner = e.unit if aggr_dim == "2D" else unit_seg[e.unit]
    key = owner * len(lags) + e.lag if per_lag else owner
    mid, i, j, c, w, mkey = _to_cells(key, e)
    if not mkey.size:
        return [np.full(n, np.nan)] * len(fam.names)
    owner = mkey // len(lags) if per_lag else mkey
    mseg = unit_seg[owner] if aggr_dim == "2D" else owner
    vox = unit_vox[owner] if aggr_dim == "2D" else total[mseg]
    vals = fam.reduce(Cells(mid, i, j, c, w, mkey.size, lvl[mseg], vox.astype(np.float64)))
    cnt = np.bincount(mseg, minlength=n)
    if aggr_dim != "2D" and not per_lag:
        # one merged matrix per segment: the reducer's values as-is (an
        # average would turn a -0.0 into 0.0)
        out = np.full((len(vals), n), np.nan)
        out[:, mseg] = vals
        return list(out)
    # 3D/2.5D per lag: a plain mean; 2D: the median, or a mean weighted by
    # the session's share of finite turns (reference: glcm.py:422-435,
    # texture_base.py:70-78)
    if aggr_dim == "2D" and sm:
        return [_median(v, mseg, cnt) for v in vals]
    wt = vox / total[mseg] if aggr_dim == "2D" and sw else np.ones(mseg.size)
    with np.errstate(invalid="ignore", divide="ignore"):
        scl = np.bincount(mseg, weights=wt, minlength=n)
        return [np.where(cnt > 0, np.bincount(mseg, weights=v * wt, minlength=n) / scl, np.nan) for v in vals]


def _median(v, mseg, cnt):
    """np.median of each segment's values: the middle value, or the mean
    of the middle pair (summed from 0 like np.mean); NaN if any value is
    NaN or there is none."""
    vs = v[np.lexsort((v, mseg))]
    start = np.cumsum(cnt) - cnt
    has = cnt > 0

    def at(k):
        return vs[np.where(has, start + k, 0)]

    lo, hi = at((cnt - 1) // 2), at(cnt // 2)
    med = np.where(cnt % 2 == 1, 0.0 + hi, (0.0 + lo + hi) / 2.0)
    return np.where(has & ~np.isnan(at(cnt - 1)), med, np.nan)


def texture_features(
    families, g, eligible, session, lags, aggr_dim, aggr_method,
    slice_weight=False, slice_median=False,
) -> dict:
    """texture_batch of one segment: ``{family: {name: value}}``."""
    seg = np.zeros(g.size, dtype=np.int64)
    out = texture_batch(families, g, eligible, session, seg, 1, lags, aggr_dim, aggr_method,
                        slice_weight, slice_median)
    return {f: {k: float(v[0]) for k, v in d.items()} for f, d in out.items()}


# --------------------------------------------------------------------------
# one matrix at a time (dense count matrices, e.g. for the oracle tests)
# --------------------------------------------------------------------------


def _one_unit(g: np.ndarray) -> Units:
    return Units(g, ~np.isnan(g), np.zeros(g.size, dtype=np.int64))


def _dense(e: Entries, shape) -> np.ndarray:
    m = np.zeros(shape)
    np.add.at(m, (e.i, e.j), 1.0)
    return m


def glcm_count_matrix(g: np.ndarray, lags, lvl: int) -> np.ndarray:
    """Symmetrized co-occurrence counts of one sequence merged over ``lags``."""
    return _dense(_glcm_entries(_one_unit(g), tuple(lags)), (lvl, lvl))


def ngldm_matrix(g: np.ndarray, lvl: int) -> np.ndarray:
    """(lvl, 3) dependence-count matrix of one sequence."""
    return _dense(_ngldm_entries(_one_unit(g), ()), (lvl, 3))


def ngtdm_matrix(g: np.ndarray, lvl: int) -> np.ndarray:
    """(lvl, 2) matrix of [n_i, s_i] of one sequence."""
    e = _ngtdm_entries(_one_unit(g), ())
    return np.column_stack((np.bincount(e.i, minlength=lvl), np.bincount(e.i, weights=e.w, minlength=lvl)))


def _reduce_dense(reduce, names, M, vox=0.0, w=None) -> dict:
    ii, jj = np.nonzero(M if w is None else M[:, :1])
    C = Cells(np.zeros(ii.size, dtype=np.int64), ii, jj, M[ii, jj], None if w is None else w[ii],
              1, np.array([M.shape[0]]), np.array([float(vox)]))
    if ii.size == 0:
        return dict.fromkeys(names, np.nan)
    return {k: float(v[0]) for k, v in zip(names, reduce(C))}


def glcm_feature_values(M: np.ndarray) -> dict:
    """glcm_reduce of one dense count matrix."""
    return _reduce_dense(glcm_reduce, GLCM_NAMES, M)


def matrix_feature_values(M: np.ndarray, voxel_count: float, include_energy: bool = False) -> dict:
    """matrix_reduce of one dense [grey_level, length-1] count matrix."""
    names = NGLDM_ATTRS if include_energy else TEXTURE_ATTRS
    return _reduce_dense(partial(matrix_reduce, include_energy=include_energy), names, M, voxel_count)


def ngtdm_feature_values(m: np.ndarray) -> dict:
    """ngtdm_reduce of one dense (lvl, 2) [n_i, s_i] matrix."""
    return _reduce_dense(ngtdm_reduce, NGTDM_NAMES, m, w=m[:, 1])
