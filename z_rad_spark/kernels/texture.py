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

Two pieces tie them together:

* ``FAMILIES`` — the family table. Each family gives only its output
  names, a count-matrix builder over one segment and a set of lags, its
  reducer ``(M, n_voxels) -> values``, an "empty matrix" rule, and
  whether it is directional (one matrix per lag; only GLCM is).
* ``texture_features`` — the one aggregation driver. It cuts the
  segments once (the whole conversation for 3D; for 2D/2.5D each
  session slice holding a finite grey level) and applies Z-Rad's one
  aggregation policy (glcm.py:437-509) to every requested family:
  "merge" sums count matrices BEFORE the reducer; "average" reduces per
  matrix, then (weighted-)averages — the order is contractual.

All matrices are tiny (lvl x lvl with lvl <= O(64)); every build is a
vectorized np.add.at / bincount, never per-element Python.
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


def _seq_sum(a) -> float:
    """Strict left-to-right sequential sum. The reciprocal-square
    reductions (cm_inv_var, dzm_sde/sdhge) have non-dyadic terms whose
    float sum is order-dependent in the last ulp; NumPy's pairwise/
    unrolled reduction and SQL's unordered SUM can land on opposite sides
    of a 6dp rounding boundary (~5 per 700k values at sf0.1 —
    BASELINE.md round-3 update 2). The SQL oracles fold the same terms
    with an ORDER BY-ed list_reduce, so both engines execute the
    identical double-add sequence and agree bit-for-bit."""
    acc = 0.0
    for x in a:
        acc += float(x)
    return acc


# --------------------------------------------------------------------------
# GLCM
# --------------------------------------------------------------------------


def glcm_count_matrix(g: np.ndarray, lags, lvl: int) -> np.ndarray:
    """Symmetrized co-occurrence counts merged over ``lags``.

    Pairs (g[i], g[i+lag]) where both are finite, gathered across every
    lag and added in both directions in ONE scatter-add (reference:
    glcm.py:163, 205-206); a single lag gives the per-direction matrix.
    """
    ai, bi = [], []
    for lag in lags:
        if g.size <= lag:
            continue
        a, b = g[:-lag], g[lag:]
        valid = ~np.isnan(a) & ~np.isnan(b)
        ai.append(a[valid])
        bi.append(b[valid])
    m = np.zeros((lvl, lvl), dtype=np.float64)
    if ai:
        i = np.concatenate(ai).astype(np.int64)
        j = np.concatenate(bi).astype(np.int64)
        np.add.at(m, (np.concatenate((i, j)), np.concatenate((j, i))), 1.0)
    return m


def glcm_feature_values(M: np.ndarray) -> dict:
    """All 25 GLCM scalar reductions from a COUNT matrix (caller guarantees
    M.sum() > 0; normalization happens inside).

    Vectorized equivalents of zrad/radiomics/glcm.py:211-420 — including the
    O(lvl^2) info-corr loops (glcm.py:252-281). Joint-matrix sums iterate
    NONZERO cells only (M is sparse: <= one cell per observed pair value);
    zero cells contribute 0 to every weighted sum.

    Determinism contract (same as kernels/firstorder._det_stats): every
    reduction whose numerator is an INTEGER-weighted sum (max, averages,
    energy, contrast, dissimilarity, auto-correlation, the marginal mean)
    is computed as exact-integer-sum / total — one division at the end —
    so NumPy's pairwise summation and SQL's sequential SUM produce the
    bit-identical double. Summing pre-divided p-terms instead puts dyadic
    true values (e.g. sum p^2 = 0.0340625) exactly on the driver's 6dp
    rounding boundary, where a 1-ulp order difference flips the hash.
    """
    s = float(M.sum())
    lvl = M.shape[0]
    ii, jj = np.nonzero(M)
    cs = M[ii, jj]
    ps = cs / s
    di = np.abs(ii - jj)
    cm_minus = np.bincount(di, weights=cs, minlength=lvl)
    cm_plus = np.bincount(ii + jj, weights=cs, minlength=2 * lvl - 1)
    p_minus = cm_minus / s
    p_plus = cm_plus / s
    km = np.arange(p_minus.size)
    kp = np.arange(p_plus.size)

    joint_avg = float((cs * ii).sum()) / s
    diff_avg = float((cm_minus * km).sum()) / s
    sum_avg = float((cm_plus * kp).sum()) / s

    joint_entr = float(-(ps * np.log2(ps)).sum())
    nzm = p_minus > 0
    nzp = p_plus > 0

    c_i = np.bincount(jj, weights=cs, minlength=lvl)
    p_i = c_i / s
    idx = np.arange(lvl)
    mu_i = float((c_i * idx).sum()) / s
    sigma_i2 = float(((idx - mu_i) ** 2 * p_i).sum())
    auto_corr = float((cs * ii * jj).sum()) / s
    corr = np.nan if sigma_i2 == 0 else (auto_corr - mu_i**2) / sigma_i2

    n_g = lvl - 1
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_diff_norm = np.nan if n_g == 0 else float((ps / (1 + di / n_g)).sum())
        inv_diff_mom_norm = np.nan if n_g == 0 else float((p_minus / (1 + (km / n_g) ** 2)).sum())

    # information correlations (glcm.py:252-281): every nonzero cell has
    # nonzero marginals, so hxy1 needs no masking; hxy2 runs on the
    # compacted nonzero marginal vector
    nzpi = p_i[p_i > 0]
    hx = float(-(nzpi * np.log2(nzpi)).sum())
    hxy1 = float(-(ps * np.log2(p_i[ii] * p_i[jj])).sum())
    q = np.outer(nzpi, nzpi)
    hxy2 = float(-(q * np.log2(q)).sum())
    info1 = np.nan if hx == 0 else (joint_entr - hxy1) / hx
    with np.errstate(invalid="ignore"):
        info2 = float(np.sqrt(1 - np.exp(-2 * (hxy2 - joint_entr))))

    cdev = ii + jj - 2 * mu_i
    return {
        "cm_joint_max": float(cs.max()) / s,
        "cm_joint_avg": joint_avg,
        "cm_joint_var": float((ps * (ii - joint_avg) ** 2).sum()),
        "cm_joint_entr": joint_entr,
        "cm_diff_avg": diff_avg,
        "cm_diff_var": float((p_minus * (km - diff_avg) ** 2).sum()),
        "cm_diff_entr": float(-(p_minus[nzm] * np.log2(p_minus[nzm])).sum()),
        "cm_sum_avg": sum_avg,
        "cm_sum_var": float((p_plus * (kp - sum_avg) ** 2).sum()),
        "cm_sum_entr": float(-(p_plus[nzp] * np.log2(p_plus[nzp])).sum()),
        "cm_energy": float((cs * cs).sum()) / (s * s),
        "cm_contrast": float((cs * (ii - jj) ** 2).sum()) / s,
        "cm_dissimilarity": float((cs * di).sum()) / s,
        "cm_inv_diff": float((ps / (1 + di)).sum()),
        "cm_inv_diff_norm": inv_diff_norm,
        "cm_inv_diff_mom": float((p_minus / (1 + km**2)).sum()),
        "cm_inv_diff_mom_norm": inv_diff_mom_norm,
        # ordered fold (k ascending) — see _seq_sum; zero terms are no-ops
        "cm_inv_var": _seq_sum(p_minus[1:] / km[1:] ** 2) if lvl > 1 else 0.0,
        "cm_corr": corr,
        "cm_auto_corr": auto_corr,
        "cm_clust_tend": float((cdev**2 * ps).sum()),
        "cm_clust_shade": float((cdev**3 * ps).sum()),
        "cm_clust_prom": float((cdev**4 * ps).sum()),
        "cm_info_corr1": info1,
        "cm_info_corr2": info2,
    }


# --------------------------------------------------------------------------
# shared 16(+energy) reducer for the run/zone/dependence families
# --------------------------------------------------------------------------


def matrix_feature_values(
    M: np.ndarray, voxel_count: float, include_energy: bool = False,
    ordered_recip: bool = False,
) -> dict:
    """Vectorized port of TextureFeatureBase._matrix_feature_values
    (zrad/radiomics/texture_base.py:40-214). M holds raw counts indexed
    [grey_level, length-1]; zero-denominator cases yield NaN instead of the
    reference's DataStructureError (scale contract: null rows, not
    exceptions).

    ``ordered_recip``: compute the two reciprocal-square reductions whose
    cross-engine ulp drift was actually observed at sf0.1 (the GLDZM
    sde/sdhge columns — BASELINE.md round-3 update 2) with the strict
    sequential (lvl asc, jl asc) per-cell fold that the DZM oracles
    mirror via ORDER BY-ed list_reduce. Enabled by the DZM family only;
    the RLM/SZM/NGLDM twins keep the vectorized reduction (no observed
    drift, and their oracles sum unordered)."""
    names = NGLDM_ATTRS if include_energy else TEXTURE_ATTRS
    n_s = float(M.sum())
    if n_s == 0 or voxel_count == 0:
        return {n: np.nan for n in names}
    # iterate nonzero cells only (matrices are sparse: <= one cell per
    # distinct (level, length) pair); zero cells contribute 0 to every sum
    ii, jj = np.nonzero(M)
    cs = M[ii, jj]
    i_f = ii.astype(np.float64)
    jl = (jj + 1).astype(np.float64)
    j_f = jj.astype(np.float64)
    p = cs / n_s
    i2 = i_f * i_f
    jl2 = jl * jl
    nzi = ii != 0
    row2 = M.sum(axis=1)
    col2 = M.sum(axis=0)
    mu_i = float((p * i_f).sum())
    mu_j = float((p * j_f).sum())

    # np.nonzero is row-major: cells arrive (lvl asc, jl asc) — the same
    # order the ordered_recip folds and their SQL mirrors use
    sde_sum = _seq_sum(cs / jl2) if ordered_recip else float((cs / jl2).sum())
    sdhge_sum = (
        _seq_sum(i2 * cs / jl2) if ordered_recip else float((i2 * cs / jl2).sum())
    )
    out = {
        "short_runs_emphasis": sde_sum / n_s,
        "long_runs_emphasis": float((cs * jl2).sum() / n_s),
        "low_grey_level_run_emphasis": float((cs[nzi] / i2[nzi]).sum() / n_s),
        "high_gr_lvl_emphasis": float((cs * i2).sum() / n_s),
        "short_low_gr_lvl_emphasis": float((cs[nzi] / i2[nzi] / jl2[nzi]).sum() / n_s),
        "short_high_gr_lvl_emphasis": sdhge_sum / n_s,
        "long_low_gr_lvl_emphasis": float((cs[nzi] * jl2[nzi] / i2[nzi]).sum() / n_s),
        "long_high_gr_lvl_emphasis": float((cs * jl2 * i2).sum() / n_s),
        "non_uniformity": float((row2 * row2).sum() / n_s),
        "norm_non_uniformity": float((row2 * row2).sum() / n_s**2),
        "length_non_uniformity": float((col2 * col2).sum() / n_s),
        "norm_length_non_uniformity": float((col2 * col2).sum() / n_s**2),
        "percentage": float(n_s / voxel_count),
        "gr_lvl_var": float(((i_f - mu_i) ** 2 * p).sum()),
        "length_var": float(((j_f - mu_j) ** 2 * p).sum()),
        "entropy": float(-(p * np.log2(p)).sum()),
    }
    if include_energy:
        # exact form sum(c^2)/n^2: counts are integers, so the sum and the
        # single division are bit-identical to the SQL SUM(c*c)/(n_s*n_s)
        # — sum(p^2) rounds each c/n term and its sum order flips dyadic
        # results (e.g. 0.1240625) across the 6dp rounding boundary
        out["energy"] = float((cs * cs).sum()) / (n_s * n_s)
    return out


# --------------------------------------------------------------------------
# runs (GLRLM + GLSZM zones + GLDZM zones)
# --------------------------------------------------------------------------


def find_runs(g: np.ndarray, session: np.ndarray | None = None):
    """Runs of consecutive equal finite grey levels; NaN holes and session
    borders (when ``session`` is given) break runs. Vectorized
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


def rlm_matrix(levels, lengths, lvl) -> np.ndarray:
    w = int(lengths.max()) if lengths.size else 1
    m = np.zeros((lvl, w), dtype=np.float64)
    if levels.size:
        np.add.at(m, (levels, lengths - 1), 1.0)
    return m


def dzm_matrix(levels, starts, ends, dist, lvl) -> np.ndarray:
    """GLDZM counts: zone -> (level, min border distance). In 1-D the min
    distance over a contiguous run is min(dist[start], dist[end]) because
    the in-segment distance profile is unimodal
    (cf. zrad/radiomics/texture_base.py:329-364)."""
    if levels.size == 0:
        return np.zeros((lvl, 1), dtype=np.float64)
    min_d = np.minimum(dist[starts], dist[ends]).astype(np.int64)
    min_d = np.maximum(min_d, 1)
    m = np.zeros((lvl, int(min_d.max())), dtype=np.float64)
    np.add.at(m, (levels, min_d - 1), 1.0)
    return m


# --------------------------------------------------------------------------
# NGTDM
# --------------------------------------------------------------------------


def ngtdm_matrix(g: np.ndarray, lvl: int) -> np.ndarray:
    """(lvl, 2) matrix of [n_i, s_i]: counts and summed |level - local mean|
    with the 1-D neighbourhood {i-1, i+1} (reference 3x3(x3) kernel with
    center zeroed: zrad/radiomics/ngtdm.py:63-122)."""
    n = g.size
    valid = ~np.isnan(g)
    f = np.where(valid, g, 0.0)
    nb_sum = np.zeros(n)
    nb_cnt = np.zeros(n)
    if n > 1:
        nb_sum[1:] += f[:-1]
        nb_sum[:-1] += f[1:]
        nb_cnt[1:] += valid[:-1]
        nb_cnt[:-1] += valid[1:]
    good = valid & (nb_cnt > 0)
    m = np.zeros((lvl, 2), dtype=np.float64)
    if good.any():
        gi = g[good].astype(np.int64)
        mean_nb = nb_sum[good] / nb_cnt[good]
        m[:, 0] = np.bincount(gi, minlength=lvl)
        m[:, 1] = np.bincount(gi, weights=np.abs(g[good] - mean_nb), minlength=lvl)
    return m


def ngtdm_feature_values(m: np.ndarray) -> dict:
    """Vectorized NGTDM reductions (reference O(lvl^2) loops:
    zrad/radiomics/ngtdm.py:124-188)."""
    ncol = m[:, 0]
    scol = m[:, 1]
    n = float(ncol.sum())
    if n == 0:
        return {k: np.nan for k in NGTDM_NAMES}
    lvl = m.shape[0]
    i = np.arange(lvl, dtype=np.float64)
    diff2 = np.subtract.outer(i, i) ** 2
    nz = ncol != 0
    n_g = float(nz.sum())

    denum_coarse = float(np.sum(ncol * scol))
    coarseness = SENTINEL if denum_coarse == 0 else n / denum_coarse

    s1 = float(ncol @ diff2 @ ncol) / n**2
    s2 = float(scol.sum())
    denum_c = n_g * (n_g - 1) * n
    contrast = 0.0 if denum_c == 0 else s1 * s2 / denum_c

    num_busy = float(np.sum(ncol * scol)) / n
    ini = i * ncol
    busy_mat = np.abs(np.subtract.outer(ini[nz], ini[nz]))
    denum_b = float(busy_mat.sum()) / n
    busyness = 0.0 if denum_b == 0 else num_busy / denum_b

    ns_nz = (ncol * scol)[nz]
    n_nz = ncol[nz]
    i_nz = i[nz]
    pair_num = (np.add.outer(ns_nz, ns_nz)) * np.abs(np.subtract.outer(i_nz, i_nz)) / n
    pair_den = np.add.outer(n_nz, n_nz) / n
    complexity = float(np.sum(pair_num / pair_den)) / n

    num_str = float(np.sum(np.add.outer(n_nz, n_nz) * np.subtract.outer(i_nz, i_nz) ** 2)) / n
    strength = 0.0 if s2 == 0 else num_str / s2

    return {
        "ngt_coarseness": coarseness,
        "ngt_contrast": contrast,
        "ngt_busyness": busyness,
        "ngt_complexity": complexity,
        "ngt_strength": strength,
    }


# --------------------------------------------------------------------------
# NGLDM
# --------------------------------------------------------------------------


def ngldm_matrix(g: np.ndarray, lvl: int) -> np.ndarray:
    """(lvl, 3) dependence-count matrix: for each finite turn, the number of
    {i-1, i+1} neighbours with an equal grey level (reference 3x3(x3)
    equal-neighbour convolve: zrad/radiomics/ngldm.py:80-140)."""
    n = g.size
    valid = ~np.isnan(g)
    dep = np.zeros(n, dtype=np.int64)
    if n > 1:
        eq = valid[1:] & valid[:-1] & (g[1:] == g[:-1])
        dep[1:] += eq
        dep[:-1] += eq
    m = np.zeros((lvl, 3), dtype=np.float64)
    if valid.any():
        np.add.at(m, (g[valid].astype(np.int64), dep[valid]), 1.0)
    return m


# --------------------------------------------------------------------------
# the family table
# --------------------------------------------------------------------------


class Family(NamedTuple):
    names: tuple  # output names, in the order of the reducer's values
    suffix: str  # "cm": suffixed by dim + method (GLCM/GLRLM), "dim": by dim
    # (grey, eligible, lags, lvl) -> count matrix of ONE segment
    build: Callable
    # (count matrix, n_voxels) -> dict whose values follow ``names``
    reduce: Callable
    # a matrix that carries no features: skipped when averaging, NaN alone
    empty: Callable = lambda m: False
    # one matrix per lag unless the method merges them
    directional: bool = False


def _run_matrix(g, eligible, lags, lvl):
    levels, lengths, _, _ = find_runs(g)
    return rlm_matrix(levels, lengths, lvl)


def _zone_distance_matrix(g, eligible, lags, lvl):
    # the segment border is the session border (the per-slice image border)
    levels, _, starts, ends = find_runs(g)
    return dzm_matrix(levels, starts, ends, border_distance(eligible), lvl)


FAMILIES = {
    "glcm": Family(
        GLCM_NAMES, "cm", lambda g, e, lags, lvl: glcm_count_matrix(g, lags, lvl),
        lambda m, n: glcm_feature_values(m),
        empty=lambda m: m.sum() == 0, directional=True,
    ),
    # 1-D zones are runs with the same voxel normalizer, so GLSZM shares
    # GLRLM's builder and reducer: one run decomposition serves both
    "glrlm": Family(GLRLM_NAMES, "cm", _run_matrix, matrix_feature_values),
    "glszm": Family(GLSZM_NAMES, "dim", _run_matrix, matrix_feature_values),
    # see matrix_feature_values ordered_recip
    "gldzm": Family(
        GLDZM_NAMES, "dim", _zone_distance_matrix, partial(matrix_feature_values, ordered_recip=True)
    ),
    # neighbourless (single-turn) sessions: the reference raises a
    # DataStructureError (ngtdm.py:133-134); at scale they are left out
    "ngtdm": Family(
        NGTDM_NAMES, "dim", lambda g, e, lags, lvl: ngtdm_matrix(g, lvl),
        lambda m, n: ngtdm_feature_values(m), empty=lambda m: m[:, 0].sum() == 0,
    ),
    "ngldm": Family(
        NGLDM_NAMES, "dim", lambda g, e, lags, lvl: ngldm_matrix(g, lvl),
        partial(matrix_feature_values, include_energy=True),
    ),
}


# --------------------------------------------------------------------------
# the aggregation driver
# --------------------------------------------------------------------------


def texture_features(
    families, g, eligible, session, lags, aggr_dim, aggr_method,
    slice_weight=False, slice_median=False,
) -> dict:
    """``{family: {name: value}}`` for every requested texture family of
    one conversation: grey levels ``g`` (NaN holes), role ``eligible``
    mask and ascending contiguous ``session`` ids (prep.sessionize).

    3D = one whole-conversation segment (lags and zones cross session
    borders, like 3-D directions cross slices); 2D/2.5D = one segment per
    session slice holding a finite grey level, like all-NaN slices are
    skipped (glcm.py:156-158). Reference dispatch: glcm.py:104-130. A
    weighted median is rejected by FeatureConfig; here the median wins.
    """
    finite = ~np.isnan(g)
    if not finite.any():
        return {f: dict.fromkeys(FAMILIES[f].names, np.nan) for f in families}
    lvl = int(np.nanmax(g)) + 1
    total = int(finite.sum())
    if aggr_dim == "3D":
        segs = [(slice(None), total)]
    else:
        cut = np.flatnonzero(session[1:] != session[:-1]) + 1
        starts, ends = np.concatenate(([0], cut)), np.concatenate((cut, [g.size]))
        seen = np.concatenate(([0], np.cumsum(finite)))
        segs = [
            (slice(a, b), int(c)) for a, b, c in zip(starts, ends, seen[ends] - seen[starts]) if c
        ]
    out, done = {}, {}
    for f in families:
        fam = FAMILIES[f]
        key = (fam.build, fam.reduce)  # GLSZM reuses GLRLM's values
        if key not in done:
            done[key] = _aggregate(
                fam, g, eligible, segs, lvl, total, lags, aggr_dim, aggr_method,
                slice_weight, slice_median,
            )
        out[f] = dict(zip(fam.names, done[key]))
    return out


def _aggregate(fam, g, eligible, segs, lvl, total, lags, aggr_dim, aggr_method, sw, sm):
    """One family's values, in ``fam.names`` order."""

    def matrix(seg, lag_set):
        return fam.build(g[seg], eligible[seg], lag_set, lvl)

    nan = [np.nan] * len(fam.names)
    if aggr_dim != "2D":
        if fam.directional and aggr_method != "MERG":
            # per lag: merge over sessions, reduce, then a plain mean
            mats = [_summed([matrix(s, (lag,)) for s, _ in segs]) for lag in lags]
            rows = [fam.reduce(m, total).values() for m in mats if not fam.empty(m)]
            return _average(rows, None, False) if rows else nan
        # one merged matrix: the reducer's values as-is (np.average would
        # turn a -0.0 into 0.0)
        m = _summed([matrix(s, lags) for s, _ in segs])
        return nan if fam.empty(m) else list(fam.reduce(m, total).values())

    # 2D: per-session (and, averaging, per-lag) matrices, weighted by the
    # session's share of finite turns; SLICE_MERG merges a session's lags
    lag_sets = [(lag,) for lag in lags] if fam.directional and aggr_method != "SLICE_MERG" else [lags]
    rows, weights = [], []
    for s, c in segs:
        for lag_set in lag_sets:
            m = matrix(s, lag_set)
            if not fam.empty(m):
                rows.append(fam.reduce(m, c).values())
                weights.append(c / total if sw else 1.0)
    return _average(rows, None if sm else weights, sm) if rows else nan


def _summed(mats):
    """Sum one family's segment matrices in session order, zero-padding
    the run/zone widths."""
    if len(mats) == 1:
        return mats[0]
    out = np.zeros((mats[0].shape[0], max(m.shape[1] for m in mats)))
    for m in mats:
        out[:, : m.shape[1]] += m
    return out


def _average(rows, weights, median):
    """Per-name mean / median over feature rows (reference:
    glcm.py:422-435, texture_base.py:70-78)."""
    if median:
        return [float(np.median(col)) for col in zip(*rows)]
    return [float(np.average(col, weights=weights)) for col in zip(*rows)]
