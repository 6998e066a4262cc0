"""Conversation-shape features — the morphology-slot analogue.

Z-Rad's 23 mesh/PCA morphology features (zrad/radiomics/morphology.py:30-280)
have no faithful 1-D analogue; per SURVEY.md §2.7 this family instead
summarizes the *shape of the conversation*: duration, turn density,
inter-turn-gap distribution, session structure, and role mix. The opt-in
Moran's I / Geary's C over temporal distance mirror
zrad/radiomics/morphology.py:283-395 (1/distance weights over all pairs,
O(n^2), off by default like the reference: morphology.py:465-466).
"""

from __future__ import annotations

import numpy as np

SHAPE_NAMES = (
    "shape_n_turns",
    "shape_n_eligible",
    "shape_duration_sec",
    "shape_turn_rate",
    "shape_gap_mean",
    "shape_gap_std",
    "shape_gap_max",
    "shape_n_sessions",
    "shape_session_len_mean",
    "shape_role_entropy",
    "shape_tool_frac",
    "shape_intensity_com_shift",
)

MORAN_NAMES = ("shape_moran_i", "shape_geary_c")


def shape_batch(ts_us, eligible, session, role_codes, tool_mask, masked_signal, seg, n) -> dict:
    """The 12 shape features of ``n`` non-empty segments laid end to end
    (``session``: 0-based session ids within each segment)."""
    L = ts_us.size
    size = np.bincount(seg, minlength=n)
    start = np.cumsum(size) - size
    end = start + size - 1
    span = ts_us[end] - ts_us[start]
    dur = span.astype(np.float64) / 1e6
    inner = np.flatnonzero(seg[1:] == seg[:-1]) + 1
    gseg = seg[inner]
    gaps = (ts_us[inner] - ts_us[inner - 1]).astype(np.float64) / 1e6
    n_gaps = size - 1
    n_sessions = session[end] + 1
    # role codes are small ints (+ -1 for unknown): one (segment, role)
    # bincount; the nonzero cells arrive in role order per segment
    width = int(role_codes.max()) + 2
    rc = np.bincount(seg * width + role_codes + 1, minlength=n * width)
    cell = np.flatnonzero(rc)
    cseg = cell // width
    p = rc[cell] / size[cseg]
    role_entropy = -np.bincount(cseg, weights=p * np.log2(p), minlength=n)

    # centre-of-mass shift: |mean position of eligible turns - signal-weighted
    # mean position| in turns (analogue of morphology.py:112-122)
    pos = (np.arange(L) - start[seg]).astype(np.float64)
    el = eligible.astype(bool)
    n_el = np.bincount(seg[el], minlength=n)
    w = np.nan_to_num(masked_signal, nan=0.0)
    w_sum = np.bincount(seg, weights=w, minlength=n)
    with np.errstate(invalid="ignore", divide="ignore"):
        com_geom = np.bincount(seg[el], weights=pos[el], minlength=n) / n_el
        com_int = np.where(w_sum > 0, np.bincount(seg, weights=pos * w, minlength=n) / w_sum, np.nan)
        gap_mean = np.bincount(gseg, weights=gaps, minlength=n) / n_gaps
        dev = gaps - gap_mean[gseg]
        gap_std = np.sqrt(np.bincount(gseg, weights=dev * dev, minlength=n) / n_gaps)
        gap_max = np.full(n, np.nan)
        np.fmax.at(gap_max, gseg, gaps)
        has_gaps = n_gaps > 0
        return {
            "shape_n_turns": size.astype(np.float64),
            "shape_n_eligible": n_el.astype(np.float64),
            "shape_duration_sec": dur,
            "shape_turn_rate": np.where(dur > 0, size / dur, np.nan),
            # exact form: the gap sum telescopes to (last - first), an exact
            # integer, so ONE division chain replaces a float mean whose
            # summation order differs between NumPy and SQL (at grid scale
            # that ulp flipped the 6dp hash for ~0.5% of groups)
            "shape_gap_mean": np.where(has_gaps, span.astype(np.float64) / n_gaps / 1e6, np.nan),
            "shape_gap_std": np.where(has_gaps, gap_std, np.nan),
            "shape_gap_max": gap_max,
            "shape_n_sessions": n_sessions.astype(np.float64),
            "shape_session_len_mean": size / n_sessions,
            "shape_role_entropy": role_entropy,
            "shape_tool_frac": np.bincount(seg, weights=tool_mask.astype(np.float64), minlength=n) / size,
            "shape_intensity_com_shift": np.where(
                np.isfinite(com_geom) & np.isfinite(com_int), np.abs(com_geom - com_int), np.nan
            ),
        }


def moran_geary(ts_us, masked_signal, max_n: int = 2000) -> dict:
    """Moran's I and Geary's C with 1/|dt| weights over all finite pairs.

    O(n^2) like the reference (morphology.py:283-395); guarded by max_n at
    scale (larger groups return NaN rather than blowing the task).
    """
    valid = ~np.isnan(masked_signal)
    x = masked_signal[valid]
    t = ts_us[valid].astype(np.float64) / 1e6
    n = x.size
    if n < 3 or n > max_n:
        return {k: np.nan for k in MORAN_NAMES}
    mu = x.mean()
    d = np.abs(np.subtract.outer(t, t))
    with np.errstate(divide="ignore"):
        w = np.where(d > 0, 1.0 / d, 0.0)
    np.fill_diagonal(w, 0.0)
    s0 = w.sum()
    dev = x - mu
    denom = np.sum(dev**2)
    if s0 == 0 or denom == 0:
        return {k: np.nan for k in MORAN_NAMES}
    moran = (n / s0) * float(dev @ w @ dev) / denom
    geary = ((n - 1) / (2 * s0)) * float(np.sum(w * np.subtract.outer(x, x) ** 2)) / denom
    return {"shape_moran_i": moran, "shape_geary_c": geary}
