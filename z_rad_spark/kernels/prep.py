"""Preprocessing kernels: eligibility, resegmentation, discretization,
sessionization — the 1-D analogues of Z-Rad's ROI/reseg/discretize steps.

All operate on a float64 signal vector where NaN marks ineligible turns
(reference NaN-hole convention: zrad/preprocessing/roi.py:88-119).
"""

from __future__ import annotations

import numpy as np

_SENTINEL = 1_000_000.0


def apply_eligibility(signal: np.ndarray, eligible: np.ndarray) -> np.ndarray:
    """Intensity-mask builder: signal where eligible, NaN elsewhere.

    Reference: IntensityMaskBuilder (zrad/preprocessing/roi.py:88-119).
    """
    return np.where(eligible, signal, np.nan)


def resegment_range(masked: np.ndarray, raw: np.ndarray, intensity_range) -> np.ndarray:
    """Range resegmentation: drop turns whose *raw* signal is outside
    [lower, upper]. The predicate is evaluated on the original signal, not
    the masked one (reference: zrad/preprocessing/resegmentation.py:73-77).
    """
    if intensity_range is None:
        return masked
    lower, upper = intensity_range
    keep = (raw >= lower) & (raw <= upper)
    return np.where(keep & ~np.isnan(masked), masked, np.nan)


def resegment_outlier(masked: np.ndarray, sigma: float | None) -> np.ndarray:
    """Outlier resegmentation: keep values within mean ± sigma*std of the
    *current* valid population — statistics computed after range reseg,
    an order contract (reference: zrad/preprocessing/resegmentation.py:150-173,
    230-231).
    """
    if sigma is None:
        return masked
    valid = masked[~np.isnan(masked)]
    if valid.size == 0:
        return masked
    # exact-moment mean/std (not np.std's two-pass): deterministic given
    # exact sums, so the keep-predicate threshold is bit-identical to the
    # SQL oracle's AVG / SQRT(GREATEST(SUM(x*x)/n - mean*mean, 0)) — a
    # Welford-vs-two-pass ulp difference here flips MEMBERSHIP for values
    # sitting exactly on mean +- sigma*std, which moves whole rows
    n = valid.size
    mean = float(np.sum(valid)) / n
    std = np.sqrt(max(float(np.sum(valid * valid)) / n - mean * mean, 0.0))
    keep = (masked >= mean - sigma * std) & (masked <= mean + sigma * std)
    return np.where(keep & ~np.isnan(masked), masked, np.nan)


def resegment(masked: np.ndarray, raw: np.ndarray, intensity_range, sigma) -> np.ndarray:
    """Range first, then outlier (reference: resegmentation.py:214-231)."""
    out = resegment_range(masked, raw, intensity_range)
    return resegment_outlier(out, sigma)


def discretize_fbs(x: np.ndarray, bin_size: float, minimum: float | None = None) -> np.ndarray:
    """Fixed-bin-size: floor((x - min)/w) + 1.

    Reference: zrad/preprocessing/discretization.py:62-69.
    """
    anchor = np.nanmin(x) if minimum is None else minimum
    return np.floor((x - anchor) / bin_size) + 1


def discretize_fbn(x: np.ndarray, n_bins: int) -> np.ndarray:
    """Fixed-bin-number: floor(N*(x-min)/(max-min)) + 1, max -> N;
    degenerate range -> all ones.

    Reference: zrad/preprocessing/discretization.py:117-137. The min/max are
    those of the already-cutoff-filtered population — per (entity, as_of) —
    which is what makes naive global min/max a temporal leak.
    """
    minimum = np.nanmin(x)
    maximum = np.nanmax(x)
    if maximum == minimum:
        return np.where(np.isnan(x), np.nan, 1.0)
    return np.where(
        x != maximum,
        np.floor(n_bins * (x - minimum) / (maximum - minimum)) + 1,
        float(n_bins),
    )


def ivh_prepare(masked: np.ndarray, method: str, n_bins=None, bin_size=None, minimum=None):
    """IVH image + (min, max, step) per reference pathway.

    Reference: IVHIntensityDiscretizer (discretization.py:411-444) and
    prepare IVH params (zrad/radiomics/extraction_preparation.py:89-117):

    * direct: raw values, step 1, min/max observed
    * fixed_bin_number: FBN grey levels, range [1, n_bins], step 1
    * fixed_bin_size: bin centers min + (g - 0.5)*w, step = bin_size
    """
    if method == "direct":
        arr = masked
        lo = np.nanmin(arr)
        hi = np.nanmax(arr)
        return arr, lo, hi, 1.0
    if method == "fixed_bin_number":
        arr = discretize_fbn(masked, int(n_bins))
        return arr, 1.0, float(n_bins), 1.0
    if method == "fixed_bin_size":
        anchor = np.nanmin(masked) if minimum is None else minimum
        g = discretize_fbs(masked, float(bin_size), anchor)
        arr = anchor + (g - 0.5) * float(bin_size)
        return arr, np.nanmin(arr), np.nanmax(arr), float(bin_size)
    raise ValueError(f"bad ivh method {method}")


def sessionize(ts_us: np.ndarray, gap_seconds: float) -> np.ndarray:
    """Gap-based session ids (0-based) over a sorted int64 microsecond axis.

    The temporal analogue of Z-Rad's slice decomposition
    (zrad/radiomics/glcm.py:154-166): session = contiguous sub-sequence with
    inter-turn gaps <= gap_seconds.
    """
    if ts_us.size == 0:
        return np.zeros(0, dtype=np.int64)
    gaps = np.diff(ts_us.astype(np.int64))
    new_session = np.concatenate(([0], (gaps > gap_seconds * 1e6).astype(np.int64)))
    return np.cumsum(new_session)


def _forward_run_length(ok: np.ndarray, brk: np.ndarray) -> np.ndarray:
    """For each position with ok=True, 1 + number of consecutive ok
    positions before it with no break in between (vectorized cumulative
    run length via the last-restart-position trick)."""
    n = ok.size
    idx = np.arange(n)
    restart = brk.copy()
    restart[0] = True
    restart[1:] |= ~ok[:-1]
    last_restart = np.maximum.accumulate(np.where(restart, idx, 0))
    return idx - last_restart + 1


def border_distance(eligible: np.ndarray, session: np.ndarray | None = None) -> np.ndarray:
    """Taxicab distance to the nearest ineligible turn or session border,
    for eligible positions (1 at a border). 1-D analogue of the
    zero-padded distance_transform_cdt on the morphological mask
    (zrad/radiomics/texture_base.py:320-324, 371-374); session boundaries
    (none when ``session`` is None) play the role of the per-slice image
    border.
    """
    n = eligible.size
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    ok = eligible.astype(bool)
    brk = np.zeros(n, dtype=bool)
    if session is not None:
        brk[1:] = session[1:] != session[:-1]
    fwd = _forward_run_length(ok, brk)
    brk_rev = np.zeros(n, dtype=bool)
    brk_rev[1:] = brk[::-1][:-1]  # boundary between i and i+1, reversed view
    bwd = _forward_run_length(ok[::-1], brk_rev)[::-1]
    dist = np.minimum(fwd, bwd)
    dist[~ok] = 0
    return dist.astype(np.int64)
