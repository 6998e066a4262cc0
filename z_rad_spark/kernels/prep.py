"""Preprocessing kernels: eligibility, resegmentation, discretization,
sessionization — the 1-D analogues of Z-Rad's ROI/reseg/discretize steps.

All operate on a float64 signal vector where NaN marks ineligible turns
(reference NaN-hole convention: zrad/preprocessing/roi.py:88-119).

Segment axis: the extractor lays every (conversation, cutoff) prefix of
a bucket end to end and tags each element with a nondecreasing segment
id ``seg`` (0..n-1). Every step below that reads a population statistic
(outlier mean/std, FBN/FBS min/max, sessions) takes ``seg`` and computes
it per segment; ``seg=None`` is the one-segment case. Per-segment sums
are ``np.bincount`` folds, a strict left-to-right add per segment, so a
segment's values never depend on its neighbours in the layout.
"""

from __future__ import annotations

import numpy as np

_SENTINEL = 1_000_000.0


def one_segment(x: np.ndarray) -> np.ndarray:
    """Segment ids for a lone segment."""
    return np.zeros(x.size, dtype=np.int64)


def seg_bounds(seg: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(start offset, size) of each segment of a nondecreasing ``seg``."""
    size = np.bincount(seg, minlength=n)
    return np.cumsum(size) - size, size


def seg_nanmin(x: np.ndarray, seg: np.ndarray, n: int) -> np.ndarray:
    """Per-segment min over the finite values (NaN for none)."""
    out = np.full(n, np.nan)
    np.fmin.at(out, seg, x)
    return out


def seg_nanmax(x: np.ndarray, seg: np.ndarray, n: int) -> np.ndarray:
    out = np.full(n, np.nan)
    np.fmax.at(out, seg, x)
    return out


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


def resegment_outlier(masked: np.ndarray, sigma: float | None, seg=None, n: int = 1) -> np.ndarray:
    """Outlier resegmentation: keep values within mean ± sigma*std of the
    *current* valid population of each segment — statistics computed
    after range reseg, an order contract (reference:
    zrad/preprocessing/resegmentation.py:150-173, 230-231).
    """
    if sigma is None:
        return masked
    seg = one_segment(masked) if seg is None else seg
    fin = ~np.isnan(masked)
    fs, v = seg[fin], masked[fin]
    # exact-moment mean/std (not np.std's two-pass): deterministic given
    # exact sums, so the keep-predicate threshold is bit-identical to the
    # SQL oracle's AVG / SQRT(GREATEST(SUM(x*x)/n - mean*mean, 0)) — a
    # Welford-vs-two-pass ulp difference here flips MEMBERSHIP for values
    # sitting exactly on mean +- sigma*std, which moves whole rows
    cnt = np.bincount(fs, minlength=n)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = np.bincount(fs, weights=v, minlength=n) / cnt
        std = np.sqrt(np.maximum(np.bincount(fs, weights=v * v, minlength=n) / cnt - mean * mean, 0.0))
    lo, hi = (mean - sigma * std)[seg], (mean + sigma * std)[seg]
    keep = (masked >= lo) & (masked <= hi)
    return np.where(keep & fin, masked, np.nan)


def resegment(masked: np.ndarray, raw: np.ndarray, intensity_range, sigma, seg=None, n: int = 1):
    """Range first, then outlier (reference: resegmentation.py:214-231)."""
    out = resegment_range(masked, raw, intensity_range)
    return resegment_outlier(out, sigma, seg, n)


def discretize_fbs(x: np.ndarray, bin_size: float, minimum: float | None = None, seg=None, n: int = 1):
    """Fixed-bin-size: floor((x - min)/w) + 1, ``min`` the segment's own
    minimum unless an anchor is given.

    Reference: zrad/preprocessing/discretization.py:62-69.
    """
    if minimum is None:
        seg = one_segment(x) if seg is None else seg
        anchor = seg_nanmin(x, seg, n)[seg]
    else:
        anchor = minimum
    return np.floor((x - anchor) / bin_size) + 1


def discretize_fbn(x: np.ndarray, n_bins: int, seg=None, n: int = 1) -> np.ndarray:
    """Fixed-bin-number: floor(N*(x-min)/(max-min)) + 1, max -> N;
    degenerate range -> all ones.

    Reference: zrad/preprocessing/discretization.py:117-137. The min/max are
    those of the already-cutoff-filtered population — per (entity, as_of)
    segment — which is what makes naive global min/max a temporal leak.
    """
    seg = one_segment(x) if seg is None else seg
    minimum = seg_nanmin(x, seg, n)[seg]
    maximum = seg_nanmax(x, seg, n)[seg]
    with np.errstate(invalid="ignore", divide="ignore"):
        binned = np.where(
            x != maximum,
            np.floor(n_bins * (x - minimum) / (maximum - minimum)) + 1,
            float(n_bins),
        )
    return np.where(maximum == minimum, np.where(np.isnan(x), np.nan, 1.0), binned)


def ivh_prepare(masked: np.ndarray, method: str, n_bins=None, bin_size=None, minimum=None,
                seg=None, n: int = 1):
    """IVH image + per-segment (min, max) + step per reference pathway
    (scalars when ``seg`` is None).

    Reference: IVHIntensityDiscretizer (discretization.py:411-444) and
    prepare IVH params (zrad/radiomics/extraction_preparation.py:89-117):

    * direct: raw values, step 1, min/max observed
    * fixed_bin_number: FBN grey levels, range [1, n_bins], step 1
    * fixed_bin_size: bin centers min + (g - 0.5)*w, step = bin_size
    """
    single = seg is None
    seg = one_segment(masked) if single else seg
    if method == "direct":
        arr, step = masked, 1.0
        lo, hi = seg_nanmin(arr, seg, n), seg_nanmax(arr, seg, n)
    elif method == "fixed_bin_number":
        arr, step = discretize_fbn(masked, int(n_bins), seg, n), 1.0
        lo, hi = np.full(n, 1.0), np.full(n, float(n_bins))
    elif method == "fixed_bin_size":
        anchor = seg_nanmin(masked, seg, n)[seg] if minimum is None else minimum
        step = float(bin_size)
        arr = anchor + (discretize_fbs(masked, step, anchor) - 0.5) * step
        lo, hi = seg_nanmin(arr, seg, n), seg_nanmax(arr, seg, n)
    else:
        raise ValueError(f"bad ivh method {method}")
    if single:
        return arr, float(lo[0]), float(hi[0]), step
    return arr, lo, hi, step


def session_breaks(ts_us: np.ndarray, gap_seconds: float, seg=None) -> np.ndarray:
    """True where a new session starts: the first turn of each segment,
    and every turn whose gap to the previous turn exceeds gap_seconds."""
    brk = np.ones(ts_us.size, dtype=bool)
    if ts_us.size > 1:
        brk[1:] = np.diff(ts_us.astype(np.int64)) > gap_seconds * 1e6
        if seg is not None:
            brk[1:] |= seg[1:] != seg[:-1]
    return brk


def sessionize(ts_us: np.ndarray, gap_seconds: float, seg=None, n: int = 1) -> np.ndarray:
    """Gap-based session ids (0-based within each segment) over a sorted
    int64 microsecond axis.

    The temporal analogue of Z-Rad's slice decomposition
    (zrad/radiomics/glcm.py:154-166): session = contiguous sub-sequence with
    inter-turn gaps <= gap_seconds.
    """
    if ts_us.size == 0:
        return np.zeros(0, dtype=np.int64)
    running = np.cumsum(session_breaks(ts_us, gap_seconds, seg)) - 1
    if seg is None:
        return running
    start, _ = seg_bounds(seg, n)
    return running - running[np.minimum(start, ts_us.size - 1)][seg]


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
    (zrad/radiomics/texture_base.py:320-324, 371-374); a change of
    ``session`` (none when it is None; any id array, e.g. texture units)
    plays the role of the per-slice image border.
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
