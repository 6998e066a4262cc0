"""Convolutional filter kernels — 1-D temporal analogues of Z-Rad's
feature-image producers (zrad/filtering/spatial.py, wavelet.py).

Each takes the per-conversation signal vector (stable order) and returns
the filtered vector; the extractor can then compute any feature family on
the *filtered* signal, mirroring RoiData.feature_image selecting
filtered_image when present (zrad/preprocessing/roi.py:55-64).

Pure NumPy (this container ships no scipy/pywt): Gaussian/LoG taps are
analytic, wavelet filter banks are hard-coded (Haar, db2), Laws kernels
are the published 1-D vectors. All use zero-padded 'same' convolution
(reference mode='constant', cval=0).

Rotation-invariance notes: the reference averages/maxes over kernel
orientations (spatial.py:263-291, wavelet.py:217-304); in 1-D the
orientation group degenerates to {identity, reversal}, so symmetric
kernels are automatically invariant and asymmetric ones (Laws E/W,
wavelet H) average the forward and reversed responses.
"""

from __future__ import annotations

import numpy as np

# Laws 1-D kernels, support 5 (zrad/filtering/spatial.py:215-236)
LAWS_KERNELS = {
    "L5": np.array([1, 4, 6, 4, 1], dtype=float) / np.sqrt(70.0),
    "E5": np.array([-1, -2, 0, 2, 1], dtype=float) / np.sqrt(10.0),
    "S5": np.array([-1, 0, 2, 0, -1], dtype=float) / np.sqrt(6.0),
    "W5": np.array([-1, 2, 0, -2, 1], dtype=float) / np.sqrt(10.0),
    "R5": np.array([1, -4, 6, -4, 1], dtype=float) / np.sqrt(70.0),
    "L3": np.array([1, 2, 1], dtype=float) / np.sqrt(6.0),
    "E3": np.array([-1, 0, 1], dtype=float) / np.sqrt(2.0),
    "S3": np.array([-1, 2, -1], dtype=float) / np.sqrt(6.0),
}

# wavelet decomposition low-pass taps (pywt.Wavelet(name).dec_lo order);
# the high-pass is derived by the orthogonal QMF relation below, exactly
# as pywt constructs dec_hi. Families beyond these built-ins resolve via
# pywt when it is importable (reference accepts any pywt family name:
# zrad/filtering/wavelet.py:127-304).
WAVELET_DEC_LO = {
    "haar": [0.7071067811865476, 0.7071067811865476],
    "db2": [-0.12940952255092145, 0.22414386804185735, 0.836516303737469, 0.48296291314469025],
    "db3": [
        0.035226291882100656, -0.08544127388224149, -0.13501102001039084,
        0.4598775021193313, 0.8068915093133388, 0.3326705529509569,
    ],
    "db4": [
        -0.010597401784997278, 0.032883011666982945, 0.030841381835986965,
        -0.18703481171888114, -0.02798376941698385, 0.6308807679295904,
        0.7148465705525415, 0.23037781330885523,
    ],
    "sym4": [
        -0.07576571478927333, -0.02963552764599851, 0.49761866763201545,
        0.8037387518059161, 0.29785779560527736, -0.09921954357684722,
        -0.012603967262037833, 0.0322231006040427,
    ],
    "coif1": [
        -0.01565572813546454, -0.0727326195128539, 0.38486484686420286,
        0.8525720202122554, 0.3378976624578092, -0.0727326195128539,
    ],
}


def _qmf_hi(dec_lo: np.ndarray) -> np.ndarray:
    """Orthogonal QMF high-pass from the low-pass:
    dec_hi[k] = (-1)^(k+1) * dec_lo[n-1-k] (pywt convention)."""
    n = dec_lo.size
    signs = np.where(np.arange(n) % 2 == 0, -1.0, 1.0)
    return signs * dec_lo[::-1]


def wavelet_bank(wavelet: str) -> tuple[np.ndarray, np.ndarray]:
    """(dec_lo, dec_hi) for a wavelet family: built-in coefficient tables
    first, any other pywt family name via pywt when installed."""
    if wavelet in WAVELET_DEC_LO:
        lo = np.array(WAVELET_DEC_LO[wavelet])
        return lo, _qmf_hi(lo)
    try:
        import pywt
    except ImportError:
        raise ValueError(
            f"unknown wavelet {wavelet!r}; built-ins: {sorted(WAVELET_DEC_LO)} "
            "(install pywt to use any pywt.Wavelet family name)"
        ) from None
    w = pywt.Wavelet(wavelet)
    return np.asarray(w.dec_lo, dtype=float), np.asarray(w.dec_hi, dtype=float)


# backwards-compatible view of the built-in banks
WAVELET_BANKS = {name: wavelet_bank(name) for name in WAVELET_DEC_LO}


def _conv_same_zero(x: np.ndarray, k: np.ndarray) -> np.ndarray:
    """'same'-size correlation with zero padding outside the sequence,
    centered like scipy.ndimage.convolve(mode='constant')."""
    n = x.size
    m = k.size
    lpad = m // 2
    rpad = m - 1 - lpad
    xp = np.concatenate([np.zeros(lpad), np.nan_to_num(x, nan=0.0), np.zeros(rpad)])
    # correlation (ndimage.convolve flips; our kernels are given in tap
    # order so use np.convolve with the reversed kernel for correlation)
    out = np.convolve(xp, k[::-1], mode="valid")
    assert out.size == n
    return out


def mean_filter(x: np.ndarray, support: int = 5) -> np.ndarray:
    """Box average (zrad/filtering/spatial.py:11-64), support^1 kernel."""
    k = np.ones(support) / support
    return _conv_same_zero(x, k)


def log_taps(sigma: float = 1.5, cutoff: float = 4.0) -> np.ndarray:
    """LoG kernel taps — exported so the declarative window-expression path
    (operators/filtering.py) and the DuckDB oracles share the exact
    coefficients with this kernel."""
    r = int(np.ceil(cutoff * sigma))
    t = np.arange(-r, r + 1, dtype=float)
    g = np.exp(-(t**2) / (2 * sigma**2))
    g /= g.sum()
    lap = g * (t**2 - sigma**2) / sigma**4
    lap -= lap.mean()  # zero-sum like the discrete LoG
    return lap


def log_filter(x: np.ndarray, sigma: float = 1.5, cutoff: float = 4.0) -> np.ndarray:
    """Laplacian-of-Gaussian (zrad/filtering/spatial.py:67-141): the 1-D
    second derivative of the normalized Gaussian."""
    return _conv_same_zero(x, log_taps(sigma, cutoff))


def laws_filter(x: np.ndarray, kernel: str = "E5", invariance: str = "avg", energy_support: int | None = None) -> np.ndarray:
    """Laws kernel response with 1-D rotation invariance = avg/max of the
    forward and reversed kernels (spatial.py:263-291 degenerate case);
    optional energy map = rolling mean of |response| (spatial.py:300-313)."""
    k = LAWS_KERNELS[kernel]
    fwd = _conv_same_zero(x, k)
    rev = _conv_same_zero(x, k[::-1])
    if invariance == "avg":
        out = (fwd + rev) / 2.0
    elif invariance == "max":
        out = np.maximum(fwd, rev)
    else:
        out = fwd
    if energy_support:
        out = mean_filter(np.abs(out), energy_support)
    return out


def gabor_taps(sigma: float = 2.0, wavelength: float = 4.0, cutoff: float = 3.0):
    """(real, imag) Gabor taps, shared with the declarative path/oracles."""
    r = int(np.ceil(cutoff * sigma))
    t = np.arange(-r, r + 1, dtype=float)
    env = np.exp(-(t**2) / (2 * sigma**2))
    re = env * np.cos(2 * np.pi * t / wavelength)
    im = env * np.sin(2 * np.pi * t / wavelength)
    return re, im


def gabor_filter(x: np.ndarray, sigma: float = 2.0, wavelength: float = 4.0, cutoff: float = 3.0) -> np.ndarray:
    """Complex Gabor magnitude (spatial.py:316-444): modulated Gaussian;
    |real + i*imag| via hypot like the reference (spatial.py:432-434)."""
    re, im = gabor_taps(sigma, wavelength, cutoff)
    return np.hypot(_conv_same_zero(x, re), _conv_same_zero(x, im))


def laws_taps(kernel: str = "S5", invariance: str = "avg") -> np.ndarray:
    """Effective Laws taps after 1-D rotation invariance. 'avg' folds the
    forward/reversed average into one kernel by linearity (only 'avg' and
    'none' are linear; 'max' stays kernel-only)."""
    k = LAWS_KERNELS[kernel]
    return (k + k[::-1]) / 2.0 if invariance == "avg" else k


def wavelet_taps(wavelet: str = "haar", band: str = "H", level: int = 1, invariance: str = "avg") -> np.ndarray:
    """Effective wavelet taps (à-trous-stuffed, invariance-folded)."""
    lo, hi = wavelet_bank(wavelet)
    k = _atrous(lo if band == "L" else hi, level)
    return (k + k[::-1]) / 2.0 if invariance == "avg" else k


def _atrous(k: np.ndarray, level: int) -> np.ndarray:
    """à-trous zero-stuffing for level-2+ decompositions
    (zrad/filtering/wavelet.py:84-87)."""
    if level <= 1:
        return k
    stuffed = np.zeros((k.size - 1) * 2 ** (level - 1) + 1)
    stuffed[:: 2 ** (level - 1)] = k
    return stuffed


def wavelet_filter(x: np.ndarray, wavelet: str = "haar", band: str = "H", level: int = 1, invariance: str = "avg") -> np.ndarray:
    """Undecimated wavelet response (zrad/filtering/wavelet.py:8-124):
    L (approximation) or H (detail) filter taps convolved over the signal;
    level-2 uses the zero-stuffed kernel; invariance averages forward and
    reversed responses (the 1-D rotation group)."""
    lo, hi = wavelet_bank(wavelet)
    k = _atrous(lo if band == "L" else hi, level)
    fwd = _conv_same_zero(x, k)
    if invariance == "avg":
        rev = _conv_same_zero(x, k[::-1])
        return (fwd + rev) / 2.0
    return fwd


FILTERS = {
    "mean": mean_filter,
    "log": log_filter,
    "laws": laws_filter,
    "gabor": gabor_filter,
    "wavelet": wavelet_filter,
}


def apply_filter(x: np.ndarray, name: str, **params) -> np.ndarray:
    return FILTERS[name](x, **params)
