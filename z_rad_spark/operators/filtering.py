"""Declarative filter operators (JVM window expressions).

Every linear kernel (mean/LoG/Laws-avg/Gabor/wavelet) is expressible as a
window expression: filtered[i] = sum_o tap[o] * signal[i+o] with
zero-padding outside the conversation — lag/lead + COALESCE(., 0), all
whole-stage-codegen, no Python in the hot path. The taps come from
z_rad_spark/kernels/filters.py so this path, the grouped-map kernel path,
and the DuckDB oracles share the exact coefficients; the two engine paths
are value-identical and tested against each other.

Scale note: one conversation's filter is one window partition — a single
sort per conversation reused by all taps (Catalyst collapses same-window
lag/lead into one Window node). Division is by the FULL support for the
mean filter (zero-padding semantics), matching the reference's
mode='constant' convolve (zrad/filtering/spatial.py:11-64).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.filters import gabor_taps, laws_taps, log_taps, wavelet_taps
from .skew import conv_window



def with_mean_filter(
    df: DataFrame, support: int = 5, signal_col: str = "signal", out: str = "signal_filt"
) -> DataFrame:
    half = support // 2
    w = conv_window().rowsBetween(-half, support - 1 - half)
    return df.withColumn(out, F.sum(F.col(signal_col)).over(w) / support)


def _tap_sum(signal_col: str, taps: np.ndarray) -> F.Column:
    """sum_j taps[j] * signal[i + j - lpad], zero-padded — the declarative
    twin of kernels.filters._conv_same_zero (correlation, 'same' size)."""
    w = conv_window()
    lpad = taps.size // 2
    expr = F.lit(0.0)
    for j, wgt in enumerate(taps):
        if wgt == 0.0:
            continue
        o = j - lpad
        shifted = F.lead(signal_col, o).over(w) if o >= 0 else F.lag(signal_col, -o).over(w)
        expr = expr + F.coalesce(shifted.cast("double"), F.lit(0.0)) * float(wgt)
    return expr


def with_conv_filter(
    df: DataFrame, taps: np.ndarray, signal_col: str = "signal", out: str = "signal_filt"
) -> DataFrame:
    """Generic linear FIR filter as one window expression."""
    return df.withColumn(out, _tap_sum(signal_col, taps))


def with_log_filter(
    df: DataFrame, sigma: float = 1.5, cutoff: float = 4.0,
    signal_col: str = "signal", out: str = "signal_filt",
) -> DataFrame:
    return with_conv_filter(df, log_taps(sigma, cutoff), signal_col, out)


def with_laws_filter(
    df: DataFrame, kernel: str = "S5", invariance: str = "avg",
    energy_support: int | None = None, signal_col: str = "signal", out: str = "signal_filt",
) -> DataFrame:
    """Laws response; optional energy map = rolling mean of |response|
    (zrad/filtering/spatial.py:300-313)."""
    resp = _tap_sum(signal_col, laws_taps(kernel, invariance))
    if not energy_support:
        return df.withColumn(out, resp)
    half = energy_support // 2
    we = conv_window().rowsBetween(-half, energy_support - 1 - half)
    df = df.withColumn("_resp_abs", F.abs(resp))
    return df.withColumn(out, F.sum("_resp_abs").over(we) / energy_support).drop("_resp_abs")


def with_gabor_filter(
    df: DataFrame, sigma: float = 2.0, wavelength: float = 4.0, cutoff: float = 3.0,
    signal_col: str = "signal", out: str = "signal_filt",
) -> DataFrame:
    re, im = gabor_taps(sigma, wavelength, cutoff)
    return df.withColumn(out, F.hypot(_tap_sum(signal_col, re), _tap_sum(signal_col, im)))


def with_wavelet_filter(
    df: DataFrame, wavelet: str = "haar", band: str = "H", level: int = 1,
    invariance: str = "avg", signal_col: str = "signal", out: str = "signal_filt",
) -> DataFrame:
    return with_conv_filter(df, wavelet_taps(wavelet, band, level, invariance), signal_col, out)
