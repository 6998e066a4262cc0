"""Segment independence of the batched flagship kernel (no Spark).

The extractor lays every (conversation, cutoff) prefix of a bucket end
to end and computes all of them in one call. Each output row must be
byte-equal — NaN and -0.0 bits included — to the same prefix computed
alone (``compute_one``), so no statistic, lag pair, run, zone or
neighbourhood leaks across a segment border.
"""

import numpy as np
import pytest

from z_rad_spark import extractor
from z_rad_spark.config import FeatureConfig

T0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
HOUR = 3_600_000_000
ROLES = ("user", "assistant", "tool")


def random_bucket(seed: int, n_convs: int = 8):
    """A sorted bucket of 1-90-turn conversations: bursts split by
    session gaps, 0-50 % ineligible turns, duplicate timestamps."""
    rng = np.random.default_rng(seed)
    parts = []
    for c in range(n_convs):
        n = int(rng.integers(1, 91))
        gaps = rng.exponential(300.0, n)
        gaps[rng.random(n) < 0.15] += rng.uniform(2_000.0, 20_000.0)
        gaps[rng.random(n) < 0.1] = 0.0
        ts = T0 + int(rng.integers(0, 48)) * HOUR + np.cumsum(gaps * 1e6).astype(np.int64)
        role = rng.integers(0, 4, n)
        parts.append({
            "conv_id": np.full(n, f"c{seed}_{c}", dtype=object),
            "ts": ts,
            "signal": rng.integers(0, 40, n).astype(np.float64),
            "eligible": rng.random(n) >= rng.uniform(0.0, 0.5),
            "role_code": role.astype(np.int64),
            "has_tool": role == 3,
        })
    cols = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    sizes = np.array([p["ts"].size for p in parts])
    ends = np.cumsum(sizes)
    cuts = [T0 + 30 * HOUR, T0 + 60 * HOUR, T0 + 400 * HOUR]
    return cols, ends - sizes, ends, cuts


def _bits(x) -> np.ndarray:
    return np.asarray(x, dtype=np.float64).view(np.int64)


def assert_rows_match_alone(cfg: FeatureConfig, seed: int):
    cols, starts, ends, cuts = random_bucket(seed)
    out = extractor._make_kernel(cfg, cuts)(cols, starts, ends)
    keys = [k for k in out if k not in ("conv_id", "as_of")]
    row = 0
    for s, e in zip(starts, ends):
        for cut in cuts:
            hi = s + int(np.searchsorted(cols["ts"][s:e], cut, side="right"))
            alone = extractor.compute_one(
                cols["ts"][s:hi], cols["signal"][s:hi], cols["eligible"][s:hi],
                cols["role_code"][s:hi], cols["has_tool"][s:hi], cfg,
            )
            assert out["conv_id"][row] == cols["conv_id"][s]
            assert out["as_of"][row] == np.datetime64(cut, "us")
            for k in keys:
                assert _bits(out[k][row]) == _bits(alone[k]), (k, row, out[k][row], alone[k])
            row += 1
    assert row == len(out["n_turns"])


CONFIGS = {
    "3D_MERG_direct": dict(),
    "3D_AVER_fbn": dict(aggr_method="AVER", n_bins=6),
    "3D_DIR_MERG_fbs": dict(aggr_method="DIR_MERG", bin_size=3.0),
    "3D_SLICE_MERG": dict(aggr_method="SLICE_MERG", lags=(1, 3)),
    "3D_AVER_median": dict(aggr_method="AVER", slice_median=True),
    "2.5D_MERG_fbn_outlier": dict(aggr_dim="2.5D", n_bins=5, outlier_sigma=1.5),
    "2.5D_AVER_range": dict(aggr_dim="2.5D", aggr_method="AVER", intensity_range=(2.0, 30.0)),
    "2.5D_DIR_MERG_fbs_range": dict(
        aggr_dim="2.5D", aggr_method="DIR_MERG", bin_size=2.0, intensity_range=(1.0, 35.0)),
    "2D_AVER": dict(aggr_dim="2D", aggr_method="AVER"),
    "2D_AVER_weight_fbn": dict(aggr_dim="2D", aggr_method="AVER", slice_weight=True, n_bins=8),
    "2D_AVER_median_fbs": dict(aggr_dim="2D", aggr_method="AVER", slice_median=True, bin_size=4.0),
    "2D_SLICE_MERG_weight": dict(aggr_dim="2D", aggr_method="SLICE_MERG", slice_weight=True),
    "2D_DIR_MERG_median_outlier": dict(
        aggr_dim="2D", aggr_method="DIR_MERG", slice_median=True, outlier_sigma=2.0, n_bins=7),
    "2D_MERG_range_outlier": dict(
        aggr_dim="2D", aggr_method="MERG", intensity_range=(3.0, 25.0), outlier_sigma=1.0,
        min_turns=1),
    "ivh_fbn": dict(ivh_method="fixed_bin_number", ivh_n_bins=10, n_bins=10),
    "ivh_fbs_range": dict(ivh_method="fixed_bin_size", ivh_bin_size=2.5, intensity_range=(1.0, 35.0)),
    "filter_log_fbn": dict(filter_name="log", filter_params=(("sigma", 1.5),), n_bins=8),
    "moran_2.5D": dict(enable_moran=True, aggr_dim="2.5D", aggr_method="AVER"),
}


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_batched_rows_equal_segments_alone(name):
    cfg = FeatureConfig(eligible_roles=ROLES, gap_seconds=1800.0, **CONFIGS[name])
    for seed in (0, 1):
        assert_rows_match_alone(cfg, seed)


def test_chunked_bucket_equals_one_call(monkeypatch):
    """Chunks of whole conversations under the element bound give the
    same columns as one call over the whole bucket."""
    cfg = FeatureConfig(eligible_roles=ROLES, aggr_dim="2D", aggr_method="AVER", n_bins=6)
    cols, starts, ends, cuts = random_bucket(5)
    whole = extractor._make_kernel(cfg, cuts)(cols, starts, ends)
    monkeypatch.setattr(extractor, "CHUNK_ELEMENTS", 40)
    chunked = extractor._make_kernel(cfg, cuts)(cols, starts, ends)
    assert list(chunked) == list(whole)
    for k in whole:
        if k in ("conv_id", "as_of"):
            assert (chunked[k] == whole[k]).all()
        else:
            assert (_bits(chunked[k]) == _bits(whole[k])).all(), k
