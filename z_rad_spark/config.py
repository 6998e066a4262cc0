"""Frozen extraction configuration — the engine's logical "query".

Mirrors the reference's frozen ExtractionContext
(zrad/radiomics/extraction_context.py:7-75) and the GUI config dict
(zrad/gui/rad_tab.py:307-333), re-expressed for the temporal domain:

===========================  =================================================
Z-Rad concept                transcript-engine knob
===========================  =================================================
aggr_dim 2D/2.5D/3D          per-session / merged-across-sessions / whole-conv
aggr_method AVER/MERG/...    feature-then-average vs merge-matrices-then-feature
directions (4 / 13 offsets)  temporal lag set (default (1, 2, 3, 4))
ROI mask                     role/tool eligibility predicate
resegmentation range/sigma   signal range filter + mean±kσ outlier filter
FBS / FBN discretization     same formulas per (entity, cutoff)
RoiMaskValidator min voxels  min_turns guard (null features, not exceptions)
===========================  =================================================
"""

from __future__ import annotations

from dataclasses import dataclass, field

ALL_FAMILIES = (
    "stats",
    "hist",
    "ivh",
    "local",
    "shape",
    "glcm",
    "glrlm",
    "glszm",
    "gldzm",
    "ngtdm",
    "ngldm",
)

AGGR_METHOD_SUFFIX = {
    "AVER": "avg",
    "DIR_MERG": "avg",
    "SLICE_MERG": "comb",
    "MERG": "comb",
}


def normalized_aggr_dim(aggr_dim: str) -> str:
    return "2_5D" if aggr_dim == "2.5D" else aggr_dim


@dataclass(frozen=True)
class FeatureConfig:
    # signal + eligibility (the "ROI")
    signal: str = "token_count"
    eligible_roles: tuple | None = None  # None = every role eligible
    # sessionization (the "slice" axis): a new session starts when the gap
    # to the previous turn exceeds this many seconds
    gap_seconds: float = 1800.0
    # texture aggregation (reference: zrad/radiomics/extractor.py:36-45)
    aggr_dim: str = "3D"  # {2D, 2.5D, 3D}
    aggr_method: str = "MERG"  # {AVER, MERG, SLICE_MERG, DIR_MERG}
    lags: tuple = (1, 2, 3, 4)
    slice_weight: bool = False
    slice_median: bool = False
    # resegmentation (reference: zrad/preprocessing/resegmentation.py:22-231)
    intensity_range: tuple | None = None  # (lower, upper) inclusive
    outlier_sigma: float | None = None
    # texture discretization: exactly one of bin_size / n_bins, or None for
    # direct integer signals (token counts are already small ints)
    bin_size: float | None = None
    n_bins: int | None = None
    # IVH (reference: zrad/preprocessing/discretization.py:359-444)
    ivh_method: str = "direct"  # {direct, fixed_bin_size, fixed_bin_number}
    ivh_n_bins: int | None = None
    ivh_bin_size: float | None = None
    # convolutional filter producing the feature signal (reference:
    # zrad/filtering/factory.py:6-75; RoiData.feature_image selects the
    # filtered image when present, zrad/preprocessing/roi.py:55-64).
    # name in {mean, log, laws, gabor, wavelet}; params as (key, value)
    # pairs to stay hashable, e.g. (("sigma", 2.0),)
    filter_name: str | None = None
    filter_params: tuple = ()
    # opt-in O(n^2) temporal autocorrelation block (reference default-off
    # morphology_correlation: zrad/radiomics/extractor.py:30-32)
    enable_moran: bool = False
    # guards (reference analogue: zrad/preprocessing/masks.py:57-59)
    min_turns: int = 3
    # local-intensity rolling radius, in turns (reference radius is 6.2 mm:
    # zrad/radiomics/intensity.py:49)
    local_radius: int = 3
    families: tuple = field(default=ALL_FAMILIES)

    def __post_init__(self):
        if self.aggr_dim not in ("2D", "2.5D", "3D"):
            raise ValueError(f"bad aggr_dim {self.aggr_dim}")
        if self.aggr_method not in AGGR_METHOD_SUFFIX:
            raise ValueError(f"bad aggr_method {self.aggr_method}")
        if self.slice_weight and self.slice_median:
            raise ValueError("weighted median is not supported for texture aggregation")
        if self.bin_size is not None and self.n_bins is not None:
            raise ValueError("specify at most one of bin_size / n_bins")
        unknown = set(self.families) - set(ALL_FAMILIES)
        if unknown:
            raise ValueError(f"unknown families {unknown}")

    @property
    def cm_suffix(self) -> str:
        """Suffix for GLCM/GLRLM names (reference: texture_aggregation.py:13-16)."""
        return f"{normalized_aggr_dim(self.aggr_dim)}_{AGGR_METHOD_SUFFIX[self.aggr_method]}"

    @property
    def dim_suffix(self) -> str:
        """Suffix for the other texture families (texture_aggregation.py:19-21)."""
        return normalized_aggr_dim(self.aggr_dim)
