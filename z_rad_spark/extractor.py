"""The point-in-time feature extractor — the engine's flagship operator.

Logical plan (all declarative until the single grouped-map kernel)::

    transcripts scan
      -> ts <= max(cutoffs) filter            (predicate pushdown to scan)
      -> signal + eligibility columns          (whole-stage codegen)
      -> skew.map_conversations(kernel)        (hash buckets of conv_id: one
                                               Arrow batch per bucket, each
                                               conversation a sorted slice)
      -> wide feature row per (conv_id, as_of)

Scale notes
-----------
* The shuffle key is a hash bucket of ``conv_id``, the one layout every
  grouped kernel in the engine shares (operators/skew.map_conversations):
  a conversation is never split, and one kernel call covers a bucket.
* All cutoffs for a conversation are swept in ONE pass over its sorted
  turns (prefix views of a single sort), so the cost is
  O(turns + cutoffs * kernel) per entity, not O(turns * cutoffs).
* Skewed giant conversations: see operators/skew.py (salted partial
  pre-aggregation). The kernel itself is O(turns) with small constants.
* Temporal-leakage safety is structural: the kernel receives only rows
  with ts <= max(cutoff), and each per-cutoff computation slices
  ts <= cutoff before anything else (verified by the perturbation
  property test in tests/test_leakage.py).

Reference lifecycle being re-expressed: Radiomics.extract_features
(zrad/radiomics/extractor.py:71-155) + the per-patient joblib map
(zrad/gui/rad_tab.py:36-117, 377-391) -> Spark tasks over conv groups.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import FeatureConfig
from .kernels import firstorder, prep, shape, texture
from .operators.skew import map_conversations
from .transcripts import with_signal

ROLE_CODE = {"user": 0, "assistant": 1, "system": 2, "tool": 3}


def feature_names(cfg: FeatureConfig) -> list[str]:
    """Ordered output feature names for a config (suffix conventions per
    zrad/radiomics/texture_aggregation.py:13-21)."""
    names: list[str] = []
    fam = cfg.families
    if "stats" in fam:
        names += list(firstorder.STATS_NAMES)
    if "hist" in fam:
        names += list(firstorder.HIST_NAMES)
    if "ivh" in fam:
        names += list(firstorder.IVH_NAMES)
    if "local" in fam:
        names += list(firstorder.LOCAL_NAMES)
    if "shape" in fam:
        names += list(shape.SHAPE_NAMES)
        if cfg.enable_moran:
            names += list(shape.MORAN_NAMES)
    sfx = _texture_suffixes(cfg)
    for f, tex in texture.FAMILIES.items():
        if f in fam:
            names += [f"{n}_{sfx[tex.suffix]}" for n in tex.names]
    return names


def _texture_suffixes(cfg: FeatureConfig) -> dict:
    return {"cm": cfg.cm_suffix, "dim": cfg.dim_suffix}


def output_schema(cfg: FeatureConfig) -> T.StructType:
    fields = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("as_of", T.TimestampType(), False),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("n_eligible", T.LongType(), True),
        T.StructField("n_bins", T.LongType(), True),
    ]
    fields += [T.StructField(n, T.DoubleType(), True) for n in feature_names(cfg)]
    return T.StructType(fields)


def compute_one(
    ts_us: np.ndarray,
    signal: np.ndarray,
    eligible: np.ndarray,
    role_codes: np.ndarray,
    tool_mask: np.ndarray,
    cfg: FeatureConfig,
) -> dict:
    """Feature vector for ONE (conversation, as_of) — the prepared arrays
    are already cutoff-filtered and in stable (ts, turn_idx) order.

    This is the analogue of Radiomics.extract_features on one RoiData
    (zrad/radiomics/extractor.py:71-155): shared intermediates (masked
    signal, grey levels, sessions) are prepared once and reused by every
    requested family, like prepare_extraction_data
    (zrad/radiomics/extraction_preparation.py:18-56).
    """
    out: dict = {}
    n = ts_us.size
    out["n_turns"] = int(n)

    # feature signal: optionally filter-convolved (inside the cutoff slice,
    # so the filter window can never read post-cutoff turns)
    if cfg.filter_name is not None:
        from .kernels.filters import apply_filter

        feature_signal = apply_filter(signal, cfg.filter_name, **dict(cfg.filter_params))
    else:
        feature_signal = signal

    # intensity mask: feature signal where eligible else NaN (roi.py:88-119)
    masked = prep.apply_eligibility(feature_signal, eligible)
    # resegmentation: range on raw signal, then outlier on current mask
    masked = prep.resegment(masked, signal, cfg.intensity_range, cfg.outlier_sigma)
    n_eligible = int(np.sum(~np.isnan(masked)))
    out["n_eligible"] = n_eligible

    names = feature_names(cfg)
    if n_eligible < cfg.min_turns:
        # min-turn guard: null features, not exceptions (masks.py:57-59)
        out.update({k: np.nan for k in names})
        out["n_bins"] = 0
        return out

    sessions = prep.sessionize(ts_us, cfg.gap_seconds)

    # texture discretization (TextureDiscretizer, discretization.py:333-356);
    # FBS anchors at the resegmentation lower bound when configured
    if cfg.bin_size is not None:
        anchor = cfg.intensity_range[0] if cfg.intensity_range else None
        grey = prep.discretize_fbs(masked, cfg.bin_size, anchor)
    elif cfg.n_bins is not None:
        grey = prep.discretize_fbn(masked, cfg.n_bins)
    else:
        grey = masked  # direct: signal already small positive ints
    valid_grey = grey[~np.isnan(grey)]
    out["n_bins"] = int(np.unique(valid_grey).size) if valid_grey.size else 0

    fam = cfg.families
    if "stats" in fam:
        out.update(firstorder.stats_features(masked))
    if "hist" in fam:
        out.update(firstorder.hist_features(grey))
    if "ivh" in fam:
        ivh_arr, lo, hi, step = prep.ivh_prepare(
            masked,
            cfg.ivh_method,
            n_bins=cfg.ivh_n_bins,
            bin_size=cfg.ivh_bin_size,
            minimum=cfg.intensity_range[0] if cfg.intensity_range else None,
        )
        out.update(firstorder.ivh_features(ivh_arr, lo, hi, step))
    if "local" in fam:
        out.update(firstorder.local_features(feature_signal, masked, cfg.local_radius))
    if "shape" in fam:
        out.update(shape.shape_features(ts_us, eligible, sessions, role_codes, tool_mask, masked))
        if cfg.enable_moran:
            out.update(shape.moran_geary(ts_us, masked))

    tex = [f for f in texture.FAMILIES if f in fam]
    if tex:
        sfx = _texture_suffixes(cfg)
        vals = texture.texture_features(
            tex, grey, eligible, sessions, cfg.lags, cfg.aggr_dim, cfg.aggr_method,
            cfg.slice_weight, cfg.slice_median,
        )
        for f, v in vals.items():
            s = sfx[texture.FAMILIES[f].suffix]
            out.update({f"{k}_{s}": x for k, x in v.items()})
    return out


def _make_kernel(cfg: FeatureConfig, cutoffs_us: list[int]):
    """Kernel over one bucket of conversations (skew.map_conversations):
    each conversation arrives as a sorted slice, and the cutoff sweep
    shares that one sort (np.searchsorted prefixes)."""

    def kernel(cols: dict, starts, ends) -> list[dict]:
        conv = cols["conv_id"]
        ts_us = cols["ts"]
        signal = cols["signal"].astype(np.float64, copy=False)
        eligible = cols["eligible"].astype(bool, copy=False)
        role_codes = cols["role_code"].astype(np.int64, copy=False)
        tool_mask = cols["has_tool"].astype(bool, copy=False)

        rows = []
        n_failed = 0
        first_err: Exception | None = None
        first_err_conv = None
        for s, e in zip(starts, ends):
            t_slice = ts_us[s:e]
            conv_id = conv[s]
            for cut in cutoffs_us:
                hi = s + int(np.searchsorted(t_slice, cut, side="right"))
                row = {"conv_id": conv_id, "as_of": np.datetime64(cut, "us")}
                try:
                    row.update(
                        compute_one(
                            ts_us[s:hi], signal[s:hi], eligible[s:hi],
                            role_codes[s:hi], tool_mask[s:hi], cfg,
                        )
                    )
                except Exception as ex:
                    # per-entity error isolation (rad_tab.py:109-112 skip &
                    # log analogue): one bad conversation must not fail the
                    # task at 10^8-entity scale — emit a null feature row,
                    # but COUNT it and log the first exception per bucket so
                    # a systematic kernel bug surfaces as a diagnosable
                    # null-row storm, not silence
                    row.update({"n_turns": int(hi - s)})
                    n_failed += 1
                    if first_err is None:
                        first_err, first_err_conv = ex, conv_id
                rows.append(row)
        if n_failed:
            import logging

            logging.getLogger("z_rad_spark.extractor").error(
                "feature kernel: %d/%d (conv, cutoff) computations failed in "
                "this bucket; first failure conv_id=%r: %r",
                n_failed, len(rows), first_err_conv, first_err,
            )
        return rows

    return kernel


def prepare_input(df: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """Attach signal / eligibility / role-code columns (pure JVM exprs)."""
    df = with_signal(df, cfg.signal)
    if cfg.eligible_roles is None:
        elig = F.lit(True)
    else:
        elig = F.col("role").isin(*cfg.eligible_roles)
    role_code = F.coalesce(
        *[F.when(F.col("role") == k, F.lit(v)) for k, v in ROLE_CODE.items()],
        F.lit(-1),
    )
    return df.select(
        "conv_id",
        "turn_idx",
        "ts",
        "signal",
        elig.cast("boolean").alias("eligible"),
        role_code.cast("long").alias("role_code"),
        F.col("tool").isNotNull().alias("has_tool"),
    )


def extract_features(df: DataFrame, cfg: FeatureConfig, cutoffs: Iterable) -> DataFrame:
    """Point-in-time feature vectors for every conversation at every cutoff.

    ``cutoffs`` — iterable of timestamps (str / datetime / np.datetime64).
    Returns one wide row per (conv_id, as_of).
    """
    cutoffs_us = sorted(int(np.datetime64(c, "us").astype(np.int64)) for c in cutoffs)
    max_cut = np.datetime64(max(cutoffs_us), "us")

    prepared = prepare_input(df, cfg)
    # structural leakage guard + scan-level pruning: nothing after the last
    # cutoff is ever read by the kernel
    prepared = prepared.filter(F.col("ts") <= F.lit(max_cut.item()))

    kernel = _make_kernel(cfg, cutoffs_us)
    return map_conversations(prepared, kernel, output_schema(cfg))
