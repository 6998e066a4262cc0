"""The point-in-time feature extractor — the engine's flagship operator.

Logical plan (all declarative until the single grouped-map kernel)::

    transcripts scan
      -> ts <= max(cutoffs) filter            (predicate pushdown to scan)
      -> signal + eligibility columns          (whole-stage codegen)
      -> skew.map_conversations(kernel)        (hash buckets of conv_id packed
                                               onto one task per core slot:
                                               one call per bucket, each
                                               conversation a sorted slice)
      -> wide feature row per (conv_id, as_of)

Scale notes
-----------
* The shuffle key is a hash bucket of ``conv_id``, the one layout every
  grouped kernel in the engine shares (operators/skew.map_conversations):
  a conversation is never split, and one kernel call covers a bucket.
  The buckets run on min(buckets, defaultParallelism) tasks, one per
  core slot, so a Python task's fixed setup cost is paid per slot, not
  per bucket; a task carries ceil(buckets / tasks) buckets one after
  another, and the bucket still bounds the memory of one call.
* One batched call per bucket: every (conversation, cutoff) prefix of
  the bucket is a segment (the cutoffs are nested prefixes of one sort),
  laid end to end, and each step — masking, resegmentation,
  discretization, the one value sort of the first-order families, every
  texture family's count cells and reducer — runs once over all
  segments (kernels/prep.py, firstorder.py, shape.py, texture.py). The
  output is column-wise, one array per output column.
* The layout is O(turns x cutoffs) per bucket, so the kernel processes
  whole conversations in chunks of at most ``CHUNK_ELEMENTS`` (2^20)
  elements; a conversation larger than that is a chunk of its own.
* Failure isolation: if a chunk's batched call raises, it is rerun one
  conversation at a time through the same code, and only a conversation
  that raises gets failure rows (n_turns set, every other field NULL),
  counted and logged once per bucket.
* Skewed giant conversations: see operators/skew.py (salted partial
  pre-aggregation).
* Temporal-leakage safety is structural: the kernel receives only rows
  with ts <= max(cutoff), and each segment holds only the turns with
  ts <= its cutoff before anything else is computed (verified by the
  perturbation property test in tests/test_leakage.py); no statistic,
  pair, run or neighbourhood crosses a segment border
  (tests/test_batched_kernel.py).

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


# elements per batched call: a bucket's (conversation, cutoff) prefixes
# are laid end to end, O(turns x cutoffs), and processed in chunks of
# whole conversations under this bound
CHUNK_ELEMENTS = 1 << 20


def compute_segments(ts_us, signal, eligible, role_codes, tool_mask, seg, n, cfg: FeatureConfig) -> dict:
    """Feature columns for ``n`` (conversation, as_of) segments laid end to
    end: segment ``k`` is the elements with ``seg == k`` (``seg``
    nondecreasing), each a cutoff-filtered conversation prefix in stable
    (ts, turn_idx) order. Returns one array per output column
    (``n_turns``, ``n_eligible``, ``n_bins`` and every feature).

    This is the analogue of Radiomics.extract_features on one RoiData
    (zrad/radiomics/extractor.py:71-155), for a whole bucket at once:
    shared intermediates (masked signal, grey levels, sessions, the one
    value sort) are prepared once and reused by every requested family,
    like prepare_extraction_data
    (zrad/radiomics/extraction_preparation.py:18-56).
    """
    names = feature_names(cfg)
    _, n_turns = prep.seg_bounds(seg, n)

    # feature signal: optionally filter-convolved per segment (inside the
    # cutoff slice, so the filter window can never read post-cutoff turns)
    if cfg.filter_name is not None:
        from .kernels.filters import apply_filter

        bounds = np.concatenate(([0], np.cumsum(n_turns)))
        feature_signal = np.concatenate([np.zeros(0)] + [
            apply_filter(signal[a:b], cfg.filter_name, **dict(cfg.filter_params))
            for a, b in zip(bounds[:-1], bounds[1:]) if b > a
        ])
    else:
        feature_signal = signal

    # intensity mask: feature signal where eligible else NaN (roi.py:88-119)
    masked = prep.apply_eligibility(feature_signal, eligible)
    # resegmentation: range on raw signal, then outlier on current mask
    masked = prep.resegment(masked, signal, cfg.intensity_range, cfg.outlier_sigma, seg, n)
    n_eligible = np.bincount(seg[~np.isnan(masked)], minlength=n)
    out = {"n_turns": n_turns, "n_eligible": n_eligible, "n_bins": np.zeros(n, dtype=np.int64)}
    out.update(zip(names, np.full((len(names), n), np.nan)))

    # min-turn guard: null features, not exceptions (masks.py:57-59); a
    # segment without an eligible turn has no features at any min_turns
    act = n_eligible >= max(cfg.min_turns, 1)
    if not act.any():
        return out
    keep = act[seg]
    k = int(act.sum())
    s = (np.cumsum(act) - 1)[seg[keep]]
    ts_us, signal, eligible = ts_us[keep], signal[keep], eligible[keep]
    feature_signal, masked = feature_signal[keep], masked[keep]
    sessions = prep.sessionize(ts_us, cfg.gap_seconds, s, k)

    # texture discretization (TextureDiscretizer, discretization.py:333-356);
    # FBS anchors at the resegmentation lower bound when configured
    if cfg.bin_size is not None:
        anchor = cfg.intensity_range[0] if cfg.intensity_range else None
        grey = prep.discretize_fbs(masked, cfg.bin_size, anchor, s, k)
    elif cfg.n_bins is not None:
        grey = prep.discretize_fbn(masked, cfg.n_bins, s, k)
    else:
        grey = masked  # direct: signal already small positive ints
    # the one value sort; the grey levels and IVH bins keep its order
    values = firstorder.sort_segments(masked, s, k)
    levels = firstorder.sort_like(values, grey, s)
    vals = {"n_bins": np.bincount(firstorder.level_runs(levels)[1], minlength=k)}

    fam = cfg.families
    if "stats" in fam:
        vals.update(firstorder.stats_batch(values))
    if "hist" in fam:
        vals.update(firstorder.hist_batch(levels))
    if "ivh" in fam:
        ivh_arr, lo, hi, step = prep.ivh_prepare(
            masked,
            cfg.ivh_method,
            n_bins=cfg.ivh_n_bins,
            bin_size=cfg.ivh_bin_size,
            minimum=cfg.intensity_range[0] if cfg.intensity_range else None,
            seg=s, n=k,
        )
        vals.update(firstorder.ivh_batch(firstorder.sort_like(values, ivh_arr, s), lo, hi, step))
    if "local" in fam or "shape" in fam:
        start, size = prep.seg_bounds(s, k)
    if "local" in fam:
        mx = values.xs[values.start + values.cnt - 1]
        vals.update(firstorder.local_batch(feature_signal, masked, s, start, size, mx, cfg.local_radius))
    if "shape" in fam:
        vals.update(shape.shape_batch(
            ts_us, eligible, sessions, role_codes[keep], tool_mask[keep], masked, s, k))
        if cfg.enable_moran:
            moran = [shape.moran_geary(ts_us[a:a + m], masked[a:a + m]) for a, m in zip(start, size)]
            vals.update({name: np.array([d[name] for d in moran]) for name in shape.MORAN_NAMES})

    tex = [f for f in texture.FAMILIES if f in fam]
    if tex:
        sfx = _texture_suffixes(cfg)
        got = texture.texture_batch(
            tex, grey, eligible, sessions, s, k, cfg.lags, cfg.aggr_dim, cfg.aggr_method,
            cfg.slice_weight, cfg.slice_median,
        )
        for f, v in got.items():
            x = sfx[texture.FAMILIES[f].suffix]
            vals.update({f"{name}_{x}": col for name, col in v.items()})
    for name, col in vals.items():
        out[name][act] = col
    return out


def compute_one(
    ts_us: np.ndarray,
    signal: np.ndarray,
    eligible: np.ndarray,
    role_codes: np.ndarray,
    tool_mask: np.ndarray,
    cfg: FeatureConfig,
) -> dict:
    """Feature vector for ONE (conversation, as_of): compute_segments of a
    single segment, whose arrays are already cutoff-filtered and in
    stable (ts, turn_idx) order."""
    seg = np.zeros(ts_us.size, dtype=np.int64)
    cols = compute_segments(ts_us, signal, eligible, role_codes, tool_mask, seg, 1, cfg)
    return {k: (int(v[0]) if v.dtype.kind == "i" else float(v[0])) for k, v in cols.items()}


def _make_kernel(cfg: FeatureConfig, cutoffs_us: list[int]):
    """Kernel over one bucket of conversations (skew.map_conversations):
    each conversation arrives as a sorted slice, and its cutoffs are
    nested prefixes of that one sort. Every (conversation, cutoff) prefix
    becomes a segment of one batched compute_segments call per chunk."""
    cuts = np.asarray(cutoffs_us, dtype=np.int64)
    names = ["n_turns", "n_eligible", "n_bins"] + feature_names(cfg)

    def kernel(cols: dict, starts, ends) -> dict:
        conv = cols["conv_id"]
        ts_us = cols["ts"]
        arrays = (
            ts_us,
            cols["signal"].astype(np.float64, copy=False),
            cols["eligible"].astype(bool, copy=False),
            cols["role_code"].astype(np.int64, copy=False),
            cols["has_tool"].astype(bool, copy=False),
        )
        # per (conversation, cutoff) row, conv-major: the prefix length
        conv_of = np.repeat(np.arange(starts.size), ends - starts)
        lens = np.stack(
            [np.bincount(conv_of[ts_us <= c], minlength=starts.size) for c in cuts], axis=1)

        def run(ci):
            """compute_segments over conversations ``ci`` (all cutoffs)."""
            ln = lens[ci].ravel()
            seg = np.repeat(np.arange(ln.size), ln)
            shift = np.repeat(starts[ci], cuts.size) - (np.cumsum(ln) - ln)
            idx = np.arange(seg.size) + shift[seg]
            return compute_segments(*(a[idx] for a in arrays), seg, ln.size, cfg)

        parts, failed, first_err = [], [], None
        chunk = np.cumsum(lens.sum(axis=1)) // CHUNK_ELEMENTS
        for c in np.unique(chunk):
            ci = np.flatnonzero(chunk == c)
            try:
                parts.append(run(ci))
            except Exception:
                # per-entity error isolation (rad_tab.py:109-112 skip & log
                # analogue): rerun the chunk one conversation at a time, so
                # only a conversation that raises gets failure rows — n_turns
                # set, every other field NULL
                for one in ci:
                    try:
                        parts.append(run(np.array([one])))
                    except Exception as ex:
                        parts.append({"n_turns": lens[one]})
                        failed.append(one)
                        first_err = first_err or ex
        if failed:
            # COUNTED, with the first exception logged once per bucket, so a
            # systematic kernel bug surfaces as a diagnosable null-row storm,
            # not silence
            import logging

            logging.getLogger("z_rad_spark.extractor").error(
                "feature kernel: %d/%d conversations failed in this bucket; "
                "first failure conv_id=%r: %r",
                len(failed), len(starts), conv[starts[failed[0]]], first_err,
                exc_info=first_err,
            )
        out = {
            "conv_id": np.repeat(conv[starts], cuts.size),
            "as_of": np.tile(cuts, len(starts)).astype("datetime64[us]").astype("datetime64[ns]"),
        }
        for name in names:
            out[name] = np.concatenate([p.get(name, np.full(p["n_turns"].size, np.nan)) for p in parts])
        return out

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
    Returns one wide row per (conv_id, as_of); no cutoffs give an empty
    frame of the same schema.
    """
    cutoffs_us = sorted({int(np.datetime64(c, "us").astype(np.int64)) for c in cutoffs})
    if not cutoffs_us:
        return df.sparkSession.createDataFrame([], output_schema(cfg))
    max_cut = np.datetime64(max(cutoffs_us), "us")

    prepared = prepare_input(df, cfg)
    # structural leakage guard + scan-level pruning: nothing after the last
    # cutoff is ever read by the kernel
    prepared = prepared.filter(F.col("ts") <= F.lit(max_cut.item()))

    kernel = _make_kernel(cfg, cutoffs_us)
    return map_conversations(prepared, kernel, output_schema(cfg))
