"""Aggregation-config matrix tests — the analogue of IBSI configs A-E
(reference tests/test_ibsi_1.py:187-367): each config exercises a distinct
(aggr_dim, aggr_method, weighting) recipe, checked against an
independently composed oracle (per-session loops over
oracle/reference.py primitives)."""

import math

import numpy as np
import pandas as pd
import pytest

from oracle import reference as orc
from z_rad_spark.config import FeatureConfig
from z_rad_spark.extractor import extract_features
from z_rad_spark.kernels.texture import (
    GLCM_NAMES,
    GLRLM_NAMES,
    GLSZM_NAMES,
    NGLDM_ATTRS,
    NGLDM_NAMES,
    NGTDM_NAMES,
    TEXTURE_ATTRS,
)
from z_rad_spark.transcripts import TRANSCRIPT_SCHEMA, synth_transcripts_pdf

CUT = "2024-01-20T00:00:00"
GAP = 900.0
LAGS = (1, 2)


@pytest.fixture(scope="module")
def pdf():
    return synth_transcripts_pdf(n_convs=5, mean_turns=35, seed=33)


def _conv_arrays(cpdf):
    cpdf = cpdf.sort_values(["ts", "turn_idx"], kind="mergesort")
    ts_us = cpdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    keep = ts_us <= int(np.datetime64(CUT, "us").astype(np.int64))
    cpdf = cpdf[keep]
    ts_us = ts_us[keep]
    grey = [float(len(t.split(" "))) for t in cpdf["text"]]
    sess = orc.sessionize_oracle(list(ts_us), GAP)
    return grey, sess


def _mean_dicts(dicts, weights=None, median=False):
    keys = dicts[0].keys()
    if median:
        return {k: float(np.median([d[k] for d in dicts])) for k in keys}
    return {k: float(np.average([d[k] for d in dicts], weights=weights)) for k in keys}


def _glcm_oracle(grey, sess, aggr_dim, aggr_method, slice_weight=False, slice_median=False):
    lvl = int(max(grey)) + 1
    total = len(grey)

    def seg_matrix(seg, lag):
        m = [[0.0] * lvl for _ in range(lvl)]
        for i in range(len(seg) - lag):
            a, b = seg[i], seg[i + lag]
            m[int(a)][int(b)] += 1
            m[int(b)][int(a)] += 1
        return m

    def msum(ms):
        out = [[0.0] * lvl for _ in range(lvl)]
        for m in ms:
            for i in range(lvl):
                for j in range(lvl):
                    out[i][j] += m[i][j]
        return out

    if aggr_dim == "3D":
        mats = [seg_matrix(grey, lag) for lag in LAGS]
        if aggr_method == "MERG":
            return orc.glcm_features_oracle(msum(mats))
        return _mean_dicts([orc.glcm_features_oracle(m) for m in mats])

    sessions = sorted(set(sess))
    per_sess, weights = [], []
    for s in sessions:
        seg = [g for g, ss in zip(grey, sess) if ss == s]
        per_sess.append([seg_matrix(seg, lag) for lag in LAGS])
        weights.append(len(seg) / total if slice_weight else 1.0)

    if aggr_dim == "2.5D":
        if aggr_method == "MERG":
            return orc.glcm_features_oracle(msum([m for row in per_sess for m in row]))
        dicts = []
        for li in range(len(LAGS)):
            m = msum([row[li] for row in per_sess])
            if sum(sum(r) for r in m) > 0:
                dicts.append(orc.glcm_features_oracle(m))
        return _mean_dicts(dicts)

    dicts, w = [], []
    if aggr_method == "SLICE_MERG":
        for row, wt in zip(per_sess, weights):
            m = msum(row)
            if sum(sum(r) for r in m) > 0:
                dicts.append(orc.glcm_features_oracle(m))
                w.append(wt)
    else:
        for row, wt in zip(per_sess, weights):
            for m in row:
                if sum(sum(r) for r in m) > 0:
                    dicts.append(orc.glcm_features_oracle(m))
                    w.append(wt)
    return _mean_dicts(dicts, None if slice_median else w, median=slice_median)


def _rlm_matrix(seg, sess_seg, lvl):
    runs = orc.runs_oracle(seg, sess_seg)
    width = max((r[1] for r in runs), default=1)
    m = [[0.0] * width for _ in range(lvl)]
    for g, ln, _, _ in runs:
        m[g][ln - 1] += 1
    return m


def _pad_sum(mats, lvl):
    width = max(len(m[0]) for m in mats)
    out = [[0.0] * width for _ in range(lvl)]
    for m in mats:
        for i in range(lvl):
            for j in range(len(m[0])):
                out[i][j] += m[i][j]
    return out


def _rlm_oracle(grey, sess, aggr_dim, slice_weight=False):
    lvl = int(max(grey)) + 1
    total = len(grey)
    if aggr_dim == "3D":
        m = _rlm_matrix(grey, [0] * len(grey), lvl)
        vals = orc.texture_matrix_features_oracle(m, total)
        return dict(zip(GLRLM_NAMES, (vals[a] for a in TEXTURE_ATTRS)))
    sessions = sorted(set(sess))
    mats, counts = [], []
    for s in sessions:
        seg = [g for g, ss in zip(grey, sess) if ss == s]
        mats.append(_rlm_matrix(seg, [s] * len(seg), lvl))
        counts.append(len(seg))
    if aggr_dim == "2.5D":
        m = _pad_sum(mats, lvl)
        vals = orc.texture_matrix_features_oracle(m, sum(counts))
        return dict(zip(GLRLM_NAMES, (vals[a] for a in TEXTURE_ATTRS)))
    dicts = [orc.texture_matrix_features_oracle(m, c) for m, c in zip(mats, counts)]
    w = [c / total if slice_weight else 1.0 for c in counts]
    vals = _mean_dicts(dicts, w)
    return dict(zip(GLRLM_NAMES, (vals[a] for a in TEXTURE_ATTRS)))


def _extract(spark, pdf, **cfg_kw):
    cfg = FeatureConfig(gap_seconds=GAP, lags=LAGS, min_turns=1, **cfg_kw)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    out = extract_features(df, cfg, [CUT]).toPandas()
    return cfg, out.set_index("conv_id").sort_index()


def _check(got_row, want, sfx):
    for k, v in want.items():
        gv = got_row[f"{k}_{sfx}"]
        if isinstance(v, float) and math.isnan(v):
            assert math.isnan(gv), k
        else:
            assert gv == pytest.approx(v, rel=1e-9, abs=1e-12), k


CONFIGS = [
    ("2D", "AVER", False, False),
    ("2D", "AVER", True, False),
    ("2D", "SLICE_MERG", False, False),
    ("2D", "AVER", False, True),  # median
    ("2.5D", "MERG", False, False),
    ("2.5D", "DIR_MERG", False, False),
    ("3D", "AVER", False, False),
    ("3D", "MERG", False, False),
]


def test_weighted_median_config_rejected_when_built():
    """Texture aggregation has no weighted median: the config refuses it
    when built, instead of every row's kernel failing into a null row."""
    with pytest.raises(ValueError, match="weighted median"):
        FeatureConfig(aggr_dim="2D", aggr_method="AVER", slice_weight=True, slice_median=True)


@pytest.mark.parametrize("dim,method,sw,sm", CONFIGS)
def test_glcm_aggregation_matrix(spark, pdf, dim, method, sw, sm):
    cfg, got = _extract(
        spark, pdf, families=("glcm",), aggr_dim=dim, aggr_method=method,
        slice_weight=sw, slice_median=sm,
    )
    for conv_id, cpdf in pdf.groupby("conv_id"):
        grey, sess = _conv_arrays(cpdf)
        want = _glcm_oracle(grey, sess, dim, method, sw, sm)
        _check(got.loc[conv_id], want, cfg.cm_suffix)


@pytest.mark.parametrize("dim", ["2D", "2.5D", "3D"])
def test_glrlm_aggregation(spark, pdf, dim):
    method = "AVER" if dim == "2D" else "MERG"
    cfg, got = _extract(spark, pdf, families=("glrlm",), aggr_dim=dim, aggr_method=method)
    for conv_id, cpdf in pdf.groupby("conv_id"):
        grey, sess = _conv_arrays(cpdf)
        want = _rlm_oracle(grey, sess, dim)
        _check(got.loc[conv_id], want, cfg.cm_suffix)


def test_glszm_equals_glrlm_matrix_in_1d(spark, pdf):
    """In 1-D zones == runs, so SZM features equal RLM features computed
    from the same matrix (documented degeneracy, SURVEY.md §2.8)."""
    cfg, got = _extract(spark, pdf, families=("glrlm", "glszm"), aggr_dim="2.5D", aggr_method="MERG")
    for conv_id in got.index:
        for rn, zn in zip(GLRLM_NAMES, GLSZM_NAMES):
            a = got.loc[conv_id][f"{rn}_{cfg.cm_suffix}"]
            b = got.loc[conv_id][f"{zn}_{cfg.dim_suffix}"]
            assert a == pytest.approx(b, rel=1e-12), (rn, zn)


def test_ngtdm_2d_vs_oracle(spark, pdf):
    cfg, got = _extract(spark, pdf, families=("ngtdm",), aggr_dim="2D", aggr_method="AVER")
    for conv_id, cpdf in pdf.groupby("conv_id"):
        grey, sess = _conv_arrays(cpdf)
        lvl = int(max(grey)) + 1
        dicts = []
        for s in sorted(set(sess)):
            seg = [g for g, ss in zip(grey, sess) if ss == s]
            m = orc.ngtdm_oracle(seg, lvl)
            vals = orc.ngtdm_features_oracle(m)
            if vals:  # neighbourless (single-turn) sessions are skipped
                dicts.append(vals)
        want = _mean_dicts(dicts)
        _check(got.loc[conv_id], want, cfg.dim_suffix)


def test_gldzm_3d_vs_oracle(spark, pdf):
    cfg, got = _extract(spark, pdf, families=("gldzm",), aggr_dim="3D", aggr_method="MERG")
    from z_rad_spark.kernels.texture import GLDZM_NAMES

    for conv_id, cpdf in pdf.groupby("conv_id"):
        grey, sess = _conv_arrays(cpdf)
        lvl = int(max(grey)) + 1
        # 3D: whole-conversation distance map, eligibility all-true
        dist = orc.border_distance_oracle([True] * len(grey), [0] * len(grey))
        runs = orc.runs_oracle(grey, [0] * len(grey))
        width = max(max((min(dist[a], dist[b]) for _, _, a, b in runs), default=1), 1)
        m = [[0.0] * width for _ in range(lvl)]
        for g, ln, a, b in runs:
            m[g][min(dist[a], dist[b]) - 1] += 1
        vals = orc.texture_matrix_features_oracle(m, len(grey))
        want = dict(zip(GLDZM_NAMES, (vals[a] for a in TEXTURE_ATTRS)))
        _check(got.loc[conv_id], want, cfg.dim_suffix)


@pytest.mark.parametrize("dim", ["2D", "2.5D"])
def test_gldzm_per_session_vs_oracle(spark, pdf, dim):
    """2D / 2.5D GLDZM: a zone's distance is to its SESSION border (the
    per-slice image border), then per-session features are averaged (2D)
    or per-session matrices merged (2.5D)."""
    from z_rad_spark.kernels.texture import GLDZM_NAMES

    method = "AVER" if dim == "2D" else "MERG"
    cfg, got = _extract(spark, pdf, families=("gldzm",), aggr_dim=dim, aggr_method=method)
    for conv_id, cpdf in pdf.groupby("conv_id"):
        grey, sess = _conv_arrays(cpdf)
        lvl = int(max(grey)) + 1
        dist = orc.border_distance_oracle([True] * len(grey), sess)
        runs = orc.runs_oracle(grey, sess)
        mats, counts = [], []
        for s in sorted(set(sess)):
            zones = [(g, min(dist[a], dist[b])) for g, _, a, b in runs if sess[a] == s]
            m = [[0.0] * max(d for _, d in zones) for _ in range(lvl)]
            for g, d in zones:
                m[g][d - 1] += 1
            mats.append(m)
            counts.append(sess.count(s))
        if dim == "2.5D":
            vals = orc.texture_matrix_features_oracle(_pad_sum(mats, lvl), sum(counts))
        else:
            vals = _mean_dicts(
                [orc.texture_matrix_features_oracle(m, c) for m, c in zip(mats, counts)]
            )
        want = dict(zip(GLDZM_NAMES, (vals[a] for a in TEXTURE_ATTRS)))
        _check(got.loc[conv_id], want, cfg.dim_suffix)


def test_ngldm_25d_vs_oracle(spark, pdf):
    cfg, got = _extract(spark, pdf, families=("ngldm",), aggr_dim="2.5D", aggr_method="MERG")
    for conv_id, cpdf in pdf.groupby("conv_id"):
        grey, sess = _conv_arrays(cpdf)
        lvl = int(max(grey)) + 1
        mats = []
        counts = []
        for s in sorted(set(sess)):
            seg = [g for g, ss in zip(grey, sess) if ss == s]
            mats.append(orc.ngldm_oracle(seg, lvl))
            counts.append(len(seg))
        m = [[sum(mt[i][j] for mt in mats) for j in range(3)] for i in range(lvl)]
        vals = orc.texture_matrix_features_oracle(m, sum(counts), include_energy=True)
        want = dict(zip(NGLDM_NAMES, (vals[a] for a in NGLDM_ATTRS)))
        _check(got.loc[conv_id], want, cfg.dim_suffix)
