"""End-to-end extractor parity: Spark engine vs the loop-based oracle,
per (conversation, as_of) — the engine's IBSI-style golden check
(model: reference tests/test_ibsi_1.py:19-41)."""

import math

import numpy as np
import pandas as pd
import pytest

from oracle import reference as orc
from z_rad_spark.config import FeatureConfig
from z_rad_spark.extractor import extract_features
from z_rad_spark.transcripts import TRANSCRIPT_SCHEMA, synth_transcripts_pdf

CUTOFFS = ["2024-01-01T06:00:00", "2024-01-02T00:00:00", "2024-01-15T00:00:00"]


def _token_count(text):
    return float(len(text.split(" ")))


def _prep_conv(pdf, cutoff_us, cfg):
    """Oracle-side preparation: stable sort, cutoff slice, masks, grey."""
    pdf = pdf.sort_values(["ts", "turn_idx"], kind="mergesort")
    ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    keep = ts_us <= cutoff_us
    pdf = pdf[keep]
    ts_us = ts_us[keep]
    signal = [_token_count(t) for t in pdf["text"]]
    if cfg.eligible_roles is None:
        eligible = [True] * len(pdf)
    else:
        eligible = [r in cfg.eligible_roles for r in pdf["role"]]
    masked = [s if e else float("nan") for s, e in zip(signal, eligible)]
    # range then outlier reseg
    if cfg.intensity_range:
        lo, hi = cfg.intensity_range
        masked = [m if (not math.isnan(m)) and lo <= s <= hi else float("nan") for m, s in zip(masked, signal)]
    if cfg.outlier_sigma:
        vals = [m for m in masked if not math.isnan(m)]
        if not vals:
            return ts_us, signal, eligible, masked, masked, orc.sessionize_oracle(list(ts_us), cfg.gap_seconds)
        mu = sum(vals) / len(vals)
        sd = math.sqrt(sum((v - mu) ** 2 for v in vals) / len(vals))
        masked = [
            m if (not math.isnan(m)) and mu - cfg.outlier_sigma * sd <= m <= mu + cfg.outlier_sigma * sd else float("nan")
            for m in masked
        ]
    if cfg.n_bins:
        grey = orc.fbn_oracle(masked, cfg.n_bins)
    elif cfg.bin_size:
        anchor = cfg.intensity_range[0] if cfg.intensity_range else None
        grey = orc.fbs_oracle(masked, cfg.bin_size, anchor)
    else:
        grey = masked
    sess = orc.sessionize_oracle(list(ts_us), cfg.gap_seconds)
    return ts_us, signal, eligible, masked, grey, sess


def _oracle_row(pdf, cutoff_us, cfg):
    ts_us, signal, eligible, masked, grey, sess = _prep_conv(pdf, cutoff_us, cfg)
    n_eligible = sum(1 for m in masked if not math.isnan(m))
    if n_eligible < cfg.min_turns:
        return None
    out = {}
    out.update(orc.stats_oracle(masked))
    out.update(orc.hist_oracle(grey))

    # 3D MERG textures over the whole sequence
    finite = [v for v in grey if not math.isnan(v)]
    lvl = int(max(finite)) + 1
    total = len(finite)
    msum = None
    for lag in cfg.lags:
        m = orc.glcm_matrix_oracle(grey, lag)
        msum = m if msum is None else [[a + b for a, b in zip(r1, r2)] for r1, r2 in zip(msum, m)]
    if sum(sum(r) for r in msum) == 0:
        # no valid pair at any lag (holes isolate every eligible turn):
        # the kernel emits NaN for the whole family
        from z_rad_spark.kernels.texture import GLCM_NAMES

        out.update({f"{k}_3D_comb": float("nan") for k in GLCM_NAMES})
    else:
        gl = orc.glcm_features_oracle(msum)
        out.update({f"{k}_3D_comb": v for k, v in gl.items()})

    runs = orc.runs_oracle(grey, [0] * len(grey))
    width = max(r[1] for r in runs)
    rlm = [[0.0] * width for _ in range(lvl)]
    for g, ln, _, _ in runs:
        rlm[g][ln - 1] += 1
    vals = orc.texture_matrix_features_oracle(rlm, total)
    from z_rad_spark.kernels.texture import GLRLM_NAMES, TEXTURE_ATTRS

    out.update({f"{n}_3D_comb": vals[a] for n, a in zip(GLRLM_NAMES, TEXTURE_ATTRS)})

    ngt = orc.ngtdm_features_oracle(orc.ngtdm_oracle(grey, lvl))
    out.update({f"{k}_3D": v for k, v in ngt.items()})

    ngl_m = orc.ngldm_oracle(grey, lvl)
    ngl_vals = orc.texture_matrix_features_oracle(ngl_m, total, include_energy=True)
    from z_rad_spark.kernels.texture import NGLDM_ATTRS, NGLDM_NAMES

    out.update({f"{n}_3D": ngl_vals[a] for n, a in zip(NGLDM_NAMES, NGLDM_ATTRS)})
    return out


CFG = FeatureConfig(
    families=("stats", "hist", "glcm", "glrlm", "ngtdm", "ngldm"),
    aggr_dim="3D",
    aggr_method="MERG",
    eligible_roles=("user", "assistant", "tool"),
    min_turns=3,
)


@pytest.fixture(scope="module")
def synth_pdf():
    return synth_transcripts_pdf(n_convs=8, mean_turns=30, seed=3)


def test_extractor_matches_oracle(spark, synth_pdf):
    df = spark.createDataFrame(synth_pdf, schema=TRANSCRIPT_SCHEMA)
    got = extract_features(df, CFG, CUTOFFS).toPandas()
    got = got.set_index(["conv_id", "as_of"]).sort_index()

    checked = 0
    for conv_id, cpdf in synth_pdf.groupby("conv_id"):
        for cut in CUTOFFS:
            cut_us = int(np.datetime64(cut, "us").astype(np.int64))
            want = _oracle_row(cpdf, cut_us, CFG)
            key = (conv_id, pd.Timestamp(cut))
            assert key in got.index, key
            row = got.loc[key]
            if want is None:
                assert math.isnan(row["stat_mean"])
                continue
            for k, v in want.items():
                gv = row[k]
                if isinstance(v, float) and math.isnan(v):
                    assert math.isnan(gv), k
                else:
                    assert gv == pytest.approx(v, rel=1e-9, abs=1e-12), (conv_id, cut, k)
                checked += 1
    assert checked > 1000


def test_extractor_output_cardinality(spark, synth_pdf):
    df = spark.createDataFrame(synth_pdf, schema=TRANSCRIPT_SCHEMA)
    got = extract_features(df, CFG, CUTOFFS)
    n_convs = synth_pdf["conv_id"].nunique()
    # conversations whose first turn is after a cutoff still emit a row
    # (with null features) only if they have ANY turn <= max cutoff
    assert got.count() <= n_convs * len(CUTOFFS)
    assert got.filter("conv_id is null").count() == 0


# IBSI config-matrix analogue (reference tests/test_ibsi_1.py:187-367:
# configs A-E are distinct preprocessing recipes): each recipe exercises a
# different reseg/discretization/eligibility combination end-to-end.
CONFIG_MATRIX = {
    "A": dict(eligible_roles=("user", "assistant"), n_bins=6),
    "B": dict(intensity_range=(2.0, 8.0), bin_size=2.0),
    "C": dict(outlier_sigma=2.5, n_bins=4),
    "D": dict(intensity_range=(1.0, 7.0), outlier_sigma=2.0, bin_size=1.0),
    "E": dict(min_turns=5),
}


@pytest.mark.parametrize("name", sorted(CONFIG_MATRIX))
def test_extractor_config_matrix(spark, name):
    kw = CONFIG_MATRIX[name]
    cfg = FeatureConfig(
        families=("stats", "hist", "glcm", "glrlm", "ngtdm", "ngldm"),
        aggr_dim="3D",
        aggr_method="MERG",
        **kw,
    )
    pdf = synth_transcripts_pdf(n_convs=5, mean_turns=25, seed=31)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    got = extract_features(df, cfg, CUTOFFS).toPandas().set_index(["conv_id", "as_of"]).sort_index()
    checked = 0
    for conv_id, cpdf in pdf.groupby("conv_id"):
        for cut in CUTOFFS:
            cut_us = int(np.datetime64(cut, "us").astype(np.int64))
            want = _oracle_row(cpdf, cut_us, cfg)
            row = got.loc[(conv_id, pd.Timestamp(cut))]
            if want is None:
                assert math.isnan(row["stat_mean"]), (name, conv_id, cut)
                continue
            for k, v in want.items():
                gv = row[k]
                if isinstance(v, float) and math.isnan(v):
                    assert math.isnan(gv), (name, k)
                else:
                    assert gv == pytest.approx(v, rel=1e-9, abs=1e-12), (name, conv_id, cut, k)
                checked += 1
    assert checked > 300, (name, checked)


def test_bucket_kernel_isolates_a_failing_conversation(monkeypatch, caplog):
    """A batched bucket call that raises is rerun one conversation at a
    time: only the conversation that raises gets failure rows (n_turns
    set, every other field NULL), every other row is byte-equal to a
    clean run, and the bucket logs one error with the count and the
    first failing conv_id."""
    from test_batched_kernel import random_bucket

    from z_rad_spark import extractor
    from z_rad_spark.kernels import texture

    cols, starts, ends, cuts = random_bucket(7)
    bad = int(np.argmax(ends - starts))  # the longest conversation
    cols["eligible"][starts[bad]:ends[bad]] = True
    cols["signal"][starts[bad]] = 999.0  # a grey level only it has
    cuts = [int(cols["ts"][starts[bad]])] + cuts  # every cutoff sees it
    cfg = FeatureConfig(eligible_roles=("user", "assistant", "tool"), min_turns=1)
    clean = extractor._make_kernel(cfg, cuts)(cols, starts, ends)

    glcm = texture.FAMILIES["glcm"]

    def poisoned(u, lags):
        if (u.g == 999.0).any():
            raise ValueError("poisoned builder")
        return glcm.build(u, lags)

    monkeypatch.setitem(texture.FAMILIES, "glcm", glcm._replace(build=poisoned))
    with caplog.at_level("ERROR", logger="z_rad_spark.extractor"):
        got = extractor._make_kernel(cfg, cuts)(cols, starts, ends)

    failed = np.repeat(np.arange(starts.size) == bad, len(cuts))
    assert list(got) == list(clean)
    assert (got["conv_id"] == clean["conv_id"]).all()
    assert (got["n_turns"] == clean["n_turns"]).all()
    for k in got:
        if k in ("conv_id", "as_of", "n_turns"):
            continue
        g = np.asarray(got[k], dtype=np.float64)
        assert np.isnan(g[failed]).all(), k
        want = np.asarray(clean[k], dtype=np.float64)[~failed]
        assert (g[~failed].view(np.int64) == want.view(np.int64)).all(), k
    errors = [r for r in caplog.records if r.levelname == "ERROR"]
    assert len(errors) == 1
    assert f"1/{starts.size} conversations failed" in errors[0].getMessage()
    assert repr(cols["conv_id"][starts[bad]]) in errors[0].getMessage()
