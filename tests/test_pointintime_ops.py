"""Round-4 session-2 operators: expanding z-score, CUSUM drift, binary
Hamming ANN, one-pass covariance. Each is checked against an independent
NumPy/pandas recomputation (the same double-verification model as the
DuckDB gate oracles)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _turns(spark, n_conv=3, n_turns=40, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for c in range(n_conv):
        base = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=c)
        for i in range(n_turns):
            rows.append(
                (
                    f"c{c}",
                    i,
                    base + pd.Timedelta(seconds=int(rng.integers(0, 3600 * 24))),
                    float(rng.integers(1, 10)),
                )
            )
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    return spark.createDataFrame(pdf), pdf


def test_expanding_zscore_matches_pandas(spark):
    from z_rad_spark.operators.sessionize import with_expanding_zscore

    df, pdf = _turns(spark)
    got = (
        with_expanding_zscore(df)
        .select("conv_id", "turn_idx", "n_so_far", "mean_so_far", "z")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    g = pdf.groupby("conv_id")["signal"]
    mean = g.expanding().mean().reset_index(level=0, drop=True)
    std = g.expanding().std(ddof=0).reset_index(level=0, drop=True)
    z = (pdf["signal"] - mean) / std.replace(0.0, np.nan)
    want = pdf.assign(mean_so_far=mean, z=z).sort_values(
        ["conv_id", "turn_idx"]
    ).reset_index(drop=True)
    assert np.allclose(got["mean_so_far"], want["mean_so_far"], atol=1e-12)
    assert np.allclose(
        got["z"].astype(float), want["z"].astype(float), atol=1e-9, equal_nan=True
    )
    # leakage guard: the first turn of every conversation has n_so_far=1
    firsts = got.merge(
        pdf.groupby("conv_id", as_index=False).head(0).reset_index(drop=True),
        how="left",
    )
    assert (got.groupby("conv_id")["n_so_far"].min() == 1).all()
    assert (got.groupby("conv_id")["n_so_far"].max() == 40).all()


def test_cusum_closed_form_matches_recursion(spark):
    from z_rad_spark.operators.drift import cusum_summary, with_cusum

    df, pdf = _turns(spark, n_conv=4, n_turns=60, seed=11)
    target, slack, thr = 5.0, 0.5, 8.0
    got = (
        with_cusum(df, target, slack, thr)
        .select("conv_id", "turn_idx", "cusum", "cusum_alarm")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    # independent per-row recursion
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    want = []
    for conv, grp in pdf.groupby("conv_id", sort=True):
        s = 0.0
        for _, row in grp.iterrows():
            s = max(0.0, s + (row["signal"] - target - slack))
            want.append((conv, row["turn_idx"], s, s > thr))
    want = (
        pd.DataFrame(want, columns=["conv_id", "turn_idx", "cusum", "cusum_alarm"])
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert np.allclose(got["cusum"], want["cusum"], atol=1e-9)
    assert (got["cusum_alarm"] == want["cusum_alarm"]).all()

    # summary consistency with the per-turn chart
    summ = cusum_summary(df, target, slack, thr).toPandas().set_index("conv_id")
    per = want.groupby("conv_id")
    assert (summ["n_alarms"].sort_index() == per["cusum_alarm"].sum().sort_index()).all()
    assert np.allclose(
        summ["max_cusum"].sort_index(), per["cusum"].max().sort_index(), atol=1e-9
    )


def _vecs(spark, n=50, dim=64, seed=3):
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, dim)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": list(map(list, x))})
    return spark.createDataFrame(pdf), x.astype(np.float64)


def test_binary_quantize_bits(spark):
    from z_rad_spark.operators.similarity import binary_quantize

    df, x = _vecs(spark, n=10)
    got = binary_quantize(df).select("vec_id", "code_lo", "code_hi").toPandas()
    got = got.sort_values("vec_id").reset_index(drop=True)
    bits = (x > 0).astype(np.int64)
    lo = (bits[:, :32] << np.arange(32)).sum(axis=1)
    hi = (bits[:, 32:] << np.arange(32)).sum(axis=1)
    assert (got["code_lo"].to_numpy() == lo).all()
    assert (got["code_hi"].to_numpy() == hi).all()


def test_hamming_topk_matches_numpy(spark):
    from z_rad_spark.operators.similarity import hamming_topk

    df, x = _vecs(spark, n=40)
    queries = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = hamming_topk(df, queries, k=4).toPandas()
    bits = (x > 0).astype(np.int8)
    for q in range(3):
        hd = (bits != bits[q]).sum(axis=1)
        order = np.lexsort((np.arange(len(hd)), hd))[:4]
        sub = got[got["query_id"] == q].sort_values("rank")
        assert list(sub["vec_id"]) == list(order)
        assert list(sub["hamming"]) == [int(hd[i]) for i in order]


def test_embedding_covariance_matches_numpy(spark):
    from z_rad_spark.operators.similarity import embedding_covariance

    df, x = _vecs(spark, n=80)
    got = embedding_covariance(df).toPandas()
    assert len(got) == 64 * 65 // 2
    want = np.cov(x, rowvar=False, bias=True)
    g = got.set_index(["i", "j"])["cov"]
    iu = np.triu_indices(64)
    gv = g.loc[list(zip(iu[0], iu[1]))].to_numpy()
    assert np.allclose(gv, want[iu], atol=1e-6)
    assert (got["n"] == 80).all()


def test_psi_drift_matches_manual(spark):
    import math

    from z_rad_spark.operators.drift import psi_drift

    df, pdf = _turns(spark, n_conv=5, n_turns=50, seed=23)
    pdf["role"] = ["user", "assistant", "tool"] * (len(pdf) // 3) + ["user"] * (
        len(pdf) % 3
    )
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "ts", "signal", "role"]])
    split = pd.Timestamp("2024-01-01 12:00:00")
    got = psi_drift(df, split_ts="2024-01-01 12:00:00").toPandas().set_index("role")
    for role, grp in pdf.groupby("role"):
        ref = grp[grp["ts"] < split]["signal"]
        cur = grp[grp["ts"] >= split]["signal"]
        psi = 0.0
        for b in range(1, 10):
            p = ((ref == b).sum() + 1) / (len(ref) + 9)
            q = ((cur == b).sum() + 1) / (len(cur) + 9)
            psi += (p - q) * math.log(p / q)
        assert got.loc[role, "n_ref"] == len(ref)
        assert got.loc[role, "n_cur"] == len(cur)
        assert abs(got.loc[role, "psi"] - psi) < 1e-9
        band = "stable" if psi < 0.1 else ("drifting" if psi < 0.25 else "shifted")
        assert got.loc[role, "drift_band"] == band


def test_temporal_split_purge_and_embargo_boundaries(spark):
    from z_rad_spark.operators.curation import temporal_split

    rows = [
        # (ts, expected fold) with split=12:00, horizon=2h, embargo=1h
        ("2024-01-01 08:59:59", "train"),    # ts + h + e = 11:59:59 <= split
        ("2024-01-01 09:00:00", "train"),    # 12:00:00 == split, not >
        ("2024-01-01 09:00:01", "embargo"),  # 12:00:01 > split
        ("2024-01-01 10:00:00", "embargo"),  # ts + h == split, not >
        ("2024-01-01 10:00:01", "purged"),   # label window crosses split
        ("2024-01-01 11:59:59", "purged"),
        ("2024-01-01 12:00:00", "test"),
        ("2024-01-01 15:00:00", "test"),
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": range(len(rows)),
            "ts": pd.to_datetime([r[0] for r in rows]),
            "signal": 1.0,
        }
    )
    got = temporal_split(
        spark.createDataFrame(pdf),
        split_ts="2024-01-01 12:00:00",
        horizon_seconds=7200.0,
        embargo_seconds=3600.0,
    ).toPandas().sort_values("turn_idx")
    assert list(got["fold"]) == [r[1] for r in rows]
    # leakage invariant: no train turn's label window reaches the test period
    train = got[got["fold"] == "train"]
    assert (
        train["ts"] + pd.Timedelta(seconds=7200) <= pd.Timestamp("2024-01-01 12:00:00")
    ).all()


def test_ks_drift_matches_manual(spark):
    from z_rad_spark.operators.drift import ks_drift

    df, pdf = _turns(spark, n_conv=4, n_turns=60, seed=31)
    pdf["role"] = ["user", "assistant", "tool", "system"] * (len(pdf) // 4)
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "ts", "signal", "role"]])
    split = pd.Timestamp("2024-01-01 12:00:00")
    got = ks_drift(df, split_ts="2024-01-01 12:00:00").toPandas().set_index("role")
    for role, grp in pdf.groupby("role"):
        ref = grp[grp["ts"] < split]["signal"].to_numpy()
        cur = grp[grp["ts"] >= split]["signal"].to_numpy()
        assert got.loc[role, "n_ref"] == len(ref)
        assert got.loc[role, "n_cur"] == len(cur)
        vals = np.unique(np.concatenate([ref, cur]))
        ks = max(
            abs((ref <= v).sum() / len(ref) - (cur <= v).sum() / len(cur))
            for v in vals
        )
        assert abs(got.loc[role, "ks"] - ks) < 1e-12


def test_two_class_ecdf_hand_computed(spark):
    """The shared histogram: per-(key, value) class counts, running sums
    in value order, per-key totals and the next value, with a NULL flag
    counted in neither class and a NULL value kept as its own (first)
    row."""
    from z_rad_spark.operators.drift import two_class_ecdf

    rows = [("x", 2.0, True), ("x", 1.0, False), ("x", 2.0, False), ("x", 2.0, None),
            ("x", 5.0, True), ("x", None, True), ("y", 3.0, False)]
    df = spark.createDataFrame(rows, "k string, v double, f boolean")
    got = [
        tuple(r)
        for r in two_class_ecdf(df, F.col("v"), F.col("f"), ["k"]).orderBy("k", "_val").collect()
    ]
    # (k, _val, _a, _b, _ca, _cb, _na, _nb, _next)
    assert got == [
        ("x", None, 1, 0, 1, 0, 3, 2, 1.0),
        ("x", 1.0, 0, 1, 1, 1, 3, 2, 2.0),
        ("x", 2.0, 1, 1, 2, 2, 3, 2, 5.0),
        ("x", 5.0, 1, 0, 3, 2, 3, 2, None),
        ("y", 3.0, 0, 1, 0, 1, 0, 1, None),
    ]
    keyless = two_class_ecdf(df.where("k = 'x'"), F.col("v"), F.col("f"))
    assert [tuple(r) for r in keyless.orderBy("_val").collect()] == [g[1:] for g in got[:4]]


def test_ks_drift_empty_side_is_null(spark):
    from z_rad_spark.operators.drift import ks_drift

    pdf = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": range(4),
            "ts": pd.to_datetime(["2024-01-01"] * 4),
            "signal": [1.0, 2.0, 3.0, 4.0],
            "role": "user",
        }
    )
    got = ks_drift(spark.createDataFrame(pdf), split_ts="2024-06-01").toPandas()
    assert got["n_cur"].iloc[0] == 0
    assert pd.isna(got["ks"].iloc[0])


def test_cvm_drift_empty_side_is_null(spark):
    """A reference-only group gets t NULL instead of a division by zero;
    a group with both windows keeps its score."""
    from z_rad_spark.operators.drift import cvm_drift

    pdf = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": range(6),
            "ts": pd.to_datetime(["2024-01-01"] * 2 + ["2024-01-02"] * 2 + ["2024-01-01"] * 2),
            "signal": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            "role": ["user"] * 4 + ["tool"] * 2,
        }
    )
    got = (
        cvm_drift(spark.createDataFrame(pdf), split_ts="2024-01-01 12:00:00")
        .toPandas()
        .set_index("role")
    )
    assert (got.loc["tool", "n_ref"], got.loc["tool", "n_cur"]) == (2, 0)
    assert pd.isna(got.loc["tool", "t"])
    assert got.loc["user", "t"] > 0


def test_mi_association_empty_window_and_null_ts(spark):
    """A window with no row of ``groups`` gets n = 0 and NULL scores; a
    NULL-ts row counts in neither window."""
    from z_rad_spark.operators.drift import mi_association

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01"] * 3 + ["2024-01-02", "2024-01-02", None]),
            "signal": [1.0, 2.0, 2.0, 3.0, 4.0, 5.0],
            "role": ["user", "tool", "user", "bot", "bot", "user"],
        }
    )
    df = spark.createDataFrame(pdf, "ts timestamp, signal double, role string")
    got = mi_association(df, split_ts="2024-01-01 12:00:00").toPandas().set_index("win")
    assert sorted(got.index) == ["cur", "ref"]
    assert got.loc["ref", "n"] == 3 and got.loc["ref", "mi"] > 0
    assert got.loc["cur", "n"] == 0
    assert pd.isna(got.loc["cur", "mi"]) and pd.isna(got.loc["cur", "chi2"])


def test_mi_association_matches_manual(spark):
    import math

    from z_rad_spark.operators.drift import mi_association

    df, pdf = _turns(spark, n_conv=4, n_turns=60, seed=37)
    pdf["role"] = ["user", "assistant", "tool", "system"] * (len(pdf) // 4)
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "ts", "signal", "role"]])
    split = pd.Timestamp("2024-01-01 12:00:00")
    got = (
        mi_association(df, split_ts="2024-01-01 12:00:00")
        .toPandas()
        .set_index("win")
    )
    for win, grp in pdf.groupby(np.where(pdf["ts"] < split, "ref", "cur")):
        n = np.zeros((4, 9))
        roles = ("assistant", "system", "tool", "user")
        for i, r in enumerate(roles):
            for b in range(1, 10):
                n[i, b - 1] = ((grp["role"] == r) & (grp["signal"] == b)).sum()
        N = n.sum()
        mi = chi2 = 0.0
        for i in range(4):
            for j in range(9):
                if n[i, j] > 0:
                    mi += (n[i, j] / N) * math.log(
                        n[i, j] * N / (n[i].sum() * n[:, j].sum())
                    )
                e = n[i].sum() * n[:, j].sum() / N
                if e > 0:
                    chi2 += (n[i, j] - e) ** 2 / e
        assert got.loc[win, "n"] == N
        assert abs(got.loc[win, "mi"] - mi) < 1e-9
        assert abs(got.loc[win, "chi2"] - chi2) < 1e-9


def test_role_transitions_matches_manual(spark):
    import math

    from z_rad_spark.operators.sessionize import role_transitions

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0"] * 6 + ["c1"],
            "turn_idx": list(range(6)) + [0],
            "ts": pd.to_datetime(
                [f"2024-01-01 00:0{i}:00" for i in range(6)]
                + ["2024-01-01 00:00:00"]
            ),
            "role": ["user", "assistant", "user", "user", "tool", "assistant", "user"],
        }
    )
    got = (
        role_transitions(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("conv_id")
    )
    # c0 transitions: u->a, a->u, u->u, u->t, t->a  (5 total, all distinct)
    assert got.loc["c0", "n_trans"] == 5
    assert got.loc["c0", "n_distinct_trans"] == 5
    assert abs(got.loc["c0", "self_loop_ratio"] - 1 / 5) < 1e-12
    want_ent = -5 * (1 / 5) * math.log2(1 / 5)
    assert abs(got.loc["c0", "trans_entropy"] - want_ent) < 1e-12
    # single-turn conversation: no transitions, NULL features
    assert got.loc["c1", "n_trans"] == 0
    assert pd.isna(got.loc["c1", "trans_entropy"])
    assert pd.isna(got.loc["c1", "self_loop_ratio"])


def test_expanding_target_encoding_past_only(spark):
    from z_rad_spark.operators.sessionize import with_expanding_target_encoding

    df, pdf = _turns(spark, n_conv=3, n_turns=50, seed=41)
    pdf["role"] = ["user", "assistant"] * (len(pdf) // 2)
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "ts", "signal", "role"]])
    got = (
        with_expanding_target_encoding(df)
        .select("conv_id", "turn_idx", "role", "n_prior", "te")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    for (conv, role), grp in pdf.groupby(["conv_id", "role"]):
        sig = grp["signal"].to_numpy()
        for k, (_, row) in enumerate(grp.iterrows()):
            g = got[(got["conv_id"] == conv) & (got["turn_idx"] == row["turn_idx"])]
            assert g["n_prior"].iloc[0] == k
            if k == 0:
                assert pd.isna(g["te"].iloc[0])
            else:
                # strictly-earlier same-role turns only: no self, no future
                assert abs(g["te"].iloc[0] - sig[:k].mean()) < 1e-12


def test_mw_drift_matches_scipy_form(spark):
    from z_rad_spark.operators.drift import mw_drift

    df, pdf = _turns(spark, n_conv=4, n_turns=60, seed=43)
    pdf["role"] = ["user", "assistant", "tool", "system"] * (len(pdf) // 4)
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "ts", "signal", "role"]])
    split = pd.Timestamp("2024-01-01 12:00:00")
    got = mw_drift(df, split_ts="2024-01-01 12:00:00").toPandas().set_index("role")
    for role, grp in pdf.groupby("role"):
        ref = grp[grp["ts"] < split]["signal"].to_numpy()
        cur = grp[grp["ts"] >= split]["signal"].to_numpy()
        # midranks via pandas rank (average method = the midrank rule)
        allv = pd.Series(np.concatenate([ref, cur]))
        ranks = allv.rank(method="average").to_numpy()
        r_ref = ranks[: len(ref)].sum()
        u = r_ref - len(ref) * (len(ref) + 1) / 2
        assert got.loc[role, "n_ref"] == len(ref)
        assert got.loc[role, "n_cur"] == len(cur)
        assert abs(got.loc[role, "u"] - u) < 1e-9
        assert abs(got.loc[role, "auc"] - u / (len(ref) * len(cur))) < 1e-12


def test_mw_drift_empty_side_is_null(spark):
    from z_rad_spark.operators.drift import mw_drift

    pdf = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": range(4),
            "ts": pd.to_datetime(["2024-01-01"] * 4),
            "signal": [1.0, 2.0, 3.0, 4.0],
            "role": "user",
        }
    )
    got = mw_drift(spark.createDataFrame(pdf), split_ts="2024-06-01").toPandas()
    assert got["n_cur"].iloc[0] == 0
    assert pd.isna(got["u"].iloc[0])
    assert pd.isna(got["auc"].iloc[0])


def test_autocorr_matches_numpy(spark):
    from z_rad_spark.operators.sessionize import autocorr_features

    df, pdf = _turns(spark, n_conv=3, n_turns=50, seed=47)
    got = (
        autocorr_features(df, lags=(1, 2, 3))
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"])
    for conv, grp in pdf.groupby("conv_id"):
        x = grp["signal"].to_numpy()
        m = x.mean()
        den = ((x - m) ** 2).sum()
        assert got.loc[conv, "n"] == len(x)
        for k in (1, 2, 3):
            r = ((x[k:] - m) * (x[:-k] - m)).sum() / den
            assert abs(got.loc[conv, f"ac_{k}"] - r) < 1e-9


def test_autocorr_constant_signal_is_null(spark):
    from z_rad_spark.operators.sessionize import autocorr_features

    pdf = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": range(5),
            "ts": pd.date_range("2024-01-01", periods=5, freq="min"),
            "signal": 3.0,
        }
    )
    got = autocorr_features(spark.createDataFrame(pdf)).toPandas()
    assert got["n"].iloc[0] == 5
    assert pd.isna(got["ac_1"].iloc[0])


def test_loo_encoding_excludes_self(spark):
    from z_rad_spark.operators.encoding import with_loo_target_encoding

    df, pdf = _turns(spark, n_conv=3, n_turns=30, seed=53)
    pdf["role"] = ["user", "assistant"] * (len(pdf) // 2)
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "ts", "signal", "role"]])
    got = (
        with_loo_target_encoding(df, smoothing=10.0)
        .select("conv_id", "turn_idx", "role", "n_other", "te_loo", "te_smooth")
        .toPandas()
    )
    prior = pdf["signal"].mean()
    key_stats = pdf.groupby("role")["signal"].agg(["sum", "count"])
    for _, row in got.iterrows():
        x = pdf[
            (pdf["conv_id"] == row["conv_id"]) & (pdf["turn_idx"] == row["turn_idx"])
        ]["signal"].iloc[0]
        s, n = key_stats.loc[row["role"], "sum"], key_stats.loc[row["role"], "count"]
        assert row["n_other"] == n - 1
        assert abs(row["te_loo"] - (s - x) / (n - 1)) < 1e-12
        want_smooth = (s - x + 10.0 * prior) / (n - 1 + 10.0)
        assert abs(row["te_smooth"] - want_smooth) < 1e-12


def test_loo_encoding_singleton_key_is_null(spark):
    from z_rad_spark.operators.encoding import with_loo_target_encoding

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c0"],
            "turn_idx": [0, 1],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:01:00"]
            ),
            "signal": [4.0, 7.0],
            "role": ["user", "assistant"],
        }
    )
    got = (
        with_loo_target_encoding(spark.createDataFrame(pdf))
        .select("role", "n_other", "te_loo")
        .toPandas()
        .set_index("role")
    )
    assert (got["n_other"] == 0).all()
    assert got["te_loo"].isna().all()


def test_woe_iv_matches_manual(spark):
    import math

    from z_rad_spark.operators.encoding import woe_iv

    df, pdf = _turns(spark, n_conv=4, n_turns=60, seed=59)
    pdf["role"] = ["user", "assistant", "tool", "system"] * (len(pdf) // 4)
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "ts", "signal", "role"]])
    got = woe_iv(df, threshold=5.0).toPandas().set_index("role")
    roles = ("assistant", "system", "tool", "user")
    g = {k: int(((pdf["role"] == k) & (pdf["signal"] >= 5.0)).sum()) for k in roles}
    b = {k: int(((pdf["role"] == k) & (pdf["signal"] < 5.0)).sum()) for k in roles}
    G, B = sum(g.values()), sum(b.values())
    iv = 0.0
    for k in roles:
        assert got.loc[k, "n_good"] == g[k]
        assert got.loc[k, "n_bad"] == b[k]
        woe = math.log((g[k] / G) / (b[k] / B))
        assert abs(got.loc[k, "woe"] - woe) < 1e-12
        iv += (g[k] / G - b[k] / B) * woe
    assert np.allclose(got["iv"].to_numpy(), iv, atol=1e-12)


def test_woe_iv_zero_count_category(spark):
    from z_rad_spark.operators.encoding import woe_iv

    # 'tool' never reaches the threshold: woe NULL, iv finite (term -> 0)
    pdf = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": range(8),
            "ts": pd.date_range("2024-01-01", periods=8, freq="min"),
            "signal": [8.0, 2.0, 8.0, 2.0, 1.0, 1.0, 8.0, 2.0],
            "role": ["user", "user", "assistant", "assistant", "tool", "tool",
                     "system", "system"],
        }
    )
    got = woe_iv(spark.createDataFrame(pdf), threshold=5.0).toPandas().set_index("role")
    assert got.loc["tool", "n_good"] == 0
    assert pd.isna(got.loc["tool", "woe"])
    assert np.isfinite(got["iv"]).all()


def test_partition_invariance_of_session56_operators(spark):
    """Every session-5/6 operator must give identical results whether
    the input arrives in 1 partition or 7 — no operator may depend on
    partition boundaries or intra-partition order (the distributed-
    correctness contract every gate oracle assumes)."""
    from z_rad_spark.operators.drift import ks_drift, mi_association, mw_drift
    from z_rad_spark.operators.encoding import with_loo_target_encoding, woe_iv
    from z_rad_spark.operators.sessionize import (
        autocorr_features,
        role_transitions,
        with_expanding_target_encoding,
    )

    df, pdf = _turns(spark, n_conv=5, n_turns=40, seed=61)
    pdf["role"] = ["user", "assistant", "tool", "system"] * (len(pdf) // 4)
    base = spark.createDataFrame(
        pdf[["conv_id", "turn_idx", "ts", "signal", "role"]]
    )
    ops = [
        lambda d: ks_drift(d, split_ts="2024-01-01 12:00:00"),
        lambda d: mw_drift(d, split_ts="2024-01-01 12:00:00"),
        lambda d: mi_association(d, split_ts="2024-01-01 12:00:00"),
        lambda d: role_transitions(d),
        lambda d: autocorr_features(d),
        lambda d: with_expanding_target_encoding(d).select(
            "conv_id", "turn_idx", "n_prior", "te"
        ),
        lambda d: with_loo_target_encoding(d).select(
            "conv_id", "turn_idx", "n_other", "te_loo", "te_smooth"
        ),
        lambda d: woe_iv(d),
    ]
    for op in ops:
        one = sorted(map(tuple, op(base.repartition(1)).collect()))
        many = sorted(map(tuple, op(base.repartition(7)).collect()))
        assert one == many


def test_signal_trend_matches_numpy(spark):
    from z_rad_spark.operators.profile import signal_trend

    df, pdf = _turns(spark, n_conv=4, n_turns=50, seed=67)
    got = signal_trend(df).toPandas().set_index("conv_id")
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"])
    for conv, grp in pdf.groupby("conv_id"):
        x = grp["signal"].to_numpy()
        i = np.arange(len(x), dtype=float)
        slope, intercept = np.polyfit(i, x, 1)
        r = np.corrcoef(i, x)[0, 1]
        assert got.loc[conv, "n"] == len(x)
        assert abs(got.loc[conv, "slope"] - slope) < 1e-9
        assert abs(got.loc[conv, "intercept"] - intercept) < 1e-9
        assert abs(got.loc[conv, "r"] - r) < 1e-9


def test_signal_trend_degenerate_is_null(spark):
    from z_rad_spark.operators.profile import signal_trend

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c1", "c1"],
            "turn_idx": [0, 0, 1],
            "ts": pd.to_datetime(["2024-01-01 00:00:00"] * 3),
            "signal": [5.0, 3.0, 3.0],
        }
    )
    got = signal_trend(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    # single turn: no fit; constant signal: slope 0 but r undefined
    assert pd.isna(got.loc["c0", "slope"])
    assert abs(got.loc["c1", "slope"]) < 1e-12
    assert pd.isna(got.loc["c1", "r"])


def test_temporal_profile_matches_manual(spark):
    import math

    from z_rad_spark.operators.profile import temporal_profile

    df, pdf = _turns(spark, n_conv=3, n_turns=60, seed=71)
    got = temporal_profile(df).toPandas().set_index("conv_id")
    for conv, grp in pdf.groupby("conv_id"):
        hours = grp["ts"].dt.hour.to_numpy()
        n = len(hours)
        counts = np.bincount(hours, minlength=24)
        assert got.loc[conv, "n"] == n
        assert got.loc[conv, "peak_hour"] == int(np.argmax(counts))
        assert abs(got.loc[conv, "peak_frac"] - counts.max() / n) < 1e-12
        ent = -sum(
            (c / n) * math.log2(c / n) for c in counts if c > 0
        )
        assert abs(got.loc[conv, "hour_entropy"] - ent) < 1e-9
        assert abs(got.loc[conv, "night_frac"] - (hours <= 5).mean()) < 1e-12
        wk = grp["ts"].dt.dayofweek.isin([5, 6]).mean()  # pandas: 5=Sat 6=Sun
        assert abs(got.loc[conv, "weekend_frac"] - wk) < 1e-12


def test_response_latency_matches_manual(spark):
    from z_rad_spark.operators.profile import response_latency

    df, pdf = _turns(spark, n_conv=4, n_turns=40, seed=73)
    pdf["role"] = ["user", "assistant", "tool", "assistant"] * (len(pdf) // 4)
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "ts", "signal", "role"]])
    got = response_latency(df).toPandas().set_index("conv_id")
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"])
    for conv, grp in pdf.groupby("conv_id"):
        roles = grp["role"].to_numpy()
        ts_us = grp["ts"].astype("int64").to_numpy()  # ns -> but ratio-safe
        ts_us = ts_us // 1000
        gaps = [
            ts_us[i] - ts_us[i - 1]
            for i in range(1, len(roles))
            if roles[i] == "assistant" and roles[i - 1] == "user"
        ]
        if not gaps:
            assert conv not in got.index
            continue
        assert got.loc[conv, "n_resp"] == len(gaps)
        assert got.loc[conv, "min_us"] == min(gaps)
        assert got.loc[conv, "max_us"] == max(gaps)
        assert abs(got.loc[conv, "mean_us"] - sum(gaps) / len(gaps)) < 1e-6


def test_partition_invariance_of_profile_operators(spark):
    from z_rad_spark.operators.profile import (
        response_latency,
        signal_trend,
        temporal_profile,
    )

    df, pdf = _turns(spark, n_conv=5, n_turns=40, seed=79)
    pdf["role"] = ["user", "assistant", "tool", "system"] * (len(pdf) // 4)
    base = spark.createDataFrame(
        pdf[["conv_id", "turn_idx", "ts", "signal", "role"]]
    )
    for op in (signal_trend, temporal_profile, response_latency):
        one = sorted(map(tuple, op(base.repartition(1)).collect()))
        many = sorted(map(tuple, op(base.repartition(7)).collect()))
        assert one == many


def test_welch_drift_matches_manual(spark):
    import math

    from z_rad_spark.operators.drift import welch_drift

    df, pdf = _turns(spark, n_conv=4, n_turns=60, seed=89)
    pdf["role"] = ["user", "assistant", "tool", "system"] * (len(pdf) // 4)
    df = spark.createDataFrame(pdf[["conv_id", "turn_idx", "ts", "signal", "role"]])
    split = pd.Timestamp("2024-01-01 12:00:00")
    got = (
        welch_drift(df, split_ts="2024-01-01 12:00:00").toPandas().set_index("role")
    )
    for role, grp in pdf.groupby("role"):
        ref = grp[grp["ts"] < split]["signal"].to_numpy()
        cur = grp[grp["ts"] >= split]["signal"].to_numpy()
        t = (ref.mean() - cur.mean()) / math.sqrt(
            ref.var(ddof=1) / len(ref) + cur.var(ddof=1) / len(cur)
        )
        pooled = (
            (len(ref) - 1) * ref.var(ddof=1) + (len(cur) - 1) * cur.var(ddof=1)
        ) / (len(ref) + len(cur) - 2)
        d = (ref.mean() - cur.mean()) / math.sqrt(pooled)
        assert got.loc[role, "n_ref"] == len(ref)
        assert abs(got.loc[role, "mean_ref"] - ref.mean()) < 1e-12
        assert abs(got.loc[role, "mean_cur"] - cur.mean()) < 1e-12
        assert abs(got.loc[role, "t"] - t) < 1e-9
        assert abs(got.loc[role, "d"] - d) < 1e-9


def test_welch_drift_degenerate_windows_are_null(spark):
    from z_rad_spark.operators.drift import welch_drift

    pdf = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": range(3),
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:01:00", "2024-06-02 00:00:00"]
            ),
            "signal": [1.0, 3.0, 5.0],
            "role": "user",
        }
    )
    got = welch_drift(spark.createDataFrame(pdf), split_ts="2024-06-01").toPandas()
    # monitoring window has a single observation: t and d undefined
    assert got["n_cur"].iloc[0] == 1
    assert abs(got["mean_cur"].iloc[0] - 5.0) < 1e-12
    assert pd.isna(got["t"].iloc[0])
    assert pd.isna(got["d"].iloc[0])


def test_echo_score_matches_manual(spark):
    from z_rad_spark.operators.sessionize import with_echo_score

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0"] * 4,
            "turn_idx": range(4),
            "ts": pd.date_range("2024-01-01", periods=4, freq="min"),
            "text": [
                "the cat sat",
                "the cat SAT down",   # case-folded: {the,cat,sat,down}
                "entirely new words here",
                "entirely new words here",  # exact echo
            ],
        }
    )
    got = (
        with_echo_score(spark.createDataFrame(pdf))
        .select("turn_idx", "n_common", "n_union", "echo")
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert pd.isna(got.loc[0, "echo"])  # first turn: no predecessor
    assert got.loc[1, "n_common"] == 3 and got.loc[1, "n_union"] == 4
    assert abs(got.loc[1, "echo"] - 0.75) < 1e-12
    assert got.loc[2, "n_common"] == 0
    assert abs(got.loc[2, "echo"]) < 1e-12
    assert abs(got.loc[3, "echo"] - 1.0) < 1e-12


def test_role_run_stats_matches_manual(spark):
    from z_rad_spark.operators.sessionize import role_run_stats

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0"] * 7 + ["c1"],
            "turn_idx": list(range(7)) + [0],
            "ts": list(pd.date_range("2024-01-01", periods=7, freq="min"))
            + [pd.Timestamp("2024-01-01")],
            "role": ["user", "user", "assistant", "user", "user", "user", "tool",
                     "assistant"],
        }
    )
    got = role_run_stats(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    assert got.loc["c0", "n_turns"] == 7
    assert got.loc["c0", "n_runs"] == 4
    assert got.loc["c0", "max_run"] == 3
    assert abs(got.loc["c0", "mean_run"] - 7 / 4) < 1e-12
    assert got.loc["c1", "n_runs"] == 1 and got.loc["c1", "max_run"] == 1


def test_rank_normalize_matches_scipy_form(spark):
    from z_rad_spark.operators.sessionize import with_rank_normalize

    df, pdf = _turns(spark, n_conv=3, n_turns=40, seed=113)
    got = (
        with_rank_normalize(df)
        .select("conv_id", "turn_idx", "rank_u")
        .toPandas()
        .set_index(["conv_id", "turn_idx"])["rank_u"]
    )
    for conv, grp in pdf.groupby("conv_id"):
        r = grp["signal"].rank(method="average")  # midranks
        u = (r - 0.5) / len(grp)
        for (_, row), want in zip(grp.iterrows(), u):
            assert abs(got[(conv, row["turn_idx"])] - want) < 1e-12
    # ties share the same u; u strictly inside (0, 1)
    assert got.min() > 0 and got.max() < 1


def test_spearman_trend_matches_pandas(spark):
    from z_rad_spark.operators.sessionize import spearman_trend

    df, pdf = _turns(spark, n_conv=4, n_turns=60, seed=127)
    got = spearman_trend(df).toPandas().set_index("conv_id")
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"])
    for conv, grp in pdf.groupby("conv_id"):
        s = pd.Series(grp["signal"].to_numpy())
        # spearman = pearson on midranks (scipy-free; the ordinal's
        # ranks are itself, so pearson(ordinal, midranks(signal)))
        want = pd.Series(np.arange(len(s)), dtype=float).corr(
            s.rank(method="average")
        )
        assert got.loc[conv, "n"] == len(s)
        assert abs(got.loc[conv, "rho"] - want) < 1e-9


def test_spearman_trend_monotone_invariance_and_nulls(spark):
    from z_rad_spark.operators.sessionize import spearman_trend

    base = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": range(6),
            "ts": pd.date_range("2024-01-01", periods=6, freq="min"),
            "signal": [1.0, 2.0, 4.0, 3.0, 5.0, 6.0],
        }
    )
    r1 = spearman_trend(spark.createDataFrame(base)).toPandas()["rho"][0]
    squared = base.assign(signal=base["signal"] ** 3)  # monotone transform
    r2 = spearman_trend(spark.createDataFrame(squared)).toPandas()["rho"][0]
    assert abs(r1 - r2) < 1e-12
    const = base.assign(signal=2.0)
    r3 = spearman_trend(spark.createDataFrame(const)).toPandas()
    assert pd.isna(r3["rho"][0])


def test_vocab_growth_matches_manual(spark):
    from z_rad_spark.operators.sessionize import with_vocab_growth

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0"] * 4,
            "turn_idx": range(4),
            "ts": pd.date_range("2024-01-01", periods=4, freq="min"),
            "text": [
                "a b c",        # 3 new -> vocab 3
                "b c d",        # 1 new (d) -> vocab 4
                "a a a",        # 0 new, 1 distinct -> vocab 4
                "e f",          # 2 new -> vocab 6
            ],
        }
    )
    got = (
        with_vocab_growth(spark.createDataFrame(pdf))
        .select("turn_idx", "n_distinct", "n_new", "vocab")
        .toPandas()
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert list(got["n_distinct"]) == [3, 3, 1, 2]
    assert list(got["n_new"]) == [3, 1, 0, 2]
    assert list(got["vocab"]) == [3, 4, 4, 6]


def test_conversation_features_composition_consistency(spark):
    """Every one of the 38 columns equals its standalone operator's,
    bit for bit (NULL and NaN count as equal; a member with no row for
    a conversation counts as NULL). Besides four cycling-role
    conversations with NULL signals, the frame has a one-turn
    conversation (no changepoint, no Theil-Sen fit) and an all-tool one
    (no user->assistant pair, so no latency or pair-coupling row)."""
    from z_rad_spark.operators import profile, sessionize

    df, pdf = _turns(spark, n_conv=4, n_turns=30, seed=131)
    pdf["role"] = ["user", "assistant", "tool", "system"] * (len(pdf) // 4)
    t0 = pd.Timestamp("2024-01-03")
    extra = pd.DataFrame(
        [("solo", 0, t0, 3.0, "user")]
        + [("tools", i, t0 + pd.Timedelta(minutes=7 * i), float(i % 4), "tool") for i in range(5)],
        columns=["conv_id", "turn_idx", "ts", "signal", "role"],
    )
    pdf = pd.concat([pdf[extra.columns], extra], ignore_index=True)
    base = spark.createDataFrame(pdf).withColumn(
        "signal",
        F.when((F.col("conv_id") == "c1") & (F.col("turn_idx") % 7 == 3), None).otherwise(
            F.col("signal")
        ),
    )
    wide = profile.conversation_features(base).toPandas().set_index("conv_id")
    assert len(wide) == 6 and len(wide.columns) == 38

    members = [
        (profile.signal_trend, {"n": "n", "slope": "slope", "intercept": "intercept", "r": "r"}),
        (sessionize.role_transitions, {c: c for c in (
            "n_trans", "n_distinct_trans", "self_loop_ratio", "trans_entropy",
            "prev_entropy", "cond_entropy")}),
        (sessionize.role_run_stats, {c: c for c in ("n_runs", "max_run", "mean_run")}),
        (sessionize.autocorr_features, {c: c for c in ("ac_1", "ac_2", "ac_3")}),
        (sessionize.spearman_trend, {"rho": "rho"}),
        (profile.temporal_profile, {c: c for c in (
            "peak_hour", "peak_frac", "hour_entropy", "night_frac", "weekend_frac")}),
        (profile.arrival_stats, {c: c for c in (
            "span_s", "mean_gap_s", "cv_gap", "burstiness", "fano_hourly")}),
        (profile.changepoint, {"cp_turn": "cp_turn", "mean_gap": "cp_gap", "g_stat": "cp_stat"}),
        (profile.theil_sen_trend, {"sen_slope": "sen_slope", "sen_intercept": "sen_intercept"}),
        (profile.pair_signal_correlation, {"n_pairs": "n_pairs", "r": "pair_r"}),
        (profile.response_latency, {
            "n_resp": "n_responses", "mean_us": "mean_us", "min_us": "min_us",
            "max_us": "max_us"}),
    ]

    def same(a, b):
        na, nb = pd.isna(a), pd.isna(b)
        if na or nb:
            return na and nb
        if isinstance(a, float) or isinstance(b, float):
            return np.float64(a).tobytes() == np.float64(b).tobytes()
        return a == b

    seen = []
    for op, cols in members:
        got = op(base).toPandas().set_index("conv_id").reindex(wide.index)
        for src, dst in cols.items():
            seen.append(dst)
            bad = [
                c for c in wide.index if not same(wide.at[c, dst], got.at[c, src])
            ]
            assert bad == [], (op.__name__, src, bad)
    assert sorted(seen) == sorted(wide.columns)
    # the edge conversations exercise the NULL paths
    assert pd.isna(wide.at["solo", "cp_turn"]) and pd.isna(wide.at["solo", "sen_slope"])
    assert pd.isna(wide.at["tools", "n_responses"]) and pd.isna(wide.at["tools", "n_pairs"])


def test_role_names_with_quotes(spark):
    """A caller-supplied role name is data, never SQL: with a quote in
    a role name, role_transitions and response_latency give exactly
    the values they give when that role has a plain name."""
    from z_rad_spark.operators.profile import response_latency
    from z_rad_spark.operators.sessionize import role_transitions

    odd = "o'brien \\' x"
    seq = {"c0": [odd, "assistant", odd, odd, odd, "assistant", odd],
           "c1": ["tool", odd, "tool"]}
    rows = [
        (c, i, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=37 * i * i + 5 * i), r)
        for c, roles in seq.items()
        for i, r in enumerate(roles)
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role"])
    quoted = spark.createDataFrame(pdf)
    plain = spark.createDataFrame(pdf.replace({"role": {odd: "obrien"}}))

    def run(op, df, **kw):
        return op(df, **kw).toPandas().sort_values("conv_id").reset_index(drop=True)

    got = run(role_transitions, quoted, roles=("assistant", odd, "tool", "user"))
    want = run(role_transitions, plain, roles=("assistant", "obrien", "tool", "user"))
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert list(got["n_trans"]) == [6, 2]
    assert list(got["n_distinct_trans"]) == [3, 2]

    got = run(response_latency, quoted, from_role=odd, to_role="assistant")
    want = run(response_latency, plain, from_role="obrien", to_role="assistant")
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # c0: odd->assistant at turns 1 and 5; c1 has no such pair (no row)
    assert list(got["conv_id"]) == ["c0"] and list(got["n_resp"]) == [2]
    assert list(got["min_us"]) == [42_000_000]


def test_role_transitions_conditional_entropy(spark):
    import math

    from z_rad_spark.operators.sessionize import role_transitions

    # deterministic ping-pong: next role fully determined by previous
    pdf = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": range(8),
            "ts": pd.date_range("2024-01-01", periods=8, freq="min"),
            "role": ["user", "assistant"] * 4,
        }
    )
    got = role_transitions(spark.createDataFrame(pdf)).toPandas().iloc[0]
    # 7 transitions: 4x u->a, 3x a->u; H(prev) = H({4/7, 3/7});
    # H(pair) equals it exactly, so H(next|prev) = 0 (fully predictable)
    hp = -(4 / 7) * math.log2(4 / 7) - (3 / 7) * math.log2(3 / 7)
    assert abs(got["prev_entropy"] - hp) < 1e-12
    assert abs(got["cond_entropy"]) < 1e-12
    assert abs(got["trans_entropy"] - hp) < 1e-12


def test_daily_activity_matches_manual(spark):
    from z_rad_spark.operators.profile import daily_activity

    pdf = pd.DataFrame(
        {
            "conv_id": ["a", "a", "a", "b", "b", "c"],
            "turn_idx": [0, 1, 2, 0, 1, 0],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 10:00", "2024-01-01 11:00",  # a day1 (2 turns)
                    "2024-01-02 09:00",                       # a day2
                    "2024-01-01 10:00",                       # b day1
                    "2024-01-03 10:00",                       # b day3 (gap)
                    "2024-01-02 10:00",                       # c day2 (new)
                ]
            ),
        }
    )
    got = (
        daily_activity(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    # day1: active {a,b}, both new; retained next day = {a} -> 1/2
    # day2: active {a,c}, new {c}; retained = {} (b returns but wasn't
    #        active day2; a not active day3) -> 0
    # day3: active {b}, new 0; retained 0 (no day4)
    assert list(got["n_active"]) == [2, 2, 1]
    assert list(got["n_new"]) == [2, 1, 0]
    assert list(got["n_retained"]) == [1, 0, 0]
    assert abs(got.loc[0, "retention"] - 0.5) < 1e-12


def test_robust_scale_matches_numpy(spark):
    from z_rad_spark.operators.sessionize import with_robust_scale

    df, pdf = _turns(spark, n_conv=4, n_turns=31, seed=71)
    got = (
        with_robust_scale(df)
        .select("conv_id", "turn_idx", "med", "mad", "robust_z")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    for conv, grp in pdf.groupby("conv_id"):
        x = grp["signal"].to_numpy()
        med = float(np.median(x))
        mad = float(np.median(np.abs(x - med)))
        sub = got[got["conv_id"] == conv]
        assert np.allclose(sub["med"], med, atol=0)
        assert np.allclose(sub["mad"], mad, atol=0)
        g = grp.sort_values("turn_idx")
        if mad > 0:
            want = (g["signal"].to_numpy() - med) / (1.4826 * mad)
            assert np.allclose(
                sub.sort_values("turn_idx")["robust_z"].to_numpy(), want,
                atol=1e-12,
            )


def test_robust_scale_null_and_constant_edge_cases(spark):
    import pandas as pd

    from z_rad_spark.operators.sessionize import with_robust_scale

    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 4 + ["b"] * 3,
            "turn_idx": [0, 1, 2, 3, 0, 1, 2],
            "ts": pd.to_datetime(["2024-01-01"] * 7)
            + pd.to_timedelta(range(7), unit="m"),
            # a: one NULL among {1, 3, 10}; b: constant -> mad 0
            "signal": [1.0, None, 3.0, 10.0, 5.0, 5.0, 5.0],
        }
    )
    got = (
        with_robust_scale(spark.createDataFrame(pdf))
        .select("conv_id", "turn_idx", "med", "mad", "robust_z")
        .toPandas()
        .set_index(["conv_id", "turn_idx"])
        .sort_index()
    )
    # conv a: med of [1,3,10] = 3, deviations [2,0,7] -> mad 2
    assert (got.loc["a"]["med"] == 3.0).all()
    assert (got.loc["a"]["mad"] == 2.0).all()
    assert pd.isna(got.loc[("a", 1), "robust_z"])  # NULL signal -> NULL z
    assert abs(got.loc[("a", 3), "robust_z"] - 7.0 / (1.4826 * 2.0)) < 1e-12
    # conv b: constant -> mad 0 -> z NULL everywhere
    assert (got.loc["b"]["mad"] == 0.0).all()
    assert got.loc["b"]["robust_z"].isna().all()


def test_ewm_smooth_matches_pandas(spark):
    from z_rad_spark.operators.sessionize import with_ewm_smooth

    df, pdf = _turns(spark, n_conv=3, n_turns=30, seed=73)
    alpha = 0.5
    lookback = 8
    got = (
        with_ewm_smooth(df, alpha=alpha, lookback=lookback)
        .select("conv_id", "turn_idx", "ewm", "ewm_n")
        .toPandas()
        .set_index(["conv_id", "turn_idx"])
        .sort_index()
    )
    for conv, grp in pdf.groupby("conv_id"):
        g = grp.sort_values(["ts", "turn_idx"])
        xs = g["signal"].to_list()
        idx = g["turn_idx"].to_list()
        for k in range(len(xs)):
            lo = max(0, k - lookback + 1)
            window = xs[lo : k + 1][::-1]  # lag order: j=0 is current
            num = sum(alpha**j * v for j, v in enumerate(window))
            den = sum(alpha**j for j in range(len(window)))
            assert abs(got.loc[(conv, idx[k]), "ewm"] - num / den) < 1e-12
            assert got.loc[(conv, idx[k]), "ewm_n"] == len(window)


def test_ewm_smooth_imputes_null_signal_from_history(spark):
    import pandas as pd

    from z_rad_spark.operators.sessionize import with_ewm_smooth

    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 4,
            "turn_idx": [0, 1, 2, 3],
            "ts": pd.to_datetime(["2024-01-01"] * 4)
            + pd.to_timedelta(range(4), unit="m"),
            "signal": [None, 4.0, None, 8.0],
        }
    )
    got = (
        with_ewm_smooth(spark.createDataFrame(pdf))
        .select("turn_idx", "ewm", "ewm_n")
        .toPandas()
        .set_index("turn_idx")
        .sort_index()
    )
    # turn 0: no history at all -> NULL, n = 0
    assert pd.isna(got.loc[0, "ewm"]) and got.loc[0, "ewm_n"] == 0
    # turn 2 (NULL signal): smoothed from turn 1 only = 4.0
    assert got.loc[2, "ewm"] == 4.0 and got.loc[2, "ewm_n"] == 1
    # turn 3: (1*8 + 0.25*4) / (1 + 0.25) = 7.2
    assert abs(got.loc[3, "ewm"] - 7.2) < 1e-12 and got.loc[3, "ewm_n"] == 2


def test_ewm_smooth_validates_params(spark):
    import pytest

    from z_rad_spark.operators.sessionize import with_ewm_smooth

    df, _ = _turns(spark, n_conv=1, n_turns=3, seed=1)
    with pytest.raises(ValueError):
        with_ewm_smooth(df, alpha=0.0)
    with pytest.raises(ValueError):
        with_ewm_smooth(df, alpha=1.5)
    with pytest.raises(ValueError):
        with_ewm_smooth(df, lookback=0)


def test_partition_invariance_of_session7_operators(spark):
    """Session-7 operators must give identical results at 1 and 7 input
    partitions (the distributed-correctness contract)."""
    from z_rad_spark.operators.sessionize import (
        with_ewm_smooth,
        with_robust_scale,
    )

    df, pdf = _turns(spark, n_conv=5, n_turns=40, seed=79)
    base = spark.createDataFrame(pdf)
    ops = [
        lambda d: with_robust_scale(d).select(
            "conv_id", "turn_idx", "med", "mad", "robust_z"
        ),
        lambda d: with_ewm_smooth(d).select(
            "conv_id", "turn_idx", "ewm", "ewm_n"
        ),
    ]
    for op in ops:
        one = sorted(map(tuple, op(base.repartition(1)).collect()))
        many = sorted(map(tuple, op(base.repartition(7)).collect()))
        assert one == many


def test_js_drift_matches_manual_and_bounds(spark):
    from z_rad_spark.operators.drift import js_drift

    df, pdf = _turns(spark, n_conv=5, n_turns=50, seed=23)
    df = df.withColumn("role", F.when(F.col("turn_idx") % 2 == 0, "user").otherwise("assistant"))
    pdf = pdf.assign(role=np.where(pdf.turn_idx % 2 == 0, "user", "assistant"))
    split = pd.Timestamp("2024-01-01 12:00:00")
    got = js_drift(df, split_ts=str(split)).toPandas().set_index("role").sort_index()
    for role, grp in pdf.groupby("role"):
        ref = grp[grp.ts < split]
        cur = grp[~(grp.ts < split)]
        nr, nc = len(ref) + 9, len(cur) + 9
        jsd = 0.0
        for b in range(1, 10):
            p = (int((ref.signal == b).sum()) + 1) / nr
            q = (int((cur.signal == b).sum()) + 1) / nc
            m = (p + q) / 2.0
            jsd += 0.5 * p * np.log(p / m) + 0.5 * q * np.log(q / m)
        row = got.loc[role]
        assert row.n_ref == len(ref) and row.n_cur == len(cur)
        assert np.isclose(row.jsd, jsd, atol=1e-12)
        assert 0.0 <= row.jsd <= np.log(2.0) + 1e-12
        assert np.isclose(row.js_dist, np.sqrt(jsd / np.log(2.0)), atol=1e-12)


def test_js_drift_symmetric_under_window_swap(spark):
    """JSD(P, Q) == JSD(Q, P): mirroring time around the cutoff swaps the
    reference and monitoring windows and must leave the score unchanged."""
    from z_rad_spark.operators.drift import js_drift

    df, pdf = _turns(spark, n_conv=4, n_turns=40, seed=5)
    df = df.withColumn("role", F.lit("user"))
    split = pd.Timestamp("2024-01-01 12:00:00")
    a = js_drift(df, split_ts=str(split)).toPandas().iloc[0]
    mirrored = pdf.assign(
        ts=split + (split - pdf.ts) + pd.Timedelta(seconds=1), role="user"
    )
    b = js_drift(spark.createDataFrame(mirrored), split_ts=str(split)).toPandas().iloc[0]
    assert a.n_ref == b.n_cur and a.n_cur == b.n_ref
    assert np.isclose(a.jsd, b.jsd, atol=1e-12)


def test_w1_drift_matches_manual_cdf_integral(spark):
    from z_rad_spark.operators.drift import w1_drift

    df, pdf = _turns(spark, n_conv=5, n_turns=50, seed=31)
    split = pd.Timestamp("2024-01-01 12:00:00")
    got = w1_drift(df.withColumn("role", F.lit("all")), split_ts=str(split)).toPandas().iloc[0]
    ref = pdf[pdf.ts < split].signal.to_numpy()
    cur = pdf[~(pdf.ts < split)].signal.to_numpy()
    vals = np.unique(np.concatenate([ref, cur]))
    cr = np.array([(ref <= v).sum() for v in vals]) / len(ref)
    cc = np.array([(cur <= v).sum() for v in vals]) / len(cur)
    want = float(np.sum(np.abs(cr[:-1] - cc[:-1]) * np.diff(vals)))
    assert got.n_ref == len(ref) and got.n_cur == len(cur)
    assert np.isclose(got.w1, want, atol=1e-12)


def test_w1_drift_point_masses_and_identity(spark):
    """Degenerate checks: identical windows give W1=0; point masses at a
    and b give exactly |a-b|."""
    from z_rad_spark.operators.drift import w1_drift

    rows = []
    for i in range(20):
        # same distribution both sides of the cutoff
        rows.append(("c0", i, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i), float(1 + i % 5), "same"))
        # ref all 2, cur all 7
        val = 2.0 if i < 10 else 7.0
        rows.append(("c1", i, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i), val, "shift"))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal", "role"])
    df = spark.createDataFrame(pdf)
    got = (
        w1_drift(df, split_ts="2024-01-01 10:00:00")
        .toPandas()
        .set_index("role")
    )
    # c0: hours 0..9 are signals 1..5,1..5 ; hours 10..19 the same multiset
    assert np.isclose(got.loc["same"].w1, 0.0, atol=1e-15)
    assert np.isclose(got.loc["shift"].w1, 5.0, atol=1e-15)


def test_page_hinkley_matches_recursion(spark):
    from z_rad_spark.operators.drift import page_hinkley_summary, with_page_hinkley

    df, pdf = _turns(spark, n_conv=4, n_turns=60, seed=17)
    delta, thr = 0.25, 12.0
    got = (
        with_page_hinkley(df, delta, thr)
        .select("conv_id", "turn_idx", "ph", "ph_alarm")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    want = []
    for conv, grp in pdf.groupby("conv_id", sort=True):
        s = cnt = 0.0
        pv = 0.0
        run_min = np.inf
        for _, row in grp.iterrows():
            s += row["signal"]
            cnt += 1
            pv += row["signal"] - s / cnt - delta
            run_min = min(run_min, pv)
            ph = pv - run_min
            want.append((conv, row["turn_idx"], ph, ph > thr))
    want = (
        pd.DataFrame(want, columns=["conv_id", "turn_idx", "ph", "ph_alarm"])
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert np.allclose(got["ph"], want["ph"], atol=1e-9)
    assert (got["ph_alarm"] == want["ph_alarm"]).all()

    summ = page_hinkley_summary(df, delta, thr).toPandas().set_index("conv_id")
    per = want.groupby("conv_id")
    assert (summ["n_alarms"].sort_index() == per["ph_alarm"].sum().sort_index()).all()
    assert np.allclose(summ["max_ph"].sort_index(), per["ph"].max().sort_index(), atol=1e-9)


def test_page_hinkley_alarms_on_mean_shift_only(spark):
    from z_rad_spark.operators.drift import page_hinkley_summary

    rows = []
    for i in range(80):
        # flat conversation: constant signal -> ph stays at -delta*0 = 0-ish
        rows.append(("flat", i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i), 5.0))
        # shifted conversation: 50 turns at 2, then 30 turns at 9
        rows.append(
            ("shift", i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i), 2.0 if i < 50 else 9.0)
        )
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = (
        page_hinkley_summary(spark.createDataFrame(pdf), delta=0.25, threshold=12.0)
        .toPandas()
        .set_index("conv_id")
    )
    assert got.loc["flat"].n_alarms == 0
    assert got.loc["shift"].n_alarms > 0
    assert got.loc["shift"].first_alarm_us is not None


def test_arrival_stats_matches_pandas(spark):
    from z_rad_spark.operators.profile import arrival_stats

    df, pdf = _turns(spark, n_conv=5, n_turns=40, seed=41)
    got = arrival_stats(df).toPandas().set_index("conv_id").sort_index()
    for conv, grp in pdf.groupby("conv_id"):
        grp = grp.sort_values(["ts", "turn_idx"])
        us = grp.ts.astype("int64") // 1000
        gaps = (np.diff(us) // 1_000_000).astype(np.int64)
        row = got.loc[conv]
        assert row.n_turns == len(grp)
        assert row.span_s == (us.iloc[-1] - us.iloc[0]) // 1_000_000
        mu = gaps.mean()
        sd = gaps.std(ddof=0)
        assert np.isclose(row.mean_gap_s, mu, atol=1e-9)
        assert np.isclose(row.cv_gap, sd / mu, atol=1e-9)
        assert np.isclose(row.burstiness, (sd - mu) / (sd + mu), atol=1e-9)
        # hourly Fano over the FULL span, empty buckets as zeros
        hb = us // 3_600_000_000
        nb = int(hb.max() - hb.min() + 1)
        counts = np.zeros(nb)
        for b in hb:
            counts[int(b - hb.min())] += 1
        fano = counts.var() / counts.mean()
        assert np.isclose(row.fano_hourly, fano, atol=1e-9)


def test_arrival_stats_burstiness_extremes(spark):
    """Perfectly periodic gaps give burstiness exactly -1 (sigma = 0);
    a bursty train (many zero gaps + one huge gap) goes positive."""
    from z_rad_spark.operators.profile import arrival_stats

    rows = []
    for i in range(30):
        rows.append(("periodic", i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=10 * i), 1.0))
        # bursty: 29 turns in the same minute, then one 12h later
        t = pd.Timestamp("2024-01-01") + (pd.Timedelta(seconds=i) if i < 29 else pd.Timedelta(hours=12))
        rows.append(("bursty", i, t, 1.0))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = arrival_stats(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    assert got.loc["periodic"].burstiness == -1.0
    assert got.loc["bursty"].burstiness > 0.5
    # the periodic conversation spreads ~1 turn/10min -> hourly Fano < 1
    assert got.loc["periodic"].fano_hourly < 1.0
    # the burst concentrates 29 turns into one hour bucket -> Fano >> 1
    assert got.loc["bursty"].fano_hourly > 5.0


def test_count_frequency_encode_matches_pandas(spark):
    from z_rad_spark.operators.encoding import count_frequency_encode

    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "source": [f"s{i % 7}" for i in range(35)] + ["s_rare"] * 5,
        }
    )
    got = (
        count_frequency_encode(spark.createDataFrame(pdf), "source", min_count=5)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    vc = pdf.source.value_counts()
    n = len(pdf)
    for _, row in got.iterrows():
        c = vc[row.source]
        assert row.cat_count == c
        assert np.isclose(row.cat_freq, c / n, atol=1e-15)
        assert np.isclose(row.cat_logc, np.log1p(c), atol=1e-12)
        assert row.is_rare == (c < 5)
    # dense rank is deterministic: ordering by rank equals ordering by
    # (count desc, source asc), and ranks are dense 1..k
    ranked = (
        got[["source", "cat_count", "cat_rank"]]
        .drop_duplicates()
        .sort_values("cat_rank")
        .reset_index(drop=True)
    )
    by_key = (
        ranked.sort_values(["cat_count", "source"], ascending=[False, True])
        .source.tolist()
    )
    assert ranked.source.tolist() == by_key
    assert sorted(ranked.cat_rank.unique()) == list(
        range(1, ranked.cat_rank.nunique() + 1)
    )


def test_value_quantiles_matches_numpy_convention(spark):
    from z_rad_spark.operators.encoding import value_quantiles

    df, pdf = _turns(spark, n_conv=6, n_turns=50, seed=53)
    df = df.withColumn("role", F.when(F.col("turn_idx") % 2 == 0, "a").otherwise("b"))
    pdf = pdf.assign(role=np.where(pdf.turn_idx % 2 == 0, "a", "b"))
    got = value_quantiles(df, probs=(0.25, 0.5, 0.75), group_col="role").toPandas().set_index("role")
    for role, grp in pdf.groupby("role"):
        vals = np.sort(grp.signal.to_numpy())
        n = len(vals)
        for p, col in ((0.25, "q_25"), (0.5, "q_5"), (0.75, "q_75")):
            # smallest value whose cumulative count reaches p*n ==
            # the ceil-index order statistic
            want = vals[int(np.ceil(p * n)) - 1]
            assert got.loc[role][col] == want, (role, p)
        assert got.loc[role].n == n


def test_winsorize_clips_to_group_cutoffs(spark):
    from z_rad_spark.operators.encoding import value_quantiles, winsorize

    df, pdf = _turns(spark, n_conv=6, n_turns=60, seed=59)
    df = df.withColumn("role", F.lit("all"))
    q = value_quantiles(df, probs=(0.05, 0.95), group_col="role").toPandas().iloc[0]
    got = winsorize(df, lower=0.05, upper=0.95, group_col="role").toPandas()
    assert (got.signal_w >= q.q_05).all()
    assert (got.signal_w <= q.q_95).all()
    inside = (got.signal >= q.q_05) & (got.signal <= q.q_95)
    assert (got.signal_w[inside] == got.signal[inside]).all()
    assert (got.signal_w[got.signal < q.q_05] == q.q_05).all()
    assert (got.signal_w[got.signal > q.q_95] == q.q_95).all()


def test_winsorize_full_range_keeps_every_value(spark):
    """lower=0.0 / upper=1.0 clip to each group's min and max, so no value
    moves (the two bounds once resolved to one column name)."""
    from z_rad_spark.operators.encoding import winsorize

    df, pdf = _turns(spark, n_conv=4, n_turns=30, seed=61)
    df = df.withColumn("role", F.when(F.col("turn_idx") % 2 == 0, "a").otherwise("b"))
    pdf = pdf.assign(role=np.where(pdf.turn_idx % 2 == 0, "a", "b"))
    got = winsorize(df, lower=0.0, upper=1.0, group_col="role").toPandas()
    assert (got.signal_w == got.signal).all()
    for role, grp in pdf.groupby("role"):
        sub = got[got.role == role]
        assert (sub._lo == grp.signal.min()).all() and (sub._hi == grp.signal.max()).all()


def test_value_quantiles_rejects_probabilities_sharing_a_name(spark):
    from z_rad_spark.operators.encoding import value_quantiles

    df, _ = _turns(spark, n_conv=2, n_turns=10, seed=67)
    with pytest.raises(ValueError, match="q_0"):
        value_quantiles(df.withColumn("role", F.lit("all")), probs=(0.0, 1.0))


def test_feature_cross_deterministic_and_bounded(spark):
    from z_rad_spark.operators.encoding import with_feature_cross

    pdf = pd.DataFrame(
        {
            "role": ["user", "assistant", None, "user"],
            "tool": ["checkout", None, "register", "checkout"],
        }
    )
    df = spark.createDataFrame(pdf)
    a = with_feature_cross(df, ("role", "tool"), 64).toPandas()
    b = with_feature_cross(df, ("role", "tool"), 64).toPandas()
    assert (a.cross_bucket == b.cross_bucket).all()           # stable
    assert a.cross_bucket.between(0, 63).all()                # bounded
    # identical inputs collide; different inputs (here) don't all collide
    assert a.cross_bucket.iloc[0] == a.cross_bucket.iloc[3]
    assert a.cross_bucket.nunique() > 1
    # a different salt gives an independent mapping
    c = with_feature_cross(df, ("role", "tool"), 64, salt="x2").toPandas()
    assert (a.cross_bucket != c.cross_bucket).any()


def test_calibration_bins_hand_computed(spark):
    from z_rad_spark.operators.encoding import calibration_bins

    # 6 rows in bin 2 (probs .20-.29), 4 rows in bin 9 (probs >= .9)
    pdf = pd.DataFrame(
        {
            "prob": [0.21, 0.22, 0.22, 0.25, 0.28, 0.29, 0.91, 0.95, 0.99, 1.0],
            "label_true": [False, False, True, False, False, True,
                           True, True, True, False],
        }
    )
    got = (
        calibration_bins(spark.createDataFrame(pdf), "prob", "label_true", 10)
        .toPandas()
        .set_index("bin")
        .sort_index()
    )
    assert set(got.index) == {2, 9}
    b2, b9 = got.loc[2], got.loc[9]
    assert b2.n == 6 and b2.n_pos == 2
    assert np.isclose(b2.acc, 2 / 6, atol=1e-12)
    assert np.isclose(b2.conf, np.mean([0.21, 0.22, 0.22, 0.25, 0.28, 0.29]), atol=1e-9)
    assert b9.n == 4 and b9.n_pos == 3
    # prob 1.0 floors to bin 10 -> clamped to 9
    want_ece = (6 / 10) * abs(b2.acc - b2.conf) + (4 / 10) * abs(b9.acc - b9.conf)
    assert np.isclose(got.ece.iloc[0], want_ece, atol=1e-9)
    assert (got.ece == got.ece.iloc[0]).all()


def test_pair_signal_correlation_matches_numpy(spark):
    from z_rad_spark.operators.profile import pair_signal_correlation

    rng = np.random.default_rng(61)
    rows = []
    for c in range(4):
        t0 = pd.Timestamp("2024-01-01")
        for i in range(40):
            role = "user" if i % 2 == 0 else "assistant"
            rows.append((f"c{c}", i, t0 + pd.Timedelta(minutes=i), role,
                         float(rng.integers(1, 10))))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role", "signal"])
    got = (
        pair_signal_correlation(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    for conv, grp in pdf.groupby("conv_id"):
        grp = grp.sort_values(["ts", "turn_idx"]).reset_index(drop=True)
        xs, ys = [], []
        for i in range(1, len(grp)):
            if grp.role[i] == "assistant" and grp.role[i - 1] == "user":
                xs.append(grp.signal[i - 1])
                ys.append(grp.signal[i])
        row = got.loc[conv]
        assert row.n_pairs == len(xs)
        assert np.isclose(row.mean_prompt, np.mean(xs), atol=1e-12)
        assert np.isclose(row.mean_response, np.mean(ys), atol=1e-12)
        want_r = np.corrcoef(xs, ys)[0, 1]
        assert np.isclose(row.r, want_r, atol=1e-9)


def test_pair_signal_correlation_degenerate_null(spark):
    from z_rad_spark.operators.profile import pair_signal_correlation

    # constant responses -> zero variance -> r NULL
    rows = []
    for i in range(10):
        role = "user" if i % 2 == 0 else "assistant"
        sig = float(1 + i % 4) if role == "user" else 5.0
        rows.append(("c0", i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i), role, sig))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role", "signal"])
    got = pair_signal_correlation(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert got.n_pairs == 5
    assert pd.isna(got.r)


def test_theil_sen_matches_reference_and_resists_outlier(spark):
    from z_rad_spark.operators.profile import theil_sen_trend

    rows = []
    # clean linear trend y = 2x + 3
    for i in range(20):
        rows.append(("lin", i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i), float(2 * i + 3)))
    # same trend with one wild outlier at i=10
    for i in range(20):
        y = 2 * i + 3 if i != 10 else 500.0
        rows.append(("out", i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i), float(y)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = theil_sen_trend(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    assert np.isclose(got.loc["lin"].sen_slope, 2.0, atol=1e-12)
    assert np.isclose(got.loc["lin"].sen_intercept, 3.0, atol=1e-12)
    # the robust slope barely moves under one outlier
    assert abs(got.loc["out"].sen_slope - 2.0) < 0.2

    # independent reference: median of all pairwise slopes
    def sen(y):
        sl = []
        for i in range(len(y)):
            for j in range(i + 1, len(y)):
                sl.append((y[j] - y[i]) / (j - i))
        sl.sort()
        m = len(sl)
        return sl[m // 2] if m % 2 else (sl[m // 2 - 1] + sl[m // 2]) / 2.0

    y_out = [2 * i + 3 if i != 10 else 500.0 for i in range(20)]
    assert np.isclose(got.loc["out"].sen_slope, sen(y_out), atol=1e-12)


def test_theil_sen_single_turn_null(spark):
    from z_rad_spark.operators.profile import theil_sen_trend

    pdf = pd.DataFrame(
        [("solo", 0, pd.Timestamp("2024-01-01"), 4.0)],
        columns=["conv_id", "turn_idx", "ts", "signal"],
    )
    got = theil_sen_trend(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert got.n_turns == 1
    assert pd.isna(got.sen_slope) and pd.isna(got.sen_intercept)


def test_changepoint_finds_injected_shift(spark):
    from z_rad_spark.operators.profile import changepoint

    rows = []
    t0 = pd.Timestamp("2024-01-01")
    # mean 2 for 30 turns, then mean 8 for 20 turns -> cp after turn 29
    for i in range(50):
        rows.append(("shift", i, t0 + pd.Timedelta(minutes=i), 2.0 if i < 30 else 8.0))
        rows.append(("flat", i, t0 + pd.Timedelta(minutes=i), 5.0))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = changepoint(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    s = got.loc["shift"]
    assert s.cp_turn == 29
    assert np.isclose(s.mean_left, 2.0) and np.isclose(s.mean_right, 8.0)
    assert np.isclose(s.mean_gap, 6.0)
    # flat conversation: every split has G = 0 -> earliest t wins
    f = got.loc["flat"]
    assert f.cp_turn == 0 and f.g_stat == 0.0


def test_changepoint_matches_bruteforce_argmax(spark):
    from z_rad_spark.operators.profile import changepoint

    rng = np.random.default_rng(71)
    sig = rng.integers(1, 10, size=40).astype(float)
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 40,
            "turn_idx": range(40),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(range(40), unit="m"),
            "signal": sig,
        }
    )
    got = changepoint(spark.createDataFrame(pdf)).toPandas().iloc[0]
    S = np.cumsum(sig)
    n = 40
    G = np.abs(n * S[:-1] - np.arange(1, n) * S[-1])
    t_star = int(np.argmax(G)) + 1      # ties -> earliest via argmax
    assert got.cp_turn == t_star - 1
    assert np.isclose(got.g_stat, G[t_star - 1] / n**2, atol=1e-9)


def test_rolling_median_matches_pandas(spark):
    from z_rad_spark.operators.sessionize import with_rolling_median

    df, pdf = _turns(spark, n_conv=3, n_turns=30, seed=77)
    got = (
        with_rolling_median(df, k=5)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    med = (
        pdf.groupby("conv_id")["signal"]
        .rolling(5, min_periods=1)
        .median()
        .reset_index(level=0, drop=True)
    )
    want = pdf.assign(roll_median=med).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert np.allclose(got.roll_median, want.roll_median, atol=1e-12)
    # MAD hand-check on the first full frame of the first conversation
    # (pdf is already in (conv, ts, turn_idx) order)
    conv0 = pdf.conv_id.iloc[0]
    g0 = pdf[pdf.conv_id == conv0].head(5).signal.to_numpy()
    mad = np.median(np.abs(g0 - np.median(g0)))
    first_full_idx = pdf[pdf.conv_id == conv0].turn_idx.iloc[4]
    row = got[(got.conv_id == conv0) & (got.turn_idx == first_full_idx)].iloc[0]
    assert row.n_in_frame == 5
    assert np.isclose(row.roll_mad, mad, atol=1e-12)
    assert (got.n_in_frame <= 5).all() and (got.n_in_frame >= 1).all()


def test_volume_anomaly_flags_spike_day(spark):
    from z_rad_spark.operators.profile import volume_anomaly

    rows = []
    # 14 normal days (~10 turns) and one 100-turn spike day
    for d in range(15):
        n = 100 if d == 7 else 10
        for i in range(n):
            rows.append(
                (f"c{i % 3}", i,
                 pd.Timestamp("2024-01-01") + pd.Timedelta(days=d, minutes=i),
                 1.0, "user")
            )
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal", "role"])
    got = volume_anomaly(spark.createDataFrame(pdf), group_col="role").toPandas()
    spike = got[got.day == "2024-01-08"].iloc[0]
    # fourteen identical days -> med 10, MAD 0: the documented zero-MAD
    # suppression (mz NULL, never anomalous) — a degenerate-spread series
    # cannot be scored robustly
    assert spike.med == 10.0 and spike.mad == 0.0
    assert pd.isna(spike.mz) and not got.is_anomaly.any()
    # with day-count spread the spike day must flag
    rows2 = []
    for d in range(15):
        n = 100 if d == 7 else 10 + d % 3
        for i in range(n):
            rows2.append(
                (f"c{i % 3}", i,
                 pd.Timestamp("2024-02-01") + pd.Timedelta(days=d, minutes=i),
                 1.0, "user")
            )
    pdf2 = pd.DataFrame(rows2, columns=["conv_id", "turn_idx", "ts", "signal", "role"])
    got2 = volume_anomaly(spark.createDataFrame(pdf2), group_col="role").toPandas()
    spike2 = got2[got2.day == "2024-02-08"].iloc[0]
    assert spike2.is_anomaly and spike2.mz > 3.5
    assert not got2[got2.day != "2024-02-08"].is_anomaly.any()


def test_kfold_encoding_excludes_own_fold(spark):
    from z_rad_spark.operators.encoding import with_kfold_target_encoding

    df, pdf = _turns(spark, n_conv=8, n_turns=25, seed=97)
    df = df.withColumn("role", F.when(F.col("turn_idx") % 2 == 0, "a").otherwise("b"))
    pdf = pdf.assign(role=np.where(pdf.turn_idx % 2 == 0, "a", "b"))
    got = with_kfold_target_encoding(df, k=3, salt="t").toPandas()
    # fold is constant within a conversation (grouped assignment)
    assert (got.groupby("conv_id").fold.nunique() == 1).all()
    # reference: per (role, fold) sums
    import hashlib

    def fold_of(conv):
        return int(hashlib.md5(f"t|{conv}".encode()).hexdigest()[:8], 16) % 3

    pdf = pdf.assign(fold=pdf.conv_id.map(fold_of))
    for _, row in got.head(50).iterrows():
        same_key = pdf[pdf.role == row.role]
        oof = same_key[same_key.fold != row.fold].signal
        assert row.n_oof == len(oof)
        assert np.isclose(row.te_oof, oof.mean(), atol=1e-9)
    # the encoding never equals the naive per-key mean when folds differ
    naive = pdf.groupby("role").signal.mean()
    assert not np.allclose(
        got.drop_duplicates(["role", "fold"]).te_oof.to_numpy(),
        naive[got.drop_duplicates(["role", "fold"]).role].to_numpy(),
    )


def test_quantile_transform_midrank_ecdf(spark):
    from z_rad_spark.operators.encoding import quantile_transform

    df, pdf = _turns(spark, n_conv=4, n_turns=50, seed=101)
    df = df.withColumn("role", F.lit("all"))
    got = quantile_transform(df, group_col="role").toPandas()
    vals = pdf.signal.to_numpy()
    n = len(vals)
    for v in np.unique(vals):
        below = (vals < v).sum()
        c = (vals == v).sum()
        u_want = (2 * (below + c) - c) / (2 * n)
        sub = got[got.signal == v]
        assert np.allclose(sub.u, u_want, atol=1e-12)
    # u in (0, 1), monotone in the value
    assert (got.u > 0).all() and (got.u < 1).all()
    m = got.groupby("signal").u.first().sort_index()
    assert m.is_monotonic_increasing


def test_event_uplift_windows_and_anchor(spark):
    from z_rad_spark.operators.profile import event_uplift

    t0 = pd.Timestamp("2024-01-01")
    rows = [
        # conversation with an error at turn 2: before = {4, 6}, after = {2, 2}
        ("c0", 0, t0, "user", 4.0),
        ("c0", 1, t0 + pd.Timedelta(minutes=1), "assistant", 6.0),
        ("c0", 2, t0 + pd.Timedelta(minutes=2), "system", 9.0),   # anchor (excluded)
        ("c0", 3, t0 + pd.Timedelta(minutes=3), "user", 2.0),
        ("c0", 4, t0 + pd.Timedelta(minutes=4), "assistant", 2.0),
        # conversation with no event
        ("c1", 0, t0, "user", 5.0),
        ("c1", 1, t0 + pd.Timedelta(minutes=1), "assistant", 5.0),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role", "signal"])
    got = event_uplift(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    c0 = got.loc["c0"]
    assert c0.has_event
    assert c0.n_before == 2 and c0.n_after == 2
    assert np.isclose(c0.mean_before, 5.0) and np.isclose(c0.mean_after, 2.0)
    assert np.isclose(c0.uplift, -3.0)
    c1 = got.loc["c1"]
    assert not c1.has_event
    assert c1.n_before == 0 and pd.isna(c1.uplift)


def test_time_weighted_mean_hand_computed(spark):
    from z_rad_spark.operators.profile import time_weighted_mean

    t0 = pd.Timestamp("2024-01-01")
    rows = [
        # signal 2 held for 3600s, burst of 9s held 1s each, last excluded
        ("c0", 0, t0, 2.0),
        ("c0", 1, t0 + pd.Timedelta(hours=1), 9.0),
        ("c0", 2, t0 + pd.Timedelta(hours=1, seconds=1), 9.0),
        ("c0", 3, t0 + pd.Timedelta(hours=1, seconds=2), 5.0),  # last: no hold
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = time_weighted_mean(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert got.n_held == 3
    held = 3600e6 + 1e6 + 1e6
    want = (2 * 3600e6 + 9 * 1e6 + 9 * 1e6) / held
    assert np.isclose(got.twm, want, atol=1e-12)
    # the burst dominates the plain mean but barely moves the TWM
    assert np.isclose(got.plain_mean, (2 + 9 + 9) / 3, atol=1e-12)
    assert got.twm < 2.1 and got.plain_mean > 6.0


def test_oscillation_hand_computed(spark):
    from z_rad_spark.operators.profile import oscillation_stats

    t0 = pd.Timestamp("2024-01-01")
    # signals: 1,3,3,2,4 -> moves +, 0(skip), -, + -> signs [+,-,+] -> 2 flips
    sig = [1.0, 3.0, 3.0, 2.0, 4.0]
    rows = [("c0", i, t0 + pd.Timedelta(minutes=i), sig[i]) for i in range(5)]
    # monotone conversation: zero flips
    rows += [("c1", i, t0 + pd.Timedelta(minutes=i), float(1 + i)) for i in range(5)]
    # constant conversation: zero moves
    rows += [("c2", i, t0 + pd.Timedelta(minutes=i), 5.0) for i in range(5)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = oscillation_stats(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    assert got.loc["c0"].n_moves == 3 and got.loc["c0"].n_flips == 2
    assert np.isclose(got.loc["c0"].flip_rate, 1.0)
    assert got.loc["c1"].n_flips == 0 and got.loc["c1"].flip_rate == 0.0
    assert got.loc["c2"].n_moves == 0 and pd.isna(got.loc["c2"].flip_rate)


def test_signal_transition_entropy_extremes(spark):
    from z_rad_spark.operators.profile import signal_transition_entropy

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    # deterministic cycle 1->2->1->2: H(cur|prev) = 0 (fully predictable)
    for i in range(20):
        rows.append(("cycle", i, t0 + pd.Timedelta(minutes=i), float(1 + i % 2)))
    # constant: single cell, all entropies 0
    for i in range(10):
        rows.append(("const", i, t0 + pd.Timedelta(minutes=i), 5.0))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = signal_transition_entropy(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    cyc = got.loc["cycle"]
    assert cyc.n_trans == 19 and cyc.n_cells == 2
    assert abs(cyc.cond_entropy) < 1e-12
    assert cyc.joint_entropy > 0.9          # prev is ~uniform over {1,2}
    con = got.loc["const"]
    assert con.joint_entropy == 0.0 and con.cond_entropy == 0.0

    # reference entropy check on a random conversation
    rng = np.random.default_rng(113)
    sig = rng.integers(1, 5, 50).astype(float)
    pdf2 = pd.DataFrame(
        {
            "conv_id": "r",
            "turn_idx": range(50),
            "ts": t0 + pd.to_timedelta(range(50), unit="m"),
            "signal": sig,
        }
    )
    got2 = signal_transition_entropy(spark.createDataFrame(pdf2)).toPandas().iloc[0]
    from collections import Counter

    pairs = Counter(zip(sig[:-1], sig[1:]))
    n = sum(pairs.values())
    joint = -sum((c / n) * np.log2(c / n) for c in pairs.values())
    prevs = Counter(sig[:-1])
    ph = -sum((c / n) * np.log2(c / n) for c in prevs.values())
    assert np.isclose(got2.joint_entropy, joint, atol=1e-9)
    assert np.isclose(got2.prev_entropy, ph, atol=1e-9)
    assert np.isclose(got2.cond_entropy, joint - ph, atol=1e-9)


def test_encoders_pass_through_null_keys(spark):
    """Review regression: count_frequency_encode and winsorize must ADD
    columns, never drop rows — NULL categories/groups pass through with
    NULL encodings / unclipped values."""
    from z_rad_spark.operators.encoding import count_frequency_encode, winsorize

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "source": ["a", "a", None, "b", None, "a"],
        }
    )
    got = count_frequency_encode(spark.createDataFrame(pdf), "source").toPandas()
    assert len(got) == 6                              # nothing dropped
    nulls = got[got.source.isna()]
    assert len(nulls) == 2 and nulls.cat_count.isna().all()

    t = pd.DataFrame(
        {
            "conv_id": ["c"] * 6,
            "turn_idx": range(6),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(range(6), unit="m"),
            "signal": [1.0, 9.0, 5.0, 5.0, 5.0, 5.0],
            "role": ["u", "u", "u", "u", None, None],
        }
    )
    got = winsorize(spark.createDataFrame(t), lower=0.25, upper=0.75, group_col="role").toPandas()
    assert len(got) == 6                              # nothing dropped
    # NULL-group rows keep their raw value unclipped
    nulls = got[got.role.isna()]
    assert (nulls.signal_w == nulls.signal).all()


def test_max_drawdown_hand_computed(spark):
    from z_rad_spark.operators.profile import max_drawdown

    t0 = pd.Timestamp("2024-01-01")
    # 3, 8, 5, 2, 7: peak runs 3,8,8,8,8 -> dd 0,0,3,6,1 -> max_dd 6 at peak 8
    sig = [3.0, 8.0, 5.0, 2.0, 7.0]
    rows = [("c0", i, t0 + pd.Timedelta(minutes=i), sig[i]) for i in range(5)]
    # monotone up: zero drawdown
    rows += [("c1", i, t0 + pd.Timedelta(minutes=i), float(1 + i)) for i in range(5)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = max_drawdown(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    c0 = got.loc["c0"]
    assert c0.peak == 8 and c0.max_dd == 6
    assert np.isclose(c0.dd_frac, 6 / 8)
    c1 = got.loc["c1"]
    assert c1.max_dd == 0 and c1.dd_frac == 0.0


def test_von_neumann_ratio_regimes(spark):
    from z_rad_spark.operators.profile import von_neumann_ratio

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    # strong trend: vn well below 2
    for i in range(40):
        rows.append(("trend", i, t0 + pd.Timedelta(minutes=i), float(1 + i % 9 if False else min(9, 1 + i // 5))))
    # perfect alternation 1,9,1,9: vn well above 2
    for i in range(40):
        rows.append(("alt", i, t0 + pd.Timedelta(minutes=i), 1.0 if i % 2 == 0 else 9.0))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = von_neumann_ratio(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    assert got.loc["trend"].vn < 1.0
    assert got.loc["alt"].vn > 3.0
    # reference recomputation for the alternating series
    x = np.array([1.0 if i % 2 == 0 else 9.0 for i in range(40)])
    mssd = (np.diff(x) ** 2).sum() / (len(x) - 1)
    var = x.var(ddof=1)
    assert np.isclose(got.loc["alt"].mssd, mssd, atol=1e-9)
    assert np.isclose(got.loc["alt"].variance, var, atol=1e-9)
    assert np.isclose(got.loc["alt"].vn, mssd / var, atol=1e-9)


def test_hurst_rs_regimes(spark):
    from z_rad_spark.operators.profile import hurst_rs

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    # persistent monotone ramp: hurst near 1
    for i in range(64):
        rows.append(("trend", i, t0 + pd.Timedelta(minutes=i), float(1 + min(8, i // 8))))
    # perfect alternation: strongly mean-reverting, hurst well below 0.5
    for i in range(64):
        rows.append(("alt", i, t0 + pd.Timedelta(minutes=i), 1.0 if i % 2 == 0 else 9.0))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = hurst_rs(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    assert got.loc["trend"].hurst > 0.8
    assert got.loc["alt"].hurst < 0.4
    # reference recomputation of the full R/S chain for the ramp
    x = np.array([1 + min(8, i // 8) for i in range(64)], dtype=float)
    dev = np.cumsum(x) - np.arange(1, 65) * x.mean()
    r = dev.max() - dev.min()
    s = x.std(ddof=0)
    assert np.isclose(got.loc["trend"].rng, r, atol=1e-9)
    assert np.isclose(got.loc["trend"].sdev, s, atol=1e-9)
    assert np.isclose(got.loc["trend"].hurst, np.log(r / s) / np.log(64), atol=1e-9)
    # constant signal: S = 0 -> rs/hurst NULL
    pdf2 = pd.DataFrame(
        [("flat", i, t0 + pd.Timedelta(minutes=i), 5.0) for i in range(10)],
        columns=["conv_id", "turn_idx", "ts", "signal"],
    )
    flat = hurst_rs(spark.createDataFrame(pdf2)).toPandas().iloc[0]
    assert flat.rng == 0.0 and pd.isna(flat.rs) and pd.isna(flat.hurst)


def test_sax_word_shapes(spark):
    from z_rad_spark.operators.profile import sax_word

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    # monotone up over 4 clean segments of 4: word 'abcd'
    up = [1, 1, 1, 1, 3, 3, 3, 3, 6, 6, 6, 6, 9, 9, 9, 9]
    for i, v in enumerate(up):
        rows.append(("up", i, t0 + pd.Timedelta(minutes=i), float(v)))
    # mirrored decay: word 'dcba'
    for i, v in enumerate(up[::-1]):
        rows.append(("down", i, t0 + pd.Timedelta(minutes=i), float(v)))
    # constant: zero variance -> all 'c' by convention
    for i in range(8):
        rows.append(("flat", i, t0 + pd.Timedelta(minutes=i), 4.0))
    # shorter than w: one symbol per turn
    for i in range(3):
        rows.append(("tiny", i, t0 + pd.Timedelta(minutes=i), float(1 + 4 * i)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = sax_word(spark.createDataFrame(pdf), w=4).toPandas().set_index("conv_id")
    assert got.loc["up"].word == "abcd"
    assert got.loc["down"].word == "dcba"
    assert got.loc["flat"].word == "cccc"
    assert got.loc["tiny"].n_segments == 3 and len(got.loc["tiny"].word) == 3
    # level/scale invariance: the same shape at a different level hashes
    # to the same word (the whole point of SAX)
    rows2 = [("up2", i, t0 + pd.Timedelta(minutes=i), float(v + 0)) for i, v in enumerate([2, 2, 2, 2, 4, 4, 4, 4, 6, 6, 6, 6, 8, 8, 8, 8])]
    pdf2 = pd.DataFrame(rows2, columns=["conv_id", "turn_idx", "ts", "signal"])
    got2 = sax_word(spark.createDataFrame(pdf2), w=4).toPandas().iloc[0]
    assert got2.word == "abcd"


def test_cuped_variance_reduction(spark):
    from z_rad_spark.operators.drift import cuped_adjusted

    rng = np.random.RandomState(7)
    t0 = pd.Timestamp("2024-01-01")
    rows = []
    # conversations with a persistent per-conversation level: pre strongly
    # predicts post, so CUPED should shrink cross-conversation variance
    levels = rng.randint(1, 8, size=40)
    for c, lvl in enumerate(levels):
        for i in range(10):
            v = float(min(9, max(1, lvl + rng.randint(-1, 2))))
            rows.append((f"c{c:02d}", i, t0 + pd.Timedelta(minutes=i), v))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = cuped_adjusted(spark.createDataFrame(pdf)).toPandas()
    pre = got.pre.to_numpy(float)
    post = got.post.to_numpy(float)
    theta = got.theta.iloc[0]
    want_theta = np.cov(pre, post, ddof=0)[0, 1] / pre.var(ddof=0)
    assert np.isclose(theta, want_theta, atol=1e-9)
    adj = got.adjusted.to_numpy(float)
    assert np.allclose(adj, post - theta * (pre - pre.mean()), atol=1e-9)
    # the advertised guarantee: Var(adjusted) <= Var(post)
    assert adj.var(ddof=0) < post.var(ddof=0) * 0.9
    # half-split bookkeeping: pre + post covers every turn's signal
    assert (got.pre + got.post).sum() == int(pdf.signal.sum())


def test_with_edit_distance_hand_computed(spark):
    from z_rad_spark.operators.sessionize import with_edit_distance

    t0 = pd.Timestamp("2024-01-01")
    rows = [
        ("c1", 0, t0, "restart the server"),
        ("c1", 1, t0 + pd.Timedelta(minutes=1), "restart the service"),
        ("c1", 2, t0 + pd.Timedelta(minutes=2), "restart the service"),
        ("c1", 3, t0 + pd.Timedelta(minutes=3), ""),
        ("c2", 0, t0, "solo"),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "text"])
    got = (
        with_edit_distance(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    # first turn of each conversation: NULLs
    assert pd.isna(got.loc[0, "lev"]) and pd.isna(got.loc[0, "edit_sim"])
    assert pd.isna(got.loc[4, "lev"]) and pd.isna(got.loc[4, "edit_sim"])
    # 'server' -> 'service': sub e->i, sub r->c, insert e = 3
    assert got.loc[1, "lev"] == 3
    assert np.isclose(got.loc[1, "edit_sim"], 1 - 3 / 19)
    # verbatim repeat: distance 0, similarity 1
    assert got.loc[2, "lev"] == 0 and got.loc[2, "edit_sim"] == 1.0
    # empty current vs non-empty prev: lev = len(prev), sim = 0
    assert got.loc[3, "lev"] == 19 and got.loc[3, "edit_sim"] == 0.0


def test_mann_kendall_hand_computed(spark):
    from z_rad_spark.operators.profile import mann_kendall

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    for i, v in enumerate([1, 2, 3, 4, 5, 6]):
        rows.append(("up", i, t0 + pd.Timedelta(minutes=i), v))
    for i, v in enumerate([1, 2, 2, 3]):
        rows.append(("tie", i, t0 + pd.Timedelta(minutes=i), v))
    for i in range(4):
        rows.append(("flat", i, t0 + pd.Timedelta(minutes=i), 7))
    rows.append(("one", 0, t0, 5))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    got = mann_kendall(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    # strictly increasing: S = n(n-1)/2, tau = 1, var = n(n-1)(2n+5)/18
    up = got.loc["up"]
    assert up.s == 15 and up.tie_pairs == 0
    assert np.isclose(up.var_s, 6 * 5 * 17 / 18)
    assert np.isclose(up.z, 14 / np.sqrt(6 * 5 * 17 / 18))
    assert up.tau_b == 1.0
    # [1,2,2,3]: S = 5; one tie group t=2 -> tie_term 18, Ty = 1;
    # var = (4*3*13 - 18)/18; z = 4/sqrt(var); tau = 5/sqrt(6*5)
    tie = got.loc["tie"]
    assert tie.s == 5 and tie.tie_pairs == 1
    assert np.isclose(tie.var_s, 138 / 18)
    assert np.isclose(tie.z, 4 / np.sqrt(138 / 18))
    assert np.isclose(tie.tau_b, 5 / np.sqrt(30))
    # constant signal: everything tied -> var 0, z/tau NULL
    flat = got.loc["flat"]
    assert flat.s == 0 and flat.tie_pairs == 6 and flat.var_s == 0.0
    assert pd.isna(flat.z) and pd.isna(flat.tau_b)
    # single turn: NULL stats
    one = got.loc["one"]
    assert one.s == 0 and pd.isna(one.var_s) and pd.isna(one.z) and pd.isna(one.tau_b)
    # anti-monotone: S = -15, z uses the +1 correction
    rows2 = [("dn", i, t0 + pd.Timedelta(minutes=i), 9 - i) for i in range(6)]
    pdf2 = pd.DataFrame(rows2, columns=["conv_id", "turn_idx", "ts", "signal"])
    dn = mann_kendall(spark.createDataFrame(pdf2)).toPandas().iloc[0]
    assert dn.s == -15 and dn.tau_b == -1.0
    assert np.isclose(dn.z, -14 / np.sqrt(6 * 5 * 17 / 18))


def test_funnel_steps_ordering_semantics(spark):
    from z_rad_spark.operators.sessionize import funnel_steps

    t0 = pd.Timestamp("2024-01-01")
    rows = [
        # full funnel in order: user(1) assistant(2) tool(3)
        ("full", 0, t0, "user"),
        ("full", 1, t0 + pd.Timedelta(minutes=1), "assistant"),
        ("full", 2, t0 + pd.Timedelta(minutes=2), "tool"),
        # out of order: assistant first, then user -> stage 1 only
        # (the assistant turn BEFORE the first user turn must not count)
        ("ooo", 0, t0, "assistant"),
        ("ooo", 1, t0 + pd.Timedelta(minutes=1), "user"),
        ("ooo", 2, t0 + pd.Timedelta(minutes=2), "tool"),
        # tool before assistant: user -> tool -> assistant reaches 2
        # and i_3 must be NULL (no tool AFTER the assistant turn)
        ("skip", 0, t0, "user"),
        ("skip", 1, t0 + pd.Timedelta(minutes=1), "tool"),
        ("skip", 2, t0 + pd.Timedelta(minutes=2), "assistant"),
        # never starts: no user turn at all
        ("none", 0, t0, "assistant"),
        ("none", 1, t0 + pd.Timedelta(minutes=1), "tool"),
        # repeated roles: first qualifying turn wins
        ("rep", 0, t0, "user"),
        ("rep", 1, t0 + pd.Timedelta(minutes=1), "user"),
        ("rep", 2, t0 + pd.Timedelta(minutes=2), "assistant"),
        ("rep", 3, t0 + pd.Timedelta(minutes=3), "assistant"),
        ("rep", 4, t0 + pd.Timedelta(minutes=4), "tool"),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role"])
    got = funnel_steps(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    full = got.loc["full"]
    assert (full.i_1, full.i_2, full.i_3, full.reached) == (1, 2, 3, 3)
    ooo = got.loc["ooo"]
    assert ooo.i_1 == 2 and pd.isna(ooo.i_2) and pd.isna(ooo.i_3) and ooo.reached == 1
    skip = got.loc["skip"]
    assert skip.i_1 == 1 and skip.i_2 == 3 and pd.isna(skip.i_3) and skip.reached == 2
    none = got.loc["none"]
    assert pd.isna(none.i_1) and none.reached == 0 and none.n_turns == 2
    rep = got.loc["rep"]
    assert (rep.i_1, rep.i_2, rep.i_3, rep.reached) == (1, 3, 5, 3)


def test_cohort_retention_hand_computed(spark):
    from z_rad_spark.operators.profile import cohort_retention

    # week of 2024-01-01 (Mon) and week of 2024-01-08 (Mon)
    rows = [
        # u1: first week 0, active weeks 0 and 1
        (1, pd.Timestamp("2024-01-02 10:00")),
        (1, pd.Timestamp("2024-01-03 10:00")),  # same week, dedup to one
        (1, pd.Timestamp("2024-01-09 10:00")),
        # u2: first week 0 only
        (2, pd.Timestamp("2024-01-05 10:00")),
        # u3: first week 1 only (its own cohort)
        (3, pd.Timestamp("2024-01-10 10:00")),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    got = (
        cohort_retention(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(["cohort_week", "week_offset"])
        .reset_index(drop=True)
    )
    got["cohort_week"] = got["cohort_week"].astype(str)
    # cohort 2024-01-01: 2 users; offset 0 -> both, offset 1 -> u1 only
    assert list(got.cohort_week) == ["2024-01-01", "2024-01-01", "2024-01-08"]
    assert list(got.week_offset) == [0, 1, 0]
    assert list(got.n_cohort) == [2, 2, 1]
    assert list(got.n_active) == [2, 1, 1]
    assert list(got.retention) == [1.0, 0.5, 1.0]


def test_kaplan_meier_hand_computed(spark):
    from z_rad_spark.operators.profile import kaplan_meier

    t0 = pd.Timestamp("2024-01-01")
    rows = []

    def conv(cid, *turns):
        for i, (mins, role) in enumerate(turns):
            rows.append((cid, i, t0 + pd.Timedelta(minutes=mins), role))

    # events at bucket 1 (c1) and bucket 2 (c2, c4); censored at 2 (c3)
    conv("c1", (0, "user"), (1, "tool"))
    conv("c2", (0, "user"), (1, "assistant"), (2, "tool"))
    conv("c3", (0, "user"), (2, "assistant"))
    conv("c4", (0, "user"), (2, "tool"))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role"])
    got = (
        kaplan_meier(spark.createDataFrame(pdf), bucket_s=60)
        .toPandas()
        .sort_values("t_bucket")
        .reset_index(drop=True)
    )
    # t=1: n_risk 4, d 1 -> S = 3/4; t=2: n_risk 3, d 2, c 1 -> S = 1/4
    assert list(got.t_bucket) == [1, 2]
    assert list(got.n_risk) == [4, 3]
    assert list(got.d) == [1, 2]
    assert list(got.c) == [0, 1]
    assert np.allclose(got.s_km, [0.75, 0.75 * (1 - 2 / 3)])
    # event-time ties with an event in bucket 0 (tool on the first turn)
    rows2 = []
    for cid in ("a", "b"):
        rows2.append((cid, 0, t0, "tool"))
    rows2.append(("c", 0, t0, "user"))
    rows2.append(("c", 1, t0 + pd.Timedelta(minutes=5), "assistant"))
    pdf2 = pd.DataFrame(rows2, columns=["conv_id", "turn_idx", "ts", "role"])
    g2 = (
        kaplan_meier(spark.createDataFrame(pdf2), bucket_s=60)
        .toPandas()
        .sort_values("t_bucket")
        .reset_index(drop=True)
    )
    # bucket 0: both instant-tool convs are events with duration 0,
    # n_risk = 3 -> S = 1/3; bucket 5: censored only, S unchanged
    assert list(g2.t_bucket) == [0, 5]
    assert list(g2.n_risk) == [3, 1]
    assert list(g2.d) == [2, 0]
    assert list(g2.c) == [0, 1]
    assert np.allclose(g2.s_km, [1 / 3, 1 / 3])


def test_log_rank_hand_computed(spark):
    from z_rad_spark.operators.profile import log_rank

    sat = pd.Timestamp("2024-01-06")  # Saturday
    mon = pd.Timestamp("2024-01-08")  # Monday
    rows = []

    def conv(cid, start, *turns):
        for i, (mins, role) in enumerate(turns):
            rows.append((cid, i, start + pd.Timedelta(minutes=mins), role))

    conv("w1", sat, (0, "user"), (1, "tool"))
    conv("w2", sat, (0, "user"), (3, "tool"))
    conv("d1", mon, (0, "user"), (1, "tool"))
    conv("d2", mon, (0, "user"), (3, "assistant"))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role"])
    got = log_rank(spark.createDataFrame(pdf), bucket_s=60).toPandas().iloc[0]
    # bucket 1: d1=1 d2=1 n1=2 n2=2 -> num 0, var 2*(1/2)*(1/2)*(2/3)
    # bucket 3: d1=1 c2=1 n1=1 n2=1 -> num 0.5, var 0.25
    var = 2 * 0.5 * 0.5 * (2 / 3) + 0.25
    assert (got.n1, got.n2, got.d1, got.d2) == (2, 2, 2, 1)
    assert np.isclose(got.o_minus_e, 0.5)
    assert np.isclose(got.var_lr, var)
    assert np.isclose(got.z, 0.5 / np.sqrt(var))
    assert np.isclose(got.chi2, 0.25 / var)
    # identical survival in both groups -> O - E = 0 exactly
    rows2 = []
    conv2 = lambda cid, start: [
        rows2.append((cid, i, start + pd.Timedelta(minutes=m), r))
        for i, (m, r) in enumerate([(0, "user"), (2, "tool")])
    ]
    conv2("a", sat)
    conv2("b", mon)
    pdf2 = pd.DataFrame(rows2, columns=["conv_id", "turn_idx", "ts", "role"])
    g2 = log_rank(spark.createDataFrame(pdf2), bucket_s=60).toPandas().iloc[0]
    assert g2.o_minus_e == 0.0


def test_rfm_features_hand_computed(spark):
    from z_rad_spark.operators.profile import rfm_features

    t0 = pd.Timestamp("2024-01-01")
    rows = [
        # u1: two purchases, last 3 days before corpus max, 12.34 + 5.00
        (1, t0, "purchase", 12.34),
        (1, t0 + pd.Timedelta(days=2), "purchase", 5.00),
        # u2: one purchase at corpus max
        (2, t0 + pd.Timedelta(days=5), "purchase", 0.99),
        # u3: views only -> no row
        (3, t0 + pd.Timedelta(days=1), "view", 1.0),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type", "value"])
    got = rfm_features(spark.createDataFrame(pdf)).toPandas().set_index("user_id")
    assert 3 not in got.index
    u1 = got.loc[1]
    assert (u1.recency_days, u1.frequency, u1.monetary_cents) == (3, 2, 1734)
    assert u1.monetary == 17.34
    u2 = got.loc[2]
    assert (u2.recency_days, u2.frequency, u2.monetary_cents) == (0, 1, 99)
