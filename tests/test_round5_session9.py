"""Round-5 session-9 operator fixtures: hand-computed expectations for
the partition-agreement battery (adjusted_rand, vmeasure, label_purity)
and the distribution-distance battery."""

import math

import pytest
from pyspark.sql import functions as F


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "lang string, source string")


def test_adjusted_rand_perfect_agreement(spark):
    from z_rad_spark.operators.encoding import adjusted_rand

    df = _pairs(spark, [("a", "x"), ("a", "x"), ("b", "y"), ("b", "y")])
    r = adjusted_rand(df).collect()[0]
    assert r["n"] == 4
    assert r["rand"] == pytest.approx(1.0, rel=1e-12)
    assert r["ari"] == pytest.approx(1.0, rel=1e-12)
    assert r["fm"] == pytest.approx(1.0, rel=1e-12)


def test_adjusted_rand_crossed_partitions(spark):
    from z_rad_spark.operators.encoding import adjusted_rand

    # a = [1,1,2,2], b = [1,2,1,2]: every cell n_ij = 1
    # X = 0, A = B = 2 (in C(.,2) units), C = 6
    # RI = (6 + 0 - 2 - 2)/6 = 1/3; exp = 2*2/6 = 2/3
    # ARI = (0 - 2/3)/((2+2)/2 - 2/3) = -0.5; FM = 0
    df = _pairs(spark, [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")])
    r = adjusted_rand(df).collect()[0]
    assert r["rand"] == pytest.approx(1 / 3, rel=1e-12)
    assert r["ari"] == pytest.approx(-0.5, rel=1e-12)
    assert r["fm"] == pytest.approx(0.0, abs=1e-12)


def test_adjusted_rand_degenerate_single_row(spark):
    from z_rad_spark.operators.encoding import adjusted_rand

    r = adjusted_rand(_pairs(spark, [("a", "x")])).collect()[0]
    assert r["rand"] is None and r["ari"] is None and r["fm"] is None


def test_vmeasure_perfect(spark):
    from z_rad_spark.operators.encoding import vmeasure

    df = _pairs(spark, [("a", "x"), ("a", "x"), ("b", "y")])
    r = vmeasure(df).collect()[0]
    assert r["homogeneity"] == pytest.approx(1.0, rel=1e-12)
    assert r["completeness"] == pytest.approx(1.0, rel=1e-12)
    assert r["v"] == pytest.approx(1.0, rel=1e-12)
    assert r["nmi"] == pytest.approx(1.0, rel=1e-12)


def test_vmeasure_independent_is_zero(spark):
    from z_rad_spark.operators.encoding import vmeasure

    df = _pairs(spark, [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")])
    r = vmeasure(df).collect()[0]
    assert r["h_a"] == pytest.approx(math.log(2), rel=1e-12)
    assert r["h_b"] == pytest.approx(math.log(2), rel=1e-12)
    assert r["h_ab"] == pytest.approx(math.log(4), rel=1e-12)
    assert r["mi"] == pytest.approx(0.0, abs=1e-12)
    assert r["homogeneity"] == pytest.approx(0.0, abs=1e-12)
    assert r["completeness"] == pytest.approx(0.0, abs=1e-12)
    assert r["v"] == pytest.approx(0.0, abs=1e-12)
    assert r["nmi"] == pytest.approx(0.0, abs=1e-12)


def test_vmeasure_trivial_class_set_convention(spark):
    from z_rad_spark.operators.encoding import vmeasure

    # H(A) = 0 -> homogeneity = 1 (sklearn edge case); H(B) > 0 so
    # completeness = 1 - (H_ab - H_a)/H_b = 1 - H_b/H_b = 0 -> V = 0
    df = _pairs(spark, [("a", "x"), ("a", "y")])
    r = vmeasure(df).collect()[0]
    assert r["homogeneity"] == pytest.approx(1.0, rel=1e-12)
    assert r["completeness"] == pytest.approx(0.0, abs=1e-12)
    assert r["v"] == pytest.approx(0.0, abs=1e-12)
    assert r["nmi"] is None


def test_label_purity_hand_computed(spark):
    from z_rad_spark.operators.encoding import label_purity

    # clusters x: (a,a,b) majority a=2; y: (b,b) majority b=2
    # purity = 4/5; classes a: max in x = 2; b: max in y = 2
    # inv_purity = 4/5; F = 4/5
    df = _pairs(
        spark,
        [("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"), ("b", "y")],
    )
    r = label_purity(df).collect()[0]
    assert r["n"] == 5
    assert r["purity"] == pytest.approx(0.8, rel=1e-12)
    assert r["inv_purity"] == pytest.approx(0.8, rel=1e-12)
    assert r["f_purity"] == pytest.approx(0.8, rel=1e-12)


def test_label_purity_tie_breaks_on_label_asc(spark):
    from z_rad_spark.operators.encoding import label_purity

    # cluster x split 1-1 between a and b: majority is 'a' (label asc)
    df = _pairs(spark, [("a", "x"), ("b", "x")])
    r = label_purity(df).collect()[0]
    assert r["purity"] == pytest.approx(0.5, rel=1e-12)


def _ts_rows(spark, rows):
    # rows: (role, ts_str, signal)
    df = spark.createDataFrame(
        [(r, t, float(s)) for (r, t, s) in rows],
        "role string, ts string, signal double",
    )
    return df.withColumn("ts", df.ts.cast("timestamp"))


def test_kuiper_hand_computed(spark):
    from z_rad_spark.operators.drift import kuiper_drift

    # ref = {1, 3}, cur = {2, 4}
    # values 1,2,3,4: F_ref = .5,.5,1,1 ; F_cur = 0,.5,.5,1
    # gaps = .5, 0, .5, 0 -> D+ = .5, D- = 0, V = .5
    rows = [
        ("u", "2024-01-01 00:00:00", 1),
        ("u", "2024-01-01 00:01:00", 3),
        ("u", "2024-02-01 00:00:00", 2),
        ("u", "2024-02-01 00:01:00", 4),
    ]
    r = kuiper_drift(_ts_rows(spark, rows), "2024-01-15 00:00:00").collect()[0]
    assert (r["n_ref"], r["n_cur"]) == (2, 2)
    assert r["d_plus"] == pytest.approx(0.5, rel=1e-12)
    assert r["d_minus"] == pytest.approx(0.0, abs=1e-12)
    assert r["v"] == pytest.approx(0.5, rel=1e-12)


def test_kuiper_sees_symmetric_spread(spark):
    from z_rad_spark.operators.drift import kuiper_drift

    # ref = {2, 3}, cur = {1, 4}: mass moves out of the middle
    # F_ref = 0,.5,1,1 ; F_cur = .5,.5,.5,1 at v=1,2,3,4
    # gaps = -.5, 0, .5, 0 -> D+ = .5, D- = .5, V = 1 (KS alone = .5)
    rows = [
        ("u", "2024-01-01 00:00:00", 2),
        ("u", "2024-01-01 00:01:00", 3),
        ("u", "2024-02-01 00:00:00", 1),
        ("u", "2024-02-01 00:01:00", 4),
    ]
    r = kuiper_drift(_ts_rows(spark, rows), "2024-01-15 00:00:00").collect()[0]
    assert r["v"] == pytest.approx(1.0, rel=1e-12)


def test_cvm_identical_samples_zero(spark):
    from z_rad_spark.operators.drift import cvm_drift

    rows = [
        ("u", "2024-01-01 00:00:00", 1),
        ("u", "2024-01-01 00:01:00", 2),
        ("u", "2024-02-01 00:00:00", 1),
        ("u", "2024-02-01 00:01:00", 2),
    ]
    r = cvm_drift(_ts_rows(spark, rows), "2024-01-15 00:00:00").collect()[0]
    assert r["t"] == pytest.approx(0.0, abs=1e-12)


def test_cvm_hand_computed(spark):
    from z_rad_spark.operators.drift import cvm_drift

    # ref = {1}, cur = {2}: values 1,2 with w=1 each
    # gaps: at v=1: 1 - 0 = 1; at v=2: 1 - 1 = 0
    # T = (1*1/4) * (1*1 + 1*0) = 0.25
    rows = [
        ("u", "2024-01-01 00:00:00", 1),
        ("u", "2024-02-01 00:00:00", 2),
    ]
    r = cvm_drift(_ts_rows(spark, rows), "2024-01-15 00:00:00").collect()[0]
    assert r["t"] == pytest.approx(0.25, rel=1e-12)


def test_hist_distance_identical_group_is_zero(spark):
    from z_rad_spark.operators.drift import hist_distance

    rows = [
        ("u", "2024-01-01 00:00:00", 1),
        ("u", "2024-01-01 00:01:00", 2),
        ("a", "2024-01-01 00:02:00", 1),
        ("a", "2024-01-01 00:03:00", 2),
    ]
    out = {r["role"]: r for r in hist_distance(_ts_rows(spark, rows)).collect()}
    for role in ("u", "a"):
        assert out[role]["tvd"] == pytest.approx(0.0, abs=1e-12)
        assert out[role]["bc"] == pytest.approx(1.0, rel=1e-12)
        assert out[role]["hellinger"] == pytest.approx(0.0, abs=1e-12)


def test_hist_distance_missing_support_mass(spark):
    import math
    from z_rad_spark.operators.drift import hist_distance

    # u = {1, 1}, a = {2, 2}; pooled = {1: .5, 2: .5}
    # for u: seen v=1: |1 - .5| = .5; missing v=2 adds q = .5
    # TVD = (.5 + .5)/2 = .5; BC = sqrt(1*.5) = sqrt(.5)
    # H = sqrt(1 - sqrt(.5))
    rows = [
        ("u", "2024-01-01 00:00:00", 1),
        ("u", "2024-01-01 00:01:00", 1),
        ("a", "2024-01-01 00:02:00", 2),
        ("a", "2024-01-01 00:03:00", 2),
    ]
    out = {r["role"]: r for r in hist_distance(_ts_rows(spark, rows)).collect()}
    r = out["u"]
    assert r["tvd"] == pytest.approx(0.5, rel=1e-12)
    assert r["bc"] == pytest.approx(math.sqrt(0.5), rel=1e-12)
    assert r["hellinger"] == pytest.approx(math.sqrt(1 - math.sqrt(0.5)), rel=1e-12)


def _turns_at(spark, ts_list):
    df = spark.createDataFrame([(t,) for t in ts_list], "ts string")
    return df.withColumn("ts", df.ts.cast("timestamp"))


def test_spectral_profile_pure_tone(spark):
    import math
    from z_rad_spark.operators.sessionize import spectral_profile

    # 8 hourly buckets with counts 3,1,3,1,... -> all power at the
    # Nyquist harmonic k=4 of n=8; harmonics 1..3 carry ~0
    counts = [3, 1, 3, 1, 3, 1, 3, 1]
    ts = []
    for hour, c in enumerate(counts):
        for i in range(c):
            ts.append(f"2024-01-01 {hour:02d}:00:{i:02d}")
    out = {r["k"]: r for r in spectral_profile(_turns_at(spark, ts), n_harmonics=4).collect()}
    assert out[4]["norm_power"] == pytest.approx(1.0, rel=1e-9)
    for k in (1, 2, 3):
        assert out[k]["norm_power"] == pytest.approx(0.0, abs=1e-9)
    # one-spike spectrum -> zero entropy
    assert out[4]["spec_entropy"] == pytest.approx(0.0, abs=1e-9)


def test_pacf_lag1_equals_acf1(spark):
    from z_rad_spark.operators.sessionize import pacf_profile

    # alternating counts 2,1,2,1,... over 12 hours: strong negative r1
    counts = [2, 1] * 6
    ts = []
    for hour, c in enumerate(counts):
        for i in range(c):
            ts.append(f"2024-01-01 {hour:02d}:00:{i:02d}")
    out = {r["lag"]: r for r in pacf_profile(_turns_at(spark, ts)).collect()}
    assert out[1]["pacf"] == out[1]["r"]
    assert out[1]["r"] < 0
    # lag-2 ACF of a period-2 series is strongly positive
    assert out[2]["r"] > 0


def test_pacf_numpy_replay(spark):
    import numpy as np
    from z_rad_spark.operators.sessionize import pacf_profile

    counts = [5, 2, 7, 3, 8, 1, 6, 4, 9, 2, 5, 7]
    ts = []
    for hour, c in enumerate(counts):
        for i in range(c):
            ts.append(f"2024-01-01 {hour:02d}:00:{i:02d}")
    x = np.array(counts, dtype=float)
    n = len(x)
    m = x.mean()
    c = [((x - m) * (x - m)).sum() / n] + [
        ((x[:-k] - m) * (x[k:] - m)).sum() / n for k in (1, 2, 3)
    ]
    r1, r2, r3 = c[1] / c[0], c[2] / c[0], c[3] / c[0]
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    a21 = r1 * (1 - phi22)
    phi33 = (r3 - a21 * r2 - phi22 * r1) / (1 - a21 * r1 - phi22 * r2)
    out = {r["lag"]: r for r in pacf_profile(_turns_at(spark, ts)).collect()}
    assert out[1]["pacf"] == pytest.approx(r1, rel=1e-9)
    assert out[2]["pacf"] == pytest.approx(phi22, rel=1e-9)
    assert out[3]["pacf"] == pytest.approx(phi33, rel=1e-9)


def test_holt_linear_series_tracks_exactly(spark):
    from z_rad_spark.operators.sessionize import holt_smooth

    # daily counts 1,2,3,4,5: perfectly linear -> every one-step
    # forecast is exact, level = 5, trend = 1, forecast = 6, sse = 0
    ts = []
    for day, c in enumerate([1, 2, 3, 4, 5], start=1):
        for i in range(c):
            ts.append(f"2024-01-{day:02d} 00:00:{i:02d}")
    r = holt_smooth(_turns_at(spark, ts)).collect()[0]
    assert r["n"] == 5
    assert r["level"] == pytest.approx(5.0, rel=1e-12)
    assert r["trend"] == pytest.approx(1.0, rel=1e-12)
    assert r["forecast"] == pytest.approx(6.0, rel=1e-12)
    assert r["sse"] == pytest.approx(0.0, abs=1e-12)


def test_holt_hand_computed_step(spark):
    from z_rad_spark.operators.sessionize import holt_smooth

    # days: 2, 4, 10 -> l0=2, b0=2
    # t=1 (x=4): f=4, e=0, l=4, b=2
    # t=2 (x=10): f=6, e=4, l=.5*10+.5*6=8, b=.3*(8-4)+.7*2=2.6
    # sse = 16
    ts = []
    for day, c in enumerate([2, 4, 10], start=1):
        for i in range(c):
            ts.append(f"2024-01-{day:02d} 00:00:{i:02d}")
    r = holt_smooth(_turns_at(spark, ts), alpha=0.5, beta=0.3).collect()[0]
    assert r["level"] == pytest.approx(8.0, rel=1e-12)
    assert r["trend"] == pytest.approx(2.6, rel=1e-12)
    assert r["forecast"] == pytest.approx(10.6, rel=1e-12)
    assert r["sse"] == pytest.approx(16.0, rel=1e-12)


def test_holt_short_series_null(spark):
    from z_rad_spark.operators.sessionize import holt_smooth

    r = holt_smooth(_turns_at(spark, ["2024-01-01 00:00:00"])).collect()[0]
    assert r["n"] == 1 and r["level"] is None and r["sse"] is None


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_anisotropy_identical_vectors(spark):
    from z_rad_spark.operators.similarity import anisotropy

    df = _vecs(spark, [(1, [1.0, 0.0], 0), (2, [2.0, 0.0], 0), (3, [3.0, 0.0], 0)])
    r = anisotropy(df).collect()[0]
    assert r["n"] == 3
    assert r["mean_cos"] == pytest.approx(1.0, rel=1e-9)


def test_anisotropy_orthogonal_and_dropped(spark):
    from z_rad_spark.operators.similarity import anisotropy

    # two orthogonal unit vectors -> mean_cos = 0; the zero vector is
    # dropped, not averaged in
    df = _vecs(spark, [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0), (3, [0.0, 0.0], 0)])
    r = anisotropy(df).collect()[0]
    assert r["n"] == 2 and r["n_dropped"] == 1
    assert r["mean_cos"] == pytest.approx(0.0, abs=1e-12)


def test_anisotropy_opposite_vectors(spark):
    from z_rad_spark.operators.similarity import anisotropy

    df = _vecs(spark, [(1, [1.0, 0.0], 0), (2, [-4.0, 0.0], 0)])
    r = anisotropy(df).collect()[0]
    assert r["mean_cos"] == pytest.approx(-1.0, rel=1e-9)


def test_sq8_error_bounded_by_half_step(spark):
    from z_rad_spark.operators.similarity import sq8_quantize

    df = _vecs(
        spark,
        [(i, [float(i), float(10 - i)], 0) for i in range(11)],
    )
    rows = sq8_quantize(df).collect()
    assert len(rows) == 11
    # range 0..10, scale = 10/255; max error <= scale/2
    half = (10.0 / 255.0) / 2 + 1e-12
    for r in rows:
        assert r["max_abs_err"] <= half
        assert r["mse"] >= 0.0


def test_sq8_degenerate_dim_zero_error(spark):
    from z_rad_spark.operators.similarity import sq8_quantize

    df = _vecs(spark, [(1, [5.0, 1.0], 0), (2, [5.0, 2.0], 0)])
    out = {r["vec_id"]: r for r in sq8_quantize(df).collect()}
    # dim 0 is constant -> zero error there; dim 1 endpoints exact
    assert out[1]["max_abs_err"] == pytest.approx(0.0, abs=1e-12)
    assert out[2]["max_abs_err"] == pytest.approx(0.0, abs=1e-12)


def test_label_centroids_hand_computed(spark):
    from z_rad_spark.operators.similarity import label_centroids

    # label 0: (2,0),(4,0) -> centroid (3,0); label 1: (0,6) -> (0,6)
    # global centroid = (2+4+0, 0+0+6)/3 = (2,2)
    df = _vecs(spark, [(1, [2.0, 0.0], 0), (2, [4.0, 0.0], 0), (3, [0.0, 6.0], 1)])
    out = {r["label"]: r for r in label_centroids(df).collect()}
    import math

    assert out[0]["n"] == 2 and out[1]["n"] == 1
    assert out[0]["centroid_norm"] == pytest.approx(3.0, rel=1e-12)
    assert out[1]["centroid_norm"] == pytest.approx(6.0, rel=1e-12)
    # cos((3,0),(2,2)) = cos 45deg; cos((0,6),(2,2)) = cos 45deg
    assert out[0]["cos_global"] == pytest.approx(1 / math.sqrt(2), rel=1e-12)
    assert out[1]["cos_global"] == pytest.approx(1 / math.sqrt(2), rel=1e-12)


def test_ansari_bradley_hand_computed(spark):
    from z_rad_spark.operators.drift import ansari_bradley

    # ref = {1, 4}, cur = {2, 3}: pooled sorted 1,2,3,4
    # scores min(r, 5-r) = 1,2,2,1; AB(ref) = 1 + 1 = 2
    # sum a = 6, sum a^2 = 10; mu = 2*6/4 = 3
    # var = 2*2*(4*10 - 36)/(16*3) = 16/48 = 1/3
    # z = (2 - 3)/sqrt(1/3)
    import math

    rows = [
        ("u", "2024-01-01 00:00:00", 1),
        ("u", "2024-01-01 00:01:00", 4),
        ("u", "2024-02-01 00:00:00", 2),
        ("u", "2024-02-01 00:01:00", 3),
    ]
    r = ansari_bradley(_ts_rows(spark, rows), "2024-01-15 00:00:00").collect()[0]
    assert (r["n_ref"], r["n_cur"]) == (2, 2)
    assert r["ab"] == pytest.approx(2.0, rel=1e-12)
    assert r["z"] == pytest.approx(-1.0 / math.sqrt(1 / 3), rel=1e-12)


def test_ansari_bradley_ties_midrank(spark):
    from z_rad_spark.operators.drift import ansari_bradley

    # ref = {1, 2}, cur = {2, 3}: pooled 1,2,2,3; N=4 scores 1,2,2,1
    # value 2 occupies ranks 2-3, block sum 4, avg 2
    # AB(ref) = score(1) + avg(2) = 1 + 2 = 3
    rows = [
        ("u", "2024-01-01 00:00:00", 1),
        ("u", "2024-01-01 00:01:00", 2),
        ("u", "2024-02-01 00:00:00", 2),
        ("u", "2024-02-01 00:01:00", 3),
    ]
    r = ansari_bradley(_ts_rows(spark, rows), "2024-01-15 00:00:00").collect()[0]
    assert r["ab"] == pytest.approx(3.0, rel=1e-12)


def test_jonckheere_perfectly_increasing(spark):
    from z_rad_spark.operators.drift import jonckheere

    # week 1 values {1,2}, week 2 values {3,4}, week 3 values {5,6}
    # every cross-week pair is ordered -> JT = max -> jt_norm = 1
    rows = []
    vals = {(1, 1): 1, (1, 2): 2, (8, 1): 3, (8, 2): 4, (15, 1): 5, (15, 2): 6}
    for (day, i), v in vals.items():
        rows.append(("u", f"2024-01-{day:02d} 00:0{i}:00", v))
    r = jonckheere(_ts_rows(spark, rows)).collect()[0]
    assert r["k"] == 3 and r["n"] == 6
    # sum_{i<j} n_i n_j = 4+4+4 = 12; mean = 6; JT = 12
    assert r["jt"] == pytest.approx(12.0, rel=1e-12)
    assert r["jt_mean"] == pytest.approx(6.0, rel=1e-12)
    assert r["jt_norm"] == pytest.approx(1.0, rel=1e-12)


def test_jonckheere_ties_half_count(spark):
    from z_rad_spark.operators.drift import jonckheere

    # two weeks, all values identical -> every pair a tie
    # JT = 0.5 * n1 * n2 = mean -> jt_norm = 0
    rows = [
        ("u", "2024-01-01 00:00:00", 5),
        ("u", "2024-01-01 00:01:00", 5),
        ("u", "2024-01-08 00:00:00", 5),
        ("u", "2024-01-08 00:01:00", 5),
    ]
    r = jonckheere(_ts_rows(spark, rows)).collect()[0]
    assert r["jt"] == pytest.approx(2.0, rel=1e-12)
    assert r["jt_norm"] == pytest.approx(0.0, abs=1e-12)


def test_durbin_watson_perfect_line(spark):
    from z_rad_spark.operators.drift import durbin_watson

    # counts 1,2,3,4 over 4 hours: exact line, residuals all 0 -> NULL
    ts = []
    for hour, c in enumerate([1, 2, 3, 4]):
        for i in range(c):
            ts.append(f"2024-01-01 {hour:02d}:00:{i:02d}")
    r = durbin_watson(_turns_at(spark, ts)).collect()[0]
    assert r["slope"] == pytest.approx(1.0, rel=1e-12)
    assert r["intercept"] == pytest.approx(1.0, rel=1e-12)
    assert r["dw"] is None


def test_durbin_watson_alternating_residuals_near_four(spark):
    from z_rad_spark.operators.drift import durbin_watson

    # counts 2,1,2,1,2,1: zero slope-ish, residuals alternate ->
    # strong negative serial correlation -> DW close to 4
    ts = []
    for hour, c in enumerate([2, 1, 2, 1, 2, 1]):
        for i in range(c):
            ts.append(f"2024-01-01 {hour:02d}:00:{i:02d}")
    r = durbin_watson(_turns_at(spark, ts)).collect()[0]
    assert r["dw"] > 3.0


def test_cusum_squares_variance_break(spark):
    from z_rad_spark.operators.drift import cusum_squares

    # quiet half (1,1,1) then loud half (5,5,5): squared mass piles
    # into the tail -> max gap at the end of the quiet stretch (t=3)
    ts = []
    for hour, c in enumerate([1, 1, 1, 5, 5, 5]):
        for i in range(c):
            ts.append(f"2024-01-01 {hour:02d}:00:{i:02d}")
    r = cusum_squares(_turns_at(spark, ts)).collect()[0]
    assert r["n"] == 6
    assert r["at_t"] == 3
    # Q_3/Q_6 = 3/78, t/n = 3/6 -> stat = 0.5 - 3/78
    assert r["stat"] == pytest.approx(0.5 - 3 / 78, rel=1e-12)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _turns(spark, rows):
    # rows: (conv_id, turn_idx, role, signal); ts strictly increasing
    data = [
        (c, i, r, f"2024-01-01 00:{i:02d}:00", float(s) if s is not None else None)
        for (c, i, r, s) in rows
    ]
    df = spark.createDataFrame(
        data, "conv_id string, turn_idx int, role string, ts string, signal double"
    )
    return df.withColumn("ts", df.ts.cast("timestamp"))


def test_rich_club_clique_plus_pendant(spark):
    from z_rad_spark.operators.graph import rich_club

    # triangle 1-2-3 plus pendant 4-1: degrees 3,2,2,1
    pairs = [(1, 2), (2, 3), (1, 3), (1, 4)]
    out = {r["k"]: r for r in rich_club(_edges(spark, pairs)).collect()}
    # k=1: nodes {1,2,3} (deg>1), edges among them = 3 -> phi = 1
    assert out[1]["n_nodes"] == 3 and out[1]["n_edges"] == 3
    assert out[1]["phi"] == pytest.approx(1.0, rel=1e-12)
    # k=2: nodes {1} -> phi NULL
    assert out[2]["n_nodes"] == 1 and out[2]["phi"] is None
    assert out[4]["n_nodes"] == 0 and out[4]["phi"] is None


def test_powerlaw_alpha_star_graph(spark):
    import math
    from z_rad_spark.operators.graph import powerlaw_alpha

    # star: hub 0 with 4 leaves; degrees 4,1,1,1,1
    pairs = [(0, i) for i in range(1, 5)]
    r = powerlaw_alpha(_edges(spark, pairs)).collect()[0]
    assert r["n"] == 5 and r["max_deg"] == 4
    # ls = 4*ln(1/.5) + ln(4/.5); alpha = 1 + 5/ls
    ls = 4 * math.log(2.0) + math.log(8.0)
    assert r["alpha"] == pytest.approx(1 + 5 / ls, rel=1e-12)
    assert r["mean_deg"] == pytest.approx(8 / 5, rel=1e-12)


def test_role_reciprocity_full_volley(spark):
    from z_rad_spark.operators.graph import role_reciprocity

    rows = [
        ("c1", 0, "user", 1), ("c1", 1, "assistant", 2),
        ("c1", 2, "user", 3), ("c1", 3, "assistant", 4),
    ]
    df = _turns(spark, rows)
    r = role_reciprocity(df).collect()[0]
    # u->a x2, a->u x1 -> recip = min(2,1) + min(1,2) = 2; total 3
    assert r["w_total"] == 3 and r["w_recip"] == 2
    assert r["reciprocity"] == pytest.approx(2 / 3, rel=1e-12)


def test_role_reciprocity_one_way_pipeline(spark):
    from z_rad_spark.operators.graph import role_reciprocity

    rows = [
        ("c1", 0, "user", 1), ("c1", 1, "assistant", 2), ("c1", 2, "tool", 3),
        ("c2", 0, "user", 1), ("c2", 1, "assistant", 2), ("c2", 2, "tool", 3),
    ]
    r = role_reciprocity(_turns(spark, rows)).collect()[0]
    assert r["w_recip"] == 0
    assert r["reciprocity"] == pytest.approx(0.0, abs=1e-12)


def test_dup_weights_cluster_of_two(spark):
    from z_rad_spark.operators.curation import dup_weights

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "s"),
            (2, "the quick brown fox jumps over the lazy dog", "s"),
            (3, "completely different text about other things entirely", "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r for r in dup_weights(docs).collect()}
    assert out[1]["cluster_size"] == 2 and out[2]["cluster_size"] == 2
    assert out[1]["weight"] == pytest.approx(0.5, rel=1e-12)
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == 1
    # singleton keeps weight 1 and self-cluster
    assert out[3]["cluster_size"] == 1
    assert out[3]["weight"] == pytest.approx(1.0, rel=1e-12)
    assert out[3]["cluster_id"] == 3


def test_dup_weights_mass_conserved(spark):
    from z_rad_spark.operators.curation import dup_weights

    docs = spark.createDataFrame(
        [(i, "same text repeated here for everyone to share today", "s") for i in range(5)],
        "doc_id long, text string, source string",
    )
    rows = dup_weights(docs).collect()
    # one cluster of 5 -> total weight mass = 1 document's worth
    assert sum(r["weight"] for r in rows) == pytest.approx(1.0, rel=1e-12)


def test_source_temperature_flattens_mix(spark):
    from z_rad_spark.operators.curation import source_temperature

    # 9:1 token split; alpha=0.7 pulls the mix toward uniform
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i", "big"), (2, "x", "small")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in source_temperature(docs).collect()}
    big, small = out["big"], out["small"]
    assert big["p"] == pytest.approx(0.9, rel=1e-12)
    assert small["p"] == pytest.approx(0.1, rel=1e-12)
    z = 0.9**0.7 + 0.1**0.7
    assert big["w"] == pytest.approx(0.9**0.7 / z, rel=1e-12)
    assert small["w"] == pytest.approx(0.1**0.7 / z, rel=1e-12)
    assert small["boost"] > 1.0 > big["boost"]


def test_source_temperature_alpha_one_identity(spark):
    from z_rad_spark.operators.curation import source_temperature

    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "d e", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in source_temperature(docs, alpha=1.0).collect()}
    for s in ("s1", "s2"):
        assert out[s]["w"] == pytest.approx(out[s]["p"], rel=1e-12)
        assert out[s]["boost"] == pytest.approx(1.0, rel=1e-12)


def test_entropy_rate_deterministic_chain_is_zero(spark):
    from z_rad_spark.operators.sessionize import entropy_rate

    # strict u -> a -> u -> a alternation: next role is determined by
    # current -> entropy rate 0; marginal entropy ln 2
    rows = [("c1", i, "user" if i % 2 == 0 else "assistant", 1) for i in range(9)]
    r = entropy_rate(_turns(spark, rows)).collect()[0]
    assert r["n_trans"] == 8
    assert r["h_rate"] == pytest.approx(0.0, abs=1e-12)
    assert r["h_marg"] == pytest.approx(math.log(2), rel=1e-12)
    assert r["gain"] == pytest.approx(math.log(2), rel=1e-12)


def test_entropy_rate_memoryless_gain_zero(spark):
    from z_rad_spark.operators.sessionize import entropy_rate

    # transitions engineered so every row of P is (1/2, 1/2) and the
    # marginal is (1/2, 1/2): gain = 0
    seq = ["a", "a", "b", "b", "a", "a", "b", "b", "a"]
    rows = [("c1", i, role, 1) for i, role in enumerate(seq)]
    r = entropy_rate(_turns(spark, rows)).collect()[0]
    assert r["gain"] == pytest.approx(0.0, abs=1e-9)


def test_char_entropy_single_char_zero(spark):
    from z_rad_spark.operators.text import char_bigram_entropy

    docs = spark.createDataFrame(
        [(1, "aaaa", "x", "s")], "doc_id long, text string, lang string, source string"
    )
    r = char_bigram_entropy(docs).collect()[0]
    assert r["n_chars"] == 4 and r["n_bigrams"] == 3
    assert r["h1"] == pytest.approx(0.0, abs=1e-12)
    assert r["h2"] == pytest.approx(0.0, abs=1e-12)
    assert r["h_cond"] == pytest.approx(0.0, abs=1e-12)


def test_char_entropy_uniform_pairs(spark):
    from z_rad_spark.operators.text import char_bigram_entropy

    # "abab": chars a,b,a,b -> h1 = ln 2; bigrams ab,ba,ab ->
    # h2 = -(2/3 ln 2/3 + 1/3 ln 1/3)
    docs = spark.createDataFrame(
        [(1, "abab", "x", "s")], "doc_id long, text string, lang string, source string"
    )
    r = char_bigram_entropy(docs).collect()[0]
    assert r["h1"] == pytest.approx(math.log(2), rel=1e-12)
    h2 = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert r["h2"] == pytest.approx(h2, rel=1e-12)


def test_token_audit_classes(spark):
    from z_rad_spark.operators.text import token_audit

    text = "hello abc123 deadbeefcafe café " + "x" * 25
    docs = spark.createDataFrame(
        [(1, text, "en", "s")], "doc_id long, text string, lang string, source string"
    )
    r = token_audit(docs).collect()[0]
    assert r["n_tokens"] == 5
    assert r["overlong_ratio"] == pytest.approx(1 / 5, rel=1e-12)
    assert r["mixed_ratio"] == pytest.approx(1 / 5, rel=1e-12)   # abc123
    assert r["nonascii_ratio"] == pytest.approx(1 / 5, rel=1e-12)  # café
    assert r["hexblob_ratio"] == pytest.approx(1 / 5, rel=1e-12)  # deadbeefcafe


def test_horizon_features_hand_computed(spark):
    from z_rad_spark.operators.asof import horizon_features

    # turns at 30min, 3h, 30h before the cutoff
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "2024-01-01 12:00:00", 2.0),
            ("c1", 1, "user", "2024-01-02 15:00:00", 4.0),
            ("c1", 2, "user", "2024-01-02 17:30:00", 6.0),
            ("c1", 3, "user", "2024-01-03 00:00:01", 9.0),  # after cutoff
        ],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = horizon_features(df, spark, ["2024-01-02 18:00:00"]).collect()
    r = out[0]
    assert r["n_1h"] == 1          # 17:30
    assert r["n_6h"] == 2          # 15:00, 17:30
    assert r["n_24h"] == 2
    assert r["n_total"] == 3       # leakage-safe: the 4th turn excluded
    assert r["mean_sig_24h"] == pytest.approx(5.0, rel=1e-12)
    assert r["velocity"] == pytest.approx(1 / (2 / 24), rel=1e-12)


def test_horizon_boundary_is_exclusive_on_age(spark):
    from z_rad_spark.operators.asof import horizon_features

    # turn exactly 1h before the cutoff: age == h1 -> NOT in n_1h
    df = spark.createDataFrame(
        [("c1", 0, "user", "2024-01-02 17:00:00", 1.0)],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = horizon_features(df, spark, ["2024-01-02 18:00:00"]).collect()[0]
    assert r["n_1h"] == 0 and r["n_6h"] == 1


def test_recency_features_hand_computed(spark):
    from z_rad_spark.operators.asof import recency_features

    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "2024-01-02 17:00:00", 1.0),
            ("c1", 1, "assistant", "2024-01-02 17:30:00", 1.0),
        ],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = recency_features(df, spark, ["2024-01-02 18:00:00"]).collect()[0]
    assert r["sec_since_any"] == pytest.approx(1800.0, rel=1e-12)
    assert r["sec_since_user"] == pytest.approx(3600.0, rel=1e-12)
    assert r["sec_since_assistant"] == pytest.approx(1800.0, rel=1e-12)
    assert r["sec_since_tool"] is None and r["sec_since_system"] is None


def test_recency_no_history_no_row(spark):
    from z_rad_spark.operators.asof import recency_features

    df = spark.createDataFrame(
        [("c1", 0, "user", "2024-01-05 00:00:00", 1.0)],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = recency_features(df, spark, ["2024-01-02 18:00:00"]).collect()
    assert out == []


def test_streaming_kmv_matches_batch(spark, tmp_path):
    """The stream's final KMV state equals the batch operator's sketch
    columns — KMV's union-sort-truncate order freedom end to end."""
    import pyspark.sql.types as T

    from z_rad_spark.operators.sketches import kmv_distinct_by
    from z_rad_spark.streaming import streaming_kmv

    rows = [("a", k) for k in range(1, 101)] + [("b", k) for k in range(1, 9)]
    df = spark.createDataFrame(rows, "event_type string, key long")
    src = str(tmp_path / "kmv_src")
    df.repartition(3).write.parquet(src)
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("key", T.LongType()),
        ]
    )
    q = (
        streaming_kmv(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory")
        .queryName("kmv_test_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    q.stop()
    got = {
        r["event_type"]: (r["v_hashes"], r["kth_hash"], r["est_distinct"])
        for r in spark.table("kmv_test_sink").collect()
    }
    want = {
        r["event_type"]: (
            min(r["v_hashes"], 64),
            r["kth_hash"],
            r["est_distinct"],
        )
        for r in kmv_distinct_by(
            df, group_col="event_type", key_col="key", k=64
        ).collect()
    }
    assert got.keys() == want.keys()
    # group a: > 64 distinct keys -> sketch path; group b: exact path
    assert got["a"][0] == 64 and got["a"][1] == want["a"][1]
    assert got["a"][2] == pytest.approx(want["a"][2], rel=1e-12)
    assert got["b"] == (8, None, 8.0)


def test_coverage_curve_hand_computed(spark):
    from z_rad_spark.operators.text import coverage_curve

    # tokens: a x5, b x3, c x1, d x1 -> N=10, vocab=4
    docs = spark.createDataFrame(
        [(1, "a a a a a b b b c d", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    out = {r["k"]: r for r in coverage_curve(docs, ks=(1, 2, 100)).collect()}
    assert out[1]["covered"] == 5
    assert out[1]["coverage"] == pytest.approx(0.5, rel=1e-12)
    assert out[2]["coverage"] == pytest.approx(0.8, rel=1e-12)
    # k beyond vocab covers everything
    assert out[100]["coverage"] == pytest.approx(1.0, rel=1e-12)
    assert out[100]["vocab_size"] == 4


def test_component_sizes_hand_computed(spark):
    from z_rad_spark.operators.dedup import component_size_stats

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "s"),
            (2, "the quick brown fox jumps over the lazy dog", "s"),
            (3, "completely different text about other things entirely", "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["size"]: r for r in component_size_stats(docs).collect()}
    assert out[2]["n_clusters"] == 1 and out[2]["n_docs"] == 2
    assert out[1]["n_clusters"] == 1 and out[1]["n_docs"] == 1
    assert out[2]["doc_share"] == pytest.approx(2 / 3, rel=1e-12)
    assert out[2]["gcc_share"] == pytest.approx(2 / 3, rel=1e-12)


def test_mahalanobis_diag_hand_computed(spark):
    import math
    from z_rad_spark.operators.similarity import mahalanobis_diag

    # dim0: values 0, 2 -> mu 1, var 1; dim1 constant -> contributes 0
    df = _vecs(spark, [(1, [0.0, 7.0], 0), (2, [2.0, 7.0], 0)])
    out = {r["vec_id"]: r for r in mahalanobis_diag(df).collect()}
    for vid in (1, 2):
        assert out[vid]["score"] == pytest.approx(1.0, rel=1e-12)
        assert out[vid]["max_dim_z"] == pytest.approx(1.0, rel=1e-12)


def test_trend_asof_hand_computed(spark):
    from z_rad_spark.operators.asof import trend_asof

    # conv with signal 1,3,5 at turn_idx 0,1,2 (all pre-cutoff):
    # perfect line slope 2, intercept 1, r2 = 1; 4th turn post-cutoff
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "2024-01-01 00:00:00", 1.0),
            ("c1", 1, "user", "2024-01-01 00:01:00", 3.0),
            ("c1", 2, "user", "2024-01-01 00:02:00", 5.0),
            ("c1", 3, "user", "2024-02-01 00:00:00", 100.0),
        ],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = trend_asof(df, spark, ["2024-01-15 00:00:00"]).collect()[0]
    assert r["n"] == 3
    assert r["slope"] == pytest.approx(2.0, rel=1e-12)
    assert r["intercept"] == pytest.approx(1.0, rel=1e-12)
    assert r["r2"] == pytest.approx(1.0, rel=1e-12)


def test_sessions_asof_hand_computed(spark):
    from z_rad_spark.operators.asof import sessions_asof

    # turns at 10:00, 10:10 (same session), 12:00 (new session)
    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "2024-01-01 10:00:00", 1.0),
            ("c1", 1, "user", "2024-01-01 10:10:00", 1.0),
            ("c1", 2, "user", "2024-01-01 12:00:00", 1.0),
        ],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["as_of_us"] if "as_of_us" in r else str(r["as_of"]): r
        for r in sessions_asof(
            df, spark, ["2024-01-01 11:00:00", "2024-01-01 13:00:00"]
        ).collect()
    }
    vals = {str(r["as_of"]): r for r in sessions_asof(
        df, spark, ["2024-01-01 11:00:00", "2024-01-01 13:00:00"]
    ).collect()}
    r1 = vals["2024-01-01 11:00:00"]
    assert r1["n_turns"] == 2 and r1["n_sessions"] == 1
    assert r1["sec_in_session"] == pytest.approx(3600.0, rel=1e-12)
    r2 = vals["2024-01-01 13:00:00"]
    assert r2["n_turns"] == 3 and r2["n_sessions"] == 2
    assert r2["sec_in_session"] == pytest.approx(3600.0, rel=1e-12)


def test_sessions_asof_fractional_gap_matches_with_sessions(spark):
    """A fractional gap threshold is not truncated: turns 1800.2 s apart
    with gap_seconds=1800.5 form ONE session, as with_sessions says."""
    from z_rad_spark.operators.asof import sessions_asof
    import datetime

    from z_rad_spark.operators.sessionize import with_sessions

    t0 = datetime.datetime(2024, 1, 1, 10)
    df = spark.createDataFrame(
        [("c1", i, "user", t0 + datetime.timedelta(seconds=1800.2 * i), 1.0) for i in range(3)],
        "conv_id string, turn_idx int, role string, ts timestamp, signal double",
    )
    ids = [r["session_id"] for r in with_sessions(df, 1800.5).orderBy("turn_idx").collect()]
    assert ids == [0, 0, 0]
    (r,) = sessions_asof(df, spark, ["2024-01-01 12:00:00"], gap_seconds=1800.5).collect()
    assert r["n_turns"] == 3 and r["n_sessions"] == 1
    (r,) = sessions_asof(df, spark, ["2024-01-01 12:00:00"], gap_seconds=1800.1).collect()
    assert r["n_sessions"] == 3


def test_length_gini_uniform_is_zero(spark):
    from z_rad_spark.operators.curation import length_gini

    docs = spark.createDataFrame(
        [(i, "a b c", "en", "s") for i in range(10)],
        "doc_id long, text string, lang string, source string",
    )
    rows = length_gini(docs).collect()
    g = rows[0]["gini"]
    assert g == pytest.approx(0.0, abs=1e-12)
    out = {r["decile"]: r for r in rows}
    # uniform lengths: bottom half holds half the mass
    assert out[5]["mass_share"] == pytest.approx(0.5, rel=1e-12)
    assert out[10]["mass_share"] == pytest.approx(1.0, rel=1e-12)


def test_length_gini_hand_computed(spark):
    from z_rad_spark.operators.curation import length_gini

    # lengths 1, 3: G = ((2*1-3)*1 + (2*2-3)*3)/(2*4) = (-1+3)/8 = .25
    docs = spark.createDataFrame(
        [(1, "a", "en", "s"), (2, "a b c", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    rows = length_gini(docs, n_deciles=2).collect()
    assert rows[0]["gini"] == pytest.approx(0.25, rel=1e-12)


def test_wau_overlap_hand_computed(spark):
    from z_rad_spark.operators.curation import wau_overlap

    # week 1 (Mon 2024-01-01): users 1,2,3; week 2: users 2,3,4,5
    rows = []
    eid = 0
    for d, users in [("2024-01-02", [1, 2, 3]), ("2024-01-09", [2, 3, 4, 5])]:
        for u in users:
            rows.append((eid, f"{d} 10:00:00", u, "click", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = wau_overlap(ev).collect()[0]
    assert (r["n_prev"], r["n_curr"]) == (3, 4)
    assert r["retained"] == 2 and r["new_users"] == 2 and r["churned"] == 1
    assert r["retention"] == pytest.approx(2 / 3, rel=1e-12)
    assert r["jaccard"] == pytest.approx(2 / 5, rel=1e-12)


def test_seasonality_pure_hour_pattern(spark):
    from z_rad_spark.operators.sessionize import seasonality_strength

    # two days, hour-of-day pattern repeats exactly -> hour explains
    # all variance (eta2_hour = 1)
    ts = []
    for day in (1, 2):
        for hour, c in [(0, 1), (1, 3), (2, 5)]:
            for i in range(c):
                ts.append(f"2024-01-{day:02d} {hour:02d}:00:{i:02d}")
    r = seasonality_strength(_turns_at(spark, ts)).collect()[0]
    assert r["n"] == 6
    assert r["eta2_hour"] == pytest.approx(1.0, rel=1e-12)


def test_seasonality_constant_series_null(spark):
    from z_rad_spark.operators.sessionize import seasonality_strength

    ts = [f"2024-01-01 {h:02d}:00:00" for h in range(4)]
    r = seasonality_strength(_turns_at(spark, ts)).collect()[0]
    assert r["eta2_hour"] is None and r["eta2_dow"] is None


def test_key_skew_profile_hand_computed(spark):
    from z_rad_spark.operators.sessionize import key_skew_profile

    # counts: c1 -> 1, c2 -> 1, c3 -> 2, c4 -> 8
    rows = []
    for conv, n in [("c1", 1), ("c2", 1), ("c3", 2), ("c4", 8)]:
        for i in range(n):
            rows.append((conv, i, "user", 1))
    r = key_skew_profile(_turns(spark, rows)).collect()[0]
    assert r["n_keys"] == 4 and r["n_rows"] == 12
    # ranks: ceil(.5*4)=2 -> counts sorted 1,1,2,8 -> p50 = 1
    assert r["p50"] == 1 and r["p90"] == 8 and r["max_count"] == 8
    assert r["top_share"] == pytest.approx(8 / 12, rel=1e-12)
    assert r["skew_ratio"] == pytest.approx(8.0, rel=1e-12)


def test_role_xcorr_lagged_follower(spark):
    from z_rad_spark.operators.profile import role_xcorr

    # assistant activity = user activity shifted +1 hour
    rows = []
    i = 0
    user_counts = [1, 4, 2, 5, 3, 1]
    for hour, c in enumerate(user_counts):
        for _ in range(c):
            rows.append(("c1", i, "user", f"2024-01-01 {hour:02d}:00:{i % 60:02d}", 1.0)); i += 1
        for _ in range(c):
            rows.append(("c1", i, "assistant", f"2024-01-01 {hour + 1:02d}:05:{i % 60:02d}", 1.0)); i += 1
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string, signal double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["lag"]: r for r in role_xcorr(df).collect()}
    # strongest correlation at lag +1 (assistant follows user)
    best = max(out.values(), key=lambda r: (r["r"] if r["r"] is not None else -2))
    assert best["lag"] == 1
    assert out[1]["r"] == pytest.approx(1.0, rel=1e-9)


def test_handoff_latency_matrix_hand_computed(spark):
    from z_rad_spark.operators.profile import handoff_latency_matrix

    # u->a gaps: 10s, 30s ; a->u gap: 60s
    rows = [
        ("c1", 0, "user", "2024-01-01 00:00:00", 1.0),
        ("c1", 1, "assistant", "2024-01-01 00:00:10", 1.0),
        ("c1", 2, "user", "2024-01-01 00:01:10", 1.0),
        ("c1", 3, "assistant", "2024-01-01 00:01:40", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string, signal double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {(r["from_role"], r["to_role"]): r for r in handoff_latency_matrix(df).collect()}
    ua = out[("user", "assistant")]
    assert ua["n"] == 2
    assert ua["mean_sec"] == pytest.approx(20.0, rel=1e-12)
    assert ua["p50_sec"] == pytest.approx(10.0, rel=1e-12)
    assert ua["p90_sec"] == pytest.approx(30.0, rel=1e-12)
    au = out[("assistant", "user")]
    assert au["n"] == 1 and au["p50_sec"] == pytest.approx(60.0, rel=1e-12)


def test_tool_chains_skips_non_tool_turns(spark):
    from z_rad_spark.operators.profile import tool_chains

    rows = [
        ("c1", 0, "user", 1), ("c1", 1, "tool", 1),
        ("c1", 2, "assistant", 1), ("c1", 3, "tool", 1),
    ]
    df = _turns(spark, rows)
    df = df.withColumn(
        "tool",
        F.when(F.col("turn_idx") == 1, "search").when(
            F.col("turn_idx") == 3, "fetch"
        ),
    )
    out = tool_chains(df).collect()
    assert len(out) == 1
    r = out[0]
    # intervening assistant turn skipped: search -> fetch is a chain
    assert (r["from_tool"], r["to_tool"]) == ("search", "fetch")
    assert r["n"] == 1 and r["share"] == pytest.approx(1.0, rel=1e-12)


def test_conv_endings_hand_computed(spark):
    from z_rad_spark.operators.profile import conv_endings

    rows = [
        ("c1", 0, "user", 1), ("c1", 1, "assistant", 4),
        ("c2", 0, "user", 2),
        ("c3", 0, "user", 3), ("c3", 1, "assistant", 8),
    ]
    out = {r["role"]: r for r in conv_endings(_turns(spark, rows)).collect()}
    assert out["assistant"]["n_convs"] == 2
    assert out["assistant"]["share"] == pytest.approx(2 / 3, rel=1e-12)
    assert out["assistant"]["mean_last_signal"] == pytest.approx(6.0, rel=1e-12)
    assert out["user"]["n_convs"] == 1
    assert out["user"]["mean_last_signal"] == pytest.approx(2.0, rel=1e-12)


def test_cold_start_share_hand_computed(spark):
    from z_rad_spark.operators.profile import cold_start_share

    rows = [
        ("c1", 0, "user", "2024-01-01 10:00:00", 1.0),
        ("c1", 1, "user", "2024-01-02 10:00:00", 1.0),
        ("c2", 0, "user", "2024-01-02 11:00:00", 1.0),
        ("c2", 1, "user", "2024-01-02 12:00:00", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string, signal double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {str(r["day"])[:10]: r for r in cold_start_share(df).collect()}
    d1, d2 = out["2024-01-01"], out["2024-01-02"]
    assert d1["n_turns"] == 1 and d1["n_new_convs"] == 1
    assert d1["new_share"] == pytest.approx(1.0, rel=1e-12)
    # day 2: 3 turns, 2 in the new conv c2, one carried over from c1
    assert d2["n_turns"] == 3 and d2["n_new_turns"] == 2 and d2["n_new_convs"] == 1
    assert d2["new_share"] == pytest.approx(2 / 3, rel=1e-12)


def test_dup_rate_by_source_hand_computed(spark):
    from z_rad_spark.operators.dedup import dup_rate_by_source

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "dupfeed"),
            (2, "the quick brown fox jumps over the lazy dog", "dupfeed"),
            (3, "completely different text about other things entirely", "clean"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in dup_rate_by_source(docs).collect()}
    assert out["dupfeed"]["n_duped"] == 2
    assert out["dupfeed"]["dup_rate"] == pytest.approx(1.0, rel=1e-12)
    assert out["clean"]["dup_rate"] == pytest.approx(0.0, abs=1e-12)


def test_cross_source_dup_hand_computed(spark):
    from z_rad_spark.operators.dedup import cross_source_dup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "feed_a"),
            (2, "the quick brown fox jumps over the lazy dog", "feed_b"),
            (3, "completely different text about other things entirely", "feed_a"),
        ],
        "doc_id long, text string, source string",
    )
    r = cross_source_dup(docs).collect()[0]
    assert r["n_pairs"] == 1 and r["n_within"] == 0 and r["n_cross"] == 1
    assert r["cross_share"] == pytest.approx(1.0, rel=1e-12)


def test_ht_estimate_full_sample_exact(spark):
    from z_rad_spark.operators.curation import ht_estimate

    docs = spark.createDataFrame(
        [(i, "a b c", "en", "s") for i in range(20)],
        "doc_id long, text string, lang string, source string",
    )
    # rate_num = 16^8 -> everything sampled, p = 1 -> HT == exact
    r = ht_estimate(docs, rate_num=16**8).collect()[0]
    assert r["n_sampled"] == 20
    assert r["ht_tokens"] == pytest.approx(float(r["exact_tokens"]), rel=1e-12)
    assert r["err_pct"] == pytest.approx(0.0, abs=1e-9)


def test_ht_estimate_unbiased_form(spark):
    from z_rad_spark.operators.curation import ht_estimate

    docs = spark.createDataFrame(
        [(i, "a b c d", "en", "s") for i in range(200)],
        "doc_id long, text string, lang string, source string",
    )
    r = ht_estimate(docs).collect()[0]
    # HT = sampled_tokens / p exactly
    p = 429496729 / 16**8
    assert r["ht_tokens"] == pytest.approx(r["n_sampled"] * 4 / p, rel=1e-12)


def test_bh_fdr_rejects_strong_shift_only(spark):
    from z_rad_spark.operators.drift import bh_fdr

    rows = []
    # role 'shift': 60 ref at value 1, 60 cur at value 9 (D = 1)
    for i in range(60):
        rows.append(("shift", f"2024-01-01 00:{i:02d}:00", 1))
        rows.append(("shift", f"2024-02-01 00:{i:02d}:00", 9))
    # role 'same': identical distributions (D = 0)
    for i in range(60):
        rows.append(("same", f"2024-01-01 01:{i:02d}:00", 5))
        rows.append(("same", f"2024-02-01 01:{i:02d}:00", 5))
    out = {r["role"]: r for r in bh_fdr(_ts_rows(spark, rows), "2024-01-15 00:00:00").collect()}
    assert out["shift"]["reject"] is True
    assert out["same"]["reject"] is False
    assert out["shift"]["rank"] == 1


def test_ab_power_matches_closed_form(spark):
    import math
    from z_rad_spark.operators.drift import ab_power

    rows = [(i, "2024-01-01 10:00:00", i, "click" if i < 20 else "view", 1.0, "{}")
            for i in range(100)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["event_type"]: r for r in ab_power(ev).collect()}
    p1 = 0.2
    p2 = 0.2 * 1.1
    pbar = (p1 + p2) / 2
    za, zb = 1.959963984540054, 0.8416212335729143
    num = za * math.sqrt(2 * pbar * (1 - pbar)) + zb * math.sqrt(
        p1 * (1 - p1) + p2 * (1 - p2)
    )
    want = num * num / ((p2 - p1) ** 2)
    assert out["click"]["n_per_arm"] == pytest.approx(want, rel=1e-12)


def test_state_matrix_hand_computed(spark):
    from z_rad_spark.operators.asof import state_matrix

    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "2024-01-01 10:00:00", 3.0),
            ("c1", 1, "assistant", "2024-01-01 10:05:00", 7.0),
            ("c1", 2, "user", "2024-01-01 10:10:00", 5.0),
            ("c1", 3, "user", "2024-02-01 10:00:00", 9.0),  # post-cutoff
        ],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = state_matrix(df, spark, ["2024-01-15 00:00:00"]).collect()[0]
    assert r["last_sig_user"] == pytest.approx(5.0)      # latest pre-cutoff
    assert r["last_sig_assistant"] == pytest.approx(7.0)
    assert r["last_sig_tool"] is None
    assert r["last_sig_system"] is None


def test_distinct_asof_hand_computed(spark):
    from z_rad_spark.operators.asof import distinct_asof

    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "2024-01-01 10:00:00", 1.0, None),
            ("c1", 1, "tool", "2024-01-01 10:05:00", 1.0, "search"),
            ("c1", 2, "tool", "2024-01-01 10:10:00", 1.0, "fetch"),
            ("c1", 3, "tool", "2024-02-01 10:00:00", 1.0, "zap"),
        ],
        "conv_id string, turn_idx int, role string, ts string, signal double, tool string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = distinct_asof(df, spark, ["2024-01-15 00:00:00"]).collect()[0]
    assert r["n_turns"] == 3
    assert r["n_roles"] == 2
    assert r["n_tools"] == 2  # zap is post-cutoff; NULL not counted


def test_bytes_per_token_hand_computed(spark):
    from z_rad_spark.operators.text import bytes_per_token

    # "ab cd" -> 5 chars, 2 tokens, 4 non-ws
    docs = spark.createDataFrame(
        [(1, "ab cd", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    r = bytes_per_token(docs).collect()[0]
    assert r["n_chars"] == 5 and r["n_tokens"] == 2
    assert r["chars_per_token"] == pytest.approx(2.5, rel=1e-12)
    assert r["nonws_share"] == pytest.approx(4 / 5, rel=1e-12)
    assert r["mean_token_len"] == pytest.approx(2.0, rel=1e-12)


def test_dup_threshold_sweep_monotone(spark):
    from z_rad_spark.operators.dedup import dup_threshold_sweep

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "s"),
            (2, "the quick brown fox jumps over the lazy dog", "s"),
            (3, "the quick brown fox jumps over a lazy cat today", "s"),
            (4, "completely different text about other things entirely", "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["threshold"]: r for r in dup_threshold_sweep(docs).collect()}
    # identical pair survives every bar; counts never increase with the bar
    assert out[0.9]["n_pairs"] >= 1
    assert out[0.5]["n_pairs"] >= out[0.7]["n_pairs"] >= out[0.9]["n_pairs"]
    assert out[0.5]["n_docs"] >= out[0.9]["n_docs"] >= 2


def test_streaming_ewma_matches_fold(spark, tmp_path):
    import pyspark.sql.types as T

    from z_rad_spark.streaming import streaming_ewma

    rows = [
        ("c1", "2024-01-01 00:00:00", 2.0),
        ("c1", "2024-01-01 00:01:00", 4.0),
        ("c1", "2024-01-01 00:02:00", 8.0),
        # tie group at one ts: mean (1+3)/2 = 2 folds as one step
        ("c2", "2024-01-01 00:00:00", 1.0),
        ("c2", "2024-01-01 00:00:00", 3.0),
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts string, signal double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "ewma_src")
    df.repartition(2).write.parquet(src)
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("signal", T.DoubleType()),
        ]
    )
    q = (
        streaming_ewma(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory")
        .queryName("ewma_test_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    q.stop()
    out = {r["conv_id"]: r for r in spark.table("ewma_test_sink").collect()}
    # c1: l = 2 -> .5*4+.5*2 = 3 -> .5*8+.5*3 = 5.5
    assert out["c1"]["n_steps"] == 3
    assert out["c1"]["level"] == pytest.approx(5.5, rel=1e-12)
    # c2: single collapsed step, level = tie mean
    assert out["c2"]["n_steps"] == 1
    assert out["c2"]["level"] == pytest.approx(2.0, rel=1e-12)


def test_approx_quantile_check_exact_and_bounds(spark):
    from z_rad_spark.operators.sketches import approx_quantile_check

    rows = [("u", f"2024-01-01 00:{i:02d}:00", float(1 + i % 9)) for i in range(54)]
    df = _ts_rows(spark, [(r, t, s) for (r, t, s) in rows])
    r = approx_quantile_check(df).collect()[0]
    assert r["n"] == 54
    # values 1..9 uniform x6: exact p50 = ceil(27)th = 5
    assert r["p50"] == pytest.approx(5.0)
    assert r["ok_p50"] and r["ok_p90"] and r["ok_p99"]


def test_column_profile_nulls_and_distincts(spark):
    from z_rad_spark.operators.profile import column_profile

    rows = [
        (1, "2024-01-01 10:00:00", 7, "click", 1.5, "{}"),
        (2, "2024-01-01 11:00:00", 7, "view", None, "{}"),
        (3, "2024-01-02 10:00:00", 8, "click", 2.5, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["column"]: r for r in column_profile(ev).collect()}
    assert out["value"]["n_null"] == 1
    assert out["value"]["null_share"] == pytest.approx(1 / 3, rel=1e-12)
    assert out["user_id"]["n_distinct"] == 2
    assert out["event_type"]["min_str"] == "click"
    assert out["props"]["n_null"] == 1
    assert out["ts"]["min_str"] == "2024-01-01 10:00:00"


def test_content_manifest_order_free_and_sensitive(spark):
    from z_rad_spark.operators.curation import content_manifest

    docs = spark.createDataFrame(
        [(1, "aaa bbb", "en", "s1"), (2, "ccc ddd", "en", "s1"), (3, "x", "en", "s2")],
        "doc_id long, text string, lang string, source string",
    )
    out1 = {r["source"]: r for r in content_manifest(docs).collect()}
    # same rows in different input order -> identical digests
    docs2 = spark.createDataFrame(
        [(3, "x", "en", "s2"), (2, "ccc ddd", "en", "s1"), (1, "aaa bbb", "en", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    out2 = {r["source"]: r for r in content_manifest(docs2).collect()}
    assert out1["s1"]["digest"] == out2["s1"]["digest"]
    assert out1["<corpus>"]["digest"] == out2["<corpus>"]["digest"]
    # a one-character edit changes the digest
    docs3 = spark.createDataFrame(
        [(1, "aaa bbc", "en", "s1"), (2, "ccc ddd", "en", "s1"), (3, "x", "en", "s2")],
        "doc_id long, text string, lang string, source string",
    )
    out3 = {r["source"]: r for r in content_manifest(docs3).collect()}
    assert out3["s1"]["digest"] != out1["s1"]["digest"]
    assert out1["<corpus>"]["n_docs"] == 3


def test_mix_entropy_uniform_sources(spark):
    from z_rad_spark.operators.curation import mix_entropy

    docs = spark.createDataFrame(
        [(1, "a b", "en", "s1"), (2, "c d", "en", "s2"), (3, "e f", "en", "s3"), (4, "g h", "en", "s4")],
        "doc_id long, text string, lang string, source string",
    )
    r = mix_entropy(docs).collect()[0]
    assert r["n_sources"] == 4
    assert r["h_docs"] == pytest.approx(math.log(4), rel=1e-12)
    assert r["eff_docs"] == pytest.approx(4.0, rel=1e-9)
    assert r["eff_tokens"] == pytest.approx(4.0, rel=1e-9)


def test_wilson_ci_zero_successes_honest_upper(spark):
    from z_rad_spark.operators.drift import wilson_ci

    docs = spark.createDataFrame(
        [(i, "x", "de", "s0") for i in range(12)],
        "doc_id long, text string, lang string, source string",
    )
    r = wilson_ci(docs).collect()[0]
    assert r["k"] == 0 and r["p"] == pytest.approx(0.0)
    # Wald would report [0, 0]; Wilson's upper bound stays honest
    assert r["wilson_lo"] == pytest.approx(0.0, abs=1e-12)
    assert 0.2 < r["wilson_hi"] < 0.3


def test_wilson_ci_matches_closed_form(spark):
    import math
    from z_rad_spark.operators.drift import wilson_ci

    docs = spark.createDataFrame(
        [(i, "x", "en" if i < 6 else "de", "s") for i in range(10)],
        "doc_id long, text string, lang string, source string",
    )
    r = wilson_ci(docs).collect()[0]
    z = 1.959963984540054
    n, p = 10.0, 0.6
    z2n = z * z / n
    center = (p + z2n / 2) / (1 + z2n)
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / (1 + z2n)
    assert r["wilson_lo"] == pytest.approx(center - half, rel=1e-12)
    assert r["wilson_hi"] == pytest.approx(center + half, rel=1e-12)


def test_markov_stationary_converges_to_two_thirds(spark):
    from z_rad_spark.operators.sessionize import markov_stationary

    # chain: a->b always; b->a (2/3), b->b (1/3)...
    # build a long deterministic-ish sequence: a b a b b a b a b b ...
    seq = ["a", "b"] * 20 + ["b"]  # gives both b->a and b->b mass
    rows = [("c1", i, r, 1) for i, r in enumerate(seq)]
    out = {r["role"]: r for r in markov_stationary(_turns(spark, rows), n_iter=20).collect()}
    # stationary satisfies pi = pi P; with P(a->b)=1 and P(b->a)=q,
    # pi_b / pi_a = 1/q; just sanity: pi sums to ~1 and b-major
    total = sum(v["pi"] for v in out.values())
    assert total == pytest.approx(1.0, rel=1e-6)
    assert out["b"]["pi"] > out["a"]["pi"]


def test_markov_stationary_uniform_chain_gap_zero(spark):
    from z_rad_spark.operators.sessionize import markov_stationary

    # aabb-cycle: transition counts equal -> P rows uniform ->
    # stationary = marginal = (1/2, 1/2); gap 0
    seq = ["a", "a", "b", "b", "a", "a", "b", "b", "a"]
    rows = [("c1", i, r, 1) for i, r in enumerate(seq)]
    out = {r["role"]: r for r in markov_stationary(_turns(spark, rows)).collect()}
    for role in ("a", "b"):
        assert out[role]["pi"] == pytest.approx(0.5, rel=1e-9)
        assert out[role]["gap"] == pytest.approx(0.0, abs=1e-9)


def test_answer_rate_asof_future_answer_not_counted(spark):
    from z_rad_spark.operators.asof import answer_rate_asof

    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "2024-01-01 10:00:00", 1.0),
            ("c1", 1, "assistant", "2024-01-01 10:01:00", 1.0),
            ("c1", 2, "user", "2024-01-01 11:00:00", 1.0),
            # the answer to turn 2 lands AFTER the cutoff
            ("c1", 3, "assistant", "2024-01-02 09:00:00", 1.0),
        ],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = answer_rate_asof(df, spark, ["2024-01-01 12:00:00"]).collect()[0]
    assert r["n_user"] == 2
    assert r["n_answered"] == 1  # the 11:00 question is unanswered AS OF noon
    assert r["answer_rate"] == pytest.approx(0.5, rel=1e-12)


def test_streaming_cms_estimate_upper_bounds_truth(spark, tmp_path):
    import pyspark.sql.types as T

    from z_rad_spark.streaming import streaming_cms

    rows = [("a", 1)] * 30 + [("b", 2)] * 10 + [("c", 3)] * 5
    df = spark.createDataFrame(rows, "event_type string, key long")
    src = str(tmp_path / "cms_src")
    df.repartition(3).write.parquet(src)
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("key", T.LongType()),
        ]
    )
    q = (
        streaming_cms(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory")
        .queryName("cms_test_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    q.stop()
    out = {r["event_type"]: r for r in spark.table("cms_test_sink").collect()}
    assert set(out) == {"a", "b", "c"}
    for k, true_c in [("a", 30), ("b", 10), ("c", 5)]:
        assert out[k]["exact_in_batch"] == true_c
        # CM never undercounts
        assert out[k]["cms_est"] >= true_c
        assert out[k]["overcount"] == out[k]["cms_est"] - true_c


def test_quantile_state_asof_hand_computed(spark):
    from z_rad_spark.operators.asof import quantile_state_asof

    # history signals 1..4 -> p25 = ceil(1)=1st = 1; p50 = 2; p75 = 3
    df = spark.createDataFrame(
        [
            ("c1", i, "user", f"2024-01-01 10:0{i}:00", float(i + 1))
            for i in range(4)
        ] + [("c1", 4, "user", "2024-02-01 10:00:00", 99.0)],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = quantile_state_asof(df, spark, ["2024-01-15 00:00:00"]).collect()[0]
    assert r["n"] == 4
    assert (r["p25"], r["p50"], r["p75"]) == (1.0, 2.0, 3.0)


def test_role_mix_asof_hand_computed(spark):
    from z_rad_spark.operators.asof import role_mix_asof

    df = spark.createDataFrame(
        [
            ("c1", 0, "user", "2024-01-01 10:00:00", 1.0),
            ("c1", 1, "assistant", "2024-01-01 10:01:00", 1.0),
            ("c1", 2, "user", "2024-01-01 10:02:00", 1.0),
            ("c1", 3, "tool", "2024-01-01 10:03:00", 1.0),
        ],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = role_mix_asof(df, spark, ["2024-01-15 00:00:00"]).collect()[0]
    assert r["share_user"] == pytest.approx(0.5, rel=1e-12)
    assert r["share_assistant"] == pytest.approx(0.25, rel=1e-12)
    assert r["share_tool"] == pytest.approx(0.25, rel=1e-12)
    assert r["share_system"] == pytest.approx(0.0, abs=1e-12)


def test_wow_growth_hand_computed(spark):
    from z_rad_spark.operators.profile import wow_growth

    rows = []
    eid = 0
    for d, n in [("2024-01-02", 4), ("2024-01-09", 6)]:
        for _ in range(n):
            rows.append((eid, f"{d} 10:00:00", eid % 5, "click", 1.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = wow_growth(ev).collect()[0]
    assert (r["n_prev"], r["n_curr"]) == (4, 6)
    assert r["pct_change"] == pytest.approx(50.0, rel=1e-12)


def test_engagement_depth_hand_computed(spark):
    from z_rad_spark.operators.profile import engagement_depth

    # user 1: 3 distinct days; users 2, 3: 1 day each
    rows = [
        (0, "2024-01-01 10:00:00", 1), (1, "2024-01-02 10:00:00", 1),
        (2, "2024-01-03 10:00:00", 1), (3, "2024-01-03 11:00:00", 1),
        (4, "2024-01-01 10:00:00", 2), (5, "2024-01-01 10:00:00", 3),
    ]
    ev = spark.createDataFrame(
        [(i, t, u, "click", 1.0, "{}") for (i, t, u) in rows],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["active_days"]: r for r in engagement_depth(ev).collect()}
    assert out[1]["n_users"] == 2 and out[3]["n_users"] == 1
    assert out[1]["user_share"] == pytest.approx(2 / 3, rel=1e-12)
    assert out[1]["cum_share_at_least"] == pytest.approx(1.0, rel=1e-12)
    assert out[3]["cum_share_at_least"] == pytest.approx(1 / 3, rel=1e-12)


def test_first_response_stats_hand_computed(spark):
    from z_rad_spark.operators.profile import first_response_stats

    rows = [
        # c1: user at 10:00, assistant at 10:00:30 -> 30 s
        ("c1", 0, "user", "2024-01-01 10:00:00", 1.0),
        ("c1", 1, "assistant", "2024-01-01 10:00:30", 1.0),
        # c2: user asks, never answered
        ("c2", 0, "user", "2024-01-01 11:00:00", 1.0),
        ("c2", 1, "user", "2024-01-01 11:05:00", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string, signal double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = first_response_stats(df).collect()[0]
    assert r["n_convs"] == 2 and r["n_answered"] == 1
    assert r["unanswered_share"] == pytest.approx(0.5, rel=1e-12)
    assert r["p50_sec"] == pytest.approx(30.0, rel=1e-12)


def test_context_overflow_hand_computed(spark):
    from z_rad_spark.operators.profile import context_overflow

    # conv masses: c1 = 600, c2 = 100
    rows = [("c1", 0, "user", 300), ("c1", 1, "user", 300), ("c2", 0, "user", 100)]
    data = [
        (c, i, r, f"2024-01-01 00:{i:02d}:00", float(s)) for (c, i, r, s) in rows
    ]
    df = spark.createDataFrame(
        data, "conv_id string, turn_idx int, role string, ts string, signal double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["budget"]: r for r in context_overflow(df).collect()}
    assert out[512]["n_over"] == 1
    assert out[512]["conv_share"] == pytest.approx(0.5, rel=1e-12)
    assert out[512]["token_share"] == pytest.approx(600 / 700, rel=1e-12)
    assert out[2048]["n_over"] == 0
    assert out[2048]["token_share"] == pytest.approx(0.0, abs=1e-12)


def test_position_profile_hand_computed(spark):
    from z_rad_spark.operators.profile import position_profile

    # one conv of 10 turns with signal = turn index + 1 -> each decile
    # holds exactly one turn; bin b mean = b + 1
    rows = [("c1", i, "user", i + 1) for i in range(10)]
    out = {r["bin"]: r for r in position_profile(_turns(spark, rows)).collect()}
    assert len(out) == 10
    for b in range(10):
        assert out[b]["n"] == 1
        assert out[b]["mean_signal"] == pytest.approx(float(b + 1), rel=1e-12)


def test_user_gini_whale(spark):
    from z_rad_spark.operators.profile import user_gini

    # 9 users x1 event, one whale x 91 -> heavy concentration
    rows = []
    eid = 0
    for u in range(9):
        rows.append((eid, "2024-01-01 10:00:00", u, "click", 1.0, "{}")); eid += 1
    for _ in range(91):
        rows.append((eid, "2024-01-01 11:00:00", 99, "click", 1.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = user_gini(ev).collect()[0]
    assert r["n_users"] == 10 and r["n_events"] == 100
    # top1 cut: max(floor(10/100),1) = 1 user -> the whale
    assert r["top1_share"] == pytest.approx(0.91, rel=1e-12)
    assert r["top10_share"] == pytest.approx(0.91, rel=1e-12)
    # exact Gini: sorted x = 1x9,91; sum (2i-n-1)x = sum_{i=1..9}(2i-11) + (20-11)*91
    want = (sum((2 * i - 11) * 1 for i in range(1, 10)) + 9 * 91) / (10 * 100)
    assert r["gini"] == pytest.approx(want, rel=1e-12)


def test_rolling_skewness_symmetric_window_zero(spark):
    from z_rad_spark.operators.profile import rolling_skewness

    # 3 hours with counts 1,2,3: at the 3rd hour the trailing window
    # is symmetric -> skew 0
    ts = []
    for hour, c in enumerate([1, 2, 3]):
        for i in range(c):
            ts.append(f"2024-01-01 {hour:02d}:00:{i:02d}")
    rows = rolling_skewness(_turns_at(spark, ts)).collect()
    last = sorted(rows, key=lambda r: r["hour"])[-1]
    assert last["n"] == 3
    assert last["mean"] == pytest.approx(2.0, rel=1e-12)
    assert last["skew"] == pytest.approx(0.0, abs=1e-12)


def test_view_to_purchase_hand_computed(spark):
    from z_rad_spark.operators.profile import view_to_purchase

    rows = [
        # user 1: view at 10:00, purchase at 10:10 -> converts, 600 s
        (0, "2024-01-01 10:00:00", 1, "view"),
        (1, "2024-01-01 10:10:00", 1, "purchase"),
        # user 2: view at 11:00, purchase next day -> out of window
        (2, "2024-01-01 11:00:00", 2, "view"),
        (3, "2024-01-02 11:00:00", 2, "purchase"),
        # user 3: view, never purchases
        (4, "2024-01-01 12:00:00", 3, "view"),
    ]
    ev = spark.createDataFrame(
        [(i, t, u, e, 1.0, "{}") for (i, t, u, e) in rows],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = view_to_purchase(ev).collect()[0]
    assert r["n_views"] == 3 and r["n_converted"] == 1
    assert r["conv_rate"] == pytest.approx(1 / 3, rel=1e-12)
    assert r["p50_sec"] == pytest.approx(600.0, rel=1e-12)


def test_activity_heatmap_shares_sum_to_one(spark):
    from z_rad_spark.operators.profile import activity_heatmap

    ts = ["2024-01-01 10:00:00", "2024-01-01 10:30:00", "2024-01-02 15:00:00"]
    rows = activity_heatmap(_turns_at(spark, ts)).collect()
    assert sum(r["n"] for r in rows) == 3
    assert sum(r["share"] for r in rows) == pytest.approx(1.0, rel=1e-12)
    # 2024-01-01 is a Monday -> Spark dayofweek = 2
    cells = {(r["dow"], r["hour"]): r["n"] for r in rows}
    assert cells[(2, 10)] == 2 and cells[(3, 15)] == 1


def test_shingle_profile_hand_computed(spark):
    from z_rad_spark.operators.dedup import shingle_profile

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s"),   # shingles: "a b c", "b c d"
            (2, "a b c x", "s"),   # shingles: "a b c", "b c x"
        ],
        "doc_id long, text string, source string",
    )
    out = {r["band"]: r for r in shingle_profile(docs).collect()}
    # "a b c" df=2; "b c d", "b c x" df=1
    assert out["df=1"]["n_shingles"] == 2
    assert out["df=2"]["n_shingles"] == 1
    assert out["df=2"]["n_occurrences"] == 2
    assert out["df=2"]["occurrence_share"] == pytest.approx(0.5, rel=1e-12)


def test_token_js_drift_identical_windows_zero(spark):
    from z_rad_spark.operators.drift import token_js_drift

    rows = []
    for i, t in enumerate(["2024-01-01 10:00:00", "2024-02-01 10:00:00"]):
        rows.append(("c1", i, "user", t, 1.0, "hello world hello"))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string, signal double, text string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = token_js_drift(df, "2024-01-15 00:00:00").collect()[0]
    assert r["js"] == pytest.approx(0.0, abs=1e-12)


def test_token_js_drift_disjoint_windows_ln2(spark):
    import math
    from z_rad_spark.operators.drift import token_js_drift

    rows = [
        ("c1", 0, "user", "2024-01-01 10:00:00", 1.0, "aaa aaa"),
        ("c1", 1, "user", "2024-02-01 10:00:00", 1.0, "bbb bbb"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string, signal double, text string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = token_js_drift(df, "2024-01-15 00:00:00").collect()[0]
    # disjoint supports -> JS = ln 2, normalized 1
    assert r["js"] == pytest.approx(math.log(2), rel=1e-12)
    assert r["js_norm"] == pytest.approx(1.0, rel=1e-12)


def test_stutter_rate_hand_computed(spark):
    from z_rad_spark.operators.profile import stutter_rate

    rows = [
        ("c1", 0, "user", "2024-01-01 10:00:00", 1.0, "hi"),
        ("c1", 1, "user", "2024-01-01 10:01:00", 1.0, "hi"),      # stutter
        ("c1", 2, "assistant", "2024-01-01 10:02:00", 1.0, "ok"),
        ("c1", 3, "user", "2024-01-01 10:03:00", 1.0, "hi"),      # not adjacent
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string, signal double, text string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["role"]: r for r in stutter_rate(df).collect()}
    assert out["user"]["n_stutters"] == 1
    assert out["user"]["stutter_rate"] == pytest.approx(1 / 2, rel=1e-12)
    assert out["user"]["share_of_stutters"] == pytest.approx(1.0, rel=1e-12)
    assert out["assistant"]["n_stutters"] == 0


def test_tool_error_rate_hand_computed(spark):
    from z_rad_spark.operators.profile import tool_error_rate

    rows = [
        ("c1", 0, "tool", "2024-01-01 10:00:00", 1.0, "checkout"),
        ("c1", 1, "system", "2024-01-01 10:01:00", 1.0, None),     # error follows
        ("c1", 2, "tool", "2024-01-01 10:02:00", 1.0, "checkout"),
        ("c1", 3, "assistant", "2024-01-01 10:03:00", 1.0, None),  # fine
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string, signal double, tool string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = tool_error_rate(df).collect()[0]
    assert r["tool"] == "checkout"
    assert r["n_calls"] == 2 and r["n_errors"] == 1
    assert r["error_rate"] == pytest.approx(0.5, rel=1e-12)


def test_ngram_orders_hand_computed(spark):
    from z_rad_spark.operators.text import ngram_orders

    docs = spark.createDataFrame(
        [(1, "a b a b", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    out = {r["n"]: r for r in ngram_orders(docs).collect()}
    # unigrams: a,b,a,b -> 2 types / 4 tokens
    assert out[1]["n_types"] == 2 and out[1]["n_tokens"] == 4
    # bigrams: "a b","b a","a b" -> 2 types / 3 tokens
    assert out[2]["n_types"] == 2 and out[2]["n_tokens"] == 3
    # trigrams: "a b a","b a b" -> 2 / 2
    assert out[3]["type_token_ratio"] == pytest.approx(1.0, rel=1e-12)


def test_horizon_features_plan_is_broadcast_no_smj(spark):
    """The point-in-time grid ops must broadcast the cutoff dim — a
    SortMergeJoin on the grid would shuffle the full turn table per
    cutoff at 10^12 rows."""
    from z_rad_spark.operators.asof import horizon_features

    df = spark.createDataFrame(
        [("c1", 0, "user", "2024-01-01 10:00:00", 1.0)],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = horizon_features(df, spark, ["2024-01-02 00:00:00"])._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Broadcast" in plan


def test_state_matrix_plan_single_aggregate_no_window(spark):
    """state_matrix must stay windowless: conditional struct-argmax
    cells ride ONE hash aggregate, not per-role window sorts."""
    from z_rad_spark.operators.asof import state_matrix

    df = spark.createDataFrame(
        [("c1", 0, "user", "2024-01-01 10:00:00", 1.0)],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = state_matrix(df, spark, ["2024-01-02 00:00:00"])._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_weekend_effect_hand_computed(spark):
    from z_rad_spark.operators.drift import weekend_effect

    # 2024-01-06/07 = Sat/Sun; 2024-01-08/09 = Mon/Tue
    rows = [
        ("u", "2024-01-08 10:00:00", 2), ("u", "2024-01-09 10:00:00", 4),
        ("u", "2024-01-06 10:00:00", 7), ("u", "2024-01-07 10:00:00", 9),
    ]
    df = spark.createDataFrame(
        [("c1", i, "user", t, float(s)) for i, (r, t, s) in enumerate(rows)],
        "conv_id string, turn_idx int, role string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = weekend_effect(df).collect()[0]
    assert (r["n_wd"], r["n_we"]) == (2, 2)
    assert r["mean_wd"] == pytest.approx(3.0, rel=1e-12)
    assert r["mean_we"] == pytest.approx(8.0, rel=1e-12)
    # vd = vw = 2; se = sqrt(2/2 + 2/2) = sqrt 2; t = 5/sqrt 2
    import math
    assert r["t"] == pytest.approx(5 / math.sqrt(2), rel=1e-12)


def test_role_trigrams_hand_computed(spark):
    from z_rad_spark.operators.profile import role_trigrams

    rows = [("c1", i, r, 1) for i, r in enumerate(["user", "assistant", "user", "assistant"])]
    out = {r["pattern"]: r for r in role_trigrams(_turns(spark, rows)).collect()}
    # trigrams: u>a>u, a>u>a
    assert out["user>assistant>user"]["n"] == 1
    assert out["assistant>user>assistant"]["n"] == 1
    assert out["user>assistant>user"]["share"] == pytest.approx(0.5, rel=1e-12)
