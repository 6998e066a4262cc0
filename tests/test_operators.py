"""Operator-level tests: as-of join, sessionization, backfill, dedup,
similarity, checkpoint/resume — each vs a small independent pandas check."""

import math
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from z_rad_spark.operators.asof import asof_state
from z_rad_spark.operators.backfill import backfill
from z_rad_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard
from z_rad_spark.operators.sessionize import with_sessions
from z_rad_spark.operators.similarity import cosine_topk, lsh_bucket_topk
from z_rad_spark.transcripts import TRANSCRIPT_SCHEMA, synth_transcripts_pdf, with_signal


@pytest.fixture(scope="module")
def tdf(spark):
    pdf = synth_transcripts_pdf(n_convs=5, mean_turns=30, seed=8)
    return with_signal(spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)), pdf


def test_asof_join_matches_pandas(spark, tdf):
    df, pdf = tdf
    cutoffs = ["2024-01-01 06:00:00", "2024-01-05 00:00:00"]
    got = (
        asof_state(df, spark, cutoffs, ["signal", "turn_idx"])
        .toPandas()
        .set_index(["conv_id", "as_of"])
        .sort_index()
    )
    pdf = pdf.copy()
    pdf["signal"] = pdf["text"].map(lambda t: float(len(t.split(" "))))
    for conv, cp in pdf.groupby("conv_id"):
        cp = cp.sort_values(["ts", "turn_idx"], kind="mergesort")
        for cut in cutoffs:
            sel = cp[cp["ts"] <= pd.Timestamp(cut)]
            row = got.loc[(conv, pd.Timestamp(cut))]
            if len(sel) == 0:
                assert pd.isna(row["signal"])
            else:
                assert row["signal"] == sel.iloc[-1]["signal"]
                assert row["turn_idx"] == sel.iloc[-1]["turn_idx"]


def test_asof_join_directions_match_pandas_merge_asof(spark):
    """asof_join direction='backward'|'forward'|'nearest', with and
    without tolerance, must reproduce pandas merge_asof exactly on
    null-free value columns (where the engine's per-column and pandas's
    row-level semantics coincide) — including a probe key with no turns
    and probes outside the turn span on both sides."""
    from z_rad_spark.operators.asof import asof_join

    rng = np.random.default_rng(7)
    rows = []
    for cid in range(6):
        n = int(rng.integers(5, 40))
        ts = np.sort(rng.integers(0, 100_000, n))
        for i, t in enumerate(ts):
            rows.append(
                (
                    f"c{cid}",
                    i,
                    float(rng.integers(1, 9)),
                    pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=int(t)),
                )
            )
    turns = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "signal", "ts"])
    probes_rows = [
        (f"c{cid}", pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=int(t)))
        for cid in range(7)  # c6 has no turns at all
        for t in rng.integers(-5_000, 110_000, 8)
    ]
    probes = pd.DataFrame(probes_rows, columns=["conv_id", "as_of"])
    sturns, sprobes = spark.createDataFrame(turns), spark.createDataFrame(probes)
    for direction in ["backward", "forward", "nearest"]:
        for tol in [None, 5_000.0]:
            got = (
                asof_join(
                    sturns,
                    sprobes,
                    ["signal"],
                    direction=direction,
                    tolerance_seconds=tol,
                )
                .toPandas()
                .sort_values(["conv_id", "as_of"])
                .reset_index(drop=True)
            )
            want = (
                pd.merge_asof(
                    probes.sort_values("as_of"),
                    turns.sort_values("ts"),
                    left_on="as_of",
                    right_on="ts",
                    by="conv_id",
                    direction=direction,
                    tolerance=None if tol is None else pd.Timedelta(seconds=tol),
                )[["conv_id", "as_of", "signal"]]
                .sort_values(["conv_id", "as_of"])
                .reset_index(drop=True)
            )
            both_null = got["signal"].isna() & want["signal"].isna()
            assert ((got["signal"] == want["signal"]) | both_null).all(), (
                direction,
                tol,
            )


def test_asof_nearest_rides_one_exchange(spark, tdf):
    """direction='nearest' runs both scans over a SINGLE hash exchange:
    the forward window shares the backward window's HashPartitioning, so
    Catalyst plans Window/Sort/Window/Sort — a second Sort, never a
    second Exchange."""
    from z_rad_spark.operators.asof import asof_state

    plan = (
        asof_state(
            spark.createDataFrame(
                synth_transcripts_pdf(n_convs=3, mean_turns=10, seed=3),
                schema=TRANSCRIPT_SCHEMA,
            ),
            spark,
            ["2024-01-05 00:00:00"],
            ["turn_idx"],
            direction="nearest",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly two hash exchanges in the whole plan: the probe side's own
    # distinct, and ONE on the unioned frame feeding Sort/Window (back)
    # then Sort/Window (forward) with no exchange between them
    assert plan.count("Exchange hashpartitioning") == 2, plan
    lines = plan.splitlines()
    w_idx = [i for i, l in enumerate(lines) if l.lstrip().startswith(("+- Window", ":- Window"))]
    assert len(w_idx) == 2, plan
    between = lines[min(w_idx) + 1 : max(w_idx)]
    assert any("Sort" in l for l in between), plan
    assert not any("Exchange" in l for l in between), plan


def test_sessionize_matches_pandas(spark, tdf):
    df, pdf = tdf
    got = with_sessions(df, 600.0).toPandas().sort_values(["conv_id", "ts", "turn_idx"])
    for conv, cp in got.groupby("conv_id"):
        gaps = cp["ts"].diff().dt.total_seconds()
        want = (gaps > 600.0).fillna(False).cumsum()
        assert list(cp["session_id"]) == list(want.astype(int))


def test_backfill_nn_carries_forward(spark, tdf):
    df, pdf = tdf
    # reversed input order: tied turns reach the scan latest-first, so only
    # the turn_idx tie-break picks the right one
    df = df.orderBy(F.col("turn_idx").desc(), "conv_id")
    out = backfill(df, 3600, "signal", method="nn").toPandas()
    pdf = pdf.copy()
    pdf["signal"] = pdf["text"].map(lambda t: float(len(t.split(" "))))
    for conv, cp in pdf.groupby("conv_id"):
        cp = cp.sort_values(["ts", "turn_idx"], kind="mergesort")
        sub = out[out["conv_id"] == conv].sort_values("grid_ts")
        assert len(sub) > 0
        for _, r in sub.iterrows():
            sel = cp[cp["ts"] <= r["grid_ts"]]
            if len(sel) == 0:
                assert pd.isna(r["signal"])
            else:
                assert r["signal"] == sel.iloc[-1]["signal"]


def _backfill_ref(pdf, step_seconds, method):
    """backfill built the oracles' way, in pandas: among turns with a
    non-NULL signal, previous = greatest (ts, turn_idx) <= grid point, next
    = smallest (ts, turn_idx) > it, second bracketing turns one further out;
    the grid spans every turn. Returns (conv_id, grid_ts, signal)."""
    out = []
    for conv, cp in pdf.groupby("conv_id"):
        grid = pd.date_range(cp["ts"].min().floor("min"), cp["ts"].max(),
                             freq=f"{step_seconds}s")
        c = cp.dropna(subset=["signal"]).sort_values(["ts", "turn_idx"], kind="mergesort")
        ts = c["ts"].to_numpy("datetime64[us]").astype(np.int64).astype(float)
        v = c["signal"].to_numpy(float)
        g = grid.to_numpy("datetime64[us]").astype(np.int64).astype(float)
        i = np.searchsorted(ts, g, side="right") - 1

        def at(k, arr):
            ok = (k >= 0) & (k < len(arr))
            r = np.full(len(k), np.nan)
            r[ok] = arr[k[ok]]
            return r

        (v0, t0), (v1, t1), (v2, t2), (v3, t3) = (
            (at(i + d, v), at(i + d, ts)) for d in (-1, 0, 1, 2))
        if method == "nn":
            val = v1
        else:
            with np.errstate(divide="ignore", invalid="ignore"):
                if method == "linear":  # exact epoch-us offsets, as the SQL
                    inner = v1 + (v2 - v1) * ((g - t1) / (t2 - t1))
                else:  # seconds, as the SQL
                    t0, t1, t2, t3, tg = t0 / 1e6, t1 / 1e6, t2 / 1e6, t3 / 1e6, g / 1e6
                    h = t2 - t1
                    sec = (v2 - v1) / h
                    m1 = np.where(~np.isnan(v0) & (t2 != t0), (v2 - v0) / (t2 - t0), sec)
                    m2 = np.where(~np.isnan(v3) & (t3 != t1), (v3 - v1) / (t3 - t1), sec)
                    s = (tg - t1) / h
                    inner = ((2 * s**3 - 3 * s**2 + 1) * v1 + (s**3 - 2 * s**2 + s) * h * m1
                             + (-2 * s**3 + 3 * s**2) * v2 + (s**3 - s**2) * h * m2)
            val = np.where(np.isnan(v1), v2, np.where(np.isnan(v2), v1, inner))
        out.append(pd.DataFrame({"conv_id": conv, "grid_ts": grid, "signal": val}))
    return pd.concat(out).sort_values(["conv_id", "grid_ts"]).reset_index(drop=True)


def _backfill_pdf(df, step_seconds, method):
    got = backfill(df, step_seconds, "signal", method=method).toPandas()
    return got.sort_values(["conv_id", "grid_ts"]).reset_index(drop=True)


def _assert_same_values(got, want, what):
    assert len(got) == len(want), what
    assert (got["conv_id"] == want["conv_id"]).all(), what
    assert (got["grid_ts"] == want["grid_ts"]).all(), what
    g, w = got["signal"].to_numpy(float), want["signal"].to_numpy(float)
    bad = ~(np.isclose(g, w, rtol=1e-12, atol=1e-9) | (np.isnan(g) & np.isnan(w)))
    assert not bad.any(), (what, int(bad.sum()), got[bad].head(), want[bad].head())


@pytest.mark.parametrize("method", ["nn", "linear", "cubic"])
def test_backfill_breaks_ts_ties_by_turn_idx(spark, method):
    """Input with duplicate timestamps, in three partitionings: backfill
    matches the pandas reference and gives the same rows every time."""
    pdf = synth_transcripts_pdf(n_convs=6, mean_turns=30, seed=7)
    assert pdf.duplicated(["conv_id", "ts"]).sum() > 50
    df = with_signal(spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA))
    pdf = pdf.assign(signal=pdf["text"].map(lambda t: float(len(t.split(" ")))))
    want = _backfill_ref(pdf, 300, method)
    outs = [
        _backfill_pdf(d, 300, method)
        for d in (
            df.repartition(1),
            df.repartition(3, "turn_idx"),
            df.orderBy(F.col("turn_idx").desc(), "conv_id"),
        )
    ]
    for k, got in enumerate(outs):
        _assert_same_values(got, want, (method, k))
        assert got.equals(outs[0]), (method, k)


@pytest.mark.parametrize("method", ["nn", "linear", "cubic"])
def test_backfill_value_and_ts_come_from_one_turn(spark, method):
    """A NULL-valued turn neither supplies a value nor lends its ts to the
    carried value of an older (backward) or newer (forward) turn: each
    side is one non-NULL turn, asof_join's per-column rule."""
    pts = [
        ("2024-01-01T00:00:00", 1.0),
        ("2024-01-01T00:50:00", None),
        ("2024-01-01T03:00:00", 5.0),
        ("2024-01-01T04:00:00", 2.0),
        ("2024-01-01T04:20:00", None),
        ("2024-01-01T06:10:00", None),
        ("2024-01-01T06:40:00", 8.0),
        ("2024-01-01T07:00:00", None),
        ("2024-01-01T08:00:00", 4.0),
    ]
    pdf = pd.DataFrame({
        "conv_id": "c",
        "turn_idx": np.arange(len(pts), dtype="int32"),
        "ts": [np.datetime64(t, "us") for t, _ in pts],
        "signal": [v for _, v in pts],
    })
    df = spark.createDataFrame(pdf, "conv_id string, turn_idx int, ts timestamp, signal double")
    want = _backfill_ref(pdf, 3600, method)
    _assert_same_values(_backfill_pdf(df.repartition(2, "turn_idx"), 3600, method), want, method)


def test_backfill_linear_between_points(spark):
    rows = [
        ("c", 0, "user", "a", None, np.datetime64("2024-01-01T00:00:00", "us")),
        ("c", 1, "user", "a b c", None, np.datetime64("2024-01-01T02:00:00", "us")),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    df = with_signal(spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA))
    out = backfill(df, 3600, "signal", method="linear").toPandas().sort_values("grid_ts")
    # grid: 00:00, 01:00, 02:00 -> values 1, 2, 3 (linear between 1 and 3)
    assert list(out["signal"]) == [1.0, 2.0, 3.0]


def _mini_conv(spark, points):
    rows = [
        ("c", i, "user", "x", None, np.datetime64(ts, "us"))
        for i, (ts, _) in enumerate(points)
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    vals = spark.createDataFrame(
        [(i, float(v)) for i, (_, v) in enumerate(points)], "turn_idx int, signal double"
    )
    return df.join(vals, "turn_idx")


def test_backfill_cubic_interpolates_and_falls_back(spark):
    """Catmull-Rom passes through the data, reproduces the closed-form
    Hermite value between brackets, and degrades to the linear fallbacks
    at the edges (no bracketing side -> the available side)."""
    pts = [
        ("2024-01-01T00:00:00", 0.0),
        ("2024-01-01T01:00:00", 2.0),
        ("2024-01-01T02:00:00", 1.0),
        ("2024-01-01T03:00:00", 3.0),
    ]
    df = _mini_conv(spark, pts)
    out = backfill(df, 1800, "signal", method="cubic").toPandas().sort_values("grid_ts")
    got = dict(zip(out["grid_ts"].astype(str), out["signal"]))
    # exact hits reproduce the data (dt_us==0 -> prev value)
    assert got["2024-01-01 01:00:00"] == 2.0
    assert got["2024-01-01 02:00:00"] == 1.0
    # interior point 01:30 between (1h,2.0) and (2h,1.0), tangents from
    # (0h,0.0) and (3h,3.0): s=0.5, m1=(1-0)/7200, m2=(3-2)/7200,
    # v = h00*2 + h10*3600*m1 + h01*1 + h11*3600*m2
    s = 0.5
    h00, h10, h01, h11 = (
        2 * s**3 - 3 * s**2 + 1,
        s**3 - 2 * s**2 + s,
        -2 * s**3 + 3 * s**2,
        s**3 - s**2,
    )
    want = h00 * 2.0 + h10 * 3600 * (1.0 / 7200) + h01 * 1.0 + h11 * 3600 * (1.0 / 7200)
    assert abs(got["2024-01-01 01:30:00"] - want) < 1e-12
    # leading edge (only next side): falls back to next value
    assert got["2024-01-01 00:00:00"] == 0.0


def test_backfill_gaussian_weighted_mean_and_null_holes(spark):
    from z_rad_spark.operators.backfill import backfill_gaussian

    pts = [("2024-01-01T00:00:00", 4.0), ("2024-01-02T12:00:00", 8.0)]
    df = _mini_conv(spark, pts)
    # step 1h, sigma 30min, radius 90min: grid cells more than 90min from
    # both turns must be NULL; the cell at a turn is dominated by it
    out = backfill_gaussian(df, 3600, sigma_seconds=1800).toPandas()
    out = out.sort_values("grid_ts").reset_index(drop=True)
    by = dict(zip(out["grid_ts"].astype(str), out["signal"]))
    assert by["2024-01-01 00:00:00"] == 4.0  # only turn in radius, w cancels
    assert pd.isna(by["2024-01-01 12:00:00"])  # hole: no turn within 90min
    assert by["2024-01-02 12:00:00"] == 8.0
    # a cell 1h from turn A only: still exactly A's value
    assert by["2024-01-01 01:00:00"] == 4.0
    # every in-span grid row is present (holes as NULL, not missing rows)
    assert len(out) == 37  # 36h span / 1h + 1


def test_suv_factors_match_reference_formulas(spark):
    """Factor parity with the published body-model formulas
    (pet_suv.py:58-206): spot-check one M, one F and the O=mean rule."""
    from z_rad_spark.operators.suv import with_suv_factors

    attrs = spark.createDataFrame(
        [("a", 80.0, 180.0, "M"), ("b", 60.0, 165.0, "F"), ("c", 70.0, 170.0, "O")],
        "conv_id string, weight_kg double, height_cm double, sex string",
    )
    got = {r["conv_id"]: r.asDict() for r in with_suv_factors(attrs).collect()}
    m, f, o = got["a"], got["b"], got["c"]
    assert m["f_bw"] == 80.0
    assert abs(m["f_bsa"] - 0.007184 * 180.0**0.725 * 80.0**0.425) < 1e-12
    assert abs(m["f_lbm"] - (1.10 * 80 - 120.0 * (80 / 180.0) ** 2)) < 1e-12
    assert abs(m["f_lbm128"] - (1.10 * 80 - 128.0 * (80 / 180.0) ** 2)) < 1e-12
    bmi_f = 60.0 / (1.65**2)
    assert abs(f["f_janma"] - 9270.0 * 60 / (8780.0 + 244.0 * bmi_f)) < 1e-9
    assert abs(f["f_ibw"] - (45.5 + 0.91 * (165.0 - 152.0))) < 1e-12
    ibw_m, ibw_f = 48.0 + 1.06 * (170 - 152.0), 45.5 + 0.91 * (170 - 152.0)
    assert abs(o["f_ibw"] - 0.5 * (ibw_m + ibw_f)) < 1e-12
    assert all(v["f_lbm"] > 0 and v["f_bsa"] > 0 for v in got.values())


def test_exact_dedup(spark):
    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3], "text": ["a  b", "a b", "c", "c "]}
    )
    out = exact_dedup(spark.createDataFrame(pdf)).toPandas()
    assert len(out) == 2
    assert set(out["dup_count"]) == {2}
    assert set(out["keep_id"]) == {0, 2}


def test_minhash_finds_near_dupes(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [base, base + " extra", "completely different words entirely unrelated content here now"],
        }
    )
    pairs = minhash_lsh_pairs(spark.createDataFrame(docs), n=3, n_hashes=8, band_size=4).toPandas()
    assert (0, 1) in set(zip(pairs["id_a"], pairs["id_b"]))
    assert (0, 2) not in set(zip(pairs["id_a"], pairs["id_b"]))
    jac = ngram_jaccard(spark.createDataFrame(docs), n=3).toPandas()
    j01 = jac[(jac["id_a"] == 0) & (jac["id_b"] == 1)]["jaccard"].iloc[0]
    assert 0.5 < j01 < 1.0


def test_cosine_topk_exact_and_lsh_recall(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((60, 16)).astype(float)
    pdf = pd.DataFrame({"vec_id": range(60), "embedding": [list(v) for v in vecs]})
    df = spark.createDataFrame(pdf)
    q = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = cosine_topk(df, q, k=4).toPandas()
    # rank 1 must be the query itself (cosine 1.0)
    for qid, grp in got.groupby("query_id"):
        top = grp.sort_values("rank").iloc[0]
        assert top["vec_id"] == qid and abs(top["cosine"] - 1.0) < 1e-6
        # verify against numpy
        sims = vecs @ vecs[qid] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[qid]))
        want = np.argsort(-sims, kind="stable")[:4]
        assert set(grp["vec_id"]) == set(want)
    # LSH variant returns a subset containing the self-match
    lsh = lsh_bucket_topk(df, q, dim=16, k=4).toPandas()
    for qid, grp in lsh.groupby("query_id"):
        assert grp.sort_values("rank").iloc[0]["vec_id"] == qid


def test_semdedup_min_id_survivor_and_cluster_gate(spark):
    from z_rad_spark.operators.similarity import semdedup

    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 10, 11],
            "embedding": [
                [1.0, 0.0], [0.999, 0.01], [0.998, 0.02],  # near-dup cluster
                [0.0, 1.0], [-0.01, 0.999],                # second cluster
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    out = semdedup(df, threshold=0.99, centroids=cents).toPandas().set_index("vec_id")
    assert out.loc[1, "keep"] == 1 and pd.isna(out.loc[1, "dup_of"])
    # min-id survivor: 2 and 3 both point at 1, not at each other
    assert out.loc[2, "keep"] == 0 and out.loc[2, "dup_of"] == 1
    assert out.loc[3, "keep"] == 0 and out.loc[3, "dup_of"] == 1
    assert out.loc[2, "dup_cosine"] > 0.99
    assert out.loc[10, "keep"] == 1
    assert out.loc[11, "keep"] == 0 and out.loc[11, "dup_of"] == 10
    # oversized-cluster exemption: max_cluster=1 -> nothing pairable
    out2 = semdedup(df, threshold=0.99, centroids=cents, max_cluster=1).toPandas()
    assert (out2["keep"] == 1).all()


def test_checkpoint_resume(spark, tdf, tmp_path):
    from z_rad_spark.checkpoint import bucket_filter, run_resumable

    df, _ = tdf
    out_dir = str(tmp_path / "out")

    def build(bucket, n_buckets):
        return df.filter(bucket_filter(bucket, n_buckets)).groupBy("conv_id").count()

    m1 = run_resumable(spark, build, out_dir, snapshot_id="snapA", n_buckets=4)
    assert m1["computed"] == 4 and m1["skipped"] == 0
    m2 = run_resumable(spark, build, out_dir, snapshot_id="snapA", n_buckets=4)
    assert m2["computed"] == 0 and m2["skipped"] == 4
    # input changed -> full recompute
    m3 = run_resumable(spark, build, out_dir, snapshot_id="snapB", n_buckets=4)
    assert m3["computed"] == 4
    total = spark.read.parquet(os.path.join(out_dir, "bucket=*")).agg(F.sum("count")).collect()[0][0]
    assert total == df.count()


def test_media_decode_plumbing(spark):
    from z_rad_spark.operators.multimodal import FEATURE_DIM, decode_features, synth_media

    media = synth_media(spark, n=30, seed=5)
    out = decode_features(media).toPandas()
    assert len(out) == 30
    assert all(len(f) == FEATURE_DIM for f in out["features"])
    # deterministic: same payload -> same features
    out2 = decode_features(media).toPandas().sort_values("media_id")
    out1 = out.sort_values("media_id")
    assert [list(a) for a in out1["features"]] == [list(b) for b in out2["features"]]


def test_bmp_codec_roundtrip():
    """encode_bmp/decode_bmp are exact inverses for every 4-byte row
    padding case (w=5,6,7 pad 1/2/3 bytes; w=8 pad 0) and reject
    non-BMP / unsupported-flavor payloads loudly."""
    import numpy as np
    import pytest

    from z_rad_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    for w in (5, 6, 7, 8):
        px = rng.integers(0, 256, size=(4, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)
    # top-down variant (negative height) decodes to the same orientation
    px = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    data = bytearray(encode_bmp(px))
    import struct as st

    h = st.unpack_from("<i", data, 22)[0]
    st.pack_into("<i", data, 22, -h)
    body_off = st.unpack_from("<I", data, 10)[0]
    stride = (5 * 3 + 3) & ~3
    rows = bytes(data[body_off:])
    flipped = b"".join(
        rows[i * stride : (i + 1) * stride] for i in reversed(range(h))
    )
    data[body_off:] = flipped
    assert np.array_equal(decode_bmp(bytes(data)), px)
    with pytest.raises(ValueError):
        decode_bmp(b"BM not really a bitmap header at all.....")
    with pytest.raises(ValueError):
        decode_bmp(b"plain text payload")


def test_wav_codec_roundtrip():
    """encode_wav/decode_wav round-trip samples and rate exactly, walk
    past extra RIFF chunks, and reject non-PCM payloads."""
    import numpy as np
    import pytest

    from z_rad_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    for n in (1, 33, 48):  # odd byte-length data chunk exercises word padding
        s = rng.integers(-2000, 2000, size=n).astype(np.int16)
        out, rate = decode_wav(encode_wav(s, 12345))
        assert rate == 12345 and np.array_equal(out, s)
    # extra chunk before data: chunk walk must skip it
    s = np.array([1, -2, 3], dtype=np.int16)
    raw = bytearray(encode_wav(s, 8000))
    import struct as st

    extra = b"LIST" + st.pack("<I", 4) + b"INFO"
    patched = bytes(raw[:12]) + extra + bytes(raw[12:])
    patched = b"RIFF" + st.pack("<I", len(patched) - 8) + patched[8:]
    out, rate = decode_wav(patched)
    assert rate == 8000 and np.array_equal(out, s)
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxWAVE")


def test_real_decode_stats_match_rule(spark):
    """decode_stats on synth_codec_media payloads must reproduce the
    generating rule's sufficient statistics — computed here independently
    in numpy (the DuckDB oracle replays the same rule in SQL)."""
    import numpy as np

    from z_rad_spark.operators.multimodal import decode_stats, synth_codec_media

    ids = spark.range(0, 20).selectExpr("id AS media_id")
    got = decode_stats(synth_codec_media(ids)).toPandas().set_index("media_id").sort_index()
    for mid in range(20):
        row = got.loc[mid]
        if mid % 2 == 0:
            w, h = 5 + mid % 4, 4 + mid % 3
            y = np.arange(h)[:, None, None]
            x = np.arange(w)[None, :, None]
            c = np.arange(3)[None, None, :]
            v = (mid * 37 + y * 11 + x * 7 + c * 13) % 251
            assert row["fmt"] == "bmp" and row["n_units"] == w * h
            assert row["s1"] == v[:, :, 0].sum() and row["s3"] == v[:, :, 2].sum()
            assert row["s4"] == (v * (x + 1)).sum() and row["s5"] == (v * (y + 1)).sum()
        else:
            n = 32 + mid % 17
            i = np.arange(n)
            s = ((mid * 73 + i * 129) % 4001) - 2000
            assert row["fmt"] == "wav" and row["n_units"] == n
            assert row["s1"] == s.sum() and row["s2"] == (s * s).sum()
            assert row["s3"] == int(np.count_nonzero(s[:-1] * s[1:] < 0))
            assert row["s4"] == np.abs(s).max() and row["s5"] == 8000 + 100 * (mid % 5)


def test_salted_glcm_exact_across_bucket_borders(spark, tdf):
    """Salt-bucketed pair extraction (k-row overlap, left-endpoint
    ownership) must reproduce the unsalted cell counts exactly — including
    pairs that straddle bucket borders."""
    from z_rad_spark.operators.texture_sql import glcm_cells

    df, _ = tdf
    for lags in [(1,), (1, 2, 3)]:
        plain = glcm_cells(df, lags=lags).toPandas().sort_values(["conv_id", "i", "j"]).reset_index(drop=True)
        salted = (
            glcm_cells(df, lags=lags, turns_per_bucket=7)
            .toPandas()
            .sort_values(["conv_id", "i", "j"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(plain, salted, check_exact=True)


def test_salted_glcm_features_match_distributed(spark, tdf):
    from z_rad_spark.operators.texture_sql import texture_features_distributed

    df, _ = tdf
    a = texture_features_distributed(df, "glcm", lags=(1,)).toPandas().sort_values("conv_id").reset_index(drop=True)
    b = (
        texture_features_distributed(df, "glcm", lags=(1,), turns_per_bucket=11)
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=0, atol=1e-12)


def test_ivf_topk_recall_vs_exact(spark):
    from z_rad_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 16)).astype(float)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [list(v) for v in vecs]})
    df = spark.createDataFrame(pdf)
    queries = df.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(df, queries, k=5).toPandas()
    approx = ivf_topk(df, queries, n_centroids=16, n_probe=8, k=5).toPandas()
    # every query answered, ranks contiguous from 1
    assert set(approx.query_id) == {0, 1, 2, 3}
    for qid, grp in approx.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
    # probing half the cells must recover a reasonable share of true top-5
    e = {(r.query_id, r.vec_id) for r in exact.itertuples()}
    a = {(r.query_id, r.vec_id) for r in approx.itertuples()}
    assert len(e & a) / len(e) >= 0.5


def test_kmeans_zero_norm_vector_assigns_smallest_centroid(spark):
    """A zero-norm vector scores NULL cosine against every centroid
    (0/0 without ANSI mode); the argmax fold must fall back to the
    smallest cent_id — NULLS LAST semantics of the old window plan and
    of the DuckDB oracles — not to whichever centroid is first in
    codebook order."""
    from z_rad_spark.operators.similarity import ivf_topk, kmeans_assign

    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
        }
    )
    df = spark.createDataFrame(pdf)
    # codebook deliberately ordered with the LARGER id first
    cents = [(7, [0.0, 1.0]), (2, [1.0, 0.0])]
    out = (
        kmeans_assign(df, centroids=cents)
        .toPandas()
        .set_index("vec_id")
    )
    assert int(out.loc[0, "cluster_id"]) == 2  # smallest cent_id on all-NULL
    assert pd.isna(out.loc[0, "cosine"])
    assert int(out.loc[1, "cluster_id"]) == 2
    assert int(out.loc[2, "cluster_id"]) == 7
    # ivf: a zero-norm QUERY must not crash and probes smallest-id cells
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "query_vec": [[0.0, 0.0]]})
    )
    res = ivf_topk(df, queries, k=2, n_probe=1, centroids=cents).toPandas()
    assert set(res["query_id"]) <= {0}


def test_salted_runs_and_deps_exact(spark, tdf):
    """Distributed RLE with cross-bucket merge and double-overlap dependence
    counts must equal the unsalted window plans exactly, including runs
    spanning multiple whole buckets (tiny bucket size forces that)."""
    from z_rad_spark.operators.texture_sql import glrlm_cells, ngldm_cells

    df, _ = tdf
    for size in (5, 16):
        a = glrlm_cells(df).toPandas().sort_values(["conv_id", "lvl", "len"]).reset_index(drop=True)
        b = (
            glrlm_cells(df, turns_per_bucket=size)
            .toPandas().sort_values(["conv_id", "lvl", "len"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b, check_exact=True)
        c = ngldm_cells(df).toPandas().sort_values(["conv_id", "lvl", "dep"]).reset_index(drop=True)
        d = (
            ngldm_cells(df, turns_per_bucket=size)
            .toPandas().sort_values(["conv_id", "lvl", "dep"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(c, d, check_exact=True)


def test_connected_components_vs_bruteforce(spark):
    from z_rad_spark.operators.dedup import connected_components

    rng = np.random.default_rng(12)
    edges = set()
    for _ in range(60):
        a, b = int(rng.integers(0, 40)), int(rng.integers(0, 40))
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        pd.DataFrame(sorted(edges), columns=["id_a", "id_b"])
    )
    got = connected_components(pairs).toPandas().set_index("id")["cluster_id"].to_dict()

    # brute-force union-find
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for a, b in edges:
        for n in (a, b):
            want[n] = find(n)
    # normalize: representative = min member of component
    comp = {}
    for n, r in want.items():
        comp.setdefault(find(r), []).append(n)
    expect = {}
    for r, members in comp.items():
        m = min(members + [r])
        for n in members:
            expect[n] = m
    assert got == expect


def test_connected_components_star_matches_label_propagation(spark):
    """large/small-star contraction == min-label propagation on random
    graphs (same (id, cluster_id = component min) contract)."""
    from z_rad_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = np.random.default_rng(7)
    for trial in range(3):
        edges = set()
        for _ in range(50):
            a, b = int(rng.integers(0, 30)), int(rng.integers(0, 30))
            if a != b:
                edges.add((min(a, b), max(a, b)))
        pairs = spark.createDataFrame(
            pd.DataFrame(sorted(edges), columns=["id_a", "id_b"])
        )
        want = connected_components(pairs).toPandas().set_index("id")["cluster_id"].to_dict()
        got = connected_components_star(pairs).toPandas().set_index("id")["cluster_id"].to_dict()
        assert got == want, f"trial {trial}"


def test_connected_components_star_long_chain_few_rounds(spark):
    """A 120-node path (diameter 119) must resolve within O(log n) rounds —
    the exact case where min-label propagation needs 119 iterations.
    max_iter=10 > log2(120) bounds the round count hard."""
    from z_rad_spark.operators.dedup import connected_components_star

    chain = pd.DataFrame(
        {"id_a": [f"n{i:03d}" for i in range(119)],
         "id_b": [f"n{i+1:03d}" for i in range(119)]}
    )
    out = connected_components_star(spark.createDataFrame(chain), max_iter=10).toPandas()
    assert len(out) == 120
    assert set(out["cluster_id"]) == {"n000"}


def test_connected_components_star_leaves_session_conf_alone(spark, monkeypatch):
    """A library operator must not rewrite session-global confs: another
    query running on the same session would pick up the change."""
    from pyspark.sql.conf import RuntimeConfig

    from z_rad_spark.operators.dedup import connected_components_star

    keys = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], "id_a long, id_b long")
    out = connected_components_star(chain).toPandas()
    assert len(out) == 41 and set(out["cluster_id"]) == {0}
    assert "spark.sql.shuffle.partitions" not in keys


def test_unpersist_intermediates_releases_every_registered_frame(spark):
    from pyspark import StorageLevel

    from z_rad_spark import session
    from z_rad_spark.operators.graph import pagerank_bipartite

    session.unpersist_intermediates()
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")], "doc_id long, text string"
    )
    assert ngram_jaccard(docs, n=2).count() > 0
    events = spark.createDataFrame(
        [(1, "click"), (2, "view"), (1, "view")], "user_id long, event_type string"
    )
    assert pagerank_bipartite(events, n_iter=2).count() > 0
    frames = list(session._PERSISTED)
    assert len(frames) == 3  # shingles; pagerank's edges and degrees
    assert all(f.storageLevel != StorageLevel.NONE for f in frames)
    session.unpersist_intermediates()
    assert all(f.storageLevel == StorageLevel.NONE for f in frames)
    assert session._PERSISTED == []


def test_salt_bucket_assignment_has_no_window(spark, tdf):
    """Bucket assignment must be pure column arithmetic on the turn_idx
    ordinal — a row_number window over bare conv_id would serialize the
    very conversation the salting exists to split (one task per conv)."""
    from z_rad_spark.operators.skew import with_salt_bucket

    df, _ = tdf
    plan = with_salt_bucket(df, turns_per_bucket=7)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # the explicit fallback (no ordinal column) still works but pays one
    plan_fb = with_salt_bucket(df, turns_per_bucket=7, ordinal_col=None)
    assert "Window" in plan_fb._jdf.queryExecution().executedPlan().toString()


def test_salt_bucket_matches_fallback(spark, tdf):
    """turn_idx-derived buckets == row_number-derived buckets, row for row."""
    from z_rad_spark.operators.skew import with_salt_bucket

    df, _ = tdf
    cols = ["conv_id", "turn_idx", "bucket", "own"]
    a = with_salt_bucket(df, turns_per_bucket=7, overlap=2, overlap_before=1)
    b = with_salt_bucket(df, turns_per_bucket=7, overlap=2, overlap_before=1, ordinal_col=None)
    pa = a.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    pb = b.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(pa, pb)


def test_salt_bucket_no_phantom_trailing_bucket(spark, tdf):
    """overlap_before must not replicate a conversation's final rows into
    a bucket past its last own bucket: the distinct-bucket count per
    conversation equals ceil(n_turns / turns_per_bucket) exactly."""
    import math

    from z_rad_spark.operators.skew import with_salt_bucket

    df, _ = tdf
    out = (
        with_salt_bucket(df, turns_per_bucket=7, overlap=2, overlap_before=3)
        .groupBy("conv_id")
        .agg(
            F.countDistinct("bucket").alias("n_buckets"),
            F.sum(F.when(F.col("own"), 1).otherwise(0)).alias("n_own"),
        )
        .toPandas()
        .set_index("conv_id")
    )
    sizes = df.groupBy("conv_id").count().toPandas().set_index("conv_id")
    for conv, row in sizes.iterrows():
        n = int(row["count"])
        assert int(out.loc[conv, "n_buckets"]) == math.ceil(n / 7), conv
        assert int(out.loc[conv, "n_own"]) == n, conv


def test_gldzm_salted_matches_plain(spark, tdf):
    """Salted distance-zone cells (runs merged across bucket borders with
    positions) == the single-window gldzm_cells, exactly."""
    from z_rad_spark.operators.texture_sql import gldzm_cells

    df, _ = tdf
    key = ["conv_id", "lvl", "len"]
    plain = gldzm_cells(df).toPandas().sort_values(key).reset_index(drop=True)
    salted = gldzm_cells(df, turns_per_bucket=7).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(plain, salted, check_exact=True)


def test_semi_anti_join_partition(spark, tdf):
    """semi + anti partition the conversations; membership matches pandas."""
    from z_rad_spark.operators.joins import anti_eligible, semi_eligible

    df, pdf = tdf
    pred = F.col("role") == "tool"
    semi = set(semi_eligible(df, pred).select("conv_id").distinct().toPandas()["conv_id"])
    anti = set(anti_eligible(df, pred).select("conv_id").distinct().toPandas()["conv_id"])
    have = set(pdf.loc[pdf["role"] == "tool", "conv_id"])
    allc = set(pdf["conv_id"])
    assert semi == have
    assert anti == allc - have
    assert semi.isdisjoint(anti)
    # row counts preserved per conversation (no widening/dup from the join)
    n_semi = semi_eligible(df, pred).count()
    assert n_semi == int(pdf["conv_id"].isin(have).sum())


def test_hash_sample_rate_edges(spark):
    from z_rad_spark.operators.dedup import hash_sample

    docs = spark.range(200).withColumnRenamed("id", "doc_id")
    assert hash_sample(docs, 1.0).count() == 200
    assert hash_sample(docs, 0.0).count() == 0
    frac = hash_sample(docs, 0.4).count() / 200
    assert 0.2 < frac < 0.6


def test_connected_components_raises_without_convergence(spark):
    """A chain longer than max_iter must raise, not silently return
    partially-propagated cluster ids."""
    from z_rad_spark.operators.dedup import connected_components

    chain = pd.DataFrame({"id_a": range(9), "id_b": range(1, 10)})
    pairs = spark.createDataFrame(chain)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=3)
    ok = connected_components(pairs, max_iter=20).toPandas()
    assert set(ok["cluster_id"]) == {0}


def test_snapshot_id_plumbing(spark, tmp_path):
    """The checkpoint contract only touches the input through an opaque
    snapshot-id string — exactly what Iceberg's currentSnapshot().snapshotId
    provides — so this test passes unchanged on an Iceberg runtime:
    (a) the id is deterministic for unchanged input and moves when the
    input changes; (b) manifests record it; (c) a crash BETWEEN the data
    commit and the manifest write costs exactly one bucket recompute."""
    import os

    from z_rad_spark.checkpoint import (
        input_snapshot_id,
        load_manifests,
        run_resumable,
    )

    src = tmp_path / "src"
    pd.DataFrame({"a": [1, 2, 3]}).to_parquet(src.mkdir() or src / "p.parquet")
    id1 = input_snapshot_id(str(src))
    assert input_snapshot_id(str(src)) == id1
    pd.DataFrame({"a": [1, 2, 3, 4]}).to_parquet(src / "p.parquet")
    assert input_snapshot_id(str(src)) != id1

    out = str(tmp_path / "out")

    def build(b, n):
        return spark.range(10).withColumn(
            "bucket", F.lit(b)
        )

    m1 = run_resumable(spark, build, out, snapshot_id="snapX", n_buckets=4)
    assert (m1["computed"], m1["skipped"]) == (4, 0)
    mans = load_manifests(out)
    assert all(m["snapshot_id"] == "snapX" for m in mans.values())
    # crash between data write and manifest: drop ONE manifest, keep data
    os.remove(os.path.join(out, "_lineage", "bucket-00002.json"))
    m2 = run_resumable(spark, build, out, snapshot_id="snapX", n_buckets=4)
    assert (m2["computed"], m2["skipped"]) == (1, 3)


def test_embedding_near_dup_lsh_recall(spark):
    """Multi-table LSH candidate generation must recover most of the
    exact near-dup pairs while examining far fewer than all pairs."""
    from z_rad_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 16))
    # plant 10 near-dup pairs: small perturbations of existing vectors
    rows = [(i, base[i].tolist()) for i in range(40)]
    rows += [(100 + i, (base[i] + 0.05 * rng.standard_normal(16)).tolist()) for i in range(10)]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    exact = embedding_near_dup_pairs(emb, threshold=0.9, exact=True, dim=16).toPandas()
    approx = embedding_near_dup_pairs(
        emb, threshold=0.9, exact=False, dim=16, n_planes=6, n_tables=6
    ).toPandas()
    want = set(map(tuple, exact[["vec_id_a", "vec_id_b"]].to_numpy()))
    got = set(map(tuple, approx[["vec_id_a", "vec_id_b"]].to_numpy()))
    assert want, "planted near-dups must be found by the exact baseline"
    assert got <= want  # approx never invents pairs (same cosine filter)
    recall = len(got & want) / len(want)
    assert recall >= 0.7, recall


def test_texture_features_auto_switches_on_skew(spark, tdf):
    """The auto dispatcher picks the plain plan for small conversations
    and the salted plan past the giant threshold — value-identical."""
    from z_rad_spark.operators.texture_sql import texture_features_auto

    df, _ = tdf
    small = texture_features_auto(df, "glrlm", giant_threshold=10**6)
    # tiny threshold forces the salted path on the same data
    giant = texture_features_auto(df, "glrlm", giant_threshold=5, turns_per_bucket=7)
    ps = small.toPandas().sort_values("conv_id").reset_index(drop=True)
    pg = giant.toPandas().sort_values("conv_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(ps, pg, check_exact=False, rtol=0, atol=1e-12)
    # the salted plan shape: no Window partitioned by bare conv_id alone
    plan = giant._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan
    with pytest.raises(ValueError, match="unknown texture family"):
        texture_features_auto(df, "nope")


def test_tfidf_topk_matches_pandas(spark):
    """tfidf_topk == a pandas/sklearn-formula reimplementation (smooth idf)."""
    import math

    from z_rad_spark.operators.text import tfidf_topk

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "spark join shuffle join",
                "spark agg window agg agg",
                "join window shuffle",
                "spark spark spark unique",
            ],
        }
    )
    got = tfidf_topk(spark.createDataFrame(docs), k=2).toPandas()
    # expected: tf * (ln((N+1)/(df+1)) + 1), top-2 per doc
    from collections import Counter

    toks = {r.doc_id: r.text.split() for r in docs.itertuples()}
    df_t = Counter()
    for ts in toks.values():
        df_t.update(set(ts))
    n = len(docs)
    want = {}
    for d, ts in toks.items():
        scored = {
            t: round(c * (math.log((n + 1) / (df_t[t] + 1)) + 1.0), 6)
            for t, c in Counter(ts).items()
        }
        top = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        want[d] = top
    for d, top in want.items():
        sub = got[got.doc_id == d].sort_values("rank")
        assert list(sub["token"]) == [t for t, _ in top]
        assert [round(v, 6) for v in sub["tfidf"]] == [v for _, v in top]


def test_stratified_sample_deterministic_and_stratified(spark):
    from z_rad_spark.operators.text import stratified_sample

    docs = spark.range(3000).withColumnRenamed("id", "doc_id").withColumn(
        "lang", F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                             (F.col("doc_id") % 3 + 1).cast("int"))
    )
    rates = {"en": 0.2, "de": 0.8, "fr": 1.0}
    s1 = stratified_sample(docs, "lang", rates, key_col="doc_id").toPandas()
    s2 = stratified_sample(docs, "lang", rates, key_col="doc_id").toPandas()
    pd.testing.assert_frame_equal(
        s1.sort_values("doc_id").reset_index(drop=True),
        s2.sort_values("doc_id").reset_index(drop=True),
    )
    frac = s1.groupby("lang").size() / 1000
    assert abs(frac["en"] - 0.2) < 0.08
    assert abs(frac["de"] - 0.8) < 0.08
    assert frac["fr"] == 1.0  # rate >= 1 keeps every row
    # different salt -> a genuinely different draw
    s3 = stratified_sample(docs, "lang", rates, key_col="doc_id", salt="other").toPandas()
    assert set(s3["doc_id"]) != set(s1["doc_id"])


def test_top_tokens_matches_pandas(spark):
    from z_rad_spark.operators.text import top_tokens

    docs = pd.DataFrame(
        {
            "doc_id": range(6),
            "lang": ["en", "en", "en", "de", "de", "de"],
            "text": ["a b a", "b c", "a a", "x y", "y y", "x z y"],
        }
    )
    got = top_tokens(spark.createDataFrame(docs), k=2, group_col="lang").toPandas()
    en = got[got.lang == "en"].sort_values("rank")
    de = got[got.lang == "de"].sort_values("rank")
    assert list(en["token"]) == ["a", "b"] and list(en["n"]) == [4, 2]
    assert list(de["token"]) == ["y", "x"] and list(de["n"]) == [4, 2]


def test_winnow_shared_passage_guarantee(spark):
    """Winnowing's coverage guarantee: any passage of >= k + w - 1 shared
    tokens yields at least one COMMON fingerprint value between the two
    documents; disjoint texts share none."""
    from z_rad_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 = k + w - 1 tokens
    docs = spark.createDataFrame(
        [
            (0, f"one two {shared} three four five six"),
            (1, f"seven eight nine ten {shared} eleven"),
            (2, "completely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, k=3, w=4).toPandas()
    by_doc = {d: set(g["fp"]) for d, g in fp.groupby("doc_id")}
    assert by_doc[0] & by_doc[1], "shared passage must share a fingerprint"
    assert not (by_doc[0] & by_doc.get(2, set()))
    assert not (by_doc[1] & by_doc.get(2, set()))
    # selections are deterministic across recomputation
    fp2 = winnow_fingerprints(docs, k=3, w=4).toPandas()
    a = fp.sort_values(["doc_id", "pos", "fp"]).reset_index(drop=True)
    b = fp2.sort_values(["doc_id", "pos", "fp"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_winnow_w1_selects_every_gram(spark):
    """w=1 degenerates to 'every k-gram hash is a fingerprint' — the
    windowed fold must not build the descending sequence(j+1, j) that
    reads element_at(g, size+1) (an out-of-bounds error under ANSI)."""
    from z_rad_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    fp = winnow_fingerprints(docs, k=3, w=1).toPandas()
    # 5 tokens -> 3 k-grams, all selected at positions 1..3
    assert sorted(fp["pos"]) == [1, 2, 3]
    assert fp["fp"].nunique() == 3
    with pytest.raises(ValueError):
        winnow_fingerprints(docs, k=3, w=0)


def test_line_dedup_hand_computed(spark):
    """Three docs; the cookie-banner line appears in docs 0 and 1 (in
    different case/whitespace forms — the dedup key is the NORMALIZED
    line), one doc-internal repeat does NOT trip the doc-frequency rule,
    and doc 2 is untouched."""
    from z_rad_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (0, "unique zero\nCookie  Banner\nbody zero"),
            (1, "cookie banner\nbody one\nbody one"),
            (2, "all original\ncontent here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in line_dedup(docs).collect()}

    assert got[0]["clean_text"] == "unique zero\nbody zero"
    assert (got[0]["n_lines"], got[0]["n_removed"]) == (3, 1)
    # doc-internal duplicate 'body one' survives: df counts DISTINCT docs
    assert got[1]["clean_text"] == "body one\nbody one"
    assert (got[1]["n_lines"], got[1]["n_removed"]) == (3, 1)
    assert got[2]["clean_text"] == "all original\ncontent here"
    assert (got[2]["n_lines"], got[2]["n_removed"]) == (2, 0)


def test_line_dedup_threshold_and_all_removed(spark):
    """max_doc_freq=2 tolerates a 2-doc line; a doc whose every line is
    boilerplate comes back as the empty string, not NULL."""
    from z_rad_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(0, "pair\nshared\nown zero"), (1, "pair\nshared\nown one"), (2, "shared")],
        "doc_id long, text string",
    )
    got1 = {r["doc_id"]: r for r in line_dedup(docs, max_doc_freq=1).collect()}
    assert got1[2]["clean_text"] == "" and got1[2]["n_removed"] == 1
    got2 = {r["doc_id"]: r for r in line_dedup(docs, max_doc_freq=2).collect()}
    # 'pair' (2 docs) now tolerated; 'shared' (3 docs) still removed
    assert got2[0]["clean_text"] == "pair\nown zero"
    assert got2[0]["n_removed"] == 1
    assert got2[2]["clean_text"] == "" and got2[2]["n_removed"] == 1


def test_dup_span_stats_hand_computed(spark):
    """Shared 5-token passage under n=3 gives three overlapping
    duplicated grams whose merged cover is 5 tokens (3 + 1 + 1), not 9;
    a clean doc reports zeros; short docs (< n tokens) produce no grams
    but still appear in the output."""
    from z_rad_spark.operators.dedup import dup_span_stats

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (0, f"{shared} zero tail words here"),
            (1, f"one head {shared}"),
            (2, "totally unrelated content words"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dup_span_stats(docs, n=3, drop_frac=0.5).collect()}

    # doc 0: starts [1,2,3] -> covered 3 + 1 + 1 = 5 of 9 tokens
    assert (got[0]["n_dup_grams"], got[0]["covered_tokens"]) == (3, 5)
    assert got[0]["dup_frac"] == 5 / 9 and got[0]["drop_doc"] == 1
    # doc 1: starts [3,4,5] -> same merged cover, 5 of 7 tokens
    assert (got[1]["n_dup_grams"], got[1]["covered_tokens"]) == (3, 5)
    assert got[1]["drop_doc"] == 1
    assert (got[2]["n_dup_grams"], got[2]["covered_tokens"], got[2]["drop_doc"]) == (0, 0, 0)
    assert (got[3]["n_tokens"], got[3]["n_dup_grams"], got[3]["dup_frac"]) == (2, 0, 0.0)


def test_dup_span_stats_disjoint_spans_sum(spark):
    """Two duplicated grams further apart than n merge nothing: covered
    is exactly 2n."""
    from z_rad_spark.operators.dedup import dup_span_stats

    docs = spark.createDataFrame(
        [
            (0, "aa bb cc x1 x2 x3 x4 dd ee ff"),
            (1, "aa bb cc y1 y2 y3 y4 dd ee ff"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dup_span_stats(docs, n=3).collect()}
    # starts [1, 8] in both docs -> delta 7 > n -> covered = 3 + 3
    assert got[0]["covered_tokens"] == 6 and got[1]["covered_tokens"] == 6
    assert got[0]["n_dup_grams"] == 2


def _pq_numpy(E, codebooks):
    """Independent NumPy replay of PQ assignment (loops, not clever)."""
    import numpy as np

    m = len(codebooks)
    sub = len(codebooks[0][0])
    codes, errs = [], []
    for ev in E:
        cs, tot = [], 0.0
        for s in range(m):
            svec = ev[s * sub : (s + 1) * sub]
            d = [sum((a - b) * (a - b) for a, b in zip(svec, cw)) for cw in codebooks[s]]
            j = int(np.argmin(d))
            cs.append(j)
            tot += d[j]
        codes.append(cs)
        errs.append(tot)
    return codes, errs


def test_pq_codes_match_numpy_replay(spark):
    from z_rad_spark.operators.similarity import pq_codes

    E = [[float((i * j + i) % 5) - 1.5 for j in range(8)] for i in range(12)]
    df = spark.createDataFrame(
        [(i, e) for i, e in enumerate(E)], "vec_id long, embedding array<double>"
    )
    cbs = [
        [[0.0, 0.0, 1.0, 1.0], [2.0, 2.0, -1.0, 0.0], [1.0, -1.5, 0.5, 2.5], [-1.0, 3.0, 0.0, 1.0]],
        [[1.0, 1.0, 1.0, 1.0], [-1.5, 0.0, 2.0, 0.5], [0.0, 2.5, -1.0, 1.0], [3.0, 0.0, 0.0, -1.0]],
    ]
    got = pq_codes(df, m=2, k=4, codebooks=cbs).toPandas().sort_values("vec_id")
    codes, errs = _pq_numpy(E, cbs)
    assert got[["code0", "code1"]].values.tolist() == codes
    import numpy as np

    assert np.allclose(got["recon_err"], np.round(errs, 6), atol=2e-6)


def test_pq_sampled_codebooks_partition_invariant(spark):
    from z_rad_spark.operators.similarity import pq_codes

    E = [[float((i * 3 + j * j) % 7) for j in range(8)] for i in range(30)]
    df = spark.createDataFrame(
        [(i, e) for i, e in enumerate(E)], "vec_id long, embedding array<double>"
    )
    a = pq_codes(df.repartition(1), m=2, k=4).toPandas().sort_values("vec_id").reset_index(drop=True)
    b = pq_codes(df.repartition(7), m=2, k=4).toPandas().sort_values("vec_id").reset_index(drop=True)
    assert a.equals(b)


def test_pq_adc_matches_lookup_replay_and_recalls_self(spark):
    from z_rad_spark.operators.similarity import pq_adc_topk

    import numpy as np

    E = [[float((i * j + 2 * i) % 6) - 2.0 for j in range(8)] for i in range(15)]
    df = spark.createDataFrame(
        [(i, e) for i, e in enumerate(E)], "vec_id long, embedding array<double>"
    )
    cbs = [
        [[0.0, 0.0, 1.0, 1.0], [2.0, 2.0, -1.0, 0.0], [1.0, -1.5, 0.5, 2.5], [-1.0, 3.0, 0.0, 1.0]],
        [[1.0, 1.0, 1.0, 1.0], [-1.5, 0.0, 2.0, 0.5], [0.0, 2.5, -1.0, 1.0], [3.0, 0.0, 0.0, -1.0]],
    ]
    qs = df.where("vec_id < 3").selectExpr("vec_id as query_id", "embedding as query_vec")
    got = pq_adc_topk(df, qs, m=2, k=4, topk=15, codebooks=cbs).toPandas()
    codes, _ = _pq_numpy(E, cbs)
    for _, row in got.iterrows():
        q = E[int(row.query_id)]
        want = 0.0
        for s in range(2):
            sv = q[s * 4 : (s + 1) * 4]
            cw = cbs[s][codes[int(row.vec_id)][s]]
            want += sum((a - b) * (a - b) for a, b in zip(sv, cw))
        assert abs(row.approx_dist - round(want, 6)) < 2e-6
    # rank is dense 1..n per query, deterministic tie-break by vec_id
    for qid, grp in got.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
        assert grp.sort_values("rank")["approx_dist"].is_monotonic_increasing


def test_ivfpq_recall_and_candidate_restriction(spark):
    """IVF-PQ must (a) only return candidates from probed cells, (b)
    rank by the same ADC distance pq_adc_topk computes, and (c) with
    all cells probed + fine codebooks, recover the exact L2 top-1 for
    a query that coincides with a corpus vector."""
    from z_rad_spark.operators.similarity import ivfpq_topk, pq_adc_topk

    E = [[float((i * j + 2 * i) % 6) - 2.0 for j in range(8)] for i in range(20)]
    df = spark.createDataFrame(
        [(i, e) for i, e in enumerate(E)], "vec_id long, embedding array<double>"
    )
    qs = df.where("vec_id < 3").selectExpr("vec_id as query_id", "embedding as query_vec")
    cbs = [
        [[0.0, 0.0, 1.0, 1.0], [2.0, 2.0, -1.0, 0.0], [1.0, -1.5, 0.5, 2.5], [-1.0, 3.0, 0.0, 1.0]],
        [[1.0, 1.0, 1.0, 1.0], [-1.5, 0.0, 2.0, 0.5], [0.0, 2.5, -1.0, 1.0], [3.0, 0.0, 0.0, -1.0]],
    ]
    # all cells probed -> candidate set == full corpus == pure ADC ranking
    full = ivfpq_topk(
        df, qs, n_centroids=4, n_probe=4, m=2, k=4, topk=20, codebooks=cbs
    ).toPandas()
    adc = pq_adc_topk(df, qs, m=2, k=4, topk=20, codebooks=cbs).toPandas()
    lhs = full.sort_values(["query_id", "rank"]).reset_index(drop=True)
    rhs = adc.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert lhs.equals(rhs)

    # pruned probing returns a subset of the unpruned candidates, ranked
    # consistently (rank dense from 1, distances monotone)
    pruned = ivfpq_topk(
        df, qs, n_centroids=4, n_probe=1, m=2, k=4, topk=20, codebooks=cbs
    ).toPandas()
    full_pairs = set(map(tuple, full[["query_id", "vec_id"]].values.tolist()))
    assert set(map(tuple, pruned[["query_id", "vec_id"]].values.tolist())) <= full_pairs
    for _, grp in pruned.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
        assert grp.sort_values("rank")["approx_dist"].is_monotonic_increasing


def test_bm25_matches_naive_reference(spark):
    """BM25 scores must match a naive per-document Python computation
    (Robertson idf, Lucene k1/b defaults), ranks dense from 1 with the
    doc-id tiebreak, and docs containing no query term must be absent."""
    import math

    from z_rad_spark.operators.text import bm25_topk

    texts = [
        (0, "spark join join hash"),
        (1, "hash hash hash scan filter"),
        (2, "merge sort window"),
        (3, "nothing relevant here"),
        (4, "spark filter scan scan scan join"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    queries = [(0, ["hash", "join"]), (1, ["spark", "scan"])]
    got = bm25_topk(docs, queries, k1=1.2, b=0.75, topk=10).toPandas()

    toks = {i: t.split() for i, t in texts}
    N = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / N
    def score(q, d):
        s = 0.0
        for term in sorted(set(q)):
            tf = toks[d].count(term)
            if tf == 0:
                continue
            df = sum(1 for t in toks.values() if term in t)
            idf = math.log(1.0 + (N - df + 0.5) / (df + 0.5))
            dl = len(toks[d])
            s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        return s

    for (qid, terms), _ in zip(queries, range(2)):
        sub = got[got["query_id"] == qid].sort_values("rank")
        want = sorted(
            [(d, round(score(terms, d), 6)) for d in toks if score(terms, d) > 0],
            key=lambda p: (-p[1], p[0]),
        )
        assert list(sub["doc_id"]) == [d for d, _ in want]
        assert list(sub["score"]) == pytest.approx([s for _, s in want], abs=2e-6)
        assert list(sub["rank"]) == list(range(1, len(want) + 1))
    assert 3 not in set(got["doc_id"])  # no query term -> never retrieved


def test_rrf_fuse_matches_hand_computation(spark):
    """RRF score must equal 1/(60+r_lex) + 1/(60+r_dense) with a zero
    term for items missing from one list, ranked desc with id tiebreak."""
    from z_rad_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id long, doc_id long, rank long"
    )
    dense = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)], "query_id long, doc_id long, rank long"
    )
    got = (
        rrf_fuse([lex, dense], k=60.0, topk=10)
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    want = {
        11: 1.0 / 62 + 1.0 / 61,   # in both lists
        10: 1.0 / 61,              # lex only
        12: 1.0 / 63,              # lex only
        13: 1.0 / 62,              # dense only
    }
    order = sorted(want, key=lambda d: (-want[d], d))
    assert list(got["doc_id"]) == order
    assert list(got["rank"]) == [1, 2, 3, 4]
    for _, row in got.iterrows():
        assert row["rrf_score"] == pytest.approx(round(want[row["doc_id"]], 6), abs=1e-9)


def test_render_chat_template_order_and_nulls(spark):
    """Rendering must follow (ts, turn_idx) order, join turns with
    newlines, and render NULL role/text as empty strings."""
    import datetime as dt

    from z_rad_spark.operators.sessionize import render_chat_template

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("c1", 1, "assistant", "hi there", None, t0 + dt.timedelta(seconds=5)),
        ("c1", 0, "user", "hello", None, t0),
        ("c1", 2, None, None, None, t0 + dt.timedelta(seconds=9)),
        ("c2", 0, "user", "solo", None, t0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {r["conv_id"]: r for r in render_chat_template(df).collect()}
    want_c1 = (
        "<|im_start|>user\nhello<|im_end|>\n"
        "<|im_start|>assistant\nhi there<|im_end|>\n"
        "<|im_start|>\n<|im_end|>"
    )
    assert got["c1"]["rendered"] == want_c1
    assert got["c1"]["n_turns"] == 3 and got["c1"]["n_chars"] == len(want_c1)
    assert got["c2"]["rendered"] == "<|im_start|>user\nsolo<|im_end|>"


def test_cdc_chunk_partition_and_shift_resistance(spark):
    """Chunks must partition the token stream exactly; every chunk except
    the last must end at a boundary token with no interior boundary; and
    inserting a token must leave chunks after its neighborhood unchanged
    (the content-defined property fixed-size chunking lacks)."""
    import hashlib

    from z_rad_spark.operators.curation import cdc_chunk

    words = [f"w{i:03d}" for i in range(400)]
    text_a = " ".join(words)
    text_b = " ".join(words[:7] + ["INSERTED"] + words[7:])
    df = spark.createDataFrame(
        [(0, text_a), (1, text_b)], "doc_id long, text string"
    )
    got = cdc_chunk(df, boundary_bits=3).toPandas()

    def boundary(tok):
        return hashlib.md5(tok.encode()).hexdigest()[0] < "2"

    for doc_id, text in ((0, text_a), (1, text_b)):
        sub = got[got["doc_id"] == doc_id].sort_values("chunk_idx")
        toks = text.lower().split()
        assert list(sub["chunk_idx"]) == list(range(len(sub)))
        assert " ".join(sub["chunk"]) == " ".join(toks)   # exact partition
        assert list(sub["n_tokens"]) == [len(c.split()) for c in sub["chunk"]]
        for _, row in sub.iloc[:-1].iterrows():
            ctoks = row["chunk"].split()
            assert boundary(ctoks[-1])                    # ends at a boundary
            assert not any(boundary(t) for t in ctoks[:-1])

    a = list(got[got["doc_id"] == 0].sort_values("chunk_idx")["chunk"])
    b = list(got[got["doc_id"] == 1].sort_values("chunk_idx")["chunk"])
    # all chunks strictly after the edited neighborhood are identical
    edited_b = [c for c in b if "inserted" in c]
    assert len(edited_b) == 1
    idx = b.index(edited_b[0])
    assert b[idx + 1:] == a[a.index(b[idx + 1]):]


def test_pack_sequences_tiles_the_token_stream(spark):
    """Packing invariants: per doc the slices are contiguous and sum to
    its token count; per pack the slices tile [0, L) without overlap and
    every pack except the last is exactly full; straddling docs split."""
    from z_rad_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(i, 3 + (i * 7) % 12) for i in range(25)], "doc_id long, n_tokens long"
    )
    L = 10
    got = pack_sequences(docs, context_len=L).toPandas()
    want_total = sum(3 + (i * 7) % 12 for i in range(25))

    per_doc = got.groupby("doc_id")
    for doc_id, g in per_doc:
        g = g.sort_values("pack_id")
        n = 3 + (doc_id * 7) % 12
        assert g["n_toks"].sum() == n
        assert list(g["doc_offset"]) == [0] + list(g["n_toks"].cumsum())[:-1]
        assert (g["n_toks"] > 0).all()
        assert list(g["pack_id"]) == list(range(g["pack_id"].min(), g["pack_id"].max() + 1))

    last_pack = got["pack_id"].max()
    for pack_id, g in got.groupby("pack_id"):
        g = g.sort_values("pack_offset")
        starts, lens = list(g["pack_offset"]), list(g["n_toks"])
        assert starts[0] == 0
        for s0, l0, s1 in zip(starts, lens, starts[1:]):
            assert s0 + l0 == s1            # no gaps, no overlap
        total = starts[-1] + lens[-1]
        assert total == L if pack_id != last_pack else total <= L
    assert got["n_toks"].sum() == want_total
    assert (got.groupby("doc_id").size() > 1).any()   # someone straddles


def test_retrieval_metrics_hand_computed(spark):
    """recall@k and rr@k against hand-built rankings, including a query
    whose truth top-1 is missed entirely."""
    from z_rad_spark.operators.similarity import retrieval_metrics

    truth = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3),
         (1, 20, 1), (1, 21, 2), (1, 22, 3)],
        "query_id long, vec_id long, rank long",
    )
    result = spark.createDataFrame(
        [(0, 11, 1), (0, 10, 2), (0, 99, 3),     # top-1 found at rank 2
         (1, 21, 1), (1, 98, 2), (1, 97, 3)],    # top-1 (20) missed
        "query_id long, vec_id long, rank long",
    )
    got = {r["query_id"]: r for r in retrieval_metrics(result, truth, k=3).collect()}
    assert got[0]["n_truth"] == 3 and got[0]["n_hit"] == 2
    assert got[0]["recall_at_k"] == pytest.approx(2 / 3, abs=1e-6)
    assert got[0]["rr_at_k"] == pytest.approx(0.5)
    assert got[1]["n_hit"] == 1
    assert got[1]["recall_at_k"] == pytest.approx(1 / 3, abs=1e-6)
    assert got[1]["rr_at_k"] == 0.0


def test_mine_hard_negatives_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.similarity import mine_hard_negatives

    rng = np.random.default_rng(97)
    x = rng.standard_normal((60, 16))
    labels = rng.integers(0, 4, 60)
    pdf = pd.DataFrame(
        {
            "vec_id": range(60),
            "embedding": list(map(list, x)),
            "label": labels,
        }
    )
    vecs = spark.createDataFrame(pdf)
    queries = vecs.where("vec_id < 4").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec", "label AS query_label"
    )
    got = mine_hard_negatives(vecs, queries, k=3).toPandas()
    norms = np.linalg.norm(x, axis=1)
    for q in range(4):
        cos = (x @ x[q]) / (norms * norms[q])
        mask = (labels != labels[q]) & (np.arange(60) != q)
        cand = np.where(mask)[0]
        order = cand[np.lexsort((cand, -cos[cand]))][:3]
        sub = got[got["query_id"] == q].sort_values("rank")
        assert list(sub["vec_id"]) == list(order)
        # no same-label or self negatives, ever
        assert (sub["neg_label"].to_numpy() != labels[q]).all()
        assert (sub["vec_id"].to_numpy() != q).all()


def test_filter_hard_negatives_equals_exact_on_full_pool(spark):
    """The scale path (ANN pool -> label filter -> re-rank) must equal
    the exact miner whenever the pool contains the full ranking — the
    equivalence that justifies composing it with ivf/ivfpq/lsh top-k."""
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.similarity import (
        cosine_topk,
        filter_hard_negatives,
        mine_hard_negatives,
    )

    rng = np.random.default_rng(101)
    x = rng.standard_normal((40, 8))
    labels = rng.integers(0, 3, 40)
    pdf = pd.DataFrame(
        {"vec_id": range(40), "embedding": list(map(list, x)), "label": labels}
    )
    vecs = spark.createDataFrame(pdf)
    queries = vecs.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec", "label AS query_label"
    )
    exact = (
        mine_hard_negatives(vecs, queries, k=4)
        .select("query_id", "vec_id", "rank")
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pool = cosine_topk(vecs, queries.drop("query_label"), k=40)
    composed = (
        filter_hard_negatives(
            pool,
            vecs.select("vec_id", "label"),
            queries.selectExpr("query_id", "query_label AS label"),
            k=4,
        )
        .select("query_id", "vec_id", "rank")
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert exact.equals(composed)


def test_random_project_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.similarity import random_project

    rng = np.random.default_rng(103)
    x = rng.standard_normal((50, 16))
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(50), "embedding": list(map(list, x))})
    )
    got = (
        random_project(df, dim=16, out_dim=4, seed=29)
        .select("vec_id", "p1", "p2", "p3", "p4")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    planes = np.random.default_rng(29).standard_normal((4, 16))
    want = (x @ planes.T) / np.sqrt(4)
    assert np.abs(got[["p1", "p2", "p3", "p4"]].to_numpy() - want).max() < 1e-12


def test_fit_pca_and_project_match_numpy(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.similarity import fit_pca, pca_project

    rng = np.random.default_rng(107)
    # anisotropic cloud so the principal axes are well separated
    x = rng.standard_normal((120, 12)) * np.linspace(5, 0.1, 12)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(120), "embedding": list(map(list, x))})
    )
    mean, comps, ev = fit_pca(df, dim=12, k=3)
    assert np.abs(np.array(mean) - x.mean(axis=0)).max() < 1e-9
    # eigenvalues descend and match numpy's (cov rounded 6dp upstream)
    assert ev[0] >= ev[1] >= ev[2]
    C = np.cov(x, rowvar=False, bias=True)
    vals = np.sort(np.linalg.eigvalsh(C))[::-1][:3]
    assert np.abs(np.array(ev) - vals).max() < 1e-4
    # projection equals the centered matrix product exactly
    got = (
        pca_project(df, mean, comps)
        .select("vec_id", "pc1", "pc2", "pc3")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    want = (x - np.array(mean)) @ np.array(comps).T
    assert np.abs(got[["pc1", "pc2", "pc3"]].to_numpy() - want).max() < 1e-12
    # sign convention: each component's largest-|coeff| entry is positive
    for c in comps:
        assert c[int(np.argmax(np.abs(c)))] > 0


def test_mahalanobis_score_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.similarity import fit_pca, mahalanobis_score

    rng = np.random.default_rng(109)
    x = rng.standard_normal((150, 10)) * np.linspace(4, 0.5, 10)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(150), "embedding": list(map(list, x))})
    )
    mean, comps, ev = fit_pca(df, dim=10, k=10)
    got = (
        mahalanobis_score(df, mean, comps, ev)
        .select("vec_id", "maha2")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    # full-rank fitted basis: d^2 = (x-m)^T C^-1 (x-m) up to the 6dp
    # covariance rounding the fit inherits
    C = np.cov(x, rowvar=False, bias=True)
    Ci = np.linalg.inv(C)
    xc = x - x.mean(axis=0)
    want = np.einsum("ij,jk,ik->i", xc, Ci, xc)
    assert np.abs(got["maha2"].to_numpy() - want).max() < 1e-3
    # a gross outlier scores far above the bulk
    far = x.copy()
    far[0] = 50.0
    df2 = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(150), "embedding": list(map(list, far))})
    )
    got2 = (
        mahalanobis_score(df2, mean, comps, ev)
        .select("vec_id", "maha2")
        .toPandas()
        .set_index("vec_id")["maha2"]
    )
    assert got2[0] > 10 * got2[1:].max()


def test_embedding_stats_flags_corrupt_vectors(spark):
    import math

    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.similarity import embedding_stats

    pdf = pd.DataFrame(
        {
            "vec_id": range(5),
            "embedding": [
                [1.0, 2.0, 2.0],            # norm 3, ok
                [0.0, 0.0, 0.0],            # all-zero -> not ok
                [float("nan"), 1.0, 1.0],   # NaN -> not ok, norm NULL
                [float("inf"), 1.0, 1.0],   # Inf -> not ok
                [3.0, 4.0, 0.0],            # norm 5, one zero, ok
            ],
        }
    )
    got = (
        embedding_stats(spark.createDataFrame(pdf), dim=3)
        .select("vec_id", "dim", "norm", "n_zero", "n_nonfinite", "ok")
        .toPandas()
        .set_index("vec_id")
    )
    assert abs(got.loc[0, "norm"] - 3.0) < 1e-12
    assert bool(got.loc[0, "ok"]) is True
    assert got.loc[1, "n_zero"] == 3 and bool(got.loc[1, "ok"]) is False
    assert got.loc[2, "n_nonfinite"] == 1 and pd.isna(got.loc[2, "norm"])
    assert bool(got.loc[2, "ok"]) is False
    assert got.loc[3, "n_nonfinite"] == 1 and bool(got.loc[3, "ok"]) is False
    assert abs(got.loc[4, "norm"] - 5.0) < 1e-12 and bool(got.loc[4, "ok"]) is True


def test_trending_tokens_doc_frequency_and_tiebreak(spark):
    import pandas as pd

    from z_rad_spark.operators.text import trending_tokens

    pdf = pd.DataFrame(
        {
            "doc_id": range(4),
            "ts": pd.to_datetime(
                ["2024-01-01 01:00", "2024-01-01 02:00",
                 "2024-01-01 03:00", "2024-01-02 01:00"]
            ),
            "text": [
                "spam spam spam alpha",   # spam counts ONCE (doc frequency)
                "alpha beta",
                "beta gamma",
                "only day two",
            ],
        }
    )
    got = trending_tokens(spark.createDataFrame(pdf), k=2).toPandas()
    d1 = got[got["day"] == pd.Timestamp("2024-01-01").date()].sort_values("rank")
    # day 1: alpha=2, beta=2, gamma=1, spam=1 -> top2 alpha, beta (tie ->
    # token asc)
    assert list(d1["token"]) == ["alpha", "beta"]
    assert list(d1["n_docs"]) == [2, 2]
    d2 = got[got["day"] == pd.Timestamp("2024-01-02").date()].sort_values("rank")
    assert list(d2["token"]) == ["day", "only"]


def test_source_concentration_hhi_hand_check(spark):
    import pandas as pd

    from z_rad_spark.operators.curation import source_concentration

    pdf = pd.DataFrame(
        {
            "doc_id": range(10),
            "lang": ["en"] * 6 + ["de"] * 4,
            # en: s0 x4, s1 x2 -> hhi = (16+4)/36; de: one source -> hhi 1
            "source": ["s0"] * 4 + ["s1"] * 2 + ["s9"] * 4,
            "text": ["x"] * 10,
        }
    )
    got = (
        source_concentration(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("lang")
    )
    assert got.loc["en", "n_docs"] == 6 and got.loc["en", "n_sources"] == 2
    assert abs(got.loc["en", "hhi"] - 20.0 / 36.0) < 1e-12
    assert abs(got.loc["en", "eff_sources"] - 36.0 / 20.0) < 1e-12
    assert abs(got.loc["en", "top_share"] - 4.0 / 6.0) < 1e-12
    assert got.loc["de", "hhi"] == 1.0 and got.loc["de", "eff_sources"] == 1.0
    assert got.loc["de", "top_share"] == 1.0


def test_pmi_collocations_hand_check(spark):
    import math

    import pandas as pd

    from z_rad_spark.operators.text import pmi_collocations

    # 4 docs, one lang: "new york" always adjacent; "the the" never.
    pdf = pd.DataFrame(
        {
            "doc_id": range(4),
            "lang": ["en"] * 4,
            "text": [
                "new york is the big apple",
                "the new york subway",
                "i love new york",
                "the weather the rain",
            ],
        }
    )
    got = pmi_collocations(
        spark.createDataFrame(pdf), k=5, min_count=2
    ).toPandas()
    ny = got[got["bigram"] == "new york"].iloc[0]
    # counts: c_xy("new york")=3, c("new")=3, c("york")=3, M=18, N=14
    assert ny["n"] == 3
    want = math.log2((3 * 18 * 18) / ((3 * 3) * 14))
    assert abs(ny["pmi"] - want) < 1e-12
    # rank 1 within the lang and nothing below min_count surfaced
    assert int(ny["rank"]) == 1
    assert (got["n"] >= 2).all()


def test_ngram_novelty_hand_check_and_short_docs(spark):
    import pandas as pd

    from z_rad_spark.operators.text import ngram_novelty

    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 5,
            "ts": pd.to_datetime(
                ["2024-01-01 05:00", "2024-01-01 09:00",
                 "2024-01-02 05:00", "2024-01-02 06:00", "2024-01-02 07:00"]
            ),
            "text": [
                "a b c",        # day1 grams: {a b, b c}
                "a b",          # day1 dup of "a b"
                "a b x",        # day2: "a b" old, "b x" new
                "solo",         # 1 token -> no grams (regression: Spark
                                # sequence(1,0) is DESCENDING, must not error)
                "",             # empty text -> no grams
            ],
        }
    )
    got = (
        ngram_novelty(spark.createDataFrame(pdf), n=2)
        .toPandas()
        .set_index("day")
        .sort_index()
    )
    import datetime

    d1 = got.loc[datetime.date(2024, 1, 1)]
    d2 = got.loc[datetime.date(2024, 1, 2)]
    assert d1["n_grams"] == 2 and d1["n_new"] == 2 and d1["novelty"] == 1.0
    assert d2["n_grams"] == 2 and d2["n_new"] == 1
    assert abs(d2["novelty"] - 0.5) < 1e-12


def test_containment_detects_subsumption_jaccard_misses(spark):
    from z_rad_spark.operators.dedup import ngram_containment

    short = "alpha beta gamma delta epsilon"
    long_doc = short + " " + " ".join(f"word{i}" for i in range(40))
    docs = pd.DataFrame({"doc_id": [0, 1], "text": [short, long_doc]})
    got = ngram_containment(spark.createDataFrame(docs), n=3).toPandas()
    row = got[(got.id_a == 0) & (got.id_b == 1)].iloc[0]
    # every shingle of the short doc appears in the long one
    assert row.contain_a == 1.0
    assert row.containment == 1.0
    assert row.contain_b < 0.15
    # manual parity: shingle sets
    def shingles(t):
        w = t.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sa, sb = shingles(short), shingles(long_doc)
    inter = len(sa & sb)
    assert np.isclose(row.contain_a, inter / len(sa), atol=1e-12)
    assert np.isclose(row.contain_b, inter / len(sb), atol=1e-12)


def test_containment_threshold_filters(spark):
    from z_rad_spark.operators.dedup import ngram_containment

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "one two three four five",
                "one two three four five six",
                "totally different content with other words",
            ],
        }
    )
    got = ngram_containment(spark.createDataFrame(docs), n=3, threshold=0.9).toPandas()
    assert set(zip(got.id_a, got.id_b)) == {(0, 1)}


def test_dup_survivors_longest_then_min_id(spark):
    from z_rad_spark.operators.dedup import dup_survivors

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                base,                      # cluster with 1; shorter
                base + " extra tail",      # longest -> survivor
                "completely different words entirely unrelated content here now",
                "another singleton document with its own distinct content words",
            ],
        }
    )
    got = (
        dup_survivors(spark.createDataFrame(docs), n=3, n_hashes=8, band_size=4)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # 0 and 1 cluster together; survivor is 1 (more tokens)
    assert got.loc[0].cluster_id == got.loc[1].cluster_id == 0
    assert got.loc[0].survivor_doc_id == 1 and not got.loc[0].is_survivor
    assert got.loc[1].is_survivor
    assert got.loc[0].n_members == 2
    # singletons self-cluster and self-survive
    for d in (2, 3):
        assert got.loc[d].cluster_id == d
        assert got.loc[d].is_survivor
        assert got.loc[d].n_members == 1


def test_dup_survivors_tie_breaks_min_id(spark):
    from z_rad_spark.operators.dedup import dup_survivors

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = pd.DataFrame({"doc_id": [5, 9], "text": [base, base]})
    got = dup_survivors(spark.createDataFrame(docs), n=3, n_hashes=8, band_size=4).toPandas()
    assert (got.survivor_doc_id == 5).all()
    assert got.set_index("doc_id").loc[5].is_survivor
    assert not got.set_index("doc_id").loc[9].is_survivor


def test_mmr_diversifies_near_duplicate_hits(spark):
    from z_rad_spark.operators.similarity import cosine_topk, mmr_topk

    # query q; a and a2 nearly identical (both very relevant); b diverse
    # but slightly less relevant. Plain cosine ranks (a, a2, ...);
    # MMR must rank (a, b, ...) because a2 is redundant.
    q = [1.0, 0.0, 0.0, 0.0]
    a = [0.99, 0.1, 0.0, 0.0]
    a2 = [0.992, 0.1, 0.0, 0.01]
    b = [0.8, 0.0, 0.6, 0.0]
    fill = [[0.1, 0.9, 0.2, 0.1], [0.0, 0.5, 0.5, 0.7]]
    pdf = pd.DataFrame(
        {"vec_id": range(5), "embedding": [a, a2, b] + fill}
    )
    vecs = spark.createDataFrame(pdf)
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "query_vec": [q]})
    )
    plain = cosine_topk(vecs, qdf, k=3).toPandas().sort_values("rank")
    assert list(plain.vec_id[:2]) in ([0, 1], [1, 0])
    got = mmr_topk(vecs, qdf, k=3, pool=5, lam=0.5).toPandas().sort_values("mmr_rank")
    assert got.vec_id.iloc[0] in (0, 1)      # rank 1 = argmax relevance
    assert got.vec_id.iloc[1] == 2           # rank 2 skips the near-dup
    assert len(got) == 3
    assert got.vec_id.is_unique
    # scores strictly ordered within the greedy path is NOT guaranteed
    # (later picks can score higher than earlier against different
    # selected sets), but rank-1's score must be lam * its relevance
    assert np.isclose(got.score.iloc[0], 0.5 * got.rel.iloc[0], atol=1e-12)


def test_mmr_lambda_one_matches_cosine_order(spark):
    from z_rad_spark.operators.similarity import cosine_topk, mmr_topk

    rng = np.random.default_rng(9)
    vecs_np = rng.standard_normal((30, 8))
    pdf = pd.DataFrame({"vec_id": range(30), "embedding": [list(v) for v in vecs_np]})
    vecs = spark.createDataFrame(pdf)
    qdf = vecs.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plain = cosine_topk(vecs, qdf, k=4).toPandas()
    got = mmr_topk(vecs, qdf, k=4, pool=10, lam=1.0).toPandas()
    for qid in (0, 1):
        p = plain[plain.query_id == qid].sort_values("rank").vec_id.tolist()
        m = got[got.query_id == qid].sort_values("mmr_rank").vec_id.tolist()
        assert p == m


def test_ndcg_hand_computed(spark):
    import math

    from z_rad_spark.operators.similarity import ndcg_at_k

    # truth top-3: items 10, 11, 12 ; result top-3: 10, 99, 12
    res = spark.createDataFrame(
        pd.DataFrame({"query_id": [0, 0, 0], "vec_id": [10, 99, 12], "rank": [1, 2, 3]})
    )
    tru = spark.createDataFrame(
        pd.DataFrame({"query_id": [0, 0, 0], "vec_id": [10, 11, 12], "rank": [1, 2, 3]})
    )
    got = ndcg_at_k(res, tru, k=3).toPandas().iloc[0]
    w = [1 / math.log2(i + 1) for i in (1, 2, 3)]
    dcg = w[0] + w[2]          # hits at ranks 1 and 3
    idcg = sum(w)
    assert got.n_truth == 3
    assert np.isclose(got.dcg, dcg, atol=1e-12)
    assert np.isclose(got.idcg, idcg, atol=1e-12)
    assert np.isclose(got.ndcg, dcg / idcg, atol=1e-12)


def test_ndcg_perfect_and_zero(spark):
    from z_rad_spark.operators.similarity import ndcg_at_k

    tru = spark.createDataFrame(
        pd.DataFrame({"query_id": [0] * 3 + [1] * 3, "vec_id": [1, 2, 3, 4, 5, 6], "rank": [1, 2, 3] * 2})
    )
    # query 0: perfect; query 1: disjoint
    res = spark.createDataFrame(
        pd.DataFrame({"query_id": [0] * 3 + [1] * 3, "vec_id": [1, 2, 3, 7, 8, 9], "rank": [1, 2, 3] * 2})
    )
    got = ndcg_at_k(res, tru, k=3).toPandas().set_index("query_id")
    assert np.isclose(got.loc[0].ndcg, 1.0, atol=1e-12)
    assert got.loc[1].ndcg == 0.0


def test_flag_retries_burst_semantics(spark):
    from z_rad_spark.operators.dedup import flag_retries

    t0 = pd.Timestamp("2024-01-01")
    rows = [
        # burst of 3 identical within 60s: head kept, two retries
        ("c0", 0, t0, "hello there"),
        ("c0", 1, t0 + pd.Timedelta(seconds=10), "hello there"),
        ("c0", 2, t0 + pd.Timedelta(seconds=50), "Hello   THERE"),  # normalizes equal
        # same content far later: new burst head, NOT a retry
        ("c0", 3, t0 + pd.Timedelta(hours=2), "hello there"),
        # different content interleaved: never a retry
        ("c0", 4, t0 + pd.Timedelta(seconds=20), "something else"),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "text"])
    got = (
        flag_retries(spark.createDataFrame(pdf), window_seconds=60.0)
        .toPandas()
        .set_index("turn_idx")
        .sort_index()
    )
    assert not got.loc[0].is_retry
    assert got.loc[1].is_retry
    assert got.loc[2].is_retry          # within 60s of turn 1 (same hash)
    assert not got.loc[3].is_retry      # 2h later: new burst
    assert not got.loc[4].is_retry


def test_flag_retries_cross_conversation_independent(spark):
    from z_rad_spark.operators.dedup import flag_retries

    t0 = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        [
            ("a", 0, t0, "same msg"),
            ("b", 0, t0 + pd.Timedelta(seconds=5), "same msg"),
        ],
        columns=["conv_id", "turn_idx", "ts", "text"],
    )
    got = flag_retries(spark.createDataFrame(pdf), window_seconds=60.0).toPandas()
    assert not got.is_retry.any()       # retries never cross conversations


def test_topic_boundaries_fire_on_vocabulary_shift(spark):
    from z_rad_spark.operators.sessionize import with_topic_boundaries

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    # 6 turns about topic A, then 6 about topic B (disjoint vocab)
    a = ["alpha beta gamma", "beta gamma alpha", "gamma alpha beta"]
    b = ["delta epsilon zeta", "epsilon zeta delta", "zeta delta epsilon"]
    for i in range(12):
        text = a[i % 3] if i < 6 else b[i % 3]
        rows.append(("c0", i, t0 + pd.Timedelta(minutes=i), text))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "text"])
    got = (
        with_topic_boundaries(spark.createDataFrame(pdf), k=3, threshold=0.15)
        .toPandas()
        .set_index("turn_idx")
        .sort_index()
    )
    # the boundary after turn 5 separates disjoint vocab: cohesion 0
    assert got.loc[5].cohesion == 0.0 and got.loc[5].is_boundary
    # a boundary fully inside topic A sees identical sets: cohesion 1
    assert got.loc[2].cohesion == 1.0 and not got.loc[2].is_boundary
    # one topic-B turn leaking into the right block halves cohesion
    assert got.loc[3].cohesion == 0.5 and not got.loc[3].is_boundary
    # edges with incomplete frames: NULL cohesion, never fire
    assert pd.isna(got.loc[0].cohesion) and not got.loc[0].is_boundary
    assert pd.isna(got.loc[11].cohesion) and not got.loc[11].is_boundary


def test_topic_boundaries_jaccard_hand_computed(spark):
    from z_rad_spark.operators.sessionize import with_topic_boundaries

    t0 = pd.Timestamp("2024-01-01")
    texts = ["a b", "b c", "c d", "d e", "e f", "f g"]
    pdf = pd.DataFrame(
        [("c0", i, t0 + pd.Timedelta(minutes=i), texts[i]) for i in range(6)],
        columns=["conv_id", "turn_idx", "ts", "text"],
    )
    got = (
        with_topic_boundaries(spark.createDataFrame(pdf), k=3, threshold=0.5)
        .toPandas()
        .set_index("turn_idx")
    )
    # boundary after turn 2: left = {a,b,c,d}, right = {d,e,f,g}
    assert np.isclose(got.loc[2].cohesion, 1 / 7, atol=1e-12)
    assert got.loc[2].is_boundary


def test_render_with_loss_spans_slices_assistant_text(spark):
    from z_rad_spark.operators.sessionize import render_with_loss_spans

    t0 = pd.Timestamp("2024-01-01")
    rows = [
        ("c0", 0, t0, "user", "hello there"),
        ("c0", 1, t0 + pd.Timedelta(minutes=1), "assistant", "hi, how can I help?"),
        ("c0", 2, t0 + pd.Timedelta(minutes=2), "user", "what is 2+2"),
        ("c0", 3, t0 + pd.Timedelta(minutes=3), "assistant", "4"),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role", "text"])
    got = render_with_loss_spans(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert got.n_mask_spans == 2
    rendered = got.rendered
    assert got.n_chars == len(rendered)
    texts = []
    for span in got.spans.split(","):
        s, e = map(int, span.split("-"))
        texts.append(rendered[s:e])
    assert texts == ["hi, how can I help?", "4"]
    assert got.mask_chars == len(texts[0]) + len(texts[1])
    # spans never cover the user turns or the tags
    assert "hello" not in "".join(texts)


def test_render_with_loss_spans_no_assistant(spark):
    from z_rad_spark.operators.sessionize import render_with_loss_spans

    pdf = pd.DataFrame(
        [("c0", 0, pd.Timestamp("2024-01-01"), "user", "just me")],
        columns=["conv_id", "turn_idx", "ts", "role", "text"],
    )
    got = render_with_loss_spans(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert got.n_mask_spans == 0 and got.mask_chars == 0 and got.spans == ""


def test_incremental_dedup_finds_cross_side_near_dups_only(spark):
    from z_rad_spark.operators.dedup import incremental_dup_candidates

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    base,
                    base + " slightly different ending",
                    "completely different words entirely unrelated content here now",
                ],
            }
        )
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101],
                "text": [
                    base + " extra",                       # near-dup of 0 (and 1)
                    "fresh unseen content nothing like the corpus at all folks",
                ],
            }
        )
    )
    got = incremental_dup_candidates(
        new, corpus, n=3, n_hashes=8, band_size=4
    ).toPandas()
    pairs = set(zip(got.new_id, got.corpus_id))
    assert (100, 0) in pairs
    # the fresh doc matches nothing
    assert not any(nid == 101 for nid, _ in pairs)
    # never within-side pairs
    assert (got.new_id >= 100).all() and (got.corpus_id < 100).all()


def test_loop_detection_flags_looping_doc(spark):
    from z_rad_spark.operators.dedup import loop_detection

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "stuck in a loop stuck in a loop stuck in a loop",  # loops
                "a perfectly normal sentence with unique words only here",
                "x",                                                 # < n words
            ],
        }
    )
    got = loop_detection(spark.createDataFrame(docs), n=3).toPandas().set_index("doc_id")
    r0 = got.loc[0]
    # 12 words -> 10 3-gram slots; 'stuck in a' and 'in a loop' occur 3x;
    # tie-break picks the lexicographically smaller gram
    assert r0.max_repeat == 3
    assert r0.top_gram == "in a loop"
    assert np.isclose(r0.loop_frac, 3 / 10)
    r1 = got.loc[1]
    assert r1.max_repeat == 1
    r2 = got.loc[2]
    assert r2.n_grams == 0 and r2.max_repeat == 0 and r2.top_gram is None


def test_dialog_acts_heuristics(spark):
    from z_rad_spark.operators.sessionize import dialog_act_rates, with_dialog_acts

    t0 = pd.Timestamp("2024-01-01")
    rows = [
        ("c0", 0, t0, "user", "what is the weather"),          # interrogative word
        ("c0", 1, t0 + pd.Timedelta(minutes=1), "assistant", "It is sunny today"),
        ("c0", 2, t0 + pd.Timedelta(minutes=2), "user", "tell me more ?"),   # trailing ?
        ("c0", 3, t0 + pd.Timedelta(minutes=3), "user", "write a poem"),     # imperative
        ("c0", 4, t0 + pd.Timedelta(minutes=4), "assistant", "Here you go"),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role", "text"])
    tagged = with_dialog_acts(spark.createDataFrame(pdf)).toPandas().set_index("turn_idx")
    assert tagged.loc[0].dialog_act == "question"
    assert tagged.loc[1].dialog_act == "statement"
    assert tagged.loc[2].dialog_act == "question"
    assert tagged.loc[3].dialog_act == "command"
    assert tagged.loc[4].dialog_act == "statement"
    rates = dialog_act_rates(spark.createDataFrame(pdf)).toPandas().iloc[0]
    assert rates.n_question == 2 and rates.n_command == 1
    assert np.isclose(rates.question_rate, 2 / 5)


def test_weighted_sample_respects_probabilities(spark):
    import hashlib

    from z_rad_spark.operators.dedup import weighted_sample

    pdf = pd.DataFrame(
        {
            "doc_id": range(400),
            # deterministic spread of keep rates: 0.0, 0.25, 0.5, 1.0
            "w": [(0.0, 0.25, 0.5, 1.0)[i % 4] for i in range(400)],
        }
    )
    got = weighted_sample(spark.createDataFrame(pdf), "w").toPandas()
    # exact endpoint behavior
    assert not got[got.w == 0.0].keep.any()
    assert got[got.w == 1.0].keep.all()
    # intermediate rates land near their expectation (md5 uniformity)
    r25 = got[got.w == 0.25].keep.mean()
    r50 = got[got.w == 0.5].keep.mean()
    assert 0.1 < r25 < 0.45
    assert 0.3 < r50 < 0.7
    # reproducible: u is the documented salted-md5 uniform
    row = got.iloc[0]
    want_u = int(hashlib.md5(f"w1|{row.doc_id}".encode()).hexdigest()[:8], 16) / 16**8
    assert abs(row.u - want_u) < 1e-15
    # stable across recomputation
    again = weighted_sample(spark.createDataFrame(pdf), "w").toPandas()
    assert (got.sort_values("doc_id").keep.values == again.sort_values("doc_id").keep.values).all()


def test_role_token_ratios(spark):
    from z_rad_spark.operators.profile import role_token_ratios

    t0 = pd.Timestamp("2024-01-01")
    rows = [
        ("c0", 0, t0, "user", "short q"),
        ("c0", 1, t0 + pd.Timedelta(minutes=1), "assistant",
         "a much longer reply with many more tokens here"),
        ("c1", 0, t0, "assistant", "no user at all"),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role", "text"])
    got = role_token_ratios(spark.createDataFrame(pdf)).toPandas().set_index("conv_id")
    c0 = got.loc["c0"]
    assert c0.tokens_den == 2 and c0.tokens_num == 9
    assert np.isclose(c0.token_ratio, 9 / 2)
    c1 = got.loc["c1"]
    assert c1.tokens_den == 0 and pd.isna(c1.token_ratio)


def test_template_groups_detects_shared_prefix(spark):
    from z_rad_spark.operators.dedup import template_groups

    prefix = "dear customer thank you for your recent order with"
    pdf = pd.DataFrame(
        {
            "doc_id": range(5),
            "text": [
                prefix + " widget a",
                prefix + " widget b and some extra words",
                prefix + " gadget c",
                "completely unrelated document text here",
                prefix + " widget a",  # same prefix, DIFFERENT source
            ],
            "source": ["s0", "s0", "s0", "s0", "s1"],
        }
    )
    got = (
        template_groups(spark.createDataFrame(pdf), prefix_tokens=8, min_group=3)
        .toPandas()
        .set_index("doc_id")
    )
    # docs 0-2 share (s0, 8-token prefix) -> templated
    assert got.loc[0].template_size == 3 and got.loc[0].is_templated
    assert got.loc[1].is_templated and got.loc[2].is_templated
    assert got.loc[3].template_size == 1 and not got.loc[3].is_templated
    # same prefix under another source is its own group of 1
    assert got.loc[4].template_size == 1 and not got.loc[4].is_templated


def test_rank_biased_overlap_hand_computed(spark):
    import numpy as np
    import pandas as pd

    from z_rad_spark.operators.similarity import rank_biased_overlap

    # q1: identical rankings -> every X_d = d, rbo = (1-p) sum p^(d-1)
    # q2: disjoint rankings -> rbo = 0
    # q3: reversed top-3 (a=[1,2,3], b=[3,2,1]) -> X_1=0, X_2=0, X_3=3
    a_rows = [(1, i, i) for i in range(1, 4)]
    a_rows += [(2, 10 + i, i) for i in range(1, 4)]
    a_rows += [(3, i, i) for i in range(1, 4)]
    b_rows = [(1, i, i) for i in range(1, 4)]
    b_rows += [(2, 20 + i, i) for i in range(1, 4)]
    b_rows += [(3, 4 - i, i) for i in range(1, 4)]
    cols = ["query_id", "doc_id", "rank"]
    a = spark.createDataFrame(pd.DataFrame(a_rows, columns=cols))
    b = spark.createDataFrame(pd.DataFrame(b_rows, columns=cols))
    p = 0.9
    got = (
        rank_biased_overlap(a, b, p=p, k=3)
        .toPandas()
        .set_index("query_id")
        .sort_index()
    )
    full = (1 - p) * sum(p ** (d - 1) * d / d for d in range(1, 4))
    assert np.isclose(got.loc[1].rbo, full)
    assert got.loc[1].x_k == 3 and got.loc[1].overlap_k == 1.0
    assert got.loc[2].rbo == 0.0 and got.loc[2].x_k == 0
    # X_1 = |{1} ∩ {3}| = 0, X_2 = |{1,2} ∩ {3,2}| = 1, X_3 = 3
    rev = (1 - p) * (0.0 + p * 1 / 2 + p ** 2 * 3 / 3)
    assert np.isclose(got.loc[3].rbo, rev)
    # short lists clamp: a has 2 items, b has 3 -> X_3 = |a ∩ b[:3]|
    a2 = spark.createDataFrame(pd.DataFrame([(9, 1, 1), (9, 2, 2)], columns=cols))
    b2 = spark.createDataFrame(
        pd.DataFrame([(9, 2, 1), (9, 3, 2), (9, 1, 3)], columns=cols)
    )
    g2 = rank_biased_overlap(a2, b2, p=p, k=3).toPandas().iloc[0]
    assert g2.n_a == 2 and g2.n_b == 3 and g2.x_k == 2
    # X_1 = |{1} ∩ {2}| = 0, X_2 = |{1,2} ∩ {2,3}| = 1, X_3 = 2
    want = (1 - p) * (0.0 + p * 1 / 2 + p ** 2 * 2 / 3)
    assert np.isclose(g2.rbo, want)


def test_hist_asof_entropy_sums_in_ascending_grey_order(spark):
    """ih_entropy is -(left fold of p*log2(p) in ascending grey order),
    bit for bit, on level counts whose fold order changes the last bits
    (the descending fold gives another double)."""
    from z_rad_spark.operators.firstorder_sql import hist_asof

    counts = [4, 8, 3, 2, 6, 4]  # signal v in 1..6 is grey level v of 6 bins
    vals = [float(v) for v, k in enumerate(counts, 1) for _ in range(k)]
    turns = spark.createDataFrame(
        [("c0", f"2024-01-01 10:{i:02d}:00", v) for i, v in enumerate(vals)],
        "conv_id string, ts string, signal double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = hist_asof(turns, spark, ["2024-01-02 00:00:00"], 6).collect()[0]

    n = sum(counts)
    p = F.col("c") / F.lit(n)
    terms = [
        r.t for r in spark.createDataFrame([(float(k),) for k in counts], "c double")
        .select((p * F.log2(p)).alias("t")).collect()
    ]

    def fold(ts):
        acc = 0.0
        for t in ts:
            acc += t
        return -acc

    assert fold(terms) != fold(terms[::-1])
    assert got.ih_entropy.hex() == fold(terms).hex()
    assert (got.ih_mode, got.ih_max_grad_g, got.ih_min_grad_g) == (2.0, 1.0, 3.0)
