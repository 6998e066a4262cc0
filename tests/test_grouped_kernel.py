"""The per-conversation grouped-kernel primitive (operators/skew.map_conversations)
and the kernels that run on it, fed input shuffled across several
partitions: every conversation must reach ONE kernel call, whole, in the
stable (ts, turn_idx) order — equal timestamps broken by turn_idx."""

import datetime as dt
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from z_rad_spark.operators.encoding import isotonic_fit
from z_rad_spark.operators.sessionize import with_time_decay_sum
from z_rad_spark.operators.skew import bucket_count, map_conversations

T0 = dt.datetime(2024, 1, 1)


def _turns(seed=7, n_convs=23):
    """Conversations of 1-40 turns whose timestamps repeat (several turns
    share a second), so the order inside a conversation depends on the
    turn_idx tie-break; rows come back shuffled."""
    rng = np.random.default_rng(seed)
    rows = []
    for c in range(n_convs):
        n = int(rng.integers(1, 41))
        secs = np.cumsum(rng.integers(0, 3, n) * 30)  # ~1/3 of gaps are 0
        for i in range(n):
            rows.append((f"c{c:02d}", i, T0 + dt.timedelta(seconds=int(secs[i])),
                         float(rng.integers(0, 9))))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    return pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)


def _frame(spark, pdf):
    df = spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, ts timestamp, signal double"
    )
    return df.repartition(5)


def test_every_conversation_reaches_one_kernel_call_sorted(spark):
    pdf = _turns()
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("call", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("ordered", T.BooleanType()),
    ])

    def kernel(cols, starts, ends):
        call = uuid.uuid4().hex
        rows = []
        for s, e in zip(starts, ends):
            d_ts, d_idx = np.diff(cols["ts"][s:e]), np.diff(cols["turn_idx"][s:e])
            rows.append({"conv_id": cols["conv_id"][s], "call": call, "n": int(e - s),
                         "ordered": bool(np.all((d_ts > 0) | ((d_ts == 0) & (d_idx > 0))))})
        return rows

    out = map_conversations(_frame(spark, pdf), kernel, schema).toPandas()
    # one row per conversation: a split conversation would appear twice
    assert sorted(out["conv_id"]) == sorted(pdf["conv_id"].unique())
    assert dict(zip(out["conv_id"], out["n"])) == pdf.groupby("conv_id").size().to_dict()
    assert out["ordered"].all()
    assert out["call"].nunique() <= bucket_count(spark)


def _decay_reference(pdf, tau):
    out = {}
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values(["ts", "turn_idx"])
        t = g["ts"].to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6
        x = g["signal"].to_numpy()
        for i, idx in enumerate(g["turn_idx"]):
            out[(conv, idx)] = float(np.sum(np.exp(-(t[i] - t[: i + 1]) / tau) * x[: i + 1]))
    return out


def test_decay_sum_matches_closed_form_on_shuffled_input(spark):
    pdf = _turns()
    tau = 90.0
    got = with_time_decay_sum(_frame(spark, pdf), tau).toPandas()
    want = _decay_reference(pdf, tau)
    assert len(got) == len(pdf)
    for conv, idx, v in got[["conv_id", "turn_idx", "decay_sum"]].itertuples(index=False):
        assert v == pytest.approx(want[(conv, idx)], rel=1e-12, abs=1e-12), (conv, idx)


def _pava(x):
    """Sorted pool-adjacent-violators: blocks of (mean, weight)."""
    blocks = []
    for v in x:
        blocks.append([float(v), 1])
        while len(blocks) > 1 and blocks[-1][0] < blocks[-2][0]:
            m, w = blocks.pop()
            blocks[-1] = [(blocks[-1][0] * blocks[-1][1] + m * w) / (blocks[-1][1] + w),
                          blocks[-1][1] + w]
    return np.concatenate([np.full(w, m) for m, w in blocks])


def test_isotonic_fit_matches_sorted_pava_on_shuffled_input(spark):
    pdf = _turns()
    got = isotonic_fit(_frame(spark, pdf)).toPandas()
    assert len(got) == len(pdf)
    got = got.set_index(["conv_id", "turn_idx"])["iso_fit"]
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values(["ts", "turn_idx"])
        want = _pava(g["signal"].to_numpy())
        have = got.loc[[(conv, i) for i in g["turn_idx"]]].to_numpy()
        np.testing.assert_allclose(have, want, rtol=1e-12, atol=0, err_msg=conv)
