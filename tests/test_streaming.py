"""Structured Streaming surface: watermarked window aggregates and the
applyInPandasWithState sessionizer, driven with file sources +
availableNow triggers (deterministic, no timing races), including state
continuation across a checkpointed restart. Parquet sinks are used
because they support exactly-once recovery from the checkpoint (the
memory sink does not)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("signal", T.DoubleType()),
    ]
)


def _write_batch(spark, path, rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "signal"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf, schema=SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _run_to_parquet(stream_out, out_path, checkpoint):
    q = (
        stream_out.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _read_sink(spark, path):
    try:
        return spark.read.parquet(path).toPandas()
    except Exception:
        return pd.DataFrame()


def test_streaming_window_stats_append_with_watermark(spark, tmp_path):
    from z_rad_spark.streaming import streaming_window_stats

    src = str(tmp_path / "src")
    out_path = str(tmp_path / "out")
    ck = str(tmp_path / "ck1")
    _write_batch(
        spark, src,
        [
            ("c1", 0, "2024-01-01 00:10:00", 2.0),
            ("c1", 1, "2024-01-01 00:40:00", 3.0),
            ("c1", 2, "2024-01-01 01:20:00", 5.0),
        ],
    )
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = streaming_window_stats(stream, window="1 hour", watermark="30 minutes")
    _run_to_parquet(out, out_path, ck)
    got = _read_sink(spark, out_path)
    # watermark = 01:20 - 30min = 00:50 -> no window end <= 00:50 yet
    assert len(got) == 0

    # a late-advancing batch pushes the watermark past the first window;
    # the restarted query recovers watermark state from the checkpoint
    _write_batch(spark, src, [("c1", 3, "2024-01-01 03:00:00", 1.0)])
    stream2 = spark.readStream.schema(SCHEMA).parquet(src)
    out2 = streaming_window_stats(stream2, window="1 hour", watermark="30 minutes")
    _run_to_parquet(out2, out_path, ck)
    got = _read_sink(spark, out_path).sort_values("window_start_us")
    assert len(got) >= 1
    first = got.iloc[0]
    assert first["n_turns"] == 2 and first["signal_sum"] == 5.0


def test_streaming_sessionize_state_across_restart(spark, tmp_path):
    from z_rad_spark.streaming import streaming_sessionize

    src = str(tmp_path / "src2")
    out_path = str(tmp_path / "out2")
    ck = str(tmp_path / "ck2")
    # batch 1: two turns 10 min apart (same session, stays OPEN in state)
    _write_batch(
        spark, src,
        [
            ("c1", 0, "2024-01-01 00:00:00", 1.0),
            ("c1", 1, "2024-01-01 00:10:00", 2.0),
        ],
    )
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = streaming_sessionize(stream, gap_seconds=1800.0, watermark="10 minutes")
    _run_to_parquet(out, out_path, ck)
    assert len(_read_sink(spark, out_path)) == 0

    # batch 2 after a RESTART (new query, same checkpoint): a turn 2h later
    # closes the open session carried in the restored state
    _write_batch(spark, src, [("c1", 2, "2024-01-01 02:10:00", 7.0)])
    stream2 = spark.readStream.schema(SCHEMA).parquet(src)
    out2 = streaming_sessionize(stream2, gap_seconds=1800.0, watermark="10 minutes")
    _run_to_parquet(out2, out_path, ck)
    got = _read_sink(spark, out_path)
    assert len(got) == 1
    row = got.iloc[0]
    assert row["n_turns"] == 2
    assert row["signal_sum"] == 3.0
    assert row["session_start_us"] == 1704067200000000
    assert row["session_end_us"] == 1704067800000000


def test_streaming_running_stats_state_across_restart(spark, tmp_path):
    from z_rad_spark.streaming import streaming_running_stats

    src = str(tmp_path / "src3")
    out_path = str(tmp_path / "out3")
    ck = str(tmp_path / "ck3")

    def run(batch_rows):
        _write_batch(spark, src, batch_rows)
        stream = spark.readStream.schema(SCHEMA).parquet(src).select(
            "conv_id", "ts", "signal"
        )
        _run_to_parquet(streaming_running_stats(stream), out_path, ck)

    # batch 1: two turns (one duplicated timestamp)
    run(
        [
            ("c1", 0, "2024-01-01 00:00:00", 2.0),
            ("c1", 1, "2024-01-01 00:00:00", 4.0),
            ("c1", 2, "2024-01-01 00:05:00", 1.0),
        ]
    )
    got = _read_sink(spark, out_path).sort_values("ts_us").reset_index(drop=True)
    assert list(got["n_so_far"]) == [2, 3]
    assert list(got["signal_sum"]) == [6.0, 7.0]
    assert list(got["signal_max"]) == [4.0, 4.0]

    # batch 2 after a RESTART: state (n=3, sum=7, max=4) must carry over
    run([("c1", 3, "2024-01-01 00:10:00", 9.0)])
    got = _read_sink(spark, out_path).sort_values("ts_us").reset_index(drop=True)
    assert len(got) == 3
    last = got.iloc[-1]
    assert last["n_so_far"] == 4
    assert last["signal_sum"] == 16.0
    assert last["signal_max"] == 9.0


def test_streaming_cusum_matches_recursion_and_restarts(spark, tmp_path):
    from z_rad_spark.streaming import streaming_cusum

    src = str(tmp_path / "src4")
    out_path = str(tmp_path / "out4")
    ck = str(tmp_path / "ck4")

    def run(batch_rows):
        _write_batch(spark, src, batch_rows)
        stream = spark.readStream.schema(SCHEMA).parquet(src).select(
            "conv_id", "ts", "signal"
        )
        _run_to_parquet(
            streaming_cusum(stream, target=5.0, slack=0.5, threshold=8.0),
            out_path,
            ck,
        )

    # batch 1: tied timestamps fold into one chart step (dev = 2+9-2*5.5)
    run(
        [
            ("c1", 0, "2024-01-01 00:00:00", 2.0),
            ("c1", 1, "2024-01-01 00:00:00", 9.0),
            ("c1", 2, "2024-01-01 00:05:00", 9.0),
            ("c1", 3, "2024-01-01 00:10:00", 9.0),
        ]
    )
    got = _read_sink(spark, out_path).sort_values("ts_us").reset_index(drop=True)
    # recursion: s = max(0, s + (x - 5.5)) stepped per distinct ts with
    # tied deviations summed: steps 0.0, +3.5, +3.5 -> 0.0, 3.5, 7.0
    assert list(got["n_at_ts"]) == [2, 1, 1]
    assert list(got["cusum"]) == [0.0, 3.5, 7.0]
    assert list(got["cusum_alarm"]) == [False, False, False]

    # batch 2 after a RESTART: carried (P, m) must continue the chart
    run([("c1", 4, "2024-01-01 00:15:00", 9.0)])
    got = _read_sink(spark, out_path).sort_values("ts_us").reset_index(drop=True)
    assert len(got) == 4
    assert got.iloc[-1]["cusum"] == 10.5
    assert bool(got.iloc[-1]["cusum_alarm"]) is True

    # negative drift floors at zero via the running-min identity
    run([("c1", 5, "2024-01-01 00:20:00", 1.0),
         ("c1", 6, "2024-01-01 00:25:00", 1.0),
         ("c1", 7, "2024-01-01 00:30:00", 1.0)])
    got = _read_sink(spark, out_path).sort_values("ts_us").reset_index(drop=True)
    assert list(got["cusum"]) == [0.0, 3.5, 7.0, 10.5, 6.0, 1.5, 0.0]


def test_streaming_psi_flags_injected_drift(spark, tmp_path):
    import math

    from z_rad_spark.streaming import streaming_psi

    src = str(tmp_path / "src5")
    out_path = str(tmp_path / "out5")
    ck = str(tmp_path / "ck5")

    # reference: uniform over bins 1..3; day 1 matches it, day 2 is a
    # point mass on bin 9 — day 1 must read stable, day 2 shifted
    ref = [10, 10, 10] + [0] * 6
    rows = []
    for i in range(30):
        rows.append((f"c{i%3}", i, f"2024-01-01 0{i%8}:00:00", float(1 + i % 3)))
    for i in range(30):
        rows.append((f"c{i%3}", 30 + i, f"2024-01-02 0{i%8}:00:00", 9.0))
    # day 3 sentinel so both full days close under the 0s watermark
    rows.append(("c0", 99, "2024-01-03 00:00:00", 1.0))
    _write_batch(spark, src, rows)
    stream = spark.readStream.schema(SCHEMA).parquet(src).select(
        "conv_id", "ts", "signal"
    )
    _run_to_parquet(
        streaming_psi(stream, ref, window="1 day", watermark="0 seconds"),
        out_path,
        ck,
    )
    got = _read_sink(spark, out_path).sort_values("window_start_us").reset_index(drop=True)
    assert len(got) == 2
    assert got.loc[0, "drift_band"] == "stable"
    assert got.loc[1, "drift_band"] == "shifted"
    # replay the smoothed PSI for day 2 by hand
    rt = sum(ref) + 9
    n = 30 + 9
    psi = 0.0
    for b in range(1, 10):
        p = (ref[b - 1] + 1) / rt
        q = ((30 if b == 9 else 0) + 1) / n
        psi += (p - q) * math.log(p / q)
    assert abs(got.loc[1, "psi"] - psi) < 1e-9


def test_streaming_page_hinkley_matches_recursion_and_restarts(spark, tmp_path):
    import numpy as np

    from z_rad_spark.streaming import streaming_page_hinkley

    src = str(tmp_path / "src_ph")
    out_path = str(tmp_path / "out_ph")
    ck = str(tmp_path / "ck_ph")

    def run(batch_rows):
        _write_batch(spark, src, batch_rows)
        stream = spark.readStream.schema(SCHEMA).parquet(src).select(
            "conv_id", "ts", "signal"
        )
        _run_to_parquet(
            streaming_page_hinkley(stream, delta=0.25, threshold=12.0),
            out_path,
            ck,
        )

    # batch 1: a tied pair folds into one step; flat-ish signal
    run(
        [
            ("c1", 0, "2024-01-01 00:00:00", 2.0),
            ("c1", 1, "2024-01-01 00:00:00", 4.0),
            ("c1", 2, "2024-01-01 00:05:00", 3.0),
        ]
    )
    # batch 2 after a RESTART: a large upward shift
    run(
        [
            ("c1", 3, "2024-01-01 00:10:00", 9.0),
            ("c1", 4, "2024-01-01 00:15:00", 9.0),
        ]
    )
    got = _read_sink(spark, out_path).sort_values("ts_us").reset_index(drop=True)
    assert list(got["n_at_ts"]) == [2, 1, 1, 1]

    # independent recursion on the distinct-ts semantics
    steps = [(2, 6.0), (1, 3.0), (1, 9.0), (1, 9.0)]  # (count, signal sum)
    n = s = 0
    pv, runmin = 0.0, np.inf
    want_ph = []
    for c, sx in steps:
        n += c
        s += sx
        mbar = s / n
        pv += (sx - c * mbar) - c * 0.25
        runmin = min(runmin, pv)
        want_ph.append(pv - runmin)
    assert np.allclose(got["ph"].to_numpy(), want_ph, atol=1e-12)
    # the shift drives the chart strictly up across the restart boundary
    assert got["ph"].iloc[-1] > got["ph"].iloc[-2] > 0.0


def test_streaming_range_join_pairs(spark, tmp_path):
    from z_rad_spark.streaming import streaming_range_join

    src = str(tmp_path / "src_rj")
    out_path = str(tmp_path / "out_rj")
    ck = str(tmp_path / "ck_rj")
    rows = [
        # state event (signal >= 8) at t0
        ("c1", 0, "2024-01-01 10:00:00", 9.0),
        # low turns: inside the hour window, at the boundary, and outside
        ("c1", 1, "2024-01-01 10:30:00", 3.0),
        ("c1", 2, "2024-01-01 11:00:00", 4.0),   # exactly 1h after: included
        ("c1", 3, "2024-01-01 11:00:01", 5.0),   # 1h+1s: excluded
        # other conversation: never joins across convs
        ("c2", 0, "2024-01-01 10:10:00", 2.0),
        # low turn BEFORE the state event: excluded (state_ts <= ts fails)
        ("c1", 4, "2024-01-01 09:59:00", 2.0),
    ]
    _write_batch(spark, src, rows)
    stream = spark.readStream.schema(SCHEMA).parquet(src).select(
        "conv_id", "ts", "signal"
    )
    _run_to_parquet(
        streaming_range_join(stream, high_threshold=8.0, range_seconds=3600.0),
        out_path,
        ck,
    )
    got = _read_sink(spark, out_path).sort_values("ts_us").reset_index(drop=True)
    assert len(got) == 2
    assert set(got.signal) == {3.0, 4.0}
    assert (got.state_val == 9.0).all()
    assert (got.conv_id == "c1").all()


def test_streaming_hll_matches_batch(spark, tmp_path):
    """The stream's final emitted sketch equals the batch operator's —
    the HLL mergeability/insert-order-freedom contract end to end."""
    import pyspark.sql.types as T

    from z_rad_spark.operators.sketches import hyperloglog_by
    from z_rad_spark.streaming import streaming_hll

    rows = [("a", k) for k in range(1, 61)] + [("b", k) for k in range(40, 50)]
    df = spark.createDataFrame(rows, "event_type string, key long")
    src = str(tmp_path / "hll_src")
    df.repartition(3).write.parquet(src)
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("key", T.LongType()),
        ]
    )
    q = (
        streaming_hll(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory")
        .queryName("hll_test_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    q.stop()
    got = {
        r["event_type"]: (r["occupied"], r["v_zero"], r["est_distinct"])
        for r in spark.table("hll_test_sink").collect()
    }
    want = {
        r["event_type"]: (r["occupied"], r["v_zero"], r["est_distinct"])
        for r in hyperloglog_by(
            df, group_col="event_type", key_col="key"
        ).collect()
    }
    assert got.keys() == want.keys()
    for g in want:
        assert got[g][0] == want[g][0] and got[g][1] == want[g][1], g
        assert got[g][2] == pytest.approx(want[g][2], rel=1e-12), g


def test_replay_stream_leaves_caller_conf_alone(spark, tmp_path, monkeypatch):
    """The streaming gate queries' replay helper scopes its shuffle
    partitions to a session of its own: a query running on the caller's
    session at the same time must not see them change."""
    from pyspark.sql.conf import RuntimeConfig

    import __spark_entry__ as entry

    events = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:05", "2024-01-01 00:07"]),
            "value": [1.5, 2.5, 3.0],
            "event_type": ["a", "b", "a"],
        }
    )
    spark.createDataFrame(events).write.parquet(str(tmp_path / "events.parquet"))
    caller_keys = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        if self is spark.conf:
            caller_keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    res = entry._replay_stream(spark, str(tmp_path), lambda s: s, "t_replay_")
    assert sorted(res.toPandas()["signal"]) == [2.0, 3.0, 4.0]
    assert caller_keys == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
