"""The per-conversation grouped-kernel primitive (operators/skew.map_conversations)
and the kernels that run on it, fed input shuffled across several
partitions: every conversation must reach ONE kernel call, whole, in the
stable (ts, turn_idx) order — equal timestamps broken by turn_idx."""

import datetime as dt
import re
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark import InheritableThread, TaskContext
from pyspark.sql import types as T

from z_rad_spark.config import FeatureConfig
from z_rad_spark.extractor import extract_features
from z_rad_spark.operators.dedup import dup_clusters
from z_rad_spark.operators.encoding import isotonic_fit
from z_rad_spark.operators.sessionize import with_time_decay_sum
from z_rad_spark.operators.skew import bucket_count, conv_bucket, map_conversations
from z_rad_spark.transcripts import synth_transcripts

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


def _calls(df):
    """map_conversations with a kernel that reports, per conversation,
    its call id, its task's partition id, its size and whether it came
    whole in the stable order."""
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("call", T.StringType()),
        T.StructField("task", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("ordered", T.BooleanType()),
    ])

    def kernel(cols, starts, ends):
        call, task = uuid.uuid4().hex, TaskContext.get().partitionId()
        rows = []
        for s, e in zip(starts, ends):
            d_ts, d_idx = np.diff(cols["ts"][s:e]), np.diff(cols["turn_idx"][s:e])
            rows.append({"conv_id": cols["conv_id"][s], "call": call, "task": task,
                         "n": int(e - s),
                         "ordered": bool(np.all((d_ts > 0) | ((d_ts == 0) & (d_idx > 0))))})
        return rows

    return map_conversations(df, kernel, schema)


def _buckets(spark, out):
    """conv_id -> its hash bucket, from the engine's bucket expression."""
    ids = spark.createDataFrame(pd.DataFrame({"conv_id": sorted(set(out["conv_id"]))}))
    rows = ids.select("conv_id", conv_bucket(bucket_count(spark)).alias("b")).collect()
    return {r["conv_id"]: r["b"] for r in rows}


def test_one_exchange_onto_one_task_per_core_slot(spark):
    """The buckets are packed onto min(bucket_count, defaultParallelism)
    tasks by ONE exchange; no grouped map runs per bucket."""
    df = spark.createDataFrame(_turns(), "conv_id string, turn_idx int, ts timestamp, signal double")
    plan = _calls(df)._jdf.queryExecution().executedPlan().toString()
    tasks = min(bucket_count(spark), spark.sparkContext.defaultParallelism)
    assert plan.count("Exchange") == 1
    assert re.search(r"Exchange \S+\(direct_shuffle_partition_id\(bucket#\d+\), (\d+)\)",
                     plan).group(1) == str(tasks)
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" in plan


def test_every_conversation_reaches_one_kernel_call_sorted(spark):
    """With 7-row Arrow batches a bucket spans many batches: each
    conversation still reaches one call, whole and sorted, and each
    non-empty bucket is exactly one call."""
    pdf = _turns()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        out = _calls(_frame(spark, pdf)).toPandas()
    finally:
        spark.conf.set(key, old)
    # one row per conversation: a split conversation would appear twice
    assert sorted(out["conv_id"]) == sorted(pdf["conv_id"].unique())
    assert dict(zip(out["conv_id"], out["n"])) == pdf.groupby("conv_id").size().to_dict()
    assert out["ordered"].all()
    bucket = out["conv_id"].map(_buckets(spark, out))
    assert out["call"].nunique() == bucket.nunique()
    assert (bucket.groupby(out["call"]).nunique() == 1).all()


def test_buckets_spread_evenly_over_tasks(spark):
    """Bucket b runs in task b mod tasks, so the bucket counts of any two
    tasks differ by at most one."""
    pdf = _turns(seed=11, n_convs=200)  # every one of the buckets non-empty
    out = _calls(_frame(spark, pdf)).toPandas()
    tasks = min(bucket_count(spark), spark.sparkContext.defaultParallelism)
    out["bucket"] = out["conv_id"].map(_buckets(spark, out))
    assert out["bucket"].nunique() == bucket_count(spark)
    assert (out["task"] == out["bucket"] % tasks).all()
    per_task = out.groupby("task")["bucket"].nunique()
    assert len(per_task) == tasks and per_task.max() - per_task.min() <= 1


def test_extract_beside_dup_clusters_on_one_session(spark):
    """Connected components on one thread and the extractor on another,
    one session: the extract output equals a solo run, and its kernel
    stage still runs one task per core slot."""
    sc = spark.sparkContext
    turns = synth_transcripts(spark, n_convs=12, mean_turns=20, seed=5)
    cfg = FeatureConfig(eligible_roles=("user", "assistant", "tool"))
    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} tok{i % 5} the and of common words here") for i in range(120)],
        "doc_id long, text string",
    )
    results = {}

    def run(name, f):
        sc.setJobGroup(name, name)
        results[name] = f()

    def extract():
        out = extract_features(turns, cfg, ["2024-01-01T12:00:00", "2024-01-20T00:00:00"])
        return out.toPandas().sort_values(["conv_id", "as_of"]).reset_index(drop=True)

    threads = [
        InheritableThread(target=run, args=("cc", lambda: dup_clusters(docs).count())),
        InheritableThread(target=run, args=("extract", extract)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results["cc"] == dup_clusters(docs).count() > 0
    pd.testing.assert_frame_equal(results["extract"], extract())
    # the kernel stage is the result stage of the group's last job
    tracker = sc.statusTracker()
    last_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup("extract")))
    kernel_stage = tracker.getStageInfo(max(last_job.stageIds))
    assert kernel_stage.numTasks == min(bucket_count(spark), sc.defaultParallelism)


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
