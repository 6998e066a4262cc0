"""Conversation layout across tasks: hash buckets, salting, skew metrics.

Every per-conversation operator needs a conversation whole inside one
task, in the stable (ts, turn_idx) order. This module decides how that
happens, once:

1. ``map_conversations`` — the one grouped-kernel primitive. Rows go to
   ``conv_bucket(n)`` hash buckets (``bucket_count`` sets n), the buckets
   are packed onto one Python task per core slot, each bucket is ONE
   kernel call, and the kernel gets the bucket's columns sorted by
   (conv_id, ts, turn_idx) plus each conversation's slice bounds. The
   flagship extractor, the decay-sum and isotonic kernels and the
   distributed texture reducers all run on it, and resumable runs
   (checkpoint.bucket_filter) split work by the same bucket expression.
2. ``with_salt_bucket`` — for conversations too large for one task:
   split each conversation into ordinal buckets with a k-row overlap
   so lag-k pairs and runs spanning bucket borders are still observed
   exactly once. A pair/run crossing the cut is counted by the bucket
   that OWNS its left endpoint; overlap rows are marked read-only
   (own=false) so nothing is counted twice (SURVEY.md §4 item 2). All
   five distributed texture families (operators/texture_sql.py) take
   it as an argument of their one plan, and the matrix merge is an
   associative cell sum, so the salted plan is exact.
3. ``skew_metrics`` — the driver-side size summary that picks between
   the plain and the salted plan (texture_sql.texture_features_auto);
   ``repartition_range`` and AQE's skew split cover scan-shaped work.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the engine's stable within-conversation order (conv_id first)
ORDER = ("ts", "turn_idx")


def conv_window() -> WindowSpec:
    """The one per-conversation window: partition by conv_id, ORDER."""
    return Window.partitionBy("conv_id").orderBy(*ORDER)


def conv_bucket(n_buckets: int) -> Column:
    """The one conversation -> hash bucket assignment."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def bucket_count(spark: SparkSession) -> int:
    """Hash buckets for a grouped kernel: ``spark.z_rad_spark.extract.buckets``
    when set, else 4x parallelism (at least 8). The bucket is the unit of
    one kernel call, so the count bounds the memory of a call; tasks are
    a separate count (map_conversations packs the buckets onto one task
    per core slot, which pays the per-task setup once per slot, not per
    bucket). On a real cluster, set the conf from the DATASET size, not
    from whichever cluster runs the job: a fixed count across N and 4N
    executors keeps scaling comparisons and reruns apples-to-apples. The
    key keeps its extractor-era name because the bench and perfbench set it."""
    return int(spark.conf.get("spark.z_rad_spark.extract.buckets", "0")) or max(
        4 * spark.sparkContext.defaultParallelism, 8
    )


def map_conversations(
    df: DataFrame, fn, schema: T.StructType, order=ORDER
) -> DataFrame:
    """Run the kernel ``fn(cols, starts, ends)`` once per hash bucket of
    conversations; it returns the output columns (a dict of arrays or a
    list of row dicts) for ``schema``.

    One kernel call per bucket, not per conversation: at 10^8+
    conversations a per-conversation grouped map is boundary-bound. The
    buckets are packed onto ``tasks = min(n, defaultParallelism)`` tasks,
    one per core slot: ``repartitionById`` sends bucket b to task
    b mod tasks (the bucket counts of two tasks differ by at most one),
    ``sortWithinPartitions`` makes each bucket contiguous, and the
    ``mapInPandas`` generator collects one bucket's Arrow batches (a
    bucket may span several ``maxRecordsPerBatch`` batches) before its
    call. A Python task has a fixed setup cost larger than a bucket's
    math (the worker's per-task spark-files setup invalidates the import
    caches, and on CPython 3.11 every zipimporter on the path then
    re-reads its archive; the JVM side adds a Python runner and a
    shuffle fetch per task), so it is paid once per slot. Scale
    trade-off: a task carries ceil(n / tasks) buckets one after another,
    and the memory bound per call — one bucket — does not change. The
    count is explicit, so AQE never coalesces this CPU-bound stage onto
    fewer tasks; the plan has one exchange.

    ``cols`` maps every input column to a NumPy array in the stable
    (conv_id, *order) order, ``ts`` as int64 epoch microseconds. conv_id
    is factorized to integer codes first (string compares are the hot
    cost), and np.lexsort is stable, so ties keep input order.
    Conversation ``i`` is rows ``starts[i]:ends[i]``."""
    n = bucket_count(df.sparkSession)
    tasks = min(n, df.sparkSession.sparkContext.defaultParallelism)
    names = [f.name for f in schema.fields]

    def call(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = {c: pdf[c].to_numpy() for c in pdf.columns if c != "bucket"}
        if "ts" in cols:
            cols["ts"] = cols["ts"].astype("datetime64[us]").astype(np.int64)
        codes, _ = pd.factorize(cols["conv_id"])
        idx = np.lexsort([cols[c] for c in reversed(order)] + [codes])
        cols = {c: v[idx] for c, v in cols.items()}
        codes = codes[idx]
        brk = np.nonzero(codes[1:] != codes[:-1])[0] + 1
        starts = np.concatenate(([0], brk))
        ends = np.concatenate((brk, [codes.size]))
        return pd.DataFrame(fn(cols, starts, ends), columns=names)

    def pieces(batches):
        """Each Arrow batch cut where the (sorted) bucket changes."""
        for pdf in batches:
            b = pdf["bucket"].to_numpy()
            cut = np.flatnonzero(np.diff(b, prepend=-1, append=-1))  # buckets are >= 0
            for lo, hi in zip(cut[:-1], cut[1:]):
                yield pdf.iloc[lo:hi]

    def task(batches):
        for _, same in itertools.groupby(pieces(batches), key=lambda p: p["bucket"].iat[0]):
            yield call(pd.concat(list(same)))

    bucketed = df.withColumn("bucket", conv_bucket(n)).repartitionById(tasks, "bucket")
    return bucketed.sortWithinPartitions("bucket").mapInPandas(task, schema=schema)


def conv_sizes(df: DataFrame) -> DataFrame:
    return df.groupBy("conv_id").agg(F.count("*").cast("long").alias("n_turns"))


def skew_metrics(df: DataFrame) -> dict:
    """Driver-side summary of conversation-size skew (rows are tiny)."""
    stats = (
        conv_sizes(df)
        .agg(
            F.count("*").alias("n_convs"),
            F.max("n_turns").alias("max_turns"),
            F.avg("n_turns").alias("avg_turns"),
            F.expr("percentile(n_turns, 0.99)").alias("p99_turns"),
        )
        .collect()[0]
    )
    d = stats.asDict()
    d["skew_ratio"] = float(d["max_turns"]) / max(float(d["avg_turns"]), 1.0)
    return d


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Spread a small scan across the cluster before heavy per-row work.

    A test-scale corpus arrives as ONE parquet split, so every narrow
    per-row stage (regex normalization, n-gram shingling, the
    interpreted array folds of the embedding kernels) serializes in a
    single task regardless of core count. Repartition by the row key
    ONLY when the scan has fewer splits than the session parallelism —
    at production scale the input has thousands of splits and no
    repartition (and no shuffle of the payload) ever fires. Guide §2.5
    input-skew fix, made scale-adaptive.

    The count is explicit: a bare repartition(key) is byte-based-
    coalesced by AQE right back to one partition on small inputs, which
    re-serializes the CPU-bound per-row stages this spread exists for
    (the extractor's bucket-count lesson); a user-specified count is
    never coalesced."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(2 * par, key)


def repartition_range(df: DataFrame, n: int | None = None) -> DataFrame:
    """Range partition by (conv_id, ts) + secondary sort within partitions
    — the engine's canonical physical layout (SURVEY.md §2.1 geometric
    sort mapping)."""
    out = df.repartitionByRange(*( [n] if n else [] ), "conv_id", "ts")
    return out.sortWithinPartitions("conv_id", "ts", "turn_idx")


def with_salt_bucket(
    df: DataFrame, turns_per_bucket: int = 100_000, overlap: int = 4,
    overlap_before: int = 0, ordinal_col: str | None = "turn_idx",
) -> DataFrame:
    """Assign (bucket, own) per turn: bucket = floor(ordinal / size); the
    first ``overlap`` turns of each bucket are replicated into the
    previous bucket with own=false so lag-k windows up to k=overlap see
    across the border without double counting. ``overlap_before`` also
    replicates the LAST rows of the previous bucket forward (own=false),
    for operators that look backwards (lag) as well as forwards (lead) —
    e.g. NGLDM dependence counts need both neighbours of every own row.

    ``ordinal_col`` names a 0-based contiguous per-conversation ordinal
    consistent with the (ts, turn_idx) sort — ``turn_idx`` is exactly
    that by construction (transcripts.py ROW_NUMBER derivation), so the
    default path assigns buckets with PURE column arithmetic: no window,
    hence no single-task per-conversation sort — the very skew this
    operator exists to break. Pass ``ordinal_col=None`` for inputs
    without such a column (filtered subsets); that fallback pays a
    row_number window over bare conv_id and should be avoided for
    genuinely giant conversations."""
    if ordinal_col is None:
        w = conv_window()
        df = df.withColumn("_rank", F.row_number().over(w) - 1)
    else:
        df = df.withColumn("_rank", F.col(ordinal_col).cast("long"))
    df = df.withColumn("bucket", (F.col("_rank") / turns_per_bucket).cast("int"))
    out = df.withColumn("own", F.lit(True))
    if overlap:
        borrowed = (
            df.where((F.col("_rank") % turns_per_bucket < overlap) & (F.col("bucket") > 0))
            .withColumn("bucket", F.col("bucket") - 1)
            .withColumn("own", F.lit(False))
        )
        out = out.unionByName(borrowed)
    if overlap_before:
        # last-bucket guard: without it the trailing rows of a
        # conversation's FINAL bucket would be replicated into a phantom
        # bucket+1 holding only own=false rows — correct (disowned rows
        # emit nothing) but a wasted task group per conversation. The max
        # OBSERVED bucket per conversation (not a count-derived one, so
        # it stays correct even for filtered subsets that violate the
        # contiguous-ordinal contract) is one windowless map-side-combined
        # aggregate; cheap next to the grouped-map kernel this operator
        # feeds, but it IS an extra pass over the input — pass
        # overlap_before=0 when only forward overlap is needed. No
        # broadcast hint: `last` is one row PER CONVERSATION, unbounded by
        # any operator parameter, so a forced broadcast would hit the
        # driver/broadcast limits exactly at the conversation counts this
        # module targets — the equi-join stays on conv_id (the filtered
        # left side is O(#buckets * overlap) rows) and AQE may still pick
        # a broadcast when the frame is actually small.
        last = df.groupBy("conv_id").agg(F.max("bucket").alias("_max_bucket"))
        borrowed_back = (
            df.where(F.col("_rank") % turns_per_bucket >= turns_per_bucket - overlap_before)
            .join(last, "conv_id")
            .where(F.col("bucket") + 1 <= F.col("_max_bucket"))
            .drop("_max_bucket")
            .withColumn("bucket", F.col("bucket") + 1)
            .withColumn("own", F.lit(False))
        )
        out = out.unionByName(borrowed_back)
    return out.drop("_rank")
