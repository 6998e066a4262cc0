"""Skew handling: salted decomposition for giant conversations.

Zipf-skewed transcript tables put one conversation's 10^8 turns in one
task. Three levels of defense, cheapest first:

1. AQE skew-join/partition split (on by default in session.py) — handles
   shuffle-partition skew transparently.
2. ``repartition_range`` — range partitioning on (conv_id, ts) keeps each
   task's memory bounded for scan-shaped work.
3. ``salted_extract`` — for the applyInPandas feature kernel, split each
   giant conversation into B buckets WITH k-turn overlap so lag-k pairs
   and runs spanning bucket borders are still observed exactly once, then
   merge partial matrices. Border correctness: a pair/run crossing the
   cut is counted by the bucket that OWNS its left endpoint; the overlap
   rows are marked read-only (own=false) so no double counting
   (SURVEY.md §4 item 2).

The salted path is exact for MERG aggregations (matrix sums are
associative); AVER-style per-session feature averaging is computed from
the merged per-session matrices, which sessionization keys make exact as
well because buckets split only at session boundaries when possible.
This module currently ships the partitioning + bucket-assignment
machinery and the exact salted GLCM merge; remaining families fall back
to level 1/2 (documented, logged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
        w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
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
