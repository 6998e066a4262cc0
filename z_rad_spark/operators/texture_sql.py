"""Distributed texture-matrix plans — the giant-conversation scale path.

The grouped-map extractor holds one conversation inside one task; a
10^8-turn conversation would blow that task. These plans instead build
the texture matrices DECLARATIVELY, one plan per family:

* pairs / runs / dependence counts come from window functions over
  (conv_id, ts, turn_idx) — one pass, whole-stage codegen;
* the matrix is a groupBy on (conv_id, cell) — the shuffle key includes
  the cell, so ONE conversation's work spreads over many reducers
  (map-side partial counts make the shuffle tiny: <= lvl^2 rows per
  conversation per map task);
* the final reduction runs on <= lvl^2 rows per conversation with the
  kernel family table's batched reducer (kernels/texture.FAMILIES),
  called once per bucket of the engine's grouped-kernel primitive
  (skew.map_conversations), every conversation a matrix id.

Every cell builder takes ``turns_per_bucket``. ``None`` gives the plain
plan: one window per conversation. A number salts the same plan
(skew.with_salt_bucket): the window runs per (conv_id, bucket), so one
conversation's pass spreads over many tasks, and overlap rows (GLCM,
NGLDM, NGTDM) or a cross-bucket run merge (GLRLM, GLDZM) keep the counts
exact. ``texture_features_distributed`` is the one feature entry;
``texture_features_auto`` picks ``turns_per_bucket`` from observed
conversation size (skew.skew_metrics). Both plans are value-identical to
the extractor's 3D MERG path (tested).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.texture import FAMILIES, Cells
from .skew import ORDER, conv_window, map_conversations, skew_metrics, with_salt_bucket


def _layout(df: DataFrame, signal_col: str, turns_per_bucket, overlap=0, overlap_before=0):
    """Grey rows ``g`` with an ``own`` flag, their window and its partition
    keys: one window per conversation, or with ``turns_per_bucket`` one
    per salt bucket, where borrowed overlap rows carry own=false."""
    g = df.select("conv_id", "ts", "turn_idx", F.col(signal_col).cast("double").alias("g"))
    if turns_per_bucket is None:
        return g.withColumn("own", F.lit(True)), conv_window(), ["conv_id"]
    rows = with_salt_bucket(
        g, turns_per_bucket=turns_per_bucket, overlap=overlap, overlap_before=overlap_before
    )
    keys = ["conv_id", "bucket"]
    return rows, Window.partitionBy(*keys).orderBy(*ORDER), keys


def glcm_cells(
    df: DataFrame, lags=(1,), signal_col: str = "signal", turns_per_bucket: int | None = None
) -> DataFrame:
    """Symmetrized lag-k co-occurrence counts: (conv_id, i, j, c).

    Salted, a max(lags)-row overlap is replicated read-only into the
    previous bucket, so every lag-k pair is observed by exactly the bucket
    owning its LEFT endpoint (SURVEY.md §4 item 2); the matrix merge is
    the same associative cell groupBy (sums of partial counts)."""
    rows, w, _ = _layout(df, signal_col, turns_per_bucket, overlap=max(lags))
    pairs = None
    for lag in lags:
        p = (
            rows.select("conv_id", "own", F.col("g").alias("a"), F.lead("g", lag).over(w).alias("b"))
            .where(F.col("b").isNotNull() & F.col("own"))
            .drop("own")
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    sym = pairs.unionByName(pairs.select("conv_id", F.col("b").alias("a"), F.col("a").alias("b")))
    return sym.groupBy(
        "conv_id", F.col("a").cast("int").alias("i"), F.col("b").cast("int").alias("j")
    ).agg(F.count("*").cast("double").alias("c"))


def _runs(df: DataFrame, signal_col: str, turns_per_bucket) -> DataFrame:
    """One row per maximal equal-grey run, (conv_id, lvl, len, srn, ern),
    with 1-based start/end positions — the one run builder of GLRLM and
    GLDZM, by gaps-and-islands windows.

    Plain, positions are row numbers. Salted, buckets partition each
    conversation (no overlap); runs interior to a bucket are final, and
    the <= 2 border runs per bucket are merged across adjacent buckets by
    a second (tiny) gaps-and-islands over the edge-run sequence — a run
    spanning whole buckets chains through them exactly once. Positions
    are then turn_idx + 1, valid under the transcripts ordinal contract."""
    rows, w, keys = _layout(df, signal_col, turns_per_bucket)
    pos = F.row_number().over(w) if turns_per_bucket is None else F.col("turn_idx") + 1
    brk = F.when(F.lag("g").over(w).isNull() | (F.lag("g").over(w) != F.col("g")), 1).otherwise(0)
    runs = (
        rows.withColumn("pos", pos)
        .withColumn("run_id", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(*keys, "run_id")
        .agg(
            F.min("g").cast("int").alias("lvl"),
            F.count("*").cast("long").alias("len"),
            F.min("pos").cast("long").alias("srn"),
            F.max("pos").cast("long").alias("ern"),
        )
    )
    if turns_per_bucket is None:
        return runs.drop("run_id")
    runs = runs.withColumn("n_runs", F.max("run_id").over(Window.partitionBy(*keys)))
    runs = runs.withColumn("is_first", F.col("run_id") == 1).withColumn(
        "is_last", F.col("run_id") == F.col("n_runs")
    )
    interior = runs.where(~F.col("is_first") & ~F.col("is_last")).select(
        "conv_id", "lvl", "len", "srn", "ern"
    )
    edge = runs.where(F.col("is_first") | F.col("is_last"))
    we = Window.partitionBy("conv_id").orderBy("bucket", "run_id")
    cont = (
        (F.col("bucket") == F.lag("bucket").over(we) + 1)
        & F.lag("is_last").over(we)
        & F.col("is_first")
        & (F.col("lvl") == F.lag("lvl").over(we))
    )
    chain = F.sum(F.when(cont, 0).otherwise(1)).over(we.rowsBetween(Window.unboundedPreceding, 0))
    merged = (
        edge.withColumn("chain", chain)
        .groupBy("conv_id", "chain")
        .agg(
            F.min("lvl").alias("lvl"),
            F.sum("len").alias("len"),
            F.min("srn").alias("srn"),
            F.max("ern").alias("ern"),
        )
        .select("conv_id", "lvl", "len", "srn", "ern")
    )
    return interior.unionByName(merged)


def glrlm_cells(
    df: DataFrame, signal_col: str = "signal", turns_per_bucket: int | None = None
) -> DataFrame:
    """Run cells: (conv_id, lvl, len, c) — see _runs."""
    return _runs(df, signal_col, turns_per_bucket).groupBy(
        "conv_id", "lvl", F.col("len").cast("int").alias("len")
    ).agg(F.count("*").cast("double").alias("c"))


def gldzm_cells(
    df: DataFrame, signal_col: str = "signal", turns_per_bucket: int | None = None
) -> DataFrame:
    """Distance-zone cells: runs keyed by min taxicab distance to the
    conversation border — min over the run's two endpoints, each scored
    min(position, n - position + 1) in 1-based positions (the declarative
    twin of kernels/prep.border_distance + kernels/texture._zone_distance_entries).
    Reference: zrad/radiomics/gldzm.py:28-159."""
    runs = _runs(df, signal_col, turns_per_bucket)
    n = df.groupBy("conv_id").agg(F.count("*").cast("long").alias("_n"))
    d = F.greatest(
        F.least(
            F.least(F.col("srn"), F.col("_n") - F.col("srn") + 1),
            F.least(F.col("ern"), F.col("_n") - F.col("ern") + 1),
        ),
        F.lit(1),
    )
    zones = runs.join(n, "conv_id").select("conv_id", "lvl", d.cast("int").alias("len"))
    return zones.groupBy("conv_id", "lvl", "len").agg(F.count("*").cast("double").alias("c"))


def ngldm_cells(
    df: DataFrame, signal_col: str = "signal", turns_per_bucket: int | None = None
) -> DataFrame:
    """Dependence cells: (conv_id, lvl, dep, c). Salted, both neighbours of
    every own row are visible via 1-row overlap on each side; borrowed
    rows never emit."""
    rows, w, _ = _layout(df, signal_col, turns_per_bucket, overlap=1, overlap_before=1)
    dep = (
        F.when(F.lag("g").over(w) == F.col("g"), 1).otherwise(0)
        + F.when(F.lead("g").over(w) == F.col("g"), 1).otherwise(0)
    )
    return (
        rows.withColumn("dep", dep)
        .where(F.col("own"))
        .groupBy("conv_id", F.col("g").cast("int").alias("lvl"), F.col("dep").cast("int").alias("dep"))
        .agg(F.count("*").cast("double").alias("c"))
    )


def ngtdm_cells(
    df: DataFrame, signal_col: str = "signal", turns_per_bucket: int | None = None
) -> DataFrame:
    """Per-level (n_i, s_i) rows for NGTDM: neighbour mean via lag/lead,
    aggregated per (conv_id, level). Salted, 1-row overlap on each side."""
    rows, w, _ = _layout(df, signal_col, turns_per_bucket, overlap=1, overlap_before=1)
    lg, ld = F.lag("g").over(w), F.lead("g").over(w)
    nb_sum = F.coalesce(lg, F.lit(0.0)) + F.coalesce(ld, F.lit(0.0))
    nb_cnt = lg.isNotNull().cast("int") + ld.isNotNull().cast("int")
    rows = (
        rows.withColumn("nb_sum", nb_sum)
        .withColumn("nb_cnt", nb_cnt)
        .where(F.col("own") & (F.col("nb_cnt") > 0))
    )
    return rows.groupBy("conv_id", F.col("g").cast("int").alias("lvl")).agg(
        F.count("*").cast("double").alias("n_i"),
        F.sum(F.abs(F.col("g") - F.col("nb_sum") / F.col("nb_cnt"))).alias("s_i"),
    )


# per family: cell plan (df, lags, turns_per_bucket) and the cell frame's
# matrix axes (row column, column column, column base); NGTDM's cells are
# whole (n_i, s_i) matrix rows
_PLANS = {
    "glcm": (lambda df, lags, tpb: glcm_cells(df, lags, turns_per_bucket=tpb), ("i", "j", 0)),
    "glrlm": (lambda df, lags, tpb: glrlm_cells(df, turns_per_bucket=tpb), ("lvl", "len", 1)),
    "gldzm": (lambda df, lags, tpb: gldzm_cells(df, turns_per_bucket=tpb), ("lvl", "len", 1)),
    "ngldm": (lambda df, lags, tpb: ngldm_cells(df, turns_per_bucket=tpb), ("lvl", "dep", 0)),
    "ngtdm": (lambda df, lags, tpb: ngtdm_cells(df, turns_per_bucket=tpb), None),
}


def _plan(family: str):
    if family not in _PLANS:
        raise ValueError(f"unknown texture family {family!r}; one of {sorted(_PLANS)}")
    return _PLANS[family]


def texture_features_distributed(
    df: DataFrame, family: str, lags=(1,), turns_per_bucket: int | None = None
) -> DataFrame:
    """One row of ``family`` features per conversation, from its cell plan
    (plain, or salted with ``turns_per_bucket``; ``lags`` is GLCM's). The
    reduction sees <= lvl*width cells per conversation and uses the
    kernel family table's batched reducer — the ordered sde/sdhge folds
    that match the q_gldzm* oracles ride along."""
    build, axes = _plan(family)
    fam = FAMILIES[family]
    vox = df.groupBy("conv_id").agg(
        F.count("*").cast("double").alias("vc"), F.max(F.col("signal")).cast("int").alias("gmax")
    )
    cells = build(df, lags, turns_per_bucket).join(vox, "conv_id")
    schema = T.StructType(
        [T.StructField("conv_id", T.StringType(), False)]
        + [T.StructField(n, T.DoubleType(), True) for n in fam.names]
    )

    def kernel(cols: dict, starts, ends) -> dict:
        # one batched reducer call per bucket: conversation k is matrix id k
        mid = np.repeat(np.arange(starts.size), ends - starts)
        if axes is None:
            i, j, c, w = cols["lvl"], np.zeros(mid.size, np.int64), cols["n_i"], cols["s_i"]
        else:
            i, j, c, w = cols[axes[0]], cols[axes[1]] - axes[2], cols["c"], None
        order = np.lexsort((j, i, mid))
        cells = Cells(
            mid[order], i[order].astype(np.int64), j[order].astype(np.int64),
            c[order].astype(np.float64), None if w is None else w[order].astype(np.float64),
            starts.size, cols["gmax"][starts].astype(np.int64) + 1,
            cols["vc"][starts].astype(np.float64),
        )
        return {"conv_id": cols["conv_id"][starts], **dict(zip(fam.names, fam.reduce(cells)))}

    return map_conversations(cells, kernel, schema, order=())


def texture_features_auto(
    df: DataFrame,
    family: str,
    lags=(1,),
    giant_threshold: int = 1_000_000,
    turns_per_bucket: int = 100_000,
) -> DataFrame:
    """Pick the physical strategy from the DATA: the plain plan (single
    window pass per conversation) when no conversation exceeds
    ``giant_threshold`` turns, else the salt-bucketed exact plan whose
    per-conversation passes spread over many tasks. The decision reads
    one driver-side summary row (skew.skew_metrics). Both plans are
    value-identical (same oracles), so the switch is a pure physical-plan
    decision, like AQE but keyed on entity skew."""
    _plan(family)
    salted = skew_metrics(df)["max_turns"] > giant_threshold
    return texture_features_distributed(df, family, lags, turns_per_bucket if salted else None)
