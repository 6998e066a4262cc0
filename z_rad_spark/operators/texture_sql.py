"""Distributed texture-matrix plans — the giant-conversation scale path.

The grouped-map extractor materializes one conversation per task; a
10^8-turn conversation would blow that task. These plans instead build
the texture matrices DECLARATIVELY:

* pairs / runs / dependence counts come from window functions over
  (conv_id, ts, turn_idx) — one pass, whole-stage codegen;
* the matrix is a groupBy on (conv_id, cell) — the shuffle key includes
  the cell, so ONE conversation's work spreads over many reducers
  (map-side partial counts make the shuffle tiny: <= lvl^2 rows per
  conversation per map task);
* the final 16/25-formula reduction runs on <= lvl^2 rows per
  conversation — a trivially small applyInPandas (or could be a second
  groupBy; the kernel keeps formula code shared with the extractor).

Results are value-identical to the extractor's 3D MERG path (tested), so
the engine can switch paths per conversation size (operators/skew.py
metrics drive the choice).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.texture import FAMILIES

_W = lambda: Window.partitionBy("conv_id").orderBy("ts", "turn_idx")  # noqa: E731


def _grey(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    return df.select("conv_id", "ts", "turn_idx", F.col(signal_col).cast("double").alias("g"))


def glcm_cells(df: DataFrame, lags=(1,), signal_col: str = "signal") -> DataFrame:
    """Symmetrized lag-k co-occurrence counts: (conv_id, i, j, c)."""
    g = _grey(df, signal_col)
    parts = []
    for lag in lags:
        lead = F.lead("g", lag).over(_W())
        p = g.select("conv_id", F.col("g").alias("a"), lead.alias("b")).where(F.col("b").isNotNull())
        parts.append(p)
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    sym = pairs.unionByName(pairs.select("conv_id", F.col("b").alias("a"), F.col("a").alias("b")))
    return sym.groupBy("conv_id", F.col("a").cast("int").alias("i"), F.col("b").cast("int").alias("j")).agg(
        F.count("*").cast("double").alias("c")
    )


def glrlm_cells(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Run cells: (conv_id, lvl, len, c) via gaps-and-islands windows."""
    g = _grey(df, signal_col)
    w = _W()
    brk = F.when(F.lag("g").over(w).isNull() | (F.lag("g").over(w) != F.col("g")), 1).otherwise(0)
    marked = g.withColumn("brk", brk)
    run_id = F.sum("brk").over(
        Window.partitionBy("conv_id").orderBy("ts", "turn_idx").rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = (
        marked.withColumn("run_id", run_id)
        .groupBy("conv_id", "run_id")
        .agg(F.min("g").cast("int").alias("lvl"), F.count("*").cast("int").alias("len"))
    )
    return runs.groupBy("conv_id", "lvl", "len").agg(F.count("*").cast("double").alias("c"))


def ngldm_cells(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Dependence cells: (conv_id, lvl, dep, c)."""
    g = _grey(df, signal_col)
    w = _W()
    dep = (
        F.when(F.lag("g").over(w) == F.col("g"), 1).otherwise(0)
        + F.when(F.lead("g").over(w) == F.col("g"), 1).otherwise(0)
    )
    return (
        g.withColumn("dep", dep)
        .groupBy("conv_id", F.col("g").cast("int").alias("lvl"), F.col("dep").cast("int").alias("dep"))
        .agg(F.count("*").cast("double").alias("c"))
    )


def _vox(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    return df.groupBy("conv_id").agg(
        F.count("*").cast("double").alias("vc"),
        F.max(F.col(signal_col)).cast("int").alias("gmax"),
    )


def _bucketed_reduce(joined: DataFrame, one, names) -> DataFrame:
    """Grouped-map reduction per hash BUCKET of conversations (one Arrow
    crossing per bucket, numpy slicing per conversation inside) — the same
    boundary amortization as the extractor: a per-conversation grouped map
    at 10^8 entities is Python-boundary-bound, not compute-bound."""
    schema = T.StructType(
        [T.StructField("conv_id", T.StringType(), False)]
        + [T.StructField(n, T.DoubleType(), True) for n in names]
    )
    columns = [f.name for f in schema.fields]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for conv, grp in pdf.groupby("conv_id", sort=False):
            row = {"conv_id": conv}
            row.update(one(grp))
            rows.append(row)
        return pd.DataFrame(rows, columns=columns)

    spark = joined.sparkSession
    n_parts = max(2 * spark.sparkContext.defaultParallelism, 8)
    bucketed = joined.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_parts)).cast("int")
    )
    return bucketed.repartition(n_parts, "bucket").groupBy("bucket").applyInPandas(
        kernel, schema=schema
    )


# cell-frame layout per family: (row column, column column, column base)
_CELL_AXES = {
    "glcm": ("i", "j", 0),
    "glrlm": ("lvl", "len", 1),
    "gldzm": ("lvl", "len", 1),
    "ngldm": ("lvl", "dep", 0),
}


def _cells_to_features(cells: DataFrame, vox: DataFrame, kind: str) -> DataFrame:
    """Reduce per-conversation cell lists with the kernel family table's
    reducer (kernels/texture.FAMILIES — the DZM ordered sde/sdhge folds
    that match the q_gldzm* oracles ride along).

    Input cardinality is <= lvl*width per conversation — tiny — so the
    reduction runs through ``_bucketed_reduce``."""
    fam = FAMILIES[kind]
    row, col, base = _CELL_AXES[kind]

    def one(pdf: pd.DataFrame) -> dict:
        r, c = pdf[row].to_numpy(), pdf[col].to_numpy() - base
        m = np.zeros((int(pdf["gmax"].iloc[0]) + 1, int(c.max()) + 1))
        m[r, c] = pdf["c"].to_numpy()
        return dict(zip(fam.names, fam.reduce(m, float(pdf["vc"].iloc[0])).values()))

    return _bucketed_reduce(cells.join(vox, "conv_id"), one, fam.names)


def glcm_cells_salted(
    df: DataFrame, lags=(1,), turns_per_bucket: int = 100_000, signal_col: str = "signal"
) -> DataFrame:
    """Salt-bucketed co-occurrence counts — exact, for giant conversations.

    Each conversation is split into ~turns_per_bucket row buckets with a
    max(lags)-row overlap replicated (read-only, own=false) into the
    previous bucket, so every lag-k pair is observed by exactly the bucket
    owning its LEFT endpoint (SURVEY.md §4 item 2). The window partition
    key becomes (conv_id, bucket): one conversation's pair extraction
    spreads over many tasks instead of one, and the matrix merge is the
    same associative cell groupBy as glcm_cells (sums of partial counts).
    """
    from .skew import with_salt_bucket

    g = df.select("conv_id", "ts", "turn_idx", F.col(signal_col).cast("double").alias("g"))
    b = with_salt_bucket(g, turns_per_bucket=turns_per_bucket, overlap=max(lags))
    w = Window.partitionBy("conv_id", "bucket").orderBy("ts", "turn_idx")
    parts = []
    for lag in lags:
        lead = F.lead("g", lag).over(w)
        p = (
            b.select("conv_id", "own", F.col("g").alias("a"), lead.alias("b"))
            .where(F.col("b").isNotNull() & F.col("own"))
            .drop("own")
        )
        parts.append(p)
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    sym = pairs.unionByName(pairs.select("conv_id", F.col("b").alias("a"), F.col("a").alias("b")))
    return sym.groupBy(
        "conv_id", F.col("a").cast("int").alias("i"), F.col("b").cast("int").alias("j")
    ).agg(F.count("*").cast("double").alias("c"))


def _runs_salted(
    df: DataFrame, turns_per_bucket: int = 100_000, signal_col: str = "signal"
) -> DataFrame:
    """Salt-bucketed exact distributed RLE with run POSITIONS — the shared
    machinery for giant-conversation GLRLM and GLDZM. Buckets partition
    each conversation (no overlap); local gaps-and-islands finds
    per-bucket runs; runs interior to a bucket are final, and the <=2
    border runs per bucket are merged across adjacent buckets by a second
    (tiny) gaps-and-islands over the edge-run sequence — a run spanning
    whole buckets chains through them exactly once. Output: one row per
    final run (conv_id, lvl, len, srn, ern) with 1-based start/end
    positions (srn/ern = turn_idx + 1, valid under the transcripts
    ordinal contract)."""
    from .skew import with_salt_bucket

    g = df.select("conv_id", "ts", "turn_idx", F.col(signal_col).cast("double").alias("g"))
    b = with_salt_bucket(g, turns_per_bucket=turns_per_bucket, overlap=0)
    wb = Window.partitionBy("conv_id", "bucket").orderBy("ts", "turn_idx")
    brk = F.when(F.lag("g").over(wb).isNull() | (F.lag("g").over(wb) != F.col("g")), 1).otherwise(0)
    run_id = F.sum(brk).over(wb.rowsBetween(Window.unboundedPreceding, 0))
    runs = (
        b.withColumn("run_id", run_id)
        .groupBy("conv_id", "bucket", "run_id")
        .agg(
            F.min("g").cast("int").alias("lvl"),
            F.count("*").cast("long").alias("len"),
            (F.min("turn_idx") + 1).cast("long").alias("srn"),
            (F.max("turn_idx") + 1).cast("long").alias("ern"),
        )
    )
    wmax = Window.partitionBy("conv_id", "bucket")
    runs = runs.withColumn("n_runs", F.max("run_id").over(wmax))
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


def glrlm_cells_salted(
    df: DataFrame, turns_per_bucket: int = 100_000, signal_col: str = "signal"
) -> DataFrame:
    """Salt-bucketed run cells (conv_id, lvl, len, c) — see _runs_salted."""
    allruns = _runs_salted(df, turns_per_bucket, signal_col)
    return allruns.groupBy(
        "conv_id", "lvl", F.col("len").cast("int").alias("len")
    ).agg(F.count("*").cast("double").alias("c"))


def gldzm_cells_salted(
    df: DataFrame, turns_per_bucket: int = 100_000, signal_col: str = "signal"
) -> DataFrame:
    """Salt-bucketed distance-zone cells: the same merged runs as GLRLM's
    salted path, keyed by min taxicab distance of the run's endpoints to
    the conversation border (identical distance formula to gldzm_cells).
    Reference: zrad/radiomics/gldzm.py:28-159."""
    runs = _runs_salted(df, turns_per_bucket, signal_col)
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


def gldzm_features_salted(
    df: DataFrame, turns_per_bucket: int = 100_000, signal_col: str = "signal"
) -> DataFrame:
    return _cells_to_features(
        gldzm_cells_salted(df, turns_per_bucket, signal_col), _vox(df, signal_col), "gldzm"
    )


def gldzm_cells(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    """Distance-zone cells: runs keyed by min taxicab distance to the
    conversation border — min over the run's two endpoints, each scored
    min(position, n - position + 1) in 1-based positions (the declarative
    twin of kernels/prep.border_distance + kernels/texture.dzm_matrix)."""
    g = _grey(df, signal_col)
    w = _W()
    brk = F.when(F.lag("g").over(w).isNull() | (F.lag("g").over(w) != F.col("g")), 1).otherwise(0)
    rn = F.row_number().over(w)
    marked = g.withColumn("rn", rn).withColumn("brk", brk)
    run_id = F.sum("brk").over(
        Window.partitionBy("conv_id").orderBy("ts", "turn_idx").rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = (
        marked.withColumn("run_id", run_id)
        .groupBy("conv_id", "run_id")
        .agg(
            F.min("g").cast("int").alias("lvl"),
            F.min("rn").cast("long").alias("srn"),
            F.max("rn").cast("long").alias("ern"),
        )
    )
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


def ngldm_cells_salted(
    df: DataFrame, turns_per_bucket: int = 100_000, signal_col: str = "signal"
) -> DataFrame:
    """Salt-bucketed dependence cells: both neighbours of every own row are
    visible via 1-row overlap on each side; borrowed rows never emit."""
    from .skew import with_salt_bucket

    g = df.select("conv_id", "ts", "turn_idx", F.col(signal_col).cast("double").alias("g"))
    b = with_salt_bucket(g, turns_per_bucket=turns_per_bucket, overlap=1, overlap_before=1)
    w = Window.partitionBy("conv_id", "bucket").orderBy("ts", "turn_idx")
    dep = (
        F.when(F.lag("g").over(w) == F.col("g"), 1).otherwise(0)
        + F.when(F.lead("g").over(w) == F.col("g"), 1).otherwise(0)
    )
    return (
        b.withColumn("dep", dep)
        .where(F.col("own"))
        .groupBy("conv_id", F.col("g").cast("int").alias("lvl"), F.col("dep").cast("int").alias("dep"))
        .agg(F.count("*").cast("double").alias("c"))
    )


def ngtdm_cells(
    df: DataFrame, signal_col: str = "signal", turns_per_bucket: int | None = None
) -> DataFrame:
    """Per-level (n_i, s_i) rows for NGTDM: neighbour mean via lag/lead,
    aggregated per (conv_id, level). With ``turns_per_bucket`` the window
    runs per salt bucket with 1-row overlap on each side — exact, and one
    giant conversation's pass spreads over many tasks."""
    g = _grey(df, signal_col)
    if turns_per_bucket is None:
        w = _W()
        rows = g.withColumn("own", F.lit(True))
    else:
        from .skew import with_salt_bucket

        rows = with_salt_bucket(g, turns_per_bucket=turns_per_bucket, overlap=1, overlap_before=1)
        w = Window.partitionBy("conv_id", "bucket").orderBy("ts", "turn_idx")
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


def ngtdm_features_distributed(
    df: DataFrame, signal_col: str = "signal", turns_per_bucket: int | None = None
) -> DataFrame:
    """NGTDM features from per-level cells (<= lvl rows per conversation),
    reduced per hash bucket — one Arrow crossing per bucket, not per
    conversation (same amortization as every other distributed reducer)."""
    cells = ngtdm_cells(df, signal_col, turns_per_bucket)
    vox = _vox(df, signal_col)
    joined = cells.join(vox, "conv_id")

    fam = FAMILIES["ngtdm"]

    def one(pdf: pd.DataFrame) -> dict:
        m = np.zeros((int(pdf["gmax"].iloc[0]) + 1, 2))
        m[pdf["lvl"].to_numpy()] = pdf[["n_i", "s_i"]].to_numpy()
        return fam.reduce(m, float(pdf["vc"].iloc[0]))

    return _bucketed_reduce(joined, one, fam.names)


def glcm_features_distributed(df: DataFrame, lags=(1,), signal_col: str = "signal") -> DataFrame:
    return _cells_to_features(glcm_cells(df, lags, signal_col), _vox(df, signal_col), "glcm")


def gldzm_features_distributed(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    return _cells_to_features(gldzm_cells(df, signal_col), _vox(df, signal_col), "gldzm")


def glrlm_features_salted(
    df: DataFrame, turns_per_bucket: int = 100_000, signal_col: str = "signal"
) -> DataFrame:
    return _cells_to_features(
        glrlm_cells_salted(df, turns_per_bucket, signal_col), _vox(df, signal_col), "glrlm"
    )


def ngldm_features_salted(
    df: DataFrame, turns_per_bucket: int = 100_000, signal_col: str = "signal"
) -> DataFrame:
    return _cells_to_features(
        ngldm_cells_salted(df, turns_per_bucket, signal_col), _vox(df, signal_col), "ngldm"
    )


def glcm_features_salted(
    df: DataFrame, lags=(1,), turns_per_bucket: int = 100_000, signal_col: str = "signal"
) -> DataFrame:
    """Value-identical to glcm_features_distributed (same oracle); the pair
    extraction itself is parallel within a conversation."""
    return _cells_to_features(
        glcm_cells_salted(df, lags, turns_per_bucket, signal_col), _vox(df, signal_col), "glcm"
    )


def glrlm_features_distributed(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    return _cells_to_features(glrlm_cells(df, signal_col), _vox(df, signal_col), "glrlm")


def ngldm_features_distributed(df: DataFrame, signal_col: str = "signal") -> DataFrame:
    return _cells_to_features(ngldm_cells(df, signal_col), _vox(df, signal_col), "ngldm")


_AUTO_PATHS = {
    "glcm": (glcm_features_distributed, glcm_features_salted),
    "glrlm": (glrlm_features_distributed, glrlm_features_salted),
    "gldzm": (gldzm_features_distributed, gldzm_features_salted),
    "ngldm": (ngldm_features_distributed, ngldm_features_salted),
    "ngtdm": (
        ngtdm_features_distributed,
        lambda df, turns_per_bucket=100_000, signal_col="signal": ngtdm_features_distributed(
            df, signal_col, turns_per_bucket
        ),
    ),
}


def texture_features_auto(
    df: DataFrame,
    family: str,
    signal_col: str = "signal",
    giant_threshold: int = 1_000_000,
    turns_per_bucket: int = 100_000,
    **kw,
) -> DataFrame:
    """Pick the physical strategy from the DATA: the plain distributed
    plan (single window pass per conversation) when no conversation
    exceeds ``giant_threshold`` turns, else the salt-bucketed exact plan
    whose per-conversation passes spread over many tasks. The decision
    reads one driver-side summary row (operators/skew.skew_metrics) —
    the module docstring's "metrics drive the choice", made concrete.
    Both paths are value-identical (same oracles), so the switch is a
    pure physical-plan decision, like AQE but keyed on entity skew."""
    from .skew import skew_metrics

    if family not in _AUTO_PATHS:
        raise ValueError(f"unknown texture family {family!r}; one of {sorted(_AUTO_PATHS)}")
    plain, salted = _AUTO_PATHS[family]
    m = skew_metrics(df)
    if m["max_turns"] > giant_threshold:
        return salted(df, turns_per_bucket=turns_per_bucket, signal_col=signal_col, **kw)
    return plain(df, signal_col=signal_col, **kw)
