"""Declarative (pure-JVM) first-order feature plans.

The same 18 statistics / histogram formulas as kernels/firstorder.py
(reference: zrad/radiomics/intensity.py:218-324), expressed entirely with
groupBy/window/built-in aggregates — zero Python in the execution path,
the cutoff grid included (``asof.cutoff_grid`` is built from literals,
not from a pickled Python list).
This is the scale fast-path when only first-order families are requested:
partial aggregation (map-side combine) applies, and Catalyst prunes
columns down to (conv_id, ts, signal).

Two design contracts:

* **Histogram rollup, not row expansion.** ``stats_asof`` never joins
  every turn against every cutoff (O(turns x cutoffs) rows — unbounded
  for dense grids at 10^12 turns). It compacts turns to
  (conv_id, value, cutoff-interval) counts in ONE combine-heavy shuffle,
  expands only the compacted histogram across the (tiny) cutoff grid,
  and computes every statistic — including exact lerp percentiles and
  the rank-trimmed rmad — from the weighted histogram.
* **Deterministic value algebra.** Every statistic is the same fixed
  expression tree over exact aggregates as kernels/firstorder._det_stats
  and the DuckDB oracles (see that docstring): order statistics instead
  of engine percentile lerp, raw moments over exact sums instead of
  Welford, scaled-integer deviations. For integer-valued signals the
  results are bit-identical across Spark / NumPy / DuckDB regardless of
  partitioning — which the driver's 6dp value hash requires.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import memo_plan
from .asof import value_histogram_asof

SENTINEL = 1_000_000.0

KEYS = ["conv_id", "as_of"]

_QFRACS = (("10", 0.1), ("25", 0.25), ("50", 0.5), ("75", 0.75), ("90", 0.9))


def _lerp(nm: str, qf: float) -> Column:
    """NumPy-convention percentile lerp over order statistics a{nm}/b{nm}
    (same tree as kernels/firstorder._pct_sorted and the SQL oracles)."""
    h = (F.col("n") - 1).cast("double") * F.lit(qf)
    t = h - F.floor(h)
    a, b = F.col(f"a{nm}"), F.col(f"b{nm}")
    return (
        F.when(t == 0, a)
        .when(t >= 0.5, b - (b - a) * (F.lit(1.0) - t))
        .otherwise(a + (b - a) * t)
    )


def stats_asof(
    df: DataFrame, spark: SparkSession, cutoffs: Iterable[str], signal_col: str = "signal"
) -> DataFrame:
    """18 intensity statistics per (conv_id, as_of), declaratively, from
    the as-of value histogram (see ``asof.value_histogram_asof`` for the
    scale shape and the module docstring for the determinism contract).
    Turns with a NULL signal are left out: ``n_turns`` counts the turns
    that have a signal, as the kernel path's NaN mask does.

    Pure plan construction (no job, no collect), so the built frame is
    memoized per (application, input frame, cutoffs, signal)."""
    cutoffs = tuple(cutoffs)
    # the build is ~5,000 py4j round-trips (0.5-0.8 s, profiled r6)
    return memo_plan(
        spark,
        ("stats_asof", id(df), cutoffs, signal_col),
        lambda: _stats_asof_build(df, spark, cutoffs, signal_col),
        pin=df,
    )


def _stats_asof_build(
    df: DataFrame, spark: SparkSession, cutoffs: Iterable[str], signal_col: str
) -> DataFrame:
    h = value_histogram_asof(df, spark, cutoffs, signal_col)

    # Single-consumer window-chained pipeline: every group-level scalar
    # (sums, order statistics, trim bounds, trimmed sums) is attached to
    # the histogram rows via unbounded windows over ONE (conv_id, as_of)
    # partitioning, then a final groupBy on the same keys emits one row
    # per group. No self-joins, no multi-consumption of the histogram
    # subtree (which would recompute the full-data shuffle per consumer),
    # and Catalyst folds the chained Window projections into one exchange.
    c, xx = F.col("c"), F.col("x")
    wk = Window.partitionBy(*KEYS)
    wo = Window.partitionBy(*KEYS).orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    r = h.select(
        *KEYS, "x", "c",
        F.sum("c").over(wk).alias("n"),
        F.sum("c").over(wo).alias("cum"),
    )

    cum, n = F.col("cum"), F.col("n")

    def at_rank(rank: Column) -> Column:
        # value at 1-based rank r: the histogram row whose cumulative
        # range [cum-c+1, cum] contains r
        return F.max(F.when((cum - c < rank) & (rank <= cum), xx)).over(wk)

    rank_cols = []
    for nm, qf in _QFRACS:
        j = F.floor((n - 1).cast("double") * F.lit(qf)).cast("long")
        rank_cols.append(at_rank(j + 1).alias(f"a{nm}"))
        rank_cols.append(at_rank(j + 2).alias(f"b{nm}"))
    r = r.select(
        *KEYS, "x", "c", "n", "cum",
        F.sum(c * xx).over(wk).alias("s1"),
        F.sum(c * (xx * xx)).over(wk).alias("s2"),
        F.sum(c * ((xx * xx) * xx)).over(wk).alias("s3"),
        F.sum(c * ((xx * xx) * (xx * xx))).over(wk).alias("s4"),
        F.min(xx).over(wk).alias("mn"),
        F.max(xx).over(wk).alias("mx"),
        *rank_cols,
    )

    nn = F.col("n")
    mean_e = F.col("s1") / nn
    var_e = F.greatest(F.col("s2") / nn - (F.col("s1") / nn) * (F.col("s1") / nn), F.lit(0.0))
    h10 = (nn - 1).cast("double") * F.lit(0.1)
    t10 = h10 - F.floor(h10)
    lo_b = F.when((t10 > 0) & (F.col("b10") > F.col("a10")), F.col("b10")).otherwise(F.col("a10"))
    r = r.select(
        *KEYS, "x", "c", "n", "s1", "s2", "s3", "s4", "mn", "mx",
        mean_e.alias("mean"),
        var_e.alias("var"),
        *[_lerp(nm, qf).alias(f"p{nm}") for nm, qf in _QFRACS],
        lo_b.alias("lo_b"),
        F.col("a90").alias("hi_b"),
    )
    trim = (xx >= F.col("lo_b")) & (xx <= F.col("hi_b"))
    r = r.withColumn("m", F.sum(F.when(trim, c)).over(wk)).withColumn(
        "st", F.sum(F.when(trim, c * xx)).over(wk)
    )

    firsts = [
        F.first(col).alias(col)
        for col in ["n", "s1", "s2", "s3", "s4", "mn", "mx", "mean", "var",
                    "p10", "p25", "p50", "p75", "p90", "m"]
    ]
    j = r.groupBy(*KEYS).agg(
        *firsts,
        F.sum(c * F.abs(F.col("n") * xx - F.col("s1"))).alias("sad1"),
        F.sum(c * F.abs(xx - F.col("p50"))).alias("sadmed"),
        F.sum(F.when(trim, c * F.abs(F.col("m") * xx - F.col("st")))).alias("sadt"),
    )
    mean, var = F.col("mean"), F.col("var")
    s2n = F.col("s2") / nn
    s3n = F.col("s3") / nn
    s4n = F.col("s4") / nn
    skew = F.when(var == 0, 0.0).otherwise(
        (s3n - F.lit(3.0) * mean * s2n + F.lit(2.0) * mean * mean * mean)
        / (var * F.sqrt(var))
    )
    kurt = F.when(var == 0, 0.0).otherwise(
        (
            s4n - F.lit(4.0) * mean * s3n + F.lit(6.0) * (mean * mean) * s2n
            - F.lit(3.0) * ((mean * mean) * (mean * mean))
        ) / (var * var) - F.lit(3.0)
    )
    return j.select(
        *KEYS,
        nn.cast("long").alias("n_turns"),
        mean.alias("stat_mean"),
        var.alias("stat_var"),
        skew.alias("stat_skew"),
        kurt.alias("stat_kurt"),
        F.col("p50").alias("stat_median"),
        F.col("mn").alias("stat_min"),
        F.col("p10").alias("stat_p10"),
        F.col("p90").alias("stat_p90"),
        F.col("mx").alias("stat_max"),
        (F.col("p75") - F.col("p25")).alias("stat_iqr"),
        (F.col("mx") - F.col("mn")).alias("stat_range"),
        (F.col("sad1") / (nn * nn)).alias("stat_mad"),
        (F.col("sadt") / (F.col("m") * F.col("m"))).alias("stat_rmad"),
        (F.col("sadmed") / nn).alias("stat_medad"),
        F.when(mean == 0, SENTINEL).otherwise(F.sqrt(var) / mean).alias("stat_cov"),
        F.when(F.col("p75") + F.col("p25") == 0, SENTINEL)
        .otherwise((F.col("p75") - F.col("p25")) / (F.col("p75") + F.col("p25")))
        .alias("stat_qcod"),
        F.col("s2").alias("stat_energy"),
        F.sqrt(s2n).alias("stat_rms"),
    )


def _fbn_grey(x: Column, lo: Column, hi: Column, n_bins: int) -> Column:
    """Leakage-safe FBN grey level (discretization.py:117-137): min/max
    come from the cutoff-filtered population only — a global min/max
    would be a temporal leak (SURVEY.md §4)."""
    return (
        F.when(hi == lo, F.lit(1.0))
        .when(x == hi, F.lit(float(n_bins)))
        .otherwise(F.floor(n_bins * (x - lo) / (hi - lo)) + 1)
    )


def fbn_hist_asof(
    df: DataFrame, spark: SparkSession, cutoffs: Iterable[str], n_bins: int, signal_col: str = "signal"
) -> DataFrame:
    """(conv_id, as_of, grey, ci) — the FBN grey-level histogram computed
    entirely from the compacted value histogram, never from expanded
    turns (the module's no-row-expansion contract, same shape as
    stats_asof): per-group lo/hi are window min/max over the ALREADY
    compacted (distinct-value x interval) rows, each compacted row is
    binned carrying its count, and a groupBy on the same keys sums counts
    per grey level. A daily/hourly backfill grid multiplies only the
    compacted histogram, not the 10^12 raw turns."""
    h = value_histogram_asof(df, spark, cutoffs, signal_col)
    w = Window.partitionBy(*KEYS)
    x = F.col("x")
    grey = _fbn_grey(x, F.min(x).over(w), F.max(x).over(w), n_bins)
    return (
        h.select(*KEYS, grey.cast("double").alias("grey"), "c")
        .groupBy(*KEYS, "grey")
        .agg(F.sum("c").cast("long").alias("ci"))
    )


def hist_asof(
    df: DataFrame, spark: SparkSession, cutoffs: Iterable[str], n_bins: int, signal_col: str = "signal"
) -> DataFrame:
    """Histogram features per (conv_id, as_of) on FBN grey levels,
    declaratively: entropy, uniformity, mode (smallest level among maximal
    counts, matching np.unique+argmax), and the np.gradient max/min over
    per-level counts via lag/lead central differences
    (intensity.py:179-185, 284-324).

    Scale shape: rides :func:`fbn_hist_asof`'s compacted histogram path —
    one combine-heavy full-data shuffle, grid amplification bounded by
    (distinct values x cutoffs), no turn expansion (plan-asserted by
    tests/test_plans.py).

    Pure plan construction (no job, no collect), so the built frame is
    memoized per (application, input frame, cutoffs, bins, signal)."""
    cutoffs = tuple(cutoffs)
    return memo_plan(
        spark,
        ("hist_asof", id(df), cutoffs, n_bins, signal_col),
        lambda: _hist_asof_build(df, spark, cutoffs, n_bins, signal_col),
        pin=df,
    )


def _hist_asof_build(
    df: DataFrame, spark: SparkSession, cutoffs: Iterable[str], n_bins: int, signal_col: str
) -> DataFrame:
    counts = fbn_hist_asof(df, spark, cutoffs, n_bins, signal_col)
    wk = Window.partitionBy(*KEYS)
    wo = Window.partitionBy(*KEYS).orderBy("grey").rowsBetween(Window.unboundedPreceding, 0)
    counts = (
        counts.withColumn("n", F.sum("ci").over(wk))
        .withColumn("cum", F.sum("ci").over(wo))
        .withColumn("c", F.col("ci").cast("double"))
    )
    counts = counts.withColumn("p", F.col("c") / F.col("n"))
    wl = Window.partitionBy(*KEYS).orderBy("grey")
    prev_c = F.lag("c").over(wl)
    next_c = F.lead("c").over(wl)
    grad = (
        F.when(prev_c.isNull() & next_c.isNull(), F.lit(None).cast("double"))
        .when(prev_c.isNull(), next_c - F.col("c"))
        .when(next_c.isNull(), F.col("c") - prev_c)
        .otherwise((next_c - prev_c) / 2)
    )
    counts = counts.withColumn("grad", grad)
    n_levels = F.count("*").over(wk)
    counts = counts.withColumn("n_levels", n_levels)

    mode_w = Window.partitionBy(*KEYS).orderBy(F.col("c").desc(), F.col("grey").asc())
    maxg_w = Window.partitionBy(*KEYS).orderBy(F.col("grad").desc(), F.col("grey").asc())
    ming_w = Window.partitionBy(*KEYS).orderBy(F.col("grad").asc(), F.col("grey").asc())
    counts = (
        counts.withColumn("rn_mode", F.row_number().over(mode_w))
        .withColumn("rn_maxg", F.row_number().over(maxg_w))
        .withColumn("rn_ming", F.row_number().over(ming_w))
    )
    # moments from the SAME counts pass with the deterministic value
    # algebra (module docstring): exact integer sums, order-statistic
    # median — no second scan of g, no var_pop/percentile lerp drift
    ci, cum, n, gy = F.col("ci"), F.col("cum"), F.col("n"), F.col("grey")
    j50 = F.floor((n - 1).cast("double") * F.lit(0.5)).cast("long")
    agg = counts.groupBy(*KEYS).agg(
        (-F.sum(F.col("p") * F.log2("p"))).alias("ih_entropy"),
        (F.sum(ci * ci) / (F.max("n") * F.max("n"))).alias("ih_uniformity"),
        F.max(F.when(F.col("rn_mode") == 1, F.col("grey"))).alias("ih_mode"),
        F.max(F.when((F.col("rn_maxg") == 1) & (F.col("n_levels") > 1), F.col("grad"))).alias("ih_max_grad"),
        F.max(F.when((F.col("rn_maxg") == 1) & (F.col("n_levels") > 1), F.col("grey"))).alias("ih_max_grad_g"),
        F.max(F.when((F.col("rn_ming") == 1) & (F.col("n_levels") > 1), F.col("grad"))).alias("ih_min_grad"),
        F.max(F.when((F.col("rn_ming") == 1) & (F.col("n_levels") > 1), F.col("grey"))).alias("ih_min_grad_g"),
        F.max("n").alias("n"),
        F.sum(ci * gy).alias("s1"),
        F.sum(ci * (gy * gy)).alias("s2"),
        F.min(gy).alias("ih_min"),
        F.max(gy).alias("ih_max"),
        F.max(F.when((cum - ci < j50 + 1) & (j50 + 1 <= cum), gy)).alias("a50"),
        F.max(F.when((cum - ci < j50 + 2) & (j50 + 2 <= cum), gy)).alias("b50"),
    )
    nn = F.col("n")
    mean = F.col("s1") / nn
    return agg.select(
        *KEYS,
        mean.alias("ih_mean"),
        F.greatest(F.col("s2") / nn - (F.col("s1") / nn) * (F.col("s1") / nn), F.lit(0.0)).alias("ih_var"),
        _lerp("50", 0.5).alias("ih_median"),
        "ih_min",
        "ih_max",
        "ih_entropy",
        "ih_uniformity",
        "ih_mode",
        "ih_max_grad",
        "ih_max_grad_g",
        "ih_min_grad",
        "ih_min_grad_g",
    )
