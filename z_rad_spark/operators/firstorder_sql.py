"""Declarative (pure-JVM) first-order feature plans.

The same 18 statistics / histogram formulas as kernels/firstorder.py
(reference: zrad/radiomics/intensity.py:218-324), expressed entirely with
groupBy/window/built-in aggregates — zero Python in the execution path,
the cutoff grid included (``asof.cutoff_grid`` is built from literals,
not from a pickled Python list).
This is the scale fast-path when only first-order families are requested:
partial aggregation (map-side combine) applies, and Catalyst prunes
columns down to (conv_id, ts, signal).

Three design contracts:

* **Histogram rollup, not row expansion.** ``stats_asof`` never joins
  every turn against every cutoff (O(turns x cutoffs) rows — unbounded
  for dense grids at 10^12 turns). It compacts turns to
  (conv_id, value, cutoff-interval) counts in ONE combine-heavy shuffle,
  expands only the compacted histogram across the (tiny) cutoff grid,
  and computes every statistic — including exact lerp percentiles and
  the rank-trimmed rmad — from the weighted histogram.
* **One conv_id layout, one value order.** The compacted rows move once
  more, by ``conv_id`` (``asof.value_histogram_asof``); everything after
  that runs on that partitioning with no further exchange: at most two
  Window operators over ONE ``(conv_id, as_of)`` spec ordered by value
  (by grey level for ``hist_asof``), so one sort, then one
  ``groupBy(conv_id, as_of)``. Order statistics are
  ``exprs.value_at_rank`` picks on the running count ``cum``, and a value
  range bounded by order statistics is a rank predicate:
  ``x >= value_at_rank(r)`` iff ``cum >= r`` and
  ``x <= value_at_rank(r)`` iff ``cum - c < r``. The stats plan thus
  has 2 hash exchanges, 2 Windows and 1 Sort; ``hist_asof`` has 2, 2
  and 2 (its per-cutoff min/max binning window is the second).
* **Deterministic value algebra.** Every statistic is the same fixed
  expression tree over exact aggregates as kernels/firstorder._det_stats
  and the DuckDB oracles (see that docstring): order statistics instead
  of engine percentile lerp, raw moments over exact sums instead of
  Welford, scaled-integer deviations. Every float sum runs in ascending
  value (grey) order, the one order all operators after the sort read.
  For integer-valued signals the results are bit-identical across
  Spark / NumPy / DuckDB regardless of partitioning — which the
  driver's 6dp value hash requires.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import memo_plan
from .asof import value_histogram_asof
from .exprs import running_counts, value_at_rank

SENTINEL = 1_000_000.0

KEYS = ["conv_id", "as_of"]

_QFRACS = (("10", 0.1), ("25", 0.25), ("50", 0.5), ("75", 0.75), ("90", 0.9))


def _lerp(nm: str, qf: float) -> Column:
    """NumPy-convention percentile lerp over order statistics a{nm}/b{nm}
    of ``_n`` values (same tree as kernels/firstorder._pct_sorted and the
    SQL oracles)."""
    h = (F.col("_n") - 1).cast("double") * F.lit(qf)
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
    Turns with a NULL or NaN signal are left out: ``n_turns`` counts the
    turns that have a signal, as the kernel path's NaN mask does.

    Pure plan construction (no job, no collect), so the built frame is
    memoized per (application, input frame, cutoffs, signal)."""
    cutoffs = tuple(cutoffs)
    # on a 29-cutoff grid the Column-API build makes ~5,200 py4j calls
    # (~400 of them the value histogram's): ~0.6 s on a warm JVM (4-core
    # x86 host)
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

    # Everything after the histogram reads its conv_id partitioning and
    # one (conv_id, as_of, x) order: two Window operators over the same
    # x-ordered spec (one sort), then one groupBy on the same keys. Every
    # float sum therefore runs in ascending x order, whichever operator
    # holds it.
    c, xx = F.col("c"), F.col("x")
    whole = (
        Window.partitionBy(*KEYS)
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # s1 goes below the running counts so that Catalyst merges the two
    # (its c * x input is projected beneath its own window)
    r = running_counts(
        h.select(*KEYS, "x", "c", F.sum(c * xx).over(whole).alias("s1")), KEYS, "x", "c"
    )

    cum, n = F.col("_cum"), F.col("_n")

    def rank(qf: float) -> Column:
        # 1-based rank of the lower order statistic of the qf percentile
        return F.floor((n - 1).cast("double") * F.lit(qf)).cast("long") + 1

    # The rank-trimmed range [value_at_rank(r_lo), value_at_rank(r_hi)]
    # is a predicate on rank alone: x >= value_at_rank(r) <=> cum >= r and
    # x <= value_at_rank(r) <=> cum - c < r. The lower bound is b10 when
    # the 10th percentile interpolates (t10 > 0), else a10; when
    # b10 = a10 both ranks select the same rows.
    h10 = (n - 1).cast("double") * F.lit(0.1)
    r_lo = rank(0.1) + F.when(h10 - F.floor(h10) > 0, 1).otherwise(0)
    trim = (cum >= r_lo) & (cum - c < rank(0.9))
    r = r.select(
        *KEYS, "x", "c", "_n", "s1", "_cum",
        value_at_rank("x", rank(0.5)).over(whole).alias("a50"),
        value_at_rank("x", rank(0.5) + 1).over(whole).alias("b50"),
        F.sum(F.when(trim, c)).over(whole).alias("m"),
        F.sum(F.when(trim, c * xx)).over(whole).alias("st"),
    )

    rank_picks = []
    for nm, qf in _QFRACS:
        if nm != "50":
            rank_picks.append(value_at_rank("x", rank(qf)).alias(f"a{nm}"))
            rank_picks.append(value_at_rank("x", rank(qf) + 1).alias(f"b{nm}"))
    j = r.groupBy(*KEYS).agg(
        *[F.first(col).alias(col) for col in ["_n", "s1", "a50", "b50", "m", "st"]],
        F.sum(c * (xx * xx)).alias("s2"),
        F.sum(c * ((xx * xx) * xx)).alias("s3"),
        F.sum(c * ((xx * xx) * (xx * xx))).alias("s4"),
        F.min(xx).alias("mn"),
        F.max(xx).alias("mx"),
        *rank_picks,
        F.sum(c * F.abs(n * xx - F.col("s1"))).alias("sad1"),
        F.sum(c * F.abs(xx - _lerp("50", 0.5))).alias("sadmed"),
        F.sum(F.when(trim, c * F.abs(F.col("m") * xx - F.col("st")))).alias("sadt"),
    )
    mean = F.col("s1") / n
    var = F.greatest(F.col("s2") / n - (F.col("s1") / n) * (F.col("s1") / n), F.lit(0.0))
    j = j.select(
        "*",
        mean.alias("mean"),
        var.alias("var"),
        *[_lerp(nm, qf).alias(f"p{nm}") for nm, qf in _QFRACS],
    )
    mean, var = F.col("mean"), F.col("var")
    s2n = F.col("s2") / n
    s3n = F.col("s3") / n
    s4n = F.col("s4") / n
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
        n.cast("long").alias("n_turns"),
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
        (F.col("sad1") / (n * n)).alias("stat_mad"),
        (F.col("sadt") / (F.col("m") * F.col("m"))).alias("stat_rmad"),
        (F.col("sadmed") / n).alias("stat_medad"),
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
    one combine-heavy full-data shuffle plus one shuffle of compacted
    rows by conv_id, grid amplification bounded by (distinct values x
    cutoffs), no turn expansion — then one grey-ordered Window (count
    total, running count, lag/lead) and one groupBy, where mode
    and the gradient extremes are ``min(struct(key, grey))`` picks
    (plan-asserted by tests/test_plans.py).

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
    # One grey-ordered Window over the per-level counts holds every
    # neighbour and group scalar; the groupBy on the same keys then reads
    # the rows in ascending grey order, so its sums (the entropy's
    # included) run in that order.
    counts = fbn_hist_asof(df, spark, cutoffs, n_bins, signal_col)
    wg = Window.partitionBy(*KEYS).orderBy("grey")
    ci = F.col("ci")
    c = ci.cast("double")
    # lag/lead go below the running counts so that Catalyst merges the
    # two (their double casts are projected beneath their own window)
    r = running_counts(
        counts.select(
            *KEYS, "grey", "ci",
            F.lag(c).over(wg).alias("prev_c"),
            F.lead(c).over(wg).alias("next_c"),
        ),
        KEYS, "grey", "ci",
    )
    prev_c, next_c = F.col("prev_c"), F.col("next_c")
    grad = (
        F.when(prev_c.isNull() & next_c.isNull(), F.lit(None).cast("double"))
        .when(prev_c.isNull(), next_c - c)
        .when(next_c.isNull(), c - prev_c)
        .otherwise((next_c - prev_c) / 2)
    )
    n, gy = F.col("_n"), F.col("grey")
    p = c / n

    def grey_at_least(key: Column) -> Column:
        # the level with the least key, the smallest grey among ties
        return F.min(F.struct(key.alias("k"), gy.alias("g")))["g"]

    # moments with the deterministic value algebra (module docstring):
    # exact integer sums, order-statistic median — no var_pop/percentile
    # lerp drift
    j50 = F.floor((n - 1).cast("double") * F.lit(0.5)).cast("long")
    multi = F.count("*") > 1  # one row per grey level
    agg = r.groupBy(*KEYS).agg(
        (-F.sum(p * F.log2(p))).alias("ih_entropy"),
        (F.sum(ci * ci) / (F.max(n) * F.max(n))).alias("ih_uniformity"),
        grey_at_least(-ci).alias("ih_mode"),
        F.max(grad).alias("ih_max_grad"),
        F.when(multi, grey_at_least(-grad)).alias("ih_max_grad_g"),
        F.min(grad).alias("ih_min_grad"),
        F.when(multi, grey_at_least(grad)).alias("ih_min_grad_g"),
        F.max(n).alias("_n"),
        F.sum(ci * gy).alias("s1"),
        F.sum(ci * (gy * gy)).alias("s2"),
        F.min(gy).alias("ih_min"),
        F.max(gy).alias("ih_max"),
        value_at_rank("grey", j50 + 1).alias("a50"),
        value_at_rank("grey", j50 + 2).alias("b50"),
    )
    mean = F.col("s1") / n
    return agg.select(
        *KEYS,
        mean.alias("ih_mean"),
        F.greatest(F.col("s2") / n - (F.col("s1") / n) * (F.col("s1") / n), F.lit(0.0)).alias("ih_var"),
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
