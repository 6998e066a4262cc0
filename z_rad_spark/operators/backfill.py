"""Backfill / regrid: resample the irregular ts axis onto a regular grid.

The temporal analogue of Z-Rad's ImageResampler
(zrad/preprocessing/interpolation.py:24-146, the full NN / Linear /
BSpline / Gaussian method set): NN == as-of last-observation-carried-
forward; Linear == interpolation between the bracketing turns; cubic ==
Catmull-Rom Hermite through the two bracketing turns per side (the
BSpline-order-3 analogue on an irregular axis); gaussian ==
kernel-weighted mean of all turns within a truncation radius (the
sitkGaussian analogue). Mask resampling's partial-volume threshold
(interpolation.py:149-230) maps to ``eligible_frac >= threshold`` over the
grid step.

Declarative shape: per-conversation grid via sequence()+explode (no
driver-side loops), then the grid points probe ``asof``'s sort-merge
carry (``asof._carry``) for the backward (locf) and forward (nocb)
matches — the same scan, (ts, turn_idx) tie-break and per-column NULL
rule as ``asof_join``: one exchange, two window passes (cubic rides the
SAME two passes: the second-bracketing values are lag/lead columns
precomputed on the turns side and carried beside the value, no extra
shuffle). The gaussian path is scatter-shaped instead: each turn
emits its (bounded) set of covered grid cells, one groupBy(key, cell)
sums the kernel-weighted contributions with map-side combine, and a left
join onto the grid restores empty cells as NULL — no per-cell window over
raw turns, so a 10^12-turn conversation never concentrates in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .asof import _carry
from .exprs import epoch_us


def regular_grid(turns: DataFrame, step_seconds: int, key: str = "conv_id") -> DataFrame:
    """One row per (conv_id, grid_ts): the conversation's span snapped to a
    regular step. sequence() is evaluated JVM-side; explode is a generator,
    not a shuffle."""
    span = turns.groupBy(key).agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    step = F.expr(f"INTERVAL {int(step_seconds)} SECONDS")
    return span.select(
        key,
        F.explode(
            F.sequence(
                F.date_trunc("minute", F.col("t0")),
                F.col("t1"),
                step,
            )
        ).alias("grid_ts"),
    )


def backfill(
    turns: DataFrame,
    step_seconds: int,
    value_col: str = "signal",
    method: str = "nn",
    key: str = "conv_id",
) -> DataFrame:
    """Resampled (conv_id, grid_ts, value) frame.

    method 'nn'     — last observation carried forward (as-of semantics);
    method 'linear' — interpolate between bracketing turns; exact hits and
                      one-sided edges fall back to the available side;
    method 'cubic'  — non-uniform Catmull-Rom (cubic Hermite through the
                      bracketing turns, tangents from the second
                      bracketing turn per side; the BSpline-order-3
                      analogue, interpolation.py:24-54). Missing outer
                      neighbours degrade the tangent to the secant;
                      missing bracketing values fall back like 'linear'.

    The bracketing turns are those of ``asof_join`` backward / forward:
    among turns with a non-NULL value, the greatest (ts, turn_idx) with
    ts <= grid_ts and the smallest with ts >= grid_ts (an exact hit
    brackets itself and returns its own value).
    """
    if method not in ("nn", "linear", "cubic"):
        raise ValueError(f"bad backfill method {method}")
    grid = regular_grid(turns, step_seconds, key)
    # turns with a NULL value carry nothing; dropping them first keeps
    # cubic's lag/lead on the turns the carry matches
    tv = turns.select(
        key, "ts", "turn_idx", F.col(value_col).cast("double").alias("v")
    ).where(F.col("v").isNotNull())
    carried = ["v"]
    if method == "cubic":
        # second bracketing turn per side: the matched turn carries its own
        # lag (backward) / lead (forward) as extra carried columns
        w_t = Window.partitionBy(key).orderBy("ts", "turn_idx")
        ts = F.col("ts").cast("timestamp")
        tv = tv.select(
            "*",
            F.lag("v").over(w_t).alias("pv2"),
            F.lag(ts).over(w_t).alias("pt2"),
            F.lead("v").over(w_t).alias("nv2"),
            F.lead(ts).over(w_t).alias("nt2"),
        )
        carried += ["pv2", "pt2", "nv2", "nt2"]
    m = _carry(tv, grid, carried, key=key, probe_ts="grid_ts")
    if method == "nn":
        return m.select(key, "grid_ts", F.col("_vb_v").alias(value_col))

    def sec(us):
        return us.cast("double") / F.lit(1e6)

    g_us = F.unix_micros(F.col("grid_ts"))
    prev_us, next_us = F.col("_mtb_v"), F.col("_mtf_v")
    dt_us = next_us - prev_us
    v1, v2 = F.col("_vb_v"), F.col("_vf_v")
    if method == "linear":
        frac = (g_us - prev_us) / dt_us
        interp = (
            F.when(v1.isNull(), v2)
            .when(v2.isNull(), v1)
            .when(dt_us == 0, v1)
            .otherwise(v1 + (v2 - v1) * frac)
        )
        return m.select(key, "grid_ts", interp.alias(value_col))
    t0, t1 = sec(F.unix_micros(F.col("_vb_pt2"))), sec(prev_us)
    t2, t3 = sec(next_us), sec(F.unix_micros(F.col("_vf_nt2")))
    tg = sec(g_us)
    v0, v3 = F.col("_vb_pv2"), F.col("_vf_nv2")
    # cubic Hermite on the irregular axis (CASE guards keep the divisions
    # lazy — ANSI mode throws on x/0): finite-difference tangents, secant
    # fallback when the outer neighbour is missing or time-coincident
    h = t2 - t1
    secant = F.when(h != 0, (v2 - v1) / h)
    m1 = F.when(v0.isNotNull() & (t2 - t0 != 0), (v2 - v0) / (t2 - t0)).otherwise(secant)
    m2 = F.when(v3.isNotNull() & (t3 - t1 != 0), (v3 - v1) / (t3 - t1)).otherwise(secant)
    s = F.when(h != 0, (tg - t1) / h)
    s2 = s * s
    s3 = s2 * s
    h00 = 2 * s3 - 3 * s2 + 1
    h10 = s3 - 2 * s2 + s
    h01 = -2 * s3 + 3 * s2
    h11 = s3 - s2
    interp = (
        F.when(v1.isNull(), v2)
        .when(v2.isNull(), v1)
        .when(dt_us == 0, v1)
        .otherwise(h00 * v1 + h10 * h * m1 + h01 * v2 + h11 * h * m2)
    )
    return m.select(key, "grid_ts", interp.alias(value_col))


def backfill_gaussian(
    turns: DataFrame,
    step_seconds: int,
    sigma_seconds: float | None = None,
    radius_seconds: float | None = None,
    value_col: str = "signal",
    key: str = "conv_id",
) -> DataFrame:
    """Gaussian-kernel resampling (the sitkGaussian analogue,
    interpolation.py:24-54): each grid point gets the kernel-weighted
    mean of all turns within ``radius_seconds``, weights
    exp(-0.5 * (dt/sigma)^2). Defaults: sigma = step/2, radius = 3*sigma.

    Scale shape (scatter, not gather): each TURN emits its covered grid
    cells — a bounded explode of ~2*radius/step + 1 cells — and one
    groupBy(key, grid_ts) sums weighted contributions with map-side
    combine; the final left join restores in-span cells with no turn in
    radius as NULL rows. No window over raw turns keyed only by ``key``,
    so giant conversations spread across reducers by (key, cell).
    """
    sigma = float(sigma_seconds if sigma_seconds is not None else step_seconds / 2.0)
    radius = float(radius_seconds if radius_seconds is not None else 3.0 * sigma)
    step_us = int(step_seconds) * 1_000_000
    rad_us = int(radius * 1e6)
    span = turns.groupBy(key).agg(
        F.unix_micros(F.date_trunc("minute", F.min("ts")).cast("timestamp")).alias("_t0u")
    )
    t = turns.join(span, key).select(
        F.col(key),
        epoch_us("ts").alias("_tu"),
        F.col(value_col).cast("double").alias("_v"),
        F.col("_t0u"),
    )
    # candidate cell indices (generous by one cell; the exact integer-us
    # radius predicate below decides membership, so double rounding in
    # the ceil/floor can never change the term set)
    n_lo = F.ceil((F.col("_tu") - rad_us - F.col("_t0u")) / F.lit(float(step_us))).cast("long") - 1
    n_hi = F.floor((F.col("_tu") + rad_us - F.col("_t0u")) / F.lit(float(step_us))).cast("long") + 1
    contrib = (
        t.select(key, "_tu", "_v", "_t0u", F.explode(F.sequence(n_lo, n_hi)).alias("_n"))
        .where(F.col("_n") >= 0)
        .withColumn("_gu", F.col("_t0u") + F.col("_n") * F.lit(step_us))
        .where(F.abs(F.col("_gu") - F.col("_tu")) <= F.lit(rad_us))
    )
    z = ((F.col("_gu") - F.col("_tu")).cast("double") / F.lit(1e6)) / F.lit(sigma)
    w = F.exp(F.lit(-0.5) * z * z)
    agg = (
        contrib.withColumn("_w", w)
        .groupBy(key, "_gu")
        .agg(F.sum(F.col("_w") * F.col("_v")).alias("_wv"), F.sum("_w").alias("_ws"))
    )
    # join back on the integer micro key: regular_grid's grid_ts may be
    # TIMESTAMP_NTZ depending on the source, timestamp_micros always
    # builds TIMESTAMP — the long key sidesteps the tz-type mismatch
    grid = regular_grid(turns, step_seconds, key).withColumn("_gu", epoch_us("grid_ts"))
    out = grid.join(agg, [key, "_gu"], "left")
    val = F.when(F.col("_ws") != 0, F.col("_wv") / F.col("_ws"))
    return out.select(key, "grid_ts", val.alias(value_col))


def backfill_eligible_frac(
    turns: DataFrame,
    step_seconds: int,
    threshold: float = 0.5,
    key: str = "conv_id",
) -> DataFrame:
    """MaskResampler analogue: fraction of eligible turns per grid step,
    thresholded to a boolean (interpolation.py:149-230, default 0.5)."""
    ts_us = epoch_us("ts")
    bucketed = turns.withColumn(
        "grid_ts",
        F.timestamp_micros(
            (ts_us / (step_seconds * 1_000_000)).cast("long") * (step_seconds * 1_000_000)
        ),
    )
    agg = bucketed.groupBy(key, "grid_ts").agg(
        F.avg(F.col("eligible").cast("double")).alias("eligible_frac")
    )
    return agg.withColumn("eligible_bin", (F.col("eligible_frac") >= threshold).cast("boolean"))
