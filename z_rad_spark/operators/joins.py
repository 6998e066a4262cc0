"""Entity-level semi/anti join filters.

The reference keeps/drops whole patients based on ROI presence
(zrad/gui/_base_tab.py:93-121: instance lists are filtered to those with
the named structure before extraction). The transcript analogue: keep (or
drop) every turn of conversations that have at least one turn satisfying
an eligibility predicate — "features only for conversations that used a
tool" / "only conversations that never errored".

Scale shape: the eligible-key set is one distinct over the predicate
rows (map-side combine collapses it before the shuffle), and the
semi/anti join shuffles on ``conv_id`` — the engine's canonical key, so
plans that chain this with extraction or as-of joins reuse the exchange.
When the eligible set is small Spark's AQE converts the exchange to a
broadcast join at runtime; ``left_semi``/``left_anti`` never materialize
right-side columns, so no row widening either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from .exprs import epoch_us


def filter_conversations(
    df: DataFrame,
    predicate: Column,
    mode: str = "semi",
    key: str = "conv_id",
) -> DataFrame:
    """Keep rows of entities with (semi) / without (anti) >= 1 row
    matching ``predicate``."""
    if mode not in ("semi", "anti"):
        raise ValueError(f"mode must be semi|anti, got {mode!r}")
    keys = df.where(predicate).select(key).distinct()
    return df.join(keys, key, "left_semi" if mode == "semi" else "left_anti")


def semi_eligible(df: DataFrame, predicate: Column, key: str = "conv_id") -> DataFrame:
    """Rows of conversations that HAVE an eligible turn (left_semi)."""
    return filter_conversations(df, predicate, "semi", key)


def anti_eligible(df: DataFrame, predicate: Column, key: str = "conv_id") -> DataFrame:
    """Rows of conversations with NO eligible turn (left_anti)."""
    return filter_conversations(df, predicate, "anti", key)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    keys: tuple[str, ...] = ("conv_id",),
    bucket_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval (range) join — the operator Spark lacks natively
    (a bare ``ts BETWEEN start AND end`` predicate plans as a broadcast
    nested loop or a cartesian product).

    Scale path: each interval is exploded to the time buckets it covers
    (``floor(ts / bucket)``), each point carries its single bucket, and
    the join becomes an EQUI-join on ``(*keys, bucket)`` refined by the
    exact range predicate — one hash exchange, no nested loop. A point
    lives in exactly one bucket, so no post-join dedup is needed.

    Cost model: the interval side is amplified by ``ceil(span/bucket)``
    rows; pick ``bucket_seconds`` near the median interval length so the
    amplification is O(1) per interval while point buckets stay selective.

    Emits one row per (point, covering interval); points covered by no
    interval are recoverable with an anti-join against the result keys.
    """
    from pyspark.sql import functions as F

    if how != "inner":
        raise ValueError(f"only how='inner' is supported, got {how!r}")
    b_us = int(bucket_seconds) * 1_000_000
    s = epoch_us(start_col)
    e = epoch_us(end_col)
    ivals = intervals.withColumn(
        "_bk", F.explode(F.sequence(F.floor(s / b_us), F.floor(e / b_us)))
    ).alias("i")
    pts = points.withColumn("_bk", F.floor(epoch_us(point_ts) / b_us)).alias("p")
    p_ts = epoch_us(f"p.{point_ts}")
    joined = pts.join(
        ivals,
        [F.col(f"p.{k}") == F.col(f"i.{k}") for k in keys]
        + [F.col("p._bk") == F.col("i._bk")],
        "inner",
    ).where((p_ts >= epoch_us(f"i.{start_col}")) & (p_ts <= epoch_us(f"i.{end_col}")))
    ival_cols = [c for c in intervals.columns if c not in keys]
    return joined.select(
        *[F.col(f"p.{c}") for c in points.columns],
        *[F.col(f"i.{c}") for c in ival_cols],
    )
