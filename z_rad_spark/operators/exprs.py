"""Shared column-expression helpers with cross-engine parity contracts.

Centralizing these matters beyond tidiness: the DuckDB oracles replay
each helper's exact element-pick / fold convention, so a drift between
two copies would silently fork the engine's determinism contract.
``literal_rows`` / ``literal_frame`` are the one way the operators build
small constant data (cutoff grids, query tokens, k / budget lists).

The input conventions every operator reads its raw columns through are
spelled here once, each beside the oracle fragment that replays it
(``oracle_sql_defs``):

* :func:`words` — whitespace word tokens of the lowercased, trimmed
  text; ``TOKS_RAW`` (``string_split_regex(lower(trim(text)), '\\s+')``).
* :func:`normalize_text` / :func:`norm_words` — whitespace-collapsed,
  lowercased text and its single-space tokens; ``NORM_DOC`` / ``TOKS_DOC``.
* :func:`epoch_us` — a timestamp as exact integer epoch microseconds;
  DuckDB's ``epoch_us(ts)``.
* :func:`mix31` / :func:`mix31_np` — the square-mod 31-bit mixing hash;
  ``(((x * x + x) % 2147483647) * 48271) % 2147483647``.

Every exact order statistic is one rank pick over a compacted
``(keys, value) -> count`` histogram: :func:`running_counts` adds the
running count and the group total over one value-ordered window, and
:func:`value_at_rank` picks the smallest value whose running count
reaches the rank; ``MIN(CASE WHEN cum >= r THEN value END)`` over
``SUM(c) OVER (PARTITION BY keys ORDER BY value ROWS BETWEEN UNBOUNDED
PRECEDING AND CURRENT ROW) AS cum``. Each caller keeps its own rank
rule (``ceil(q n)``, ``floor((n - 1) q) + 1``, ``n p`` as a double, ...).
"""

from __future__ import annotations

import numbers
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType, DoubleType


MIX31_P = 2147483647  # 2^31 - 1, the mixing hash's prime modulus
MIX31_A = 48271  # its multiplier (the minimal-standard LCG's)


def words(text: Column) -> Column:
    """Whitespace word tokens of the lowercased, trimmed text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def normalize_text(text: Column) -> Column:
    """Lowercase + collapse whitespace (portable: lower/trim/regexp)."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def norm_words(text: Column) -> Column:
    """Single-space tokens of :func:`normalize_text`."""
    return F.split(normalize_text(text), " ")


def epoch_us(name: str) -> Column:
    """Column ``name`` cast to timestamp, as exact epoch microseconds."""
    return F.unix_micros(F.col(name).cast("timestamp"))


def mix31(lin: Column) -> Column:
    """Square-mod mixing hash of a long: ``x = lin mod P``, then
    ``((x*x + x) mod P) * A mod P`` with ``P = 2^31 - 1`` and ``A =
    48271``. Every intermediate is below 2^62, exact signed-64 in Spark,
    NumPy and DuckDB; the square decorrelates inputs that a plain LCG
    leaves striding."""
    p = F.lit(MIX31_P)
    x = F.pmod(lin, p)
    return F.pmod(F.pmod(x * x + x, p) * F.lit(MIX31_A), p)


def mix31_np(lin):
    """:func:`mix31` over an int64 array (or a Python int): the streaming
    sketches' side of the same hash contract."""
    x = lin % MIX31_P
    return ((x * x + x) % MIX31_P * MIX31_A) % MIX31_P


def _sql_literal(v, sql_type: str) -> str:
    if v is None:
        text = "NULL"
    elif isinstance(v, bool):
        text = "TRUE" if v else "FALSE"
    elif isinstance(v, numbers.Integral):
        text = str(int(v))  # out-of-range values fail the cast
    elif isinstance(v, numbers.Real):
        text = f"'{float(v)!r}'"  # repr round-trips exactly; 'nan' / 'inf' cast too
    elif isinstance(v, str):
        # UTF-8 bytes as a binary literal: no quoting or escape rules to
        # get wrong, whatever the parser's string-literal settings; then
        # the field type's string cast (a timestamp field parses as
        # to_timestamp does)
        text = f"CAST(X'{v.encode().hex()}' AS STRING)"
    else:
        raise TypeError(f"literal_rows: unsupported value {v!r}")
    return f"CAST({text} AS {sql_type})"


def literal_rows(rows: Iterable[tuple], schema: str) -> Column:
    """``rows`` as ONE constant ``array<struct<schema>>`` column, parsed
    from SQL text in a single call (a Column-API literal costs several
    py4j round-trips per value). ``schema`` is a DDL string
    (``"k long, q string"``); values are None, bool, numbers or str,
    each cast to its field's type; every field is nullable, as from
    ``createDataFrame``. Catalyst folds the expression to one literal."""
    fields = DataType.fromDDL(schema).fields
    types = [f.dataType.simpleString() for f in fields]
    structs = [
        "struct(" + ", ".join(_sql_literal(v, t) for v, t in zip(r, types)) + ")" for r in rows
    ]
    elem = ", ".join("`" + f.name.replace("`", "``") + "`:" + t for f, t in zip(fields, types))
    return F.expr(f"CAST(array({', '.join(structs)}) AS array<struct<{elem}>>)")


def literal_frame(spark: SparkSession, rows: Iterable[tuple], schema: str) -> DataFrame:
    """A small constant frame: ``inline`` of :func:`literal_rows` on a
    single-partition ``range(1)``.

    ``spark.createDataFrame`` of a Python list plans as ``Scan
    ExistingRDD`` over a pickled RDD: every job that reads it starts
    Python workers to unpickle a handful of rows, whatever the session's
    Arrow setting. Here the rows live in the plan itself, so the frame
    is a ``Generate`` that runs in the JVM alone, with the same schema
    as ``createDataFrame(rows, schema)``; no rows gives an empty frame.
    Meant for tiny dimensions that are broadcast-joined — the literals
    are part of every plan that reads the frame."""
    return spark.range(1, numPartitions=1).select(F.inline(literal_rows(rows, schema)))


def sorted_median(arr):
    """Median of an ALREADY-SORTED array column: odd length takes the
    middle element, even length the midpoint of the two middles
    ((a + b) / 2.0 — two single IEEE ops). The engine-wide median
    convention; the oracles mirror it with 1-based list picks
    (oracle_sql_defs._TS_MED)."""
    m = F.size(arr)
    mid = F.floor(m / 2).cast("int")
    return F.when(m % 2 == 1, F.get(arr, mid)).otherwise(
        (F.get(arr, mid - 1) + F.get(arr, mid)) / F.lit(2.0)
    )


def sorted_median_sql(arr: str) -> str:
    """:func:`sorted_median` as SQL text over the array expression
    ``arr`` — the same expression tree, for SQL-built plans."""
    m = f"size({arr})"
    mid = f"CAST(FLOOR({m} / 2) AS INT)"
    return (
        f"CASE WHEN {m} % 2 = 1 THEN get({arr}, {mid}) "
        f"ELSE (get({arr}, {mid} - 1) + get({arr}, {mid})) / 2.0D END"
    )


def chain(terms):
    """Left fold ``((t0 + t1) + t2) + ...`` of Columns: the fixed
    left-to-right summation order the oracles replay."""
    acc = None
    for t in terms:
        acc = t if acc is None else acc + t
    return acc


def chain_sql(terms) -> str:
    """:func:`chain` as SQL text: ``((t0 + t1) + t2) + ...`` over the
    SQL expressions ``terms`` — the same parenthesization, for
    SQL-built plans."""
    acc = None
    for t in terms:
        acc = t if acc is None else f"({acc} + {t})"
    return acc


def ordered_sums(order, **terms: Column) -> list[Column]:
    """The engine's one ordered float reduction over a group: aggregate
    expressions, one per keyword, each the left fold ``((0.0 + t_1) +
    t_2) + ...`` of its per-row term over the group's rows in ascending
    ``order``, aliased to its keyword.

    Float addition is not associative, so a plain ``F.sum`` depends on
    how rows meet across partitions and tasks. Here each group collects
    one ``struct(*order, *terms)`` per row, sorts it and folds it left,
    so the result is one fixed chain of IEEE additions whatever the
    partitioning — the DuckDB oracles replay it bit for bit as a
    ``list_reduce`` over ``list(term ORDER BY order)``. The terms share
    one collected array: Catalyst plans a single ``collect_list`` for
    every fold of one call.

    ``order`` is a list of column names or Columns and must be unique
    within the group (as a groupBy key is); where it is not, ties break
    on the following fields in struct order, terms last. Each term is
    a Column computed per row before the collect, so it may read only
    that row's columns, not an aggregate of the group; and it runs on
    every row, whatever gates the caller puts on the result, so it must
    not fail (say, divide by zero under ANSI) on a row whose sum is
    discarded."""
    arr = F.sort_array(
        F.collect_list(F.struct(*order, *(t.alias(n) for n, t in terms.items())))
    )

    def fold(name):
        return F.aggregate(arr, F.lit(0.0), lambda a, e: a + e[name]).alias(name)

    return [fold(n) for n in terms]


def running_counts(hist: DataFrame, keys, value: str, count: str) -> DataFrame:
    """``hist`` plus ``_cum``, the running sum of ``count`` in ascending
    ``value`` order (ROWS frame, so ties in ``value`` still step), and
    ``_n``, the group total, both over ONE ``partitionBy(*keys)
    .orderBy(value)`` spec: Spark plans the two frames, and any further
    column a caller adds over the same spec, as one Window operator.
    ``keys=[]`` is the corpus-wide case (one task)."""
    w = Window.partitionBy(*keys).orderBy(value)
    return hist.select(
        "*",
        F.sum(count).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_cum"),
        F.sum(count)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_n"),
    )


def value_at_rank(value: str, rank: Column) -> Column:
    """The aggregate ``min(when(_cum >= rank, value))`` over a
    :func:`running_counts` frame: the smallest value whose running count
    reaches the 1-based ``rank``, NULL when ``rank`` exceeds the total.
    With counts >= 1 the running count rises strictly in value order, so
    this is the row with ``_cum - count < rank <= _cum``."""
    return F.min(F.when(F.col("_cum") >= rank, F.col(value)))


@pandas_udf(DoubleType())  # a type object: no DDL parse, so no session at import
def np_log(x):
    """Natural log through NumPy (glibc ``log``, the oracles' ``ln``)
    over one Arrow batch."""
    return pd.Series(np.log(x.to_numpy()))
