"""Storage-layout utilities: bucketed tables for shuffle-free joins.

At 100 TB the dominant cost of the big fact-to-fact joins (transcripts
to eligibility, turns to conversation features) is the shuffle of the
larger side. Spark's answer is BUCKETING: persist both sides
pre-hash-partitioned on the join key (`bucketBy`), and the sort-merge
join reads each bucket pair co-located — zero Exchange on either side,
at any scale, for every subsequent join on that key. This module wraps
the two details that make it actually work:

* the frame is repartitioned to exactly ``n_buckets`` on the key before
  the write, so every bucket lands in ONE file (Spark's bucket id and
  ``repartition``'s hash partitioner use the same Murmur3 pmod
  mapping); many-files-per-bucket disables the downstream sort
  elision and bloats the scan;
* ``sortBy`` within buckets persists the (key, secondary) order so the
  merge side of the join can skip its Sort when buckets are single
  files.

Bucket counts must MATCH across tables that join together (pick the
cluster-wide constant once — e.g. 2-4x the executor count — and reuse
it; two tables bucketed 512 and 1024 shuffle one side again). The join
itself is a plain ``spark.table(l).join(spark.table(r), key)``: the
layout does the work.

These are external parquet tables (explicit ``path``): the metastore
entry carries only schema + bucketing spec, so the same layout works on
any catalog (Hive metastore, Glue, Unity) a real deployment points at.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    path: str,
    table: str,
    key: str = "conv_id",
    n_buckets: int = 32,
    sort_cols: tuple = (),
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as an external parquet table bucketed on ``key``.

    One file per bucket (see module doc); ``sort_cols`` adds within-
    bucket ordering (put the join key first to enable sort elision).
    """
    writer = (
        df.repartition(n_buckets, key)
        .write.format("parquet")
        .mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, key)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)

