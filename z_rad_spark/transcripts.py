"""The transcripts input table: schema, derivation, and synthesis.

Canonical input schema (BASELINE.json ``input_hint``)::

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Three sources are provided:

* :func:`from_events` — a deterministic, dialect-portable derivation of a
  transcripts table from the driver's ``events`` test table, mirrored in
  SQL by ``__spark_entry__.DUCK_T``, so the Spark engine and the DuckDB
  oracle compute over byte-identical inputs.
* :func:`synth_transcripts` — a seed-deterministic generator with
  Zipf-skewed conversation lengths (exercises salting), irregular ts gaps
  (exercises sessionization), and duplicate-ts ties (exercises the
  ``turn_idx`` tie-break).
* :func:`read_transcripts` — parquet/Iceberg scan of an existing table.

The per-turn scalar signal mirrors Z-Rad's voxel intensity
(reference: zrad/image.py:121-123 casts to float64): the default signal is
the whitespace token count of ``text``, computed JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import memo_plan

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

def from_events(
    spark: SparkSession, events: DataFrame, token_signal: bool = False
) -> DataFrame:
    """Derive the canonical transcripts table from an ``events`` table.

    Pure column expressions + one window: stays inside whole-stage codegen
    except the window exchange, which hash-partitions by user_id — exactly
    the partitioning every downstream per-conversation operator wants.

    ``token_signal=True`` additionally emits ``signal`` as the direct
    token-count arithmetic: the derived text is by construction exactly
    ``n_tokens`` copies of ``event_type`` joined by single spaces, so
    ``with_signal(df, "token_count")``'s ``size(split(text, ' '))`` equals
    ``n_tokens`` — the very expression the DuckDB oracles define signal
    with. Emitting it here lets Catalyst prune the per-turn string
    repeat/trim/split out of every query that needs the signal but never
    the text (measured ~1.3 s per bench sweep at sf0.1).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    n_tokens = (F.lit(1) + F.abs(F.floor(F.col("value")).cast("int")) % 9).cast("int")
    cols = [
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view"), "user")
        .when(F.col("event_type") == "error", "system")
        .when(F.col("event_type") == "purchase", "tool")
        .otherwise("assistant")
        .alias("role"),
        F.trim(F.repeat(F.concat(F.col("event_type"), F.lit(" ")), n_tokens)).alias("text"),
        F.when(F.col("event_type") == "purchase", "checkout")
        .when(F.col("event_type") == "signup", "register")
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        F.col("ts"),
    ]
    if token_signal:
        cols.append(n_tokens.cast("double").alias("signal"))
    return events.select(*cols)


def load_transcripts(
    spark: SparkSession, sf_dir: str, token_signal: bool = False
) -> DataFrame:
    """Load the driver's events parquet and derive transcripts.

    The derived *plan* is memoized per application (session.memo_plan):
    ~40 bench queries each rebuilt this scan+derive chain at ~0.6 s of
    driver py4j time (profiled r6). Reuse is safe: DataFrames are
    immutable and the entry module joins on string keys, never on
    attribute identity. The input is assumed static: rewriting the
    parquet under ``sf_dir`` within one application serves the old plan.
    """
    return memo_plan(
        spark,
        ("transcripts", sf_dir, token_signal),
        lambda: from_events(
            spark, spark.read.parquet(f"{sf_dir}/events.parquet"), token_signal=token_signal
        ),
    )


def read_transcripts(spark: SparkSession, source: str, fmt: str = "parquet") -> DataFrame:
    """Scan an existing transcripts table.

    fmt='iceberg' reads an Iceberg table by name (catalog must be on the
    classpath — the production path; scan benefits: snapshot isolation,
    min/max file pruning for the ``ts <= cutoff`` predicate, and bucket
    partition transforms on conv_id that remove the extractor's exchange).
    fmt='parquet' reads a directory (the sandbox path). Columns are
    validated against the canonical schema.
    """
    if fmt == "iceberg":
        df = spark.read.format("iceberg").load(source)
    elif fmt == "parquet":
        df = spark.read.parquet(source)
    else:
        raise ValueError(f"unknown transcripts format {fmt!r}")
    missing = {f.name for f in TRANSCRIPT_SCHEMA.fields} - set(df.columns)
    if missing:
        raise ValueError(f"transcripts table at {source!r} is missing columns {sorted(missing)}")
    return df


def with_signal(df: DataFrame, signal: str = "token_count") -> DataFrame:
    """Attach the per-turn scalar signal column (JVM-side expression).

    Signals (all computed with built-in functions; no Python in the path):

    * ``token_count`` — whitespace token count of ``text`` (default).
    * ``char_count`` — length of ``text``.
    * ``tool_call`` — 1.0 when the turn invoked a tool else 0.0.
    """
    if signal == "token_count":
        col = F.size(F.split(F.col("text"), " ")).cast("double")
    elif signal == "char_count":
        col = F.length(F.col("text")).cast("double")
    elif signal == "tool_call":
        col = F.col("tool").isNotNull().cast("double")
    else:
        # a raw numeric column already present on the frame
        col = F.col(signal).cast("double")
    return df.withColumn("signal", col)


def synth_transcripts_pdf(
    n_convs: int = 20,
    mean_turns: int = 40,
    seed: int = 7,
    zipf_a: float = 1.6,
    dup_ts_frac: float = 0.05,
    gap_burst_frac: float = 0.15,
) -> pd.DataFrame:
    """Seed-deterministic synthetic transcripts as a pandas frame.

    Zipf-skewed turns-per-conversation (one giant conv exercises salting),
    bursty inter-turn gaps (exercises gap sessionization), and a fraction of
    duplicate timestamps inside a conversation (exercises the (ts, turn_idx)
    stable tie-break).
    """
    rng = np.random.default_rng(seed)
    rows = []
    base = np.datetime64("2024-01-01T00:00:00", "us")
    roles = np.array(["user", "assistant", "system", "tool"])
    tools = np.array(["search", "python", "browser"])
    for c in range(n_convs):
        n = int(min(mean_turns * (1 + rng.zipf(zipf_a)), 5000))
        gaps = rng.exponential(60.0, size=n)
        burst = rng.random(n) < gap_burst_frac
        gaps[burst] += rng.exponential(3600.0, size=int(burst.sum()))
        dup = rng.random(n) < dup_ts_frac
        gaps[dup] = 0.0
        ts = base + np.cumsum((gaps * 1e6).astype("int64")).astype("timedelta64[us]")
        role = roles[rng.integers(0, 4, size=n)]
        tool = np.where(role == "tool", tools[rng.integers(0, 3, size=n)], None)
        n_tok = rng.integers(1, 40, size=n)
        for i in range(n):
            rows.append(
                (
                    f"conv{c:04d}",
                    i,
                    role[i],
                    " ".join(["tok"] * int(n_tok[i])),
                    tool[i],
                    ts[i],
                )
            )
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def synth_transcripts(spark: SparkSession, **kwargs) -> DataFrame:
    return spark.createDataFrame(synth_transcripts_pdf(**kwargs), schema=TRANSCRIPT_SCHEMA)
